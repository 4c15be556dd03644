package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.operators.Lifecycle
import graft.queries.Probes
import graft.sources.MergeSink
import graft.weather.{Dashboard, Ingest, Store}

/** One workload: a set-up, a warm-up and a sequence of ops. Op `i` is a
  * pure function of the generated inputs and `i`. */
abstract class Workload(spark: SparkSession) {
  var tracer: Tracer = new Tracer(spark, enabled = false)
  def setup(): Unit
  def warmup(): Unit
  def label(i: Int): String
  def run(i: Int): Main.Done
  /** Untimed housekeeping the program asks for at op boundaries. */
  def beforeOp(): Unit = ()
  /** Ops in one pass; a timed phase measures whole passes. */
  def passLength: Int
  def report(g: JsonGenerator): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, m: JsonNode, store: String): Workload = name match {
    case "pipeline" => new PipelineWl(spark, m, store)
    case "probe-loop" => new ProbeWl(spark, m)
    case other => sys.error(s"unknown workload $other")
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  def opt(n: JsonNode): Option[String] =
    Option(n).filterNot(_.isNull).map(_.asText)
}

/** The store every weather workload reads and writes, behind the
  * program's own sinks; traced phases wrap them in [[TracedSink]].
  * `*Path` are local paths for the benchmark's own file accounting; the
  * program is given them as fully qualified `file:` URIs, the form a
  * deployment passes for its filesystem. With a bare path `FsUtil.hasData`
  * reports an existing table as empty whenever a directory above it starts
  * with `.` or `_` (see README.md), and where the benchmark is checked out
  * is not the benchmark's to choose. */
final class WeatherStore(spark: SparkSession, root: String) {
  val citiesPath = s"$root/cities"
  val factPath = s"$root/current_weather"
  val forecastPath = s"$root/forecast_weather"
  private def uri(p: String): String = "file:" + new java.io.File(p).getAbsolutePath
  private var wrapped: Option[(Tracer, Seq[TracedSink])] = None

  /** (cities, current fact, forecast fact) sinks for `t`. */
  def sinks(t: Tracer): (MergeSink, MergeSink, MergeSink) = {
    val plain = (Store.ParquetSnapshotSink(uri(citiesPath)), Store.ParquetDateSink(uri(factPath)),
      Store.ParquetDateSink(uri(forecastPath)))
    if (!t.enabled) plain
    else {
      val ws = wrapped.filter(_._1 eq t).map(_._2).getOrElse {
        val s = Seq(new TracedSink(plain._1, "dim", citiesPath, t),
          new TracedSink(plain._2, "fact", factPath, t),
          new TracedSink(plain._3, "fact", forecastPath, t))
        wrapped = Some((t, s))
        s
      }
      (ws(0), ws(1), ws(2))
    }
  }

  def traced: Seq[TracedSink] = wrapped.map(_._2).getOrElse(Nil)

  def ingestHistory(dir: String): Ingest.IngestResult =
    Ingest.run(spark, Ingest.FileSource(dir), uri(citiesPath), uri(factPath))

  def tableFiles: Long = Fs.files(factPath).size.toLong

  def report(g: JsonGenerator): Unit = {
    g.writeStringField("cities_path", citiesPath)
    g.writeStringField("fact_path", factPath)
    g.writeStringField("forecast_path", forecastPath)
    g.writeNumberField("stored_bytes", Fs.bytes(citiesPath) + Fs.bytes(factPath) + Fs.bytes(forecastPath))
    g.writeNumberField("table_files", tableFiles)
  }
}

/** The weather pipeline: hourly ingest batches through the production
  * entry points (one writer, as the date-partitioned sink requires)
  * interleaved with Q1-Q6 dashboard widget queries that read the live
  * store. Set-up ingests a multi-week history. Ops continue one fixed
  * sequence across phases, so the store only moves forward. A pass is
  * one full cycle of batch kinds. */
final class PipelineWl(spark: SparkSession, m: JsonNode, root: String) extends Workload(spark) {
  val store = new WeatherStore(spark, root)
  private val ops = m.get("ops")
  private val batches = m.get("batches")
  private val warm = m.get("warmup_ops").asInt
  private val pass = m.get("pass").asInt // ops per full batch cycle
  private var next = 0 // position in the op sequence
  var payloadBytes = 0L

  def setup(): Unit = { store.ingestHistory(m.get("history_dir").asText); next = 0 }
  def warmup(): Unit = (0 until warm).foreach(run)

  def passLength: Int = pass

  def label(i: Int): String = {
    val o = ops.get(next)
    if (o.get("kind").asText == "batch") batches.get(o.get("batch").asInt).get("kind").asText
    else o.get("widget").asText
  }

  def run(i: Int): Main.Done = {
    require(next < ops.size, s"generated ops exhausted after $next")
    val seq = next
    val lbl = label(i)
    val o = ops.get(seq)
    next += 1
    if (o.get("kind").asText == "batch") ingest(seq, lbl, batches.get(o.get("batch").asInt))
    else widget(seq, o)
  }

  private def ingest(seq: Int, kind: String, b: JsonNode): Main.Done = {
    val (citiesSink, factSink, forecastSink) = store.sinks(tracer)
    val src = Ingest.FileSource(b.get("dir").asText)
    val r = tracer.span(s"weather.Ingest.$kind") {
      if (kind == "forecast") Ingest.runForecastWith(spark, src, citiesSink, forecastSink)
      else Ingest.runCurrent(spark, src, citiesSink, factSink)
    }
    payloadBytes += b.get("bytes").asLong
    Main.Done(kind, s"""{"ok":${r.okCount},"bad":${r.badCount}}""", 1L, seq)
  }

  private def widget(seq: Int, s: JsonNode): Main.Done = {
    val (citiesSink, factSink, _) = store.sinks(tracer)
    val fact = factSink.read(spark)
    val cities = citiesSink.read(spark)
    val named = fact.join(broadcast(cities.select("city_id", "city_name")), "city_id")
    val f = Dashboard.withFilters(named, Workload.opt(s.get("city")),
      Workload.opt(s.get("from")), Workload.opt(s.get("to"))).drop("city_name")
    val widget = s.get("widget").asText
    val df: DataFrame = widget match {
      case "latest_per_city" => Dashboard.latestPerCity(f)
      case "scorecards" => Dashboard.scorecards(f)
      case "temperature_by_hour" => Dashboard.temperatureByHour(f)
      case "city_map" => Dashboard.cityMap(f, cities)
      case "temperature_scale" => Dashboard.temperatureScale(f)
    }
    val (res, rows) = tracer.span(s"weather.Dashboard.$widget")(Results.canonical(df))
    Main.Done(widget, res, rows, seq)
  }

  override def report(g: JsonGenerator): Unit = {
    store.report(g)
    g.writeNumberField("ops_done", next)
  }
}

/** Probe passes: each pass runs every probe of the family once, in the
  * order the seed fixed for that pass. Op boundaries follow the release
  * discipline of the engine's own bench (deferred caches released, SQL
  * cache cleared), outside the op's timer. */
final class ProbeWl(spark: SparkSession, m: JsonNode) extends Workload(spark) {
  private val corpus = m.get("corpus_dir").asText
  private val order = m.get("order") // one permutation of probe names per pass
  private val perPass = order.get(0).size
  private val bodies = Probes.all.map(p => p.name -> p.run).toMap
  private val warm = Workload.strings(m.get("warmup"))

  def setup(): Unit = ()
  def warmup(): Unit = warm.foreach { n => beforeOp(); bodies(n)(spark, corpus).collect() }

  def label(i: Int): String = order.get((i / perPass) % order.size).get(i % perPass).asText

  override def beforeOp(): Unit = {
    Lifecycle.releaseDeferred(spark)
    spark.catalog.clearCache()
  }

  def passLength: Int = perPass

  def run(i: Int): Main.Done = {
    val n = label(i)
    val (res, rows) = tracer.span(s"queries.$n")(Results.canonical(bodies(n)(spark, corpus)))
    Main.Done(n, res, rows, i)
  }
}
