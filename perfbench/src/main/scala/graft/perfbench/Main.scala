package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.operators.Lifecycle

/** The benchmark's JVM side: runs one workload against inputs the Python
  * entry generated into a work directory, and writes what it measured and
  * every op's result to `<work>/out.json` for the entry to check.
  *
  * {{{
  * Main <work> <workload> <passes> <trace 0|1> <cpus>
  * }}}
  *
  * A timed phase runs `passes` whole passes of the workload, so every run
  * measures the same mix of ops. An untraced run measures one timed phase.
  * A traced run measures an untraced, a traced and a second untraced phase
  * on the same session; the traced phase's cost over the untraced ones is
  * the tracing overhead.
  */
object Main {

  final case class OpRec(label: String, ns: Long, error: Option[String], result: Int, seq: Int)

  /** What one op did: its label, the value the correctness check reads,
    * the number of rows the caller received, and its place in the
    * workload's op sequence. */
  final case class Done(label: String, result: String, rows: Long, seq: Int)

  def main(argv: Array[String]): Unit = {
    val Array(work, workload, passesS, traceS, cpus) = argv
    val passes = passesS.toInt
    val traced = traceS == "1"
    val manifest = new ObjectMapper().readTree(new java.io.File(s"$work/manifest.json"))
    val heap = new HeapWatch
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up: JVM start (what a cron-invoked IngestMain pays), session,
    // initial store, warm-up
    val spark = GraftSession.builder(s"perfbench-$workload")
      .config("spark.master", s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.scratch.dir", s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wl = Workload(workload, spark, manifest, s"$work/store")
    log("session ready")
    wl.setup()
    log("store ready")
    wl.warmup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log(f"set-up: $setupS%.2f s")

    // a traced run brackets its traced phase between two untraced ones,
    // so JVM warm-up over the run does not pass for tracing overhead
    val untraced = measure(spark, wl, new Tracer(spark, enabled = false), passes, heap)
    val tracedPhase =
      if (traced) {
        val t = new Tracer(spark, enabled = true)
        t.install()
        Some((measure(spark, wl, t, passes, heap), t))
      } else None
    val untracedAfter =
      if (traced) Some(measure(spark, wl, new Tracer(spark, enabled = false), passes, heap))
      else None

    // leak counters at workload end, after the release path the program
    // documents for query boundaries
    Lifecycle.releaseDeferred(spark)
    val leaks = Map(
      "operators.Lifecycle.cache_entries_end" ->
        org.apache.spark.sql.PerfbenchBridge.cachedEntries(spark).toDouble,
      "operators.Lifecycle.scratch_bytes_end" -> Fs.allBytes(s"$work/scratch").toDouble,
      "spark.storage_used_end_mb" -> storageUsedMb(spark))

    val out = JsonOut { g =>
      g.writeStartObject()
      g.writeNumberField("setup_s", setupS)
      g.writeNumberField("cpus", cpus.toInt)
      g.writeFieldName("untraced"); untraced.write(g)
      untracedAfter.foreach { p => g.writeFieldName("untraced_after"); p.write(g) }
      tracedPhase.foreach { case (p, t) =>
        g.writeFieldName("traced"); p.write(g)
        g.writeObjectFieldStart("layers")
        Layers(wl, p, t, leaks).foreach { case (k, v) => g.writeNumberField(k, v) }
        g.writeEndObject()
      }
      g.writeArrayFieldStart("results"); Results.all.foreach(g.writeRawValue); g.writeEndArray()
      g.writeObjectFieldStart("workload"); wl.report(g); g.writeEndObject()
      g.writeEndObject()
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/out.json"), out)
    spark.stop()
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f s  $msg")

  private def storageUsedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  /** One timed phase: ops back to back from one client thread. */
  final class Phase(val ops: Seq[OpRec], val wallS: Double, val heapPeakMb: Double,
                    val done: Seq[Done], val substrate: Seq[(Long, Long, Long, Long)]) {
    def write(g: JsonGenerator): Unit = {
      g.writeStartObject()
      g.writeNumberField("wall_s", wallS)
      g.writeNumberField("heap_peak_mb", heapPeakMb)
      g.writeArrayFieldStart("ops")
      ops.foreach { o =>
        g.writeStartObject()
        g.writeStringField("label", o.label); g.writeNumberField("ms", o.ns / 1e6)
        g.writeNumberField("result", o.result); g.writeNumberField("seq", o.seq)
        o.error.foreach(g.writeStringField("error", _))
        g.writeEndObject()
      }
      g.writeEndArray()
      g.writeEndObject()
    }
  }

  def measure(spark: SparkSession, wl: Workload, t: Tracer, passes: Int,
              heap: HeapWatch): Phase = {
    wl.tracer = t
    System.gc()
    heap.reset()
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val done = mutable.ArrayBuffer.empty[Done]
    val substrate = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val t0 = System.nanoTime()
    var i = 0
    while (i < passes * wl.passLength) {
      wl.beforeOp()
      if (t.enabled) Lifecycle.substrateStatsSnapshot()
      val label = wl.label(i)
      val s = System.nanoTime()
      val (result, err) =
        try (Some(t.op(label)(wl.run(i))), None)
        catch { case e: Throwable => (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))) }
      val ns = System.nanoTime() - s
      if (t.enabled) substrate += Lifecycle.substrateStatsSnapshot()
      t.settle()
      ops += OpRec(label, ns, err, result.map(d => Results.id(d.result)).getOrElse(-1),
        result.map(_.seq).getOrElse(-1))
      done ++= result
      i += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    log(f"${if (t.enabled) "traced" else "untraced"} phase: ${ops.size} ops in $wall%.2f s")
    new Phase(ops.toSeq, wall, heap.peakMb, done.toSeq, substrate.toSeq)
  }
}

/** Distinct op results, so repeated identical answers are written once. */
object Results {
  private val ids = mutable.LinkedHashMap.empty[String, Int]
  def id(r: String): Int = ids.getOrElseUpdate(r, ids.size)
  def all: Seq[String] = ids.keys.toSeq

  /** Rows in the canonical form the checker compares: columns sorted by
    * name, each with a type class, cells as exact JSON values (timestamps
    * as epoch microseconds, decimals as strings). */
  def canonical(df: DataFrame): (String, Long) = {
    val rows = df.collect()
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val out = JsonOut { g =>
      g.writeStartObject()
      g.writeArrayFieldStart("cols"); fields.foreach(f => g.writeString(f._1.name)); g.writeEndArray()
      g.writeArrayFieldStart("types")
      fields.foreach(f => g.writeString(typeClass(f._1.dataType)))
      g.writeEndArray()
      g.writeArrayFieldStart("rows")
      rows.foreach { r =>
        g.writeStartArray(); fields.foreach { case (f, j) => cell(g, r, j, f.dataType) }; g.writeEndArray()
      }
      g.writeEndArray()
      g.writeEndObject()
    }
    (out, rows.length.toLong)
  }

  def typeClass(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case FloatType | DoubleType => "double"
    case StringType => "string"
    case _: DecimalType => "decimal"
    case TimestampType | TimestampNTZType => "timestamp"
    case DateType => "date"
    case BooleanType => "bool"
    case other => other.simpleString
  }

  private def cell(g: JsonGenerator, r: Row, j: Int, t: DataType): Unit =
    if (r.isNullAt(j)) g.writeNull()
    else t match {
      case ByteType | ShortType | IntegerType | LongType =>
        g.writeNumber(r.get(j).asInstanceOf[Number].longValue)
      case FloatType | DoubleType =>
        val d = r.get(j).asInstanceOf[Number].doubleValue
        if (d.isNaN || d.isInfinite) g.writeString(d.toString) else g.writeNumber(d)
      case BooleanType => g.writeBoolean(r.getBoolean(j))
      case _: DecimalType => g.writeString(r.getDecimal(j).toPlainString)
      case TimestampType => g.writeNumber(micros(r.getTimestamp(j)))
      case TimestampNTZType =>
        val l = r.getAs[java.time.LocalDateTime](j)
        g.writeNumber(l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000)
      case DateType => g.writeString(r.getDate(j).toString)
      case _ => g.writeString(r.get(j).toString)
    }

  private def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
}

/** Peak old-generation occupancy after GC, from the JVM's GC notifications. */
final class HeapWatch {
  @volatile private var peak = 0L
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, h: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (name, u) if name.contains("Old") || name.contains("Tenured") => u.getUsed
        }.sum
        if (old > peak) peak = old
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
}

/** JSON text written through Jackson's streaming generator. */
object JsonOut {
  private val factory = new JsonFactory
  def apply(body: JsonGenerator => Unit): String = {
    val w = new java.io.StringWriter
    val g = factory.createGenerator(w)
    body(g)
    g.close()
    w.toString
  }
}

/** Writes the DuckDB oracle SQL of the named probes, as the engine
  * publishes it (`SparkEntry.oracleSql`), to a JSON file. */
object DumpOracle {
  def main(argv: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val out = JsonOut { g =>
      g.writeStartObject(); argv.drop(1).foreach(n => g.writeStringField(n, sql(n))); g.writeEndObject()
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(argv(0)), out)
  }
}
