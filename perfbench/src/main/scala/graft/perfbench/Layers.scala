package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of one traced phase: spark.* and Lifecycle figures
  * per op, Ingest and Store-merge figures per ingest batch, Dashboard
  * figures per widget query, probe figures per execution of the probe.
  * Every metric is always present; a layer the workload bypasses reads 0,
  * which is how the traced run confirms the bypass. */
object Layers {
  val Widgets = Seq("latest_per_city", "scorecards", "temperature_by_hour", "city_map",
    "temperature_scale")

  def apply(wl: Workload, p: Main.Phase, t: Tracer,
            leaks: Map[String, Double]): Seq[(String, Double)] = {
    val n = math.max(1, p.ops.size).toDouble
    val nIngest = math.max(1, p.ops.count(o => o.label == "current" || o.label == "forecast")).toDouble
    val spans = t.spans
    val byParent = spans.groupBy(_.parent)
    val opSpans = spans.filter(s => s.id > 0 && s.op == s.id)
    val jobsOfOp = spans.filter(_.name == "spark.job").groupBy(_.op)
    def named(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def ms(ns: Double) = ns / 1e6
    def meanMs(xs: Seq[Span]) = if (xs.isEmpty) 0.0 else ms(xs.map(_.durNs).sum.toDouble / xs.size)
    def perIngestMs(xs: Seq[Span]) = ms(xs.map(_.durNs).sum / nIngest)

    // counters per op, then summed over all ops and over widget ops
    val perOp = mutable.Map.empty[Long, Counters]
    t.counters.asScala.foreach { case (span, k) =>
      perOp.getOrElseUpdate(t.opOf.getOrDefault(span, span), new Counters).add(k)
    }
    val c = new Counters
    perOp.values.foreach(c.add)
    val dash = new Counters
    opSpans.filter(o => Widgets.contains(o.name)).foreach(o => perOp.get(o.id).foreach(dash.add))
    val nonJobNs = opSpans.map(o => Span.selfNs(o, jobsOfOp.getOrElse(o.id, Nil))).sum
    val parseFlattenNs = named("weather.Ingest.").map { s =>
      Span.selfNs(s, byParent.getOrElse(s.id, Nil).filter(_.name.startsWith("weather.Store.")))
    }.sum
    val (sinks, payloadBytes, tableFiles) = wl match {
      case w: PipelineWl => (w.store.traced, w.payloadBytes, w.store.tableFiles)
      case _ => (Nil, 0L, 0L)
    }
    val rowsReturned = p.done.filter(d => Widgets.contains(d.label)).map(_.rows).sum
    val sub = p.substrate
    def subSum(f: ((Long, Long, Long, Long)) => Long) = sub.map(f).sum / n

    val out = mutable.ArrayBuffer[(String, Double)](
      "spark.catalyst.analysis_ms" -> c.analysisMs / n,
      "spark.catalyst.optimization_ms" -> c.optimizationMs / n,
      "spark.catalyst.planning_ms" -> c.planningMs / n,
      "spark.sched.jobs" -> c.jobs / n,
      "spark.sched.tasks" -> c.tasks / n,
      "spark.sched.launch_wait_ms" -> c.launchWaitMs / n,
      "spark.sched.task_run_ms" -> c.runMs / n,
      "spark.sched.task_cpu_ms" -> c.cpuMs / n,
      "spark.driver_nonjob_ms" -> ms(nonJobNs / n),
      "spark.exchanges" -> c.exchanges / n,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> c.shuffleRead / n,
      "spark.spill_bytes" -> c.spill / n,
      "spark.gc_ms" -> c.gcMs / n,
      "spark.task_failed" -> c.taskFailed.toDouble,
      "spark.stage_retried" -> c.stageRetries.toDouble,
      "spark.blocks_evicted" -> c.blocksEvicted.toDouble,
      "weather.spans" -> named("weather.").size.toDouble,
      "weather.Ingest.parse_flatten_ms" -> ms(parseFlattenNs / nIngest),
      "weather.Store.merge_fact_ms" -> perIngestMs(named("weather.Store.merge_fact")),
      "weather.Store.merge_dim_ms" -> perIngestMs(named("weather.Store.merge_dim")),
      "weather.Store.read_ms" -> ms(named("weather.Store.read").map(_.durNs).sum / n),
      "weather.Store.bytes_written_per_payload_byte" ->
        (if (payloadBytes == 0) 0.0 else sinks.map(_.bytesWritten).sum.toDouble / payloadBytes),
      "weather.Store.files_written" -> sinks.map(_.filesWritten).sum / nIngest,
      "weather.Store.table_files" -> tableFiles.toDouble
    )
    Widgets.foreach(w => out += s"weather.Dashboard.${w}_ms" -> meanMs(named(s"weather.Dashboard.$w")))
    // predicted bypasses, read off the span tree: widget queries make no
    // Store merge and no Lifecycle round
    val widgetOps = opSpans.filter(o => Widgets.contains(o.name)).map(_.id).toSet
    val widgetIdx = p.ops.indices.filter(i => Widgets.contains(p.ops(i).label))
    out ++= Seq(
      "weather.Dashboard.files_read_ratio" ->
        (if (dash.scanFilesTotal == 0) 0.0 else dash.scanFiles.toDouble / dash.scanFilesTotal),
      "weather.Dashboard.rows_scanned_per_row_returned" ->
        (if (rowsReturned == 0) 0.0 else dash.scanRows.toDouble / rowsReturned),
      "weather.Dashboard.store_merges" ->
        named("weather.Store.merge").count(s => widgetOps.contains(s.op)).toDouble,
      "weather.Dashboard.lifecycle_rounds" ->
        widgetIdx.flatMap(i => sub.lift(i)).map(_._4).sum.toDouble,
      "operators.Lifecycle.round_write_ms" -> subSum(_._3),
      "operators.Lifecycle.rounds" -> subSum(_._4),
      "operators.Lifecycle.drain_ms" -> subSum(_._1),
      "operators.Lifecycle.drain_timeouts" -> sub.map(_._2).sum.toDouble
    )
    out ++= leaks
    out ++= named("queries.").groupBy(_.name).map { case (k, v) => s"${k}_ms" -> meanMs(v) }
    out.toSeq
  }
}
