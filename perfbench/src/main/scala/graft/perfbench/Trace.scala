package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.MergeSink

/** One timed interval. `op` is the id of the op span the interval belongs
  * to; `parent` is the span that caused it (0 for an op span). Times are
  * `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Self time: the parent's duration minus the part of it that its
    * children cover. Overlapping children count once; the parts of a
    * child outside the parent do not count. */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    parent.durNs - covered
  }
}

/** Counters the listeners attribute to one span. */
final class Counters {
  var jobs, stages, stageRetries, tasks, taskFailed = 0L
  var runMs, cpuMs, gcMs, launchWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, blocksEvicted = 0L
  var analysisMs, optimizationMs, planningMs, exchanges = 0L
  var scanFiles, scanFilesTotal, scanRows = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; stageRetries += o.stageRetries
    tasks += o.tasks; taskFailed += o.taskFailed
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs; launchWaitMs += o.launchWaitMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; blocksEvicted += o.blocksEvicted
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; exchanges += o.exchanges
    scanFiles += o.scanFiles; scanFilesTotal += o.scanFilesTotal; scanRows += o.scanRows
  }
}

/** Span collection for the traced run. Spans are kept in memory and read
  * once at the end. The client thread opens spans around each call the
  * benchmark makes; Spark jobs become grandchild spans through the
  * `perfbench.span` local property, which Spark copies onto every job the
  * thread (or an AQE helper thread it spawned) submits. When disabled,
  * `span` runs its body and records nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0L)
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, Long)] = Nil // (span id, op id), client thread
  /** span id -> op id, read by the listener thread */
  private[perfbench] val opOf = new ConcurrentHashMap[Long, Long]()
  private[perfbench] val counters = new ConcurrentHashMap[Long, Counters]()
  @volatile private[perfbench] var currentOp: Long = 0L
  /** offset that maps listener wall-clock millis onto `System.nanoTime` */
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def spans: Seq[Span] = recorded.synchronized(recorded.toSeq)

  def countersOf(span: Long): Counters = counters.computeIfAbsent(span, _ => new Counters)

  /** Open an op span; every span and job opened inside belongs to it. */
  def op[T](name: String)(body: => T): T = open(name, isOp = true)(body)

  def span[T](name: String)(body: => T): T = open(name, isOp = false)(body)

  private def open[T](name: String, isOp: Boolean)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val (parent, op) = stack match {
      case (p, o) :: _ if !isOp => (p, o)
      case _ => (0L, id)
    }
    opOf.put(id, op)
    if (isOp) currentOp = op
    stack = (id, op) :: stack
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      recorded.synchronized(recorded += Span(id, parent, op, name, t0, t1))
      stack = stack.tail
      sc.setLocalProperty(SpanProperty, prev)
    }
  }

  /** A job span, recorded by the listener from wall-clock millis. */
  private[perfbench] def jobSpan(job: Int, parent: Long, startMs: Long, endMs: Long): Unit = {
    val op = opOf.getOrDefault(parent, 0L)
    recorded.synchronized(recorded += Span(-1L - job, parent, op, "spark.job",
      startMs * 1000000L + clockOffsetNs, endMs * 1000000L + clockOffsetNs))
  }

  /** Wait until the listeners have seen every event of the ops so far. */
  def settle(): Unit =
    if (enabled) org.apache.spark.sql.PerfbenchBridge.drainListenerBus(spark)

  def install(): Unit = if (enabled) {
    val l = new Listener(this)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Every physical node of an executed plan, looking through adaptive
    * plans, query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Spark listener plus query-execution listener. Scheduler events are
    * attributed to the span named by the job's `perfbench.span` property;
    * query-execution events, which carry no properties, go to the current
    * op (the traced run settles the bus before each op ends). */
  final class Listener(t: Tracer) extends SparkListener with QueryExecutionListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val jobStarts = new ConcurrentHashMap[Int, (Long, Long)]()

    private def spanOfProps(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(SpanProperty))).map(_.toLong).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOfProps(e.properties)
      jobStarts.put(e.jobId, (s, e.time))
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
      t.countersOf(s).synchronized(t.countersOf(s).jobs += 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (s, t0) =>
        t.jobSpan(e.jobId, s, t0, e.time)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = Option(stageSpan.get(e.stageInfo.stageId)).map(_.longValue)
        .getOrElse(spanOfProps(e.properties))
      val c = t.countersOf(s)
      c.synchronized {
        c.stages += 1
        if (e.stageInfo.attemptNumber() > 0) c.stageRetries += 1
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
      val c = t.countersOf(s)
      val m = e.taskMetrics
      val i = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (e.reason != org.apache.spark.Success) c.taskFailed += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuMs += m.executorCpuTime / 1000000L
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          // the scheduler delay the Spark UI shows: task wall time not
          // spent deserializing, running or shipping its result
          c.launchWaitMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        }
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (!e.blockUpdatedInfo.storageLevel.isValid) {
        val c = t.countersOf(t.currentOp)
        c.synchronized(c.blocksEvicted += 1)
      }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = t.countersOf(t.currentOp)
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val plan = try nodes(qe.executedPlan) catch { case _: Throwable => Nil }
      c.synchronized {
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        c.exchanges += plan.count(_.isInstanceOf[ShuffleExchangeExec])
        plan.foreach {
          case s: FileSourceScanExec =>
            c.scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            // partition pruning shows on partitioned tables only
            if (s.relation.partitionSchema.nonEmpty) {
              c.scanFiles += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
              c.scanFilesTotal += s.relation.location.inputFiles.length
            }
          case _ => ()
        }
      }
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

/** A [[MergeSink]] that times every call into the storage layer and
  * counts the files each merge leaves behind. It delegates every call
  * unchanged, so the stored tables are identical with and without it. */
final class TracedSink(inner: MergeSink, table: String, dir: String, tracer: Tracer)
    extends MergeSink {
  @volatile var filesWritten = 0L
  @volatile var bytesWritten = 0L

  private def timedWrite(call: => Unit): Unit = {
    val before = Fs.files(dir).map(_._1).toSet
    tracer.span(s"weather.Store.merge_$table")(call)
    val added = Fs.files(dir).filterNot(f => before.contains(f._1))
    filesWritten += added.size
    bytesWritten += added.map(_._2).sum
  }

  def mergeLastWins(updates: DataFrame, keys: Seq[String]): Unit =
    timedWrite(inner.mergeLastWins(updates, keys))
  def mergeIfAbsent(updates: DataFrame, keys: Seq[String]): Unit =
    timedWrite(inner.mergeIfAbsent(updates, keys))
  def read(spark: SparkSession): DataFrame =
    tracer.span("weather.Store.read")(inner.read(spark))
  override def overwriteAll(merged: DataFrame): Unit =
    timedWrite(inner.overwriteAll(merged))
}

/** Local-filesystem helpers for the checkout-relative work directory. */
object Fs {
  /** (path, bytes) of every data file under `dir`, hidden files aside. */
  def files(dir: String): Seq[(String, Long)] = {
    val root = new java.io.File(dir)
    if (!root.exists()) return Nil
    val out = mutable.ArrayBuffer.empty[(String, Long)]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_"))
        out += ((f.getPath, f.length()))
    walk(root)
    out.toSeq
  }

  def bytes(dir: String): Long = files(dir).map(_._2).sum

  /** Bytes of every file under `dir`, hidden files included. */
  def allBytes(dir: String): Long = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    if (root.exists()) walk(root) else 0L
  }
}
