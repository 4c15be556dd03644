package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import graft.GraftSession

/** JVM-side checks of the benchmark itself, run by `test_perfbench.py`.
  *
  * {{{
  * SelfCheck selftime
  * SelfCheck twin <work> <ops>
  * }}}
  *
  * `selftime` checks the self-time arithmetic on synthetic span trees and
  * exits non-zero on a mismatch. `twin` runs the first `<ops>` pipeline
  * ops of the inputs in `<work>` twice, into `<work>/twin/plain` with the
  * program's own sinks and into `<work>/twin/traced` through the
  * decorating sinks with span collection on, so the caller can compare
  * the two stores.
  */
object SelfCheck {
  def main(argv: Array[String]): Unit = argv.toSeq match {
    case Seq("selftime") => selfTime()
    case Seq("twin", work, ops) => twin(work, ops.toInt)
    case _ => sys.error("usage: SelfCheck selftime | twin <work> <ops>")
  }

  private def selfTime(): Unit = {
    def s(id: Long, parent: Long, a: Long, b: Long) = Span(id, parent, 1, "s", a, b)
    val root = s(1, 0, 0, 100)
    val cases = Seq(
      (Seq.empty[Span], 100L),                                // no children
      (Seq(s(2, 1, 10, 30), s(3, 1, 50, 60)), 70L),           // disjoint
      (Seq(s(2, 1, 10, 40), s(3, 1, 30, 60)), 50L),           // overlapping count once
      (Seq(s(2, 1, 10, 40), s(3, 1, 20, 30)), 70L),           // nested
      (Seq(s(2, 1, -20, 10), s(3, 1, 90, 130)), 80L),         // clipped to the parent
      (Seq(s(2, 1, 0, 100)), 0L),                             // fully covered
      (Seq(s(2, 1, 40, 50), s(3, 1, 10, 20), s(4, 1, 15, 45)), 60L)) // unsorted chain
    val bad = cases.zipWithIndex.collect {
      case ((children, want), i) if Span.selfNs(root, children) != want =>
        s"case $i: self ${Span.selfNs(root, children)} != $want"
    }
    if (bad.nonEmpty) { bad.foreach(System.err.println); sys.exit(1) }
    println(s"selftime: ${cases.size} cases ok")
  }

  private def twin(work: String, ops: Int): Unit = {
    val manifest = new ObjectMapper().readTree(new java.io.File(s"$work/manifest.json"))
    val spark = GraftSession.builder("perfbench-selfcheck")
      .config("spark.master", "local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.scratch.dir", s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for ((dir, traced) <- Seq(("plain", false), ("traced", true))) {
      val wl = new PipelineWl(spark, manifest, s"$work/twin/$dir")
      val t = new Tracer(spark, enabled = traced)
      t.install()
      wl.tracer = t
      wl.setup()
      (0 until ops).foreach(i => t.op(wl.label(i))(wl.run(i)))
      t.settle()
      println(s"twin $dir: ${t.spans.size} spans")
    }
    spark.stop()
  }
}
