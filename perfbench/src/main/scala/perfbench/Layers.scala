package perfbench

import scala.collection.mutable

/** The per-layer split of one traced iteration, from its spans, the jobs
  * the listener attributed to them and the executed queries. Only work
  * inside checked operations counts: checks run in `verify` spans and are
  * left out. */
object Layers {
  val Modules = Seq("io", "model", "operators", "split", "eval", "llm")

  /** Every per-layer metric with its unit, in report order. */
  val Metrics: Seq[(String, String)] =
    (Modules :+ "action").flatMap(l => Seq(s"$l.calls" -> "count", s"$l.wall_ms" -> "ms",
      s"$l.jobs" -> "count", s"$l.driver_ms" -> "ms")) ++
      Interactive.Types.flatMap(t => Seq(s"op.$t.p50_ms" -> "ms", s"op.$t.jobs" -> "count")) ++
      Seq("spark.driver.analysis_ms" -> "ms", "spark.driver.optimizer_ms" -> "ms",
        "spark.driver.planning_ms" -> "ms", "spark.driver.only_ms" -> "ms",
        "spark.driver.result_bytes" -> "B",
        "spark.codegen.compiles" -> "count", "spark.codegen.ms" -> "ms",
        "spark.codegen.cold_compiles" -> "count", "spark.codegen.cold_ms" -> "ms",
        "spark.exec.jobs" -> "count", "spark.exec.stages" -> "count", "spark.exec.tasks" -> "count",
        "spark.exec.task_ms" -> "ms", "spark.exec.cpu_ms" -> "ms", "spark.exec.gc_ms" -> "ms",
        "spark.exec.task_wait_ms" -> "ms", "spark.exec.slot_busy" -> "ratio",
        "spark.exec.shuffle_read_bytes" -> "B", "spark.exec.shuffle_write_bytes" -> "B",
        "spark.exec.spill_bytes" -> "B", "spark.exec.input_bytes" -> "B", "spark.exec.output_bytes" -> "B",
        "spark.exec.task_skew" -> "ratio",
        "io.bytes_read" -> "B", "io.bytes_written" -> "B",
        "llm.candidate_pairs" -> "count", "llm.verified_pairs" -> "count", "llm.pair_yield" -> "ratio",
        "trace.overhead" -> "ratio")

  /** The checked operation a span belongs to; none for checks. */
  private def opOf(byId: Map[Int, Span])(id: Int): Option[Span] = byId.get(id) match {
    case Some(s) if s.layer == "op" => Some(s)
    case Some(s) if s.layer != "verify" => opOf(byId)(s.parent)
    case _ => None
  }

  /** Sums per iteration (everything but op latencies, which are pooled). */
  def iteration(spans: Seq[Span], jobs: Seq[JobRec], execs: Seq[ExecRec],
      cores: Int): Map[String, Double] = {
    val op = opOf(spans.map(s => s.id -> s).toMap) _
    val ops = spans.filter(_.layer == "op")
    val opJobs = jobs.filter(j => op(j.span).isDefined)
    def intervals(js: Seq[JobRec]) = js.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble))
    val jobsBySpan = opJobs.groupBy(_.span)
    val jobsByOp = opJobs.groupBy(j => op(j.span).get.id)
    val wall = ops.map(_.wallMs).sum
    val m = mutable.LinkedHashMap[String, Double]()

    (Modules :+ "action").foreach { l =>
      val ls = spans.filter(s => s.layer == l && op(s.id).isDefined)
      m(s"$l.calls") = ls.size
      m(s"$l.wall_ms") = ls.map(_.wallMs).sum
      m(s"$l.jobs") = ls.map(s => jobsBySpan.getOrElse(s.id, Nil).size).sum
      m(s"$l.driver_ms") = ls.map(s => Stats.uncovered(s.startMs, s.endMs,
        intervals(jobsBySpan.getOrElse(s.id, Nil)))).sum
    }
    m("spark.driver.only_ms") = ops.map(o => Stats.uncovered(o.startMs, o.endMs,
      intervals(jobsByOp.getOrElse(o.id, Nil)))).sum

    val opExecIds = opJobs.map(_.executionId).toSet
    val verifyExecIds = jobs.map(_.executionId).toSet -- opExecIds
    val inOps = execs.filter(e => opExecIds(e.id) || (!verifyExecIds(e.id) &&
      ops.exists(o => e.analysisStartMs >= o.startMs && e.analysisStartMs <= o.endMs)))
    m("spark.driver.analysis_ms") = inOps.map(_.analysisMs).sum.toDouble
    m("spark.driver.optimizer_ms") = inOps.map(_.optimizerMs).sum.toDouble
    m("spark.driver.planning_ms") = inOps.map(_.planningMs).sum.toDouble
    m("spark.driver.result_bytes") = opJobs.map(_.resultBytes).sum.toDouble

    m("spark.exec.jobs") = opJobs.size
    m("spark.exec.stages") = opJobs.map(_.stages).sum
    m("spark.exec.tasks") = opJobs.map(_.tasks).sum.toDouble
    m("spark.exec.task_ms") = opJobs.map(_.taskMs).sum.toDouble
    m("spark.exec.cpu_ms") = opJobs.map(_.cpuMs).sum
    m("spark.exec.gc_ms") = opJobs.map(_.gcMs).sum.toDouble
    m("spark.exec.task_wait_ms") = opJobs.map(_.waitMs).sum.toDouble
    m("spark.exec.slot_busy") = if (wall > 0) m("spark.exec.task_ms") / (wall * cores) else 0.0
    m("spark.exec.shuffle_read_bytes") = opJobs.map(_.shuffleReadBytes).sum.toDouble
    m("spark.exec.shuffle_write_bytes") = opJobs.map(_.shuffleWriteBytes).sum.toDouble
    m("spark.exec.spill_bytes") = opJobs.map(_.spillBytes).sum.toDouble
    m("spark.exec.input_bytes") = opJobs.map(_.inputBytes).sum.toDouble
    m("spark.exec.output_bytes") = opJobs.map(_.outputBytes).sum.toDouble
    m("spark.exec.task_skew") = (opJobs.flatMap(_.stageSkews) :+ 1.0).max
    m.toMap
  }

  /** Per type of checked operation: pooled latency median and mean jobs. */
  def opTypes(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Double] = {
    val op = opOf(spans.map(s => s.id -> s).toMap) _
    val jobsByOp = jobs.flatMap(j => op(j.span).map(_.id -> j)).groupMap(_._1)(_._2)
    Interactive.Types.flatMap { t =>
      val ops = spans.filter(s => s.layer == "op" && s.name == t)
      if (ops.isEmpty) Seq(s"op.$t.p50_ms" -> 0.0, s"op.$t.jobs" -> 0.0)
      else Seq(s"op.$t.p50_ms" -> Stats.median(ops.map(_.wallMs)),
        s"op.$t.jobs" -> ops.map(o => jobsByOp.getOrElse(o.id, Nil).size).sum.toDouble / ops.size)
    }.toMap
  }
}
