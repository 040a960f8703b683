package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** A span around one call the benchmark makes: into a library module
  * (layer io, model, operators, split, eval, llm), an action on a result
  * (layer action), one checked operation (layer op), or one iteration. */
final case class Span(id: Int, layer: String, name: String, parent: Int, iteration: Int,
    startMs: Double, var endMs: Double = Double.NaN) {
  def wallMs: Double = endMs - startMs
}

/** Opens spans around calls and labels the Spark jobs they launch: each
  * span sets the job group to its id, so a job lands on the innermost span
  * that was open when it started, and a lazily built plan is attributed to
  * the action span that executes it. Spans stay in memory until the run
  * writes them out. With tracing off a span is just its body. */
final class Tracer(spark: SparkSession) {
  var enabled = false
  var iteration = -1
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val sc = spark.sparkContext
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()

  /** Wall clock in epoch milliseconds at sub-millisecond resolution, on the
    * same base as Spark's job and phase timestamps. */
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, layer, name, stack.headOption.fold(0)(_.id), iteration, nowMs)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, s"$layer:$name", interruptOnCancel = false)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, s"${p.layer}:${p.name}", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

/** What the listener learned about one Spark job. */
final class JobRec(val jobId: Int, val span: Int, val startMs: Long, val executionId: Long) {
  var endMs: Long = -1
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var waitMs = 0L
  var resultBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** max / median task duration of this job's stages with >= 2 tasks */
  val stageSkews = ArrayBuffer[Double]()
}

/** Per-job counters from Spark's listener bus, keyed to spans through the
  * job group. Callbacks arrive on the bus thread; readers drain the bus
  * first ([[org.apache.spark.BenchBus]]) and then read under the lock. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val stageTaskMs = mutable.Map[(Int, Int), ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption).getOrElse(0)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    val j = new JobRec(e.jobId, span, e.time, exec)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) += info.duration
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1e6
        j.gcMs += m.jvmGCTime
        j.resultBytes += m.resultSize
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        // scheduler delay, as Spark's UI defines it
        j.waitMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { j =>
      j.stages += 1
      stageTaskMs.remove((si.stageId, si.attemptNumber())).foreach { ds =>
        val med = Stats.median(ds.map(_.toDouble).toSeq)
        // stages of 1 task, or of tasks too short to time, have no skew
        if (ds.size >= 2 && med >= 5) j.stageSkews += ds.max / med
      }
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toSeq)
  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear(); stageTaskMs.clear() }
}

/** One executed query: its id (= the jobs' `spark.sql.execution.id`),
  * planning phase durations, and per physical operator of the executed
  * plan its non-zero SQL metrics. */
final case class ExecRec(id: Long, analysisStartMs: Long, analysisMs: Long, optimizerMs: Long,
    planningMs: Long, operators: Seq[(String, Seq[(String, Long)])])

/** Planning phases and executed-plan SQL metrics of every query execution
  * that reports to the session's listener manager. */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val execs = ArrayBuffer[ExecRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).fold(0L)(_.durationMs)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val ops = ArrayBuffer[(String, Seq[(String, Long)])]()
    foreach(qe.executedPlan) { node =>
      val values = node.metrics.toSeq.map { case (k, v) => k -> v.value }.filter(_._2 != 0).sortBy(_._1)
      if (values.nonEmpty) ops += node.nodeName -> values
    }
    val e = ExecRec(qe.id, start, ms("analysis"), ms("optimization"), ms("planning"), ops.toSeq)
    synchronized(execs += e)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot(): Seq[ExecRec] = synchronized(execs.toSeq)
  def clear(): Unit = synchronized(execs.clear())
}
