package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path

/** The batch pipelines, one after the other in each iteration: detector
  * evaluation over a large in-memory dataset ([[EvalWorkload]]), then
  * training-corpus dedup over JSONL files ([[DedupWorkload]]). They share
  * one workload because every workload costs 22 runs of a JVM, a session,
  * three set-ups and a cold iteration, and the measurement as a whole has a
  * fixed time budget; the traced run still splits them by layer (`eval`
  * against `llm` and `io`). */
final class Batch(spark: SparkSession, seed: Long, workDir: Path) extends Workload {
  private val dedup = new DedupWorkload(spark, seed, workDir)
  private val parts = Seq(new EvalWorkload(spark, seed), dedup)

  val name = "batch"
  def params: Seq[Param] = parts.flatMap(w => w.params.map(p => p.copy(name = s"${w.name}.${p.name}")))
  def rowsPerIteration: Long = parts.map(_.rowsPerIteration).sum
  def opsPerIteration: Int = parts.map(_.opsPerIteration).sum
  def setup(): Unit = parts.foreach(_.setup())
  def iteration(ctx: Ctx): Unit = parts.foreach(_.iteration(ctx))
  override def traceCounters(): Map[String, Double] = dedup.traceCounters()
}
