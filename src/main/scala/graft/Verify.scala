package graft
import graft.io.Json
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name substrings (dev filter)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    val spark = Sessions.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
    // a reused outDir must not let THIS run's failures pass on a PREVIOUS
    // run's parquet: drop each attempted query's stale result up front (a
    // query that throws now leaves no dir → the checker flags it), and
    // record the attempt set so the checker ignores anything else
    attempted.keys.foreach { name =>
      if (new java.io.File(s"$outDir/$name").isDirectory)
        IoUtil.rmTree(s"$outDir/$name")
    }
    // manifest BEFORE the query loop: if this run crashes mid-way, the
    // checker must see THIS run's attempt set (whose stale dirs were just
    // deleted → flagged missing), not a previous run's manifest that would
    // validate leftover dirs as current
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      attempted.keys.toSeq.sorted.map(Json.str).mkString("[", ",", "]"))
    attempted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // gates that persist or localCheckpoint intermediates (near-dup
      // pipelines, stage fences) document cleanup as caller-owned; across
      // ~90 gates the leftovers would accumulate in executor storage, so
      // drop them per query like Bench
      finally Sessions.resetStorage(spark)
    }
    val json = SparkEntry.oracleSql
      // dev-filtered runs dump only the matching oracles so the checker's
      // missing-result detection doesn't false-flag unrun queries; the
      // driver's unfiltered run still writes the full map
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
