package graft

/** Measurement tooling (optimization rounds): dump `.explain("formatted")`
  * for gate queries to files so plan shapes can be diffed before/after a
  * change without re-running the full bench.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [queryName...]
  * No query names = all of SparkEntry.queries. One file per query:
  * <outDir>/<name>.txt. Builds its session with `Sessions.build`, as
  * Bench does, so with the same SPARK_GRAFT_CPUS the plans match what the
  * bench actually executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [query...]")
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val spark = Sessions.build("graft-plandump")

    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      // a typo'd query name must fail loudly, not silently produce no file
      // (a before/after plan comparison would quietly skip that gate)
      val unknown = args.drop(2).filterNot(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"unknown queries: ${unknown.mkString(", ")}")
      if (args.length > 2) all.filter(args.drop(2).contains) else all
    }
    names.foreach { n =>
      val txt =
        try SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"PLAN FAILED: $e" }
      java.nio.file.Files.write(
        outDir.resolve(s"$n.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Sessions.resetStorage(spark)
    }
    spark.stop()
    println(s"[plandump] wrote ${names.size} plans to $outDir")
  }
}
