package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every graft main and the test suite build
  * their session here, so the oracle, the tests, the plan dumps and the
  * bench all run under the same confs.
  */
object Sessions {

  /** Local cores (`local[N]` and shuffle partitions): `SPARK_GRAFT_CPUS`,
    * default 4 for every main. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Build (or return the already running) local session: `local[cpus]`,
    * shuffle partitions = cpus, UTC, AQE on, UI off, and the two static
    * codegen confs below. `extra` is applied last, so it can override any
    * of them (a deployment's `spark.master`, a measurement's conf A/B).
    */
  def build(appName: String, cpus: Int = Sessions.cpus,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // Whole-stage-codegen class cache (STATIC conf, must be set at
      // session build). The Spark default (100 entries) is smaller than
      // ONE run of the heavier gates (q195 alone compiles 313 sources), so
      // in a many-query session every rep of every query recompiles all of
      // its codegen units from scratch — measured r15: ~0.4–0.5 s of
      // Janino compile blocking PER STAGE, all task slots waiting; 196-gate
      // A/B at sf0.1: suite 264 → 171 s (geomean 1.45). Not a local[32]
      // twiddle: the cache is core-count- and data-scale-independent — any
      // long-lived session with repeating plan shapes (micro-batch
      // streaming, scheduled pipelines, a bench's reps) thrashes it the
      // same way. 8192 comfortably holds the suite's ~5k stable sources at
      // ~tens of MB of class/source retention.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // Session-artifact isolation (STATIC conf, session-creation only;
      // Spark 4 default true) keys every stream RUN to a fresh isolated
      // ExecutorClassLoader via the cloned session's artifact state — and
      // the codegen class cache is keyed by (classloader, source), so each
      // streaming query start recompiles every codegen unit it executes
      // even when the source text is cached (measured r15 with a dump of
      // the codegen cache's keys, OPTIMIZATION_r15.md: 81/81 of q195's
      // per-rep compiles were classloader-churn misses of PREVIOUSLY
      // CACHED text, 0 new sources; conf off → 0 compiles, ~2.1 s/rep of
      // Janino time gone plus the per-stage task-slot blocking it
      // caused). This engine adds no
      // session artifacts (no addArtifact/ADD JAR anywhere), so isolation
      // protects nothing here; results are bit-identical (classloaders,
      // not plans — zero plan changes by construction). A caller that does
      // add per-session artifacts can turn isolation back on via `extra`,
      // at the cost of per-stream-start recompilation.
      .config("spark.sql.artifact.isolation.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Full storage reset: clear the catalog cache, then unpersist every
    * persistent RDD. clearCache alone drops catalog-cached frames but NOT
    * localCheckpoint RDD blocks (the pagerank/stage-fence gates create
    * them), which otherwise accumulate across queries into storage-memory
    * pressure. */
  def resetStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
