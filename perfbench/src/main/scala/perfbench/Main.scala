package perfbench

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run: set up a workload from its seed, run a cold
  * iteration on the fresh session, set up twice more, run warm iterations,
  * dropping the first unless the first two agree, then more until the
  * measured ones add up to the given seconds (at least two), check every
  * output, and print the result JSON as the last stdout line. Every
  * iteration does the same work.
  *
  * With `--trace 1` the measured iterations after the first two alternate
  * traced and untraced, at least one of each; the traced ones
  * report the per-layer split, and the two kinds together give the tracing
  * overhead.
  * Spans, jobs and per-operator plan metrics are written once, at the end,
  * to `<build-dir>/trace/`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      buildDir: Path, plantWrongExpected: Boolean)

  /** Two warm iterations agree when their times differ by at most this
    * share of the shorter one. */
  val AgreeWithin = 0.15
  /** Warm iterations dropped at most while waiting for two to agree: with
    * the JIT held to C1 (see `build.py`) a later disagreement is host
    * noise, which more iterations would not cure, and each costs seconds
    * of the run's budget. */
  val MaxDropped = 1

  def agree(a: Double, b: Double): Boolean = math.abs(a - b) <= AgreeWithin * math.min(a, b)

  /** Set-ups per run; setup_s reports their median. Only the first runs
    * before the cold iteration, so that the cold iteration pays what a
    * one-shot user pays after loading the inputs once. */
  val SetupRepeats = 3

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt, get("--trace") == "1",
      Paths.get(get("--build-dir")), argv.contains("--plant-wrong-expected"))
  }

  /** The session the roadmap measures: Bench's confs (codegen cache 8192,
    * artifact isolation off, AQE on, shuffle partitions = cores), with
    * Spark's scratch space inside the build directory. */
  def session(cores: Int, buildDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", buildDir.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", buildDir.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long, workDir: Path): Workload = name match {
    case "interactive" => new Interactive(spark, seed)
    case "batch" => new Batch(spark, seed, workDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Drop everything cached or checkpointed except the inputs. */
  def resetStorage(spark: SparkSession, keep: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }

  /** Heap live after a full GC, as the collector measured it at the end of
    * the collection: allocations after the GC do not count. Spark frees the
    * blocks of collected RDDs and broadcasts from a cleaner thread that
    * polls every 100 ms, so the first GC hands it the garbage and the
    * second, a quarter second later, finds its work done. */
  def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Codegen compiles so far and their approximate total milliseconds. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  final case class Iter(index: Int, traced: Boolean, opMs: Seq[(String, Double)], failed: Int,
      attempted: Int, heapLiveMb: Double, codegenCompiles: Long, codegenMs: Double,
      counters: Map[String, Double]) {
    def wallMs: Double = opMs.map(_._2).sum
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val workDir = args.buildDir.resolve("work").resolve(args.workload)
    Fs.deleteTree(workDir)
    Files.createDirectories(workDir)

    val spark = session(cores, args.buildDir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try run(args, spark, cores, workDir, sessionS)
    finally spark.stop()
  }

  private def run(args: Args, spark: SparkSession, cores: Int, workDir: Path, sessionS: Double): Unit = {
    val w = workload(args.workload, spark, args.seed, workDir)
    val setups = ArrayBuffer[Double]()
    var inputs = Set.empty[Int]
    def setUp(): Unit = {
      resetStorage(spark, Set.empty)
      val t0 = System.nanoTime()
      w.setup()
      setups += (System.nanoTime() - t0) / 1e9
      inputs = spark.sparkContext.getPersistentRDDs.keySet.toSet
    }
    setUp()

    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, args.plantWrongExpected)
    val jobListener = new JobListener
    val planListener = new PlanListener
    val traceJobs = ArrayBuffer[JobRec]()
    val traceExecs = ArrayBuffer[ExecRec]()
    val layerIters = ArrayBuffer[Map[String, Double]]()

    def iteration(index: Int, traced: Boolean, measureHeap: Boolean = true): Iter = {
      ctx.reset()
      if (traced) {
        jobListener.clear(); planListener.clear()
        spark.sparkContext.addSparkListener(jobListener)
        spark.listenerManager.register(planListener)
      }
      tracer.enabled = traced
      tracer.iteration = index
      val (cg0, cgMs0) = codegen()
      try w.iteration(ctx)
      catch { case NonFatal(e) =>
        ctx.failures += s"iteration $index aborted: $e"
        System.err.println(s"[perfbench] iteration $index failed: $e")
        e.printStackTrace()
      }
      tracer.enabled = false
      val (cg1, cgMs1) = codegen()
      if (traced) {
        BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobListener)
        spark.listenerManager.unregister(planListener)
        val jobs = jobListener.snapshot()
        val execs = planListener.snapshot()
        traceJobs ++= jobs
        traceExecs ++= execs
        layerIters += Layers.iteration(tracer.spans.filter(_.iteration == index).toSeq, jobs, execs, cores) ++
          Map("spark.codegen.compiles" -> (cg1 - cg0).toDouble, "spark.codegen.ms" -> (cgMs1 - cgMs0)) ++
          ctx.counters
      }
      // measured before the iteration's caches are dropped; one GC after
      // leaves the next iteration a clean heap
      val live = if (measureHeap) heapLiveMb() else Double.NaN
      resetStorage(spark, inputs)
      System.gc()
      val failed = ctx.failedOps + (w.opsPerIteration - ctx.completedOps)
      Iter(index, traced, ctx.opMs.toSeq, failed, w.opsPerIteration, live, cg1 - cg0, cgMs1 - cgMs0,
        ctx.counters.toMap)
    }

    val cold = iteration(0, traced = false, measureHeap = false)
    while (setups.size < SetupRepeats) setUp()
    val setupS = sessionS + Stats.median(setups.toSeq)
    println(f"[perfbench] set-up: session $sessionS%.2f s, inputs ${setups.map(x => f"$x%.2f").mkString(", ")} s")
    // Warm iterations are dropped until two in a row agree (at most
    // MaxDropped): until then the JIT may still be settling. The pair is
    // measured, and more iterations follow until they cover the seconds.
    val dropped = ArrayBuffer[Iter]()
    val warm = ArrayBuffer[Iter]()
    def next(traced: Boolean) = iteration(1 + dropped.size + warm.size, traced)
    warm += next(traced = false)
    warm += next(traced = false)
    while (!agree(warm(0).wallMs, warm(1).wallMs) && dropped.size < MaxDropped) {
      dropped += warm.remove(0)
      warm += next(traced = false)
    }
    val minWarm = if (args.trace) 4 else 2
    while (warm.map(_.wallMs).sum < args.seconds * 1000.0 || warm.size < minWarm)
      warm += next(traced = args.trace && warm.size % 2 == 0)

    val all = cold +: (dropped ++ warm).toSeq
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    ctx.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val untraced = warm.filterNot(_.traced).toSeq
    val opSamples = untraced.flatMap(_.opMs.map(_._2))
    val rowsPerS = w.rowsPerIteration / (Stats.median(untraced.map(_.wallMs)) / 1000)
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "cold_s" -> (cold.wallMs / 1000, "s"),
      "rows_per_s" -> (rowsPerS, "rows/s"),
      "ops_per_s" -> (opSamples.size / (opSamples.sum / 1000), "ops/s"),
      "heap_live_mb" -> (untraced.map(_.heapLiveMb).max, "MB"))

    val env = environment(spark, cores, args, w)
    println("[perfbench] environment " + env)
    val p90 = Stats.tailPercentile(opSamples, 0.9)
      .fold(s"n/a (${opSamples.size} samples, fewer than ${Stats.MinBeyondTail} beyond p90)")(v =>
        s"${Json.num(v)} ms (${opSamples.size} samples)")
    val outBytes = untraced.flatMap(_.counters.get("io.bytes_written"))
    println(s"[perfbench] ${w.name}: " + endToEnd.map { case (k, (v, u)) => s"$k=${Json.num(v)} $u" }.mkString(", ") +
      s", op_p50_ms=${Json.num(Stats.median(opSamples))} ms, op_p90_ms=$p90, error_rate=${Json.num(failed.toDouble / attempted)} ($failed/$attempted)" +
      (if (outBytes.nonEmpty) s", out_bytes_per_row=${Json.num(Stats.median(outBytes) / w.rowsPerIteration)} B/row" else "") +
      s", cold ${Json.num(cold.wallMs)} ms, dropped ${dropped.map(i => f"${i.wallMs}%.0f").mkString("[", " ", "]")} ms, warm iterations ${warm.map(i => f"${i.wallMs}%.0f").mkString(" ")} ms")

    val metrics: Seq[(String, (Double, String))] =
      if (!args.trace) endToEnd
      else {
        val tracedIters = warm.filter(_.traced).toSeq
        val mean = Layers.Metrics.map(_._1).map(k => k -> layerIters.map(_.getOrElse(k, 0.0)).sum / layerIters.size).toMap
        val extra = w.traceCounters() ++ Layers.opTypes(tracer.spans.toSeq, traceJobs.toSeq) ++ Map(
          "spark.codegen.cold_compiles" -> cold.codegenCompiles.toDouble,
          "spark.codegen.cold_ms" -> cold.codegenMs,
          "trace.overhead" -> Stats.median(tracedIters.map(_.wallMs)) / Stats.median(untraced.map(_.wallMs)))
        val values = mean ++ extra
        val file = writeTrace(args, env, tracer, traceJobs.toSeq, traceExecs.toSeq, layerIters.toSeq, all)
        println(s"[perfbench] trace written to $file")
        Layers.Metrics.map { case (k, u) => k -> (values(k), u) }
      }
    writeResult(args, env, metrics, ctx.failures.toSeq)
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    println(result)
  }

  def environment(spark: SparkSession, cores: Int, args: Args, w: Workload): String = {
    val rt = ManagementFactory.getRuntimeMXBean
    Json.obj(Seq(
      "workload" -> Json.str(args.workload),
      "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString,
      "trace" -> args.trace.toString,
      "spark" -> Json.str(spark.version),
      "jvm" -> Json.str(s"${rt.getVmName} ${System.getProperty("java.version")}"),
      "jvm_args" -> Json.arr(rt.getInputArguments.asScala.toSeq.map(Json.str)),
      "cores" -> cores.toString,
      "machine_cores" -> Runtime.getRuntime.availableProcessors.toString,
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "session_confs" -> Json.obj(spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }),
      "params" -> Json.arr(w.params.map(p => Json.obj(Seq(
        "name" -> Json.str(p.name), "value" -> Json.str(p.value), "why" -> Json.str(p.why)))))))
  }

  private def writeResult(args: Args, env: String, metrics: Seq[(String, (Double, String))],
      failures: Seq[String]): Unit = {
    val dir = args.buildDir.resolve("results")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
    Files.write(f, Json.obj(Seq(
      "environment" -> env,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "failures" -> Json.arr(failures.map(Json.str)))).getBytes(UTF_8))
  }

  private def writeTrace(args: Args, env: String, tracer: Tracer, jobs: Seq[JobRec], execs: Seq[ExecRec],
      layerIters: Seq[Map[String, Double]], iters: Seq[Iter]): Path = {
    val dir = args.buildDir.resolve("trace")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${args.workload}-seed${args.seed}.json")
    val jobSpan = jobs.filter(_.executionId >= 0).map(j => j.executionId -> j.span).toMap
    val iterations = iters.map(i => Json.obj(Seq(
      "index" -> i.index.toString, "traced" -> i.traced.toString, "wall_ms" -> Json.num(i.wallMs),
      "failed" -> i.failed.toString) ++
      (if (i.heapLiveMb.isNaN) Nil else Seq("heap_live_mb" -> Json.num(i.heapLiveMb)))))
    val layers = layerIters.map(m => Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
    val spans = tracer.spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
      "parent" -> s.parent.toString, "iteration" -> s.iteration.toString,
      "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))
    val jobRows = jobs.map(j => Json.obj(Seq(
      "job" -> j.jobId.toString, "span" -> j.span.toString, "execution" -> j.executionId.toString,
      "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString, "stages" -> j.stages.toString,
      "tasks" -> j.tasks.toString, "task_ms" -> j.taskMs.toString,
      "shuffle_read_bytes" -> j.shuffleReadBytes.toString,
      "shuffle_write_bytes" -> j.shuffleWriteBytes.toString)))
    val executions = execs.map { e =>
      val operators = e.operators.map { case (node, ms) =>
        Json.obj(Seq("node" -> Json.str(node), "metrics" -> Json.obj(ms.map { case (k, v) => k -> v.toString })))
      }
      Json.obj(Seq(
        "execution" -> e.id.toString, "span" -> jobSpan.getOrElse(e.id, 0).toString,
        "analysis_ms" -> e.analysisMs.toString, "optimizer_ms" -> e.optimizerMs.toString,
        "planning_ms" -> e.planningMs.toString, "operators" -> Json.arr(operators)))
    }
    val w = Files.newBufferedWriter(f, UTF_8)
    try w.write(Json.obj(Seq("environment" -> env, "iterations" -> Json.arr(iterations),
      "layers_per_traced_iteration" -> Json.arr(layers), "spans" -> Json.arr(spans),
      "jobs" -> Json.arr(jobRows), "executions" -> Json.arr(executions))))
    finally w.close()
    f
  }
}
