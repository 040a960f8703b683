package graft

/** Benchmark main: runs every gate query against SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total", ...} for the driver.
  *
  * Methodology (the official clean protocol: run Bench LAST on an
  * otherwise idle box): one untimed warmup pass at sf0.001 (JIT + codegen
  * caches; plan shapes are identical across scale factors), adaptive
  * warm passes at the target SF, then SPARK_GRAFT_REPS
  * (default 5) timed passes — per-query MIN across reps is
  * the headline (`value`, `queries`), with the median kept as a secondary
  * field (`value_median`). Min, not median: contention on this box inflates
  * whole reps ~uniformly (r6: reps at 237/239/117 s), so the median of 3
  * reps picks the contaminated pair while the min is the noise-robust
  * estimate of the query's actual cost — a query can't run FASTER than its
  * true time. The cache catalog is cleared between queries so one query's
  * persisted intermediates can't evict or skew another's run.
  *
  * Optional CLI args narrow the run to the named queries (local iteration);
  * the driver invokes it with no args = full suite.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val spark = Sessions.build("graft-bench")

    val names = {
      val all = SparkEntry.queries.keys.toSeq.sorted
      if (args.nonEmpty) all.filter(args.contains) else all
    }
    // every pass below does a full storage reset after (or before) each
    // query — the Scale harness's discipline: leftover localCheckpoint
    // blocks accumulate across 185 queries × 8+ passes into storage-memory
    // pressure that inflates later reps (measured: rep totals drifting
    // 196 → 256 s across one run)
    // warmup: identical plan shapes at the smallest SF, untimed
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, warmDir).count()
        catch { case _: Throwable => () }
        Sessions.resetStorage(spark)
      }
    }
    // second warmup at the TARGET SF (skippable via SPARK_GRAFT_WARM_TARGET=0):
    // the small-SF pass compiles the plans but the first full-scale reps stay
    // inflated across the board (r8 quiet-box runs: one warm pass → reps
    // 135/93/89 s, 32 queries each carrying >0.5 s first-rep excess — C2
    // tier-up keeps compiling on background threads through the first timed
    // pass, competing with the 32 worker threads). One fixed pass is not
    // enough, so warm ADAPTIVELY: repeat full-scale passes until a pass's
    // wall time lands within 12% of the previous one (max
    // SPARK_GRAFT_WARM_MAX, default 3) — the timed reps then start on a
    // settled JVM instead of the dispersion statistic flagging every run.
    if (sys.env.getOrElse("SPARK_GRAFT_WARM_TARGET", "1") != "0") {
      val maxWarm = sys.env.getOrElse("SPARK_GRAFT_WARM_MAX", "3").toInt
      var prev = Double.MaxValue
      var pass = 0
      var stable = false
      while (pass < maxWarm && !stable) {
        val t0 = System.nanoTime()
        names.foreach { n =>
          try SparkEntry.queries(n)(spark, sfDir).count()
          catch { case _: Throwable => () }
          Sessions.resetStorage(spark)
        }
        val wall = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] warm pass ${pass + 1} at target SF: $wall%.1f s")
        stable = wall >= prev * 0.88
        prev = wall
        pass += 1
      }
    }

    def timedPass(): Seq[(String, Double)] = names.map { name =>
      Sessions.resetStorage(spark)
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] FAILED query=$name: $e")
          e.printStackTrace()
          false
        }
      // a failed query must not masquerade as a fast one
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }

    // one GC between passes: accumulated short-lived shuffle/codegen
    // garbage otherwise surfaces as mid-pass pauses attributed to whatever
    // query happens to be running
    val passes = (1 to reps).map { _ =>
      System.gc()
      timedPass().toMap
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2)
    }
    // A query that failed in ANY rep reports -1: an intermittent failure
    // must not hide behind a healthy-looking min/median of the passing reps.
    val failures = names.map(n => n -> passes.count(_(n) < 0)).filter(_._2 > 0)
    val results = names.map { n =>
      n -> (if (passes.exists(_(n) < 0)) -1.0 else passes.map(_(n)).min)
    }
    val resultsMedian = names.map { n =>
      n -> (if (passes.exists(_(n) < 0)) -1.0 else median(passes.map(_(n))))
    }
    // 3-decimal formatting (4-decimal through r14) keeps the one-line JSON
    // as short as the contract allows for the driver's stdout tail window
    // (full double reprs pushed q01–q29 out of the captured tail in round
    // 4; BENCH_r13/r14 both came back parsed:null against a ~2000-char
    // tail). Locale.ROOT: a comma-decimal default locale would emit
    // corrupt JSON via the locale-sensitive formatter. 1 ms resolution
    // loses nothing: scheduler jitter alone is larger.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // any failure invalidates the headline total: summing -1 sentinels
    // would make a BROKEN run's total smaller (= look faster) than an
    // honest passing run
    val total =
      if (failures.nonEmpty) -1.0 else results.map(_._2).sum
    val totalMedian =
      if (failures.nonEmpty) -1.0 else resultsMedian.map(_._2).sum
    // a rep containing any failure reports -1, not a sum with -1 sentinels
    // folded in (which would read as a FASTER rep)
    val repTotals = passes
      .map(p => if (p.values.exists(_ < 0)) -1.0 else p.values.sum)
      .map(num).mkString("[", ",", "]")
    // omitted entirely when no rep failed (the normal case): every byte of
    // the one-line JSON competes with per-query entries for the driver's
    // finite stdout tail window
    val failJson =
      if (failures.isEmpty) ""
      else failures.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","failed_reps":{""", ",", "}")
    // measurement-dispersion guard (round-5 post-mortem: rep totals spanning
    // 157→280s within one run made the cross-round comparison meaningless):
    // report max/min of the healthy rep totals and flag > 1.3x so a noisy
    // run is self-labeling instead of masquerading as a regression
    val healthyTotals = passes.map(_.values.filter(_ >= 0).sum).filter(_ > 0)
    val dispersion =
      if (healthyTotals.size >= 2 && healthyTotals.min > 0)
        healthyTotals.max / healthyTotals.min
      else 1.0
    if (dispersion > 1.3)
      System.err.println(f"[bench] WARN rep dispersion ${dispersion}%.2fx exceeds 1.3x " +
        "— machine noise dominates; do not compare this run across rounds")
    val warn =
      if (dispersion > 1.3)
        f""","warn":"rep dispersion ${dispersion}%.2fx > 1.3x - machine noise dominated this run; per-query MIN headline is the robust statistic""""
      else ""
    val json = s"""{"metric":"total","value":${num(total)},"unit":"sec","stat":"per-query min over $reps reps","value_median":${num(totalMedian)},"queries":$qs,"sf":"$sfDir","reps":$reps,"rep_totals":$repTotals,"dispersion":${num(dispersion)}$failJson$warn}"""
    // durable copy: the driver's stdout tail window is finite, a file isn't —
    // it additionally carries every query's per-rep times for dispersion
    // forensics (too wide for the one-line stdout contract)
    val perRep = names.map { n =>
      "\"" + n + "\":" + passes.map(p => num(p(n))).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fileJson = json.dropRight(1) + s""","per_rep_queries":$perRep}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_result.json"),
      (fileJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // LAST line of stdout, after spark.stop(), so nothing can print below it
    println(json)
  }
}
