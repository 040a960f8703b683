package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 hardening locks: PrefixSum negative-value offsets, the
  * prefix-sum cache lifecycle (no catalog-pinned blocks across repeated
  * calls), the mojibake multi-pass repair, and sampleWeightedK's
  * weight-magnitude boundary. (The stored-index dedup default, no
  * O(|reference|) count scan, is locked in [[MinHashStoreSpec]].) */
class Round11Spec extends SparkFunSuite {
  import spark.implicits._

  // ---- PrefixSum: negative values (r10 ADVICE: offsets were dropped
  // when the cumulative offset was negative) ------------------------------

  test("groupedRunningSum matches the window cumsum when sums go negative") {
    // mean-negative values so every group's cumulative sum dives below
    // zero across range-partition boundaries; one mega group guarantees
    // partition spanning at 4 shuffle partitions
    val df = (0 until 4000).map { i =>
      val g = if (i % 17 == 0) "small" else "mega"
      (g, i.toLong, ((i % 11) - 7).toLong)
    }.toDF("g", "id", "v")
    val got = graft.operators.PrefixSum
      .groupedRunningSum(df, "g", Seq("id"), col("v"), "cum")
      .select("g", "id", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = Window.partitionBy("g").orderBy("id")
    val want = df.withColumn("cum", sum(col("v")).over(w))
      .select("g", "id", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == want.size)
    want.foreach { case (k, v) =>
      assert(got(k) == v, s"cumsum mismatch at $k: got ${got(k)}, want $v")
    }
    assert(want.values.exists(_ < 0L), "test data failed to drive sums negative")
  }

  test("runningSums carries several quantities in one pass (global group)") {
    val df = (0 until 500).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "v")
    val out = graft.operators.PrefixSum.runningSums(df, lit(0),
        Seq(col("id").desc), Seq(lit(1L) -> "rnk", col("v") -> "cum"))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("rnk"), r.getAs[Long]("cum"))).toMap
    // descending id order: id 499 is rank 1; cum = suffix sums of v
    var (rank, cum) = (0L, 0L)
    (499 to 0 by -1).foreach { i =>
      rank += 1; cum += i % 7
      assert(out(i.toLong) == ((rank, cum)), s"at id $i")
    }
  }

  // ---- cache lifecycle: repeated calls must not accumulate blocks -------

  test("repeated prefix-sum-routed calls leave no catalog-pinned cache blocks") {
    val docs = (0 until 2000).map { i =>
      (i.toLong, s"src${i % 5}", (i % 100 + 1).toLong,
        s"tok$i word${i % 13} text body")
    }.toDF("doc_id", "source", "n_tokens", "text")
    val sc = spark.sparkContext
    def drainedTo(limit: Int): Boolean = {
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline) {
        System.gc()
        if (sc.getPersistentRDDs.size <= limit) return true
        Thread.sleep(250)
      }
      false
    }
    // settle: other suites share the session; drop what can be dropped
    // (pinned leftovers from suites that haven't run their cleanup yet
    // just raise the baseline — the assertion below is relative)
    spark.catalog.clearCache()
    val settleDeadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < settleDeadline
        && sc.getPersistentRDDs.nonEmpty) { System.gc(); Thread.sleep(250) }
    val baseline = sc.getPersistentRDDs.size
    for (_ <- 1 to 4) {
      assert(graft.llm.Corpus.packSequences(docs, blockTokens = 512).count() == 2000)
      assert(graft.llm.Corpus.vocabCoverage(docs, coverage = 0.5).count() > 0)
      assert(graft.llm.Sampling.tokenBudgetMixture(docs, col("n_tokens"),
        (0 until 5).map(i => s"src$i" -> 5000L).toMap).count() > 0)
    }
    // the transient range-partition caches are unpersisted inside each
    // call; the result checkpoints are ContextCleaner-owned and drain as
    // soon as the results above become unreachable — catalog-pinned
    // blocks (the r10 leak) would stay at 12 entries forever instead
    assert(drainedTo(baseline + 1),
      s"cached blocks did not drain: baseline $baseline, " +
        s"now ${sc.getPersistentRDDs.size} " +
        s"(${sc.getPersistentRDDs.values.map(_.name).mkString(", ")})")
  }

  // ---- mojibake: multi-pass repair ---------------------------------------

  test("fixMojibake passes=2 repairs triple-encoded text, default stays single-pass") {
    // "’" → UTF-8 E2 80 99 → cp1252 "â€™" (double) → again "Ã¢â‚¬â„¢" (triple)
    val df = Seq(
      "she said Ã¢â‚¬â„¢yesÃ¢â‚¬â„¢ then left",
      "price â‚¬5 brand â„¢ check",   // double-encoded € and ™ (new entries)
      "clean text stays clean").toDF("text")
    val two = df.select(graft.llm.Curation.fixMojibake(col("text"), passes = 2)
      .as("t")).collect().map(_.getString(0))
    assert(two(0) == "she said ’yes’ then left")
    assert(two(1) == "price €5 brand ™ check")
    assert(two(2) == "clean text stays clean")
    // single pass (the q180-locked default) strips exactly one layer
    val one = df.select(graft.llm.Curation.fixMojibake(col("text")).as("t"))
      .collect().map(_.getString(0))
    assert(one(0) == "she said â€™yesâ€™ then left")
    assert(one(1) == "price €5 brand ™ check")
  }

  // ---- winnowing fused kernel ≡ the interpreted-HOF formulation ----------

  test("WinnowingKernel is bit-identical to the expression-tree winnowing") {
    val texts = Seq(
      // repeated content → md5 ties inside windows (rightmost rule)
      "a b a b a b a b a b a b",
      "the quick brown fox jumps over the lazy dog again and again and again",
      "one two three four",            // m = 1 at k=4: single short window
      "x y z",                          // fewer than k tokens: filtered out
      "  padded   whitespace   tokens collapse here somehow ok then  ",
      "Mixed CASE Should Lower mixed case should lower MIXED case",
      (0 until 300).map(i => s"w${i % 23}").mkString(" ")) // long + periodic
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    for ((k, w) <- Seq((4, 5), (2, 3), (1, 1), (3, 8))) {
      val fused = graft.llm.Dedup.winnowingFingerprints(df, k, w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      // the pre-round-11 interpreted formulation, verbatim
      val toks = df.select(col("doc_id"),
          split(lower(trim(col("text"))), "\\s+").as("t"))
        .withColumn("len", when(array_join(col("t"), "") === "", 0)
          .otherwise(size(col("t"))))
        .filter(col("len") >= k)
      val hs = transform(sequence(lit(0), col("len") - k),
        i => md5(array_join(slice(col("t"), i + 1, lit(k)), " ")))
      val withHs = toks.select(col("doc_id"), hs.as("h"),
        (col("len") - k + 1).as("m"))
      val sel = array_distinct(
        transform(sequence(lit(0), greatest(col("m") - w, lit(0))), i => {
          val sl = slice(col("h"), i + 1, lit(w))
          val mn = array_min(sl)
          struct((i + size(sl) - array_position(reverse(sl), mn)).as("pos"),
            mn.as("fp"))
        }))
      val legacy = withHs.select(col("doc_id"), explode(sel).as("s"))
        .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(fused == legacy,
        s"fused/legacy winnowing diverged at k=$k w=$w: " +
          s"only-fused=${(fused -- legacy).take(5)} " +
          s"only-legacy=${(legacy -- fused).take(5)}")
    }
  }

  // ---- sampleWeightedK: weight-magnitude boundary ------------------------

  test("sampleWeightedK past the ~2e13 ceiling degrades to the key tiebreak, below it weights rule") {
    val big = (0 until 200).map(i => (i.toLong, (200.0 - i) * 3e13))
      .toDF("id", "w") // heaviest weights on the SMALLEST ids... and yet:
    val got = graft.llm.Sampling.sampleWeightedK(big, col("id"), col("w"), k = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    // every race key rounds to 0.000000000000 — selection is the pure id
    // tiebreak (the documented degradation), which HAPPENS to coincide
    // with the weight order here; the assertion that matters is the next
    // one, where reversing the weights changes nothing
    assert(got == (0L until 10L).toSet)
    val bigRev = (0 until 200).map(i => (i.toLong, (i + 1.0) * 3e13))
      .toDF("id", "w") // heaviest weights on the LARGEST ids
    val gotRev = graft.llm.Sampling
      .sampleWeightedK(bigRev, col("id"), col("w"), k = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gotRev == (0L until 10L).toSet,
      "above the ceiling the weight order must be invisible (keys all 0)")
    // same ratios rescaled into the documented band: weight order rules
    val sane = (0 until 200).map(i => (i.toLong, (i + 1.0) * 1e4))
      .toDF("id", "w")
    val gotSane = graft.llm.Sampling
      .sampleWeightedK(sane, col("id"), col("w"), k = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(gotSane != (0L until 10L).toSet,
      "inside the band the heavy tail must beat the id tiebreak")
    assert(gotSane.count(_ >= 100L) >= 7,
      s"heavy weights under-selected inside the band: $gotSane")
  }
}
