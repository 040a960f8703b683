package graft

import graft.llm.{Dedup, Similarity, TextAnalysis, Multimodal}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkFunSuite {
  import spark.implicits._

  private def docs() = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (3L, "completely different text about spark engines and shuffles"),
    (4L, "THE  Quick Brown   Fox jumps over the lazy dog") // dup modulo case/ws
  ).toDF("doc_id", "text")

  test("exactDedup groups by normalized content, keeps min id") {
    val groups = Dedup.exactGroups(docs()).collect()
    assert(groups.length == 3)
    val big = groups.find(_.getAs[Long]("n_dups") == 3).get
    assert(big.getAs[Long]("keep_id") == 0L) // 0, 1, 4 collapse
    val deduped = Dedup.exactDedup(docs())
    assert(deduped.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 3L))
  }

  test("identical texts share MinHash signatures; near-dups found above threshold") {
    val sigs = docs().select(col("doc_id"),
      Dedup.minHashSignature(col("text"), k = 16).as("sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) == sigs(4L)) // normalization folds case/whitespace
    assert(sigs(0L) != sigs(3L))
    val pairs = Dedup.minHashNearDups(docs(), k = 16, bands = 4, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) == 1.0)
    assert(!pairs.keys.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("SimHash: identical → 0 hamming, different → large hamming") {
    val sigs = docs().select(col("doc_id"), Dedup.simHash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) > 8)
    val nd = Dedup.simHashNearDups(docs(), maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 1L)))
  }

  test("jaccard expression on word sets") {
    val df = Seq(("a b c", "b c d")).toDF("x", "y")
    val j = df.select(Dedup.jaccard(
      array_distinct(split(col("x"), " ")),
      array_distinct(split(col("y"), " "))).as("j")).collect()(0).getDouble(0)
    assert(j == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("nearDupClusters: transitive chains collapse; singletons self-cluster") {
    // 0~1 and 1~2 are near-dups but 0~2 may be weaker — the cluster must
    // still unite all three (transitivity), and 3 stays alone
    val out = Dedup.nearDupClusters(docs(), threshold = 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 0L && out(1L) == 0L && out(2L) == 0L && out(4L) == 0L)
    assert(out(3L) == 3L) // unrelated text: its own cluster
  }

  test("nearDupClusters invariants on a seeded random corpus") {
    // seeded corpus with planted duplicate groups of varying size
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike")
    def sentence() = Seq.fill(12 + rnd.nextInt(8))(
      vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, sentence()))
    val planted = (0 until 8).flatMap { g =>
      val src = base(g)._2
      (1 to 1 + g % 3).map(c => ((100 + g * 10 + c).toLong, src))
    }
    val docs = (base ++ planted).toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(docs, threshold = 0.6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // partition: every doc appears exactly once
    assert(clusters.keySet == (base ++ planted).map(_._1).toSet)
    // every verified near-dup pair is co-clustered
    val pairs = Dedup.minHashNearDups(docs, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    // cluster id is the minimum member id
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid not keyed by min member")
    }
    // planted copies land with their source
    (0 until 8).foreach { g =>
      assert(clusters((100 + g * 10 + 1).toLong) == clusters(g.toLong),
        s"planted copy of doc $g not co-clustered")
    }
  }

  test("exactDedupKeepBest keeps the preferred copy, ties break to min id") {
    val d = Seq(
      (1L, "same text", 5L), (2L, "same text", 9L), (3L, "same text", 9L),
      (4L, "other text", 1L)
    ).toDF("doc_id", "text", "pref")
    val kept = Dedup.exactDedupKeepBest(d, col("pref")).collect()
      .map(_.getLong(0)).toSet
    // group "same text": pref 9 wins, tie (ids 2,3) → min id 2
    assert(kept == Set(2L, 4L), s"got $kept")
  }

  test("keepBestPerCluster keeps the max-preference row, ties to min id") {
    val docs = Seq(
      (0L, "a", 5.0), (1L, "a", 9.0), (2L, "a", 9.0), // one cluster, 1 and 2 tie on pref
      (7L, "b", 1.0)                                   // singleton
    ).toDF("doc_id", "text", "pref")
    val clusters = Seq((0L, 0L), (1L, 0L), (2L, 0L), (7L, 7L))
      .toDF("doc_id", "cluster_id")
    val kept = graft.llm.Dedup.keepBestPerCluster(docs, clusters, col("pref"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 7L)) // pref 9 beats 5; tie 1 vs 2 → min id; singleton stays
    val plan = graft.llm.Dedup.keepBestPerCluster(docs, clusters, col("pref"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "keep-best-per-cluster regressed to a window sort")
    intercept[IllegalArgumentException] {
      graft.llm.Dedup.keepBestPerCluster(
        docs.withColumn("doc_id", col("doc_id").cast("string")), clusters, col("pref"))
    }
  }

  test("keepClusterRepresentatives keeps exactly the cluster_id rows") {
    val docs = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"))
      .toDF("doc_id", "text")
    val clusters = Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 3L))
      .toDF("doc_id", "cluster_id")
    val kept = Dedup.keepClusterRepresentatives(docs, clusters).collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L))
  }

  test("clusterPairs: driver fast path == distributed atomizer path") {
    // chain 0-1-2-3, pair (10,11), singleton 20, plus a cross-link 3-10
    // merging two clusters transitively
    val ids = (Seq(0L, 1L, 2L, 3L, 10L, 11L, 20L)).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L), (3L, 10L))
      .toDF("id_a", "id_b")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val fast = key(graft.llm.Dedup.clusterPairs(ids, pairs))
    val dist = key(graft.llm.Dedup.clusterPairs(ids, pairs, driverMaxEdges = 0L))
    assert(fast == dist)
    assert(fast.toMap == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 0L, 11L -> 0L, 20L -> 20L))
  }

  test("clusterPairs collapses transitive chains over an external pair frame") {
    val ids = (0L to 5L).toDF("vec_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.clusterPairs(ids, pairs, "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L),
      s"got $out")
  }

  test("q29 corpus has no pairs in the banding-miss-prone Jaccard band") {
    // q29's gate is probabilistic-vs-exact (8×4 banding + estimate
    // prefilter vs all-pairs DuckDB Jaccard); it is only deterministic
    // because every ≥0.55 pair in the corpus sits at j ≥ 0.9, where
    // per-pair banding recall is 1-(1-j⁴)⁸ ≈ 0.9998. This test pins that
    // property so a regenerated documents table can't silently turn the
    // gate flaky (see LlmQueries.docsWithDups).
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val docs = graft.queries.LlmQueries.docsWithDups(spark, "/root/testdata/sf0.01")
    val sh = docs.select(col("doc_id").as("id"),
      array_distinct(Dedup.shingles(col("text"))).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val risky = a.join(b, col("id_a") < col("id_b"))
      .select(Dedup.jaccard(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= 0.55 && col("j") < 0.9)
      .count()
    assert(risky == 0,
      "documents corpus now has near-dup pairs in [0.55, 0.9) where LSH " +
        "banding recall is materially < 1 — q29's exact oracle can flake; " +
        "regenerate the corpus or adjust the q29 threshold/banding")
  }

  test("embedding near-dups: identical vectors found with cosine 1") {
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDups(embs, threshold = 0.99, planes = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(nd.toSeq == Seq((0L, 1L, 1.0)))
  }

  test("star repair keeps full recall on an exact-dup cluster larger than the cap") {
    // 40 identical vectors, cap 8: every level-1 bucket holds all 40 rows,
    // and refinement cannot split them (identical vectors share every
    // signature bit) — the pre-star guard would have dropped the bucket and
    // returned ZERO pairs for exactly the most common real dedup target.
    // Star repair pairs each copy with the min-id representative instead:
    // full cluster recall at linear (n−1) pair cost.
    val embs = (0L until 40L).map(i => (i, Seq(0.6f, 0.8f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = Dedup.embeddingNearDups(embs, threshold = 0.99,
      planes = 8, bands = 4, maxBucketSize = 8, refinePlanes = 8).collect()
    assert(rows.forall(_.getDouble(2) > 0.999))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (1L until 40L).map(i => (0L, i)).toSet,
      s"expected exactly the 39 star pairs, got ${pairs.size}")
    val stats = Dedup.embeddingBucketStats(embs,
      planes = 8, bands = 4, maxBucketSize = 8, refinePlanes = 8)
    assert(stats.filter(col("status") === "star").count() > 0,
      "stats surface does not report the star-degraded bucket")
  }

  test("minhash guard: mega exact-dup cluster degrades to star pairs, clusters whole") {
    // 120 identical docs + 5 distinct ones, cap 16: every band bucket holds
    // all 120 copies, the full-signature re-key cannot split them (identical
    // text → identical signature), so the guard degrades the bucket to its
    // star set — 119 (rep, member) pairs instead of 7140 member pairs. The
    // unguarded pre-r7 band join emitted all 7140 at every scale: a 1M-copy
    // boilerplate cluster in a real crawl is 5·10^11 pairs per band.
    val docs = ((0L until 120L).map(i => (i, "the same boilerplate page text repeated here")) ++
      Seq((200L, "alpha beta gamma delta epsilon zeta"),
        (201L, "one two three four five six seven"),
        (202L, "lorem ipsum dolor sit amet consectetur"),
        (203L, "spark scala dataset dataframe column row"),
        (204L, "quick brown fox jumps over the lazy dog")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDups(docs, threshold = 0.9, maxBucketSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (1L until 120L).map(i => (0L, i)).toSet,
      s"expected exactly the 119 star pairs, got ${pairs.size}")
    // transitive clustering restores the full cluster through the rep
    val clusters = Dedup.nearDupClusters(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L until 120L).forall(clusters(_) == 0L))
    assert(Seq(200L, 201L, 202L, 203L, 204L).forall(i => clusters(i) == i))
    // the monitoring hook reports the star degradation the operator took:
    // every band's mega bucket shows refined → star, and the distinct docs'
    // buckets stay ok — so an operator watching the stats sees the recall
    // mode BEFORE trusting the pair set (same surface as embeddingBucketStats)
    val stats = Dedup.minHashBucketStats(docs, maxBucketSize = 16).cache()
    try {
      assert(stats.filter(col("status") === "star").count() == 8,
        "each of the 8 bands should report its mega bucket as star-degraded")
      assert(stats.filter(col("status").isin("ok", "kept"))
        .agg(max("n")).head().getLong(0) <= 16)
      // level-1 totals account for every (doc, band) row: 125 docs × 8 bands
      assert(stats.filter(col("sub").isNull).agg(sum("n")).head().getLong(0)
        == 125L * 8)
    } finally stats.unpersist()
  }

  test("crossCorpusNearDups matches across sides only; dedupAgainstCorpus drops the matched") {
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),   // exact dup of ref 0
      (11L, "the quick brown fox jumps over the sleepy dog"), // near dup of ref 0
      (12L, "completely unrelated text about spark engines and shuffles"),
      (13L, "alpha beta gamma delta epsilon zeta eta theta")  // dup of new 14: must NOT pair
    ).toDF("doc_id", "text")
    val newDocs2 = newDocs.unionByName(
      Seq((14L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"))
    val refDocs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "one two three four five six seven eight nine"),
      (2L, "one two three four five six seven eight nine")   // ref-internal dup: must NOT pair
    ).toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusNearDups(newDocs2, refDocs,
      k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((10L, 0L)) && pairs((10L, 0L)) == 1.0)
    assert(pairs.contains((11L, 0L)) && pairs((11L, 0L)) > 0.5)
    // no same-side pairs in either direction, no unrelated matches
    assert(pairs.keySet.forall { case (n, r) => n >= 10L && r < 10L })
    assert(!pairs.keySet.exists { case (n, _) => n == 12L || n == 13L || n == 14L })
    val kept = Dedup.dedupAgainstCorpus(newDocs2, refDocs,
      threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // default k=32/bands=8 banding still catches the j=1 and j≈0.8 pairs
    assert(kept == Seq(12L, 13L, 14L))
    spark.catalog.clearCache()
  }

  test("cross-corpus guard: mega cluster spanning sides degrades to new↔ref-rep stars") {
    // 80 identical copies on each side + distinct fillers, cap 8: every
    // shared band bucket holds 80×80 cross candidates, the full-signature
    // re-key cannot split identical text, so each NEW member pairs exactly
    // once — with the min-id REF member — and verification scores j = 1.
    val mega = "the same boilerplate page text repeated here verbatim"
    val newDocs = ((1000L until 1080L).map(i => (i, mega)) ++
      Seq((2000L, "alpha beta gamma delta epsilon zeta"),
        (2001L, "quick brown fox jumps over the lazy dog")))
      .toDF("doc_id", "text")
    val refDocs = ((0L until 80L).map(i => (i, mega)) ++
      Seq((500L, "lorem ipsum dolor sit amet consectetur"),
        (501L, "spark scala dataset dataframe column row")))
      .toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusNearDups(newDocs, refDocs,
      threshold = 0.9, maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (1000L until 1080L).map(i => (i, 0L)).toSet,
      s"expected exactly the 80 (new, ref-rep) star pairs, got ${pairs.size}")
    // the consuming step: every mega copy in the new batch is dropped
    val kept = Dedup.dedupAgainstCorpus(newDocs, refDocs,
      threshold = 0.9, maxBucketSize = 8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2000L, 2001L))
    spark.catalog.clearCache()
  }

  test("lshParameterPlan enumerates divisor configs with valid masses") {
    val rows = Dedup.lshParameterPlan(spark, nPerms = 128, threshold = 0.8)
      .collect()
    assert(rows.length == 8) // divisors of 128: 1,2,4,8,16,32,64,128
    rows.foreach { r =>
      assert(r.getLong(0) * r.getLong(1) == 128L) // b·r = nPerms
      val (fp, fn, tot) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(fp >= 0 && fn >= 0 && tot >= 0 && fp <= 1 && fn <= 1)
      assert(math.abs(fp + fn - tot) < 2e-6) // each rounded to 6
    }
    val chosen = rows.filter(_.getBoolean(5))
    assert(chosen.nonEmpty)
    val minTotal = rows.map(_.getDouble(4)).min
    assert(chosen.forall(_.getDouble(4) == minTotal))
    // extremes are never optimal at t=0.8: b=128,r=1 collides everything
    // (all fp), b=1,r=128 collides nothing (all fn)
    assert(chosen.forall(r => r.getLong(1) > 1 && r.getLong(1) < 128))
  }

  test("simhash guard: mega exact-dup cluster degrades to star pairs") {
    val docs = ((0L until 80L).map(i => (i, "identical page content for the simhash cluster")) ++
      Seq((300L, "completely different words appear in this document")))
      .toDF("doc_id", "text")
    val rows = Dedup.simHashNearDups(docs, maxDist = 3, maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == (1L until 80L).map(i => (0L, i)).toSet,
      s"expected exactly the 79 star pairs, got ${rows.size}")
    // the simhash stats hook reports the same degradation (4 bands)
    val stats = Dedup.simHashBucketStats(docs, maxBucketSize = 8)
    assert(stats.filter(col("status") === "star").count() == 4)
    assert(stats.filter(col("sub").isNull).agg(sum("n")).head().getLong(0)
      == 81L * 4)
  }

  test("embedding LSH skew guard bounds candidate volume on the clustered corpus") {
    // The synthetic embeddings are correlated: without the guard, 16/4
    // banding makes ~85% of all pairs candidates (measured). This pins the
    // guard's contract at the q59 gate parameters (cap 256, 12 refine bits):
    // every bucket entering candidate generation obeys the cap, the
    // oversized path is actually exercised, total candidate volume is far
    // below quadratic, and recall on exact copies is untouched.
    assume(new java.io.File("/root/testdata/sf0.1").isDirectory)
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val copies = embs.orderBy("vec_id").limit(20)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val corpus = embs.unionByName(copies)
    val n = corpus.count()
    val stats = Dedup.embeddingBucketStats(corpus,
      maxBucketSize = 256, refinePlanes = 12).cache()
    try {
      val maxJoinable = stats.filter(col("status").isin("ok", "kept"))
        .agg(max("n")).head().getLong(0)
      assert(maxJoinable <= 256, s"bucket of $maxJoinable rows entered the join")
      assert(stats.filter(col("status") === "refined").count() > 0,
        "corpus no longer exercises the oversized-bucket path — " +
          "re-measure and retune the q59 gate parameters")
      val volume = stats.filter(col("status").isin("ok", "kept"))
        .agg(sum(col("n") * (col("n") - 1) / 2)).head().getDouble(0)
      assert(volume < n * n / 8.0,
        f"candidate volume $volume%.0f is not materially sub-quadratic (n=$n)")
      // refinement preserves exact-copy recall: identical vectors share all
      // signature bits, so every copy pair survives the re-keying
      val copyPairs = Dedup.embeddingNearDups(corpus, threshold = 0.95,
        planes = 16, bands = 4, maxBucketSize = 256, refinePlanes = 12)
        .filter(col("id_b") === col("id_a") + 1000000L).count()
      assert(copyPairs == 20L)
    } finally stats.unpersist()
  }
}

class SimilaritySpec extends SparkFunSuite {
  import spark.implicits._

  test("cosine of known vectors") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)),
      (Seq(1.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
    val vals = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(vals(0) == 0.0)
    assert(math.abs(vals(1) - 1.0) < 1e-12)
    assert(math.abs(vals(2) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val embs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") === 0), k = 3)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id"))
    assert(top.toSeq == Seq(1L, 3L, 2L))
  }

  test("lshTopK finds the identical vector (same bucket) as top hit") {
    val embs = (0 until 50).map(i =>
      (i.toLong, Seq.tabulate(8)(j => ((i * 7 + j * 13) % 17 - 8).toFloat))).toDF("vec_id", "embedding")
    val withDup = embs.unionByName(
      Seq((100L, Seq.tabulate(8)(j => ((3 * 7 + j * 13) % 17 - 8).toFloat))).toDF("vec_id", "embedding"))
    val res = Similarity.lshTopK(withDup, withDup.filter(col("vec_id") === 100L), k = 5, planes = 4)
      .filter(col("rank") === 1).collect()
    assert(res.length == 1)
    assert(res(0).getAs[Long]("neighbor_id") == 3L) // the identical vector
    assert(math.abs(res(0).getAs[Double]("cosine") - 1.0) < 1e-12)
  }
}

class SamplingSpec extends SparkFunSuite {
  import spark.implicits._
  import graft.llm.Sampling

  private def docs() = (0 until 400).map(i =>
    (i.toLong, s"src${i % 4}", (i % 7 + 1).toLong)).toDF("doc_id", "source", "n_tokens")

  test("composed sample→mixture→packing chain is partition-invariant") {
    // the q107 end-to-end shape: every stage's decisions derive from
    // md5 uniforms and total orders (u, doc_id), so the SAME summary must
    // come out regardless of how the input happens to be partitioned —
    // the engine's determinism doctrine (no rand(), no
    // monotonically_increasing_id) holds through composition, not just
    // per operator
    def run(input: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, Long)] = {
      val sampled = Sampling.hashSample(input, col("doc_id"), 0.5, "inv")
      val mixed = Sampling.tokenBudgetMixture(sampled, col("n_tokens"),
        Map("src0" -> 50L, "src1" -> 40L, "src2" -> 30L), salt = "invm")
      graft.llm.Corpus.packSequences(mixed, blockTokens = 16,
        orderCol = "doc_id", tokensCol = "n_tokens")
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("t"),
          countDistinct(col("pack_id")).as("p"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    }
    val base = docs()
    val a = run(base.repartition(1))
    val b = run(base.repartition(17, col("n_tokens")))
    val c = run(base.orderBy(desc("doc_id")).repartition(5))
    assert(a == b && b == c, s"partitioning changed the chain output: $a vs $b vs $c")
    assert(a.keySet == Set("src0", "src1", "src2")) // unbudgeted src3 dropped
  }

  test("hashSample is deterministic, salt-sensitive, and near the target rate") {
    val a1 = Sampling.hashSample(docs(), col("doc_id"), 0.25, "s1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val a2 = Sampling.hashSample(docs(), col("doc_id"), 0.25, "s1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(docs(), col("doc_id"), 0.25, "s2")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a1 == a2, "same salt must reproduce the same sample")
    assert(a1 != b, "different salt must redraw")
    assert(math.abs(a1.size - 100) < 40, s"rate far off: ${a1.size}/400 at 0.25")
    // nested property: a tighter threshold is a subset of a looser one
    val tight = Sampling.hashSample(docs(), col("doc_id"), 0.1, "s1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tight.subsetOf(a1))
  }

  test("stratifiedSample applies per-stratum rates") {
    val out = Sampling.stratifiedSample(docs(), col("source"),
      Map("src0" -> 1.0, "src1" -> 0.0), col("doc_id"), "s")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("src0") == 100, "rate 1.0 stratum must keep everything")
    assert(!out.contains("src1"), "rate 0.0 stratum must drop everything")
    assert(!out.contains("src2"), "unlisted strata default to rate 0")
  }

  test("tokenBudgetMixture fills each budget minimally; rate variant lands near budget") {
    val budgets = Map("src0" -> 50L, "src1" -> 25L)
    val kept = Sampling.tokenBudgetMixture(docs(), col("n_tokens"), budgets)
    val sums = kept.groupBy("source").agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact: total reaches the budget and overshoots by < one max doc (7)
    assert(sums("src0") >= 50 && sums("src0") < 57, s"src0 fill ${sums("src0")}")
    assert(sums("src1") >= 25 && sums("src1") < 32, s"src1 fill ${sums("src1")}")
    assert(sums.size == 2, "unbudgeted sources must be dropped")
    val rateSums = Sampling.mixtureByRate(docs(), col("n_tokens"), budgets)
      .groupBy("source").agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rateSums.keySet.subsetOf(Set("src0", "src1")))
    // expected-value fill: within 3x either way at this tiny n
    assert(rateSums.getOrElse("src0", 0L) > 10 && rateSums("src0") < 150)
  }

  test("mixtureByRate under 90% skew: expected-value fill within tolerance, no window") {
    // one source owns 90% of rows — the exact variant's worst case, the
    // rate variant's home turf. 2700 docs x 10 tokens in 'big'.
    val skewed = (0L until 3000L).map { i =>
      (i, if (i % 10 == 0) s"small${i / 10 % 2}" else "big", 10L)
    }.toDF("doc_id", "source", "n_tokens")
    val budgets = Map("big" -> 9000L, "small0" -> 500L, "small1" -> 1000L)
    val out = Sampling.mixtureByRate(skewed, col("n_tokens"), budgets, salt = "sk")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"rate path must stay window-free:\n$plan")
    val sums = out.groupBy("source").agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // big: 2700 docs, rate 9000/27000 = 1/3 → ~900 kept; binomial sd
    // ~sqrt(2700*(1/3)(2/3)) ≈ 24.5 docs → assert within ±5 sd (±1225 tok)
    assert(math.abs(sums("big") - 9000L) <= 1250,
      s"big fill ${sums("big")} outside tolerance of 9000")
    // small0: 150 docs x 10 tok, rate 1/3 → 500 ± 5·sd(~5.8 docs)=290
    assert(math.abs(sums.getOrElse("small0", 0L) - 500L) <= 300,
      s"small0 fill ${sums.getOrElse("small0", 0L)} outside tolerance of 500")
    assert(math.abs(sums.getOrElse("small1", 0L) - 1000L) <= 350,
      s"small1 fill ${sums.getOrElse("small1", 0L)} outside tolerance of 1000")
  }

  test("repetitionSignals: planted repeated n-grams are measured exactly") {
    val d = Seq(
      (1L, "a b a b a b"),         // bigrams: "a b"x3, "b a"x2 → top 3/5
      (2L, "x y z w v u")          // all distinct: top 1/5, dup tri 0
    ).toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.repetitionSignals(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 3L)
    assert(math.abs(out(1L).getDouble(2) - 0.6) < 1e-12)
    // trigrams of doc1: "a b a","b a b","a b a","b a b" → all dup → frac 1
    assert(math.abs(out(1L).getDouble(3) - 1.0) < 1e-12)
    assert(out(2L).getLong(1) == 1L)
    assert(out(2L).getDouble(3) == 0.0)
  }
}

class DedupStorageSpec extends SparkFunSuite {
  import spark.implicits._
  import graft.llm.Dedup

  private def docs() = (0 until 40).map(i =>
    (i.toLong, if (i % 4 == 0) "the quick brown fox jumps over the lazy dog"
               else s"unique text number $i about spark engines and shuffles"))
    .toDF("doc_id", "text")

  test("minHashNearDups persists its wide frames with spill-to-disk storage") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minHashNearDups(docs()).count()
    val fresh = spark.sparkContext.getPersistentRDDs.view
      .filterKeys(!before.contains(_)).values.map(_.getStorageLevel).toSeq
    // shingled + base, both MEMORY_AND_DISK (100-TB path: wide shingle
    // arrays must spill, not evict-and-recompute)
    assert(fresh.nonEmpty, "expected persisted frames after materialization")
    assert(fresh.forall(_.useDisk), s"memory-only persist leaked in: $fresh")
    spark.catalog.clearCache()
  }

  test("whitening re-spreads the LSH buckets of a mean-offset corpus") {
    // origin-hyperplane LSH collapses when ⟨μ, h⟩ dominates every
    // projection; whiten=true centers first. Pin max level-1 occupancy
    // dropping — the property q89 gates with full counts at sf0.01.
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    val offset = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") + 3.0).as("embedding"))
    def maxOcc(w: Boolean): Long =
      Dedup.embeddingBucketStats(offset, whiten = w)
        .filter(col("sub").isNull).agg(max(col("n"))).head().getLong(0)
    val (raw, wh) = (maxOcc(false), maxOcc(true))
    val n = offset.count()
    assert(raw == n, s"offset corpus should collapse to one bucket: $raw of $n")
    assert(wh < raw, s"whitening must reduce max occupancy: raw=$raw whitened=$wh")
  }

  test("embeddingNearDups releases its guard-internal caches after the pair job") {
    spark.catalog.clearCache()
    // 8 identical vectors force level-1 overflow (cap 2) → refinement can't
    // split identical signatures → star repair path, all guard branches hit
    val embs = ((0 until 8).map(i => (i.toLong, Seq(1.0f, 2.0f, 3.0f, 4.0f))) ++
      (8 until 20).map(i => (i.toLong, Seq.tabulate(4)(j => (i * 7 + j * 13) % 17 - 8f))))
      .toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Dedup.embeddingNearDups(embs, threshold = 0.99,
      planes = 4, bands = 2, maxBucketSize = 2, refinePlanes = 4)
    pairs.count()
    val freshLevels = spark.sparkContext.getPersistentRDDs.view
      .filterKeys(!before.contains(_)).values.map(_.getStorageLevel).toSeq
    // survivors: base + the localCheckpointed pair blocks — the three
    // guard-internal persists (over1/keyed/tagged) must be gone
    assert(freshLevels.size <= 3,
      s"guard caches leaked: ${freshLevels.size} fresh persisted RDDs")
    assert(freshLevels.forall(_.useDisk), s"memory-only persist leaked in: $freshLevels")
    // and the star-repair semantics survived the restructure: the 8
    // identical vectors all pair (directly or via the representative)
    val ids = pairs.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert((0L until 8L).forall(ids.contains), s"identical-cluster recall lost: $ids")
    spark.catalog.clearCache()
  }
}

class StandardizeSpec extends SparkFunSuite {
  import spark.implicits._
  import graft.llm.Similarity

  test("standardizeEmbeddings z-scores per dimension; zero-variance dims center only") {
    val embs = Seq(
      (1L, Seq(0.0f, 2.0f, 5.0f)),
      (2L, Seq(2.0f, 4.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.standardizeEmbeddings(embs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // d0: μ=1 σ=1 → ∓1; d1: μ=3 σ=1 → ∓1; d2: σ=0 → centered to 0
    assert(out(1L).zip(Seq(-1.0, -1.0, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(out(2L).zip(Seq(1.0, 1.0, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
  }

  test("round(z,4) + 0.0 normalizes IEEE negative zero (q83 hash fix)") {
    // a z that is negative but rounds to zero at 4 decimals must come out
    // as +0.0 (sign bit clear): DuckDB's round keeps -0.0, Spark's doesn't,
    // and the driver's hash compare is byte-exact. `+ 0.0` fixes both sides.
    val df = Seq(-0.000049, -1e-12, 1e-12, 0.0)
      .toDF("z").select((round(col("z"), 4) + lit(0.0)).as("z"))
    val bits = df.collect()
      .map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0)))
    assert(bits.forall(_ == 0L), s"expected all +0.0, got raw bits ${bits.toSeq}")
  }

  test("standardizeEmbeddings passes an empty embedding array through") {
    val embs = Seq((1L, Seq(1.0f, 3.0f)), (2L, Seq(3.0f, 5.0f)), (3L, Seq.empty[Float]))
      .toDF("vec_id", "embedding")
    val out = Similarity.standardizeEmbeddings(embs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(3L).isEmpty)
    assert(out(1L).forall(math.abs(_) == 1.0))
  }

  test("documents corpus is pure ASCII — the q82 byte/char oracle equivalence") {
    // q82's DuckDB oracle slices VARCHAR characters while Spark slices
    // payload BYTES; they agree iff the corpus stays ASCII. Pin that
    // property so a regenerated multi-byte corpus fails HERE with a clear
    // message, not as a confusing q82 hash mismatch (q29-caveat pattern).
    assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val nonAscii = docs.filter(
      length(encode(col("text"), "UTF-8")) =!= length(col("text"))).count()
    assert(nonAscii == 0,
      "documents.text contains multi-byte characters — update the q82 oracle " +
        "to byte-safe slicing (octet_length(encode(...)) idiom) before trusting it")
  }
}

class TextAnalysisSpec extends SparkFunSuite {
  import spark.implicits._

  test("tokenCount handles empties and multi-space") {
    val df = Seq("", "  ", "a", "a  b", "a b c").toDF("t")
    val counts = df.select(TextAnalysis.tokenCount(col("t"))).collect().map(_.getInt(0))
    assert(counts.toSeq == Seq(0, 0, 1, 2, 3))
  }

  test("ratios and mean word length") {
    val df = Seq("ab cd!").toDF("t")
    val r = df.select(
      TextAnalysis.punctRatio(col("t")),
      TextAnalysis.meanWordLength(col("t"))).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0 / 6) < 1e-12)
    assert(r.getDouble(1) == 2.5) // ("ab"=2 + "cd!"=3) / 2
  }

  test("langId picks the vocabulary with most hits, und when none") {
    val df = Seq(
      "the cat and the dog of the house",
      "le chat et la maison de la ville est que",
      "der hund und die katze ist ein tier",
      "xyzzy qwerty").toDF("t")
    val langs = df.select(TextAnalysis.langId(col("t"))).collect().map(_.getString(0))
    assert(langs.toSeq == Seq("en", "fr", "de", "und"))
  }

  test("fingerprint is whitespace/case-normalized md5") {
    val df = Seq(("Hello  World", "hello world")).toDF("a", "b")
    val r = df.select(TextAnalysis.fingerprint(col("a")).as("fa"),
      TextAnalysis.fingerprint(col("b")).as("fb")).collect()(0)
    assert(r.getString(0) == r.getString(1))
  }

  test("repetitionRatio: distinct share of lowercased tokens") {
    val df = Seq("a A a b", "a b c d", "").toDF("t")
    val r = df.select(TextAnalysis.repetitionRatio(col("t"))).collect().map(_.getDouble(0))
    assert(r(0) == 0.5)  // {a, b} of 4 tokens
    assert(r(1) == 0.0)
    assert(r(2) == 0.0)
  }

  test("qualityRules emits ordered reasons and keep verdict") {
    val df = Seq(
      "the cat sat on the mat with a hat and a bat near the flat",  // clean
      "spam spam spam spam spam spam",                              // repetitive+short+no stopwords
      "ok").toDF("t")                                               // too short
    val v = TextAnalysis.qualityRules(col("t"), minTokens = 5,
      minStopwordRatio = 0.05, maxRepetitionRatio = 0.5)
    val rows = df.select(v.getField("keep").as("k"),
      concat_ws(",", v.getField("reasons")).as("r")).collect()
    assert(rows(0).getBoolean(0) && rows(0).getString(1) == "")
    assert(!rows(1).getBoolean(0) &&
      rows(1).getString(1) == "low_stopword,repetitive")
    assert(!rows(2).getBoolean(0) &&
      rows(2).getString(1).startsWith("too_short"))
    // qualityFilter keeps exactly the passing rows
    assert(TextAnalysis.qualityFilter(df, "t", minTokens = 5,
      minStopwordRatio = 0.05, maxRepetitionRatio = 0.5).count() == 1)
  }

  test("qualityScore rewards stopword-rich prose, penalizes noise") {
    val df = Seq(
      "the quick brown fox is on the hill and it is a fine day for all of us to be here today",
      "!!! ### $$$ 12345 67890 @@@@").toDF("t")
    val q = df.select(TextAnalysis.qualityScore(col("t"))).collect().map(_.getDouble(0))
    assert(q(0) > 0.7)
    assert(q(1) < 0.3)
  }
}

class MultimodalSpec extends SparkFunSuite {
  import spark.implicits._

  private def media() = Seq(
    (0L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), "image"),
    (1L, Array[Byte](10, 20, 30), "image"),
    (2L, Array.tabulate[Byte](64)(_.toByte), "video"),
    (3L, null.asInstanceOf[Array[Byte]], "image")
  ).toDF("media_id", "payload", "media_type")

  test("extractFeatures is deterministic and handles nulls") {
    val f1 = Multimodal.extractFeatures(media(), partitions = 2).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media(), partitions = 4).collect().sortBy(_.media_id)
    assert(f1.map(_.feature.toSeq).toSeq == f2.map(_.feature.toSeq).toSeq)
    assert(f1.map(_.n_bytes).toSeq == Seq(8, 3, 64, 0))
    assert(f1.last.feature.forall(_ == 0.0f))
    assert(f1.head.feature.length == 8)
  }

  test("sampleFrames fans out n rows per video with sliced payloads") {
    val frames = Multimodal.sampleFrames(media(), n = 4).collect()
    assert(frames.length == 4)
    assert(frames.map(_.getAs[Int]("frame_idx")).sorted.toSeq == Seq(0, 1, 2, 3))
    val sizes = frames.map(r => r.getAs[Array[Byte]]("frame_payload").length)
    assert(sizes.forall(_ == 16))
  }

  private def animatedGif(w: Int, h: Int, values: Seq[Int]): Array[Byte] = {
    import java.awt.image.{BufferedImage, IndexColorModel}
    val gray = Array.tabulate(256)(_.toByte)
    val icm = new IndexColorModel(8, 256, gray, gray, gray)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    wr.setOutput(ios)
    wr.prepareWriteSequence(null)
    values.foreach { v =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, icm)
      val r = img.getRaster
      for (y <- 0 until h; x <- 0 until w) r.setSample(x, y, 0, v)
      wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    wr.endWriteSequence(); wr.dispose(); ios.close()
    bos.toByteArray
  }

  test("decodeFramesKernel: animated GIF decodes real frames with exact means") {
    // 5 frames, sample 3 → evenly spaced indices k*5/3 = 0, 1, 3
    val payload = animatedGif(8, 6, Seq(17, 113, 240, 55, 201))
    val frames = Multimodal.decodeFramesKernel(1L, payload, n = 3)
    assert(frames.map(_.frame_idx) == Seq(0, 1, 3))
    assert(frames.forall(f => f.decode_ok && f.format == "gif" &&
      f.n_frames == 5 && f.width == 8 && f.height == 6 && f.channels == 1))
    // identity grayscale palette → decoded sample == planted palette index
    // (sampled frames 0, 1, 3 carry planted values 17, 113, 55)
    assert(frames.map(_.mean_channel.head) == Seq(17.0, 113.0, 55.0))
    // total <= n → every frame (h >= 5: the JDK GIF writer corrupts the
    // last row of height-4 images — scanned in round 7)
    val all = Multimodal.decodeFramesKernel(2L, animatedGif(4, 5, Seq(9, 8)), n = 3)
    assert(all.map(_.frame_idx) == Seq(0, 1))
    assert(all.map(_.mean_channel.head) == Seq(9.0, 8.0))
  }

  test("decodeFramesKernel: single-image container emits one frame; garbage fails closed") {
    import java.awt.image.BufferedImage
    val png = new BufferedImage(5, 3, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 5) png.setRGB(x, y, (10 << 16) | (20 << 8) | 30)
    val one = Multimodal.decodeFramesKernel(1L, encode(png, "png"), n = 4)
    assert(one.length == 1 && one.head.n_frames == 1 && one.head.decode_ok)
    assert(one.head.mean_channel.toSeq == Seq(10.0, 20.0, 30.0))
    for (bad <- Seq("junk".getBytes("US-ASCII"), null, Array.empty[Byte])) {
      val f = Multimodal.decodeFramesKernel(9L, bad, n = 4)
      assert(f.length == 1 && !f.head.decode_ok && f.head.n_frames == 0)
    }
  }

  test("decodeFrames distributes the kernel and preserves per-payload fan-out") {
    val rows = Seq(
      (0L, animatedGif(4, 5, Seq(1, 2, 3, 4, 5, 6, 7))), // 7 frames → 3 sampled
      (1L, animatedGif(4, 5, Seq(42))),                   // 1 frame
      (2L, "nope".getBytes("US-ASCII")),                  // fail-closed row
      (3L, null.asInstanceOf[Array[Byte]])
    ).toDF("media_id", "payload")
    val out = Multimodal.decodeFrames(rows, n = 3, partitions = 2)
      .collect().sortBy(f => (f.media_id, f.frame_idx))
    assert(out.count(_.media_id == 0L) == 3)
    assert(out.filter(_.media_id == 0L).map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(out.filter(_.media_id == 0L).map(_.mean_channel.head).toSeq == Seq(1.0, 3.0, 5.0))
    assert(out.count(_.media_id == 1L) == 1 && out.find(_.media_id == 1L).get.decode_ok)
    assert(out.filter(f => f.media_id >= 2L).forall(f => !f.decode_ok))
    assert(out.length == 6)
  }

  test("resizeMeta rewrites the meta struct") {
    val m = media().withColumn("meta", struct(lit(100).as("width"), lit(50).as("height"),
      lit(0L).as("duration_ms"), lit("png").as("format")))
    val out = Multimodal.resizeMeta(m, 224, 224).select("meta.width", "meta.format").collect()(0)
    assert(out.getInt(0) == 224 && out.getString(1) == "png+resized")
  }

  private def encode(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  test("decodeImageKernel: real PNG round-trips dims, bands and exact means") {
    import java.awt.image.BufferedImage
    val rgb = new BufferedImage(7, 5, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 7) rgb.setRGB(x, y, (200 << 16) | (100 << 8) | 50)
    val d = Multimodal.decodeImageKernel(1L, encode(rgb, "png"))
    assert(d.decode_ok && d.format == "png")
    assert(d.width == 7 && d.height == 5 && d.channels == 3)
    assert(d.mean_channel.toSeq == Seq(200.0, 100.0, 50.0)) // lossless: exact

    val gray = new BufferedImage(4, 3, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 3; x <- 0 until 4) gray.getRaster.setSample(x, y, 0, 77)
    val g = Multimodal.decodeImageKernel(2L, encode(gray, "png"))
    assert(g.decode_ok && g.channels == 1 && g.mean_channel.toSeq == Seq(77.0))
  }

  test("decodeImageKernel: JPEG dims exact, non-solid PNG means exact") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(9, 4, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 9) img.setRGB(x, y, (30 << 16) | (60 << 8) | 90)
    val j = Multimodal.decodeImageKernel(3L, encode(img, "jpg"))
    assert(j.decode_ok && j.format == "jpeg" && j.width == 9 && j.height == 4 && j.channels == 3)

    // gradient PNG: mean of 0..255 over one row of 256 px = 127.5 exactly
    val grad = new BufferedImage(256, 1, BufferedImage.TYPE_BYTE_GRAY)
    for (x <- 0 until 256) grad.getRaster.setSample(x, 0, 0, x)
    val gd = Multimodal.decodeImageKernel(4L, encode(grad, "png"))
    assert(gd.mean_channel.toSeq == Seq(127.5))
  }

  test("decodeImageKernel: GIF and BMP containers decode too") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(6, 4, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6) img.setRGB(x, y, (10 << 16) | (20 << 8) | 30)
    val bmp = Multimodal.decodeImageKernel(1L, encode(img, "bmp"))
    assert(bmp.decode_ok && bmp.format == "bmp" && bmp.width == 6 && bmp.height == 4)
    assert(bmp.channels == 3 && bmp.mean_channel.toSeq == Seq(10.0, 20.0, 30.0))
    val gif = Multimodal.decodeImageKernel(2L, encode(img, "gif"))
    // GIF decodes to an indexed raster: 1 band of palette indices
    assert(gif.decode_ok && gif.format == "gif" && gif.width == 6 && gif.height == 4)
    assert(gif.channels == 1)
  }

  test("decodeImageKernel: corrupt / truncated / null payloads fail closed") {
    val bad = Multimodal.decodeImageKernel(5L, "this is not an image".getBytes)
    assert(!bad.decode_ok && bad.format == "unknown" && bad.width == 0 && bad.channels == 0)
    val nul = Multimodal.decodeImageKernel(6L, null)
    assert(!nul.decode_ok && nul.n_bytes == 0)
    // PNG magic but garbage body: sniff says png, decode must still fail closed
    val trunc = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, 1, 2, 3)
    val t = Multimodal.decodeImageKernel(7L, trunc)
    assert(!t.decode_ok && t.format == "png")
  }

  test("decodeAudioKernel: real WAV header round-trips rate/channels/frames") {
    def wav(sr: Int, ch: Int, frames: Int): Array[Byte] = {
      val ba = ch * 2
      val dataLen = frames * ba
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + dataLen).put("WAVE".getBytes)
        .put("fmt ".getBytes).putInt(16).putShort(1).putShort(ch.toShort)
        .putInt(sr).putInt(sr * ba).putShort(ba.toShort).putShort(16)
        .put("data".getBytes).putInt(dataLen)
      bb.array()
    }
    val d = Multimodal.decodeAudioKernel(1L, wav(16000, 2, 320))
    assert(d.decode_ok && d.format == "wav")
    assert(d.sample_rate == 16000 && d.channels == 2 && d.bits == 16)
    assert(d.n_frames == 320 && d.duration_ms == 20L) // 320/16000 s
    val bad = Multimodal.decodeAudioKernel(2L, "RIFFnot a wave".getBytes)
    assert(!bad.decode_ok && bad.format == "unknown")
    val nul = Multimodal.decodeAudioKernel(3L, null)
    assert(!nul.decode_ok && nul.n_bytes == 0)
    // distributed face
    val rows = Seq((0L, wav(8000, 1, 100)), (1L, null.asInstanceOf[Array[Byte]]))
    val out = Multimodal.decodeAudio(rows.toDF("media_id", "payload"))
      .collect().sortBy(_.media_id)
    assert(out.length == 2 && out(0).decode_ok && !out(1).decode_ok)
    assert(out(0).duration_ms == 12L) // 100 * 1000 / 8000 = 12 (integer div)
  }

  test("decodeImages is distributed, partition-invariant, drops no rows") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(3, 3, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 3) img.setRGB(x, y, 0x102030)
    val rows = Seq(
      (0L, encode(img, "png")), (1L, encode(img, "jpg")),
      (2L, "junk".getBytes), (3L, null.asInstanceOf[Array[Byte]]))
    val df = rows.toDF("media_id", "payload")
    val d2 = Multimodal.decodeImages(df, partitions = 2).collect().sortBy(_.media_id)
    val d4 = Multimodal.decodeImages(df, partitions = 4).collect().sortBy(_.media_id)
    assert(d2.toSeq == d4.toSeq || d2.map(r => (r.media_id, r.decode_ok, r.width, r.height,
      r.channels, r.mean_channel.toSeq)).toSeq ==
      d4.map(r => (r.media_id, r.decode_ok, r.width, r.height, r.channels,
        r.mean_channel.toSeq)).toSeq)
    assert(d2.length == 4)
    assert(d2.map(_.decode_ok).toSeq == Seq(true, true, false, false))
    assert(d2(0).mean_channel.toSeq == Seq(0x10.toDouble, 0x20.toDouble, 0x30.toDouble))
  }
}

class CosineExpressionSpec extends SparkFunSuite {
  import spark.implicits._
  import graft.functions.GraftFunctions

  test("fused expression is bit-identical to the built-in formulation") {
    val embs = (0 until 200).map(i =>
      (i.toLong, Seq.tabulate(64)(j => (((i * 31 + j * 7) % 1000) / 999.0f - 0.5f))))
      .toDF("vec_id", "embedding")
    val pairs = embs.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(embs.select(col("vec_id").as("ib"), col("embedding").as("b")))
      .filter(col("ia") < col("ib")).limit(500)
    val both = pairs.select(
      graft.llm.Similarity.cosine(col("a"), col("b")).as("builtin"),
      GraftFunctions.cosine(spark, col("a"), col("b")).as("fused"))
    assert(both.filter(col("builtin") =!= col("fused")).count() == 0)
  }

  test("zero-norm and null handling match") {
    val df = Seq(
      (Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),
      (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f))
    ).toDF("a", "b")
    val vals = df.select(GraftFunctions.cosine(spark, col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(vals(0) == 0.0)
    assert(math.abs(vals(1) - 1.0) < 1e-12)
    val withNull = df.withColumn("a", org.apache.spark.sql.functions.lit(null)
      .cast("array<float>"))
    assert(withNull.select(GraftFunctions.cosine(spark, col("a"), col("b")))
      .collect().forall(_.isNullAt(0)))
  }

  test("registered function is callable from SQL") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 1.0D)) AS c").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0 / math.sqrt(2)) < 1e-12)
  }
}

class HyperplaneExpressionSpec extends SparkFunSuite {
  import spark.implicits._
  import graft.functions.GraftFunctions

  private def embs(dim: Int) = (0 until 300).map(i =>
    (i.toLong, Seq.tabulate(dim)(j => (((i * 31 + j * 7) % 1000) / 999.0f - 0.5f))))
    .toDF("vec_id", "embedding")

  test("fused signature is bit-identical to the built-in formulation") {
    for (planes <- Seq(1, 8, 16, 62); dim <- Seq(8, 64)) {
      val both = embs(dim).select(
        graft.llm.Similarity.hyperplaneSignature(col("embedding"), planes).as("builtin"),
        GraftFunctions.hyperplaneSig(spark, col("embedding"), planes).as("fused"))
      assert(both.filter(col("builtin") =!= col("fused")).count() == 0,
        s"signature mismatch at planes=$planes dim=$dim")
    }
  }

  test("double arrays, empty and null vectors match the built-in (sig 0, not null)") {
    val df = Seq(
      (0L, Some(Seq(0.25, -0.5, 0.75))),
      (1L, Some(Seq.empty[Double])),
      (2L, None)
    ).toDF("vec_id", "embedding")
    val rows = df.select(
      graft.llm.Similarity.hyperplaneSignature(col("embedding"), 16).as("builtin"),
      GraftFunctions.hyperplaneSig(spark, col("embedding"), 16).as("fused"))
      .collect()
    rows.foreach { r =>
      assert(!r.isNullAt(1))
      assert(r.getLong(0) == r.getLong(1))
    }
    assert(rows(1).getLong(1) == 0L && rows(2).getLong(1) == 0L)
  }

  test("interpreted eval path matches codegen (collect on a local Dataset)") {
    // force the interpreted path by evaluating the expression directly
    val e = graft.functions.HyperplaneSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(0.25, -0.5, 0.75), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false)), 16)
    val interpreted = e.eval(null).asInstanceOf[Long]
    val viaPlan = Seq(Tuple1(Seq(0.25, -0.5, 0.75))).toDF("v")
      .select(GraftFunctions.hyperplaneSig(spark, col("v"), 16))
      .collect()(0).getLong(0)
    assert(interpreted == viaPlan)
  }
}

class MinHashExpressionSpec extends SparkFunSuite {
  import spark.implicits._
  import graft.functions.GraftFunctions

  private def shingled() = (0 until 200).map { i =>
    (i.toLong, (0 until 3 + i % 20).map(j => s"w${(i * 7 + j) % 97} w${j % 13} x$j"))
  }.toDF("id", "sh")

  test("fused signature is bit-identical to the explode→groupBy aggregate path") {
    for (k <- Seq(1, 16, 32)) {
      val agg = graft.llm.Dedup.minHashSignatures(shingled(), k)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      val fused = shingled()
        .select(col("id"), GraftFunctions.minhashSig(spark, col("sh"), k).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(agg == fused, s"signature mismatch at k=$k")
    }
  }

  test("empty/null arrays yield null; null elements hash like xxhash64 (bit-identity)") {
    val df = Seq(
      (0L, Some(Seq("a", "b"))),
      (1L, Some(Seq.empty[String])),
      (2L, None)
    ).toDF("id", "sh")
    val rows = df.select(GraftFunctions.minhashSig(spark, col("sh"), 8))
      .collect()
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0) && rows(2).isNullAt(0))
    // a null ELEMENT folds to the seed exactly as xxhash64(NULL, p) does in
    // the explode→min aggregate path, so sig([a, NULL, b]) must equal the
    // elementwise min of sig([a, b]) and the null-element hash vector
    val r = spark.sql(
      "SELECT graft_minhash_sig(array('a', CAST(NULL AS STRING), 'b'), 8) AS s, " +
        "graft_minhash_sig(array('a', 'b'), 8) AS t, " +
        "transform(sequence(0, 7), p -> xxhash64(CAST(NULL AS STRING), p)) AS nh")
      .collect()(0)
    val expected = r.getSeq[Long](1).zip(r.getSeq[Long](2))
      .map { case (a, b) => math.min(a, b) }
    assert(r.getSeq[Long](0) == expected)
    // non-nullable children (array literals) through codegen: the empty
    // array must still null out cleanly — the r6 ADVICE codegen trap
    val nn = spark.range(2).selectExpr(
      "graft_minhash_sig(cast(array() as array<string>), 4) AS s",
      "graft_sig_overlap(cast(array() as array<bigint>), array(1L)) AS o").collect()
    assert(nn.forall(row => row.isNullAt(0) && row.isNullAt(1)))
  }

  test("fused gramStats matches explode→groupBy counts on a random corpus") {
    val docs = (0 until 120).map { i =>
      (i.toLong, (0 until 5 + i % 25).map(j => s"w${(i + j * j) % 11}").mkString(" "))
    }.toDF("doc_id", "text")
    val grams = docs.select(col("doc_id"),
      graft.llm.Dedup.shingles(col("text"), 2).as("g"))
    val agg = grams.select(col("doc_id"), explode(col("g")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(
        max("n").as("top"), sum("n").as("total"),
        sum(when(col("n") > 1, col("n")).otherwise(0L)).as("dup"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val fused = grams.select(col("doc_id"),
      GraftFunctions.gramStats(spark, col("g")).as("s"))
      .select(col("doc_id"), col("s.top_count"), col("s.total"), col("s.dup_total"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(agg == fused)
  }

  test("fused SimHash64 is bit-identical to the aggregate formulation") {
    val docs = (0 until 150).map { i =>
      (i.toLong, (0 until 2 + i % 15).map(j => s"tok${(i * 13 + j) % 41}").mkString(" "))
    }.toDF("doc_id", "text")
    val both = docs.select(
      graft.llm.Dedup.simHash(col("text")).as("ref"),
      GraftFunctions.simhash64(spark, split(lower(trim(col("text"))), "\\s+")).as("fused"))
    assert(both.filter(col("ref") =!= col("fused")).count() == 0)
    // bulk path (now the fused expression) matches the column formulation too
    val bulk = graft.llm.Dedup.simHashes(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = docs.select(col("doc_id"), graft.llm.Dedup.simHash(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bulk == ref)
  }

  test("minHashNearDups emits identical pairs through the fused path") {
    // the pipeline (already on the fused path) must match a hand-built
    // pipeline using the aggregate signatures — same bands, same verify
    val docs = (0L until 60L).map { i =>
      val t = if (i % 3 == 0) "the quick brown fox jumps over the lazy dog near the river bank"
      else s"document $i about topic ${i % 7} with shared phrasing across cluster ${i % 5}"
      (i, t)
    }.toDF("doc_id", "text")
    val got = graft.llm.Dedup.minHashNearDups(docs, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    spark.catalog.clearCache()
    // all identical % 3 == 0 docs must pair up
    val trip = (0L until 60L by 3).toSeq
    val expectedPairs = for (a <- trip; b <- trip if a < b) yield (a, b)
    assert(got == expectedPairs.sorted)
  }
}

class ParagraphDedupSpec extends SparkFunSuite {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "unique one\nCOMMON boilerplate\nunique two"),
    (2L, "COMMON   boilerplate\nunique three"), // same normalized form
    (3L, "unique four"),
    (4L, "common boilerplate"), // lowercased — still the same paragraph
    (5L, "")                    // empty doc: one empty paragraph, unique
  ).toDF("doc_id", "text")

  test("removeRepeatedParagraphs drops ALL copies and reassembles in order") {
    val out = Dedup.removeRepeatedParagraphs(corpus)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
    // the boilerplate (3 normalized copies, case/space-insensitive) is gone
    // from every doc; survivors keep original (un-normalized) text + order
    assert(out == Map(
      1L -> "unique one\nunique two",
      2L -> "unique three",
      3L -> "unique four",
      5L -> ""))
    // doc 4 was ONLY boilerplate → emptied → dropped (RefinedWeb contract)
  }

  test("dropEmptied=false keeps emptied docs with empty text; maxOccurrences widens") {
    val kept = Dedup.removeRepeatedParagraphs(corpus, dropEmptied = false)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
    assert(kept(4L) == "" && kept.size == 5)
    // maxOccurrences = 3 tolerates the triple → nothing removed
    val loose = Dedup.removeRepeatedParagraphs(corpus, maxOccurrences = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
    assert(loose(1L) == "unique one\nCOMMON boilerplate\nunique two")
  }

  test("non-text columns ride along unchanged") {
    val withMeta = corpus.withColumn("lang", concat(lit("l"), col("doc_id")))
    val out = Dedup.removeRepeatedParagraphs(withMeta)
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    assert(out(1L) == "l1" && out(2L) == "l2")
  }

  test("dupLineStats computes Gopher dup-line and dup-char fractions") {
    val stats = Dedup.dupLineStats(corpus)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("dup_lines"),
          r.getAs[Double]("dup_line_frac"), r.getAs[Double]("dup_char_frac")))).toMap
    val (n1, d1, lf1, cf1) = stats(1L)
    assert(n1 == 3 && d1 == 1 && math.abs(lf1 - 1.0 / 3) < 1e-9)
    // doc 1 chars: "unique one"(10) + "COMMON boilerplate"(18) + "unique two"(10)
    assert(math.abs(cf1 - 18.0 / 38) < 1e-9)
    assert(stats(4L) == ((1L, 1L, 1.0, 1.0)))
    assert(stats(3L) == ((1L, 0L, 0.0, 0.0)))
    // empty doc: one zero-length paragraph, n_chars = 0 → char frac 0 by contract
    assert(stats(5L) == ((1L, 0L, 0.0, 0.0)))
  }

  test("paragraphCounts exposes corpus-wide boilerplate with first id") {
    val pc = Dedup.paragraphCounts(corpus)
      .filter(col("n_dups") > 1)
      .collect().map(r => (r.getAs[Long]("n_dups"), r.getAs[Long]("first_id")))
    assert(pc.toSeq == Seq((3L, 1L)))
  }
}

class SemDedupSpec extends SparkFunSuite {
  import spark.implicits._

  // two well-separated centroids; vectors cluster around them
  private val cents = Seq(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
  private def corpus = Seq(
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // cell 0
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // exact dup of 1
    (3L, Array(0.88f, 0.12f, 0.01f, 0.0f)),// near-dup of 1/2
    (4L, Array(0.6f, 0.0f, 0.8f, 0.0f)),   // cell 0, far from the others
    (5L, Array(0.1f, 0.9f, 0.0f, 0.0f)),   // cell 1
    (6L, Array(0.1f, 0.9f, 0.0f, 0.0f)),   // exact dup of 5
    (7L, Array(0.9f, 0.1f, 0.0f, 0.0f))    // identical to 1 but in NO pair's
                                           // cell? same cell 0 — pairs with 1,2
  ).toDF("vec_id", "embedding")

  test("assignCentroids is a map-only argmax with min-id tie break") {
    val a = Dedup.assignCentroids(corpus, cents)
    val m = a.select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    assert(m == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0, 5L -> 1, 6L -> 1, 7L -> 0))
    // exchange-free: pure projection over the scan
    val plan = a.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment shuffles:\n$plan")
    // tie: equidistant vector → smallest centroid id
    val tie = Seq((9L, Array(1.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Dedup.assignCentroids(tie, cents).select("centroid_id")
      .head().getInt(0) == 0)
  }

  test("semanticDedupPairs finds within-cell pairs only") {
    val got = Dedup.semanticDedupPairs(corpus, cents, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    spark.catalog.clearCache()
    // {1,2,3,7} are mutual near-dups in cell 0; 4 pairs with nobody
    // (cosine to the 1-group ≈ 0.56); {5,6} pair in cell 1. Cross-cell
    // pairs are never emitted even if cosine were high.
    assert(got == Set((1L, 2L), (1L, 3L), (1L, 7L), (2L, 3L), (2L, 7L), (3L, 7L), (5L, 6L)))
  }

  test("semanticDedup keeps the LOWEST-centroid-sim member per group, min id on ties") {
    val kept = Dedup.semanticDedup(corpus, cents, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    // group {1,2,3,7}: member 3 has the lowest cosine to centroid 0
    // (least prototypical survives); group {5,6}: tie → min id 5;
    // singletons 4 survive
    assert(kept == Set(3L, 4L, 5L))
  }

  test("a mega cell degrades through the occupancy guard, not quadratically") {
    // 600 identical vectors in one cell with cap 16: the refine signature
    // cannot split identical vectors → star repair pairs them all with the
    // min id; CC still reconstructs ONE group
    val mega = (0L until 600L).map(i => (i, Array(0.7f, 0.3f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDedupPairs(mega, cents, threshold = 0.95,
      maxBucketSize = 16)
    val cnt = pairs.count()
    spark.catalog.clearCache()
    assert(cnt == 599L, s"expected 599 star pairs, got $cnt") // linear, not 600*599/2
    val kept = Dedup.semanticDedup(mega, cents, threshold = 0.95,
      maxBucketSize = 16).count()
    spark.catalog.clearCache()
    assert(kept == 1L)
  }
}

/** q112's oracle determinism rests on two data properties (the q29-style
  * regeneration tripwire): the corpus' only ≥0.95 within-cell pairs are the
  * planted identical copies (cosine exactly-ish 1), and every vector's
  * top-2 centroid sims are separated far beyond cross-engine FP noise. */
class SemDedupGateMarginSpec extends SparkFunSuite {
  import spark.implicits._

  test("q112 corpus: assignment argmax margins and threshold gaps are FP-robust") {
    val d = "/root/testdata/sf0.01"
    val embs = Tables.embeddings(spark, d)
    val cents = graft.queries.LlmQueries.semCentroids(spark, d)
    val centArr = cents.zipWithIndex
    // per-vector top-2 centroid-sim margin (excluding exact ties, which
    // break identically by min-cid in both engines)
    val sims = embs.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().map { case (id, v) =>
        val ss = centArr.map { case (c, _) =>
          val dv = v.map(_.toDouble)
          val dot = dv.zip(c).map { case (a, b) => a * b }.sum
          val na = math.sqrt(dv.map(x => x * x).sum)
          val nb = math.sqrt(c.map(x => x * x).sum)
          dot / (na * nb)
        }.sorted.reverse
        (id, ss(0) - ss(1), ss(0))
      }
    val minMargin = sims.map(_._2).filter(_ > 0).min
    assert(minMargin > 1e-6,
      s"argmax margin $minMargin too close — q112 oracle can flake cross-engine")
    // threshold gap: no natural pair may sit within 1e-6 of 0.95
    val n = embs.count().toInt
    val pairs = Dedup.semanticDedupPairs(
      embs.select("vec_id", "embedding"), cents,
      threshold = 0.0, maxBucketSize = math.max(1024, n + 1))
      .select("cosine").as[Double].collect()
    spark.catalog.clearCache()
    assert(pairs.forall(c => math.abs(c - 0.95) > 1e-6),
      "a natural within-cell pair sits at the 0.95 boundary — q112 can flake")
  }
}
