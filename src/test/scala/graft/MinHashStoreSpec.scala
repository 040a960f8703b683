package graft

import graft.llm.Dedup
import org.apache.spark.sql.functions._

/** The persisted MinHash serving store: write→probe must be invisible in
  * the answers (identical to the direct cross-corpus path), the layout
  * must be the partition-pruned one the docs promise, and degenerate
  * probes must not blow up. */
class MinHashStoreSpec extends SparkFunSuite {
  import spark.implicits._

  private val corpus = DedupCorpus.docs

  private def corpus(n: Int, prefix: String) = (0 until n).map { i =>
    (i.toLong, s"$prefix document number $i talks about topic ${i % 7} " +
      s"with shared boilerplate words common to all pages in this corpus " +
      s"plus unique tail $prefix$i")
  }

  test("store probe ≡ direct crossCorpusNearDups; layout is partitioned") {
    // ref corpus + a new batch containing near-copies of ref docs 3 and 8
    val ref = corpus(40, "ref").toDF("doc_id", "text")
    val newBatch = Seq(
      (100L, corpus(40, "ref")(3)._2),          // exact copy of ref 3
      (101L, corpus(40, "ref")(8)._2 + " x"),   // near copy of ref 8
      (102L, "completely unrelated content about celestial navigation")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_store_spec").toString
    Dedup.writeMinHashStore(ref, dir, nParts = 16)
    // layout contract: hash-partitioned postings + payload directories
    val post = new java.io.File(dir + "/postings")
      .listFiles().map(_.getName).filter(_.startsWith("pb="))
    val pay = new java.io.File(dir + "/payload")
      .listFiles().map(_.getName).filter(_.startsWith("ib="))
    assert(post.nonEmpty && pay.nonEmpty,
      s"expected pb=/ib= partition dirs, got ${post.length}/${pay.length}")
    val viaStore = Dedup.crossCorpusNearDupsFromStore(newBatch, dir,
        threshold = 0.5, nParts = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Dedup.crossCorpusNearDups(newBatch, ref, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    assert(viaStore === direct)
    assert(viaStore.exists(t => t._1 == 100L && t._2 == 3L && t._3 == 1.0))
    assert(viaStore.exists(t => t._1 == 101L && t._2 == 8L))
    assert(!viaStore.exists(_._1 == 102L))
  }

  test("append ≡ one-shot write over the union; appended files share partitions") {
    val ref = corpus(40, "ref").toDF("doc_id", "text")
    val refA = ref.filter($"doc_id" < 20)
    val refB = ref.filter($"doc_id" >= 20)
    val newBatch = Seq(
      (100L, corpus(40, "ref")(3)._2),           // matches a refA doc
      (101L, corpus(40, "ref")(25)._2 + " x"),   // matches a refB doc
      (102L, "completely unrelated content about celestial navigation")
    ).toDF("doc_id", "text")
    val incr = java.nio.file.Files.createTempDirectory("mh_incr").toString
    val oneShot = java.nio.file.Files.createTempDirectory("mh_full").toString
    Dedup.writeMinHashStore(refA, incr, nParts = 16)
    Dedup.appendMinHashStore(refB, incr, nParts = 16)
    Dedup.writeMinHashStore(ref, oneShot, nParts = 16)
    def probe(dir: String) =
      Dedup.crossCorpusNearDupsFromStore(newBatch, dir,
          threshold = 0.5, nParts = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val (viaIncr, viaFull) = (probe(incr), probe(oneShot))
    spark.catalog.clearCache()
    assert(viaIncr === viaFull)
    assert(viaIncr.exists(t => t._1 == 100L && t._2 == 3L))
    assert(viaIncr.exists(t => t._1 == 101L && t._2 == 25L)) // from the APPENDED half
    // the append created no partition scheme of its own
    val dirs = new java.io.File(incr + "/postings")
      .listFiles().map(_.getName).filter(_.startsWith("pb="))
    assert(dirs.nonEmpty && dirs.forall(_.matches("pb=\\d+")))
  }

  test("mismatched nParts between write and probe is still correct when equal-keyed") {
    // pruning soundness depends on write/probe deriving the SAME pb; the
    // doc requires matching nParts — assert the matched case at another
    // partition count to catch accidental hard-coding
    val ref = corpus(20, "r").toDF("doc_id", "text")
    val newBatch = Seq((500L, corpus(20, "r")(5)._2)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_store_spec2").toString
    Dedup.writeMinHashStore(ref, dir, nParts = 4)
    val out = Dedup.crossCorpusNearDupsFromStore(newBatch, dir,
      threshold = 0.7, nParts = 4).collect()
    spark.catalog.clearCache()
    assert(out.length == 1 && out.head.getLong(1) == 5L)
  }

  test("a batch with no shingled docs returns an empty, well-typed frame") {
    val ref = corpus(10, "r").toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_store_spec3").toString
    Dedup.writeMinHashStore(ref, dir, nParts = 4)
    val emptyBatch = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val out = Dedup.crossCorpusNearDupsFromStore(emptyBatch, dir,
      threshold = 0.7, nParts = 4)
    assert(out.columns.toSeq === Seq("new_id", "ref_id", "jaccard"))
    assert(out.count() == 0)
    spark.catalog.clearCache()
  }

  test("malformed _meta.json fails append and probe loudly; the established layout still probes") {
    val docs = corpus(10, "r").toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_store_meta").toString
    Dedup.writeMinHashStore(docs, dir, nParts = 8)
    val file = new java.io.File(dir, "_meta.json")
    // replaced behind the Hadoop FS's back: drop its stale checksum too
    def plant(json: String): Unit = {
      new java.io.File(dir, "._meta.json.crc").delete()
      java.nio.file.Files.writeString(file.toPath, json)
    }
    // truncated mid-write, with and without every field already present
    for (bad <- Seq("""{"k":32,"bands":8""",
        """{"k":32,"bands":8,"shingleN":3,"nParts":8""")) {
      plant(bad)
      val e1 = intercept[IllegalArgumentException] {
        Dedup.appendMinHashStore(docs, dir, nParts = 8)
      }
      assert(e1.getMessage.contains(file.getPath), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        Dedup.crossCorpusNearDupsFromStore(docs, dir, nParts = 8)
      }
      assert(e2.getMessage.contains(file.getPath), e2.getMessage)
    }
    // the exact bytes the store has always written still read back
    plant("""{"k":32,"bands":8,"shingleN":3,"nParts":8}""")
    assert(Dedup.crossCorpusNearDupsFromStore(docs, dir, nParts = 8)
      .filter($"new_id" === $"ref_id").count() == 10)
    spark.catalog.clearCache()
  }

  test("minhash store: _meta.json sidecar guards append and probe mismatches") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb cc dd ee ff gg hh"),
      (2L, "ii jj kk ll mm nn oo pp")).toDF("doc_id", "text")
    val more = Seq((10L, "qq rr ss tt uu vv ww xx")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("r13store").toString
    graft.llm.Dedup.writeMinHashStore(docs, dir, nParts = 8)
    // matching append + probe still work (sidecar is transparent)
    graft.llm.Dedup.appendMinHashStore(more, dir, nParts = 8)
    assert(graft.llm.Dedup.crossCorpusNearDupsFromStore(
      more, dir, nParts = 8).count() >= 0)
    // mismatched nParts on append: the pb/ib layout would interleave —
    // MUST fail loudly, not silently mis-prune later probes
    val e1 = intercept[IllegalArgumentException] {
      graft.llm.Dedup.appendMinHashStore(more, dir, nParts = 16)
    }
    assert(e1.getMessage.contains("mis-prune"))
    // mismatched bands on append: different band keys, same failure class
    val e2 = intercept[IllegalArgumentException] {
      graft.llm.Dedup.appendMinHashStore(more, dir, bands = 4, nParts = 8)
    }
    assert(e2.getMessage.contains("mis-prune"))
    // mismatched probe: pruned partition reads would miss candidates
    val e3 = intercept[IllegalArgumentException] {
      graft.llm.Dedup.crossCorpusNearDupsFromStore(more, dir, nParts = 16)
    }
    assert(e3.getMessage.contains("miss candidates"))
    // a store with no sidecar (pre-sidecar layout) refuses appends — the
    // caller must rebuild rather than guess the parameters
    val meta = new java.io.File(dir, "_meta.json")
    assert(meta.exists())
    meta.delete()
    val e4 = intercept[IllegalArgumentException] {
      graft.llm.Dedup.appendMinHashStore(more, dir, nParts = 8)
    }
    assert(e4.getMessage.contains("_meta.json"))
  }

  test("minhash store: sidecar lands BEFORE the data — a crashed bootstrap never strands a sidecar-less store") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r14crash").toString
    // a docs frame that throws at WRITE time (after the sidecar landed)
    val poisoned = Seq((1L, "aa bb cc dd ee")).toDF("doc_id", "text")
      .withColumn("text",
        when(expr("raise_error('boom') is null"), col("text")))
    intercept[Exception] {
      graft.llm.Dedup.appendMinHashStore(poisoned, dir, nParts = 8)
    }
    assert(new java.io.File(dir, "_meta.json").isFile,
      "crashed bootstrap stranded a store with no layout contract")
    // the stranded store still enforces its parameters...
    val more = Seq((2L, "ff gg hh ii jj")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.llm.Dedup.appendMinHashStore(more, dir, nParts = 16)
    }
    assert(e.getMessage.contains("mis-prune"))
    // ...and a matching retry completes the bootstrap normally
    graft.llm.Dedup.appendMinHashStore(more, dir, nParts = 8)
    assert(graft.llm.Dedup.crossCorpusNearDupsFromStore(
      more, dir, nParts = 8).count() >= 0)
  }

  test("store probe: adaptive prune skip is row-identical to forced pruning") {
    val docs = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_r15_store").toString
    Dedup.writeMinHashStore(ref, dir, nParts = 4)
    def run(minBytes: Long) =
      Dedup.crossCorpusNearDupsFromStore(batch, dir, threshold = 0.5,
          nParts = 4, pruneMinBytes = minBytes)
        .select("new_id", "ref_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = run(0L)            // both collects forced
    spark.catalog.clearCache()
    val skipped = run(Long.MaxValue) // both collects skipped
    spark.catalog.clearCache()
    assert(pruned == skipped && pruned.nonEmpty,
      s"pruned=$pruned skipped=$skipped")
    graft.IoUtil.rmTree(dir)
  }

  test("star regime: fresh, stored-index and store probes (pruned and unpruned) return the same rows") {
    // 60 identical copies on EACH side at cap 8: every shared band bucket
    // holds 60×60 cross candidates and the full-signature re-key cannot
    // split identical text, so the guard's star repair fires on every path
    val mega = "the same boilerplate page text repeated here verbatim"
    val refDocs = ((0L until 60L).map(i => (i, mega)) ++
      corpus(6, "ref").map { case (i, t) => (100L + i, t) })
      .toDF("doc_id", "text")
    val newDocs = ((1000L until 1060L).map(i => (i, mega)) ++
      corpus(3, "ref").map { case (i, t) => (2000L + i, t + " x") } ++
      Seq((2100L, "completely unrelated content about celestial navigation")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val out = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.catalog.clearCache()
      out
    }
    val fresh = rows(Dedup.crossCorpusNearDups(newDocs, refDocs,
      threshold = 0.5, maxBucketSize = 8))
    val idxDir = java.nio.file.Files.createTempDirectory("mh_star_idx").toString
    Dedup.buildMinHashIndex(refDocs).write.mode("overwrite").parquet(idxDir)
    val viaIndex = rows(Dedup.crossCorpusNearDupsAgainstIndex(newDocs,
      spark.read.parquet(idxDir), threshold = 0.5, maxBucketSize = 8))
    val storeDir = java.nio.file.Files.createTempDirectory("mh_star_store").toString
    Dedup.writeMinHashStore(refDocs, storeDir, nParts = 4)
    def viaStore(minBytes: Long) = rows(Dedup.crossCorpusNearDupsFromStore(
      newDocs, storeDir, threshold = 0.5, maxBucketSize = 8, nParts = 4,
      pruneMinBytes = minBytes))
    val pruned = viaStore(0L)
    val unpruned = viaStore(Long.MaxValue)
    // each new mega copy pairs once, with the min-id ref copy, at j = 1
    assert(fresh.filter(_._1 < 2000L) ==
      (1000L until 1060L).map(i => (i, 0L, 1.0)).toSet)
    // each near copy matches its ref original
    assert((0L until 3L).forall(i =>
      fresh.exists(t => t._1 == 2000L + i && t._2 == 100L + i)),
      s"near copies not matched: $fresh")
    assert(viaIndex == fresh, s"stored index: $viaIndex vs fresh: $fresh")
    assert(pruned == fresh, s"pruned store: $pruned vs fresh: $fresh")
    assert(unpruned == fresh, s"unpruned store: $unpruned vs fresh: $fresh")
    graft.IoUtil.rmTree(idxDir)
    graft.IoUtil.rmTree(storeDir)
  }

  test("crossCorpusNearDupsAgainstIndex: unpersisted stored index defaults to restrict=true without counting it") {
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, s"document number $i with shared words alpha beta gamma delta " +
        s"epsilon zeta eta theta unique$i"))
      .toDF("doc_id", "text")
    val ref = mk(0L until 40L)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_r11").toString
    graft.llm.Dedup.buildMinHashIndex(ref).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val batch = mk(Seq(3L)).withColumn("doc_id", col("doc_id") + 1000L)
    val auto = graft.llm.Dedup.crossCorpusNearDupsAgainstIndex(batch, stored)
    val pinned = graft.llm.Dedup.crossCorpusNearDupsAgainstIndex(batch, stored,
      restrictRefBuckets = Some(true))
    val a = auto.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = pinned.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "default path diverged from pinned restrict=true")
    // the job-count budget: the band-pair checkpoint makes plan-building
    // eager on BOTH paths, so compare the default against the pinned path
    // job for job — the old ratio rule added a full-index count() job
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(f: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      try { jobs.set(0); f; Thread.sleep(300); jobs.get() }
      finally spark.sparkContext.removeSparkListener(listener)
    }
    val jPinned = jobsOf(graft.llm.Dedup.crossCorpusNearDupsAgainstIndex(
      batch, stored, restrictRefBuckets = Some(true)))
    val jAuto = jobsOf(graft.llm.Dedup.crossCorpusNearDupsAgainstIndex(
      batch, stored))
    assert(jAuto <= jPinned,
      s"default stored-index path ran $jAuto jobs vs $jPinned pinned — " +
        "the ratio rule is count-scanning the reference again")
    // candidate-id scan pruning: the verification joins' index scans must
    // carry a pushed In(id, ...) filter so the wide shingle column is
    // never re-read end to end per batch
    val plan = graft.llm.Dedup.crossCorpusNearDupsAgainstIndex(batch, stored)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(id") ||
        plan.contains("PushedFilters: [IsNotNull(id), In(id"),
      s"candidate In-filter not pushed into the index scan:\n$plan")
    spark.catalog.clearCache()
  }
}
