package graft

import graft.llm.Pq
import org.apache.spark.sql.functions._

class PqSpec extends SparkFunSuite {
  import spark.implicits._

  /** Assert the store scan's PartitionFilters bracket carries a pushed
    * `cell_id IN/INSET (…)` listing exactly the probe union — NOT just
    * that a "PartitionFilters:" segment exists (FileSourceScanExec prints
    * one for ANY partitioned scan, and cell_id appears as the join key
    * regardless, so a deleted pruning filter would sail through the weaker
    * check). `queries`/`cells`/`nprobe` must match the from-store call. */
  private def assertCellPruned(plan: String,
      queries: org.apache.spark.sql.DataFrame,
      cells: Seq[Array[Double]], nprobe: Int): Unit = {
    val expected = queries.select(explode(Pq.probedCells(
        col("embedding").cast("array<double>"), cells, nprobe)).as("c"))
      .distinct().collect().map(_.getInt(0)).sorted
    assert(expected.length < cells.size,
      "fixture degenerate: probe union covers every cell — pruning unobservable")
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan)
      .find(_.contains("cell_id")).getOrElse("")
    assert(pf.contains(" IN ") || pf.contains("INSET"),
      s"no pushed cell_id membership filter on the store scan:\n$plan")
    expected.foreach(c => assert(
      ("(?<![0-9])" + c + "(?![0-9])").r.findFirstIn(pf).isDefined,
      s"probed cell $c missing from partition filter `$pf`"))
  }

  // 4-dim vectors, m=2 subspaces of 2 dims; hand-picked codebooks
  private val codebooks: Seq[Seq[Array[Double]]] = Seq(
    Seq(Array(0.0, 0.0), Array(10.0, 10.0)),
    Seq(Array(0.0, 5.0), Array(5.0, 0.0)))

  private def corpus() = Seq(
    (0L, Seq(1.0f, 1.0f, 0.0f, 4.0f)),   // codes (0, 0)
    (1L, Seq(9.0f, 9.0f, 4.0f, 1.0f)),   // codes (1, 1)
    (2L, Seq(11.0f, 12.0f, 1.0f, 5.0f))  // codes (1, 0)
  ).toDF("vec_id", "embedding")

  test("encode picks the argmin centroid per subspace") {
    val codes = Pq.encode(corpus(), codebooks)
      .select("vec_id", "pq_codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codes == Map(0L -> Seq(0, 0), 1L -> Seq(1, 1), 2L -> Seq(1, 0)))
  }

  test("encode breaks exact distance ties toward the lower centroid index") {
    val cb = Seq(Seq(Array(1.0, 0.0), Array(-1.0, 0.0)))
    val codes = Pq.encode(Seq((0L, Seq(0.0f, 9.0f))).toDF("vec_id", "embedding"), cb)
      .select("pq_codes").collect().head.getSeq[Int](0)
    assert(codes == Seq(0))
  }

  test("adcTopK ranks by reconstructed distance with id tiebreak") {
    // query = vector 0 itself: ADC distance to 0 is the quantization
    // residual; doc 1 reconstructs far away
    val q = Seq((7L, Seq(1.0f, 1.0f, 0.0f, 4.0f))).toDF("query_id", "embedding")
    val out = Pq.adcTopK(Pq.encode(corpus(), codebooks), q, codebooks, k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(0L, 2L, 1L))
    // exact ADC arithmetic for vec 0: sub0 → cent(0,0): (1,1) → 2.0;
    // sub1 → cent(0,5): (0,4) → 0+1 = 1.0 → 3.0 total
    assert(out.head.getAs[Double]("adist") == 3.0)
  }

  test("null embeddings never outrank real neighbors (corpus or query side)") {
    val corpus = Seq(
      (0L, Some(Seq(1.0f, 1.0f, 0.0f, 4.0f))),
      (1L, Some(Seq(9.0f, 9.0f, 4.0f, 1.0f))),
      (2L, None: Option[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val q = Seq(
      (7L, Some(Seq(1.0f, 1.0f, 0.0f, 4.0f))),
      (8L, None: Option[Seq[Float]])
    ).toDF("query_id", "embedding")
    val out = Pq.adcTopK(Pq.encode(corpus, codebooks), q, codebooks, k = 5)
      .collect()
    assert(out.forall(_.getAs[Long]("query_id") == 7L)) // null query emits nothing
    assert(out.map(_.getAs[Long]("vec_id")).toSet == Set(0L, 1L)) // null row absent
    assert(out.minBy(_.getAs[Int]("rank")).getAs[Long]("vec_id") == 0L)
    // IVF face: a hand-built frame can place the code-less row in a real
    // cell (cell 0), so only the null-codes guard keeps it out of the join
    val inCell = Pq.encode(corpus, codebooks).withColumn("cell_id", lit(0))
    val ivf = Pq.ivfAdcTopK(inCell, q, codebooks,
      Seq(Array(0.0, 0.0, 0.0, 0.0)), nprobe = 1, k = 5).collect()
    assert(ivf.forall(_.getAs[Long]("query_id") == 7L))
    assert(ivf.map(_.getAs[Long]("vec_id")).toSet == Set(0L, 1L))
    assert(ivf.minBy(_.getAs[Int]("rank")).getAs[Long]("vec_id") == 0L)
  }

  test("trainCodebooks: shapes, determinism, and better reconstruction than one centroid") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
    val cb = Pq.trainCodebooks(embs, m = 4, ncentroids = 4)
    assert(cb.length == 4 && cb.forall(_.length == 4) &&
      cb.forall(_.forall(_.length == 16)))
    val cb2 = Pq.trainCodebooks(embs, m = 4, ncentroids = 4)
    assert(cb.flatten.flatten == cb2.flatten.flatten) // seeded → identical
    // codes use the whole codebook, not one centroid
    val used = Pq.encode(embs, cb).select(explode(col("pq_codes"))).distinct().count()
    assert(used > 1)
  }

  test("ivfAdcTopK: nprobe=all equals the full ADC scan; nprobe=1 stays in-cell") {
    val d = "/root/testdata/sf0.001"
    val embs = Tables.embeddings(spark, d).select("vec_id", "embedding")
    val cbs = graft.queries.CorpusRetrievalQueries.pqCodebooks(spark, d)
    val cells = graft.queries.CorpusRetrievalQueries.pqCells(spark, d)
    val enc = Pq.assignCells(Pq.encode(embs, cbs), cells)
    val q = embs.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val full = Pq.adcTopK(enc, q, cbs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val all = Pq.ivfAdcTopK(enc, q, cbs, cells, nprobe = cells.size, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(all == full)
    // nprobe=1: every hit lives in its query's own best cell
    val one = Pq.ivfAdcTopK(enc, q, cbs, cells, nprobe = 1, k = 5)
    val cellOf = enc.select("vec_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qCell = Pq.assignCells(q, cells, vecCol = "embedding")
      .select("query_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    one.collect().foreach { r =>
      assert(cellOf(r.getAs[Long]("vec_id")) == qCell(r.getAs[Long]("query_id")))
    }
  }

  test("adcRerankTopK = exact-cosine rerank of the ADC shortlist") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat))
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    // codebooks: m=2 subspaces of 4 dims, centroids from the first 3 vecs
    val cents = vecs.take(3).map(_._2.map(_.toDouble))
    val codebooks = (0 until 2).map(j => cents.map(_.slice(j * 4, j * 4 + 4)).toSeq)
    val enc = graft.llm.Pq.encode(corpus, codebooks)
    val queries = corpus.filter(col("vec_id") === 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = graft.llm.Pq.adcRerankTopK(enc, queries, corpus, codebooks,
      shortlist = 15, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.length == 5)
    // reference: ADC shortlist ids, then exact cosine rerank
    val shortIds = graft.llm.Pq.adcTopK(enc, queries, codebooks, k = 15)
      .collect().map(_.getLong(1)).toSet
    val q = vecs(5)._2.map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expect = vecs.filter(v => shortIds.contains(v._1))
      .map(v => (v._1, BigDecimal(cos(q, v._2.map(_.toDouble)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy { case (id, c) => (-c, id) }.take(5)
    assert(got.sortBy(_._3).map(t => (t._1, t._2)).toSeq == expect.toSeq)
  }

  test("adcRerankTopK: shortlist hint is size-guarded — over-threshold the whole chain degrades") {
    import spark.implicits._
    val embs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 5 + d * 11) % 23).toFloat)))
      .toDF("vec_id", "embedding")
    val cbs = (0 until 4).map(j =>
      Seq(Array.tabulate(2)(x => j * 2.0 + x), Array.tabulate(2)(x => 20.0 - j - x)))
    val enc = graft.llm.Pq.encode(embs, cbs)
    val queries = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def rerank() = graft.llm.Pq.adcRerankTopK(enc, queries, embs, cbs,
      shortlist = 10, k = 5)
    val expected = rerank().orderBy("query_id", "rank").collect().toSeq
    spark.conf.set("graft.broadcast.maxBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val degraded = rerank()
      val plan = degraded.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"shortlist/query hint still forced over threshold:\n$plan")
      // degraded ≠ broken: same rows through the shuffle-join path
      assert(degraded.orderBy("query_id", "rank").collect().toSeq == expected)
    } finally {
      spark.conf.unset("graft.broadcast.maxBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
    // at defaults the shortlist rides a broadcast hash join again
    val planDefault = rerank().queryExecution.executedPlan.toString
    assert(planDefault.contains("BroadcastHashJoin"),
      s"default-scale rerank lost its broadcast hints:\n$planDefault")
  }

  test("gate margin tripwire: q121 encode argmins are not ulp-close") {
    // The oracle recomputes the same argmin with its own float ops; assert
    // every (vec, subspace) best-vs-second-best gap is far above the
    // cross-engine ulp noise floor: 16-term double sums of O(100) values
    // carry ≲1e-12 absolute reorder noise, so a 1e-9 bar leaves 3 orders
    // of margin (measured corpus minimum: ~9e-7).
    val d = "/root/testdata/sf0.01"
    val embs = Tables.embeddings(spark, d).select("vec_id", "embedding")
    val cbs = graft.queries.CorpusRetrievalQueries.pqCodebooks(spark, d)
    val v = col("embedding").cast("array<double>")
    val gaps = embs.select((0 until 4).map { j =>
      val dists = cbs(j).map { cent =>
        aggregate(zip_with(slice(v, j * 16 + 1, 16), typedLit(cent.toSeq),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
      }
      val arr = array_sort(array(dists: _*))
      (element_at(arr, 2) - element_at(arr, 1)).as(s"gap_$j")
    }: _*)
    val minGap = gaps.agg(least(
      min(col("gap_0")), min(col("gap_1")),
      min(col("gap_2")), min(col("gap_3")))).head().getDouble(0)
    assert(minGap > 1e-9, s"argmin margin too small: $minGap")
  }

  test("cell-partitioned store: probes are partition-PRUNED and results exact") {
    import spark.implicits._
    val embs = (0L until 120L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 5 + d * 11) % 23).toFloat)))
      .toDF("vec_id", "embedding")
    // 4 fixed cells + 2-centroid-per-subspace codebooks (literal, tiny)
    val cells = (0 until 4).map(c =>
      Array.tabulate(8)(d => (c * 6 + d).toDouble)).toSeq
    val cbs = (0 until 4).map(j =>
      Seq(Array.tabulate(2)(x => j * 2.0 + x), Array.tabulate(2)(x => 20.0 - j - x)))
    val enc = Pq.assignCells(Pq.encode(embs, cbs), cells)
    val dir = java.nio.file.Files.createTempDirectory("pqstore").toString
    Pq.writeCellPartitioned(enc, dir, cbs, cells)
    // one directory per non-empty cell; no vector column in the files
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cell_id=")).sorted
    assert(dirs.nonEmpty && dirs.forall(_.matches("cell_id=\\d+")))
    assert(!spark.read.parquet(dir).columns.contains("embedding"))
    val queries = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val fromStore = Pq.ivfAdcTopKFromStore(spark, dir, queries, cbs, cells,
      nprobe = 2, k = 5)
    val direct = Pq.ivfAdcTopK(enc, queries, cbs, cells, nprobe = 2, k = 5)
      .select("query_id", "vec_id", "adist", "rank")
    assert(fromStore.select("query_id", "vec_id", "adist", "rank")
      .orderBy("query_id", "rank").collect().toSeq
      == direct.orderBy("query_id", "rank").collect().toSeq)
    // the scan lists ONLY the probed cells' partitions
    assertCellPruned(fromStore.queryExecution.executedPlan.toString,
      queries, cells, nprobe = 2)
  }

  test("SQ8: codes in range, constant dims to 0, null vectors null") {
    import spark.implicits._
    val embs = Seq(
      (0L, Some(Array(0.0f, 5.0f, 1.0f))),
      (1L, Some(Array(1.0f, 5.0f, 3.0f))),
      (2L, Some(Array(2.0f, 5.0f, 9.0f))),
      (3L, Option.empty[Array[Float]])
    ).toDF("vec_id", "embedding")
    val stats = Pq.sqStats(embs)
    val enc = Pq.sqEncode(embs, stats).orderBy("vec_id")
      .select("sq_codes").collect().map(r =>
        Option(r.get(0)).map(_.asInstanceOf[scala.collection.Seq[Int]].toSeq))
    // dim 0 spans [0,2]: 0→0, 1→128, 2→clamped 255; dim 1 constant → 0;
    // dim 2 spans [1,9]: 1→0, 3→64, 9→255
    assert(enc(0).get == Seq(0, 0, 0))
    assert(enc(1).get == Seq(128, 0, 64))
    assert(enc(2).get == Seq(255, 0, 255))
    assert(enc(3).isEmpty)
  }

  test("SQ8 topK: self is nearest under midpoint dequant; order is exact") {
    import spark.implicits._
    val embs = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 13) % 29).toFloat)))
      .toDF("vec_id", "embedding").repartition(5)
    val stats = Pq.sqStats(embs)
    val enc = Pq.sqEncode(embs, stats)
    val queries = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Pq.sqTopK(enc, queries, stats, k = 5)
    // rank 1 for each query is the query itself (distance ≈ quantization
    // noise only, far below any other vector's distance on this lattice)
    val first = top.filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(first == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // exact reference: full-precision dequant distance computed in Scala
    val st = stats.head()
    val mins = st.getSeq[Double](0)
    val maxs = st.getSeq[Double](1)
    val vecs = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def code(x: Double, d: Int): Int = {
      val span = maxs(d) - mins(d)
      if (span <= 0) 0
      else math.max(0, math.min(255, math.floor((x - mins(d)) / span * 256).toInt))
    }
    def dist(q: Array[Float], c: Array[Float]): Double = {
      var s = 0.0
      for (d <- q.indices) {
        val deq = mins(d) + (code(c(d), d) + 0.5) / 256.0 * (maxs(d) - mins(d))
        s += (q(d) - deq) * (q(d) - deq)
      }
      // Spark's round() is HALF_UP — match it exactly
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = top.filter(col("query_id") === 1)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    val want = vecs.keys.toSeq
      .map(id => (dist(vecs(1L), vecs(id)), id)).sorted.take(5).map(_._2)
    assert(got == want)
  }

  test("ivfSqTopK: nprobe=all equals the plain SQ8 scan; nprobe=1 prunes to the query's cell") {
    val d = "/root/testdata/sf0.001"
    val embs = Tables.embeddings(spark, d).select("vec_id", "embedding")
    val stats = Pq.sqStats(embs)
    val cells = graft.queries.CorpusRetrievalQueries.pqCells(spark, d)
    val enc = Pq.assignCells(Pq.sqEncode(embs, stats), cells)
    val q = embs.filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val full = Pq.sqTopK(enc, q, stats, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val all = Pq.ivfSqTopK(enc, q, stats, cells, nprobe = cells.size, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(all == full)
    // nprobe=1: every hit lives in its query's own best cell — the scored
    // pair volume is bounded by the probed fraction, not the corpus
    val one = Pq.ivfSqTopK(enc, q, stats, cells, nprobe = 1, k = 5)
    val cellOf = enc.select("vec_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qCell = Pq.assignCells(q, cells, vecCol = "embedding")
      .select("query_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    one.collect().foreach { r =>
      assert(cellOf(r.getAs[Long]("vec_id")) == qCell(r.getAs[Long]("query_id")))
    }
  }

  test("SQ8 cell store: probes are partition-PRUNED and results exact") {
    import spark.implicits._
    val embs = (0L until 120L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 5 + d * 11) % 23).toFloat)))
      .toDF("vec_id", "embedding")
    val cells = (0 until 4).map(c =>
      Array.tabulate(8)(d => (c * 6 + d).toDouble)).toSeq
    val stats = Pq.sqStats(embs)
    val enc = Pq.assignCells(Pq.sqEncode(embs, stats), cells)
    val dir = java.nio.file.Files.createTempDirectory("sqstore").toString
    Pq.writeSqCellPartitioned(enc, dir, stats, cells)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cell_id=")).sorted
    assert(dirs.nonEmpty && dirs.forall(_.matches("cell_id=\\d+")))
    assert(!spark.read.parquet(dir).columns.contains("embedding"))
    val queries = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val fromStore = Pq.ivfSqTopKFromStore(spark, dir, queries, stats, cells,
      nprobe = 2, k = 5)
    val direct = Pq.ivfSqTopK(enc, queries, stats, cells, nprobe = 2, k = 5)
      .select("query_id", "vec_id", "sq_dist", "rank")
    assert(fromStore.select("query_id", "vec_id", "sq_dist", "rank")
      .orderBy("query_id", "rank").collect().toSeq
      == direct.orderBy("query_id", "rank").collect().toSeq)
    assertCellPruned(fromStore.queryExecution.executedPlan.toString,
      queries, cells, nprobe = 2)
  }

  test("recallAtK: perfect self-recall, partial overlap, missing query = 0") {
    val exact = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2),
      (3L, 30L, 1)).toDF("query_id", "vec_id", "rank")
    assert(Pq.recallAtK(exact, exact, 3) == 1.0)
    // q1 hits 2/3, q2 hits 1/2 (21 replaced), q3 missed entirely → 0
    val approx = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 99L, 3),
      (2L, 20L, 1), (2L, 98L, 2)).toDF("query_id", "vec_id", "rank")
    val r = Pq.recallAtK(approx, exact, 3)
    assert(math.abs(r - (2.0 / 3 + 0.5 + 0.0) / 3) < 1e-12, r.toString)
    // rank truncation: rows past k on either side are invisible
    val deep = approx.unionByName(Seq((3L, 30L, 4)).toDF("query_id", "vec_id", "rank"))
    assert(Pq.recallAtK(deep, exact, 3) == r)
  }

  test("IVF-SQ8 recall floor: >= 0.9 at nprobe=8 on clustered data, monotone in nprobe") {
    // 16 clusters of 6 points strung along a line (spacing 3.0 >> noise
    // 0.1): the exact top-10 of any member spans its own cluster (6) plus
    // its NEIGHBOR clusters (4 more) — so recall at small nprobe is a real
    // function of the probe RANKING, not trivially 1.0 from the own-cell
    // guarantee. A regression in cell assignment or probe ordering drops
    // the floor; nprobe = ncells must recover the brute ranking exactly.
    val nClusters = 16; val perCluster = 6; val dim = 16
    val corpus = (0 until nClusters).flatMap { j =>
      (0 until perCluster).map { m =>
        val id = (j * perCluster + m).toLong
        val v = Array.tabulate(dim) { t =>
          val noise = (((id * 31 + t * 17) % 7).toDouble - 3) * 0.1 / 3
          (if (t == 0) 3.0 * j else 0.0) + noise
        }
        (id, v.map(_.toFloat))
      }
    }.toDF("vec_id", "embedding")
    val cells = (0 until nClusters)
      .map(j => Array.tabulate(dim)(t => if (t == 0) 3.0 * j else 0.0))
    val stats = Pq.sqStats(corpus)
    val enc = Pq.assignCells(Pq.sqEncode(corpus, stats), cells)
    val queries = corpus.filter(col("vec_id") % perCluster === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Pq.sqTopK(enc, queries, stats, k = 10)
    val recalls = Seq(1, 4, 8, nClusters).map { np =>
      np -> Pq.recallAtK(
        Pq.ivfSqTopK(enc, queries, stats, cells, nprobe = np, k = 10),
        exact, 10)
    }.toMap
    assert(recalls(8) >= 0.9, s"recall@10 floor broken: $recalls")
    assert(recalls(nClusters) == 1.0, s"nprobe=all not exact: $recalls")
    assert(recalls(1) <= recalls(4) + 1e-9 && recalls(4) <= recalls(8) + 1e-9,
      s"recall not monotone in nprobe: $recalls")
    // the small-nprobe face must actually be lossy here — otherwise the
    // floor asserts nothing about the probe ranking
    assert(recalls(1) < 0.9, s"fixture degenerate (nprobe=1 too easy): $recalls")
  }

  test("ANN store sidecar: parameter mismatch fails loudly; match and pre-sidecar stores probe") {
    import spark.implicits._
    val embs = (0L until 80L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 5 + d * 11) % 23).toFloat)))
      .toDF("vec_id", "embedding")
    val cells = (0 until 4).map(c =>
      Array.tabulate(8)(d => (c * 6 + d).toDouble)).toSeq
    val cbs = (0 until 4).map(j =>
      Seq(Array.tabulate(2)(x => j * 2.0 + x), Array.tabulate(2)(x => 20.0 - j - x)))
    val queries = embs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // ---- PQ store ----
    val enc = Pq.assignCells(Pq.encode(embs, cbs), cells)
    val dir = java.nio.file.Files.createTempDirectory("pqmeta").toString
    Pq.writeCellPartitioned(enc, dir, cbs, cells)
    assert(new java.io.File(dir, "_meta.json").isFile)
    // matching probe passes
    assert(Pq.ivfAdcTopKFromStore(spark, dir, queries, cbs, cells,
      nprobe = 2, k = 3).count() > 0)
    // drifted centroids (bit-different values, same geometry) — the
    // silent-mis-prune case the sidecar exists to catch
    val drifted = cells.map(_.map(_ + 1e-9))
    val e1 = intercept[IllegalArgumentException] {
      Pq.ivfAdcTopKFromStore(spark, dir, queries, cbs, drifted,
        nprobe = 2, k = 3)
    }
    assert(e1.getMessage.contains("mis-prune"))
    // retrained codebooks — the silent-mis-decode case
    val retrained = cbs.map(_.map(_.map(_ + 1e-9)))
    intercept[IllegalArgumentException] {
      Pq.ivfAdcTopKFromStore(spark, dir, queries, retrained, cells,
        nprobe = 2, k = 3)
    }
    // ---- SQ store (and the cross-family kind check) ----
    val stats = Pq.sqStatsMaterialized(spark, Pq.sqStats(embs))
    val sqEnc = Pq.assignCells(Pq.sqEncode(embs, stats), cells)
    val sqDir = java.nio.file.Files.createTempDirectory("sqmeta").toString
    Pq.writeSqCellPartitioned(sqEnc, sqDir, stats, cells)
    assert(Pq.ivfSqTopKFromStore(spark, sqDir, queries, stats, cells,
      nprobe = 2, k = 3).count() > 0)
    // re-derived stats (a different corpus snapshot) mis-dequantize
    val badStats = spark.range(1).select(
      typedLit(Array.tabulate(8)(_ => -1.0).toSeq).as("__mins"),
      typedLit(Array.tabulate(8)(_ => 99.0).toSeq).as("__maxs"))
    intercept[IllegalArgumentException] {
      Pq.ivfSqTopKFromStore(spark, sqDir, queries, badStats, cells,
        nprobe = 2, k = 3)
    }
    // probing a PQ store through the SQ path trips the kind/quant check
    intercept[IllegalArgumentException] {
      Pq.ivfSqTopKFromStore(spark, dir, queries, stats, cells,
        nprobe = 2, k = 3)
    }
    // a pre-sidecar store (no _meta.json) degrades to caller discipline
    assert(new java.io.File(sqDir, "_meta.json").delete())
    assert(Pq.ivfSqTopKFromStore(spark, sqDir, queries, stats, cells,
      nprobe = 2, k = 3).count() > 0)
  }

  test("ANN store sidecar: malformed _meta.json fails the probe loudly; the established layout still probes") {
    val embs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 5 + d * 11) % 23).toFloat)))
      .toDF("vec_id", "embedding")
    val cells = (0 until 4).map(c =>
      Array.tabulate(8)(d => (c * 6 + d).toDouble)).toSeq
    val cbs = (0 until 4).map(j =>
      Seq(Array.tabulate(2)(x => j * 2.0 + x), Array.tabulate(2)(x => 20.0 - j - x)))
    val queries = embs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val stats = Pq.sqStatsMaterialized(spark, Pq.sqStats(embs))
    val pqDir = java.nio.file.Files.createTempDirectory("pqmeta_bad").toString
    Pq.writeCellPartitioned(Pq.assignCells(Pq.encode(embs, cbs), cells),
      pqDir, cbs, cells)
    val sqDir = java.nio.file.Files.createTempDirectory("sqmeta_bad").toString
    Pq.writeSqCellPartitioned(Pq.assignCells(Pq.sqEncode(embs, stats), cells),
      sqDir, stats, cells)
    val stores = Seq(
      ("pq", pqDir, () => Pq.ivfAdcTopKFromStore(spark, pqDir, queries, cbs,
        cells, nprobe = 2, k = 3)),
      ("sq8", sqDir, () => Pq.ivfSqTopKFromStore(spark, sqDir, queries, stats,
        cells, nprobe = 2, k = 3)))
    for ((kind, dir, probe) <- stores) {
      val file = new java.io.File(dir, "_meta.json")
      val written = java.nio.file.Files.readString(file.toPath)
      // the layout these stores have always written
      assert(written.matches(s"""\\{"kind":"$kind","dim":8,"ncells":4,""" +
        """"cellsDigest":"[0-9a-f]{32}","quantDigest":"[0-9a-f]{32}",""" +
        """"keepVectors":false\}"""), written)
      // replaced behind the Hadoop FS's back: drop its stale checksum too
      def plant(json: String): Unit = {
        new java.io.File(dir, "._meta.json.crc").delete()
        java.nio.file.Files.writeString(file.toPath, json)
      }
      // truncated mid-write, with and without every field already present
      for (bad <- Seq(s"""{"kind":"$kind","dim":8""", written.dropRight(1))) {
        plant(bad)
        val e = intercept[IllegalArgumentException](probe())
        assert(e.getMessage.contains(file.getPath), e.getMessage)
      }
      plant(written)
      assert(probe().count() > 0)
    }
  }

  test("ANN store crash mid-overwrite never leaves a STALE sidecar over new data") {
    import spark.implicits._
    val cells = (0 until 2).map(c => Array.tabulate(4)(_ => c * 5.0)).toSeq
    val cbs = (0 until 2).map(_ =>
      Seq(Array(0.0, 0.0), Array(1.0, 1.0)))
    val embs = Seq((0L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("pqcrash").toString
    // a healthy v1 store with its sidecar...
    Pq.writeCellPartitioned(Pq.assignCells(Pq.encode(embs, cbs), cells),
      dir, cbs, cells)
    assert(new java.io.File(dir, "_meta.json").isFile)
    // ...then a RE-write with retrained codebooks that crashes at write
    // time. The parquet overwrite clears the directory (v1 sidecar
    // included) and the new sidecar only lands after a successful write —
    // so the crash leaves NO sidecar (probes degrade, the next write
    // replaces everything), never v1's contract describing v2's partial
    // data, and never v2's contract over an incomplete store.
    val retrained = cbs.map(_.map(_.map(_ + 0.5)))
    val poisoned = Pq.assignCells(Pq.encode(embs, retrained), cells)
      .withColumn("pq_codes",
        when(expr("raise_error('boom') is null"), col("pq_codes")))
    intercept[Exception] {
      Pq.writeCellPartitioned(poisoned, dir, retrained, cells)
    }
    assert(!new java.io.File(dir, "_meta.json").exists(),
      "crashed overwrite left a sidecar describing an incomplete store")
  }
}
