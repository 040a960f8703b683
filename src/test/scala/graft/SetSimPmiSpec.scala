package graft

import graft.llm.{Corpus, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact set-similarity join (prefix filtering) and PMI collocations. */
class SetSimPmiSpec extends SparkFunSuite {
  import spark.implicits._

  /** Seeded corpus over a small vocabulary so near-dup pairs abound. */
  private def randomDocs(n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = ('a' to 'z').map(_.toString)
    val rows = (0 until n).map { i =>
      val len = 5 + rnd.nextInt(12)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    rows.toDF("doc_id", "text")
  }

  /** Brute-force token-set Jaccard self-join — the definition. */
  private def bruteForce(docs: DataFrame, t: Double): Set[(Long, Long, Double)] = {
    val sets = docs.select(col("doc_id"),
        array_distinct(filter(split(lower(trim(col("text"))), "\\s+"),
          w => length(w) > 0)).as("ts"))
      .filter(size(col("ts")) > 0)
    sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.jaccard(col("a.ts"), col("b.ts")).as("j"))
      .filter(col("j") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  private def viaPrefix(docs: DataFrame, t: Double): Set[(Long, Long, Double)] =
    Dedup.setSimilarityJoin(docs, threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("setSimilarityJoin equals brute force at several thresholds") {
    val docs = randomDocs(120, seed = 7)
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val expected = bruteForce(docs, t)
      val got = viaPrefix(docs, t)
      assert(got == expected, s"threshold $t: ${got.size} vs ${expected.size}")
      assert(expected.nonEmpty || t > 0.85,
        s"threshold $t produced no pairs - test corpus too sparse to be probative")
    }
  }

  test("setSimilarityJoin keeps a pair sitting exactly on the threshold") {
    // sets {a..i, x} and {a..i, y}: |inter| = 9, |union| = 11 -> J = 9/11;
    // threshold exactly 9/11 must keep it (>= semantics)
    val docs = Seq(
      (1L, "a b c d e f g h i x"),
      (2L, "a b c d e f g h i y")).toDF("doc_id", "text")
    val j = 9.0 / 11.0
    val atT = viaPrefix(docs, j)
    assert(atT == Set((1L, 2L, j)))
    assert(viaPrefix(docs, j + 1e-6).isEmpty)
  }

  test("setSimilarityJoin on identical docs returns the full quadratic output") {
    val docs = (0 until 15).map(i => (i.toLong, "p q r s t")).toDF("doc_id", "text")
    val got = viaPrefix(docs, 1.0)
    assert(got.size == 15 * 14 / 2 && got.forall(_._3 == 1.0))
  }

  test("setSimilarityJoinOnSets works over arbitrary element arrays") {
    val sets = Seq(
      (10L, Seq("u1", "u2", "u3")),
      (20L, Seq("u1", "u2", "u3")),
      (30L, Seq("u9"))).toDF("id", "t")
    val got = Dedup.setSimilarityJoinOnSets(sets, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((10L, 20L, 1.0)))
  }

  /** Brute-force probe×corpus containment — the definition. */
  private def bruteForcePairs(sets: Seq[(Long, Set[String])], t: Double)
      : Set[(Long, Long)] =
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= t
    } yield (ia, ib)).toSet

  private val corpus = DedupCorpus.docs

  private def tokenSets: Seq[(Long, Set[String])] = corpus.map { case (id, t) =>
    id -> t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSet
  }

  test("setSimilarityJoin reproduces brute force at 0.9 (position filter is lossless)") {
    val docs = spark.createDataFrame(corpus).toDF("doc_id", "text")
    for (t <- Seq(0.9, 0.8, 0.5)) {
      val got = Dedup.setSimilarityJoin(docs, threshold = t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == bruteForcePairs(tokenSets, t),
        s"threshold $t: engine pairs differ from brute force")
    }
  }

  test("setSimilarityJoin jaccard values match the exact definition") {
    val docs = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val sets = tokenSets.toMap
    Dedup.setSimilarityJoin(docs, threshold = 0.5).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val exact = sets(a).intersect(sets(b)).size.toDouble /
        sets(a).union(sets(b)).size
      assert(math.abs(r.getDouble(2) - exact) < 1e-12,
        s"pair ($a,$b): jaccard ${r.getDouble(2)} != $exact")
    }
  }

  private def bruteContainment(probe: DataFrame, corpus: DataFrame,
      t: Double): Set[(Long, Long, Double)] = {
    def sets(df: DataFrame) = df.select(col("doc_id"),
        array_distinct(filter(split(lower(trim(col("text"))), "\\s+"),
          w => length(w) > 0)).as("ts"))
      .filter(size(col("ts")) > 0)
    sets(probe).as("a").join(sets(corpus).as("b"),
        col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.ts"), col("b.ts"))).cast("double")
          / size(col("a.ts"))).as("c"))
      .filter(col("c") >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("containmentJoin equals brute force at several thresholds") {
    val corpus = randomDocs(120, seed = 11)
    val probe = corpus.filter(col("doc_id") % 4 === 0)
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val expected = bruteContainment(probe, corpus, t)
      val got = Dedup.containmentJoin(probe, corpus, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected, s"threshold $t: ${got.size} vs ${expected.size}")
      assert(expected.nonEmpty,
        s"threshold $t produced no pairs - test corpus too sparse to be probative")
    }
  }

  test("containmentJoin finds an excerpt that Jaccard misses") {
    val source = (1L, ('a' to 'z').map(c => s"w$c").mkString(" ")) // 26 tokens
    val excerpt = (2L, "wa wb wc")                                 // 3 of them
    val docs = Seq(source, excerpt).toDF("doc_id", "text")
    val got = Dedup.containmentJoin(docs, docs, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((2L, 1L, 1.0))) // excerpt ⊆ source, never the reverse
    // the symmetric join can't see it: J = 3/26 ≈ 0.12
    assert(Dedup.setSimilarityJoin(docs, threshold = 0.5).count() == 0)
  }

  test("containmentJoin keeps a pair sitting exactly on the threshold") {
    // |A| = 5, |A∩B| = 4 -> containment exactly 0.8
    val docs = Seq((1L, "a b c d x"), (2L, "a b c d y z")).toDF("doc_id", "text")
    val at = Dedup.containmentJoin(docs, docs, threshold = 0.8)
      .filter(col("id_a") === 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(at == Set((1L, 2L, 0.8)))
    assert(Dedup.containmentJoin(docs, docs, threshold = 0.8 + 1e-6)
      .filter(col("id_a") === 1L).count() == 0)
  }

  test("containmentJoin probe-only tokens cost nothing and self-pairs drop") {
    val corpus = Seq((1L, "a b c")).toDF("doc_id", "text")
    val probe = Seq((1L, "a b c"), (5L, "zz yy xx")).toDF("doc_id", "text")
    // id 1 in both frames = same doc -> no self pair; zz/yy/xx absent from
    // the corpus -> no candidates at all for id 5
    assert(Dedup.containmentJoin(probe, corpus, threshold = 0.5).count() == 0)
  }

  test("pmiCollocations matches the hand-computed closed form") {
    // unigrams: a=3 b=2 c=1, Nu=6; bigrams: (a,b)=2 (b,a)=1 (a,c)=1, Nb=4
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val rows = Corpus.pmiCollocations(docs, minCount = 1, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    def pmi(cab: Long, ca: Long, cb: Long): Double =
      BigDecimal(math.log((cab.toDouble / 4) / ((ca / 6.0) * (cb / 6.0)))
        / math.log(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // rank ratio cab/(ca*cb): (a,b)=1/3, (a,c)=1/3, (b,a)=1/6;
    // the (a,b)/(a,c) tie breaks on (w1, w2)
    assert(rows.toSeq == Seq(
      ("a", "b", 2L, pmi(2, 3, 2)),
      ("a", "c", 1L, pmi(1, 3, 1)),
      ("b", "a", 1L, pmi(1, 2, 3))))
  }

  test("pmiCollocations minCount floors the pair table") {
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val rows = Corpus.pmiCollocations(docs, minCount = 2, topK = 10).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("a", "b")))
  }

  test("pmiCollocations survives empty / single-token / null docs") {
    val docs = Seq((1L, "solo"), (2L, ""), (3L, null: String),
      (4L, "x y x y x y x y")).toDF("doc_id", "text")
    val rows = Corpus.pmiCollocations(docs, minCount = 1, topK = 10).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      Set(("x", "y", 4L), ("y", "x", 3L)))
  }
}
