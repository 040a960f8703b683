package graft

import graft.llm.Dedup
import org.apache.spark.sql.functions._

/** Round-15 optimization invariants: every rewrite in this round must be
  * row-identical to the shape it replaced.
  *
  *  - setSimilarityJoinOnSets gained a PPJoin position filter, a hashed
  *    join key and a union-free verify — all three are only allowed to
  *    prune work, never pairs, so the suite checks the join against the
  *    brute-force all-pairs definition on a corpus built to stress them
  *    (hot tokens shared by most docs, a length spread around the
  *    threshold boundary, exact duplicates, one-token edits).
  *  - crossCorpusNearDupsFromStore's partition-prune collects became
  *    adaptive (skipped below pruneMinBytes): pruned and unpruned probes
  *    must return identical rows (locked in [[MinHashStoreSpec]]).
  *  - bloomCrossDedup/buildFingerprintBloom accept a precomputed
  *    reference-fingerprint frame: with and without it, identical rows
  *    (locked in [[BloomDedupSpec]]).
  */
class Round15Spec extends SparkFunSuite {

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
}
