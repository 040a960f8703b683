package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The cross form of the occupancy guard ([[Dedup.guardedCrossBandPairs]]).
  * The guard tags both banding frames with the oversized-bucket set by a
  * left_outer join in one plan; it must stay ROW-IDENTICAL to the earlier
  * oversized regimes (a broadcast tag of the collected unsafe set, and the
  * shuffle join against the occupancy frame). This suite builds a cross
  * corpus that exercises every branch — oversized shared buckets,
  * refine-splittable near-dups (distinct sub keys), an exact-duplicate
  * cluster no re-keying can split (level-2 still over the cap → star
  * repair), safe satellite buckets, and one-sided buckets (rows an inner
  * occupancy join drops and the left_outer tag keeps — they must never
  * produce pairs) — and asserts the guard's output equals the pinned set
  * both earlier regimes returned, under both `restrictRefBuckets` settings.
  */
class CrossGuardSpec extends graft.SparkFunSuite {

  // near-identical docs (one-token tail edits) → every band bucket shared
  // and far over cap 2; four EXACT copies per side → identical sub keys,
  // so the refined sub-bucket stays oversized and star repair must fire
  private val stem = "the quick brown fox jumps over the lazy dog by the old river bank near town"
  private def side(idBase: Long, n: Int, tail: String): Seq[(Long, String)] =
    (0 until n).map(i => (idBase + i, s"$stem $tail${i / 4}"))

  private lazy val newDocs = {
    val nearDups = side(1000L, 12, "edition")
    val oneSided = Seq(
      2001L -> "completely unrelated payload about harbor cranes and cargo manifests nothing shared",
      2002L -> "another disjoint document entirely about alpine weather stations and snow depth")
    spark.createDataFrame(nearDups ++ oneSided).toDF("doc_id", "text")
  }
  private lazy val refDocs = {
    val nearDups = side(5000L, 12, "edition")
    val satellite = Seq(
      6001L -> "a lone reference document with its own vocabulary about orchard irrigation schedules")
    spark.createDataFrame(nearDups ++ satellite).toDF("doc_id", "text")
  }

  private def banded(docs: org.apache.spark.sql.DataFrame) =
    Dedup.minHashBanded(
      Dedup.minHashBase(docs, "text", "doc_id", 32, 3), 32, 8)

  private def run(restrict: Boolean): Set[(Long, Long)] =
    Dedup.guardedCrossBandPairs(banded(newDocs), banded(refDocs),
        maxBucketSize = 2, refineBits = 16,
        storage = StorageLevel.MEMORY_AND_DISK, restrictRefBuckets = restrict)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // what the broadcast-tag regime and the forced shuffle-join fallback
  // both returned on this corpus, for either restrictRefBuckets setting,
  // before they became one tag path: every new copy of an edition pairs
  // with that edition's min-id ref copy
  private val fallbackPairs: Set[(Long, Long)] = Set(
    1000L -> 5000L, 1001L -> 5000L, 1002L -> 5000L, 1003L -> 5000L,
    1004L -> 5004L, 1005L -> 5004L, 1006L -> 5004L, 1007L -> 5004L,
    1008L -> 5008L, 1009L -> 5008L, 1010L -> 5008L, 1011L -> 5008L)

  test("cross guard: the corpus actually exercises the oversized regime") {
    val occ = banded(newDocs).groupBy("bk").agg(count(lit(1)).as("nn"))
      .join(banded(refDocs).groupBy("bk").agg(count(lit(1)).as("nr")), Seq("bk"))
    val unsafe = occ.filter(col("nn") * col("nr") > 4L).count()
    assert(unsafe > 0, "no oversized shared bucket — the guard fast path " +
      "would serve both variants and the identity test would prove nothing")
    assert(unsafe <= 4096, "unsafe set must sit in the broadcast-tag regime")
  }

  test("cross guard: broadcast-tag regime is row-identical to the shuffle-join fallback") {
    for (restrict <- Seq(true, false)) {
      val tag = run(restrict) // the one tag path
      val fallback = fallbackPairs // pinned from both earlier regimes
      assert(tag.nonEmpty, s"restrict=$restrict: empty candidate set")
      assert(tag == fallback,
        s"restrict=$restrict: broadcast-tag pairs differ from fallback " +
          s"(only in tag: ${tag -- fallback}; only in fallback: ${fallback -- tag})")
      // the exact-duplicate cluster must survive through star repair:
      // every NEW copy of tail "edition0" keeps membership by pairing
      // with the bucket's ref representative (star pairs only against
      // the min-id ref member — member↔member ref edges are the cost of
      // the linear bound, membership is not)
      assert((0 until 4).map(1000L + _).forall(n =>
        tag.exists { case (nn, _) => nn == n }),
        s"restrict=$restrict: star repair lost exact-duplicate new copies")
      // one-sided new docs must never pair
      assert(!tag.exists { case (n, _) => n >= 2000L },
        s"restrict=$restrict: one-sided new docs produced pairs")
    }
  }
}
