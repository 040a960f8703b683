package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The SELF form of the occupancy guard ([[Dedup.guardedPairs]] with no
  * right side). At cap 2 the corpus below drives every branch: oversized
  * buckets (the probe fires), refine-splittable near-dups, and an
  * exact-duplicate cluster no re-keying can split (level-2 still over the
  * cap → star repair). The guard's pairs must equal the pinned set that
  * both earlier oversized regimes (a broadcast tag of the collected
  * oversized set, and the shuffle-join fallback) returned on this corpus,
  * every pair must come out as id_a < id_b, and every cluster copy must
  * pair with the cluster's min-id representative. The CrossGuardSpec
  * sibling covers the cross form.
  */
class BandGuardSpec extends graft.SparkFunSuite {

  private val stem = "the quick brown fox jumps over the lazy dog by the old river bank near town"

  // ids 1-6: one EXACT-duplicate cluster with the lowest ids, so id 1 is
  // the representative of every bucket the cluster lands in; ids 10-21:
  // near-dups with one-token tail edits (four exact copies per tail);
  // ids 50+: unrelated singletons
  private lazy val docs = {
    val cluster = (1L to 6L).map(_ -> s"$stem cluster")
    val nearDups = (0 until 12).map(i => (10L + i, s"$stem edition${i / 4}"))
    val singles = Seq(
      50L -> "completely unrelated payload about harbor cranes and cargo manifests nothing shared",
      51L -> "another disjoint document entirely about alpine weather stations and snow depth")
    spark.createDataFrame(cluster ++ nearDups ++ singles).toDF("doc_id", "text")
  }

  private def banded(d: DataFrame) =
    Dedup.minHashBanded(Dedup.minHashBase(d, "text", "doc_id", 32, 3), 32, 8)

  private def run(): Set[(Long, Long)] =
    Dedup.guardedPairs(banded(docs), None, maxBucketSize = 2, refineBits = 16,
        storage = StorageLevel.MEMORY_AND_DISK)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // what the broadcast-tag regime and the forced shuffle-join fallback
  // both returned on this corpus, before they became one tag path: the
  // cluster's star around id 1 and one star per four-copy edition
  private val fallbackPairs: Set[(Long, Long)] = Set(
    1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L, 1L -> 6L,
    10L -> 11L, 10L -> 12L, 10L -> 13L, 14L -> 15L, 14L -> 16L, 14L -> 17L,
    18L -> 19L, 18L -> 20L, 18L -> 21L)

  test("self guard: the corpus actually exercises the oversized regime") {
    val oversized = banded(docs).groupBy("bk").agg(count(lit(1)).as("n"))
      .filter(col("n") > 2L).count()
    assert(oversized > 0, "no oversized bucket — the guard fast path would " +
      "serve both variants and the identity test would prove nothing")
    assert(oversized <= 4096, "oversized set must sit in the broadcast-tag regime")
  }

  test("self guard: broadcast-tag regime is row-identical to the shuffle-join fallback") {
    val tag = run() // the one tag path
    val fallback = fallbackPairs // pinned from both earlier regimes
    assert(tag.nonEmpty, "empty candidate set")
    assert(tag == fallback,
      s"broadcast-tag pairs differ from fallback (only in tag: " +
        s"${tag -- fallback}; only in fallback: ${fallback -- tag})")
    assert(tag.forall { case (a, b) => a < b },
      s"pairs not ordered id_a < id_b: ${tag.filterNot { case (a, b) => a < b }}")
    // star repair: the cluster's copies keep membership by pairing with
    // the min-id representative (no self pair for the representative)
    assert((2L to 6L).forall(m => tag.contains((1L, m))),
      s"star repair lost cluster copies: ${(2L to 6L).filterNot(m => tag.contains((1L, m)))}")
    assert(!tag.contains((1L, 1L)))
  }

  test("self guard: without oversized buckets self dedup equals cross dedup of a corpus against itself") {
    val small = spark.createDataFrame(Seq(
      1L -> s"$stem alpha",
      2L -> s"$stem alpha",
      3L -> s"$stem beta",
      4L -> "a lone reference document with its own vocabulary about orchard irrigation schedules",
      5L -> "completely unrelated payload about harbor cranes and cargo manifests nothing shared"))
      .toDF("doc_id", "text")
    val statuses = Dedup.minHashBucketStats(small).select("status").distinct()
      .collect().map(_.getString(0)).toSet
    assert(statuses == Set("ok"), s"corpus has oversized buckets: $statuses")
    def triples(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val self = triples(Dedup.minHashNearDups(small))
    val cross = triples(Dedup.crossCorpusNearDups(small, small)
      .filter(col("new_id") < col("ref_id")))
    spark.catalog.clearCache()
    assert(self.exists { case (a, b, _) => a == 1L && b == 2L },
      "the exact pair must verify")
    assert(self == cross,
      s"only in self: ${self -- cross}; only in cross: ${cross -- self}")
  }
}
