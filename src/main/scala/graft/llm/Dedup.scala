package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine — the standard near-dup ladder of a training-data
  * pipeline, each designed shuffle-minimal:
  *
  *  - exact: ONE shuffle on a 128-bit content hash (md5 — 64-bit hashes
  *    birthday-collide at billions of docs, 128-bit doesn't)
  *  - MinHash/SimHash signatures: pure per-row expressions (no UDF, no
  *    shuffle); candidate generation via band-bucket equality joins, so the
  *    only shuffles are on short band keys — never an O(N²) cross join
  *  - verification (exact Jaccard / hamming / cosine) runs only on the
  *    candidate pairs the banding emits
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup groups: one row per distinct content, with the minimum id
    * as the canonical representative and the duplicate count. */
  def exactGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The deduplicated dataset: keep the minimum-id row per content hash. */
  def exactDedup(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keep = exactGroups(docs, textCol, idCol).select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact dedup keeping the BEST copy per content group instead of the
    * arbitrary min-id one: per fingerprint, the row maximizing
    * (`preference`, −id) survives — i.e. highest preference, ties → min
    * id. The "keep the highest-quality / most-recent / preferred-source
    * duplicate" curation step.
    *
    * Implemented as a max_by HASH AGGREGATE, not a window: partial
    * aggregation reduces each content group map-side, so a heavy-hitter
    * fingerprint (boilerplate text with 1e8 copies at 100 TB) costs one
    * combined row per task instead of one straggler partition sorting the
    * whole group. `preference` must be non-null (null orders below
    * everything in Spark's struct comparison — coalesce it yourself if
    * that's not the intent), and `idCol` must be a SIGNED NUMERIC column:
    * the min-id tiebreak negates it, which would fail analysis for
    * string/date ids and overflows at Long.MinValue (ids are non-negative
    * in practice; the require below rejects non-numeric ids outright). */
  def exactDedupKeepBest(docs: DataFrame, preference: Column,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(docs.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"exactDedupKeepBest: idCol '$idCol' must be numeric (its negation is " +
        "the min-id tiebreak); map string ids to a numeric surrogate first")
    val cols = docs.columns.toSeq
    docs
      .groupBy(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .agg(max_by(
        struct(cols.map(c => col(s"`$c`")): _*),
        struct(preference.as("p"), (-col(idCol)).as("ni"))).as("__best"))
      .select(cols.map(c => col(s"__best.`$c`").as(c)): _*)
  }

  // -------------------------------------------------------------- MinHash

  /** Word `n`-shingles of a text column, as an array of strings — built with
    * transform/slice (codegen, no UDF). REFERENCE formulation; the
    * production pipelines use the bit-identical fused native expression
    * [[graft.functions.GraftFunctions.wordShingles]] (one pass over the
    * token array — the interpreted transform/slice/concat_ws tree was the
    * single dominant cost of the whole MinHash pipeline). */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesOfWords(split(lower(trim(text)), "\\s+"), n)

  /** [[shingles]] over an already-tokenized word array. */
  def shinglesOfWords(words: Column, n: Int): Column =
    when(size(words) < n, array(concat_ws(" ", words)))
      .otherwise(transform(
        sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))))

  /** K-element MinHash signature: sig_k = min over shingles of
    * xxhash64(shingle, k). One expression per k — all map-side.
    *
    * NOTE: do NOT apply this to a *computed* shingle expression inside one
    * projection — Catalyst's CollapseProject inlines the shingle
    * construction into all K branches (K× re-evaluation). For bulk corpora
    * use the explode→groupBy path ([[minHashSignatures]]), which hashes
    * each shingle exactly once. */
  def minHashSignature(text: Column, k: Int = 32, shingleN: Int = 3): Column = {
    val sh = array_distinct(shingles(text, shingleN))
    array((0 until k).map { i =>
      array_min(transform(sh, s => xxhash64(s, lit(i))))
    }: _*)
  }

  /** Bulk MinHash signatures — REFERENCE formulation: explode the
    * (already materialized) shingle column → K min-aggregates with
    * map-side partial combine. Each shingle is hashed exactly K times,
    * once — no expression re-inlining. Returns (id, sig) with sig ordered
    * k = 0..K-1.
    *
    * The production pipeline uses the bit-identical fused native
    * expression [[graft.functions.GraftFunctions.minhashSig]] instead —
    * map-side, no explode/shuffle/join; a spec asserts equality. */
  def minHashSignatures(shingled: DataFrame, k: Int = 32): DataFrame = {
    val exploded = shingled.select(col("id"), explode(col("sh")).as("s"))
    val aggs = (0 until k).map(i => min(xxhash64(col("s"), lit(i))).as(s"__h$i"))
    exploded.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** LSH band keys: the signature split into `bands` bands of `k/bands`
    * rows, each band hashed to one long. Docs sharing ANY band key are
    * near-dup candidates (standard MinHash-LSH banding). */
  def bandKeys(sig: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(sig, b * r + 1, r)), lit(b)).as("bucket"))
    }: _*)
  }

  /** Exact Jaccard similarity of the two docs' distinct shingle sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni === 0, 0.0).otherwise(inter.cast("double") / uni)
  }

  /** Estimated Jaccard from two MinHash signatures: the share of equal
    * positions (the unbiased MinHash estimator). 32 long compares — far
    * cheaper than intersecting shingle sets. */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(sigA)

  /** The (id, sh, sig) frame behind [[minHashNearDups]]: signatures via
    * the fused native expression — map-side over the shingle arrays (each
    * shingle's bytes hashed ONCE, K hashInt mixes), no explode, no
    * aggregation shuffle, no signatures join. Bit-identical to
    * [[minHashSignatures]] (spec-asserted); the size>0 filter replicates
    * the aggregate path's inner-join drop of shingle-less docs (shingles()
    * never emits an empty array, so this is a no-op guard in practice).
    * ONE definition shared by the operator and [[minHashBucketStats]], so
    * the monitoring surface can never drift from the guard it reports on. */
  private[graft] def minHashBase(docs: DataFrame, textCol: String,
      idCol: String, k: Int, shingleN: Int): DataFrame =
    docs.select(
      col(idCol).as("id"),
      graft.functions.GraftFunctions.wordShingles(docs.sparkSession,
        split(lower(trim(col(textCol))), "\\s+"), shingleN, distinct = true)
        .as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", graft.functions.GraftFunctions
        .minhashSig(docs.sparkSession, col("sh"), k))

  /** The (id, bk = (band, bucket), sub) banding frame [[guardedPairs]]
    * consumes for MinHash: band keys from [[bandKeys]], refine key `sub`
    * from the FULL-signature hash (identical docs share it → they stay
    * together under re-keying). Shared by the operator and the stats. */
  private[graft] def minHashBanded(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    sigs.select(col("id"),
      explode(bandKeys(col("sig"), k, bands)).as("bk"),
      (pmod(xxhash64(col("sig")), lit(1L << 16)) + 1).as("sub"))

  /** MinHash-LSH near-duplicate pairs verified by exact shingle Jaccard.
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.
    *
    * Plan shape, staged to keep the wide arrays OFF the exploded join:
    *   1. band keys explode (ids only) → self-join on (band, bucket) →
    *      distinct candidate id pairs (one shuffle on the short band key)
    *   2. attach the 32-long signatures, drop pairs whose ESTIMATED Jaccard
    *      is far below threshold (kills the quadratic bucket noise a
    *      self-similar corpus produces, at 32 compares/pair)
    *   3. attach shingle sets only for survivors → exact Jaccard ≥ threshold
    * No cross join anywhere; array payloads touch only candidate pairs.
    *
    * PARTIALLY EAGER (as are [[embeddingNearDups]] and the cross-corpus
    * probe core [[crossProbe]] behind [[crossCorpusNearDups]] and its
    * index/store faces): building the returned frame runs the occupancy
    * guard's one-row probe and localCheckpoints its pair set
    * ([[guardedPairs]]) at DataFrame-CONSTRUCTION time; the cross probe
    * adds its source's ratio counts and prune collects. So plan-only
    * callers (explain tooling, plan-lock tests) execute real jobs before
    * any action of their own. */
  def minHashNearDups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 32, bands: Int = 8,
      threshold: Double = 0.7, shingleN: Int = 3,
      maxBucketSize: Int = 256,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    // ONE persist (base), not two: with the fused shingle expression the
    // construction is cheap enough that caching the intermediate shingled
    // frame costs more (a second wide-array cache write) than any reuse
    // saves — base materializes shingles exactly once and every stage
    // reads base. Default storage is MEMORY_AND_DISK, not MEMORY_ONLY:
    // the frame carries wide shingle arrays, and at 100-TB scale a
    // memory-only cache of them is an eviction/recompute storm — spilling
    // to local disk is strictly cheaper than recomputing. The persisted
    // frame backs the RETURNED lazy DataFrame, so cleanup is caller-owned
    // (`spark.catalog.clearCache()` after materializing, as the gates do).
    val base = minHashBase(docs, textCol, idCol, k, shingleN).persist(storage)
    // OCCUPANCY GUARD (the same 100-TB self-defense the embedding path
    // carries): the band-hash key space is huge, so NATURAL buckets are
    // tiny — but a mega cluster of exact/near-exact duplicates (boilerplate
    // pages, empty docs — routine in any real crawl) shares every band key
    // and would otherwise emit m²/2 candidate pairs per bucket. Oversized
    // buckets re-key on an adaptive slice of the FULL-signature hash
    // (identical docs share it → they stay together → star repair bounds
    // them linearly; a non-identical pair scattered here is typically
    // recovered by one of the other bands, and mega-cluster membership
    // always survives through the representative + CC transitivity). For
    // exact-duplicate clusters larger than the cap the emitted pair set is
    // the star (rep ↔ member) set, not all m²/2 member pairs — the shape
    // [[nearDupClusters]] consumes; same contract as [[embeddingNearDups]].
    val pairs =
      guardedPairs(minHashBanded(base, k, bands), None, maxBucketSize,
        refineBits = 16, storage)
        .dropDuplicates("id_a", "id_b")
    minHashVerify(pairs, base, base, threshold)
  }

  /** The MinHash verify of the self and cross paths over the two sides'
    * `(id, sh, sig)` bases. Stage 1 drops pairs whose signature-ESTIMATED
    * Jaccard is far below threshold (the 0.35 margin keeps estimator
    * variance at k=32 from dropping true positives), through the fused
    * graft_sig_overlap expression — candidates are the pipeline's
    * quadratic-ish point; [[estimatedJaccard]] is the spec'd reference.
    * Stage 2 attaches shingle sets to survivors only: exact Jaccard. */
  private def minHashVerify(pairs: DataFrame, left: DataFrame,
      right: DataFrame, threshold: Double,
      ids: (String, String) = ("id_a", "id_b")): DataFrame = {
    val (a, b) = ids
    val estFiltered = withPayload(pairs, left, right, "sig", ids)
      .filter(graft.functions.GraftFunctions.sigOverlap(pairs.sparkSession,
        col("sig_a"), col("sig_b")) >= threshold - 0.35)
      .select(a, b)
    withPayload(estFiltered, left, right, "sh", ids)
      .select(col(a), col(b), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Attach one payload column of each side to a pair frame: `left`'s
    * `payload` as `<alias>a`, joined on the first pair id, and `right`'s as
    * `<alias>b` on the second (alias `<payload>_` by default, so `sig_a` /
    * `sig_b`). Both sides are `(id, payload, …)` frames. Every verify stage
    * re-attaches its wide arrays this way, to candidate pairs only. */
  private def withPayload(pairs: DataFrame, left: DataFrame, right: DataFrame,
      payload: String, ids: (String, String) = ("id_a", "id_b"),
      alias: String = ""): DataFrame = {
    val (a, b) = ids
    val prefix = if (alias.isEmpty) s"${payload}_" else alias
    pairs
      .join(left.select(col("id").as(a), col(payload).as(prefix + "a")), Seq(a))
      .join(right.select(col("id").as(b), col(payload).as(prefix + "b")), Seq(b))
  }

  /** Cross-corpus (incremental) near-duplicate pairs: match every `newDocs`
    * document against `refDocs` — the already-curated corpus / previous
    * crawl snapshot — WITHOUT self-joining either side. This is the dedup a
    * training pipeline runs on every incoming batch: the reference corpus
    * may be 100 TB, the new batch a fraction of it, and neither side's
    * internal duplicates matter here (run [[minHashNearDups]] per side for
    * those). Returns `(new_id, ref_id, jaccard)` with exact shingle
    * Jaccard ≥ threshold.
    *
    * Plan shape mirrors [[minHashNearDups]]: band keys explode per side →
    * ids-only equi-join on the band key restricted to buckets present on
    * BOTH sides (a one-sided bucket has no cross candidates, so new-batch
    * rows in unshared buckets are pruned before any wide payload moves) →
    * estimated-Jaccard prefilter → exact verify on survivors.
    *
    * Occupancy guard (cross form): the blow-up bound per bucket is the
    * PRODUCT n_new·n_ref, so a bucket is safe while that product ≤ cap².
    * Oversized buckets re-key BOTH sides on the same adaptive slice of the
    * full-signature hash (the bit count is derived from max(n_new, n_ref),
    * identical on both sides, so keys stay aligned; exact copies share the
    * full-signature hash and therefore stay together across sides). A
    * still-oversized sub-bucket degrades to the star contract of
    * [[minHashNearDups]], adapted to the cross shape: each NEW member pairs
    * with the min-id REF member only — one candidate per new doc, which is
    * exactly what matched-against-corpus semantics consume (`new_id` has a
    * match), while member↔member pairs inside the mega cluster are dropped.
    *
    * Both id columns must be non-null and unique per side; the two sides
    * may overlap in id space (ids never join across sides). The two
    * per-side base persists back the RETURNED lazy frame and are
    * caller-owned, same contract as [[minHashNearDups]] (clear the cache
    * catalog after materializing, as the gates do). */
  def crossCorpusNearDups(newDocs: DataFrame, refDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 32, bands: Int = 8, threshold: Double = 0.7,
      shingleN: Int = 3, maxBucketSize: Int = 256,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      restrictRefBuckets: Option[Boolean] = None): DataFrame =
    // the freshly-computed ref base is persisted here (caller-owned, see
    // below) so its three consumers don't re-shingle the ref corpus; a
    // STORED index passed to [[crossCorpusNearDupsAgainstIndex]] directly
    // is deliberately NOT persisted — re-reads are column-pruned scans
    crossCorpusNearDupsAgainstIndex(newDocs,
      buildMinHashIndex(refDocs, textCol, idCol, k, shingleN).persist(storage),
      textCol, idCol, k, bands, threshold, shingleN, maxBucketSize, storage,
      restrictRefBuckets)

  /** Reusable MinHash index of a REFERENCE corpus: the `(id, sh, sig)`
    * base frame [[crossCorpusNearDupsAgainstIndex]] consumes. Build it
    * once per reference snapshot and WRITE IT (parquet) — the production
    * incremental-dedup loop then never re-shingles or re-hashes the
    * reference: a daily 0.1%-sized batch pays the new-batch work plus a
    * column-pruned scan of this index, not a recompute of the 100-TB ref
    * text. Schema: id (from `idCol`), sh (distinct word shingles), sig
    * (k-element MinHash signature). */
  def buildMinHashIndex(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 32, shingleN: Int = 3): DataFrame =
    minHashBase(docs, textCol, idCol, k, shingleN)

  /** [[crossCorpusNearDups]] against a PREBUILT reference index
    * ([[buildMinHashIndex]], typically read back from storage). `k` and
    * `shingleN` must match the index's build parameters.
    *
    * `restrictRefBuckets` controls the shared-bucket `left_semi` that
    * prunes ref-side band rows to buckets the new batch occupies — the
    * restriction that makes the production tiny-batch shape flat, but
    * which is pure overhead when the batch is a sizable fraction of the
    * reference (every bucket is shared anyway). `Some(b)` pins it;
    * `None` (default) decides by the index's PERSISTENCE (round 11):
    *
    *  - `refIndex` persisted (the [[crossCorpusNearDups]] fresh-ref path)
    *    → decide by RATIO: one count per side (work the persisted bases
    *    pay anyway), keep the semi-join only when |new| / |ref| ≤ 1% —
    *    the incremental-ingest regime it exists for;
    *  - `refIndex` NOT persisted (a stored index read back from parquet)
    *    → restriction ON, unconditionally. Counting an unpersisted store
    *    would add a full O(|reference|) scan to EVERY incremental batch —
    *    the exact per-batch-cost-scales-with-the-reference shape this
    *    operator exists to avoid — and the stored-index caller IS the
    *    incremental regime, so the ratio question answers itself.
    *
    * Results are identical either way (the restriction is a semi-join on
    * the join key; it can only drop rows the band join would drop
    * itself). Runs the probe core [[crossProbe]] over an [[IndexRef]],
    * whose verify reads only candidate ids when they are driver-small. */
  def crossCorpusNearDupsAgainstIndex(newDocs: DataFrame, refIndex: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 32, bands: Int = 8, threshold: Double = 0.7,
      shingleN: Int = 3, maxBucketSize: Int = 256,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      restrictRefBuckets: Option[Boolean] = None): DataFrame =
    crossProbe(newDocs, IndexRef(refIndex, restrictRefBuckets), textCol, idCol,
      k, bands, threshold, shingleN, maxBucketSize, storage)

  /** The one cross-corpus MinHash probe behind [[crossCorpusNearDups]],
    * [[crossCorpusNearDupsAgainstIndex]] and [[crossCorpusNearDupsFromStore]]:
    * the batch's `(id, sh, sig)` base (persisted, caller-owned) is banded,
    * paired with the reference's banding rows through the occupancy guard
    * ([[guardedCrossBandPairs]]), deduplicated per `(new_id, ref_id)` and
    * verified ([[minHashVerify]]) against the reference payload. The
    * [[RefSource]] supplies the three steps in which an index and a store
    * differ; a source that proves no pair can exist yields the typed empty
    * `(new_id, ref_id, jaccard)` frame. */
  private def crossProbe(newDocs: DataFrame, ref: RefSource,
      textCol: String, idCol: String, k: Int, bands: Int, threshold: Double,
      shingleN: Int, maxBucketSize: Int, storage: StorageLevel): DataFrame = {
    val baseN = minHashBase(newDocs, textCol, idCol, k, shingleN).persist(storage)
    val bandedN = minHashBanded(baseN, k, bands)
    val verified = for {
      (bandedR, restrict) <- ref.banded(baseN, bandedN, k, bands)
      (pairs, payload) <- ref.payload(
        guardedCrossBandPairs(bandedN, bandedR, maxBucketSize, refineBits = 16,
          storage, restrict).dropDuplicates("new_id", "ref_id"),
        storage)
    } yield minHashVerify(pairs, baseN, payload, threshold, ("new_id", "ref_id"))
    verified.getOrElse(newDocs.select(col(idCol).as("new_id"),
      col(idCol).as("ref_id"), lit(0.0).as("jaccard")).limit(0))
  }

  /** The reference side of [[crossProbe]]: an `(id, sh, sig)` index frame
    * ([[IndexRef]]) or a [[writeMinHashStore]] directory ([[StoreRef]]). */
  private sealed trait RefSource {
    /** The reference banding rows `(id, bk, sub)` and whether the guard
      * restricts them to the buckets the batch occupies; `None` when no
      * reference row can share a bucket with the batch. */
    def banded(baseN: DataFrame, bandedN: DataFrame, k: Int, bands: Int)
      : Option[(DataFrame, Boolean)]
    /** The pairs to verify and the reference payload `(id, sh, sig, …)`,
      * pruned toward the candidates; `None` when no candidate survives. */
    def payload(pairs: DataFrame, storage: StorageLevel)
      : Option[(DataFrame, DataFrame)]
  }

  /** A fresh (persisted) or stored (unpersisted) [[buildMinHashIndex]]
    * frame; `restrict` is [[crossCorpusNearDupsAgainstIndex]]'s
    * `restrictRefBuckets`. */
  private final case class IndexRef(index: DataFrame, restrict: Option[Boolean])
      extends RefSource {
    // a stored index is never count-scanned; on the fresh-ref path one
    // count per side materializes the persisted bases the probe consumes
    // threefold anyway (one row per doc on each side)
    def banded(baseN: DataFrame, bandedN: DataFrame, k: Int, bands: Int) = {
      val r = restrict.getOrElse(index.storageLevel == StorageLevel.NONE || {
        val (nNew, nRef) = (baseN.count(), index.count())
        nRef > 0L && nNew.toDouble / nRef.toDouble <= 0.01
      })
      Some((minHashBanded(index, k, bands), r))
    }

    // CANDIDATE-ID SCAN PRUNING (round 11): the two verification joins
    // need sig/sh of CANDIDATE ref ids only, but a join cannot prune a
    // parquet scan — without this, every incremental batch re-reads the
    // stored index's wide shingle column end to end (the one O(|reference|)
    // term left in this path; the banding pass reads only the narrow sig
    // column). `pairs` is already materialized (the band stage
    // checkpoints), so when the candidate ref-id set is driver-small — the
    // tiny-batch production shape, and bounded by the occupancy guards —
    // collect it and push an In filter into the index scan, where parquet
    // row-group stats skip the non-candidate row groups. Past the cap (a
    // big backfill batch), the join already touches most of the index and
    // the plain scan is the right plan. Driver memory is bounded by the
    // limit(cap+1) probe.
    def payload(pairs: DataFrame, storage: StorageLevel) = {
      val maxPushdownIds = 100000
      val candIds = pairs.select(col("ref_id"))
        .distinct().limit(maxPushdownIds + 1).collect()
      Some((pairs, if (candIds.length > maxPushdownIds) index
        else index.filter(col("id").isInCollection(candIds.map(_.get(0)).toSeq))))
    }
  }

  /** Write a reference MinHash index as a PARTITION-PRUNED serving store —
    * the production layout for the daily incremental-dedup loop (the
    * [[graft.llm.Pq.writeCellPartitioned]] idea applied to dedup). Two
    * parquet datasets under `path`:
    *
    *   - `postings/` — one ids-only row per (doc, band): (bk, sub, id),
    *     partitioned by `pb = hash(band key) mod nParts`. A tiny batch
    *     occupies few band-key hash partitions, so the probe's scan is
    *     partition-pruned to the directories its keys can live in — the
    *     reference's posting rows in other partitions are never READ, not
    *     just never joined.
    *   - `payload/` — the wide arrays (id, sh, sig) stored ONCE per doc
    *     (not once per band), partitioned by `ib = hash(id) mod nParts`;
    *     only candidate ids' partitions are read at verify time.
    *
    * Rebuild per reference snapshot; `k`/`bands`/`shingleN`/`nParts` must
    * match between write and probe ([[crossCorpusNearDupsFromStore]]). */
  def writeMinHashStore(docs: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 32, bands: Int = 8, shingleN: Int = 3, nParts: Int = 64,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): Unit =
    writeMinHashStoreImpl(docs, path, textCol, idCol, k, bands, shingleN,
      nParts, storage, mode = "overwrite")

  /** Incremental index maintenance: add a new batch's postings/payloads
    * to an EXISTING [[writeMinHashStore]] directory — the daily-ingest
    * path (index today's crawl; never rebuild the 100-TB reference).
    * Appended files land inside the same hash partitions the writer laid
    * out (both sides derive pb/ib identically), so probe-side pruning is
    * untouched and the store is indistinguishable from a one-shot write
    * over the union (spec-asserted). Work is bounded by the BATCH —
    * signatures, banding, and the two writes touch only `docs`; the
    * existing store is never read. Ids must stay unique across all
    * batches ([[crossCorpusNearDupsFromStore]]'s contract); parameters
    * (k/bands/shingleN/nParts) MUST match the original write, and the
    * `_meta.json` sidecar the writer lays down ENFORCES it: an append
    * with mismatched parameters (or against a store with no sidecar)
    * fails loudly instead of silently mis-pruning every later probe. */
  def appendMinHashStore(docs: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 32, bands: Int = 8, shingleN: Int = 3, nParts: Int = 64,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): Unit =
    writeMinHashStoreImpl(docs, path, textCol, idCol, k, bands, shingleN,
      nParts, storage, mode = "append")

  private def writeMinHashStoreImpl(docs: DataFrame, path: String,
      textCol: String, idCol: String, k: Int, bands: Int, shingleN: Int,
      nParts: Int, storage: StorageLevel, mode: String): Unit = {
    require(nParts > 0, s"nParts must be positive: $nParts")
    // metadata sidecar: overwrite records the layout parameters; append
    // require-matches them — k/bands/shingleN/nParts are baked into the
    // partition directories and signature widths, so a mismatched append
    // would interleave incompatible postings and every later probe would
    // silently mis-prune (read the wrong pb/ib partitions)
    val meta = StoreMeta(k, bands, shingleN, nParts)
    val existing = readStoreMeta(docs.sparkSession, path)
    // the sidecar is written BEFORE any data lands: a crash mid-write can
    // strand partial data, but never a populated store with no sidecar
    // (which would permanently refuse appends); and the bootstrap write is
    // CREATE-EXCLUSIVE, so two concurrent bootstraps (or an append racing
    // an overwrite) fail loudly on the second create instead of
    // interleaving stores with conflicting parameters
    if (mode == "append") existing match {
      case Some(m) => require(m == meta,
        s"minhash store append: parameters $meta do not match the store's " +
          s"$m under $path — appending would silently " +
          "mis-prune every later probe")
      case None =>
        // appending into an EMPTY path bootstraps the store (the streaming
        // ingest shape: every foreachBatch appends, including the first);
        // a POPULATED store without a sidecar predates it — refuse rather
        // than guess its layout parameters
        val post = new org.apache.hadoop.fs.Path(path, "postings")
        val fs = post.getFileSystem(
          docs.sparkSession.sessionState.newHadoopConf())
        require(!fs.exists(post),
          s"minhash store append: no _meta.json under $path but the store " +
            "has postings — it predates the metadata sidecar; rebuild it " +
            "with writeMinHashStore")
    }
    if (mode != "append" || existing.isEmpty)
      graft.io.Json.write(docs.sparkSession, s"$path/_meta.json", meta.json,
        overwrite = mode != "append")
    val base = minHashBase(docs, textCol, idCol, k, shingleN).persist(storage)
    try {
      // co-locate each store partition into ONE write task before the
      // partitionBy: without this every shuffle partition writes a sliver
      // into every pb/ib directory (tasks × nParts tiny files per write —
      // measured 2.4 s of the q146 gate), and the probe-side pruned reads
      // then pay the same small-file tax forever. One extra exchange of
      // the (small) postings/payload tuples buys one well-sized file per
      // partition per batch — the layout a 100-TB store needs anyway.
      minHashBanded(base, k, bands)
        .withColumn("pb", storePb(nParts))
        .repartition(nParts, col("pb"))
        .write.mode(mode).partitionBy("pb")
        .parquet(path + "/postings")
      base.withColumn("ib", storeIb(col("id"), nParts))
        .repartition(nParts, col("ib"))
        .write.mode(mode).partitionBy("ib")
        .parquet(path + "/payload")
    } finally base.unpersist()
  }

  /** The layout parameters a MinHash serving store is written with —
    * persisted as `_meta.json` next to `postings/`/`payload/` so append
    * and probe can verify compatibility instead of silently mis-pruning. */
  private[llm] case class StoreMeta(k: Int, bands: Int, shingleN: Int,
      nParts: Int) {
    def json: String =
      s"""{"k":$k,"bands":$bands,"shingleN":$shingleN,"nParts":$nParts}"""
  }

  /** Read the sidecar; `None` when absent (a store written before the
    * sidecar existed). */
  private[llm] def readStoreMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[StoreMeta] = {
    val file = s"$path/_meta.json"
    graft.io.Json.read(spark, file).map { j =>
      def field(name: String) = graft.io.Json.int(j, name, file)
      StoreMeta(field("k"), field("bands"), field("shingleN"), field("nParts"))
    }
  }

  /** The band-key → partition assignment shared by store write and probe
    * (both sides MUST derive it identically for pruning to be sound). */
  private def storePb(nParts: Int): Column =
    pmod(xxhash64(col("bk.band"), col("bk.bucket")), lit(nParts.toLong))
  private def storeIb(id: Column, nParts: Int): Column =
    pmod(xxhash64(id), lit(nParts.toLong))

  /** [[crossCorpusNearDups]] against a [[writeMinHashStore]] directory,
    * with the ref-side SCAN itself partition-pruned: the probe reads only
    * the posting partitions the batch's band keys hash into, and only the
    * payload partitions candidate ids hash into. For the production shape
    * (0.1%-sized daily batch vs a 100-TB reference) that bounds ref-side
    * IO by the BATCH size — the direct index path
    * ([[crossCorpusNearDupsAgainstIndex]]) already bounds ref-side JOIN
    * work this way, but still scans the full index. Results are identical
    * to [[crossCorpusNearDups]] over the same corpora (spec-asserted).
    *
    * Two driver actions compute the pruning sets — both bounded by
    * `nParts` values, never by data volume — and each is ADAPTIVE: it is
    * skipped (the scan stays unpruned, results identical) when the target
    * directory is smaller than `pruneMinBytes`, where the blocking
    * round-trip costs more than the scan it would save. Returned frame's
    * caches are caller-owned (clear the catalog after materializing, as
    * the gates do). The `_meta.json` check runs first; then the probe core
    * [[crossProbe]] runs over a [[StoreRef]]. */
  def crossCorpusNearDupsFromStore(newDocs: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 32, bands: Int = 8, threshold: Double = 0.7,
      shingleN: Int = 3, maxBucketSize: Int = 256, nParts: Int = 64,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      pruneMinBytes: Long = 64L << 20): DataFrame = {
    // probe-side parameter check against the writer's sidecar: a probe
    // with the wrong k/bands/shingleN/nParts derives different pb/ib
    // partition assignments and band keys than the store's layout —
    // candidates are silently missed, never visibly wrong. Absent sidecar
    // (a pre-sidecar store) degrades to the caller's responsibility.
    readStoreMeta(newDocs.sparkSession, path).foreach { m =>
      val probe = StoreMeta(k, bands, shingleN, nParts)
      require(m == probe,
        s"minhash store probe: parameters $probe do not match the store's " +
          s"$m under $path — the pruned partition reads would silently " +
          "miss candidates")
    }
    crossProbe(newDocs, StoreRef(path, nParts, pruneMinBytes), textCol, idCol,
      k, bands, threshold, shingleN, maxBucketSize, storage)
  }

  /** A [[writeMinHashStore]] directory. Its postings are always restricted
    * to the batch's buckets (the store IS the incremental regime).
    *
    * ADAPTIVE pruning (derived from the store's actual size, not a
    * constant tuned to either the gate corpus or the cluster): each
    * pruning set costs one BLOCKING driver round-trip — a distinct + a
    * collect, and for the payload set a persist of the whole candidate
    * frame so its materialization is not paid twice. That planning tax
    * (~0.1–0.3 s per probe) only buys anything when the partitions it
    * prunes cost MORE to scan, so probe the directory's byte size (one
    * filesystem metadata call, no job) and skip the prune below
    * `pruneMinBytes` (default 64 MB ≈ the break-even scan cost; the
    * 100-TB store is far past it, so the production path is unchanged).
    * Skipping a prune only widens the scan — results are identical. */
  private final case class StoreRef(path: String, nParts: Int,
      pruneMinBytes: Long) extends RefSource {
    // the store's `sub` directory, and whether it is big enough to prune
    private def read(spark: org.apache.spark.sql.SparkSession, sub: String) = {
      val p = new org.apache.hadoop.fs.Path(path, sub)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val bytes = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
      (spark.read.parquet(s"$path/$sub"), bytes >= pruneMinBytes)
    }

    // `all` restricted to the distinct `part` values of `keys`; `None`
    // when there are none
    private def prune(all: DataFrame, part: String, keys: DataFrame) = {
      val vs = keys.distinct().collect().map(_.getLong(0))
      if (vs.isEmpty) None else Some(all.filter(col(part).isin(vs: _*)))
    }

    def banded(baseN: DataFrame, bandedN: DataFrame, k: Int, bands: Int) = {
      val (all, pruning) = read(baseN.sparkSession, "postings")
      (if (pruning) prune(all, "pb", bandedN.select(storePb(nParts).as("pb")))
       else Some(all)).map(p => (p.select(col("id"), col("bk"), col("sub")), true))
    }

    def payload(pairs: DataFrame, storage: StorageLevel) = {
      val (all, pruning) = read(pairs.sparkSession, "payload")
      if (!pruning) Some((pairs, all))
      else {
        val p = pairs.persist(storage)
        prune(all, "ib", p.select(storeIb(col("ref_id"), nParts).as("ib")))
          .map((p, _))
      }
    }
  }

  /** The consuming step: `newDocs` minus every row with a near-dup in
    * `refDocs` — one anti-join on the matched id set. */
  def dedupAgainstCorpus(newDocs: DataFrame, refDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.7, maxBucketSize: Int = 256,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    newDocs.join(
      crossCorpusNearDups(newDocs, refDocs, textCol, idCol,
        threshold = threshold, maxBucketSize = maxBucketSize, storage = storage)
        .select(col("new_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** The cross form of [[guardedPairs]] over two banding frames
    * `(id, bk, sub)`: new-batch rows against reference rows, returning
    * `(new_id, ref_id)`. */
  private[llm] def guardedCrossBandPairs(bandedNew: DataFrame, bandedRef: DataFrame,
      maxBucketSize: Int, refineBits: Int,
      storage: StorageLevel, restrictRefBuckets: Boolean = true): DataFrame = {
    // restrict the REF side to buckets the new batch actually occupies
    // BEFORE any ref-side aggregation: for the production shape (tiny
    // daily batch vs 100-TB reference) the new bucket set is a broadcast
    // semi-join, so ref rows in unshared buckets — almost all of them —
    // drop map-side and never reach the occupancy shuffle; ref-side JOIN
    // work is bounded by the new batch, not the reference size. When the
    // batch is a sizable fraction of the reference (the caller decides —
    // see IndexRef's ratio rule) nearly every
    // bucket is shared and the semi-join is pure overhead, so it is
    // skipped: the occupancy inner join downstream drops one-sided
    // buckets anyway, making the two plans row-identical.
    val refShared =
      if (restrictRefBuckets)
        bandedRef.join(bandedNew.select(col("bk")).distinct(), Seq("bk"), "left_semi")
      else bandedRef
    guardedPairs(bandedNew, Some(refShared), maxBucketSize, refineBits, storage)
  }

  /** Near-duplicate CLUSTERS: connected components over the verified
    * near-dup pair graph. Every document gets `cluster_id` = the smallest
    * doc id transitively reachable through near-dup links (singletons
    * cluster with themselves) — the keep-one-per-cluster shape a dedup
    * pipeline actually consumes, where A~B and B~C must collapse to ONE
    * cluster even if A~C was never directly found.
    *
    * Components run through the splitter's contraction atomizer over the
    * (node, edge) incidence frame — O(log D) convergence, fully
    * distributed, no driver-side graph. */
  def nearDupClusters(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", threshold: Double = 0.7,
      maxBucketSize: Int = 256,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    clusterPairs(docs.select(col(idCol).as("doc_id")),
      minHashNearDups(docs, textCol, idCol, threshold = threshold,
        maxBucketSize = maxBucketSize, storage = storage))

  /** Keep one document per near-dup cluster (the cluster representative =
    * the cluster_id row, i.e. the smallest transitively-reachable id) —
    * the consuming step after [[clusterPairs]]/[[nearDupClusters]]. */
  def keepClusterRepresentatives(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      clusters.filter(col(idCol) === col("cluster_id")).select(col(idCol)),
      Seq(idCol), "left_semi")

  /** Keep the BEST document per near-dup cluster instead of the arbitrary
    * min-id representative: per cluster, the row maximizing
    * (`preference`, −id) survives — [[exactDedupKeepBest]]'s semantics
    * lifted from exact-hash groups to transitive near-dup clusters. Same
    * plan shape too: a max_by hash aggregate with map-side combine (one
    * shuffle on cluster_id), no per-cluster window sort, so a giant
    * boilerplate cluster reduces per task instead of straggling one
    * partition. Same contracts: non-null `preference`, numeric `idCol`. */
  def keepBestPerCluster(docs: DataFrame, clusters: DataFrame,
      preference: Column, idCol: String = "doc_id"): DataFrame = {
    require(docs.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBestPerCluster: idCol '$idCol' must be numeric (its negation is " +
        "the min-id tiebreak); map string ids to a numeric surrogate first")
    val cols = docs.columns.toSeq
    docs.join(clusters, Seq(idCol))
      .groupBy(col("cluster_id"))
      .agg(max_by(
        struct(cols.map(c => col(s"`$c`")): _*),
        struct(preference.as("p"), (-col(idCol)).as("ni"))).as("__best"))
      .select(cols.map(c => col(s"__best.`$c`").as(c)): _*)
  }

  /** Connected components over any verified near-dup pair frame
    * (id_a, id_b) with NUMERIC ids — the clustering face of the whole
    * dedup ladder: MinHash pairs ([[nearDupClusters]]), embedding-cosine
    * pairs ([[embeddingNearDups]]), SimHash pairs, or an external edge
    * list. String ids must be mapped to a numeric surrogate first
    * (enforced below, matching [[exactDedupKeepBest]]).
    * Every id in `ids` gets `cluster_id` = the smallest transitively
    * reachable id; ids touching no pair self-cluster.
    *
    * Two execution paths behind one semantics, selected by edge count:
    * below `driverMaxEdges` a driver union-find (O(E α(E)), bounded
    * memory, one job) with the membership broadcast back; above it the
    * splitter's contraction atomizer over the (node, edge) incidence
    * frame — O(log D) convergence, fully distributed, no driver-side
    * graph. A spec asserts both paths produce identical clusters. The
    * localCheckpoint fences downstream actions from re-running the
    * (potentially expensive) pair pipeline (measured 22s → ~5s at
    * sf0.1). */
  def clusterPairs(ids: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", driverMaxEdges: Long = 1L << 20): DataFrame = {
    val spark = ids.sparkSession
    // Same numeric-id contract as exactDedupKeepBest/keepBestPerCluster:
    // a non-numeric id would cast to null here and NPE on the driver path
    // (or silently collapse clusters on the distributed path).
    Seq("id_a" -> pairs, "id_b" -> pairs, idCol -> ids).foreach {
      case (c, df) =>
        require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"clusterPairs: column '$c' must be numeric (cluster_id is the " +
            "min reachable id); map string ids to a numeric surrogate first")
    }
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .localCheckpoint()
    val nEdges = p.count()
    val comp =
      if (nEdges <= driverMaxEdges) {
        // SMALL-GRAPH FAST PATH: a verified near-dup pair set is usually
        // tiny relative to the corpus (dups are the exception, not the
        // rule), and the distributed atomizer pays several scheduled jobs
        // per CC round regardless of size. Below `driverMaxEdges` (1M
        // edges ≈ 16 MB — same spirit as the splitter's maxAtoms guard)
        // run union-find on the driver in O(E α(E)) and broadcast the
        // membership back. Above it, the contraction atomizer keeps the
        // graph fully distributed.
        val edges = p.collect()
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          var c = x // path compression
          while (parent.getOrDefault(c, c) != r) {
            val nx = parent.getOrDefault(c, c); parent.put(c, r); c = nx
          }
          r
        }
        edges.foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // min root wins → cluster_id = min reachable id
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val members = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        edges.foreach { row =>
          members += ((row.getLong(0), 0L)); members += ((row.getLong(1), 0L))
        }
        val resolved = members.map(_._1).distinct.map(m => (m, find(m))).toSeq
        import spark.implicits._
        broadcast(resolved.toDF("id", "cluster_id"))
      } else {
        val ek = concat_ws(":", col("id_a"), col("id_b"))
        val incidence = p.select(col("id_a").as("id"), ek.as("__edge"))
          .unionByName(p.select(col("id_b").as("id"), ek.as("__edge")))
          .localCheckpoint()
        val labeled = graft.split.Splitter.makeAtomicChunks(incidence, Seq("id", "__edge"))
        labeled.groupBy(col("id")).agg(min("__atom").as("cluster_id"))
      }
    val base = ids.select(col(idCol))
    base.join(comp, base(idCol) === comp("id"), "left")
      .select(base(idCol),
        coalesce(col("cluster_id"), base(idCol)).as("cluster_id"))
  }

  // -------------------------------------------------------------- SimHash

  /** The 64-bit word hash behind SimHash: the first 16 hex chars of
    * md5(word). md5 is bit-identical in every engine (unlike xxhash64),
    * which makes the whole SimHash pipeline reproducible by the DuckDB
    * correctness oracle. Bit `b` lives in 1-indexed hex char `16 - b/4`,
    * at nibble position `b % 4`. */
  private def md5NibbleBit(hex: Column, b: Int): Column =
    shiftright(conv(substring(hex, 16 - b / 4, 1), 16, 10).cast("int"), b % 4)
      .bitwiseAND(1)

  /** 64-bit SimHash of the token multiset: per bit, the sign of the sum of
    * ±1 votes from each token's md5-derived hash bit. 64 aggregate
    * expressions over the token array — map-side only, codegen'd, no
    * explode, no shuffle. */
  def simHash(text: Column): Column = {
    val tokens = split(lower(trim(text)), "\\s+")
    val hexes = transform(tokens, t => md5(t))
    val bits = (0 until 64).map { bit =>
      val vote = aggregate(hexes, lit(0),
        (acc, h) => acc + when(md5NibbleBit(h, bit) === 1, 1).otherwise(-1))
      when(vote > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Bulk SimHash — fused native expression: tokens stay an array, every
    * bit's vote accumulates in one map-side pass
    * ([[graft.functions.SimHash64]], bit-identical to the aggregate
    * formulation, spec-asserted). No explode, no 64-column vote shuffle —
    * at 100 TB the old explode path shuffled the full token stream just to
    * compute a per-document long. Null texts are dropped, matching the
    * explode path's no-rows-no-group behavior. */
  def simHashes(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        graft.functions.GraftFunctions.simhash64(docs.sparkSession,
          split(lower(trim(col(textCol))), "\\s+")).as("sig"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The (id, bk, sub) banding frame for SimHash: 4 16-bit bands of the
    * 64-bit signature, refine key from the full-signature hash. Shared by
    * [[simHashNearDups]] and [[simHashBucketStats]]. */
  private[llm] def simHashBanded(sigs: DataFrame): DataFrame =
    sigs.select(col("id"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * 16).bitwiseAND(0xFFFFL).as("bucket"))
      }: _*)).as("bk"),
      (pmod(xxhash64(col("sig")), lit(1L << 16)) + 1).as("sub"))

  /** SimHash near-dup pairs with hamming ≤ maxDist, blocked on 4 16-bit
    * bands (pigeonhole: ≤3 flipped bits leave ≥1 band intact — exact recall
    * for maxDist ≤ 3 when no band bucket exceeds `maxBucketSize`;
    * oversized buckets — mega clusters of identical/near-identical docs —
    * go through the same occupancy guard + star repair as
    * [[minHashNearDups]]/[[embeddingNearDups]], which bounds their pair
    * volume linearly and keeps cluster membership through the
    * representative. The bucket key space is ≤ 4·2^16 rows, so the
    * oversized-bucket set the guard tags each row with stays small. */
  def simHashNearDups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxDist: Int = 3,
      maxBucketSize: Int = 256,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    hammingNearDups(simHashes(docs, textCol, idCol), maxDist,
      maxBucketSize, storage)
  }

  /** Near-dup pairs for ANY 64-bit signature frame `(id, sig)` with
    * hamming ≤ `maxDist` — the engine behind [[simHashNearDups]] and the
    * perceptual-hash image dedup
    * ([[graft.llm.Multimodal.imageNearDups]]): 4×16-bit band blocking
    * (pigeonhole-exact for maxDist ≤ 3 under the occupancy cap), the
    * shared guard + star repair, exact hamming verify. The base persists
    * internally — read by the banding pass and BOTH verify joins — and
    * cleanup is caller-owned, as with the other dedup pipelines. */
  def hammingNearDups(sigs: DataFrame, maxDist: Int = 3,
      maxBucketSize: Int = 256,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val base = sigs.select(col("id"), col("sig")).persist(storage)
    val pairs =
      guardedPairs(simHashBanded(base), None, maxBucketSize, refineBits = 16,
        storage)
        .dropDuplicates("id_a", "id_b")
    withPayload(pairs, base, base, "sig")
      .select(col("id_a"), col("id_b"),
        hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  // ------------------------------------------------- n-gram Jaccard (direct)

  /** Pairwise n-gram Jaccard for an explicit pair table — the verification
    * primitive, also usable standalone for small candidate sets. */
  def ngramJaccardPairs(pairs: DataFrame, textA: Column, textB: Column,
      n: Int = 3): Column =
    jaccard(array_distinct(shingles(textA, n)), array_distinct(shingles(textB, n)))

  // ---------------------------------------------- exact set-similarity join

  /** EXACT all-pairs Jaccard self-join over per-document TOKEN sets —
    * prefix filtering (Chaudhuri et al. 2006 / Bayardo et al. 2007), the
    * exact counterpart to [[minHashNearDups]]: every pair with token-set
    * Jaccard ≥ `threshold`, no probabilistic recall loss. Use it when a
    * missed near-dup is unacceptable (contamination sweeps, eval-set
    * hygiene) and the threshold is high enough for the filters to bite.
    * Returns (id_a, id_b, jaccard[exact]) with id_a < id_b. */
  def setSimilarityJoin(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", threshold: Double = 0.7,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val sets = docs.select(col(idCol).cast("long").as("id"),
        array_distinct(filter(split(lower(trim(col(textCol))), "\\s+"),
          w => length(w) > 0)).as("t"))
      .filter(size(col("t")) > 0)
    setSimilarityJoinOnSets(sets, threshold, storage)
  }

  /** [[setSimilarityJoin]] over an arbitrary pre-built `(id, t)` frame of
    * DISTINCT-element arrays (word sets, shingle sets, URL sets …); ids
    * must be unique longs.
    *
    * Why this is exact AND sub-quadratic: elements are put in one global
    * canonical order — document frequency ASCENDING (rare first), ties by
    * the element — and each set only indexes its first
    * `n − ⌈threshold·n⌉ + 1` elements (its "prefix"). The prefix-filtering
    * principle guarantees any pair with Jaccard ≥ threshold shares at
    * least one PREFIX element (J ≥ t ⟹ overlap ≥ ⌈t·max(n_a,n_b)⌉, and
    * two sorted sets sharing ≥ O elements must collide within their first
    * n − O + 1), so the prefix self-join is a complete candidate set.
    * Because prefixes hold each set's globally RAREST elements, join
    * buckets are df-bounded precisely where df is smallest — stop-word
    * floods never become join keys. The ceil is epsilon-biased DOWN so
    * float error can only LENGTHEN a prefix (extra candidates, never a
    * missed pair); candidates then pass the length filter
    * (t·max(n_a,n_b) ≤ min(n_a,n_b) — necessary for J ≥ t) and exact
    * Jaccard verification on the sorted arrays, which is the final
    * authority.
    *
    * Plan shape (100-TB): ONE explode with document frequency attached by
    * a window count on the same `w` exchange (the groupBy+join form paid
    * a second corpus tokenization and a third exchange), one
    * corpus-shuffle regroup to attach the canonical order, an ids-only
    * prefix self-join (wide arrays stay OFF the exploded join — the
    * [[minHashNearDups]] staging) with the PPJoin POSITION filter pruning
    * candidates the remaining-overlap bound already refutes, payload
    * re-attachment only for surviving candidates, and a union-free verify
    * (|∪| = n_a + n_b − |∩|). NO occupancy cap: exactness forbids dropping
    * candidates, and none is needed — candidate volume is Σ_prefix-token
    * df², driven by the rare end of the vocabulary; a degenerate corpus
    * (thousands of identical docs) produces quadratic OUTPUT, so its
    * quadratic work is output-driven, not waste. For approximate-recall
    * budgets at lower thresholds, [[minHashNearDups]] is the scale path.
    *
    * Caches (`storage`) are caller-owned, as in
    * [[crossCorpusNearDupsFromStore]]. */
  def setSimilarityJoinOnSets(sets: DataFrame, threshold: Double,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]: $threshold")
    val el = sets.select(col("id"), explode(col("t")).as("w"))
    // document frequency attached by a WINDOW count over the exploded
    // frame instead of a groupBy + join back: the join form tokenized and
    // exploded the corpus TWICE (once into the df aggregate, once into the
    // join probe) and paid a third exchange to marry them — the window
    // form is one explode, one exchange on `w`, same counts (guide §2.4:
    // two operations keyed the same way share one exchange).
    val sorted = el
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w"))))
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("__df"), col("w")))).as("__sw"))
      .select(col("id"),
        transform(col("__sw"), e => e("w")).as("t"),
        size(col("__sw")).as("n"))
      .persist(storage)
    val plen = col("n") -
      ceil(col("n") * lit(threshold) - lit(1e-9)).cast("int") + 1
    // the join key is the 64-bit HASH of the prefix token, not the string:
    // a hot prefix token's bucket iterates millions of matches (measured:
    // three df≈3800 tokens produce 94% of 22.5M raw matches at sf0.1),
    // and long-compare beats string-compare per iteration. A hash
    // collision can only ADD a candidate pair, which exact verification
    // rejects — completeness is untouched.
    val pre = sorted.select(col("id"), col("n"),
      posexplode(slice(col("t"), lit(1), plen))).toDF("id", "n", "p", "w0")
      .select(col("id"), col("n"), col("p"), xxhash64(col("w0")).as("w"))
    // PPJoin position filter (exactness preserved): J ≥ t forces overlap
    // O ≥ ⌈t/(1+t)·(n_a+n_b)⌉, and for the FIRST shared token (both
    // arrays carry the same global canonical order, so every other shared
    // token sits after it in BOTH) the overlap is bounded by
    // 1 + min(remaining_a, remaining_b). A qualifying pair's first-match
    // row always passes, so the pair survives into dropDuplicates; rows
    // the filter drops could only ever re-propose a pair whose bound
    // proves J < t. The ceil is epsilon-biased DOWN (weaker filter — extra
    // candidates, never a dropped pair). Both this and the length filter
    // sit INSIDE the join condition, not in a Filter above it: the
    // codegen'd hash join then evaluates them on the matched attribute
    // pair and never constructs output rows for the ~80% of matches they
    // refute (guide §1.2 step 2, per-task work).
    val minOv = ceil((col("a.n") + col("b.n")).cast("double")
      * lit(threshold / (1.0 + threshold)) - lit(1e-9))
    val cand = pre.as("a").join(pre.as("b"),
        col("a.w") === col("b.w") && col("a.id") < col("b.id") &&
        (greatest(col("a.n"), col("b.n")).cast("double") * lit(threshold)
          <= least(col("a.n"), col("b.n")).cast("double") + lit(1e-9)) &&
        (lit(1) + least(col("a.n") - col("a.p") - 1,
          col("b.n") - col("b.p") - 1) >= minOv))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("__na"), col("b.n").as("__nb"))
      .dropDuplicates("id_a", "id_b")
    // |a ∪ b| = n_a + n_b − |a ∩ b| (both arrays are distinct-element):
    // one array_intersect per surviving pair instead of intersect + union —
    // the verify stage is the dominant CPU of the whole join (measured
    // 57 s task time of a 3.5 s query at sf0.1), so halving its array
    // traffic is the §1.2 "per-task work" lever.
    val inter = size(array_intersect(col("__ta"), col("__tb"))).cast("double")
    val uni = (col("__na") + col("__nb")).cast("double") - inter
    withPayload(cand, sorted, sorted, "t", alias = "__t")
      .select(col("id_a"), col("id_b"),
        when(uni === 0, 0.0).otherwise(inter / uni).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------ exact containment join

  /** EXACT asymmetric CONTAINMENT join over per-document token sets:
    * every pair (a ∈ probe, b ∈ corpus), a ≠ b, with
    * `|tokens(a) ∩ tokens(b)| / |tokens(a)| ≥ threshold` — "a is (mostly)
    * inside b". The asymmetric companion to [[setSimilarityJoin]]: Jaccard
    * misses excerpt/quote/subset relationships (a 50-token excerpt of a
    * 5000-token page has J ≈ 0.01 but containment 1.0), which is exactly
    * what license-compliance sweeps, quote detection, and
    * excerpt-vs-source dedup need. Pass the same frame twice for a full
    * self-sweep (self-pairs are suppressed). Returns
    * `(id_a, id_b, containment)` with id_a the CONTAINED probe side. */
  def containmentJoin(probe: DataFrame, corpus: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.9,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    def sets(df: DataFrame) = df.select(col(idCol).cast("long").as("id"),
        array_distinct(filter(split(lower(trim(col(textCol))), "\\s+"),
          w => length(w) > 0)).as("t"))
      .filter(size(col("t")) > 0)
    containmentJoinOnSets(sets(probe), sets(corpus), threshold, storage)
  }

  /** [[containmentJoin]] over pre-built `(id, t)` frames of
    * DISTINCT-element arrays; ids must be unique longs within each frame,
    * and an id present in both frames is taken to be the SAME document
    * (self-pairs are suppressed), so self-containment sweeps can pass the
    * same frame twice.
    *
    * Why this is exact and sub-quadratic: elements get the
    * [[setSimilarityJoinOnSets]] canonical order — CORPUS document
    * frequency ascending, ties by the element; probe-only elements get
    * df 0 (they sort first, and since no corpus set holds them they
    * produce zero candidates — free prefix slots). Containment ≥ t forces
    * overlap O ≥ ⌈t·n_a⌉, and a's NON-prefix suffix holds only
    * ⌈t·n_a⌉ − 1 elements — fewer than O — so at least one shared element
    * sits in a's first `n_a − ⌈t·n_a⌉ + 1` elements (its prefix). The
    * CONTAINED side therefore probes with its prefix only; the container
    * side must index every element (containment puts no lower bound on
    * O/n_b, so no container-side prefix exists — the structural asymmetry
    * of the predicate, not a shortcut). The ceil is epsilon-biased DOWN
    * (longer prefix = extra candidates, never a missed pair); candidates
    * pass the size filter n_b ≥ ⌈t·n_a⌉ (b must hold at least the
    * required overlap) and exact `|∩|/n_a` verification, the final
    * authority.
    *
    * Plan shape (100-TB): one vocab-sized corpus df groupBy, one regroup
    * per side to attach the canonical order, an ids-only probe⋈index
    * join, arrays re-attached only to surviving candidates. Candidate
    * volume is Σ_w df_prefix(w)·df(w): probe prefixes hold each set's
    * RAREST elements under the corpus order, so the df(w) fan-out on the
    * index side is paid only where df_prefix(w) is small — a stop word
    * floods the index side but almost never appears in a prefix. The
    * probe frame is the knob that bounds output: quote/excerpt detection
    * probes the suspect batch against the corpus, not corpus×corpus. A
    * degenerate self-sweep (every doc a subset of one template) produces
    * quadratic OUTPUT, so its quadratic work is output-driven, not waste.
    * Caches (`storage`) are caller-owned. */
  def containmentJoinOnSets(probeSets: DataFrame, corpusSets: DataFrame,
      threshold: Double,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]: $threshold")
    val elC = corpusSets.select(col("id"), explode(col("t")).as("w"))
    val dfreq = elC.groupBy("w").agg(count(lit(1)).as("__df"))
    def ordered(sets: DataFrame) =
      sets.select(col("id"), explode(col("t")).as("w"))
        .join(dfreq, Seq("w"), "left")
        .groupBy("id")
        .agg(array_sort(collect_list(
          struct(coalesce(col("__df"), lit(0L)).as("__df"), col("w"))))
          .as("__sw"))
        .select(col("id"),
          transform(col("__sw"), e => e("w")).as("t"),
          size(col("__sw")).as("n"))
        .persist(storage)
    val probeSorted = ordered(probeSets)
    val corpusSorted = ordered(corpusSets)
    val plen = col("n") -
      ceil(col("n") * lit(threshold) - lit(1e-9)).cast("int") + 1
    val probe = probeSorted.select(col("id"), col("n"),
      explode(slice(col("t"), lit(1), plen)).as("w"))
    val index = corpusSorted.select(col("id"), col("n"),
      explode(col("t")).as("w"))
    val cand = probe.as("a").join(index.as("b"),
        col("a.w") === col("b.w") && col("a.id") =!= col("b.id"))
      .filter(col("b.n") >=
        ceil(col("a.n") * lit(threshold) - lit(1e-9)).cast("int"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    withPayload(cand, probeSorted, corpusSorted, "t", alias = "__t")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("__ta"), col("__tb"))).cast("double")
          / size(col("__ta"))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  // ---------------------------------------------- embedding cosine near-dup

  /** Embedding near-dup pairs: cosine ≥ threshold, blocked by
    * random-hyperplane LSH (see [[Similarity.hyperplaneSignature]]) so the
    * join key is a short bit signature, not an O(N²) cross join.
    *
    * SKEW GUARD (the 100-TB self-defense): correlated embeddings skew
    * origin-hyperplane buckets — measured on the synthetic corpus, 85% of
    * all pairs became candidates at 16 planes / 4 bands, a quadratic blowup
    * the naive banding silently permits. The operator now accounts for
    * per-bucket occupancy IN THE PLAN (one tiny groupBy on the band keys —
    * no driver action):
    *
    *   - buckets with ≤ maxBucketSize rows join directly;
    *   - oversized buckets are REFINED: their rows re-key on
    *     `refinePlanes` extra signature bits (bucket-local "raise the
    *     planes-per-band" — recall for exact/near-exact duplicates is
    *     unaffected: identical vectors have identical signatures, so they
    *     always land in the same refined bucket);
    *   - refined buckets still over the cap degrade to STAR pairs: every
    *     row pairs only with the bucket's min-id representative (linear,
    *     n−1 pairs), so per-bucket pair cost stays bounded by
    *     maxBucketSize²/2 by construction while a giant exact-duplicate
    *     cluster — which no re-keying can split, since identical vectors
    *     share every signature bit — keeps FULL recall through the
    *     representative (all copies verify at cosine 1; CC clustering
    *     reconnects the cluster). Star volume is observable via
    *     [[embeddingBucketStats]]; a caller seeing `star` rows should
    *     raise planes/bands or whiten the embeddings (SCALE.md).
    *
    * The cap is also what keeps GROWTH linear: per band a bucket of size
    * m ≤ cap contributes ≤ m·cap/2 pairs, so total candidates are bounded
    * by bands·n·cap/2 — O(n) for a fixed cap. The r7 scale harness
    * (graft.Scale) measured the old 4096 default at 36.6× wall growth for
    * 10× vectors (20k corpus / 16 buckets per band ≈ 1250-row buckets slip
    * under a 4096 cap with quadratic pair volume); cap 256 restores
    * near-linear growth because the refine stage starts splitting exactly
    * when average occupancy passes it.
    *
    * Measured at sf0.1 (2020 vectors, cap 256, 12 refine bits): 1.73M raw
    * candidates → 126k, max refined bucket 92, zero star buckets. All
    * decisions are integer arithmetic + counts, so the DuckDB oracle (q59)
    * replicates the guard bit-for-bit. */
  def embeddingNearDups(embs: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", threshold: Double = 0.95,
      planes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 256, refinePlanes: Int = 12,
      whiten: Boolean = false,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(planes + refinePlanes <= 62, "signature exceeds 62 bits")
    require(maxBucketSize > 1, "maxBucketSize must allow at least a pair")
    // WHITENING (SCALE.md's remedy for correlated-corpus bucket skew):
    // the LSH signature is computed over per-dimension standardized vectors
    // — equalized variance spreads origin-hyperplane buckets — while
    // verification cosine stays on the ORIGINAL vectors, so `whiten` can
    // only change WHICH candidates are considered, never the similarity
    // semantics of the emitted pairs. Exact-duplicate recall is unaffected:
    // identical vectors standardize identically → identical signatures.
    // standardizeEmbeddings is a broadcast-moments rewrite (map-side), so
    // this adds no corpus shuffle.
    val sigOf = graft.functions.GraftFunctions
      .hyperplaneSig(embs.sparkSession, _: Column, planes + refinePlanes)
    val src = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val prepped =
      if (whiten)
        Similarity.standardizeEmbeddings(src.withColumn("__w", col("v")), "__w")
          .select(col("id"), col("v"), sigOf(col("__w")).as("sig"))
      else
        src.select(col("id"), col("v"), sigOf(col("v")).as("sig"))
    // persist = optimizer fence (signature computed once — CollapseProject
    // would otherwise re-inline the aggregate projection into every band
    // branch and BOTH join sides) + the reuse point for the band stage and
    // the vector-attach stage. MEMORY_AND_DISK by default: the frame
    // carries the full vector payload (see minHashNearDups). Caller owns
    // cleanup after materializing the result.
    val base = prepped.persist(storage)
    // level-1 occupancy key space here is ≤ bands·2^(planes/bands) rows,
    // so the oversized-bucket set the guard tags with is small
    val pairs =
      guardedPairs(bandedKeys(base, planes, bands, refinePlanes), None,
        maxBucketSize, refinePlanes, storage)
        .dropDuplicates("id_a", "id_b")
    // fused native cosine (bit-identical to Similarity.cosine, one codegen
    // loop instead of four interpreted HOF passes) — the verify step runs
    // once per surviving candidate pair, so this is the hot loop
    val cosExpr = graft.functions.GraftFunctions.cosine(
      embs.sparkSession, col("v_a"), col("v_b"))
    withPayload(pairs, base, base, "v")
      .select(col("id_a"), col("id_b"), cosExpr.as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The (id, bk = (band, bucket), sub) banding frame over a cached
    * (id, v, sig) projection — ONE definition shared by the guard and by
    * [[embeddingBucketStats]], so the monitoring surface can never drift
    * from the decisions it reports on. */
  private[llm] def bandedKeys(base: DataFrame, planes: Int, bands: Int,
      refinePlanes: Int): DataFrame = {
    require(planes % bands == 0, "planes must be divisible by bands")
    val r0 = planes / bands
    base.select(col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * r0).bitwiseAND((1L << r0) - 1).as("bucket"))
      }: _*)).as("bk"),
      (shiftright(col("sig"), planes).bitwiseAND((1L << refinePlanes) - 1) + 1L).as("sub"))
  }

  /** Adaptive refine width: re-key an oversized bucket of n rows on just
    * enough of the refine bits to bring expected sub-occupancy back under
    * the cap — `bits = ceil(log2(ceil(n / cap)))`, clamped to
    * `refinePlanes`. Using all refine bits at once (the pre-r7 behavior)
    * scattered mid-size buckets into near-singleton sub-buckets: each
    * extra bit multiplies a NON-identical near-dup pair's collision
    * probability by P(plane agrees) < 1, so over-splitting costs recall
    * for exactly the pairs the operator exists to find (identical vectors
    * are immune — they share every bit at any width). Pure integer
    * arithmetic (a when-chain over the ≤ refinePlanes possible mask
    * literals — no floating log), so the DuckDB oracle replicates it
    * bit-for-bit. `sub` stays ≥ 1 → disjoint from the direct keys' 0. */
  private def adaptiveSub(sub: Column, n: Column,
      maxBucketSize: Int, refinePlanes: Int): Column = {
    // bits = smallest i with n <= cap·2^i  ⟺  ceil(log2(ceil(n/cap))):
    // plain long threshold comparisons, division-free
    val mask = (1 until refinePlanes).foldRight(
      lit((1L << refinePlanes) - 1): Column) { (i, acc) =>
      when(n <= maxBucketSize.toLong * (1L << i), lit((1L << i) - 1)).otherwise(acc)
    }
    (sub - 1).bitwiseAND(mask) + 1
  }

  /** The occupancy guard of every LSH near-dup path: candidate pairs from
    * banding frames `(id, bk, sub)`. `bk` is any band key; `sub` is a
    * full-width (≥ 1) refine key whose low bits re-key oversized buckets
    * ([[adaptiveSub]]). Join keys are k = (bk, sub), sub = 0 for rows of
    * safe buckets and the adaptive refine bits (≥ 1) for rows of oversized
    * ones, so the two key spaces are disjoint. A refined bucket STILL over
    * the cap does not vanish: its rows pair against the bucket's min-id
    * representative (star repair — linear, so the per-bucket bound
    * survives).
    *
    * `right = None` is the self form: `(id_a, id_b)` with id_a < id_b and
    * star pairs `(rep, member)`. `Some(ref)` is the cross form:
    * `(new_id, ref_id)`. A bucket's occupancy then counts both sides,
    * safety bounds the cross PRODUCT n_new·n_ref ≤ cap² (self's n ≤ cap is
    * that bound with both sides equal; a one-sided bucket cannot pair and
    * is safe), the refine width comes from max(n_new, n_ref) so sub keys
    * align across sides, and star repair pairs each new member with the
    * min-id ref member.
    *
    * Each level's oversized-key set is one occupancy aggregate over both
    * sides' rows (the self form's rows are both sides), filtered to the
    * keys over the cap, and every row is tagged with it by a left_outer
    * join (a null tag marks a row of a safe key; AQE broadcasts the set
    * when it is small). That is row-identical to an inner occupancy join:
    * every pair needs an equi-match on k from both sides, so rows of
    * one-sided buckets never pair, and every oversized cross bucket is
    * shared by construction. Star repair runs in the same pair join: the
    * rows of a key still over the cap join on a star flag, and the
    * representative's side keeps only the representative, so each member
    * pairs with it alone.
    *
    * Eager at construction: a one-row probe of the level-1 set (empty →
    * the refine/star machinery is a provable no-op, sub ≡ 0, and the
    * direct bucket equi-join replaces it), then the slim pair set is
    * localCheckpointed and the guard's own persists are dropped. A lazy
    * form of the same plan measured slower and heavier on perfbench batch:
    * the plan fans out, AQE reuses no exchange over the re-instanced
    * cached bases of a self-join, so every consumer recomputes its branch,
    * and a caller caching the lazy frame keeps the plan's broadcast hash
    * tables on the heap for the cache's lifetime. */
  private[llm] def guardedPairs(left: DataFrame, right: Option[DataFrame],
      maxBucketSize: Int, refineBits: Int, storage: StorageLevel): DataFrame = {
    val self = right.isEmpty
    val (a, b) = if (self) ("id_a", "id_b") else ("new_id", "ref_id")
    // self pairs keep id_a < id_b; cross pairs run new against ref
    def pairsOn(keys: Seq[String], l: DataFrame, r: DataFrame): DataFrame = {
      val joined = l.select(col("id").as(a) +: keys.map(col): _*)
        .join(r.select(col("id").as(b) +: keys.map(col): _*), keys)
      (if (self) joined.filter(col(a) < col(b)) else joined).select(a, b)
    }
    // ONE frame of both sides' rows: `__new` rows pair as `a`, `__ref` rows
    // as `b` (every row of the self form is both), so each level's
    // occupancy is one aggregate
    def flagged(t: DataFrame, isNew: Boolean, isRef: Boolean) =
      t.select(col("id"), col("bk"), col("sub"),
        lit(isNew).as("__new"), lit(isRef).as("__ref"))
    val rows = right.fold(flagged(left, isNew = true, isRef = true))(r =>
      flagged(left, isNew = true, isRef = false)
        .unionByName(flagged(r, isNew = false, isRef = true)))
    // the keys whose pair volume n_new·n_ref (self: n²) exceeds cap², with
    // the bucket size `__n` the refine width derives from (the larger
    // side's count, identical for both sides' rows, so the sub keys align)
    // and the min ref-side id `__rep`, the star representative; the
    // product is taken in double, exact far past cap²
    def oversized(key: String, t: DataFrame): DataFrame =
      t.groupBy(col(key)).agg(
          count(when(col("__new"), 1)).as("__nn"),
          count(when(col("__ref"), 1)).as("__nr"),
          min(when(col("__ref"), col("id"))).as("__rep"))
        .filter(col("__nn").cast("double") * col("__nr") >
          maxBucketSize.toDouble * maxBucketSize)
        .select(col(key), greatest(col("__nn"), col("__nr")).as("__n"),
          col("__rep"))
    // slim (one row per oversized bucket); the probe materializes it once
    // for the tag join below
    val over1 = oversized("bk", rows).persist(storage)
    if (over1.limit(1).collect().isEmpty) {
      // the banding frames are cheap projections over the callers'
      // persisted bases — recomputing them beats persisting a third frame
      val out = pairsOn(Seq("bk"), left, right.getOrElse(left)).localCheckpoint()
      over1.unpersist()
      return out
    }
    // both sides derive the refine width from the same occupancy row, so
    // the adaptive mask is identical and the sub-keys align across sides;
    // fenced, as the level-2 aggregate and the tag join both read it
    val keyed = rows.join(over1, Seq("bk"), "left_outer")
      .select(col("id"), col("__new"), col("__ref"), struct(col("bk"),
        when(col("__n").isNull, lit(0L)).otherwise(
          adaptiveSub(col("sub"), col("__n"), maxBucketSize, refineBits))
          .as("sub")).as("k"))
      .persist(storage)
    // STAR REPAIR: dropping a still-oversized refined bucket outright would
    // guarantee ZERO recall on exactly the most common real dedup target —
    // a giant exact-duplicate cluster (identical vectors share every
    // signature bit, so no amount of re-keying can split them). Pairing the
    // bucket against its min-id representative keeps cost linear (n−1
    // pairs) while every identical copy verifies at cosine 1 against the
    // representative; downstream clustering (nearDupClusters' CC) restores
    // the full cluster through it. Near-identical members lose only
    // member↔member edges, never membership. Level 2 counts only refined
    // rows: a safe bucket's (bk, 0) key is within the cap by definition.
    val tagged = keyed
      .join(oversized("k", keyed.filter(col("k.sub") =!= 0L)), Seq("k"), "left_outer")
      .select(col("id"), col("__new"), col("__ref"), col("k"),
        col("__rep").isNotNull.as("__star"),
        (col("__rep").isNull || col("id") === col("__rep")).as("__keep"))
      .persist(storage)
    try {
      // the representative pairs as `a` in the self form (it is the min
      // id) and as the ref side `b` in the cross form
      def side(flag: String, repSide: Boolean): DataFrame =
        tagged.filter(if (repSide) col(flag) && col("__keep") else col(flag))
      // localCheckpoint runs the pair job now and keeps only its blocks, so
      // the guard's persists are dropped in the finally below
      pairsOn(Seq("k", "__star"), side("__new", repSide = self),
        side("__ref", repSide = !self)).localCheckpoint()
    } finally Seq(over1, keyed, tagged).foreach(_.unpersist())
  }

  /** Occupancy accounting for [[embeddingNearDups]]'s skew guard — the
    * monitoring surface SCALE.md prescribes, built on the SAME
    * [[bandedKeys]] construction the guard uses. One row per level-1 bucket
    * (status `ok` or `refined`) plus one per refined sub-bucket (`kept` or
    * `star` — still over the cap, so it degrades to representative star
    * pairs). Candidate-pair volume is bounded by `sum(n·(n−1)/2) where
    * status in (ok, kept)` plus `sum(n−1) where status = star`. */
  def embeddingBucketStats(embs: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", planes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 256, refinePlanes: Int = 12,
      whiten: Boolean = false): DataFrame = {
    // same whiten-for-signature-only rule as embeddingNearDups, so the
    // stats report on exactly the buckets the guarded operator would use
    val sigOf = graft.functions.GraftFunctions
      .hyperplaneSig(embs.sparkSession, _: Column, planes + refinePlanes)
    val src = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val base =
      if (whiten)
        Similarity.standardizeEmbeddings(src, "v")
          .select(col("id"), sigOf(col("v")).as("sig"))
      else
        src.select(col("id"), sigOf(col("v")).as("sig"))
    bandedBucketStats(bandedKeys(base, planes, bands, refinePlanes),
      maxBucketSize, refinePlanes)
  }

  /** Occupancy accounting for [[minHashNearDups]]'s guard — the MinHash
    * analog of [[embeddingBucketStats]], built on the SAME
    * [[minHashBase]]/[[minHashBanded]] frames the operator uses. One row
    * per level-1 band bucket (`ok`/`refined`) plus one per adaptively
    * re-keyed sub-bucket (`kept`/`star`). A `star` row means that bucket's
    * recall degraded to representative star pairs — the monitoring signal
    * for a star-degraded mega cluster (SCALE.md measured −5% simhash
    * pairs at sf1 from exactly this mode). */
  def minHashBucketStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 32, bands: Int = 8,
      maxBucketSize: Int = 256, shingleN: Int = 3): DataFrame =
    bandedBucketStats(
      minHashBanded(minHashBase(docs, textCol, idCol, k, shingleN), k, bands),
      maxBucketSize, refineBits = 16)

  /** Occupancy accounting for [[simHashNearDups]]'s guard — same report
    * over the SimHash 16-bit-band frame ([[simHashBanded]]). */
  def simHashBucketStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxBucketSize: Int = 256): DataFrame =
    bandedBucketStats(simHashBanded(simHashes(docs, textCol, idCol)),
      maxBucketSize, refineBits = 16)

  /** The generic occupancy report over ANY `(id, bk = (band, bucket), sub)`
    * banding frame — the monitoring twin of [[guardedPairs]], derived
    * from the SAME frame shape so the report can never drift from the
    * guard's decisions. ONE pass over the banded frame: aggregate straight
    * to per-(bucket, sub) counts (tiny — bounded by distinct keys),
    * localCheckpoint that, and derive both report levels from it. No
    * session-lifetime cache registration (the round-4 .cache() here leaked
    * across repeated monitoring calls), and the wide frame is never
    * scanned twice. Level 2 re-keys on the ADAPTIVE sub width the guard
    * would actually use for a bucket of that size. */
  private def bandedBucketStats(banded: DataFrame, maxBucketSize: Int,
      refineBits: Int): DataFrame = {
    val c2 = banded
      .groupBy(col("bk.band").as("band"), col("bk.bucket").as("bucket"), col("sub"))
      .agg(count(lit(1)).as("__n2"))
      .localCheckpoint()
    val lvl1 = c2.groupBy(col("band"), col("bucket"))
      .agg(sum(col("__n2")).as("n"))
      .select(col("band"), col("bucket"), lit(null).cast("long").as("sub"), col("n"),
        when(col("n") <= maxBucketSize, "ok").otherwise("refined").as("status"))
    val oversized = lvl1.filter(col("status") === "refined")
      .select(col("band"), col("bucket"), col("n").as("__n1"))
    val lvl2 = c2.join(oversized, Seq("band", "bucket"))
      .select(col("band"), col("bucket"),
        adaptiveSub(col("sub"), col("__n1"), maxBucketSize, refineBits).as("sub"),
        col("__n2"))
      .groupBy(col("band"), col("bucket"), col("sub"))
      .agg(sum(col("__n2")).as("n"))
      .select(col("band"), col("bucket"), col("sub"), col("n"),
        when(col("n") <= maxBucketSize, "kept").otherwise("star").as("status"))
    lvl1.unionByName(lvl2)
  }

  // ------------------------------------------------------- semantic dedup

  /** Nearest-centroid assignment as a PURE PROJECTION: `centroids` is a
    * small driver-side list (the SemDeDup recipe clusters with K ≪ N, and
    * K×dim doubles fit in the plan as literals), folded into ONE map-side
    * expression — array_max over (cosine, −centroid_id) structs, so the
    * argmax ties break to the smallest centroid id. No shuffle, no join,
    * no window; the corpus is touched once. Adds `centroid_id` (int) and
    * `centroid_sim` (double, cosine to the winning centroid). For K too
    * large to inline (≫10⁴), cluster with [[Ivf.build]] instead — its
    * `assigned` frame is the same shape. */
  def assignCentroids(embs: DataFrame, centroids: Seq[Array[Double]],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(centroids.nonEmpty, "assignCentroids: empty centroid list")
    val s = embs.sparkSession
    val centArr = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(array(c.toIndexedSeq.map(x => lit(x)): _*).as("cv"),
        lit(i).as("cid"))
    }: _*)
    val best = array_max(transform(centArr, ct => struct(
      graft.functions.GraftFunctions.cosine(s, col(vecCol), ct.getField("cv"))
        .as("s"),
      (-ct.getField("cid")).as("nid"))))
    embs.withColumn("centroid_id", (-best.getField("nid")).cast("int"))
      .withColumn("centroid_sim", best.getField("s"))
  }

  /** SemDeDup candidate discovery (Abbas et al. 2023, "SemDeDup:
    * data-efficient learning at web-scale through semantic deduplication"):
    * within-CLUSTER cosine pairs at ≥ `threshold`, where clusters are
    * nearest-centroid cells — the paper's trick of never comparing across
    * clusters, which turns all-pairs O(N²) into Σ n_c². Emits
    * (id_a, id_b, cosine), id_a < id_b.
    *
    * The per-cluster quadratic is the algorithm's own cost model, but a
    * skewed cell (one centroid owning 1e8 near-identical crawl pages)
    * would still be quadratic — so the cluster cells run through the SAME
    * occupancy guard as [[embeddingNearDups]] (`bk` = centroid cell, `sub`
    * = `refinePlanes` hyperplane-signature bits with the adaptive width):
    * oversized cells re-key on signature bits; a cell the signature cannot
    * split degrades to min-id star pairs (identical vectors still verify
    * at cosine 1; [[clusterPairs]] restores the cluster through the
    * representative). Guard decisions are integer arithmetic, so the
    * DuckDB gate (q112) replicates them exactly. Caller owns cleanup after
    * materializing the result (same contract as [[embeddingNearDups]]). */
  def semanticDedupPairs(embs: DataFrame, centroids: Seq[Array[Double]],
      threshold: Double = 0.95, vecCol: String = "embedding",
      idCol: String = "vec_id", maxBucketSize: Int = 256,
      refinePlanes: Int = 12,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(refinePlanes >= 1 && refinePlanes <= 62, "refinePlanes out of range")
    require(maxBucketSize > 1, "maxBucketSize must allow at least a pair")
    val s = embs.sparkSession
    val base = assignCentroids(embs, centroids, vecCol, idCol)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("centroid_id"),
        graft.functions.GraftFunctions.hyperplaneSig(s, col(vecCol), refinePlanes)
          .as("__rs"))
      .persist(storage)
    val banded = base.select(col("id"),
      struct(lit(0).as("band"), col("centroid_id").cast("long").as("bucket"))
        .as("bk"),
      (col("__rs").bitwiseAND((1L << refinePlanes) - 1) + 1L).as("sub"))
    val pairs = guardedPairs(banded, None, maxBucketSize, refinePlanes, storage)
    val cosExpr = graft.functions.GraftFunctions.cosine(s,
      col("v_a"), col("v_b"))
    withPayload(pairs, base, base, "v")
      .select(col("id_a"), col("id_b"), cosExpr.as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Full SemDeDup: within-cluster pairs → connected components → keep ONE
    * member per semantic group — the one with the LOWEST cosine to its
    * centroid (the paper keeps the example farthest from the centroid:
    * of a group of semantic duplicates, the least prototypical one carries
    * the most residual information), ties → smallest id. Singleton groups
    * (nothing within `threshold`) survive untouched. Returns the surviving
    * rows with the input's columns.
    *
    * Composition of audited pieces: [[assignCentroids]] (map-only) +
    * [[semanticDedupPairs]] (guarded band join) + [[clusterPairs]] (CC,
    * driver fast path under 1M edges) + [[keepBestPerCluster]] (max_by
    * hash aggregate — no per-group window). */
  def semanticDedup(embs: DataFrame, centroids: Seq[Array[Double]],
      threshold: Double = 0.95, vecCol: String = "embedding",
      idCol: String = "vec_id", maxBucketSize: Int = 256,
      refinePlanes: Int = 12,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val pairs = semanticDedupPairs(embs, centroids, threshold, vecCol, idCol,
      maxBucketSize, refinePlanes, storage)
    val clusters = clusterPairs(embs.select(col(idCol)), pairs, idCol)
    keepBestPerCluster(
      assignCentroids(embs, centroids, vecCol, idCol),
      clusters, -col("centroid_sim"), idCol)
      .drop("centroid_id", "centroid_sim")
  }

  // ------------------------------------------------- paragraph-level dedup

  /** Explode `textCol` into (doc id, position, paragraph) on `sepRegex`
    * with a 128-bit normalized content fingerprint per paragraph
    * ([[TextAnalysis.fingerprint]]: lowercase, whitespace-collapsed, md5 —
    * 64-bit keys birthday-collide at corpus scale, 128-bit doesn't). One
    * narrow map over the scan; position is kept so documents can be
    * reassembled in order without ever sorting globally. */
  private def paragraphFrame(docs: DataFrame, textCol: String, idCol: String,
      sepRegex: String): DataFrame =
    docs.select(col(idCol).as("__pg_id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("__pg_i", "__pg_p")))
      .withColumn("__pg_fp", TextAnalysis.fingerprint(col("__pg_p")))

  /** Corpus-wide paragraph duplication counts: one row per distinct
    * normalized paragraph with its occurrence count — the shared first
    * stage of [[removeRepeatedParagraphs]] and [[dupLineStats]], exposed
    * for "what boilerplate dominates this crawl" analyses. ONE shuffle on
    * the 128-bit fingerprint; partial aggregation collapses a boilerplate
    * paragraph with 1e8 copies to one row per map task before the
    * exchange. */
  def paragraphCounts(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", sepRegex: String = "\n+"): DataFrame =
    paragraphFrame(docs, textCol, idCol, sepRegex)
      .groupBy(col("__pg_fp").as("fingerprint"))
      .agg(count(lit(1)).as("n_dups"),
        min(col("__pg_id")).as("first_id"),
        min(col("__pg_p")).as("paragraph"))

  /** Exact paragraph-level dedup (RefinedWeb "exact line dedup" /
    * MassiveText repeated-passage removal): remove from EVERY document any
    * paragraph whose normalized form occurs more than `maxOccurrences`
    * times across the corpus, then reassemble each document's surviving
    * paragraphs in their original order, joined with `sep`. Removal hits
    * all copies (the RefinedWeb contract — boilerplate vanishes entirely,
    * no canonical copy is kept); documents left with zero paragraphs are
    * dropped when `dropEmptied` (RefinedWeb drops them too) or kept with
    * empty text otherwise. All non-text columns ride along unchanged.
    *
    * Plan at 100 TB: explode → count on the md5 fingerprint (partial agg,
    * one shuffle) → join counts back on the fingerprint → regroup by doc
    * id collecting (position, paragraph) structs, array_sort per doc (doc
    * memory ∝ its own size, never a global sort), array_join. No windows.
    * The counts-side of the back-join is pre-aggregated (one row per
    * distinct paragraph), so a mega boilerplate key is skewed only on the
    * exploded side — exactly the shape AQE skew-join splits, since the
    * one-row side can be replicated freely for an inner join. */
  def removeRepeatedParagraphs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", sepRegex: String = "\n+", sep: String = "\n",
      maxOccurrences: Long = 1, dropEmptied: Boolean = true): DataFrame = {
    val parts = paragraphFrame(docs, textCol, idCol, sepRegex)
    val counts = parts.groupBy(col("__pg_fp")).agg(count(lit(1)).as("__pg_n"))
    val rebuilt = parts.join(counts, Seq("__pg_fp"))
      .filter(col("__pg_n") <= maxOccurrences)
      .groupBy(col("__pg_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pg_i"), col("__pg_p")))),
          x => x.getField("__pg_p")),
        sep).as("__pg_text"))
    docs.join(rebuilt, docs(idCol) === rebuilt("__pg_id"),
        if (dropEmptied) "inner" else "left")
      .withColumn(textCol, coalesce(col("__pg_text"), lit("")))
      .drop("__pg_id", "__pg_text")
  }

  /** Per-document duplicate-line statistics (the Gopher repetition-quality
    * signals `duplicate_line_fraction` / `duplicate_line_character_
    * fraction`, computed CORPUS-wide): for each document, how many of its
    * paragraphs (and what share of its characters) sit in paragraphs whose
    * normalized form occurs elsewhere in the corpus. Feed the fractions to
    * [[TextAnalysis.qualityRules]]-style thresholds (Gopher drops docs
    * with dup_line_frac > 0.30 or dup_char_frac > 0.20).
    *
    * Character counts are over the paragraph text as split (separators
    * excluded). Same two-shuffle plan as [[removeRepeatedParagraphs]]. */
  def dupLineStats(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", sepRegex: String = "\n+"): DataFrame = {
    val parts = paragraphFrame(docs, textCol, idCol, sepRegex)
    val counts = parts.groupBy(col("__pg_fp")).agg(count(lit(1)).as("__pg_n"))
    parts.join(counts, Seq("__pg_fp"))
      .groupBy(col("__pg_id").as(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__pg_n") > 1, 1L).otherwise(0L)).as("dup_lines"),
        sum(length(col("__pg_p")).cast("long")).as("n_chars"),
        sum(when(col("__pg_n") > 1, length(col("__pg_p")).cast("long"))
          .otherwise(0L)).as("dup_chars"))
      .withColumn("dup_line_frac",
        col("dup_lines").cast("double") / col("n_lines"))
      .withColumn("dup_char_frac",
        when(col("n_chars") === 0, 0.0)
          .otherwise(col("dup_chars").cast("double") / col("n_chars")))
  }

  // ------------------------------------------------- duplicated-span coverage

  /** Duplicated-span coverage (the Lee et al. 2022 exact-substring-dedup
    * signal at fixed n-gram granularity — Dolma ships the same statistic as
    * its `duplicate_spans` attribute): for every document, how many of its
    * tokens are covered by at least one `n`-token window whose exact
    * lowercased form occurs MORE THAN ONCE across the whole corpus
    * (including twice inside the same document). Returns
    * `(id, n_tokens, covered_tokens, coverage)`; documents shorter than
    * `n` tokens have no windows and coverage 0.
    *
    * Plan at 100 TB: window fingerprints are computed map-side in ONE pass
    * per row by the fused Rabin–Karp kernel
    * ([[graft.functions.RollingHash.windowFps]]: per-word XXH64 once, then
    * an O(1) roll per window — the md5-per-window reference formulation
    * re-hashed every token n times), and the 8-byte fingerprint — not the
    * window text — is what shuffles. One partial-agg groupBy on the
    * fingerprint, a join back (pre-aggregated one-row-per-gram side →
    * AQE-splittable skew shape, same as [[removeRepeatedParagraphs]]),
    * then covered positions explode only for windows that ARE duplicated —
    * the common case explodes nothing. Fingerprints are 61-bit and
    * internal; a random collision (birthday bound ≈ 1.5·10⁹ distinct
    * windows) can only nudge the coverage statistic by one window — the
    * Lee-et-al tradeoff. [[dupSpanStatsReference]] keeps the md5 path as
    * the spec-locked parity reference. */
  def dupSpanStats(docs: DataFrame, n: Int = 10, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    dupSpanStatsImpl(docs, n, textCol, idCol, fused = true)

  /** REFERENCE formulation of [[dupSpanStats]] — md5 per window, 128-bit,
    * n× the token stream. Kept (not dead code) as the collision-free
    * cross-check: DupSpanSpec locks the fused kernel's outputs against
    * this path, the same parity-insurance pattern as the C4/Gopher
    * kernels and [[Similarity.hyperplaneSignature]]. */
  private[graft] def dupSpanStatsReference(docs: DataFrame, n: Int = 10,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    dupSpanStatsImpl(docs, n, textCol, idCol, fused = false)

  private def dupSpanStatsImpl(docs: DataFrame, n: Int, textCol: String,
      idCol: String, fused: Boolean): DataFrame = {
    require(n >= 2, s"span length must be >= 2: $n")
    val toks = docs.select(col(idCol),
        split(lower(trim(col(textCol))), "\\s+").as("__ds_w"))
      .withColumn("__ds_len",
        when(array_join(col("__ds_w"), "") === "", 0)
          .otherwise(size(col("__ds_w"))))
    val fps =
      if (fused)
        graft.functions.GraftFunctions.rollingWindowFps(
          docs.sparkSession, col("__ds_w"), n)
      else
        transform(sequence(lit(0), col("__ds_len") - n),
          i => md5(array_join(slice(col("__ds_w"), i + 1, lit(n)), " ")))
    val grams = toks
      .filter(col("__ds_len") >= n)
      .select(col(idCol), posexplode(fps).as(Seq("__ds_i", "__ds_fp")))
    val counts = grams.groupBy("__ds_fp").agg(count(lit(1)).as("__ds_n"))
    val covered = grams.join(counts, Seq("__ds_fp"))
      .filter(col("__ds_n") > 1)
      .select(col(idCol),
        explode(sequence(col("__ds_i"), col("__ds_i") + (n - 1))).as("__ds_p"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__ds_p")).as("covered_tokens"))
    toks.join(covered, Seq(idCol), "left")
      .select(col(idCol), col("__ds_len").cast("long").as("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      .withColumn("coverage",
        when(col("n_tokens") > 0,
          col("covered_tokens").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
  }

  /** The consuming filter: drop documents whose duplicated-span coverage
    * reaches `maxCoverage` (Dolma-style document removal on the span
    * signal). Join is on the id against the stats frame — the corpus
    * passes through once. */
  def removeDupSpanDocs(docs: DataFrame, n: Int = 10,
      maxCoverage: Double = 0.5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val bad = dupSpanStats(docs, n, textCol, idCol)
      .filter(col("coverage") >= maxCoverage)
      .select(col(idCol))
    docs.join(bad, Seq(idCol), "left_anti")
  }

  /** The CUT consumer of the span signal — Lee et al. 2022's actual
    * remedy (they remove the duplicated substring and keep the rest of
    * the document; dropping whole docs over-deletes, which their §4 calls
    * out): every token covered by at least one corpus-wide-duplicated
    * `n`-token window (the [[dupSpanStats]] predicate, same fused
    * rolling-hash fingerprints) is deleted from the document; surviving
    * ORIGINAL-case tokens are rejoined with single spaces. Documents that
    * had no duplicated window keep their text byte-identical (whitespace
    * included); fully-covered documents empty out and are dropped when
    * `dropEmptied` (both-ends-of-a-copy-pair deletion is the Lee-et-al
    * behavior for full duplicates — run [[exactDedupKeepBest]] FIRST if a
    * representative must survive). Non-text columns pass through.
    *
    * Plan: the [[dupSpanStats]] pipeline (map-side rolling fingerprints,
    * one fingerprint groupBy, duplicated-windows-only position explode)
    * plus a per-doc `collect_set` of covered positions — doc-bounded, the
    * [[removeRepeatedParagraphs]] reassembly contract — joined back and
    * applied as ONE map-side array filter. The rebuild is
    * O(n_tokens · covered) per doc (membership probes into the covered
    * set); a pathological mega-doc that is mostly duplicated spans pays
    * quadratically in ITS OWN length only — bounded per task, never a
    * shuffle-skew shape. */
  def cutDuplicatedSpans(docs: DataFrame, n: Int = 10,
      dropEmptied: Boolean = true, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 2, s"span length must be >= 2: $n")
    val toks = docs
      .withColumn("__cs_w", split(trim(col(textCol)), "\\s+"))
      .withColumn("__cs_lw", split(lower(trim(col(textCol))), "\\s+"))
      .withColumn("__cs_len",
        when(array_join(col("__cs_w"), "") === "", 0)
          .otherwise(size(col("__cs_w"))))
    val fps = graft.functions.GraftFunctions.rollingWindowFps(
      docs.sparkSession, col("__cs_lw"), n)
    val grams = toks.filter(col("__cs_len") >= n)
      .select(col(idCol), posexplode(fps).as(Seq("__cs_i", "__cs_fp")))
    val counts = grams.groupBy("__cs_fp").agg(count(lit(1)).as("__cs_n"))
    val covered = grams.join(counts, Seq("__cs_fp"))
      .filter(col("__cs_n") > 1)
      .select(col(idCol),
        explode(sequence(col("__cs_i"), col("__cs_i") + (n - 1))).as("__cs_p"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__cs_p")).as("__cs_cov"))
    val cut = toks.join(covered, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__cs_cov").isNull, col(textCol))
          .otherwise(array_join(
            filter(col("__cs_w"),
              (_, i) => !array_contains(col("__cs_cov"), i)), " ")))
      .drop("__cs_w", "__cs_lw", "__cs_len", "__cs_cov")
    if (dropEmptied) cut.filter(trim(col(textCol)) =!= "") else cut
  }

  // ---------------------------------------------------- winnowing (MOSS)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    * plagiarism-detection sketch): hash every `k`-token word gram, slide a
    * `w`-hash window, keep each window's MINIMUM hash (ties → the
    * RIGHTMOST minimum, the paper's rule), emit the distinct selected
    * `(pos, fp)` pairs per document. The selection guarantee: any shared
    * token run of ≥ `w + k − 1` tokens yields at least one shared
    * fingerprint — a position-aware, density-bounded alternative to
    * MinHash when you need to LOCALIZE the overlap (which span matched),
    * not just detect it. Joining two docs' fingerprint frames on `fp`
    * gives the match positions directly.
    *
    * Determinism/oracle: gram hashes are md5 STRINGS and the window
    * minimum is their lexicographic min — both engines order identically,
    * no numeric-hash convention to replicate. Docs with fewer than `k`
    * tokens have no grams and are absent; docs with fewer than `w` grams
    * winnow a single window over what exists (the paper's short-doc
    * degenerate case).
    *
    * Plan: one map-side pass per row through the FUSED native kernel
    * ([[graft.functions.WinnowingKernel]], round 11): md5 once per gram
    * via digest updates, window minima by monotonic deque, dedup by the
    * monotone-position rule — bit-identical to the interpreted-HOF
    * expression tree it replaced (spec-locked: WinnowingParitySpec), but
    * without the per-gram slice/join allocations and per-window rescans
    * that made fingerprinting the dominant term of the winnowing scale
    * probe. Only the selected fingerprints (≈ 2/(w+1) of grams in
    * expectation) ever leave the row. Kept md5 (not the cheaper
    * [[dupSpanStats]] Rabin–Karp) because the VALUES are load-bearing
    * for window minima and must replay in the oracle. */
  def winnowingFingerprints(docs: DataFrame, k: Int = 4, w: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"gram length must be >= 1: $k")
    require(w >= 1, s"window must be >= 1: $w")
    val toks = docs.select(col(idCol),
        split(lower(trim(col(textCol))), "\\s+").as("__wn_t"))
      .withColumn("__wn_len",
        when(array_join(col("__wn_t"), "") === "", 0)
          .otherwise(size(col("__wn_t"))))
      .filter(col("__wn_len") >= k)
    toks.select(col(idCol),
        explode(graft.functions.GraftFunctions.winnowingFps(
          docs.sparkSession, col("__wn_t"), k, w)).as("__wn_s"))
      .select(col(idCol), col("__wn_s.pos").as("pos"),
        col("__wn_s.fp").as("fp"))
  }

  /** Pairwise overlap detection over [[winnowingFingerprints]] — the MOSS
    * match step: count the DISTINCT fingerprints each probe document
    * shares with each corpus document and keep pairs at `minShared` or
    * more. Same-frame self-sweeps are supported (pass the frame twice;
    * pairs de-duplicate to id_a < id_b, cross-frame pairs keep their
    * sides). By the winnowing guarantee a shared token run of
    * ≥ `w + k − 1` tokens forces at least one shared fingerprint, so
    * `minShared = 1` detects every such run.
    *
    * BOILERPLATE GUARD (the join's skew defense): fingerprints present in
    * more than `maxFpDf` corpus documents are excluded from matching —
    * they are boilerplate (navigation lines, license headers) whose
    * df²-shaped pair fan-out would dominate the join while carrying no
    * plagiarism signal; MOSS itself culls high-df fingerprints for the
    * same reason. The cap bounds per-fingerprint join cost at
    * df_probe·maxFpDf and is the documented recall tradeoff: an overlap
    * consisting ONLY of corpus-wide boilerplate is not reported.
    *
    * Plan: two map-side fingerprint passes, a per-doc distinct, one
    * fp-df groupBy (vocab-of-fingerprints sized), the capped fp join,
    * one pair groupBy. No windows; candidate volume is Σ_fp
    * df_probe(fp)·min(df(fp), cap). */
  def winnowingOverlap(probe: DataFrame, corpus: DataFrame, k: Int = 4,
      w: Int = 5, minShared: Int = 1, maxFpDf: Int = 256,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    require(maxFpDf >= 1, s"maxFpDf must be >= 1: $maxFpDf")
    def fps(df: DataFrame) =
      winnowingFingerprints(df, k, w, textCol, idCol)
        .select(col(idCol).as("id"), col("fp")).distinct()
    val fpP = fps(probe)
    val fpC = fps(corpus)
    val dfreq = fpC.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
    val keptC = fpC.join(dfreq.filter(col("__df") <= maxFpDf), Seq("fp"))
      .select(col("id"), col("fp"))
    fpP.select(col("id").as("id_a"), col("fp"))
      .join(keptC.select(col("id").as("id_b"), col("fp")), Seq("fp"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ------------------------------------------------- bloom cross-corpus dedup

  /** Serialized bloom filter over the exact-dedup fingerprints
    * ([[TextAnalysis.fingerprint]]: md5 of lowercased whitespace-collapsed
    * text) of a REFERENCE corpus — the reusable index side of
    * [[bloomCrossDedup]]. Build it once per reference snapshot and keep the
    * bytes (a few hundred MB indexes ~10⁹ documents at fpp 1e-3); every
    * incoming batch then dedups against the snapshot without ever
    * shuffling either side.
    *
    * Size `expectedItems` to the reference's distinct-document count —
    * an undersized filter degrades fpp (more verify work), never
    * correctness. The build is one `treeAggregate` over the scan: partial
    * filters merge executor-side (depth 2), only ⌈√partitions⌉ filters ever
    * reach the driver. This is the one RDD use outside IO probes — the
    * same mechanics `DataFrameStatFunctions.bloomFilter` uses, done
    * explicitly so the build hash (`putString`) provably matches the probe
    * ([[graft.functions.BloomMightContain]] calls `mightContainString`). */
  def buildFingerprintBloom(ref: DataFrame, textCol: String = "text",
      expectedItems: Long = 1L << 20, fpp: Double = 0.01,
      refFps: DataFrame = null): Array[Byte] = {
    val spark = ref.sparkSession
    import spark.implicits._
    // `refFps` (optional): a single-column frame of the SAME fingerprints
    // this builder would derive from `ref` — callers that also verify
    // batches against the reference ([[bloomCrossDedup]]) compute the
    // projection once, persist it, and hand it to both, instead of paying
    // the normalize+md5 scan of the reference per consumer (measured: the
    // q195 intake chain evaluated it 3x per run).
    val fps = Option(refFps)
      .map(_.toDF("fp").select(col("fp").cast("string")))
      .getOrElse(ref.select(TextAnalysis.fingerprint(col(textCol)).as("fp")))
      .as[String]
    val merged = fps.rdd.treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp))(
      (bf, s) => { if (s != null) bf.putString(s); bf },
      (a, b) => { a.mergeInPlace(b); a },
      depth = 2)
    val bos = new java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    bos.toByteArray
  }

  /** EXACT cross-corpus dedup with a bloom prefilter: remove from `batch`
    * every document whose normalized fingerprint appears in `ref` (the
    * exact-match sibling of [[dedupAgainstCorpus]]). `bloom` is
    * [[buildFingerprintBloom]]'s bytes over the SAME `ref`. Semantics are
    * exact regardless of fpp: the bloom has no false negatives, so it only
    * prunes the verify work — a false positive survives to the verify join
    * and is confirmed or cleared there.
    *
    * Plan at 100 TB vs the naive `batch ⟕̸ ref` anti-join (which shuffles
    * BOTH corpora on the fingerprint): NEITHER side shuffles here. The
    * batch splits map-side on the bloom probe; the surviving candidate
    * fingerprints (true dups + fpp·|batch| false positives — size fpp to
    * keep this broadcastable) broadcast to a semi-join that `ref` streams
    * through map-side; the confirmed fingerprints broadcast back to an
    * anti-join the candidates stream through. Batch scans twice — persist
    * it first if the source is expensive. */
  def bloomCrossDedup(batch: DataFrame, ref: DataFrame, bloom: Array[Byte],
      textCol: String = "text", idCol: String = "doc_id",
      refFps: DataFrame = null): DataFrame = {
    val (clear, cand) = bloomSplit(batch,
      TextAnalysis.fingerprint(col(textCol)), bloom, "__bc_fp")
    val candFps = cand.select("__bc_fp").distinct()
    // both back-broadcasts are bounded by the BATCH (candFps ⊆ batch
    // fingerprints; confirmed ⊆ candFps) — the operator's whole design —
    // but the hints are size-GUARDED so a pathologically large batch
    // degrades to shuffle joins instead of throwing at the
    // BroadcastExchange limit. `confirmed` is join-derived (its default
    // stats are the product of ref × candFps), so it carries the honest
    // candFps bound as its estimator; candFps itself is filter-derived
    // (stats ≈ the batch projection) and needs none.
    val candFpsB = graft.model.GraftDataset.broadcastIfSmall(candFps)
    // `refFps` (optional): the reference's fingerprint projection,
    // precomputed and persisted by the caller — a repeated-batch loop
    // (the q195 intake chain) otherwise re-normalizes and re-hashes the
    // whole reference on EVERY batch. Must be exactly
    // `ref.select(fingerprint(textCol))`; semantics are unchanged.
    val confirmed = Option(refFps)
      .map(_.toDF("__bc_fp"))
      .getOrElse(ref
        .select(TextAnalysis.fingerprint(col(textCol)).as("__bc_fp")))
      .join(candFpsB, Seq("__bc_fp"), "left_semi")
      .distinct()
    clear.unionByName(
      cand.join(graft.model.GraftDataset.broadcastIfSmall(confirmed,
          estimator = candFps), Seq("__bc_fp"), "left_anti")
        .drop("__bc_fp"))
  }

  /** The bloom probe of the exact-dedup faces ([[bloomCrossDedup]] and
    * [[graft.streaming.EventStream.bloomDedupAgainstCorpus]]): `(clear,
    * candidates)` — the rows whose fingerprint `fp` the bloom rejects, and
    * the rest with `fp` added as `fpCol` for the verify join. Null text →
    * null fingerprint → null probe; a null key can't equal any reference
    * fingerprint, so those rows are KEPT in `clear` (matching the plain
    * anti-join semantics, where a null join key never matches) — without
    * the coalesce both filter branches would silently drop them. */
  private[graft] def bloomSplit(rows: DataFrame, fp: Column,
      bloom: Array[Byte], fpCol: String): (DataFrame, DataFrame) = {
    val might = coalesce(graft.functions.GraftFunctions.bloomContains(
      rows.sparkSession, fp, bloom), lit(false))
    (rows.filter(!might), rows.filter(might).withColumn(fpCol, fp))
  }

  /** LSH parameter planner: for every (bands b, rows r) factorization of
    * `nPerms` MinHash permutations, integrate the collision S-curve
    * `P(s) = 1 − (1 − s^r)^b` on a uniform similarity grid and report the
    * false-positive mass below `threshold` (collisions the verify stage
    * must pay to reject) and the false-negative mass above it (true
    * near-dups the bands never propose). `chosen` marks the minimum-total
    * configuration — the (b, r) to hand [[minHashNearDups]] before an
    * expensive run, turning the band-count knob from folklore into an
    * engine-computed decision.
    *
    * Pure closed-form arithmetic over a generated grid (no corpus input):
    * divisor configs × `gridPoints` similarity points, evaluated as
    * column expressions so the same plan runs anywhere. Masses round to 6
    * decimals (the cross-engine convention — `pow` may differ in the last
    * ulp between runtimes). Returns (b, r, fp_mass, fn_mass, total,
    * chosen). */
  def lshParameterPlan(spark: org.apache.spark.sql.SparkSession,
      nPerms: Int = 128, threshold: Double = 0.8,
      gridPoints: Int = 19): DataFrame = {
    require(nPerms > 0 && gridPoints > 0, "nPerms and gridPoints must be positive")
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    val denom = (gridPoints + 1).toDouble
    val cfg = spark.range(1, nPerms + 1L).select(col("id").as("r"))
      .filter(lit(nPerms) % col("r") === 0)
      .withColumn("b", (lit(nPerms) / col("r")).cast("long"))
    val s = col("i") / denom
    val ps = lit(1.0) - pow(lit(1.0) - pow(s, col("r")), col("b"))
    val masses = cfg
      .select(col("b"), col("r"),
        explode(sequence(lit(1), lit(gridPoints))).as("i"))
      .select(col("b"), col("r"),
        when(s < threshold, ps).otherwise(lit(0.0)).as("__fp"),
        when(s >= threshold, lit(1.0) - ps).otherwise(lit(0.0)).as("__fn"))
      .groupBy(col("b"), col("r"))
      .agg(round(sum(col("__fp")) / denom, 6).as("fp_mass"),
        round(sum(col("__fn")) / denom, 6).as("fn_mass"))
      .withColumn("total", round(col("fp_mass") + col("fn_mass"), 6))
    val best = masses.agg(min(col("total")).as("__best"))
    masses.crossJoin(broadcast(best))
      .select(col("b"), col("r"), col("fp_mass"), col("fn_mass"),
        col("total"), (col("total") === col("__best")).as("chosen"))
  }
}
