package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization for nearest-neighbor search (Jégou et al. 2011):
  * split each d-dim vector into `m` contiguous subvectors, quantize each
  * against a small per-subspace codebook, and answer queries by ADC
  * (asymmetric distance computation) — per-query lookup tables against the
  * codebooks, then a table-lookup sum per corpus row.
  *
  * Why this is THE 100-TB similarity path: the corpus compresses from
  * d·4 bytes to m bytes per vector (64-dim float → 4 bytes at m=4), so a
  * billion-vector index fits executor memory where raw vectors cannot; the
  * scan is a codegen'd per-row lookup-sum with no shuffle of the corpus.
  * Coarse cells prune the scan (IVFADC): [[assignCells]] adds Pq's own
  * `cell_id` (argmin full-dimension L2 to literal centroids) and the IVF
  * paths probe it. [[Ivf]] is a different index — its `centroid_id`
  * comes from the KMeans model and its probes rank by cosine — so the two
  * do not compose on a column; [[Ivf.build]]'s centroids can still serve
  * as literal `cells` here.
  *
  * Both quantizer families (PQ and the SQ8 baseline) answer every query
  * face through ONE scan (`scan`: broadcast query side, optional cell
  * probe, two-phase rank), and both serving stores share one writer and
  * one pruned probe (`writeStore`, `storeScan`); a family only
  * supplies its codes column, per-query payload and distance expression.
  *
  * Codebooks are a plain `Seq[Seq[Array[Double]]]` (subspace → centroid →
  * values), carried as expression literals: tiny by construction
  * (m · ncentroids · dsub doubles), deterministic, and replicable in an
  * external oracle. [[trainCodebooks]] fits them with seeded per-subspace
  * KMeans; any externally-derived codebooks work too.
  */
object Pq {

  /** Σ (a_i − b_i)² between two array columns — a sequential left fold,
    * so the summation order is deterministic. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  private def subspace(v: Column, j: Int, dsub: Int): Column =
    slice(v, j * dsub + 1, dsub)

  /** One `(d, c)` struct per centroid: squared L2 from `v`, centroid
    * index. Struct order is lexicographic on (distance, index), so
    * `array_min`/`array_sort` over these break exact ties toward the
    * lower index — explicit and engine-stable. */
  private def ranked(v: Column, cents: Seq[Array[Double]]): Column =
    array(cents.zipWithIndex.map { case (cent, ci) =>
      struct(l2sq(v, typedLit(cent.toSeq)).as("d"), lit(ci).as("c"))
    }: _*)

  private def nearest(v: Column, cents: Seq[Array[Double]]): Column =
    array_min(ranked(v, cents)).getField("c")

  /** Encode: adds `pq_codes` (array<int>, one code per subspace) — for
    * each subspace the argmin-distance centroid, ties → lowest centroid
    * index. One codegen map, no shuffle. */
  def encode(corpus: DataFrame, codebooks: Seq[Seq[Array[Double]]],
      vecCol: String = "embedding"): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "empty codebooks")
    val dsub = codebooks.head.head.length
    val v = col(vecCol).cast("array<double>")
    val codes = array(codebooks.zipWithIndex.map { case (cb, j) =>
      nearest(subspace(v, j, dsub), cb)
    }: _*)
    // a NULL vector must encode to NULL codes — without the guard the
    // struct-min over null distances silently argmins to centroid 0 and
    // the phantom row would score like a real one downstream
    corpus.withColumn("pq_codes",
      when(col(vecCol).isNotNull, codes))
  }

  // ---- the one quantized scan ---------------------------------------------

  /** A quantizer family as `scan`, `writeStore` and `storeScan` see it:
    * the codes column it reads, the per-query payload it broadcasts, the
    * distance expression over (codes, payload), an optional one-row side
    * frame cross-joined onto the corpus, and the (dimension, quantizer
    * digest) pair its store sidecar records; `dimLabel` names that
    * dimension in the writer's cells-mismatch message. */
  private sealed abstract class Family(val kind: String, val codesCol: String,
      val distCol: String, val dimLabel: String, val side: Option[DataFrame]) {
    def payload(qv: Column): Column
    def dist: Column
    /** may run a job (SQ8: one `head()` of the stats) */
    def dimAndQuant: (Int, String)
  }

  /** PQ: the payload is each query's m × ncentroids distance table,
    * tabulated ONCE on the tiny query side; the distance is m table
    * lookups + a sum per corpus row (ADC). */
  private final case class PqFamily(codebooks: Seq[Seq[Array[Double]]])
      extends Family("pq", "pq_codes", "adist", "the codebooks' m·dsub =", None) {
    private def dsub = codebooks.head.head.length
    def payload(qv: Column): Column =
      array(codebooks.zipWithIndex.map { case (cb, j) =>
        array(cb.map(cent => l2sq(subspace(qv, j, dsub), typedLit(cent.toSeq))): _*)
      }: _*).as("__pq_tab")
    def dist: Column = codebooks.indices.map { j =>
      element_at(element_at(col("__pq_tab"), j + 1),
        col("pq_codes").getItem(j) + 1)
    }.reduce(_ + _)
    def dimAndQuant: (Int, String) =
      (codebooks.length * dsub, codebooksDigest(codebooks))
  }

  /** SQ8: the query keeps full precision; each corpus dimension
    * reconstructs at its quantization-cell MIDPOINT (`min_d + (code_d +
    * 0.5)/256 · span_d` — halves the worst-case cell error vs left-edge
    * reconstruction) against the broadcast one-row [[sqStats]] side. */
  private final case class Sq8Family(stats: DataFrame) extends Family(
      "sq8", "sq_codes", "sq_dist", "the stats dimension", Some(stats)) {
    def payload(qv: Column): Column = qv.as("__qv")
    def dist: Column = l2sq(col("__qv"), transform(col("sq_codes"), (c, i) => {
      val mn = element_at(col("__mins"), i + 1)
      val mx = element_at(col("__maxs"), i + 1)
      mn + (c.cast("double") + 0.5) / 256.0 * (mx - mn)
    }))
    def dimAndQuant: (Int, String) = statsDigest(stats)
  }

  private def requireNprobe(cells: Seq[Array[Double]], nprobe: Int): Unit =
    require(nprobe > 0 && nprobe <= cells.size,
      s"nprobe $nprobe out of range 1..${cells.size}")

  /** The scan every top-k face runs. The query side — id, the family's
    * payload and, when probing, one row per probed cell
    * (`explode(probedCells(…)) as cell_id`) — is tiny and broadcast; the
    * corpus streams through a cross join (no probe) or an equality join
    * on `cell_id` with NO shuffle of the corpus side, scoring map-side;
    * the two-phase [[graft.operators.TopK.topKPerQuery]] ranks on the
    * 6-decimal-rounded distance with the id tiebreak (the cross-engine
    * convention), so the one exchange carries k rows per (query,
    * partition), never the scored corpus. */
  private def scan(encoded: DataFrame, queries: DataFrame, fam: Family,
      probe: Option[(Seq[Array[Double]], Int)], k: Int,
      idCol: String, queryIdCol: String, queryVecCol: String): DataFrame = {
    probe.foreach { case (cells, nprobe) => requireNprobe(cells, nprobe) }
    val qv = col(queryVecCol).cast("array<double>")
    // vector-less queries have nothing to score (a PQ table's outer array()
    // is non-null even when every cell is — filter on the source column)
    val q = graft.model.GraftDataset.broadcastIfSmall(
      queries.filter(col(queryVecCol).isNotNull)
      .select(Seq(col(queryIdCol), fam.payload(qv)) ++ probe.map {
        case (cells, nprobe) => explode(probedCells(qv, cells, nprobe)).as("cell_id")
      }: _*))
    // a null vector encodes to null codes → null distance, and Spark's
    // ascending sort puts nulls FIRST — without the guard a vector-less
    // corpus row would outrank every real neighbor
    val codes = encoded.filter(col(fam.codesCol).isNotNull)
    val corpus = fam.side.fold(codes)(s => codes.crossJoin(broadcast(s)))
    // `<=>`, not `=`: Catalyst infers no isnotnull(cell_id) from a
    // null-safe equality, so it pushes no filter below assignCells'
    // projection that would run the cell argmin a second time per row;
    // a probed cell is never null, so a null cell_id still never matches
    val joined = probe.fold(corpus.crossJoin(q))(_ =>
      corpus.join(q, corpus("cell_id") <=> q("cell_id")))
    val scored = joined.select(col(queryIdCol), col(idCol),
      round(fam.dist, 6).as(fam.distCol))
    graft.operators.TopK.topKPerQuery(scored, queryIdCol,
      Seq(col(fam.distCol).asc, col(idCol).asc), k)
  }

  /** ADC top-k: each query precomputes its m × ncentroids distance table
    * ONCE (on the tiny query side), the encoded corpus streams through a
    * broadcast join doing m array lookups + a sum per row, and the
    * two-phase [[graft.operators.TopK.topKPerQuery]] ranks on the
    * 6-decimal-rounded distance with a vec-id tiebreak (the cross-engine
    * convention). The queries frame is a broadcast probe set by contract
    * (same as [[Similarity.bruteForceTopK]]); the corpus never shuffles —
    * scoring is map-side, each scan partition keeps only its local top-k
    * per query, and the one exchange carries k rows per (query,
    * partition), never the scored corpus. */
  def adcTopK(encoded: DataFrame, queries: DataFrame,
      codebooks: Seq[Seq[Array[Double]]], k: Int,
      idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    scan(encoded, queries, PqFamily(codebooks), None, k,
      idCol, queryIdCol, queryVecCol)
  }

  /** Two-stage retrieval: ADC shortlist → EXACT re-rank — the production
    * ANN serving shape (PQ answers "which ~`shortlist` candidates", the
    * raw vectors answer "in what exact order"). Stage 1 is [[adcTopK]]
    * over the compressed codes (corpus never shuffles, m-byte rows);
    * stage 2 re-reads raw vectors for ONLY the shortlist — an id-equality
    * join that moves `shortlist`·|queries| rows, not the corpus — and
    * ranks by exact cosine against the (broadcast) query vectors.
    *
    * At 100 TB the raw-vector side is the big table, so the shortlist is
    * broadcast INTO it: the exact-rerank join is map-side, the corpus scan
    * prunes to the shortlist ids (predicate pushdown on the id column when
    * the store is sorted/bucketed by id), and the only exchange is the
    * two-phase top-k over ≤ k·P survivors.
    *
    * Rank convention: cosine rounded to 4 decimals, id tiebreak (the q32
    * cross-engine discipline). Returns (queryIdCol, idCol, cosine, rank).
    */
  def adcRerankTopK(encoded: DataFrame, queries: DataFrame,
      corpus: DataFrame, codebooks: Seq[Seq[Array[Double]]],
      shortlist: Int, k: Int,
      idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding", corpusVecCol: String = "embedding")
      : DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be ≥ k ($k)")
    val cand = adcTopK(encoded, queries, codebooks, shortlist,
      idCol, queryIdCol, queryVecCol)
      .select(col(queryIdCol), col(idCol))
    val raw = corpus.select(col(idCol), col(corpusVecCol).as("__rr_cv"))
    val qv = graft.model.GraftDataset.broadcastIfSmall(
      queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol), col(queryVecCol).cast("array<double>").as("__rr_qv")))
    // the shortlist is join-derived (top-k over a join), so its default
    // plan stats are the product of the inputs — the honest upper bound is
    // the cross join |queries| × shortlist, which is EXACTLY the row count
    // adcTopK returns at most (shortlist ids per query, two id-width
    // columns). The guard drops the hint precisely when the query set
    // itself outgrows broadcast, where the rest of the chain already
    // degrades (qv above) — a raw hint here would throw at the
    // BroadcastExchange limit while every other stage shuffles gracefully.
    val candEst = queries.filter(col(queryVecCol).isNotNull)
      .select(col(queryIdCol))
      .crossJoin(corpus.sparkSession.range(shortlist.toLong)
        .select(col("id").as(idCol)))
    val exact = raw.join(
        graft.model.GraftDataset.broadcastIfSmall(cand, estimator = candEst),
        Seq(idCol))
      .join(qv, Seq(queryIdCol))
      .select(col(queryIdCol), col(idCol),
        round(graft.functions.GraftFunctions.cosine(corpus.sparkSession,
          col("__rr_qv"), col("__rr_cv").cast("array<double>")), 4)
          .as("cosine"))
    graft.operators.TopK.topKPerQuery(exact, queryIdCol,
      Seq(desc("cosine"), col(idCol).asc), k)
  }

  /** Coarse-cell assignment for IVFADC: adds `cell_id` = the argmin-L2
    * full-dimension centroid (ties → lowest cell index) — same struct-min
    * mechanics as [[encode]], so the tiebreak is engine-stable. Cells are
    * literal centroids (from [[Ivf.build]], a seeded KMeans, or any
    * deterministic recipe). One codegen map; at 100 TB you'd follow it
    * with a write partitioned/bucketed BY `cell_id`, making every probe
    * below a partition-pruned scan. */
  def assignCells(df: DataFrame, cells: Seq[Array[Double]],
      vecCol: String = "embedding"): DataFrame = {
    require(cells.nonEmpty, "no cells")
    // null vector → null cell (same phantom-argmin hazard as [[encode]])
    df.withColumn("cell_id", when(col(vecCol).isNotNull,
      nearest(col(vecCol).cast("array<double>"), cells)))
  }

  /** IVFADC (Jégou et al. 2011 §IV — the composition that makes PQ a
    * billion-vector index): each query ranks the coarse cells, probes its
    * `nprobe` nearest, and runs the ADC lookup-sum ONLY over rows of those
    * cells. `encoded` must carry `pq_codes` ([[encode]]) and `cell_id`
    * ([[assignCells]]). With `nprobe = cells.size` this is EXACTLY
    * [[adcTopK]] (the correctness-gate face); smaller `nprobe` trades
    * recall for scan fraction — at 1024 cells and nprobe 8, ~0.8% of the
    * corpus is touched per query.
    *
    * Plan: the query side explodes to (query, probed cell) — still tiny,
    * still broadcast — and the corpus streams through an equality join on
    * `cell_id` with NO shuffle of the corpus side; per-query top-k is the
    * only exchange. */
  def ivfAdcTopK(encoded: DataFrame, queries: DataFrame,
      codebooks: Seq[Seq[Array[Double]]], cells: Seq[Array[Double]],
      nprobe: Int, k: Int,
      idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding"): DataFrame =
    scan(encoded, queries, PqFamily(codebooks), Some((cells, nprobe)), k,
      idCol, queryIdCol, queryVecCol)

  // ---- serving-store layout contract (`_meta.json` sidecar) -------------

  /** The layout contract of a cell-partitioned serving store: which
    * quantizer family wrote it, the vector dimensionality, and digests of
    * the coarse centroids and the quantizer parameters (PQ codebooks / SQ8
    * stats). Probe-time `cells`/`codebooks`/`stats` are caller arguments;
    * probing with centroids that differ from write-time assigns different
    * cells — partition pruning silently reads the wrong directories
    * (candidates missed, never visibly wrong) — and mismatched quantizer
    * parameters silently mis-decode every distance. The sidecar makes both
    * mismatches fail loudly (the [[graft.llm.Dedup]] MinHash-store
    * discipline applied to the ANN stores). */
  private[llm] case class PqStoreMeta(kind: String, dim: Int, ncells: Int,
      cellsDigest: String, quantDigest: String, keepVectors: Boolean) {
    def json: String = {
      import graft.io.Json.str
      s"""{"kind":${str(kind)},"dim":$dim,"ncells":$ncells,""" +
        s""""cellsDigest":${str(cellsDigest)},""" +
        s""""quantDigest":${str(quantDigest)},""" +
        s""""keepVectors":$keepVectors}"""
    }
  }

  /** MD5 over the IEEE-754 bit patterns of a double stream — an exact,
    * order-sensitive fingerprint of centroid/codebook/stats arrays (no
    * rounding: the contract is bit-identity with the write-time values,
    * anything else re-assigns cells). */
  private[llm] def doublesDigest(xs: Iterator[Double]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    xs.foreach { x =>
      buf.clear()
      buf.putLong(java.lang.Double.doubleToLongBits(x))
      md.update(buf.array())
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private[llm] def cellsDigest(cells: Seq[Array[Double]]): String =
    doublesDigest(cells.iterator.flatMap(_.iterator))

  private[llm] def codebooksDigest(cbs: Seq[Seq[Array[Double]]]): String =
    doublesDigest(cbs.iterator.flatMap(_.iterator).flatMap(_.iterator))

  /** Digest of an [[sqStats]]-shaped one-row (__mins, __maxs) frame. One
    * `head()` action — pass a [[sqStatsMaterialized]] literal frame on
    * serving paths so this never re-runs the O(n·dim) stats scan. */
  private[llm] def statsDigest(stats: DataFrame): (Int, String) = {
    val r = stats.head()
    val mins = r.getSeq[Double](0)
    val maxs = r.getSeq[Double](1)
    (mins.length, doublesDigest((mins ++ maxs).iterator))
  }

  /** Probe-side contract check: when the store carries a sidecar, the
    * probe's quantizer family, dimensionality, centroids, and quantizer
    * parameters must be bit-identical to write-time — anything else
    * silently mis-prunes partitions (wrong cell directories read) or
    * mis-decodes every distance. `keepVectors` is a storage detail, not a
    * probe argument, so it is not compared. A store with no sidecar
    * predates the contract: the probe runs on the caller's parameters
    * alone, and `dimAndQuant` (which may run a job) is never evaluated. */
  private def requirePqStoreMatches(spark: SparkSession,
      path: String, kind: String, ncells: Int, cellsDig: String)(
      dimAndQuant: => (Int, String)): Unit = {
    val file = s"$path/_meta.json"
    graft.io.Json.read(spark, file).foreach { j =>
      import graft.io.Json.{bool, int, text}
      val m = PqStoreMeta(text(j, "kind", file), int(j, "dim", file),
        int(j, "ncells", file), text(j, "cellsDigest", file),
        text(j, "quantDigest", file), bool(j, "keepVectors", file))
      val (dim, quantDig) = dimAndQuant
      require(m.kind == kind && m.dim == dim && m.ncells == ncells &&
        m.cellsDigest == cellsDig && m.quantDigest == quantDig,
        s"ANN store probe under $path: the probe's parameters (kind=$kind, " +
          s"dim=$dim, ncells=$ncells, cells=$cellsDig, quant=$quantDig) do " +
          s"not match the store's sidecar $m — mismatched centroids " +
          "silently mis-prune cell directories and mismatched quantizer " +
          "parameters silently mis-decode distances; probe with the " +
          "write-time parameters or rebuild the store")
    }
  }

  /** The one store writer: `encoded` as parquet PARTITIONED BY `cell_id`
    * (vector column dropped unless `keepVectors`; null cells — null
    * vectors — dropped, they have nothing to serve) plus its `_meta.json`
    * sidecar, written through the Hadoop FS API (the store may live on
    * HDFS/S3/local). Unlike the Dedup store (whose append path writes its
    * sidecar first), these stores are overwrite-only, so the write order
    * is delete-stale-sidecar → data → new sidecar: the parquet overwrite
    * clears the partition directories but PRESERVES `_`-prefixed files
    * (they're metadata to the file index), so without the explicit delete
    * a crash mid-write would leave the PREVIOUS store's sidecar describing
    * half-written new data — the exact silent mismatch the sidecar exists
    * to catch. With it, every crash window leaves a sidecar-LESS store
    * (the next probe runs the documented pre-sidecar degrade, the next
    * write replaces everything); the sidecar only ever describes a store
    * whose data write committed. */
  private def writeStore(encoded: DataFrame, path: String, fam: Family,
      cells: Seq[Array[Double]], keepVectors: Boolean, vecCol: String): Unit = {
    val (dim, quantDig) = fam.dimAndQuant
    require(cells.nonEmpty && cells.head.length == dim,
      s"cells dimension ${cells.headOption.map(_.length)} does not match " +
        s"${fam.dimLabel} $dim")
    val meta = new org.apache.hadoop.fs.Path(path, "_meta.json")
    val fs = meta.getFileSystem(encoded.sparkSession.sessionState.newHadoopConf())
    if (fs.exists(meta)) fs.delete(meta, false): Unit
    val slim = if (keepVectors) encoded else encoded.drop(vecCol)
    slim.filter(col("cell_id").isNotNull)
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)
    graft.io.Json.write(encoded.sparkSession, s"$path/_meta.json",
      PqStoreMeta(fam.kind, dim, cells.size, cellsDigest(cells), quantDig,
        keepVectors).json, overwrite = true)
  }

  /** The one store probe: check `nprobe` and the sidecar, collect the
    * UNION of all queries' probe lists (computed from the literal `cells`,
    * so it is known before the plan is built), read only those cells'
    * directories through a pushed-down `cell_id IN (…)` partition filter,
    * then run `scan` over them — its `cell_id` equality join routes each
    * cell's rows to the queries that probe it. */
  private def storeScan(spark: SparkSession, path: String,
      queries: DataFrame, fam: Family, cells: Seq[Array[Double]],
      nprobe: Int, k: Int,
      idCol: String, queryIdCol: String, queryVecCol: String): DataFrame = {
    requireNprobe(cells, nprobe)
    requirePqStoreMatches(spark, path, fam.kind, cells.size, cellsDigest(cells))(
      fam.dimAndQuant)
    val allProbed = queries.filter(col(queryVecCol).isNotNull)
      .select(explode(probedCells(col(queryVecCol).cast("array<double>"),
        cells, nprobe)).as("c")).distinct()
      .collect().map(_.getInt(0)).sorted
    val store = spark.read.parquet(path)
      .filter(col("cell_id").isin(allProbed.map(Int.box): _*))
    scan(store, queries, fam, Some((cells, nprobe)), k,
      idCol, queryIdCol, queryVecCol)
  }

  /** Materialize an encoded+cell-assigned corpus ([[encode]] +
    * [[assignCells]]) as parquet PARTITIONED BY `cell_id` — the storage
    * layout the IVFADC doc prescribes at 100 TB: each coarse cell is its
    * own directory, so a probe of `nprobe` cells is a partition-PRUNED
    * scan that never opens the other ~99% of files. The vector column is
    * dropped by default (`keepVectors = false`): the ADC scan needs only
    * (id, pq_codes) — m bytes a vector — which is the whole point of PQ;
    * keep vectors only if exact re-ranking reads the store too.
    *
    * `codebooks`/`cells` must be the SAME values `encoded` was built with:
    * they are fingerprinted into a `_meta.json` sidecar that
    * [[ivfAdcTopKFromStore]] require-matches, so a probe with drifted
    * centroids or retrained codebooks fails loudly instead of silently
    * reading the wrong cell directories. */
  def writeCellPartitioned(encoded: DataFrame, path: String,
      codebooks: Seq[Seq[Array[Double]]], cells: Seq[Array[Double]],
      keepVectors: Boolean = false, vecCol: String = "embedding"): Unit = {
    require(encoded.columns.contains("cell_id"), "run assignCells first")
    require(encoded.columns.contains("pq_codes"), "run encode first")
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "empty codebooks")
    writeStore(encoded, path, PqFamily(codebooks), cells, keepVectors, vecCol)
  }

  /** [[ivfAdcTopK]] against a [[writeCellPartitioned]] store: the probed
    * cells arrive as a pushed-down `cell_id IN (…)` partition filter, so
    * the scan reads ONLY the probed directories (verify with
    * `.explain`: the scan shows the cell_id partition filters and no
    * other partition is listed). Query→cell ranking is computed
    * driver-side from the literal `cells` — the same tiny centroid table
    * every variant broadcasts — so the per-query probe lists are known
    * before the plan is built, which is what makes static pruning
    * possible; the per-query distance tables still broadcast and the
    * final rank is the two-phase [[graft.operators.TopK.topKPerQuery]].
    * Results are EXACTLY [[ivfAdcTopK]]'s for the same (codebooks,
    * cells, nprobe, k).
    *
    * The store's `_meta.json` sidecar is require-matched against the
    * probe's (codebooks, cells): drifted centroids or retrained codebooks
    * fail loudly instead of silently mis-pruning / mis-decoding. A store
    * with no sidecar predates the contract and runs on the caller's
    * parameters alone. */
  def ivfAdcTopKFromStore(spark: SparkSession,
      path: String, queries: DataFrame,
      codebooks: Seq[Seq[Array[Double]]], cells: Seq[Array[Double]],
      nprobe: Int, k: Int,
      idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding"): DataFrame =
    storeScan(spark, path, queries, PqFamily(codebooks), cells, nprobe, k,
      idCol, queryIdCol, queryVecCol)

  /** Per-dimension (min, max) ranges for [[sqEncode]] — ONE distributed
    * pass (posexplode → partial-agg groupBy over ≤ dim keys), returned as
    * a one-row frame of aligned arrays to broadcast, the
    * [[Similarity.standardizeEmbeddings]] moments pattern. */
  def sqStats(corpus: DataFrame, vecCol: String = "embedding"): DataFrame =
    corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(
        transform(sort_array(collect_list(struct(col("dim"), col("mn")))),
          s => s.getField("mn")).as("__mins"),
        transform(sort_array(collect_list(struct(col("dim"), col("mx")))),
          s => s.getField("mx")).as("__maxs"))

  /** Materialize a [[sqStats]] result to a LITERAL one-row frame: run the
    * O(n·dim) stats scan exactly once (one `head()` action) and rebuild the
    * (__mins, __maxs) arrays as literals. The frame [[sqStats]] returns is
    * lazy — a serving path that reuses it across query batches (or a timed
    * harness that reuses it across reps) would silently re-run the full
    * posexplode + groupBy per action; this pins the amortized-once cost
    * where it belongs. The literal frame broadcasts exactly like the lazy
    * one in [[sqEncode]]/[[sqTopK]]. */
  def sqStatsMaterialized(spark: SparkSession,
      stats: DataFrame): DataFrame = {
    val r = stats.head()
    spark.range(1).select(
      typedLit(r.getSeq[Double](0)).as("__mins"),
      typedLit(r.getSeq[Double](1)).as("__maxs"))
  }

  /** Per-query probe list: the ids of the `nprobe` centroids nearest to
    * `queryVec`, as a pure column expression over the driver-side literal
    * `cells` (no shuffle, no join — centroid tables are tiny by IVF
    * construction). Every IVF path and every store probe ranks cells
    * through it, as does the scale harness's scored-pair decomposition, so
    * the timed query and its counters derive the probe set from ONE
    * definition. */
  def probedCells(queryVec: Column, cells: Seq[Array[Double]],
      nprobe: Int): Column =
    slice(transform(array_sort(ranked(queryVec, cells)), s => s.getField("c")),
      1, nprobe)

  /** Affine int8 scalar quantization (the FAISS `SQ8` baseline — 4× less
    * compression than PQ at m=4 but with NO training and near-exact
    * recall): `code_d = clamp(⌊(x_d − min_d)/(max_d − min_d) · 256⌋, 0,
    * 255)`. Floor, not round — floor semantics are identical in every
    * engine, so the codes replicate bit-exactly in the DuckDB oracle.
    * Adds `sq_codes` (array<int>); a null vector encodes to null codes
    * (same phantom-row hazard as [[encode]]). Constant dimensions
    * (max = min) encode to 0. One codegen map; the stats frame is the
    * broadcast one-row [[sqStats]] output. */
  def sqEncode(corpus: DataFrame, stats: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val codes = transform(col(vecCol).cast("array<double>"), (x, i) => {
      val mn = element_at(col("__mins"), i + 1)
      val mx = element_at(col("__maxs"), i + 1)
      val span = mx - mn
      when(span <= 0, 0)
        .otherwise(greatest(lit(0),
          least(lit(255), floor((x - mn) / span * 256).cast("int"))))
    })
    corpus.crossJoin(broadcast(stats))
      .withColumn("sq_codes", when(col(vecCol).isNotNull, codes))
      .drop("__mins", "__maxs")
  }

  /** Asymmetric top-k over SQ8 codes: the query keeps full precision,
    * corpus dimensions reconstruct at their quantization-cell MIDPOINT
    * (`min_d + (code_d + 0.5)/256 · span_d` — halves the worst-case cell
    * error vs left-edge reconstruction), L2 distance, two-phase rank
    * ([[graft.operators.TopK.topKPerQuery]]) on the 6-decimal-rounded
    * distance with the id tiebreak. Same contract as [[adcTopK]]: queries
    * broadcast, the corpus never shuffles, the one exchange is k rows per
    * (query, partition). */
  def sqTopK(encoded: DataFrame, queries: DataFrame, stats: DataFrame, k: Int,
      idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    scan(encoded, queries, Sq8Family(stats), None, k,
      idCol, queryIdCol, queryVecCol)
  }

  /** IVF-pruned SQ8 top-k — the scale path for [[sqTopK]], whose
    * brute-force scan scores |corpus| × |queries| pairs (quadratic when
    * both sides grow with the data; the `sq8_topk` scale probe measures
    * exactly that trend). Composition mirrors [[ivfAdcTopK]]: `encoded`
    * carries `sq_codes` ([[sqEncode]]) and `cell_id` ([[assignCells]]);
    * each query ranks the coarse cells by full-dimension L2, probes its
    * `nprobe` nearest, and the midpoint-dequant distance runs ONLY over
    * rows of those cells — scored pairs shrink from |corpus|·|queries| to
    * ~(nprobe/ncells)·|corpus|·|queries|, and against a
    * [[writeCellPartitioned]]-style cell-bucketed store the probe list
    * prunes the scan itself. With `nprobe = cells.size` results are
    * EXACTLY [[sqTopK]]'s (every cell probed — the correctness-gate
    * face); smaller `nprobe` trades recall for scan fraction.
    *
    * Plan: query side explodes to (query, probed cell) — still tiny,
    * still broadcast; the corpus streams through an equality join on
    * `cell_id` with NO shuffle of the corpus side; the per-query rank is
    * the two-phase [[graft.operators.TopK.topKPerQuery]] on the
    * 6-decimal-rounded distance with the id tiebreak. */
  def ivfSqTopK(encoded: DataFrame, queries: DataFrame, stats: DataFrame,
      cells: Seq[Array[Double]], nprobe: Int, k: Int,
      idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    scan(encoded, queries, Sq8Family(stats), Some((cells, nprobe)), k,
      idCol, queryIdCol, queryVecCol)
  }

  /** [[writeCellPartitioned]] for SQ8: materialize an [[sqEncode]] +
    * [[assignCells]] corpus as parquet PARTITIONED BY `cell_id` — the
    * serving layout where the quantization cost is paid ONCE and every
    * probe is a partition-pruned scan of (id, sq_codes) rows. Vectors are
    * dropped by default ([[sqTopK]]'s asymmetric scan needs only the
    * codes); keep them only if an exact re-rank reads the store too.
    *
    * `stats`/`cells` must be the SAME values `encoded` was built with:
    * they are fingerprinted into a `_meta.json` sidecar that
    * [[ivfSqTopKFromStore]] require-matches, so a probe with drifted
    * centroids or re-derived stats fails loudly instead of silently
    * mis-pruning directories / mis-dequantizing every distance. The
    * digest costs one `head()` of `stats` — pass a
    * [[sqStatsMaterialized]] literal frame so it never re-runs the
    * O(n·dim) stats scan. */
  def writeSqCellPartitioned(encoded: DataFrame, path: String,
      stats: DataFrame, cells: Seq[Array[Double]],
      keepVectors: Boolean = false, vecCol: String = "embedding"): Unit = {
    require(encoded.columns.contains("cell_id"), "run assignCells first")
    require(encoded.columns.contains("sq_codes"), "run sqEncode first")
    writeStore(encoded, path, Sq8Family(stats), cells, keepVectors, vecCol)
  }

  /** [[ivfSqTopK]] against a [[writeSqCellPartitioned]] store: the
    * per-query probe lists are computed driver-side from the literal
    * `cells` (the same tiny centroid table every variant broadcasts), and
    * their UNION arrives as a pushed-down `cell_id IN (…)` partition
    * filter — the scan opens ONLY the probed directories. Results are
    * EXACTLY [[ivfSqTopK]]'s for the same (stats, cells, nprobe, k); with
    * `nprobe = cells.size` that is the plain [[sqTopK]] scan through the
    * write→read roundtrip. The recurring cost is the QUERY side — the
    * quantize/assign/write build is the amortized once-per-corpus cost
    * this layout exists to hoist out of the serving loop.
    *
    * The store's `_meta.json` sidecar is require-matched against the
    * probe's (stats, cells): drifted centroids or re-derived stats fail
    * loudly instead of silently mis-pruning / mis-dequantizing. The check
    * costs one `head()` of `stats` — pass a [[sqStatsMaterialized]]
    * literal frame on serving paths. A store with no sidecar predates the
    * contract and runs on the caller's parameters alone. */
  def ivfSqTopKFromStore(spark: SparkSession,
      path: String, queries: DataFrame, stats: DataFrame,
      cells: Seq[Array[Double]], nprobe: Int, k: Int,
      idCol: String = "vec_id", queryIdCol: String = "query_id",
      queryVecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    storeScan(spark, path, queries, Sq8Family(stats), cells, nprobe, k,
      idCol, queryIdCol, queryVecCol)
  }

  /** Mean recall@k of an approximate top-k ranking against the exact one:
    * per query, |approx ∩ exact| / |exact| over rows with rank ≤ k, then
    * averaged across the queries present in `exact`. Both inputs are
    * ranked frames as produced by [[sqTopK]]/[[ivfSqTopK]]/[[adcTopK]]
    * (columns `queryIdCol`, `idCol`, `rank`). Queries the approximate
    * side missed entirely count as recall 0 — absence is a miss, not a
    * skip. One aggregate action; the joins are (query, id)-keyed
    * hash joins over ≤ k·|queries| rows per side, so the evaluation
    * cost is bounded by the result size, never the corpus. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int,
      queryIdCol: String = "query_id", idCol: String = "vec_id"): Double = {
    require(k > 0, s"k must be positive: $k")
    val a = approx.filter(col("rank") <= k).select(col(queryIdCol), col(idCol))
    val e = exact.filter(col("rank") <= k).select(col(queryIdCol), col(idCol))
    val hits = e.join(a, Seq(queryIdCol, idCol), "left_semi")
      .groupBy(col(queryIdCol)).agg(count(lit(1)).as("__hits"))
    e.groupBy(col(queryIdCol)).agg(count(lit(1)).as("__n"))
      .join(hits, Seq(queryIdCol), "left")
      .agg(avg(coalesce(col("__hits"), lit(0L)).cast("double") / col("__n")))
      .head().getDouble(0)
  }

  /** Seeded per-subspace KMeans codebooks (the classic PQ training):
    * subspace `j` is fit on the corpus' j-th subvector slice. Centroid
    * count per subspace is `ncentroids` (256 in the paper = 1 byte/code;
    * small corpora cap at their row count). Deterministic for a fixed
    * (corpus, seed). */
  def trainCodebooks(corpus: DataFrame, m: Int, ncentroids: Int,
      seed: Long = 42, vecCol: String = "embedding"): Seq[Seq[Array[Double]]] = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    (0 until m).map { j =>
      val sub = corpus.select(org.apache.spark.ml.functions.array_to_vector(
        subspace(col(vecCol).cast("array<double>"), j, dsub)).as("__sub"))
      val km = new org.apache.spark.ml.clustering.KMeans()
        .setK(ncentroids).setSeed(seed + j).setFeaturesCol("__sub")
      km.fit(sub).clusterCenters.map(_.toArray).toSeq
    }
  }
}
