package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's fundamental abstraction: a typed two-table relational model —
  * one `images` row per image, one `annotations` row per object instance,
  * joined by the FK `annotations.image_id -> images.id`, plus a tiny category
  * dimension (`labelMap`).
  *
  * Semantics follow the reference `Dataset` (lours/dataset/dataset.py:34-70)
  * but the physical layer is Spark: both tables are lazy DataFrames, every
  * operator returns a new immutable `GraftDataset`, FK lookups are broadcast
  * joins, and constructor invariants are *explicit* validation actions
  * (`validated()`) rather than eager per-construction scans — at 100 TB an
  * O(N) integrity pass must be opt-in, not implicit.
  *
  * @param images        one row per image; core schema in [[Schemas.ImageCore]]
  * @param annotations   one row per annotation; core schema in [[Schemas.AnnotCore]]
  * @param labelMap      category_id -> category_str dimension (driver-side; tiny)
  * @param imagesRoot    root folder all `relative_path`s are relative to
  * @param datasetName   optional name (concatenated on merge, `A+B`)
  * @param booleanized   which multi-valued attribute columns have been pivoted
  *                      into boolean column families, per table
  *                      (keys: "images" | "annotations")
  */
case class GraftDataset(
    images: DataFrame,
    annotations: DataFrame,
    labelMap: Map[Int, String],
    imagesRoot: String = ".",
    datasetName: Option[String] = None,
    booleanized: Map[String, Set[String]] =
      Map("images" -> Set.empty, "annotations" -> Set.empty)
) {
  import Schemas._

  def spark: SparkSession = images.sparkSession

  /** Attribute (non-core) columns — reference dataset.py:1543-1635. */
  def imageAttributes: Seq[String] =
    images.columns.filterNot(imageCoreNames.contains).toSeq
  def annotationAttributes: Seq[String] =
    annotations.columns.filterNot(annotCoreNames.contains).toSeq

  /** Row counts (actions). Reference `__len__`/`len_annot`. */
  def numImages: Long = images.count()
  def numAnnotations: Long = annotations.count()

  /** Rename the dataset (reference `Dataset.rename` — a name-only setter;
    * the name surfaces in merge concatenation `A+B` and exports). */
  def rename(name: String): GraftDataset = copy(datasetName = Some(name))

  // --------------------------------------------------------------------
  // Derived-column maintenance
  // --------------------------------------------------------------------

  /** Recompute the denormalized `category_str` column from the label map
    * (reference dataset.py:1012-1014). Uses a literal map expression —
    * no shuffle, fully codegen'd, works at any scale because the label
    * map is a driver-side dimension. */
  def withCategoryStr: GraftDataset = {
    val expr = GraftDataset.labelMapColumn(labelMap, col("category_id"))
    copy(annotations = annotations.withColumn("category_str", expr))
  }

  /** Re-propagate `split` from images to annotations via a size-guarded
    * broadcast FK join (reference dataset.py:1015-1018). */
  def withSplitPropagated: GraftDataset = {
    val im = GraftDataset.broadcastIfSmall(
      images.select(col("id").as("__img_id"), col("split").as("__img_split")))
    val ann = annotations
      .drop("split")
      .join(im, col("image_id") === col("__img_id"), "left")
      .withColumn("split", col("__img_split"))
      .drop("__img_id", "__img_split")
    copy(annotations = ann).reordered
  }

  /** Canonical column order: core first, attributes after
    * (utils/dataframe_formatter.py:7-34). */
  def reordered: GraftDataset = {
    val im = images.select(canonicalOrder(images.columns.toSeq, imageCoreNames).map(c => col(quoted(c))): _*)
    val an = annotations.select(canonicalOrder(annotations.columns.toSeq, annotCoreNames).map(c => col(quoted(c))): _*)
    copy(images = im, annotations = an)
  }

  private def quoted(c: String): String = s"`$c`"

  // --------------------------------------------------------------------
  // Validation (reference constructor invariants, as explicit actions)
  // --------------------------------------------------------------------

  /** Run the reference's constructor invariants as distributed checks and
    * throw on the first violation. Mirrors init_images/init_annotations
    * (dataset.py:937-1037) + assert_ids_well_formed (utils/testing.py:407-456).
    * Each check is a count over an aggregated/anti-joined plan — they run as
    * a handful of Spark jobs, all shuffle-light. */
  def validated(): GraftDataset = {
    // all four integrity probes fold into ONE action: each check reduces
    // to a limit-1 witness frame carrying its violation label, unioned and
    // collected together. Same checks as before (dataset.py:949-953,
    // 990-998, 1001-1010 + enforced annotation-id uniqueness), one job
    // scheduling round instead of four — validated() sits on every
    // construction path, so its fixed cost is paid constantly
    def witness(df: DataFrame, label: String): DataFrame =
      df.limit(1).select(lit(label).as("violation"))
    val checks = Seq(
      witness(images.groupBy("id").count().filter(col("count") > 1),
        "images: duplicate ids"),
      witness(annotations.groupBy("id").count().filter(col("count") > 1),
        "annotations: duplicate ids"),
      witness(annotations.join(images.select(col("id")),
        annotations("image_id") === images("id"), "left_anti"),
        "annotations: image_id not present in images (FK violation)")
    ) ++ (if (labelMap.isEmpty) Nil else Seq(
      witness(annotations.select(col("category_id")).distinct()
        .filter(!col("category_id").isin(labelMap.keySet.toSeq: _*)),
        "annotations: category_id missing from label map")))
    val violations = checks.reduce(_ unionByName _).collect().map(_.getString(0))
    require(violations.isEmpty, violations.mkString("; "))
    this
  }

  /** Complete the label map with stringified ids for categories present in the
    * data but absent from the map (reference warns + completes,
    * dataset.py:1001-1010). Collects only the *distinct unknown ids* (tiny). */
  def withCompletedLabelMap(): GraftDataset = {
    val known = labelMap.keySet
    val present = annotations.select("category_id").distinct().collect().map(_.getInt(0)).toSet
    val missing = present -- known
    if (missing.isEmpty) this
    else copy(labelMap = labelMap ++ missing.map(i => i -> i.toString))
  }

  /** Re-root all relative paths against a new images root
    * (reset_images_root, dataset.py:1039-1123): the old→new prefix is
    * computed once on the driver; the rewrite is a string concat column. */
  def resetImagesRoot(newRoot: String): GraftDataset = {
    // URI roots (hdfs://nn/..., s3a://bucket/...): relativize the PATH
    // parts under a matching scheme://authority — java.nio would collapse
    // the "//" and prefix driver-CWD garbage via toAbsolutePath. Crossing
    // filesystems has no relative-path answer: fail fast.
    val (preOld, pathOld) = GraftDataset.splitUriPrefix(imagesRoot)
    val (preNew, pathNew) = GraftDataset.splitUriPrefix(newRoot)
    require(preOld == preNew,
      s"cannot re-root across filesystems: '$imagesRoot' -> '$newRoot'")
    val (oldP, newP) =
      if (preOld.nonEmpty)
        (java.nio.file.Paths.get(pathOld).normalize,
          java.nio.file.Paths.get(pathNew).normalize)
      else
        (java.nio.file.Paths.get(pathOld).toAbsolutePath.normalize,
          java.nio.file.Paths.get(pathNew).toAbsolutePath.normalize)
    val prefix = newP.relativize(oldP).toString
    val im =
      if (prefix.isEmpty) images
      else images.withColumn("relative_path",
        concat(lit(prefix + "/"), col("relative_path")))
    copy(images = im, imagesRoot = newRoot)
  }

  // --------------------------------------------------------------------
  // Persistence (native format) — see graft.io.ParquetIO
  // --------------------------------------------------------------------
  def toParquet(dir: String, overwrite: Boolean = false): Unit =
    graft.io.ParquetIO.write(this, dir, overwrite)

  def cache(): GraftDataset =
    copy(images = images.cache(), annotations = annotations.cache())
}

object GraftDataset {
  import Schemas._

  /** Default ceiling (bytes, plan-stats estimate) below which a dimension
    * side gets an explicit `broadcast` hint. Override per-session via the
    * Spark conf `graft.broadcast.maxBytes`. Kept well under Spark's 8 GB /
    * 512M-row BroadcastExchange hard limits: the estimate is of on-disk /
    * columnar bytes and the in-memory hash relation inflates several-fold. */
  val BroadcastDimMaxBytes: Long = 256L << 20

  /** Hint `broadcast(df)` ONLY when a plan-statistics size estimate says the
    * frame is genuinely small; otherwise return `df` un-hinted so the
    * planner picks the join strategy (auto-broadcast when its own stats are
    * under `spark.sql.autoBroadcastJoinThreshold`, sort-merge / shuffled-hash
    * past it). An explicit `broadcast()` hint is honored UNCONDITIONALLY by
    * Spark — AQE's DynamicJoinSelection only injects hints where the user
    * gave none, it never demotes one — and BroadcastExchange hard-fails past
    * 8 GB / 512M rows after first materializing the build side on the
    * driver. So an unguarded hint on a table that grows with the dataset
    * (images, per-image id maps) turns every FK-dimension join into a
    * throw at web scale; this guard makes those operators degrade to a
    * shuffle join instead.
    *
    * The estimate is `optimizedPlan.stats.sizeInBytes` of `estimator`
    * (default: `df` itself) — driver-side catalog/plan statistics, no job.
    * Pass a separate `estimator` when `df`'s lineage goes through an RDD
    * (e.g. [[zipDenseIds]]): `LogicalRDD` reports the unknown-size sentinel
    * (`spark.sql.defaultSizeInBytes` = Long.MaxValue), which would always
    * suppress the hint even for a 1000-row map. The estimator must bound
    * `df` from ABOVE — at least its row count and at least its row width
    * (e.g. an equivalently-shaped projection of the frame the RDD was
    * derived from, or a cross join whose product-of-inputs stats equal the
    * row bound); over-estimates only cost the hint, never correctness,
    * but an UNDER-estimate silently keeps a hint that can throw at the
    * BroadcastExchange hard limit. Row counts can't be checked without a
    * job, but width can: the guard requires the estimator to carry at
    * least `df`'s column count, which catches the classic mistake of
    * estimating a wide frame with a narrow key projection. */
  def broadcastIfSmall(df: DataFrame, estimator: DataFrame = null): DataFrame = {
    val maxBytes = df.sparkSession.conf.getOption("graft.broadcast.maxBytes")
      .map(_.toLong).getOrElse(BroadcastDimMaxBytes)
    val est = Option(estimator).getOrElse(df)
    require(est.columns.length >= df.columns.length,
      s"broadcastIfSmall estimator is narrower than the frame it bounds " +
        s"(${est.columns.length} vs ${df.columns.length} columns) — a " +
        "narrow estimator under-counts bytes and silently keeps a hint " +
        "that can throw at the BroadcastExchange limit")
    if (est.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(maxBytes))
      broadcast(df)
    else df
  }

  /** Split a root into ("scheme://authority", "/path") for URI roots, or
    * ("", root) for plain local paths — the guard that keeps the
    * java.nio path algebra (relativize/commonpath) off strings it would
    * mangle (Paths.get collapses "//" and loses the authority). */
  private[graft] def splitUriPrefix(root: String): (String, String) = {
    val m = "^([a-zA-Z][a-zA-Z0-9+.\\-]*://[^/]*)(/.*)?$".r
    root match {
      case m(pre, path) => (pre, Option(path).getOrElse("/"))
      case _ => ("", root)
    }
  }

  /** Sort by `sortCols` then append dense sequential longs from `start` as
    * `idName` — via `zipWithIndex`, NOT a partition-less window: a global
    * `row_number` funnels the whole table through one task, while
    * zipWithIndex keeps every partition in place (one tiny job to count
    * per-partition sizes, then a map). The scale-safe primitive behind
    * reset_index, iloc, and id minting. */
  def zipDenseIds(df: DataFrame, sortCols: Seq[String], start: Long,
      idName: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val order = sortCols.map(c => col(s"`$c`"))
    val sorted = df.orderBy(order: _*)
    val schema = sorted.schema.add(StructField(idName, LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ (idx + start))
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Literal map lookup column for the category dimension: `element_at(map, key)`.
    * Broadcast-free and codegen-friendly — a label map is O(100) entries.
    * The map is one literal, not a `map(...)` of literals, so an in-memory
    * relation folded by `ConvertToLocalRelation` does not rebuild it per row. */
  def labelMapColumn(labelMap: Map[Int, String], key: Column): Column =
    if (labelMap.isEmpty) lit(null).cast(StringType)
    else element_at(typedLit(labelMap), key.cast(IntegerType))

  /** Construct with the reference's defaulting semantics
    * (init_images dataset.py:937-970, init_annotations dataset.py:972-1037):
    * derive `type` from the path suffix, default `split` to null, derive
    * `category_str` from the label map, propagate `split` images→annotations,
    * enforce core dtypes and canonical column order. Validation is separate
    * ([[GraftDataset.validated]]). */
  def create(
      images: DataFrame,
      annotations: DataFrame,
      labelMap: Map[Int, String] = Map.empty,
      imagesRoot: String = ".",
      datasetName: Option[String] = None,
      booleanized: Map[String, Set[String]] =
        Map("images" -> Set.empty, "annotations" -> Set.empty)
  ): GraftDataset = {
    val im0 = defaultImageColumns(images)
    val ds = GraftDataset(im0, defaultAnnotColumns(annotations), labelMap,
      imagesRoot, datasetName, booleanized)
    ds.withCategoryStr.withSplitPropagated.reordered
  }

  /** Apply image-table defaults + dtype coercion. */
  def defaultImageColumns(df: DataFrame): DataFrame = {
    var out = df
    require(imageRequired.subsetOf(out.columns.toSet),
      s"images missing required columns: ${imageRequired -- out.columns.toSet}")
    if (!out.columns.contains("id"))
      out = zipDenseIds(out, Seq("relative_path"), 0, "id")
    // type derived from path suffix (dataset.py:960-961) — Path.suffix
    // semantics: INCLUDES the dot (".jpg"), empty for no suffix, and a
    // leading-dot filename (".bashrc") has no suffix. The guard before the
    // suffix is [^/] (any non-slash, dots INCLUDED): pathlib gives
    // "scan..jpg" and even "..jpg" the suffix ".jpg" — only a dot in the
    // basename's FIRST position (nothing before it but start-of-name or
    // "/") disqualifies
    if (!out.columns.contains("type"))
      out = out.withColumn("type",
        regexp_extract(col("relative_path"), "[^/](\\.[^./]+)$", 1))
    if (!out.columns.contains("split"))
      out = out.withColumn("split", lit(null).cast(StringType))
    coerce(out, ImageCore)
  }

  /** Apply annotation-table defaults + dtype coercion (category_str/split are
    * recomputed by `create`). */
  def defaultAnnotColumns(df: DataFrame): DataFrame = {
    var out = df
    require(annotRequired.subsetOf(out.columns.toSet),
      s"annotations missing required columns: ${annotRequired -- out.columns.toSet}")
    if (!out.columns.contains("id"))
      out = zipDenseIds(out, Seq("image_id"), 0, "id")
    if (!out.columns.contains("category_str")) out = out.withColumn("category_str", lit(null).cast(StringType))
    if (!out.columns.contains("split")) out = out.withColumn("split", lit(null).cast(StringType))
    coerce(out, AnnotCore)
  }

  private def coerce(df: DataFrame, core: Seq[StructField]): DataFrame = {
    val byName = core.map(f => f.name -> f.dataType).toMap
    val cols = df.columns.map { c =>
      byName.get(c) match {
        case Some(dt) if df.schema(c).dataType != dt => col(s"`$c`").cast(dt).as(c)
        case _ => col(s"`$c`")
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
