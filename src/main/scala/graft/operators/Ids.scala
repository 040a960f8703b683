package graft.operators

import graft.model.GraftDataset
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Id assignment / remapping (reference reset_index family,
  * lours/dataset/dataset.py:1883-2201; merge collision shift merge.py:199-203).
  *
  * pandas gets dense sequential ids for free from `reset_index`; on Spark a
  * dense total-order id is a global `row_number` — a single-partition window
  * unless we order by something. We order by explicit sort keys with `id` as
  * final tiebreaker so the result is deterministic under any partitioning.
  * NOTE: a global row_number serializes through one task; it's the price of
  * *dense* ids. For scale paths that only need *unique* ids, use
  * [[uniqueIds]] (monotonically_increasing_id, fully parallel).
  */
object Ids {

  /** Dense sequential ids over a total order, WITHOUT a single-partition
    * global window: range-partitioned sort, then `zipWithIndex` (one light
    * count job + one map job over the SAME sorted RDD — the sort shuffle is
    * computed once and reused, and the partitioning is identical across the
    * two jobs by construction). This is the 1000-executor path: every stage
    * is parallel; the only driver data is one count per partition. */
  def denseIds(df: DataFrame, sortCols: Seq[String], start: Long,
      idName: String): DataFrame =
    GraftDataset.zipDenseIds(df, sortCols, start, idName)

  /** Sort then assign dense sequential ids from `start`; rewrite annotation
    * FK via an old→new id map join (reset_index, dataset.py:1883-2020). */
  def resetIndex(ds: GraftDataset, startImageId: Long = 0, startAnnotationId: Long = 0,
      sortImagesBy: Seq[String] = Seq("id"), sortAnnotationsBy: Seq[String] = Seq("id"))
      : GraftDataset = {
    val newImages = denseIds(ds.images,
      (sortImagesBy :+ "id").distinct, startImageId, "__new_id")
    val idMap = newImages.select(col("id").as("__old_id"), col("__new_id"))
    // the id map is one row per image, two longs — but its zipWithIndex
    // lineage is a LogicalRDD whose plan stats are the unknown sentinel, so
    // size-estimate it from an identically-shaped projection of the images
    // lineage. Past the guard threshold the FK rewrite degrades to a
    // shuffle join instead of a >8 GB broadcast throw.
    val idMapSized = ds.images.select(col("id").as("__old_id"), col("id").as("__new_id"))
    val newAnn0 = ds.annotations
      .join(GraftDataset.broadcastIfSmall(idMap, idMapSized),
        ds.annotations("image_id") === col("__old_id"), "left")
      .withColumn("image_id", col("__new_id"))
      .drop("__old_id", "__new_id")
    val newAnn = denseIds(newAnn0.withColumnRenamed("id", "__old_ann_id"),
      (sortAnnotationsBy :+ "id").distinct.map(c => if (c == "id") "__old_ann_id" else c),
      startAnnotationId, "id")
      .drop("__old_ann_id")
    GraftDataset(
      newImages.withColumn("id", col("__new_id")).drop("__new_id"),
      newAnn, ds.labelMap, ds.imagesRoot, ds.datasetName, ds.booleanized).reordered
  }

  /** Remap image ids from an explicit mapping table (old_id, new_id).
    * Unmapped images either get fresh ids after max(new_id) or are dropped
    * (reset_index_from_mapping, dataset.py:2022-2201). */
  def resetIndexFromMapping(ds: GraftDataset, mapping: DataFrame,
      removeUnmapped: Boolean = false): GraftDataset = {
    // normalize the mapping to long columns up front: a caller-supplied
    // Int mapping (or an empty frame) must not crash the max/getLong path.
    // The broadcast hint goes only on the frame the two joins read: under
    // the max aggregate it is not part of a join and Spark drops it.
    val longMapping = mapping.select(
      col(mapping.columns(0)).cast("long").as("__old_id"),
      col(mapping.columns(1)).cast("long").as("__new_id"))
    remapImageIds(ds, longMapping, removeUnmapped, {
      val maxRow = longMapping.agg(max(col("__new_id"))).collect()(0)
      if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    })
  }

  /** [[resetIndexFromMapping]] over a long `(__old_id, __new_id)` mapping
    * whose max new id (-1 when empty) is `maxMapped`, evaluated only when
    * unmapped images get fresh ids. */
  private def remapImageIds(ds: GraftDataset, longMapping: DataFrame,
      removeUnmapped: Boolean, maxMapped: => Long): GraftDataset = {
    val m = GraftDataset.broadcastIfSmall(longMapping)
    val joined = ds.images.join(m, ds.images("id") === col("__old_id"), "left")
    val (mappedImages, annSource) =
      if (removeUnmapped) {
        val im = joined.filter(col("__new_id").isNotNull)
        val ann = ds.annotations.join(m, ds.annotations("image_id") === col("__old_id"), "inner")
        (im, ann)
      } else {
        // fresh ids after the max mapped id for unmapped rows (an empty
        // mapping means every row is unmapped → fresh ids from 0).
        // denseIds (range sort + zipWithIndex), NOT a partitionless window —
        // the unmapped set can be the whole table.
        val mapped = joined.filter(col("__new_id").isNotNull)
        val unmapped = denseIds(
          joined.filter(col("__new_id").isNull).drop("__new_id"),
          Seq("id"), maxMapped + 1, "__new_id")
        val im = mapped.unionByName(unmapped)
        // rebuild the effective full mapping from the images themselves
        val fullMap = im.select(col("id").as("__old_id2"), col("__new_id").as("__new_id2"))
        // same zipWithIndex-lineage caveat as resetIndex: size-estimate the
        // per-image map from an equivalently-shaped images projection
        val fullMapSized = ds.images.select(
          col("id").as("__old_id2"), col("id").as("__new_id2"))
        val ann = ds.annotations.join(
          GraftDataset.broadcastIfSmall(fullMap, fullMapSized),
          ds.annotations("image_id") === col("__old_id2"), "left")
          .withColumnRenamed("__new_id2", "__new_id")
          .drop("__old_id2")
        (im, ann)
      }
    val newImages = mappedImages.withColumn("id", col("__new_id")).drop("__old_id", "__new_id")
    val newAnn = annSource.withColumn("image_id", col("__new_id")).drop("__old_id", "__new_id")
    ds.copy(images = newImages, annotations = newAnn).reordered
  }

  /** Globally-unique (non-dense) ids, fully parallel — the 100 TB-scale
    * alternative to resetIndex when density doesn't matter. */
  def uniqueIds(df: DataFrame, idCol: String = "id"): DataFrame =
    df.withColumn(idCol, monotonically_increasing_id())

  /** Shift all ids by a constant (merge collision handling,
    * merge.py:199-203). A zero offset leaves its columns untouched. */
  def shiftIds(ds: GraftDataset, imageOffset: Long, annotationOffset: Long): GraftDataset = {
    def shift(df: DataFrame, c: String, by: Long) =
      if (by == 0L) df else df.withColumn(c, col(c) + by)
    ds.copy(
      images = shift(ds.images, "id", imageOffset),
      annotations = shift(shift(ds.annotations, "id", annotationOffset), "image_id", imageOffset))
  }

  /** Realign this dataset's image ids to another's by joining on an anchor
    * column, e.g. relative_path (match_index, dataset.py:2203-2334).
    * Uniqueness of the anchor is asserted on both sides. */
  def matchIndex(ds: GraftDataset, other: GraftDataset, on: String = "relative_path",
      removeUnmatched: Boolean = false): GraftDataset = {
    // one aggregated pass per side + one join serves BOTH the
    // anchor-uniqueness asserts and the id mapping (the previous shape ran
    // two extra full groupBy jobs just for the asserts)
    val l = ds.images.groupBy(col(s"`$on`").as("__anchor"))
      .agg(count(lit(1)).as("__lc"), first("id").as("__old"))
    val r = other.images.groupBy(col(s"`$on`").as("__anchor"))
      .agg(count(lit(1)).as("__rc"), first("id").as("__new"))
    // localCheckpoint, not cache: read by the probe here and by the
    // result's plan, and a CacheManager entry would pin executor memory for
    // the session — checkpoint blocks are freed when the frame is
    // garbage-collected. The probe also carries the max matched new id,
    // where unmatched images' fresh ids start.
    val joined = l.join(r, Seq("__anchor"), "full_outer").localCheckpoint()
    val mx = joined.agg(max("__lc"), max("__rc"),
      max(when(col("__old").isNotNull, col("__new")))).collect()(0)
    require(mx.isNullAt(0) || mx.getLong(0) <= 1,
      s"match_index: anchor column '$on' not unique on left side")
    require(mx.isNullAt(1) || mx.getLong(1) <= 1,
      s"match_index: anchor column '$on' not unique on right side")
    val mapping = joined
      .filter(col("__old").isNotNull && col("__new").isNotNull)
      .select(col("__old").cast("long").as("__old_id"),
        col("__new").cast("long").as("__new_id"))
    remapImageIds(ds, mapping, removeUnmatched,
      if (mx.isNullAt(2)) -1L else mx.getLong(2))
  }
}
