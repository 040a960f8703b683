package graft.operators

import graft.model.GraftDataset
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Row-selection operators with relational cascade semantics.
  *
  * Reference: DatasetImLocator / DatasetAnnotLocator (lours/dataset/
  * indexing.py:14-126) and the filter_images/filter_annotations methods
  * (dataset.py:672-877). All cascades are semi/anti joins — never a
  * collect — so they distribute at any scale.
  */
object Locators {

  /** Filter images by predicate and cascade-drop annotations of removed
    * images (indexing.py:14-56): `annotations LEFT SEMI JOIN kept_images`. */
  def filterImages(ds: GraftDataset, pred: Column): GraftDataset = {
    val kept = ds.images.filter(pred)
    val ann = ds.annotations.join(
      kept.select(col("id").as("__kept_id")),
      col("image_id") === col("__kept_id"), "left_semi")
    ds.copy(images = kept, annotations = ann)
  }

  /** Select images by id membership (reference `loc`). For big id sets pass
    * a DataFrame via [[filterImagesByIdDf]] instead of a literal list. */
  def filterImagesByIds(ds: GraftDataset, ids: Seq[Long]): GraftDataset =
    filterImages(ds, col("id").isin(ids: _*))

  def filterImagesByIdDf(ds: GraftDataset, ids: DataFrame): GraftDataset = {
    val kept = ds.images.join(ids.select(ids.columns.head).toDF("id"), Seq("id"), "left_semi")
    val ann = ds.annotations.join(kept.select(col("id").as("__kept_id")),
      col("image_id") === col("__kept_id"), "left_semi")
    ds.copy(images = kept, annotations = ann)
  }

  /** Positional selection over a total order (reference `iloc` /
    * `__getitem__` slices, dataset.py:1637-1654): dense positions by id
    * order via zipWithIndex (NOT a partition-less window — a global
    * row_number funnels the full table through one task), then a
    * [start, stop) + step filter. */
  def ilocImages(ds: GraftDataset, start: Long, stop: Long, step: Long = 1): GraftDataset = {
    val kept = GraftDataset.zipDenseIds(ds.images, Seq("id"), 0, "__pos")
      .filter(col("__pos") >= start && col("__pos") < stop &&
        (col("__pos") - start) % step === 0)
      .drop("__pos")
    val ann = ds.annotations.join(kept.select(col("id").as("__kept_id")),
      col("image_id") === col("__kept_id"), "left_semi")
    ds.copy(images = kept, annotations = ann)
  }

  /** Filter annotations; optionally drop images *emptied by this filter*
    * while keeping images that had no annotations to begin with
    * ([[notEmptiedImages]]). */
  def filterAnnotations(ds: GraftDataset, pred: Column,
      removeEmptiedImages: Boolean = false): GraftDataset = {
    val newAnn = ds.annotations.filter(pred)
    if (!removeEmptiedImages) ds.copy(annotations = newAnn)
    else ds.copy(images = notEmptiedImages(ds, newAnn), annotations = newAnn)
  }

  /** The emptied-image cascade (indexing.py:106-119): the images of `ds`
    * that still have an annotation in `keptAnnotations`, plus those that had
    * none to begin with — (images ⋉ kept) ∪ (images ▷ ds.annotations). */
  private[operators] def notEmptiedImages(ds: GraftDataset,
      keptAnnotations: DataFrame): DataFrame = {
    val stillHas = ds.images.join(keptAnnotations.select(col("image_id")),
      ds.images("id") === col("image_id"), "left_semi")
    val wasEmpty = ds.images.join(ds.annotations.select(col("image_id")),
      ds.images("id") === col("image_id"), "left_anti")
    stillHas.unionByName(wasEmpty)
  }

  /** Keep images that have at least one annotation
    * (remove_empty_images, dataset.py:2863-2917). */
  def removeEmptyImages(ds: GraftDataset): GraftDataset = {
    val kept = ds.images.join(ds.annotations.select(col("image_id")),
      ds.images("id") === col("image_id"), "left_semi")
    ds.copy(images = kept)
  }

  /** Keep images, truncate the annotations table preserving schema
    * (empty_annotations, dataset.py:879-935). */
  def emptyAnnotations(ds: GraftDataset): GraftDataset =
    ds.copy(annotations = ds.annotations.limit(0))

  /** Null-safe split selection (dataset.py:1745-1881): `split <=> value`,
    * where value may be null. */
  def getSplit(ds: GraftDataset, split: Option[String]): GraftDataset = {
    val v: Column = split.map(lit(_)).getOrElse(lit(null))
    val im = ds.images.filter(col("split") <=> v)
    val ann = ds.annotations.filter(col("split") <=> v)
    ds.copy(images = im, annotations = ann)
  }

  /** Distinct split values (for iter_splits), tiny collect. */
  def splitValues(ds: GraftDataset): Seq[Option[String]] =
    ds.images.select("split").distinct().collect()
      .map(r => Option(r.getString(0))).toSeq

  /** Drop malformed bboxes (remove_invalid_annotations, dataset.py:1233-1405;
    * predicate kernel utils/testing.py:477-577): negative coords, non-positive
    * size (unless keypoints allowed: zero-size ok), out-of-image bounds. */
  def removeInvalidAnnotations(ds: GraftDataset, allowKeypoints: Boolean = false,
      removeEmptiedImages: Boolean = false,
      removeRelatedImages: Boolean = false): GraftDataset = {
    val dims = GraftDataset.broadcastIfSmall(ds.images.select(col("id").as("__iid"),
      col("width").as("__w"), col("height").as("__h")))
    val joined = ds.annotations.join(dims, col("image_id") === col("__iid"), "left")
    val sizeOk =
      if (allowKeypoints) col("box_width") >= 0 && col("box_height") >= 0
      else col("box_width") > 0 && col("box_height") > 0
    val valid = col("box_x_min") >= 0 && col("box_y_min") >= 0 && sizeOk &&
      (col("box_x_min") + col("box_width")) <= col("__w") &&
      (col("box_y_min") + col("box_height")) <= col("__h")
    if (removeRelatedImages) {
      // dataset.py:1313-1330 remove_related_images: drop every image that
      // carries ANY invalid annotation (its valid annotations go with it —
      // the loc-images cascade), keep the rest untouched
      val badImages = joined.filter(!valid)
        .select(col("image_id").as("__bad_iid")).distinct()
      val keptImages = ds.images.join(badImages,
        col("id") === col("__bad_iid"), "left_anti")
      val keptAnn = ds.annotations.join(badImages,
        col("image_id") === col("__bad_iid"), "left_anti")
      return ds.copy(images = keptImages, annotations = keptAnn)
    }
    val newAnn = joined.filter(valid).drop("__iid", "__w", "__h")
    if (!removeEmptiedImages) ds.copy(annotations = newAnn)
    else ds.copy(images = notEmptiedImages(ds, newAnn), annotations = newAnn)
  }

  /** Error-report table for malformed boxes (get_malformed_bounding_boxes,
    * utils/testing.py:477-577): one boolean column per failure mode. */
  def malformedBoxReport(ds: GraftDataset, keypointsOk: Boolean = false): DataFrame = {
    val dims = GraftDataset.broadcastIfSmall(ds.images.select(col("id").as("__iid"),
      col("width").as("__w"), col("height").as("__h")))
    val joined = ds.annotations.join(dims, col("image_id") === col("__iid"), "left")
    val zeroOk = if (keypointsOk) lit(true) else (col("box_width") > 0 && col("box_height") > 0)
    joined.select(
      col("id"), col("image_id"),
      (col("box_x_min") < 0 || col("box_y_min") < 0).as("negative_coordinates"),
      (col("box_width") < 0 || col("box_height") < 0).as("negative_size"),
      (!zeroOk && (col("box_width") === 0 || col("box_height") === 0)).as("zero_size"),
      ((col("box_x_min") + col("box_width")) > col("__w") ||
        (col("box_y_min") + col("box_height")) > col("__h")).as("out_of_image")
    ).filter(col("negative_coordinates") || col("negative_size") ||
      col("zero_size") || col("out_of_image"))
  }
}

/** Positional + export-stub extensions of the locator surface. */
object LocatorsExtra {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import graft.model.GraftDataset

  /** Positional annotation selection (iloc_annot, indexing.py:59-126):
    * dense positions by id order (zipWithIndex, no global window),
    * [start, stop) with step, plus the standard emptied-image option. */
  def ilocAnnotations(ds: GraftDataset, start: Long, stop: Long, step: Long = 1,
      removeEmptiedImages: Boolean = false): GraftDataset = {
    val kept = GraftDataset.zipDenseIds(ds.annotations, Seq("id"), 0, "__pos")
      .filter(col("__pos") >= start && col("__pos") < stop &&
        (col("__pos") - start) % step === 0)
      .drop("__pos")
    if (!removeEmptiedImages) ds.copy(annotations = kept)
    else ds.copy(images = Locators.notEmptiedImages(ds, kept), annotations = kept)
  }

  /** Union of many datasets — the `sum(datasets)` convenience
    * (dataset.py `__radd__`). */
  def unionAll(datasets: Seq[GraftDataset]): GraftDataset = {
    require(datasets.nonEmpty, "unionAll of zero datasets")
    datasets.reduce(graft.operators.Merge.union)
  }

  /** FiftyOne export (to_fiftyone, dataset.py:5052-5134): the engine
    * builds the exact fo.Sample/Detection/Keypoint dict structure
    * distributed and hands it off as JSON-lines — see [[graft.io.Fiftyone]].
    * Pushing into a LIVE FiftyOne service (random fo_ids, webapp launch)
    * still needs that service on the Python side. */
  def toFiftyone(ds: GraftDataset, annotationsName: String = "groundtruth",
      allowKeypoints: Boolean = false): org.apache.spark.sql.DataFrame =
    graft.io.Fiftyone.sampleFrame(ds, annotationsName, allowKeypoints)
}
