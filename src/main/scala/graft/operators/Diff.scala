package graft.operators

import graft.model.GraftDataset
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cell-wise dataset diff — reference `dataset_diff` / `-`
  * (lours/utils/difftools.py:10-186).
  *
  * A diff of two tables keyed by `id` is one full-outer join with null-safe
  * (`<=>`) per-column comparison (difftools.py:118-121: both-null counts as
  * equal): rows only on the left, rows only on the right, and common rows
  * that are changed vs identical. One shuffle (the join), no collects.
  */
object Diff {

  /** Per-row diff report of two DataFrames on `id`:
    * `(id, status ∈ {left_only,right_only,changed,equal}, changed_columns)`.
    * Only columns present in both sides are compared (difftools.py:60-78);
    * `excludeColumns` additionally drops named columns from the comparison
    * (the `exclude_*_columns` parameters, difftools.py:10-58 — for columns
    * both sides carry but whose drift should not count as a change). */
  def frameDiff(left: DataFrame, right: DataFrame, idCol: String = "id",
      excludeColumns: Seq[String] = Nil): DataFrame = {
    val common =
      left.columns.toSet.intersect(right.columns.toSet) - idCol -- excludeColumns
    val l = left.select((Seq(col(idCol).as("__lid")) ++
      common.toSeq.sorted.map(c => col(s"`$c`").as(s"__l_$c"))): _*)
    val r = right.select((Seq(col(idCol).as("__rid")) ++
      common.toSeq.sorted.map(c => col(s"`$c`").as(s"__r_$c"))): _*)
    val j = l.join(r, col("__lid") === col("__rid"), "full_outer")
    val changedCols: Column = array_compact(array(common.toSeq.sorted.map { c =>
      when(!(col(s"`__l_$c`") <=> col(s"`__r_$c`")), lit(c))
    }: _*))
    j.select(
      coalesce(col("__lid"), col("__rid")).as(idCol),
      when(col("__rid").isNull, "left_only")
        .when(col("__lid").isNull, "right_only")
        .when(size(changedCols) > 0, "changed")
        .otherwise("equal").as("status"),
      changedCols.as("changed_columns"))
  }

  /** Ids of the rows both frames hold that disagree on a shared column
    * (assert_frame_intersections_equal, testing.py:174-211): the `changed`
    * rows of [[frameDiff]], as one-sided rows are never `changed`. Lazy;
    * the caller fetches as many as it reports. */
  def intersectionMismatches(a: DataFrame, b: DataFrame, idCol: String = "id"): DataFrame =
    frameDiff(a, b, idCol).filter(col("status") === "changed").select(idCol)

  /** Three-way dataset diff (difftools.py:10-186): datasets of rows only in
    * `a`, only in `b`, and common-but-changed (images or their annotations
    * differ). Returned as (leftOnly, rightOnly, changed) image-id keyed
    * sub-datasets of `a`/`b`. */
  case class DatasetDiff(leftOnly: GraftDataset, rightOnly: GraftDataset,
      changed: GraftDataset)

  def datasetDiff(a: GraftDataset, b: GraftDataset,
      excludeImageColumns: Seq[String] = Nil,
      excludeAnnotationsColumns: Seq[String] = Nil): DatasetDiff = {
    val imgDiff = frameDiff(a.images, b.images,
      excludeColumns = excludeImageColumns)
    // annotation-level changes roll up to their image
    val annDiff = frameDiff(a.annotations, b.annotations,
      excludeColumns = excludeAnnotationsColumns)
    val lAnnImg = a.annotations.select(col("id"), col("image_id"))
    val rAnnImg = b.annotations.select(col("id"), col("image_id"))
    val annImg = lAnnImg.unionByName(rAnnImg).distinct()
    val changedAnnImages = annDiff.filter(col("status") =!= "equal")
      .join(annImg, Seq("id"))
      .select(col("image_id").as("id")).distinct()

    def ids(status: String): DataFrame =
      imgDiff.filter(col("status") === status).select("id")

    val changedImgIds = ids("changed")
      .unionByName(changedAnnImages
        .join(imgDiff.filter(col("status") === "equal"), Seq("id"), "left_semi"))
      .distinct()

    DatasetDiff(
      leftOnly = Locators.filterImagesByIdDf(a, ids("left_only")),
      rightOnly = Locators.filterImagesByIdDf(b, ids("right_only")),
      changed = Locators.filterImagesByIdDf(a, changedImgIds))
  }

  /** Order-insensitive dataset equality (assert_dataset_equal,
    * utils/testing.py:91-171): no diff rows anywhere + same label map. */
  def datasetsEqual(a: GraftDataset, b: GraftDataset): Boolean = {
    if (a.labelMap != b.labelMap) return false
    if (a.images.columns.sorted.toSeq != b.images.columns.sorted.toSeq) return false
    if (a.annotations.columns.sorted.toSeq != b.annotations.columns.sorted.toSeq) return false
    val imgBad = frameDiff(a.images, b.images)
      .filter(col("status") =!= "equal").limit(1).count()
    if (imgBad > 0) return false
    val annBad = frameDiff(a.annotations, b.annotations)
      .filter(col("status") =!= "equal").limit(1).count()
    annBad == 0
  }
}
