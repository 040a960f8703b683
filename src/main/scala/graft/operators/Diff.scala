package graft.operators

import graft.model.GraftDataset
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cell-wise dataset diff — reference `dataset_diff` / `-`
  * (lours/utils/difftools.py:10-186).
  *
  * Every diff here runs through one status core: one join of the two tables
  * on `id` that reads each side once, whose `changed` test is one row
  * comparison, `!(struct(shared cols) <=> struct(shared cols))`. A struct's
  * `<=>` is null-safe field by field, so it matches the per-column `<=>`
  * of difftools.py:118-121 (both-null counts as equal, NaN equals NaN,
  * -0.0 equals 0.0). Rows only on the left, rows only on the right, and
  * common rows that are changed vs identical. One shuffle (the join), no
  * collects.
  */
object Diff {

  /** The status core: `left` and `right` joined once on `idCol` (`how`),
    * with each side's id as `__lid`/`__rid`, its shared columns as
    * `__l_<c>`/`__r_<c>` and, when given, one carried column as
    * `__l_carry`/`__r_carry`. `changed` compares the shared columns in one
    * expression; with no shared column nothing is changed. */
  private case class Core(joined: DataFrame, common: Seq[String], changed: Column) {
    /** `left_only`, `right_only`, `changed` or `equal` (full-outer rows). */
    def status: Column =
      when(col("__rid").isNull, "left_only")
        .when(col("__lid").isNull, "right_only")
        .when(changed, "changed")
        .otherwise("equal")
  }

  private def core(left: DataFrame, right: DataFrame, idCol: String,
      excludeColumns: Seq[String], how: String, carry: Option[String] = None): Core = {
    val common =
      (left.columns.toSet.intersect(right.columns.toSet) - idCol -- excludeColumns).toSeq.sorted
    def side(df: DataFrame, p: String): DataFrame = df.select((Seq(col(idCol).as(s"__${p}id")) ++
      common.map(c => col(s"`$c`").as(s"__${p}_$c")) ++
      carry.map(c => col(s"`$c`").as(s"__${p}_carry"))): _*)
    def row(p: String): Column = struct(common.map(c => col(s"`__${p}_$c`").as(c)): _*)
    val changed = if (common.isEmpty) lit(false) else !(row("l") <=> row("r"))
    Core(side(left, "l").join(side(right, "r"), col("__lid") === col("__rid"), how),
      common, changed)
  }

  /** Per-row diff report of two DataFrames on `id`:
    * `(id, status ∈ {left_only,right_only,changed,equal}, changed_columns)`.
    * Only columns present in both sides are compared (difftools.py:60-78);
    * `excludeColumns` additionally drops named columns from the comparison
    * (the `exclude_*_columns` parameters, difftools.py:10-58 — for columns
    * both sides carry but whose drift should not count as a change). */
  def frameDiff(left: DataFrame, right: DataFrame, idCol: String = "id",
      excludeColumns: Seq[String] = Nil): DataFrame = {
    val c = core(left, right, idCol, excludeColumns, "full_outer")
    val changedCols: Column = array_compact(array(c.common.map { n =>
      when(!(col(s"`__l_$n`") <=> col(s"`__r_$n`")), lit(n))
    }: _*))
    c.joined.select(
      coalesce(col("__lid"), col("__rid")).as(idCol),
      c.status.as("status"),
      changedCols.as("changed_columns"))
  }

  /** Ids of the rows both frames hold that disagree on a shared column
    * (assert_frame_intersections_equal, testing.py:174-211): the status
    * core as an inner join, as one-sided rows are never `changed`. Lazy;
    * the caller fetches as many as it reports. */
  def intersectionMismatches(a: DataFrame, b: DataFrame, idCol: String = "id"): DataFrame = {
    val c = core(a, b, idCol, Nil, "inner")
    c.joined.filter(c.changed).select(col("__lid").as(idCol))
  }

  /** Three-way dataset diff (difftools.py:10-186): datasets of rows only in
    * `a`, only in `b`, and common-but-changed (images or their annotations
    * differ). Returned as (leftOnly, rightOnly, changed) image-id keyed
    * sub-datasets of `a`/`b`. */
  case class DatasetDiff(leftOnly: GraftDataset, rightOnly: GraftDataset,
      changed: GraftDataset)

  /** One read of each table: one `(id, status)` image frame, in which an
    * `equal` image turns `changed` when an annotation that is not `equal`
    * names it on either side (the annotation core carries each side's
    * `image_id`, compared or excluded). The three parts are filters of
    * that frame; an image with several such annotations repeats, which the
    * semi-join of [[Locators.filterImagesByIdDf]] absorbs. */
  def datasetDiff(a: GraftDataset, b: GraftDataset,
      excludeImageColumns: Seq[String] = Nil,
      excludeAnnotationsColumns: Seq[String] = Nil): DatasetDiff = {
    val img = core(a.images, b.images, "id", excludeImageColumns, "full_outer")
    val ann = core(a.annotations, b.annotations, "id", excludeAnnotationsColumns,
      "full_outer", carry = Some("image_id"))
    val annImages = ann.joined.filter(ann.status =!= "equal")
      .select(explode(array(col("__l_carry"), col("__r_carry"))).as("__ann_image"))
    val status = img.joined
      .select(coalesce(col("__lid"), col("__rid")).as("id"), img.status.as("status"))
      .join(annImages, col("id") === col("__ann_image"), "left")
      .select(col("id"), when(col("status") === "equal" && col("__ann_image").isNotNull,
        "changed").otherwise(col("status")).as("status"))

    def ids(s: String): DataFrame = status.filter(col("status") === s).select("id")

    DatasetDiff(
      leftOnly = Locators.filterImagesByIdDf(a, ids("left_only")),
      rightOnly = Locators.filterImagesByIdDf(b, ids("right_only")),
      changed = Locators.filterImagesByIdDf(a, ids("changed")))
  }

  /** Order-insensitive dataset equality (assert_dataset_equal,
    * utils/testing.py:91-171): same label map and column sets, then one
    * action finds no row of either table that is not `equal`. */
  def datasetsEqual(a: GraftDataset, b: GraftDataset): Boolean = {
    if (a.labelMap != b.labelMap) return false
    if (a.images.columns.sorted.toSeq != b.images.columns.sorted.toSeq) return false
    if (a.annotations.columns.sorted.toSeq != b.annotations.columns.sorted.toSeq) return false
    def unequal(l: DataFrame, r: DataFrame): DataFrame =
      frameDiff(l, r).filter(col("status") =!= "equal").select(lit(1).as("__unequal"))
    unequal(a.images, b.images).unionByName(unequal(a.annotations, b.annotations)).isEmpty
  }
}
