package graft.operators

import graft.model.{GraftDataset, LabelMaps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dataset union / merge — reference `merge` / `+` (lours/dataset/
  * dataset.py:2336-2861, merge.py:12-222).
  *
  * Semantics: images with ids present in both datasets are merged
  * *horizontally* (right side may only contribute new columns — intersecting
  * cells must agree); images with new ids are appended vertically. Annotation
  * tables are concatenated, with the right side's annotation ids shifted out
  * of the way on collision. Label maps are outer-merged (conflict = error),
  * booleanized families aligned, dataset names concatenated `A+B`.
  *
  * All of it is joins + `unionByName` — no collects, distributes at any
  * scale. Each operator reads its id offsets (and, for [[merge]], the
  * overlap check) from one one-row probe with one action, and the probe
  * reads each side once: the offsets come from one id-only join per table
  * ([[shiftPast]]), the overlap check from the inner-join form of the diff
  * status core ([[Diff.intersectionMismatches]]).
  */
object Merge {

  /** Vertical union assuming (and enforcing by shift) disjoint image ids:
    * right ids are shifted past the left max on collision
    * (merge.py:199-203). */
  def union(a0: GraftDataset, b0: GraftDataset): GraftDataset = {
    val (a, b) = reconcileRoots(a0, b0)
    val mergedLabels = LabelMaps.mergeOuter(a.labelMap, b.labelMap)
    val offsets = shiftPast(a.images, b.images)
      .crossJoin(shiftPast(a.annotations, b.annotations)).head()
    val bShifted = Ids.shiftIds(b, offsets.getLong(0), offsets.getLong(1))
    val (ai, bi) = Booleanize.alignBoolFamilies(
      a.images, bShifted.images,
      a.booleanized("images"), bShifted.booleanized("images"))
    val (aa, ba) = Booleanize.alignBoolFamilies(
      a.annotations, bShifted.annotations,
      a.booleanized("annotations"), bShifted.booleanized("annotations"))
    GraftDataset(
      images = ai.unionByName(bi, allowMissingColumns = true),
      annotations = aa.unionByName(ba, allowMissingColumns = true),
      labelMap = mergedLabels,
      imagesRoot = a.imagesRoot,
      datasetName = mergedName(a, b),
      booleanized = Map(
        "images" -> (a.booleanized("images") ++ b.booleanized("images")),
        "annotations" -> (a.booleanized("annotations") ++ b.booleanized("annotations")))
    ).reordered
  }

  /** Full merge: horizontal on overlapping image ids + vertical on the rest
    * (merge.py:12-222). The right side's annotations are always appended
    * (with id shift); overlapping images may only contribute new columns —
    * enforced by a null-safe equality check over the intersecting
    * (ids × shared columns), mirroring the reference precondition
    * (utils/testing.py:174-211). */
  def merge(a0: GraftDataset, b0: GraftDataset): GraftDataset = {
    val (a, b) = reconcileRoots(a0, b0)
    // label-map compatibility fails FIRST (reference order: the doctest's
    // plain merge raises IncompatibleLabelMapsError before any row check) —
    // also what [[plus]]'s realign-then-retry fallback dispatches on
    val mergedLabels = LabelMaps.mergeOuter(a.labelMap, b.labelMap)
    // one action: the annotation offset and up to 3 disagreeing overlap ids
    val probe = shiftPast(a.annotations, b.annotations)
      .crossJoin(Diff.intersectionMismatches(a.images, b.images).limit(3)
        .agg(collect_list(col("id"))))
      .head()
    val bad = probe.getSeq[Any](1)
    require(bad.isEmpty,
      "merge: overlapping images disagree on shared columns, ids: " + bad.mkString(", "))
    val commonIds = a.images.select("id").intersect(b.images.select("id"))
    val newCols = b.images.columns.filterNot(a.images.columns.contains).toSeq

    // overlapping ids: left rows + right's new columns
    val bCommon = b.images.join(commonIds, Seq("id"), "left_semi")
      .select((Seq(col("id")) ++ newCols.map(c => col(s"`$c`"))): _*)
    val aMerged = a.images.join(bCommon, Seq("id"), "left")

    // right-only ids appended vertically, boolean families aligned first
    // (same contract as union: a side's own families gain false flags,
    // foreign families null-fill through unionByName)
    val bOnly = b.images.join(commonIds, Seq("id"), "left_anti")
    val (aImgAligned, bImgAligned) = Booleanize.alignBoolFamilies(
      aMerged, bOnly, a.booleanized("images"), b.booleanized("images"))
    val images = aImgAligned.unionByName(bImgAligned, allowMissingColumns = true)

    // annotations: concat with right ids shifted past left max on collision
    val bAnnShifted = Ids.shiftIds(b, 0L, probe.getLong(0)).annotations
    val (aAnnAligned, bAnnAligned) = Booleanize.alignBoolFamilies(
      a.annotations, bAnnShifted,
      a.booleanized("annotations"), b.booleanized("annotations"))
    val annotations = aAnnAligned.unionByName(bAnnAligned, allowMissingColumns = true)

    GraftDataset(images, annotations,
      mergedLabels,
      a.imagesRoot, mergedName(a, b),
      Map(
        "images" -> (a.booleanized("images") ++ b.booleanized("images")),
        "annotations" -> (a.booleanized("annotations") ++ b.booleanized("annotations")))
    ).reordered
  }

  /** Reference `+` — the merge fallback chain (dataset.py:2821-2855):
    * try a plain merge; on a label-map conflict, realign the right side's
    * label map ([[Remap.remapFromOther]], the printed "class remapping
    * dictionary" of the reference doctest) and retry; on any other
    * incompatibility (overlapping ids with disagreeing rows), reset both
    * sides' indices — reference sort defaults: images by `relative_path`,
    * annotations by (image_id, category_id, bbox) — and merge the now
    * id-disjoint datasets (merge.py:106-112). */
  def plus(a: GraftDataset, b: GraftDataset): GraftDataset = {
    def ignoreIndex(): GraftDataset = {
      val annSort = Seq("image_id", "category_id",
        "box_x_min", "box_y_min", "box_width", "box_height")
      val nA = a.numImages
      merge(Ids.resetIndex(a, 0, 0, Seq("relative_path"), annSort),
        Ids.resetIndex(b, nA, 0, Seq("relative_path"), annSort))
    }
    try merge(a, b)
    catch {
      case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("label map") =>
        // recursive, as the reference's `self + other.remap_from_other(self)`:
        // the retry's own row-level failure falls through to ITS ignore-index
        // branch with the remapped right side
        plus(a, Remap.remapFromOther(b, a, removeNotMapped = false))
      case _: IllegalArgumentException => ignoreIndex()
    }
  }

  /** Result root = common path of both roots, both sides re-prefixed
    * (merge.py:114-131: either-absolute forces both absolute; commonpath
    * of relative paths with nothing shared is "" → "."). Driver-side
    * string work on two tiny paths; the path rewrite itself is a concat
    * column ([[graft.model.GraftDataset.resetImagesRoot]]). */
  private[operators] def reconcileRoots(a: GraftDataset, b: GraftDataset)
      : (GraftDataset, GraftDataset) =
    if (a.imagesRoot == b.imagesRoot) (a, b)
    else {
      val root = commonRoot(a.imagesRoot, b.imagesRoot)
      (a.resetImagesRoot(root), b.resetImagesRoot(root))
    }

  private[graft] def commonRoot(a: String, b: String): String = {
    import java.nio.file.Paths
    // URI roots: common-path the PATH parts under a matching
    // scheme://authority (java.nio mangles "hdfs://nn/x" into "hdfs:/nn/x"
    // and toAbsolutePath injects the driver CWD). Different filesystems
    // have no common root — fail fast instead of silently corrupting
    // every filepath downstream.
    val (ua, aPath) = graft.model.GraftDataset.splitUriPrefix(a)
    val (ub, bPath) = graft.model.GraftDataset.splitUriPrefix(b)
    require(ua == ub, "cannot merge datasets whose images roots live on " +
      s"different filesystems: '$a' vs '$b' — reset_images_root one side first")
    val (pa, pb) =
      if (ua.nonEmpty) (Paths.get(aPath).normalize, Paths.get(bPath).normalize)
      else if (Paths.get(aPath).isAbsolute || Paths.get(bPath).isAbsolute)
        (Paths.get(aPath).toAbsolutePath.normalize, Paths.get(bPath).toAbsolutePath.normalize)
      else (Paths.get(aPath).normalize, Paths.get(bPath).normalize)
    def segs(p: java.nio.file.Path) =
      (0 until p.getNameCount).map(p.getName(_).toString).filter(_ != "")
    val shared = segs(pa).zip(segs(pb)).takeWhile { case (x, y) => x == y }
      .map(_._1)
    val prefix = if (pa.isAbsolute) "/" else ""
    val joined = ua + prefix + shared.mkString("/")
    if (joined.isEmpty) "." else joined
  }

  private def mergedName(a: GraftDataset, b: GraftDataset): Option[String] =
    (a.datasetName, b.datasetName) match {
      case (Some(x), Some(y)) if x == y => Some(x)
      case (Some(x), Some(y)) => Some(s"$x+$y")
      case (x, y) => x.orElse(y)
    }

  /** The offset that moves `right`'s ids past `left`'s (merge.py:199-203):
    * `max(left.id) - min(right.id) + 1` when the two share an id, else 0 —
    * so also 0 when either side is empty. One id-only full-outer join reads
    * each side once and aggregates to `(max_l, min_r, shared)`. A one-row
    * frame, so an operator reads all its probes with one action. */
  private def shiftPast(left: DataFrame, right: DataFrame): DataFrame =
    left.select(col("id").as("__l"))
      .join(right.select(col("id").as("__r")), col("__l") === col("__r"), "full_outer")
      .agg(max("__l").as("max_l"), min("__r").as("min_r"),
        count(when(col("__l").isNotNull && col("__r").isNotNull, 1)).as("shared"))
      .select(when(col("shared") > 0, col("max_l") - col("min_r") + 1)
        .otherwise(0L))
}
