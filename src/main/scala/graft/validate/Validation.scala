package graft.validate

import graft.model.{GraftDataset, LabelMaps}
import graft.operators.{Diff, Locators}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Validation surface — reference check / assert_* family
  * (lours/dataset/dataset.py:1125-1152; lours/utils/testing.py:64-643).
  * Everything is a distributed predicate + limited count; nothing collects
  * more than a handful of offending examples. */
object Validation {

  /** Full dataset check (full_check_dataset_detection, testing.py:616-643):
    * id well-formedness + FK + label map + bbox validity. Throws with a
    * summary of the first failures. */
  def check(ds: GraftDataset, checkBoxes: Boolean = true): Unit = {
    ds.validated()
    LabelMaps.assertBijective(ds.labelMap)
    // relative_path duplicates (assert_ids_well_formed, testing.py:407-456)
    val dupPaths = ds.images.groupBy("relative_path").count()
      .filter(col("count") > 1).limit(5).collect()
    require(dupPaths.isEmpty,
      s"duplicate relative_path values: ${dupPaths.map(_.getString(0)).mkString(", ")}")
    if (checkBoxes) {
      val bad = Locators.malformedBoxReport(ds).limit(5).collect()
      require(bad.isEmpty,
        s"malformed boxes on annotation ids: ${bad.map(_.getLong(0)).mkString(", ")}")
    }
  }

  /** No column may exist both as a scalar and as a dotted prefix
    * (assert_columns_properly_normalized, testing.py:64-88). Driver-side
    * schema check. */
  def assertColumnsProperlyNormalized(df: DataFrame): Unit = {
    val cols = df.columns.toSet
    val offenders = df.columns.filter(c => cols.exists(_.startsWith(c + ".")))
      .filter(cols.contains)
    require(offenders.isEmpty,
      s"columns both scalar and dotted-prefix: ${offenders.mkString(", ")}")
  }

  /** Cell-wise equality on the intersection of (ids × columns)
    * (assert_frame_intersections_equal, testing.py:174-211). */
  def assertFrameIntersectionsEqual(a: DataFrame, b: DataFrame,
      idCol: String = "id"): Unit = {
    val bad = Diff.intersectionMismatches(a, b, idCol).limit(5).collect()
    require(bad.isEmpty,
      s"intersecting rows differ on ids: ${bad.map(_.get(0)).mkString(", ")}")
  }

  /** Golden-parquet regression harness (dataset_regression,
    * utils/regression_testing.py:18-186): on first run, dump the dataset as
    * the golden copy; afterwards, compare against it order-insensitively
    * and fail on drift. */
  def datasetRegression(ds: GraftDataset, goldenDir: String): Unit = {
    val marker = java.nio.file.Paths.get(goldenDir, "metadata.json")
    if (!java.nio.file.Files.exists(marker)) {
      graft.io.ParquetIO.write(ds, goldenDir, overwrite = true)
    } else {
      val golden = graft.io.ParquetIO.read(ds.spark, goldenDir)
      require(Diff.datasetsEqual(ds, golden),
        s"dataset drifted from golden copy at $goldenDir")
    }
  }
}

/** Label-map construction from data — reference construct_label_map
  * (lours/dataset/io/common.py:15-48): distinct (category_id, category_str)
  * pairs with bijectivity asserts in both directions. */
object LabelMapBuilder {
  def constructLabelMap(annotations: DataFrame): Map[Int, String] = {
    val pairs = annotations
      .select(col("category_id").cast("int"), col("category_str"))
      .distinct().collect().map(r => r.getInt(0) -> r.getString(1))
    val byId = pairs.groupBy(_._1).filter(_._2.length > 1)
    require(byId.isEmpty,
      s"category ids with multiple names: ${byId.keys.mkString(", ")}")
    val byName = pairs.groupBy(_._2).filter(_._2.length > 1)
    require(byName.isEmpty,
      s"names with multiple category ids: ${byName.keys.mkString(", ")}")
    pairs.toMap
  }
}
