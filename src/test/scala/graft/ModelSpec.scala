package graft

import graft.model.{GraftDataset, LabelMaps}
import graft.io.ParquetIO
import org.apache.spark.sql.functions._

class ModelSpec extends SparkFunSuite {
  import spark.implicits._

  test("create derives type, category_str and propagates split") {
    val ds = tinyDataset()
    val imgs = ds.images.orderBy("id").collect()
    // Path.suffix semantics: dot included (dataset.py:960-961)
    assert(imgs.map(_.getAs[String]("type")).toSeq == Seq(".jpg", ".jpg", ".png", ".jpg"))
    val anns = ds.annotations.orderBy("id").collect()
    assert(anns.map(_.getAs[String]("category_str")).toSeq ==
      Seq("person", "car", "person", "car", "person", "person"))
    assert(anns.map(_.getAs[String]("split")).toSeq ==
      Seq("train", "train", "train", "train", "valid", "valid"))
  }

  test("type column matches pathlib Path.suffix on dotted edge cases") {
    // goldens from CPython pathlib: PurePath(name).suffix
    val cases = Seq(
      "scan..jpg" -> ".jpg",   // suffix preceded by a dot
      "..jpg" -> ".jpg",       // name ".."+suffix still has one
      ".bashrc" -> "",         // leading-dot file: NO suffix
      "dir/.bashrc" -> "",
      ".hidden.txt" -> ".txt",
      "archive.tar.gz" -> ".gz",
      "a." -> "",              // trailing dot
      "..." -> "",
      "noext" -> "")
    val df = cases.zipWithIndex
      .map { case ((p, _), i) => (i.toLong, 10, 10, p) }
      .toDF("id", "width", "height", "relative_path")
    val got = graft.model.GraftDataset.defaultImageColumns(df)
      .orderBy("id").collect().map(_.getAs[String]("type")).toSeq
    assert(got == cases.map(_._2), s"suffix mismatch: ${cases.map(_._1).zip(got)}")
  }

  test("validated passes on well-formed data and rejects FK violations") {
    tinyDataset().validated() // should not throw
    val ds = tinyDataset()
    val broken = ds.copy(annotations =
      ds.annotations.withColumn("image_id", col("image_id") + 100))
    intercept[IllegalArgumentException](broken.validated())
  }

  test("validated rejects duplicate image ids") {
    val ds = tinyDataset()
    val dup = ds.copy(images = ds.images.unionAll(ds.images.limit(1)))
    intercept[IllegalArgumentException](dup.validated())
  }

  test("withCompletedLabelMap adds stringified ids for unknown categories") {
    val ds = tinyDataset()
    val extra = ds.copy(annotations = ds.annotations
      .withColumn("category_id", when(col("id") === 5, 9).otherwise(col("category_id"))))
    val completed = extra.withCompletedLabelMap()
    assert(completed.labelMap == Map(0 -> "person", 1 -> "car", 9 -> "9"))
  }

  test("attribute columns are everything beyond the core") {
    val ds = tinyDataset()
    val withAttr = ds.copy(images = ds.images.withColumn("camera", lit("cam0")))
    assert(withAttr.imageAttributes == Seq("camera"))
    assert(ds.annotationAttributes.isEmpty)
  }

  test("label map algebra: outer/inner merge + bijectivity") {
    assert(LabelMaps.mergeOuter(Map(0 -> "a"), Map(1 -> "b")) == Map(0 -> "a", 1 -> "b"))
    intercept[IllegalArgumentException](
      LabelMaps.mergeOuter(Map(0 -> "a"), Map(0 -> "b")))
    assert(LabelMaps.mergeInner(Map(0 -> "a"), Map(0 -> "a", 1 -> "b")) ==
      Map(0 -> "a", 1 -> "b"))
    intercept[IllegalArgumentException](
      LabelMaps.mergeInner(Map(0 -> "x"), Map(0 -> "a", 1 -> "b")))
    LabelMaps.assertBijective(Map(0 -> "a", 1 -> "b"))
    intercept[IllegalArgumentException](
      LabelMaps.assertBijective(Map(0 -> "a", 1 -> "a")))
  }

  test("label map merges reproduce the reference's test_label_map cases") {
    // test_utils/test_label_map.py::test_merge_label_maps verbatim
    val a = Map(0 -> "a", 1 -> "b")
    val b = Map(1 -> "b")
    val c = Map(1 -> "b", 2 -> "c")
    val d = Map(1 -> "c")
    assert(LabelMaps.mergeInner(a, b) == a)
    assert(LabelMaps.mergeOuter(a, c) == Map(0 -> "a", 1 -> "b", 2 -> "c"))
    intercept[IllegalArgumentException](LabelMaps.mergeInner(a, c))
    intercept[IllegalArgumentException](LabelMaps.mergeInner(a, d))
    intercept[IllegalArgumentException](LabelMaps.mergeOuter(a, d))
  }

  test("rename sets the dataset name (name-only copy)") {
    val ds = tinyDataset()
    val renamed = ds.rename("campaign-42")
    assert(renamed.datasetName.contains("campaign-42"))
    // name-only: tables, label map, root untouched
    assert(renamed.labelMap == ds.labelMap)
    assert(renamed.imagesRoot == ds.imagesRoot)
    assert(collectSorted(renamed.images) == collectSorted(ds.images))
  }

  test("parquet roundtrip preserves tables and metadata") {
    val ds = tinyDataset()
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    ParquetIO.write(ds, s"$dir/out", overwrite = true)
    val back = ParquetIO.read(spark, s"$dir/out")
    assert(back.labelMap == ds.labelMap)
    assert(back.datasetName == ds.datasetName)
    assert(collectSorted(back.images) == collectSorted(ds.images))
    assert(collectSorted(back.annotations) == collectSorted(ds.annotations))
  }

  test("broadcastIfSmall: a narrower estimator is refused; equal/wider shapes pass") {
    import spark.implicits._
    val wide = Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "s", "x")
    val narrow = wide.select("id")
    // the classic mistake: estimating a wide frame with its key projection
    // under-counts bytes and silently keeps a throwable hint
    val e = intercept[IllegalArgumentException] {
      graft.model.GraftDataset.broadcastIfSmall(wide, estimator = narrow)
    }
    assert(e.getMessage.contains("narrower"))
    // equal-width and wider estimators are valid upper bounds
    assert(graft.model.GraftDataset
      .broadcastIfSmall(wide, estimator = wide).count() == 2)
    assert(graft.model.GraftDataset
      .broadcastIfSmall(narrow, estimator = wide).count() == 2)
  }
}
