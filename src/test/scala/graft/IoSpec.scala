package graft

import graft.io._
import graft.operators.Diff
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class CocoSpec extends SparkFunSuite {

  private def writeFixture(dir: String): String = {
    val doc =
      """{"info": {"description": "fixture"},
        |  "images": [
        |    {"id": 9, "file_name": "000000000009.jpg", "width": 640, "height": 480},
        |    {"id": 12, "file_name": "000000000012.jpg", "width": 800, "height": 600}],
        |  "annotations": [
        |    {"id": 100, "image_id": 9, "category_id": 51, "bbox": [1.5, 187.0, 611.0, 285.0], "area": 1.0, "iscrowd": 0},
        |    {"id": 101, "image_id": 9, "category_id": 56, "bbox": [10.0, 20.0, 30.0, 40.0], "area": 1.0, "iscrowd": 1},
        |    {"id": 102, "image_id": 12, "category_id": 51, "bbox": [0.0, 0.0, 100.0, 100.0], "area": 1.0, "iscrowd": 0}],
        |  "categories": [
        |    {"id": 51, "name": "bowl", "supercategory": ""},
        |    {"id": 56, "name": "chair", "supercategory": ""}]}""".stripMargin
    val p = Paths.get(dir, "fixture_train.json")
    Files.writeString(p, doc)
    p.toString
  }

  test("fromCoco parses tables, drops iscrowd, infers split, builds label map") {
    val dir = Files.createTempDirectory("coco").toString
    val ds = Coco.fromCoco(spark, writeFixture(dir))
    assert(ds.numImages == 2)
    assert(ds.numAnnotations == 2) // iscrowd row dropped
    assert(ds.labelMap == Map(51 -> "bowl", 56 -> "chair"))
    val img = ds.images.filter(col("id") === 9).collect()(0)
    assert(img.getAs[String]("split") == "train")
    assert(img.getAs[String]("type") == ".jpg") // Path.suffix keeps the dot
    val ann = ds.annotations.filter(col("id") === 100).collect()(0)
    assert(ann.getAs[Double]("box_x_min") == 1.5)
    assert(ann.getAs[String]("category_str") == "bowl")
  }

  test("coco roundtrip preserves the dataset") {
    val dir = Files.createTempDirectory("coco_rt").toString
    val ds = Coco.fromCoco(spark, writeFixture(dir))
    val outDir = Files.createTempDirectory("coco_out").toString
    val written = Coco.toCoco(ds.copy(datasetName = Some("fixture")), outDir, overwrite = true)
    assert(written.length == 1 && written.head.endsWith("fixture_train.json"))
    val back = Coco.fromCoco(spark, written.head)
    assert(back.labelMap == ds.labelMap)
    assert(Diff.datasetsEqual(
      ds.copy(datasetName = None), back.copy(datasetName = None)))
  }

  test("predictions with scores become confidence") {
    val dir = Files.createTempDirectory("coco_pred").toString
    val doc =
      """{"images": [{"id": 1, "file_name": "a.jpg", "width": 10, "height": 10}],
        |  "annotations": [{"id": 1, "image_id": 1, "category_id": 0, "bbox": [1, 1, 2, 2], "score": 0.87}],
        |  "categories": [{"id": 0, "name": "x", "supercategory": ""}]}""".stripMargin
    Files.writeString(Paths.get(dir, "preds.json"), doc)
    val ds = Coco.fromCoco(spark, s"$dir/preds.json")
    assert(ds.annotations.select("confidence").collect()(0).getDouble(0) == 0.87)
  }
}

class DarknetSpec extends SparkFunSuite {
  import spark.implicits._

  test("fromDarknet parses relative boxes against image dims; roundtrip") {
    val dir = Files.createTempDirectory("darknet").toString
    Files.createDirectories(Paths.get(dir, "labels"))
    // image 100x200; box center (0.5, 0.5), size (0.2, 0.1) → x=40 y=90 w=20 h=20
    Files.writeString(Paths.get(dir, "labels", "img1.txt"),
      "0 0.5 0.5 0.2 0.1\n1 0.25 0.25 0.5 0.5\n")
    Files.writeString(Paths.get(dir, "labels", "img2.txt"), "")
    val images = Seq(
      (0L, 100, 200, "img1.jpg"), (1L, 100, 100, "img2.jpg")
    ).toDF("id", "width", "height", "relative_path")
    val ds = Darknet.fromDarknet(spark, dir + "/labels", images,
      Seq("cat", "dog"), split = Some("train"))
    assert(ds.numAnnotations == 2)
    assert(ds.labelMap == Map(0 -> "cat", 1 -> "dog"))
    val a = ds.annotations.filter(col("category_id") === 0).collect()(0)
    assert(a.getAs[Double]("box_x_min") == 40.0)
    assert(a.getAs[Double]("box_y_min") == 90.0)
    assert(a.getAs[Double]("box_width") == 20.0)
    assert(a.getAs[Double]("box_height") == 20.0)

    val outDir = Files.createTempDirectory("darknet_out").toString
    Darknet.toDarknet(ds, outDir)
    assert(Files.readString(Paths.get(outDir, "classes.names")) == "cat\ndog\n")
    val lines = Files.readString(Paths.get(outDir, "labels", "img1.txt")).trim.split("\n")
    assert(lines.length == 2)
    assert(lines.exists(_.startsWith("0 0.5 0.5 0.2 0.1")))
    assert(Files.exists(Paths.get(outDir, "labels", "img2.txt"))) // empty image
    val back = Darknet.fromDarknet(spark, outDir + "/labels", images,
      Seq("cat", "dog"), split = Some("train"))
    assert(Diff.datasetsEqual(
      dsEq1(ds), dsEq2(back)))
  }

  test("toDarknet: ids_map.json escapes class names and round-trips them") {
    val images = Seq((0L, 100, 100, "img1.jpg")).toDF("id", "width", "height", "relative_path")
    val anns = Seq((0L, 0L, 3, 10.0, 10.0, 20.0, 20.0)).toDF("id", "image_id",
      "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val names = Map(3 -> "say \"hi\"", 5 -> "back\\slash")
    val outDir = Files.createTempDirectory("darknet_ids").toString
    Darknet.toDarknet(graft.model.GraftDataset.create(images, anns, names), outDir)
    val txt = Files.readString(Paths.get(outDir, "ids_map.json"))
    val parsed = spark.range(1).select(from_json(lit(txt),
        org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StructType.fromDDL("id INT, name STRING")))
      .as("m")).head().getMap[String, org.apache.spark.sql.Row](0)
    assert(parsed != null, s"ids_map.json is not JSON: $txt")
    assert(parsed.map { case (i, r) => i -> (r.getInt(0), r.getString(1)) }.toMap ==
      Map("0" -> (3, "say \"hi\""), "1" -> (5, "back\\slash")))
  }

  private def dsEq1(ds: graft.model.GraftDataset) =
    ds.copy(annotations = ds.annotations.drop("id")).reordered
      .copy(annotations = graft.model.GraftDataset.defaultAnnotColumns(
        ds.annotations.drop("id")))
  private def dsEq2(back: graft.model.GraftDataset) =
    back.copy(annotations = graft.model.GraftDataset.defaultAnnotColumns(
      back.annotations.drop("id")))

  test("fromDarknetJson loads detector predictions with ids_map reversal") {
    val dir = Files.createTempDirectory("dkjson").toString
    // image 100x200; relative cxcywh (0.5, 0.5, 0.2, 0.1) → x=40 y=90 w=20 h=20
    Files.writeString(Paths.get(dir, "preds.json"),
      s"""[{"frame_id": 1, "filename": "$dir/img1.jpg", "objects": [
         |   {"class_id": 0, "name": "cat", "confidence": 0.75,
         |    "relative_coordinates": {"center_x": 0.5, "center_y": 0.5,
         |                             "width": 0.2, "height": 0.1}}]},
         | {"frame_id": 2, "filename": "img2.jpg", "objects": []}]""".stripMargin)
    val images = Seq(
      (0L, 100, 200, "img1.jpg"), (1L, 100, 100, "img2.jpg")
    ).toDF("id", "width", "height", "relative_path")
    val ds = Darknet.fromDarknetJson(spark, s"$dir/preds.json", dir, images,
      idsMap = Map(0 -> (7, "cat")), splitName = "eval")
    assert(ds.numAnnotations == 1)
    assert(ds.labelMap == Map(7 -> "cat"))
    val a = ds.annotations.collect()(0)
    assert(a.getAs[Int]("category_id") == 7) // reversed via ids_map
    assert(a.getAs[Double]("confidence") == 0.75)
    assert(a.getAs[Double]("box_x_min") == 40.0)
    assert(a.getAs[Double]("box_y_min") == 90.0)
    assert(a.getAs[Double]("box_width") == 20.0)
    assert(a.getAs[Double]("box_height") == 20.0)
    // frames with no objects contribute no annotations but the image stays
    assert(ds.images.count() == 2)
    assert(ds.images.select("split").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("eval"))
  }

  test("toYolov7 writes absolute split lists; toYolov5 stays relative") {
    val images = Seq((0L, 100, 200, "img1.jpg")).toDF("id", "width", "height", "relative_path")
      .withColumn("split", lit("train"))
    val ann = Seq((0L, 0L, 0, 40.0, 90.0, 20.0, 20.0))
      .toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val ds = graft.model.GraftDataset.create(images, ann, Map(0 -> "cat"))
    val d5 = Files.createTempDirectory("y5").toString
    val d7 = Files.createTempDirectory("y7").toString
    Yolov5.toYolov5(ds, d5)
    Yolov5.toYolov7(ds, d7)
    val v5List = Files.readString(Paths.get(d5, "train.txt")).trim
    val v7List = Files.readString(Paths.get(d7, "train.txt")).trim
    assert(v5List == "images/img1.jpg")
    assert(v7List == Paths.get(d7).toAbsolutePath.toString + "/images/img1.jpg")
    val v5Yaml = Files.readString(Paths.get(d5, "data.yaml"))
    val v7Yaml = Files.readString(Paths.get(d7, "data.yaml"))
    assert(v5Yaml.contains("train: train.txt"))
    assert(v7Yaml.contains(
      s"train: ${Paths.get(d7).toAbsolutePath}/train.txt"))
    // label files are identical between the two layouts
    assert(Files.readString(Paths.get(d5, "labels", "img1.txt")) ==
      Files.readString(Paths.get(d7, "labels", "img1.txt")))
  }

  test("fromDarknet: nested label tree under a path with a space; basename collision") {
    // the stem join must survive (a) URI-encoded characters in the dir
    // path and (b) same-basename label files in different subdirectories
    val dir = Files.createTempDirectory("darknet sp").toString
    Files.createDirectories(Paths.get(dir, "labels", "sub a"))
    Files.writeString(Paths.get(dir, "labels", "sub a", "img1.txt"), "0 0.5 0.5 0.2 0.1\n")
    Files.writeString(Paths.get(dir, "labels", "img1.txt"), "1 0.5 0.5 0.2 0.1\n")
    val images = Seq(
      (0L, 100, 200, "sub a/img1.jpg"), (1L, 100, 100, "img1.jpg")
    ).toDF("id", "width", "height", "relative_path")
    val ds = Darknet.fromDarknet(spark, dir + "/labels", images,
      Seq("cat", "dog"), split = Some("train"))
    assert(ds.numAnnotations == 2)
    val m = ds.annotations.select("image_id", "category_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m == Map(0L -> 0, 1L -> 1))
  }

}

class ParquetIOSpec extends SparkFunSuite {
  import spark.implicits._

  test("metadata.json round-trips JSON metacharacters; the established layout still reads") {
    val images = Seq((0L, 10, 10, "a.jpg", Seq("x", "y")))
      .toDF("id", "width", "height", "relative_path", "tags]")
    val anns = Seq((0L, 0L, 0, 1.0, 1.0, 2.0, 2.0)).toDF("id", "image_id",
      "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val ds = graft.operators.Booleanize.booleanize(
      graft.model.GraftDataset.create(images, anns, Map(0 -> "a}b", 1 -> "car"),
        datasetName = Some("set {1}")),
      "images", "tags]")
    val dir = Files.createTempDirectory("pq_meta").toString
    ds.toParquet(s"$dir/out")
    val back = ParquetIO.read(spark, s"$dir/out")
    assert(back.labelMap == ds.labelMap)
    assert(back.booleanized == ds.booleanized)
    assert(back.datasetName == ds.datasetName)
    assert(back.imagesRoot == ds.imagesRoot)
    // a sidecar exactly as earlier releases wrote it still reads the same
    val old = s"$dir/old"
    images.write.parquet(s"$old/images")
    anns.write.parquet(s"$old/annotations")
    // (<ctl> is spliced in after: a raw literal would decode its \u escape)
    Files.writeString(Paths.get(old, "metadata.json"),
      """{
        |  "label_map": {"0": "tab\there", "1": "q\"uote<ctl>"},
        |  "images_root": "/data/im ages",
        |  "dataset_name": null,
        |  "booleanized_columns": {"annotations": [], "images": ["tags]"]}
        |}""".stripMargin.replace("<ctl>", "\\u001f"))
    val legacy = ParquetIO.read(spark, old)
    assert(legacy.labelMap == Map(0 -> "tab\there", 1 -> "q\"uote\u001f"))
    assert(legacy.imagesRoot == "/data/im ages")
    assert(legacy.datasetName.isEmpty)
    assert(legacy.booleanized == Map("annotations" -> Set.empty[String],
      "images" -> Set("tags]")))
  }
}

class CaipySpec extends SparkFunSuite {

  private def writeFixture(root: String): Unit = {
    Files.createDirectories(Paths.get(root, "Annotations", "train"))
    Files.createDirectories(Paths.get(root, "Annotations", "valid"))
    Files.writeString(Paths.get(root, "Annotations", "train", "img9.json"),
      """{"image": {"id": 9, "file_name": "img9.jpg", "width": 640, "height": 480},
        |  "annotations": [
        |    {"id": 1, "image_id": 9, "category_id": 51, "category_str": "bowl",
        |     "bbox": [1.0, 2.0, 30.0, 40.0], "attributes": {"occluded": true}}]}""".stripMargin)
    Files.writeString(Paths.get(root, "Annotations", "valid", "img12.json"),
      """{"image": {"id": 12, "file_name": "img12.jpg", "width": 800, "height": 600},
        |  "annotations": [
        |    {"id": 2, "image_id": 12, "category_id": 56, "category_str": "chair",
        |     "bbox": [5.0, 6.0, 70.0, 80.0], "attributes": {"occluded": false}}]}""".stripMargin)
  }

  test("fromCaipy loads per-split files and flattens nested attributes") {
    val root = Files.createTempDirectory("caipy").toString
    writeFixture(root)
    val ds = Caipy.fromCaipy(spark, root)
    assert(ds.numImages == 2 && ds.numAnnotations == 2)
    assert(ds.labelMap == Map(51 -> "bowl", 56 -> "chair"))
    assert(ds.annotations.columns.contains("attributes.occluded"))
    val bySplit = ds.images.select("split").collect().map(_.getString(0)).sorted
    assert(bySplit.toSeq == Seq("train", "valid"))
    // split propagated to annotations
    assert(ds.annotations.filter(col("image_id") === 12)
      .select("split").collect()(0).getString(0) == "valid")
  }

  test("caipy roundtrip preserves tables") {
    val root = Files.createTempDirectory("caipy_rt").toString
    writeFixture(root)
    val ds = Caipy.fromCaipy(spark, root)
    val out = Files.createTempDirectory("caipy_out").toString
    Caipy.toCaipy(ds, out)
    assert(Files.exists(Paths.get(out, "Annotations", "train", "img9.json")))
    val back = Caipy.fromCaipy(spark, out)
    assert(back.labelMap == ds.labelMap)
    assert(collectSorted(back.annotations.select("id", "image_id", "box_x_min", "box_width")) ==
      collectSorted(ds.annotations.select("id", "image_id", "box_x_min", "box_width")))
    assert(back.annotations.filter(col("`attributes.occluded`") === true).count() == 1)
  }

  test("fromCaipy with explicit documentSchema skips inference, loads equal") {
    val root = Files.createTempDirectory("caipy_sch").toString
    writeFixture(root)
    val inferred = Caipy.fromCaipy(spark, root)
    // reuse the inferred document schema as the explicit one: the two
    // paths must produce identical tables (minus the added split column)
    val docSchema = spark.read.option("multiLine", true)
      .option("recursiveFileLookup", true).option("pathGlobFilter", "*.json")
      .json(s"$root/Annotations/train").schema
    val explicit = Caipy.fromCaipy(spark, root,
      documentSchema = Some(docSchema))
    assert(collectSorted(explicit.annotations.select("id", "image_id", "box_x_min")) ==
      collectSorted(inferred.annotations.select("id", "image_id", "box_x_min")))
    assert(explicit.images.count() == inferred.images.count())
  }
}

class OtherFormatsSpec extends SparkFunSuite {

  test("fromMot drops conf==0 and builds image table from frames") {
    val dir = Files.createTempDirectory("mot").toString
    Files.writeString(Paths.get(dir, "gt.txt"),
      """1,1,10.0,20.0,30.0,40.0,1.0,0,0
        |1,2,50.0,60.0,70.0,80.0,0.0,0,0
        |2,1,15.0,25.0,35.0,45.0,0.9,0,0
        |""".stripMargin)
    val ds = Mot.fromMot(spark, s"$dir/gt.txt", split = Some("train"))
    assert(ds.numImages == 2)
    assert(ds.numAnnotations == 2) // conf==0 dropped
    assert(ds.annotations.columns.contains("obj_id"))
  }

  test("fromCrowdHuman explodes person+head rows with visible share") {
    val dir = Files.createTempDirectory("crowd").toString
    Files.writeString(Paths.get(dir, "ann.odgt"),
      """{"ID": "img_a", "gtboxes": [{"tag": "person", "fbox": [10, 20, 100, 200], "vbox": [10, 20, 50, 200], "hbox": [40, 20, 30, 30]}, {"tag": "mask", "fbox": [0, 0, 5, 5], "vbox": [0, 0, 5, 5], "hbox": [0, 0, 2, 2]}]}
        |{"ID": "img_b", "gtboxes": [{"tag": "person", "fbox": [1, 2, 10, 20], "vbox": [1, 2, 10, 20], "hbox": [3, 2, 4, 4]}]}
        |""".stripMargin)
    val ds = CrowdHuman.fromCrowdHuman(spark, s"$dir/ann.odgt")
    assert(ds.numImages == 2)
    assert(ds.numAnnotations == 4) // 2 persons + 2 heads, mask dropped
    // person rows carry the VISIBLE box by default (visible_box=True,
    // crowd_human.py:97-99): img_a's person is the 50-wide vbox, share 0.5
    val person = ds.annotations.filter(col("category_id") === 0 && col("box_width") === 50.0)
    assert(person.select("visible_share").collect()(0).getDouble(0) == 0.5)
    // the full (possibly occluded) box on request
    val full = CrowdHuman.fromCrowdHuman(spark, s"$dir/ann.odgt", visibleBox = false)
    assert(full.annotations
      .filter(col("category_id") === 0 && col("box_width") === 100.0).count() == 1)
    // head visible share is NaN by definition (crowd_human.py:104-106)
    assert(ds.annotations.filter(col("category_id") === 1)
      .filter(!isnan(col("visible_share"))).count() == 0)
  }

  test("fromCrowdHuman keeps records with a null tag (only tag=='mask' skips)") {
    // crowd_human.py:85 tests `annot["tag"] == "mask"` — False for None, so
    // a tag-less dialect record is KEPT; `=!=` alone evaluates null and
    // would silently drop it
    val dir = Files.createTempDirectory("crowdnull").toString
    Files.writeString(Paths.get(dir, "ann.odgt"),
      """{"ID": "img_a", "gtboxes": [{"tag": null, "fbox": [10, 20, 100, 200], "vbox": [10, 20, 50, 200], "hbox": [40, 20, 30, 30]}, {"tag": "mask", "fbox": [0, 0, 5, 5], "vbox": [0, 0, 5, 5], "hbox": [0, 0, 2, 2]}]}
        |""".stripMargin)
    val ds = CrowdHuman.fromCrowdHuman(spark, s"$dir/ann.odgt")
    assert(ds.numAnnotations == 2) // tag-less person + head kept, mask dropped
  }

  test("fromPascalVoc fails fast on a missing split folder") {
    // an explicitly requested split folder that java.nio couldn't see (e.g.
    // a non-local URI) used to silently produce all-null splits — and
    // fromPascalVocDetection then dropped every image with no error
    val dir = Files.createTempDirectory("vocsplit").toString
    Files.writeString(Paths.get(dir, "img1.xml"),
      """<annotation><filename>img1.jpg</filename>
        |<size><width>10</width><height>10</height><depth>3</depth></size>
        |<object><name>dog</name><difficult>0</difficult>
        |  <bndbox><xmin>1</xmin><ymin>2</ymin><xmax>3</xmax><ymax>4</ymax></bndbox></object>
        |</annotation>""".stripMargin)
    val err = intercept[IllegalArgumentException] {
      PascalVoc.fromPascalVoc(spark, dir,
        splitFolder = Some(s"$dir/no_such_folder"))
    }
    assert(err.getMessage.contains("no_such_folder"))
    // a PRESENT folder with a missing split file is still an empty split
    // (reference FileNotFoundError handler), and listed stems resolve
    val sf = Files.createDirectory(Paths.get(dir, "sets")).toString
    Files.writeString(Paths.get(sf, "train.txt"), "img1\n")
    val ds = PascalVoc.fromPascalVoc(spark, dir, splitFolder = Some(sf))
    assert(ds.images.select("split").collect()(0).getString(0) == "train")
  }

  test("fromPascalVoc parses XML objects and infers the label map") {
    val dir = Files.createTempDirectory("voc").toString
    Files.writeString(Paths.get(dir, "img1.xml"),
      """<annotation><filename>img1.jpg</filename>
        |<size><width>640</width><height>480</height><depth>3</depth></size>
        |<object><name>dog</name><difficult>0</difficult>
        |  <bndbox><xmin>10</xmin><ymin>20</ymin><xmax>110</xmax><ymax>220</ymax></bndbox></object>
        |<object><name>cat</name><difficult>1</difficult>
        |  <bndbox><xmin>5</xmin><ymin>6</ymin><xmax>55</xmax><ymax>66</ymax></bndbox></object>
        |</annotation>""".stripMargin)
    val ds = PascalVoc.fromPascalVoc(spark, dir, split = Some("train"))
    assert(ds.numImages == 1 && ds.numAnnotations == 2)
    assert(ds.labelMap == Map(0 -> "cat", 1 -> "dog"))
    val dog = ds.annotations.filter(col("category_str") === "dog").collect()(0)
    assert(dog.getAs[Double]("box_width") == 100.0)
    assert(dog.getAs[Double]("box_height") == 200.0)
    assert(!dog.getAs[Boolean]("difficult"))
  }

  test("fromFolder probes PNG dimensions from headers") {
    val dir = Files.createTempDirectory("folder").toString
    // minimal valid PNG header: signature + IHDR with width=3, height=2
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 3, 0, 0, 0, 2, 8, 6, 0, 0, 0).map(_.toByte)
    Files.write(Paths.get(dir, "tiny.png"), png)
    val ds = ImagesFolder.fromFolder(spark, dir, "*.png", split = Some("train"))
    assert(ds.numImages == 1)
    val img = ds.images.collect()(0)
    assert(img.getAs[Int]("width") == 3 && img.getAs[Int]("height") == 2)
    assert(ds.numAnnotations == 0)
  }
}

class DarknetConfigSpec extends SparkFunSuite {
  import spark.implicits._
  import java.nio.file.{Files, Paths}

  test("fromDarknetData resolves names file from .data config") {
    val dir = Files.createTempDirectory("dkcfg").toString
    Files.createDirectories(Paths.get(dir, "labels"))
    Files.writeString(Paths.get(dir, "labels", "img1.txt"), "0 0.5 0.5 0.2 0.2\n")
    Files.writeString(Paths.get(dir, "obj.names"), "cat\ndog\n")
    Files.writeString(Paths.get(dir, "train.data"),
      s"classes = 2\nnames = $dir/obj.names\n")
    val images = Seq((0L, 100, 100, "img1.jpg")).toDF("id", "width", "height", "relative_path")
    val ds = graft.io.DarknetConfig.fromDarknetData(spark,
      s"$dir/train.data", s"$dir/labels", images)
    assert(ds.labelMap == Map(0 -> "cat", 1 -> "dog"))
    assert(ds.numAnnotations == 1)
  }

  test("fromDataYaml parses both inline and indented names lists") {
    val dir = Files.createTempDirectory("dkyaml").toString
    Files.createDirectories(Paths.get(dir, "labels"))
    Files.writeString(Paths.get(dir, "labels", "img1.txt"), "1 0.5 0.5 0.2 0.2\n")
    Files.writeString(Paths.get(dir, "data.yaml"),
      "path: .\ntrain: train.txt\nnc: 2\nnames:\n  - cat\n  - dog\n")
    val images = Seq((0L, 100, 100, "img1.jpg")).toDF("id", "width", "height", "relative_path")
    val ds = graft.io.DarknetConfig.fromDataYaml(spark,
      s"$dir/data.yaml", s"$dir/labels", images)
    assert(ds.labelMap == Map(0 -> "cat", 1 -> "dog"))
    assert(ds.annotations.select("category_str").collect()(0).getString(0) == "dog")
    val (scalars, names) = graft.io.DarknetConfig.parseDataYaml(s"$dir/data.yaml")
    assert(scalars("nc") == "2" && names == Seq("cat", "dog"))
  }
}

class LocatorsExtraSpec extends SparkFunSuite {
  import graft.operators.LocatorsExtra

  test("ilocAnnotations slices positionally with emptied-image cascade") {
    val ds = tinyDataset()
    val out = LocatorsExtra.ilocAnnotations(ds, 0, 2, removeEmptiedImages = true)
    assert(out.numAnnotations == 2)
    // only image 0 has surviving annotations; image 3 was always empty
    assert(out.images.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 3L))
  }

  test("unionAll folds many datasets with id shifting") {
    val merged = LocatorsExtra.unionAll(Seq(tinyDataset(), tinyDataset(), tinyDataset()))
    assert(merged.numImages == 12)
    assert(merged.images.select("id").distinct().count() == 12)
    merged.validated()
  }

  test("toFiftyone builds the sample frame (no service required)") {
    val out = LocatorsExtra.toFiftyone(tinyDataset())
    assert(out.count() == tinyDataset().numImages)
    assert(out.columns.contains("groundtruth_detection"))
  }
}

class FiftyoneSpec extends SparkFunSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.io.Fiftyone

  // images with a dotted attribute column; annotations with an
  // 'attributes.occluded' attribute and one zero-size box (→ keypoint)
  private def ds() = {
    val images = Seq(
      (0L, 100, 200, "a/img1.jpg", "camA"), (1L, 50, 50, "img2.jpg", "camB")
    ).toDF("id", "width", "height", "relative_path", "meta.source")
    val ann = Seq(
      (10L, 0L, 0, 40.0, 90.0, 20.0, 20.0, true),
      (11L, 0L, 1, 5.0, 10.0, 0.0, 0.0, false), // zero-size → keypoint
      (12L, 1L, 0, 10.0, 20.0, 30.0, 5.0, false)
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min",
      "box_width", "box_height", "attributes.occluded")
    graft.model.GraftDataset.create(images, ann, Map(0 -> "cat", 1 -> "dog"),
      imagesRoot = "/data/root")
  }

  test("sample fields match the reference mapping; names fiftyone-sanitized") {
    val s = Fiftyone.sampleFrame(ds(), "gt", allowKeypoints = true)
      .orderBy("lours_id").collect()
    assert(s.length == 2)
    val r = s(0)
    assert(r.getAs[String]("filepath") == "/data/root/a/img1.jpg")
    assert(r.getAs[org.apache.spark.sql.Row]("metadata").getInt(0) == 100)
    // image attribute 'meta.source' exported as 'meta->source'
    assert(r.getAs[String]("meta->source") == "camA")
    val dets = r.getAs[org.apache.spark.sql.Row]("gt_detection")
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("detections")
    assert(dets.length == 1)
    val d = dets.head
    assert(d.getAs[String]("label") == "cat" && d.getAs[Int]("label_id") == 0)
    assert(d.getAs[Long]("lours_id") == 10L)
    // relative xywh against the 100x200 image
    assert(d.getAs[scala.collection.Seq[Double]]("bounding_box").toSeq == Seq(0.4, 0.45, 0.2, 0.1))
    // annotation attribute 'attributes.occluded' → 'attr->occluded'
    assert(d.getAs[Boolean]("attr->occluded"))
    val kps = r.getAs[org.apache.spark.sql.Row]("gt_keypoint")
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("keypoints")
    assert(kps.length == 1)
    assert(kps.head.getAs[Long]("lours_id") == 11L)
    assert(kps.head.getAs[scala.collection.Seq[scala.collection.Seq[Double]]]("points").map(_.toSeq).toSeq == Seq(Seq(0.05, 0.05)))
    // allowKeypoints=false: the zero-size box stays a Detection
    val noKp = Fiftyone.sampleFrame(ds(), "gt", allowKeypoints = false)
    assert(!noKp.columns.contains("gt_keypoint"))
    val dets0 = noKp.orderBy("lours_id").collect()(0)
      .getAs[org.apache.spark.sql.Row]("gt_detection")
      .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("detections")
    assert(dets0.length == 2)
  }

  test("JSONL round-trip preserves every sample and label") {
    val dir = java.nio.file.Files.createTempDirectory("fo_jsonl").toString
    Fiftyone.writeJsonl(ds(), dir, "gt", allowKeypoints = true)
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    val flat = back.select(col("lours_id"),
      size(coalesce(col("gt_detection.detections"), array())).as("nd"),
      size(coalesce(col("gt_keypoint.keypoints"), array())).as("nk"))
      .orderBy("lours_id").collect()
    assert(flat(0).getAs[Int]("nd") == 1 && flat(0).getAs[Int]("nk") == 1)
    assert(flat(1).getAs[Int]("nd") == 1 && flat(1).getAs[Int]("nk") == 0)
    IoUtil.rmTree(dir)
  }
}

class JsonlSpec extends SparkFunSuite {
  import spark.implicits._

  test("JSONL roundtrip preserves nasty strings, nulls, and types exactly") {
    val docs = Seq(
      (1L, "plain text", java.lang.Long.valueOf(10L)),
      (2L, "line\nbreak \"quotes\" and \\backslash\\ tab\there",
        java.lang.Long.valueOf(-3L)),
      (3L, "unicode: café 中文 😀", java.lang.Long.valueOf(0L)),
      (4L, null.asInstanceOf[String], null.asInstanceOf[java.lang.Long])
    ).toDF("id", "s", "v")
    val dir = java.nio.file.Files.createTempDirectory("jsonl_rt").toString
    Jsonl.toJsonl(docs, dir, compression = "gzip")
    val back = Jsonl.fromJsonl(spark, dir, docs.schema)
      .collect().map(r => (r.getLong(0), r.getAs[String]("s"),
        Option(r.getAs[java.lang.Long]("v")))).toSet
    val want = docs.collect().map(r => (r.getLong(0), r.getAs[String]("s"),
      Option(r.getAs[java.lang.Long]("v")))).toSet
    assert(back == want)
    // gzip codec actually used: shard files end in .json.gz
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".json.gz")))
    IoUtil.rmTree(dir)
  }

  test("fromJsonl fails closed on a corrupt line instead of nulling fields") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl_bad").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.json"),
      "{\"id\": 1, \"s\": \"ok\"}\n{TRUNCATED".getBytes("UTF-8"))
    val schema = Seq((1L, "x")).toDF("id", "s").schema
    val ex = intercept[Exception] {
      Jsonl.fromJsonl(spark, dir, schema).collect()
    }
    assert(ex.getMessage != null)
    IoUtil.rmTree(dir)
  }
}
