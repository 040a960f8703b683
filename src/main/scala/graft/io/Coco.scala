package graft.io

import graft.model.GraftDataset
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COCO JSON source/sink — reference from_coco / to_coco
  * (lours/dataset/io/coco.py:22-336).
  *
  * Read: `spark.read.json(multiLine)` → explode `images` / `annotations` /
  * `categories` — the parse itself is distributed (one task per file;
  * COCO files are single JSON documents so parallelism comes from reading
  * many files/splits at once). `iscrowd == 1` rows are dropped and `score`
  * becomes `confidence`, as in the reference.
  *
  * Write: one COCO JSON per split. Per-split documents are driver-sized by
  * the format's nature (a single JSON object), so the writer collects each
  * split's rows — same materialization point as the reference.
  */
object Coco {

  /** Load a COCO annotation file (or glob of them). `split` defaults from
    * the `<name>_<split>.json` convention when inferable
    * (io/common.py:230-280). */
  def fromCoco(spark: SparkSession, cocoJson: String, imagesRoot: String = ".",
      split: Option[String] = None, datasetName: Option[String] = None,
      labelMap: Map[Int, String] = Map.empty): GraftDataset = {
    val raw = spark.read.option("multiLine", true).json(cocoJson)
    val inferredSplit = split.orElse(inferSplit(cocoJson))

    val images0 = raw.select(explode(col("images")).as("im")).select(
      col("im.id").cast("long").as("id"),
      col("im.width").cast("int").as("width"),
      col("im.height").cast("int").as("height"),
      col("im.file_name").cast("string").as("relative_path"))
    val images = inferredSplit match {
      case Some(s) => images0.withColumn("split", lit(s))
      case None => images0
    }

    // an EMPTY annotations array infers as array<string>, not a struct —
    // such files (reference annotations_empty.json) must load with zero
    // annotations, not fail the struct cast
    val hasAnnotations = raw.schema.fieldNames.contains("annotations") &&
      (raw.schema("annotations").dataType match {
        case org.apache.spark.sql.types.ArrayType(
          _: org.apache.spark.sql.types.StructType, _) => true
        case _ => false
      })
    val annotations =
      if (!hasAnnotations) emptyAnnotations(spark)
      else {
        val annStruct = raw.schema("annotations").dataType
          .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        var exploded = raw.select(explode(col("annotations")).as("a"))
        // iscrowd==1 dropped (io/coco.py:94-108)
        if (annStruct.fieldNames.contains("iscrowd"))
          exploded = exploded.filter(coalesce(col("a.iscrowd"), lit(0)) === 0)
        // single-category files (e.g. keypoints, category-less prediction
        // dumps) may omit category_id → the single supplied label-map id
        // (dataset/io/coco.py:120-122), else 0
        val catCol =
          if (annStruct.fieldNames.contains("category_id"))
            col("a.category_id").cast("int")
          else lit(if (labelMap.size == 1) labelMap.keys.head else 0)
        val base = Seq(
          col("a.id").cast("long").as("id"),
          col("a.image_id").cast("long").as("image_id"),
          catCol.as("category_id"),
          element_at(col("a.bbox"), 1).cast("double").as("box_x_min"),
          element_at(col("a.bbox"), 2).cast("double").as("box_y_min"),
          element_at(col("a.bbox"), 3).cast("double").as("box_width"),
          element_at(col("a.bbox"), 4).cast("double").as("box_height"))
        // score → confidence (io/coco.py rename)
        val withConf =
          if (annStruct.fieldNames.contains("score"))
            base :+ col("a.score").cast("double").as("confidence")
          else base
        exploded.select(withConf: _*)
      }

    // explicit label_map parameter wins (the reference's escape hatch for
    // category-less prediction files, dataset/io/coco.py label_map arg);
    // otherwise the file's categories table
    val fileMap: Map[Int, String] =
      if (labelMap.nonEmpty) labelMap
      else if (raw.schema.fieldNames.contains("categories"))
        raw.select(explode(col("categories")).as("c"))
          .select(col("c.id").cast("int"), col("c.name").cast("string"))
          .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      else Map.empty

    GraftDataset.create(images, annotations, fileMap, imagesRoot,
      datasetName.orElse(inferName(cocoJson)))
  }

  private def emptyAnnotations(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", LongType), StructField("image_id", LongType),
        StructField("category_id", IntegerType),
        StructField("box_x_min", DoubleType), StructField("box_y_min", DoubleType),
        StructField("box_width", DoubleType), StructField("box_height", DoubleType))))
  }

  /** `<name>_<split>.json` → split (train/valid/val/test/eval). */
  private[io] def inferSplit(path: String): Option[String] = {
    val stem = new java.io.File(path).getName.stripSuffix(".json")
    val known = Set("train", "valid", "val", "test", "eval")
    stem.split('_').lastOption.filter(known.contains)
  }

  private[io] def inferName(path: String): Option[String] = {
    val stem = new java.io.File(path).getName.stripSuffix(".json")
    val parts = stem.split('_')
    if (parts.length > 1 && inferSplit(path).isDefined) Some(parts.dropRight(1).mkString("_"))
    else Some(stem)
  }

  /** Write one COCO JSON per split under `dir` as
    * `<name>_<split>.json` (to_coco, io/coco.py:177-336). `confidence`
    * exports as `score`.
    *
    * A COCO document is one JSON object per split, so a single writer
    * assembles each file — but rows STREAM through `toLocalIterator`
    * (sorted → range-partitioned → global order preserved), so the driver
    * holds one partition at a time, never the whole table. */
  def toCoco(ds: GraftDataset, dir: String, overwrite: Boolean = false): Seq[String] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val name = ds.datasetName.getOrElse("dataset")
    val splits = ds.images.select("split").distinct().collect()
      .map(r => Option(r.getString(0))).toSeq
    val hasConf = ds.annotations.columns.contains("confidence")
    splits.map { split =>
      val splitImages = ds.images
        .filter(col("split") <=> split.map(lit(_)).getOrElse(lit(null)))
      val imgs = splitImages
        .select("id", "width", "height", "relative_path").orderBy("id")
      // semi join, NOT isin: a literal id list would make the predicate
      // O(#images) per row and blow up at scale
      val anns = ds.annotations
        .join(splitImages.select(col("id").as("__sid")),
          col("image_id") === col("__sid"), "left_semi")
        .select((Seq("id", "image_id", "category_id", "box_x_min", "box_y_min",
          "box_width", "box_height") ++ (if (hasConf) Seq("confidence") else Nil))
          .map(col): _*)
        .orderBy("id")
      val catJson = ds.labelMap.toSeq.sortBy(_._1).map { case (id, n) =>
        s"""{"id": $id, "name": ${Json.str(n)}, "supercategory": ""}"""
      }.mkString("[", ", ", "]")
      val fileName = split match {
        case Some(s) => s"${name}_$s.json"
        case None => s"$name.json"
      }
      val path = java.nio.file.Paths.get(dir, fileName)
      if (!overwrite && java.nio.file.Files.exists(path))
        throw new IllegalStateException(s"$path exists (overwrite=false)")
      val w = java.nio.file.Files.newBufferedWriter(path)
      try {
        w.write("""{"images": [""")
        var first = true
        imgs.toLocalIterator().forEachRemaining { r =>
          if (!first) w.write(", ")
          first = false
          w.write(s"""{"id": ${r.getLong(0)}, "width": ${r.getInt(1)}, "height": ${r.getInt(2)}, "file_name": ${Json.str(r.getString(3))}}""")
        }
        w.write("""], "annotations": [""")
        first = true
        anns.toLocalIterator().forEachRemaining { r =>
          if (!first) w.write(", ")
          first = false
          val score = if (hasConf && !r.isNullAt(7)) s""", "score": ${r.getDouble(7)}""" else ""
          w.write(s"""{"id": ${r.getLong(0)}, "image_id": ${r.getLong(1)}, "category_id": ${r.getInt(2)}, """ +
            s""""bbox": ${Json.value(Seq(r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))}, "iscrowd": 0$score}""")
        }
        w.write(s"""], "categories": $catJson}""")
      } finally w.close()
      path.toString
    }
  }
}

/** COCO keypoints variant — reference from_coco_keypoints
  * (lours/dataset/io/coco.py:136-174): annotations are points (XY, zero
  * size), single category. */
object CocoKeypoints {
  def fromCocoKeypoints(spark: org.apache.spark.sql.SparkSession, cocoJson: String,
      imagesRoot: String = ".", categoryName: String = "keypoint")
      : graft.model.GraftDataset = {
    import org.apache.spark.sql.functions._
    val ds = Coco.fromCoco(spark, cocoJson, imagesRoot)
    // zero-size (point) boxes: keep x/y, force w = h = 0
    val ann = ds.annotations
      .withColumn("box_width", lit(0.0))
      .withColumn("box_height", lit(0.0))
    ds.copy(annotations = ann,
      labelMap = if (ds.labelMap.isEmpty) Map(0 -> categoryName) else ds.labelMap)
  }
}
