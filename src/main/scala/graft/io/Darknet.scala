package graft.io

import graft.model.GraftDataset
import graft.functions.Bbox
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** darknet / YOLOv5 label-file source/sink — reference from_darknet family
  * (lours/dataset/io/darknet.py:51-736).
  *
  * Layout: `labels/<stem>.txt` with one `class cx cy w h [conf]` line per
  * object in image-relative coordinates; `classes.names` (one class per
  * line, sequential ids); images listed by a split file or supplied as an
  * images table (the txt files carry no image dimensions).
  *
  * Read: `spark.read.text` with `input_file_name()` → split on whitespace —
  * fully distributed, one task per file group. Relative→pixel conversion is
  * the standard broadcast dims join (Bbox.toCanonical).
  */
object Darknet {

  /** relative_path minus its final extension, subdirectories preserved —
    * the label-file key. `[^./]` keeps a dot in a directory name (e.g.
    * `v1.2/img`) from being mistaken for an extension. */
  private def stemOf(path: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(path, "\\.[^./]+$", "")

  /** Parse all label txts under `labelsDir` (recursively — the darknet
    * label tree mirrors the image tree's subdirectories), joining image
    * dimensions on the labelsDir-relative file stem ↔ image relative_path
    * stem. Full-path stems, not basenames: images `a/img.jpg` and
    * `b/img.jpg` map to distinct `a/img.txt` / `b/img.txt` label files. */
  def fromDarknet(spark: SparkSession, labelsDir: String, images: DataFrame,
      classNames: Seq[String], split: Option[String] = None,
      datasetName: Option[String] = None): GraftDataset = {
    val labelMap = classNames.zipWithIndex.map(_.swap).toMap
    val raw = spark.read.option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.txt").textFile(labelsDir).toDF("line")
      .filter(length(trim(col("line"))) > 0)
      .withColumn("stem",
        Stems.relativeStem(spark, labelsDir, input_file_name(), ".txt"))
      .withColumn("parts",
        org.apache.spark.sql.functions.split(trim(col("line")), "\\s+"))
    val imgs = images.withColumn("stem", stemOf(col("relative_path")))
    val dims = GraftDataset.broadcastIfSmall(imgs.select(col("stem"), col("id").as("__img_id"),
      col("width").as("__w"), col("height").as("__h")))
    val joined = raw.join(dims, Seq("stem"))
    val rel = joined.select(
      col("__img_id").as("image_id"),
      element_at(col("parts"), 1).cast("int").as("category_id"),
      element_at(col("parts"), 2).cast("double").as("cx"),
      element_at(col("parts"), 3).cast("double").as("cy"),
      element_at(col("parts"), 4).cast("double").as("w"),
      element_at(col("parts"), 5).cast("double").as("h"),
      when(size(col("parts")) >= 6, element_at(col("parts"), 6).cast("double"))
        .as("confidence"),
      col("__w"), col("__h"))
    val boxes = Bbox.toCanonical(Bbox.BoxFormat(Bbox.CenterSize, relative = true),
      col("cx"), col("cy"), col("w"), col("h"), col("__w"), col("__h"))
    val hasConf = // keep the confidence column only if any line carries one
      rel.agg(count(col("confidence"))).collect()(0).getLong(0) > 0
    val annotations = rel.select(
      (Seq(col("image_id"), col("category_id")) ++ boxes ++
        (if (hasConf) Seq(col("confidence")) else Nil)): _*)
    val imagesWithSplit = split match {
      case Some(s) => images.withColumn("split", lit(s))
      case None => images
    }
    GraftDataset.create(imagesWithSplit, annotations, labelMap,
      datasetName = datasetName)
  }

  /** Darknet detector-output JSON loader — reference from_darknet_json
    * (lours/dataset/io/darknet.py:467-551): one JSON array of frames
    * `{"filename", "objects": [{"class_id", "name", "confidence",
    * "relative_coordinates": {"center_x","center_y","width","height"}}]}` —
    * the format darknet's detector emits for predictions.
    *
    * `idsMap` reverses the dense re-iding applied when the darknet dataset
    * was written (the ids_map.json contract): darknet class_id →
    * (original category_id, name). Empty → class ids pass through and the
    * label map collects from the (class_id, name) pairs.
    *
    * Spark shape: one multiLine JSON read → explode(objects) → broadcast
    * dims join on relative_path → relative→pixel conversion; the images
    * table (reference `image_info`) supplies ids and dimensions and becomes
    * the images side wholesale, split = `splitName` (darknet.py:546-551). */
  def fromDarknetJson(spark: SparkSession, jsonPath: String, datasetPath: String,
      images: DataFrame, idsMap: Map[Int, (Int, String)] = Map.empty,
      splitName: String = "eval", datasetName: Option[String] = None): GraftDataset = {
    val raw = spark.read.option("multiLine", true).json(jsonPath)
    // detector filenames may be absolute under the dataset root — strip it
    // to recover relative_path (get_relative_image_path, darknet.py:505-508)
    val prefix = if (datasetPath.endsWith("/")) datasetPath else datasetPath + "/"
    val relPath = when(col("filename").startsWith(prefix),
      col("filename").substr(lit(prefix.length + 1), length(col("filename"))))
      .otherwise(col("filename"))
    val frames = raw.select(relPath.as("relative_path"), explode(col("objects")).as("o"))
    val dims = GraftDataset.broadcastIfSmall(images.select(col("relative_path"),
      col("id").as("__img_id"), col("width").as("__w"), col("height").as("__h")))
    // a filename that resolves to no images row would silently vanish in
    // the inner join below (the reference's image_info merge surfaces the
    // gap) — fail loudly with examples instead
    val unmatched = raw.select(relPath.as("relative_path")).distinct()
      .join(dims.select(col("relative_path")), Seq("relative_path"), "left_anti")
      .limit(5).collect().map(_.getString(0))
    require(unmatched.isEmpty,
      "detector frames with no matching images row (datasetPath prefix " +
        s"mismatch?): ${unmatched.mkString(", ")}")
    val joined = frames.join(dims, Seq("relative_path"))
    val catId =
      if (idsMap.isEmpty) col("o.class_id").cast("int")
      else element_at(
        map(idsMap.toSeq.flatMap { case (k, (i, _)) => Seq(lit(k), lit(i)) }: _*),
        col("o.class_id").cast("int"))
    val rel = joined.select(
      col("__img_id").as("image_id"),
      catId.as("category_id"),
      col("o.name").as("category_str"),
      col("o.confidence").cast("double").as("confidence"),
      col("o.relative_coordinates.center_x").cast("double").as("cx"),
      col("o.relative_coordinates.center_y").cast("double").as("cy"),
      col("o.relative_coordinates.width").cast("double").as("w"),
      col("o.relative_coordinates.height").cast("double").as("h"),
      col("__w"), col("__h"))
    val boxes = Bbox.toCanonical(Bbox.BoxFormat(Bbox.CenterSize, relative = true),
      col("cx"), col("cy"), col("w"), col("h"), col("__w"), col("__h"))
    val annotations = rel.select(
      (Seq(col("image_id"), col("category_id"), col("category_str"),
        col("confidence")) ++ boxes): _*)
    // shared builder, not an inline distinct-collect: its bijectivity
    // asserts reject a detector emitting two names for one class id
    val labelMap: Map[Int, String] =
      if (idsMap.nonEmpty) idsMap.values.map { case (i, n) => i -> n }.toMap
      else graft.validate.LabelMapBuilder.constructLabelMap(
        annotations.filter(col("category_id").isNotNull && col("category_str").isNotNull))
    GraftDataset.create(images.withColumn("split", lit(splitName)),
      annotations, labelMap, datasetName = datasetName)
  }

  /** Write `classes.names` + one `labels/<stem>.txt` per image with
    * relative `cxcywh` lines (to_darknet / to_yolov5,
    * dataset.py:4708-4872). Class ids are re-densified 0..K-1 in label-map
    * order; the per-image files are written from the executors
    * (foreachPartition) so the writer scales with the image count. */
  def toDarknet(ds: GraftDataset, dir: String): Unit = {
    val base = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(base.resolve("labels"))
    val ordered = ds.labelMap.toSeq.sortBy(_._1)
    java.nio.file.Files.writeString(base.resolve("classes.names"),
      ordered.map(_._2).mkString("", "\n", "\n"))
    // dense re-id map 0..K-1 (ids_map.json analogue, io/darknet.py:554-736)
    val dense = ordered.map(_._1).zipWithIndex.toMap
    val idsJson = ordered.zipWithIndex.map { case ((id, n), i) =>
      s""""$i": {"id": $id, "name": ${Json.str(n)}}"""
    }.mkString("{", ", ", "}")
    java.nio.file.Files.writeString(base.resolve("ids_map.json"), idsJson)

    val denseExpr = element_at(
      map(dense.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
      col("category_id"))
    val rel = Bbox.exportBoxes(ds, Bbox.BoxFormat(Bbox.CenterSize, relative = true))
      .withColumn("__cls", denseExpr)
    // full-path stems: subdirectory structure is preserved under labels/
    // so basename collisions across image subdirectories can't overwrite
    // each other's label files (mirrors the caipy writer)
    val lines = rel
      .join(ds.images.select(col("id").as("image_id"),
        stemOf(col("relative_path")).as("stem")), Seq("image_id"))
      .select(col("stem"),
        concat_ws(" ", col("__cls"), col("cx"), col("cy"), col("width"), col("height"))
          .as("line"))
      .groupBy("stem").agg(sort_array(collect_list(col("line"))).as("lines"))
    val labelsDir = base.resolve("labels").toString
    lines.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      it.foreach { r =>
        val p = java.nio.file.Paths.get(labelsDir, r.getString(0) + ".txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p,
          r.getSeq[String](1).mkString("", "\n", "\n"))
      }
    }
    // images with no annotations still get an (empty) label file
    val empty = ds.images.join(ds.annotations.select("image_id"),
      ds.images("id") === col("image_id"), "left_anti")
      .select(stemOf(col("relative_path")).as("stem"))
    empty.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      it.foreach { r =>
        val p = java.nio.file.Paths.get(labelsDir, r.getString(0) + ".txt")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, "")
      }
    }
  }
}

/** YOLOv5/v7 layout variants — reference to_darknet with yolo_version 5/7
  * (lours/dataset/io/darknet.py:554-736): same label files plus a
  * `data.yaml` (paths + names) and per-split image list files. The ONLY
  * v5↔v7 difference (darknet.py:654-676, dataset.py:4833-4837): v7 writes
  * ABSOLUTE paths, both for the split-list references inside data.yaml and
  * for the image paths inside each list file. */
object Yolov5 {
  def toYolov5(ds: graft.model.GraftDataset, dir: String): Unit =
    writeYolo(ds, dir, absolute = false)

  /** to_yolov7 (dataset.py:4811-4872). */
  def toYolov7(ds: graft.model.GraftDataset, dir: String): Unit =
    writeYolo(ds, dir, absolute = true)

  private def writeYolo(ds: graft.model.GraftDataset, dir: String,
      absolute: Boolean): Unit = {
    import org.apache.spark.sql.functions._
    Darknet.toDarknet(ds, dir)
    val base = java.nio.file.Paths.get(dir)
    val absBase = base.toAbsolutePath.toString
    val ordered = ds.labelMap.toSeq.sortBy(_._1)
    val names = ordered.map { case (_, n) => s"  - $n" }.mkString("\n")
    val splits = ds.images.select("split").distinct().collect()
      .flatMap(r => Option(r.getString(0))).sorted.toSeq
    val linePrefix = if (absolute) s"$absBase/images/" else "images/"
    splits.foreach { s =>
      // stream the per-split image list to the file handle instead of
      // collecting every path to driver memory (a split list is one line
      // per image — collect() here was the to_coco-style scale hazard);
      // toLocalIterator pulls one partition at a time, in sort order
      val it = ds.images.filter(col("split") === s)
        .select(concat(lit(linePrefix), col("relative_path")).as("p"))
        .orderBy("relative_path")
        .toLocalIterator()
      val w = java.nio.file.Files.newBufferedWriter(base.resolve(s"$s.txt"))
      try while (it.hasNext) { w.write(it.next().getString(0)); w.write("\n") }
      finally w.close()
    }
    val splitLines = splits.map(s =>
      if (absolute) s"$s: $absBase/$s.txt" else s"$s: $s.txt").mkString("\n")
    java.nio.file.Files.writeString(base.resolve("data.yaml"),
      s"""path: $dir
         |$splitLines
         |nc: ${ordered.length}
         |names:
         |$names
         |""".stripMargin)
  }
}

/** darknet `.data` / YOLOv5 `data.yaml` config loaders — the *_generic
  * entry points (io/darknet.py:171-553): resolve class names + label dirs
  * from the config file, then delegate to [[Darknet.fromDarknet]]. */
object DarknetConfig {

  /** Parse a `key = value` darknet .data file. */
  private[graft] def parseDataFile(path: String): Map[String, String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).toArray
      .map(_.toString.trim).filter(l => l.nonEmpty && l.contains("="))
      .map { l =>
        val Array(k, v) = l.split("=", 2)
        k.trim -> v.trim
      }.toMap

  /** Minimal YAML subset parser for data.yaml: `key: value` scalars and
    * `names:` either inline `[a, b]` or indented `- a` list items. */
  private[graft] def parseDataYaml(path: String): (Map[String, String], Seq[String]) = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
      .toArray.map(_.toString)
    val scalars = scala.collection.mutable.Map[String, String]()
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var inNames = false
    lines.foreach { raw =>
      val line = raw.replaceAll("#.*$", "")
      if (line.trim.startsWith("- ") && inNames) names += line.trim.drop(2).trim
      else if (line.contains(":")) {
        val Array(k, v) = line.split(":", 2)
        inNames = k.trim == "names"
        if (inNames && v.trim.startsWith("["))
          names ++= v.trim.stripPrefix("[").stripSuffix("]").split(",").map(_.trim)
        else if (!inNames && v.trim.nonEmpty) scalars(k.trim) = v.trim
      }
    }
    (scalars.toMap, names.toSeq)
  }

  /** from_darknet_generic: .data config → names file → fromDarknet. */
  def fromDarknetData(spark: SparkSession, dataFile: String, labelsDir: String,
      images: DataFrame, split: Option[String] = None): GraftDataset = {
    val cfg = parseDataFile(dataFile)
    val namesFile = cfg.getOrElse("names",
      throw new IllegalArgumentException(s"$dataFile lacks a 'names' entry"))
    val classNames = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(namesFile)).toArray
      .map(_.toString.trim).filter(_.nonEmpty).toSeq
    Darknet.fromDarknet(spark, labelsDir, images, classNames, split)
  }

  /** from_darknet_yolov5: data.yaml → names list → fromDarknet. */
  def fromDataYaml(spark: SparkSession, yamlFile: String, labelsDir: String,
      images: DataFrame, split: Option[String] = None): GraftDataset = {
    val (_, names) = parseDataYaml(yamlFile)
    require(names.nonEmpty, s"$yamlFile lacks a names list")
    Darknet.fromDarknet(spark, labelsDir, images, names, split)
  }
}
