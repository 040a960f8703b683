package graft.io

import graft.model.GraftDataset
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** cAIpy per-image JSON source/sink — reference from_caipy / to_caipy
  * (lours/dataset/io/caipy.py:30-695).
  *
  * Layout: `{root}/Annotations/{split}/<stem>.json`, one JSON document per
  * image: `{"image": {...}, "annotations": [{..., "attributes": {...}}]}`.
  * Nested keys flatten to dotted column names (`attributes.tags`), the
  * json-normalize convention all downstream code keys on.
  *
  * Read: `spark.read.json` over the per-split glob (distributed; one task
  * per file group), split from `input_file_name()`. Write: per-image JSON
  * from `foreachPartition` after a `collect_list(struct(...))` group — one
  * shuffle, then embarrassingly parallel file IO.
  */
object Caipy {

  /** Flatten struct columns to dotted names, recursively (the
    * json-normalize convention, io/caipy.py:78-86). */
  private def flatten(df: DataFrame): DataFrame = {
    def paths(schema: StructType, prefix: String): Seq[(String, String)] =
      schema.fields.flatMap { f =>
        val path = if (prefix.isEmpty) s"`${f.name}`" else s"$prefix.`${f.name}`"
        val name = if (prefix.isEmpty) f.name else
          s"${prefix.replace("`", "")}.${f.name}".replace("`", "")
        f.dataType match {
          case s: StructType => paths(s, path)
          case _ => Seq(path -> name)
        }
      }.toSeq
    val sel = paths(df.schema, "").map { case (p, n) => expr(p).as(n) }
    df.select(sel: _*)
  }

  /** Load a caipy tree: `Annotations/{split}/&#42;.json`.
    *
    * `documentSchema` (the per-document struct: `image`, `annotations`)
    * skips multiLine schema inference — inference is a full extra parse of
    * every file, the dominant load cost on trees of many small JSONs.
    * Callers with a caipy JSON schema (the from_caipy_generic contract)
    * should pass one; omitted → inferred, lossless. */
  def fromCaipy(spark: SparkSession, root: String,
      splits: Seq[String] = Seq("train", "valid"),
      datasetName: Option[String] = None,
      documentSchema: Option[StructType] = None): GraftDataset =
    fromAnnotationsRoot(spark, s"$root/Annotations", root, splits,
      datasetName, documentSchema)

  /** Same loader over a direct annotations root (the split subdirs live
    * immediately under `annDir`) with an independent images root — the
    * from_caipy_generic folder contract (caipy.py:391-441) where the two
    * trees need not share a parent. [[fromCaipy]] delegates here with
    * `annDir = root/Annotations`. */
  def fromAnnotationsRoot(spark: SparkSession, annDir: String,
      imagesRoot: String,
      splits: Seq[String] = Seq("train", "valid"),
      datasetName: Option[String] = None,
      documentSchema: Option[StructType] = None): GraftDataset = {
    val perSplit = splits.filter { s =>
      // a split dir that exists but holds no JSON (all its images deleted —
      // the watcher CLI hits this live) must be skipped, not fed to the
      // reader: schema inference over zero files is an analysis error
      // Hadoop FileSystem, not java.nio: annDir may be hdfs://, s3a://…
      // (the same contract the annotation reader below honors); the
      // recursive listing short-circuits on the first JSON hit
      val p = new org.apache.hadoop.fs.Path(annDir, s)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p) && fs.getFileStatus(p).isDirectory && {
        val it = fs.listFiles(p, true)
        var found = false
        while (!found && it.hasNext)
          found = it.next().getPath.getName.endsWith(".json")
        found
      }
    }.map { s =>
      // recursive lookup: reference trees keep each image's subdirectory
      // structure under the split dir (caipy.py:464-492) — a flat glob
      // would silently skip nested JSONs
      val reader = spark.read.option("multiLine", true)
        .option("recursiveFileLookup", true)
        .option("pathGlobFilter", "*.json")
      documentSchema.fold(reader)(reader.schema)
        .json(s"$annDir/$s")
        .withColumn("split", lit(s))
    }
    require(perSplit.nonEmpty, s"no {${splits.mkString(",")}} split dirs under $annDir")
    // cache the parsed documents: the load itself needs two passes (label
    // map collect + whatever the caller computes) on top of schema
    // inference, and re-parsing thousands of small multiLine JSONs is the
    // dominant cost. Bounded: per-image JSON trees are small-per-file by
    // construction, and the cache is LRU-evictable under pressure.
    val raw = perSplit.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      .cache()
    buildFromRaw(spark, raw, imagesRoot, datasetName)
  }

  /** Build the two-table dataset from a raw per-image-document frame
    * carrying `image` struct, `annotations` array, and a `split` column —
    * shared by the split-tree and generic loaders. */
  private[io] def buildFromRaw(spark: SparkSession, raw: DataFrame,
      root: String, datasetName: Option[String] = None): GraftDataset = {
    import org.apache.spark.sql.types._
    val images = flatten(raw.select(col("image.*"), col("split")))
      .withColumnRenamed("file_name", "relative_path")
    // a tree whose documents carry no annotations at all (or no bboxes)
    // loads as an images-only dataset, like the Coco loader
    val annotations =
      if (!raw.columns.contains("annotations")) emptyAnnotations(spark)
      else {
        // image_id comes from the ENCLOSING document's image.id,
        // unconditionally — the reference overwrites any in-annotation
        // value (caipy.py:71-72), and dialects like the tagged 785.json
        // fixture omit the field entirely
        val ann0 = raw.select(col("image.id").as("__doc_image_id"),
          explode(col("annotations")).as("a"))
          .select(col("a.*"), col("__doc_image_id"))
        if (!ann0.columns.contains("bbox")) emptyAnnotations(spark)
        else flatten(ann0.drop("image_id"))
          .withColumn("image_id", col("__doc_image_id"))
          .drop("__doc_image_id")
          .withColumn("box_x_min", element_at(col("bbox"), 1).cast("double"))
          .withColumn("box_y_min", element_at(col("bbox"), 2).cast("double"))
          .withColumn("box_width", element_at(col("bbox"), 3).cast("double"))
          .withColumn("box_height", element_at(col("bbox"), 4).cast("double"))
          .drop("bbox")
      }
    // null-safe label-map build through the shared builder (io/common.py's
    // construct_label_map semantics: bijectivity asserted both directions);
    // an annotation with absent category fields must not NPE the loader
    val labelMap =
      if (!annotations.columns.contains("category_id") ||
          !annotations.columns.contains("category_str")) Map.empty[Int, String]
      else graft.validate.LabelMapBuilder.constructLabelMap(
        annotations.filter(col("category_id").isNotNull && col("category_str").isNotNull))
    GraftDataset.create(images, annotations, labelMap, root, datasetName)
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

  /** Re-nest dotted names into JSON objects: `{"a.b": 1}` → `{"a": {"b": 1}}`. */
  private def nest(pairs: Seq[(String, Any)]): String = {
    val (leaves, nested) = pairs.partition(!_._1.contains('.'))
    val groups = nested.groupBy(_._1.takeWhile(_ != '.'))
      .map { case (head, kids) =>
        head -> nest(kids.map { case (k, v) => k.drop(head.length + 1) -> v })
      }
    (leaves.map { case (k, v) => s"${Json.str(k)}: ${Json.value(v)}" } ++
      groups.toSeq.sortBy(_._1).map { case (k, obj) => s"${Json.str(k)}: $obj" })
      .mkString("{", ", ", "}")
  }

  /** Write one JSON per image under `Annotations/{split}/<stem>.json`
    * (to_caipy, io/caipy.py:352-695). */
  def toCaipy(ds: GraftDataset, root: String): Unit = {
    val annCols = ds.annotations.columns.filterNot(
      Seq("box_x_min", "box_y_min", "box_width", "box_height", "split").contains)
    val grouped = ds.annotations
      .withColumn("bbox", array(col("box_x_min"), col("box_y_min"),
        col("box_width"), col("box_height")))
      .groupBy(col("image_id"))
      .agg(sort_array(collect_list(struct((annCols.map(c => col(s"`$c`")) :+
        col("bbox")): _*))).as("anns"))
    val imgCols = ds.images.columns
    val joined = ds.images.join(grouped, ds.images("id") === col("image_id"), "left")
    val annColsB = annCols
    joined.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      it.foreach { r =>
        val split = Option(r.getAs[String]("split")).getOrElse("train")
        val rel = r.getAs[String]("relative_path")
        // preserve the image's subdirectory structure under the split dir
        // (caipy.py:464-492): 'a/img.jpg' and 'b/img.jpg' must not collide
        // on one Annotations/{split}/img.json
        val stem = rel.substring(0,
          if (rel.lastIndexOf('.') > rel.lastIndexOf('/')) rel.lastIndexOf('.') else rel.length)
        val imgJson = nest(imgCols.filterNot(_ == "split").map { c =>
          val v = r.getAs[Any](c)
          (if (c == "relative_path") "file_name" else c) -> v
        }.toSeq)
        val annsRaw = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("anns")
        val annJson =
          if (annsRaw == null) "[]"
          else annsRaw.map { a =>
            nest(annColsB.map(c => c -> a.getAs[Any](c)).toSeq :+
              ("bbox" -> a.getAs[Any]("bbox")))
          }.mkString("[", ", ", "]")
        val doc = s"""{"image": $imgJson, "annotations": $annJson}"""
        val out = java.nio.file.Paths.get(root, "Annotations", split)
          .resolve(stem + ".json")
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.writeString(out, doc)
      }
    }
  }
}

/** Generic (flat-layout) caipy loading + JSON-schema-driven enforcement —
  * reference from_caipy_generic (io/caipy.py:153-349): annotation JSONs in
  * one directory (no per-split subdirs), optional schema supplying dtypes,
  * defaults, and enum-array booleanization. */
object CaipyGeneric {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._
  import graft.model.GraftDataset

  def fromCaipyGeneric(spark: SparkSession, annotationsDir: String,
      split: Option[String] = None,
      schemaJson: Option[String] = None): GraftDataset = {
    val raw0 = spark.read.option("multiLine", true).json(s"$annotationsDir/*.json")
    val raw = split match {
      case Some(s) => raw0.withColumn("split", lit(s))
      case None => raw0.withColumn("split", lit(null).cast("string"))
    }
    val base = Caipy.buildFromRaw(spark, raw, annotationsDir, None)
    schemaJson match {
      case None => base
      case Some(js) =>
        // enforce annotation-level dtypes/defaults + booleanize enum arrays
        val annSchema = CaipySchema.annotationSubschema(js)
        val withEnforced = annSchema.map(s =>
          SchemaUtil.enforce(base.annotations, s)).getOrElse(base.annotations)
        val (boolAnn, fams) = annSchema.map(s =>
          SchemaUtil.booleanizeBySchema(withEnforced, s))
          .getOrElse((withEnforced, Set.empty[String]))
        base.copy(annotations = boolAnn,
          booleanized = base.booleanized.updated("annotations",
            base.booleanized("annotations") ++ fams))
    }
  }
}
