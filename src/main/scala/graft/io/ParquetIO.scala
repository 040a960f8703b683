package graft.io

import graft.model.GraftDataset
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Native persistence: a directory of parquet datasets + a JSON sidecar with
  * the driver-side metadata. Same logical layout as the reference's
  * parquet format (lours/utils/parquet_saver.py:11-75: one file per table +
  * metadata sidecar), but each table is a *partitioned parquet dataset* so a
  * 100 TB annotations table writes/reads in parallel.
  */
object ParquetIO {

  def write(ds: GraftDataset, dir: String, overwrite: Boolean = false): Unit = {
    val mode = if (overwrite) "overwrite" else "errorifexists"
    ds.images.write.mode(mode).parquet(s"$dir/images")
    ds.annotations.write.mode(mode).parquet(s"$dir/annotations")
    Json.write(ds.images.sparkSession, s"$dir/metadata.json", metadataJson(ds),
      overwrite = true)
  }

  def read(spark: SparkSession, dir: String): GraftDataset = {
    val images = spark.read.parquet(s"$dir/images")
    val annotations = spark.read.parquet(s"$dir/annotations")
    // an absent sidecar (or field) reads as the defaults
    val meta = Json.read(spark, s"$dir/metadata.json")
    def field(name: String) = meta.flatMap(j => Option(j.get(name)))
    def entries(name: String) =
      field(name).filter(_.isObject).map(_.properties.asScala.toSeq)
    val lm = entries("label_map").map(_.map(e =>
      e.getKey.toInt -> e.getValue.asText).toMap).getOrElse(Map.empty[Int, String])
    val root = field("images_root").filter(_.isTextual).fold(".")(_.asText)
    val name = field("dataset_name").filter(_.isTextual).map(_.asText)
    val bool = entries("booleanized_columns").map(_.map(e =>
      e.getKey -> e.getValue.asScala.map(_.asText).toSet).toMap)
      .getOrElse(Map("images" -> Set.empty[String], "annotations" -> Set.empty[String]))
    GraftDataset(images, annotations, lm, root, name, bool)
  }

  private[graft] def metadataJson(ds: GraftDataset): String = {
    val lm = ds.labelMap.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${Json.str(v)}""" }.mkString("{", ", ", "}")
    val bool = ds.booleanized.toSeq.sortBy(_._1).map { case (t, cols) =>
      s"""${Json.str(t)}: ${Json.value(cols.toSeq.sorted)}"""
    }.mkString("{", ", ", "}")
    s"""{
       |  "label_map": $lm,
       |  "images_root": ${Json.str(ds.imagesRoot)},
       |  "dataset_name": ${Json.value(ds.datasetName.orNull)},
       |  "booleanized_columns": $bool
       |}""".stripMargin
  }
}

/** Bucketed persistence — the co-located-join scale path: images bucketed
  * by `id` and annotations by `image_id` into the SAME bucket count land
  * FK-join-aligned on disk, so every images⋈annotations (and any
  * repeated per-image kernel) runs WITHOUT a shuffle exchange on the fact
  * table. This is the 100 TB answer to "the FK join side no longer fits
  * broadcast". Requires a table catalog (saveAsTable), which Spark's
  * default in-memory/derby catalog provides. */
object BucketedIO {
  import org.apache.spark.sql.SparkSession
  import graft.model.GraftDataset

  /** Persist as bucketed tables `<name>_images` / `<name>_annotations`.
    * Overwrites both the catalog entries AND any stale warehouse location
    * left by a previous session (an in-memory catalog forgets tables on
    * restart but their directories survive, which otherwise fails the
    * write with LOCATION_ALREADY_EXISTS). */
  def writeBucketed(ds: GraftDataset, name: String, buckets: Int = 32): Unit = {
    val spark = ds.spark
    Seq(s"${name}_images", s"${name}_annotations").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val leftover = java.nio.file.Paths.get(warehouse, t)
      if (java.nio.file.Files.isDirectory(leftover)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(leftover).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    // co-locate each bucket into ONE write task before the bucketed write
    // (the writeMinHashStore discipline): without it every input task
    // writes a sliver into every bucket — tasks × buckets tiny files per
    // table — and the join-side reads pay the small-file tax forever.
    // repartition's hash partitioning and Spark's bucket-id hash are the
    // same Murmur3 function, so the exchange lands each bucket whole in
    // one task → one well-sized file per bucket.
    ds.images.repartition(buckets, ds.images("id"))
      .write.format("parquet")
      .bucketBy(buckets, "id").sortBy("id")
      .mode("overwrite").saveAsTable(s"${name}_images")
    ds.annotations.repartition(buckets, ds.annotations("image_id"))
      .write.format("parquet")
      .bucketBy(buckets, "image_id").sortBy("image_id")
      .mode("overwrite").saveAsTable(s"${name}_annotations")
  }

  /** Reload; joins on images.id = annotations.image_id use the bucket
    * layout (no Exchange on either side when bucket counts match). */
  def readBucketed(spark: SparkSession, name: String,
      labelMap: Map[Int, String] = Map.empty): GraftDataset =
    GraftDataset(
      spark.table(s"${name}_images"),
      spark.table(s"${name}_annotations"),
      labelMap)
}
