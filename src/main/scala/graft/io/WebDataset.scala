package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** WebDataset-style tar shards — the de-facto delivery format for
  * large-scale (multimodal) training data: each shard is a POSIX USTAR tar
  * whose members are grouped by sample key (`<key>.txt`, `<key>.json`,
  * `<key>.jpg`, …); loaders stream shards sequentially, so shard count =
  * read parallelism.
  *
  * Writer layout here: one `.txt` member (the text payload) and one
  * `.json` member (every other column as a flat JSON object) per sample,
  * keys zero-padded ids, samples sorted by id within a shard, shards
  * assigned by `xxhash64(id) mod numShards` (deterministic AND balanced
  * regardless of id gaps). Tar bytes are fully deterministic (mtime 0,
  * uid/gid 0, mode 0644), so a shard's md5 is reproducible — golden-file
  * tests can hash the tar itself.
  *
  * Scale: one task per shard writes its tar through the Hadoop FileSystem
  * API (hdfs/s3 URIs work); a shard's samples are materialized in that
  * task (the format is sequential-per-shard by design — size `numShards`
  * so a shard is ~0.1–1 GB, exactly like production WebDataset). The
  * reader is `binaryFile` scan + a per-file parse kernel — IO work no
  * expression can express; one task per shard again. */
object WebDataset {

  // ------------------------------------------------------------- tar bytes

  private def headerBlock(name: String, size: Long): Array[Byte] = {
    require(name.getBytes("UTF-8").length <= 100, s"tar name too long: $name")
    val b = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val bytes = s.getBytes("UTF-8")
      System.arraycopy(bytes, 0, b, off, bytes.length)
    }
    // octal fields are NUL-terminated in USTAR; the array is zero-filled,
    // so writing only the digits leaves the terminator byte in place —
    // byte-identical output without NUL characters in the source (which
    // would make git treat this file as binary)
    put(0, name)
    put(100, "0000644")                     // mode
    put(108, "0000000")                     // uid
    put(116, "0000000")                     // gid
    put(124, f"$size%011o")                 // size
    put(136, "00000000000")                 // mtime 0 → deterministic bytes
    put(148, "        ")                    // chksum: spaces while summing
    b(156) = '0'                            // typeflag: regular file
    put(257, "ustar")                       // magic
    put(263, "00")                          // version
    val chksum = b.map(_ & 0xff).sum
    put(148, f"$chksum%06o")                // then NUL + space (USTAR quirk)
    b(154) = 0
    b(155) = ' '
    b
  }

  private def writeEntry(out: java.io.OutputStream, name: String,
      data: Array[Byte]): Unit = {
    out.write(headerBlock(name, data.length.toLong))
    out.write(data)
    val pad = (512 - data.length % 512) % 512
    if (pad > 0) out.write(new Array[Byte](pad))
  }

  // -------------------------------------------------------------- writer

  /** Write `df` as `numShards` tar shards under `outDir`
    * (`shard-00000.tar`, …); every column except `idCol`/`textCol` lands
    * in the per-sample `.json`. Eager (the write happens now); returns the
    * shard manifest (shard id, path, sample count). Empty shards (hash
    * ranges with no ids) are simply absent. */
  def toWebDataset(df: DataFrame, outDir: String, numShards: Int,
      idCol: String = "doc_id", textCol: String = "text"): Seq[(Long, String, Long)] = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val spark = df.sparkSession
    import spark.implicits._
    val metaCols = df.columns.filterNot(c => c == idCol || c == textCol).toSeq
    // null ids would silently unbox to key 0 (colliding samples), and so
    // would non-integral ids (e.g. "doc-7") whose long cast is null — both
    // must fail up front, not collide downstream; null texts write as empty
    // members, so the id is the only hard requirement
    val badIds = df
      .filter(col(idCol).isNull ||
        expr(s"try_cast(`$idCol` AS LONG)").isNull)
      .limit(1).count()
    require(badIds == 0,
      s"toWebDataset: id column '$idCol' has null or non-integral values")
    // executor-side FS access must see the session's Hadoop settings
    // (spark.hadoop.* — s3a credentials, endpoints); a bare Configuration()
    // inside the task would only load classpath defaults
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val prepped = df.select(
      pmod(xxhash64(col(idCol)), lit(numShards)).as("__shard"),
      col(idCol).cast("long").as("__id"),
      coalesce(col(textCol).cast("string"), lit("")).as("__text"),
      struct(metaCols.map(c => col(s"`$c`")): _*).as("__meta"))
    prepped.groupByKey(_.getAs[Long]("__shard"))
      .mapGroups { (shard: Long, it: Iterator[Row]) =>
        val rows = it.toArray.sortBy(_.getAs[Long]("__id"))
        val path = new org.apache.hadoop.fs.Path(outDir, f"shard-$shard%05d.tar")
        val fs = path.getFileSystem(serConf.value)
        val out = fs.create(path, true)
        try {
          rows.foreach { r =>
            val key = f"${r.getAs[Long]("__id")}%09d"
            val meta = r.getAs[Row]("__meta")
            val json = metaCols.zipWithIndex
              .map { case (c, i) => s"${Json.str(c)}: ${Json.value(meta.get(i))}" }
              .mkString("{", ", ", "}") + "\n"
            writeEntry(out, s"$key.txt", r.getAs[String]("__text").getBytes("UTF-8"))
            writeEntry(out, s"$key.json", json.getBytes("UTF-8"))
          }
          out.write(new Array[Byte](1024)) // tar end-of-archive marker
        } finally out.close()
        (shard, path.toString, rows.length.toLong)
      }
      .collect().toSeq.sortBy(_._1)
  }

  // -------------------------------------------------------------- reader

  /** One parsed WebDataset sample: the id (from the key), the `.txt`
    * payload, and the raw `.json` member (decode with `from_json`). */
  case class WdSample(doc_id: Long, text: String, meta_json: String)

  /** Read tar shards back to (doc_id, text, meta_json) — `binaryFile`
    * scan (one task per shard) + a USTAR parse kernel.
    *
    * FAIL-CLOSED on corruption: a truncated/garbled shard must not kill a
    * 100 TB read. Parsing stops at the first malformed header (bad size
    * field, data running past the file, non-numeric key) and yields the
    * samples already parsed — the same contract as the media decoders
    * (corrupt payload → skip, never throw). */
  def fromWebDataset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the directory plus a name filter, not a `$dir/*.tar` glob: the
    // writer keeps shards flat, so the file set is the same, and Spark's
    // sink-metadata check stats a glob path literally (a logged
    // FileNotFoundException on every read)
    spark.read.format("binaryFile").option("pathGlobFilter", "*.tar").load(dir)
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap { bytes =>
        val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
        var off = 0
        var done = false
        while (!done && off + 512 <= bytes.length) {
          val nameEnd0 = bytes.indexOf(0.toByte, off)
          val nameEnd = if (nameEnd0 < 0 || nameEnd0 > off + 100) off + 100 else nameEnd0
          val name = new String(bytes, off, nameEnd - off, "UTF-8")
          if (name.isEmpty) done = true // zero block → end of archive
          else {
            val sizeStr = new String(bytes, off + 124, 12, "UTF-8")
              .takeWhile(c => c >= '0' && c <= '7')
            val size =
              if (sizeStr.isEmpty) -1
              else
                try java.lang.Long.parseLong(sizeStr, 8).toInt
                catch { case _: NumberFormatException => -1 }
            if (size < 0 || off + 512 + size > bytes.length) done = true // corrupt
            else {
              val data = java.util.Arrays.copyOfRange(bytes, off + 512, off + 512 + size)
              entries += name -> data
              off += 512 + ((size + 511) / 512) * 512
            }
          }
        }
        entries.groupBy(_._1.takeWhile(_ != '.')).toSeq.flatMap { case (key, parts) =>
          val id =
            try Some(key.toLong)
            catch { case _: NumberFormatException => None }
          id.map { k =>
            val byExt = parts.map { case (n, d) => n.drop(key.length + 1) -> d }.toMap
            WdSample(k,
              byExt.get("txt").map(new String(_, "UTF-8")).orNull,
              byExt.get("json").map(d => new String(d, "UTF-8").trim).orNull)
          }
        }
      }
      .toDF()
  }
}
