package graft

import graft.io.WebDataset
import org.apache.spark.sql.functions._

class WebDatasetSpec extends SparkFunSuite {
  import spark.implicits._

  private def docs() = Seq(
    (0L, "hello world", "en", 11L),
    (1L, "zwei wörter", "de", 11L),            // non-ASCII payload
    (2L, "with \"quotes\" and\nnewline", "en", 24L),
    (42L, "", "en", 0L)                         // empty text
  ).toDF("doc_id", "text", "lang", "n_chars")

  test("roundtrip preserves ids, text bytes, and meta columns") {
    val dir = java.nio.file.Files.createTempDirectory("wds").toString
    val manifest = WebDataset.toWebDataset(docs(), dir, numShards = 2)
    assert(manifest.map(_._3).sum == 4)
    val meta = org.apache.spark.sql.types.StructType.fromDDL(
      "lang STRING, n_chars BIGINT")
    val back = WebDataset.fromWebDataset(spark, dir)
      .select(col("doc_id"), col("text"),
        from_json(col("meta_json"), meta).as("m"))
      .select(col("doc_id"), col("text"), col("m.lang"), col("m.n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(back.toSeq == Seq(
      (0L, "hello world", "en", 11L),
      (1L, "zwei wörter", "de", 11L),
      (2L, "with \"quotes\" and\nnewline", "en", 24L),
      (42L, "", "en", 0L)))
  }

  test("meta member is JSON for array and date columns") {
    val dir = java.nio.file.Files.createTempDirectory("wds_types").toString
    val df = Seq((0L, "t", Seq("x", "y \"q\""), java.sql.Date.valueOf("2024-01-02")))
      .toDF("doc_id", "text", "tags", "day")
    WebDataset.toWebDataset(df, dir, numShards = 1)
    val meta = org.apache.spark.sql.types.StructType.fromDDL(
      "tags ARRAY<STRING>, day DATE")
    val back = WebDataset.fromWebDataset(spark, dir)
      .select(from_json(col("meta_json"), meta).as("m"))
      .select(col("m.tags"), col("m.day")).head()
    assert(back.getSeq[String](0) == Seq("x", "y \"q\""))
    assert(back.getDate(1) == java.sql.Date.valueOf("2024-01-02"))
  }

  test("shards are valid tar files readable by an independent parser") {
    val dir = java.nio.file.Files.createTempDirectory("wds2").toString
    WebDataset.toWebDataset(docs(), dir, numShards = 1)
    val tarFile = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar")).head
    // parse with plain java: verify header magic, checksum, member sizes
    val bytes = java.nio.file.Files.readAllBytes(tarFile.toPath)
    assert(bytes.length % 512 == 0)
    var off = 0
    var n = 0
    while (bytes(off) != 0) {
      val magic = new String(bytes, off + 257, 5, "UTF-8")
      assert(magic == "ustar", s"bad magic at $off: $magic")
      val stored = java.lang.Long.parseLong(
        new String(bytes, off + 148, 6, "UTF-8"), 8)
      val copy = bytes.slice(off, off + 512)
      for (i <- 148 until 156) copy(i) = ' '
      assert(copy.map(_ & 0xff).sum == stored, "checksum mismatch")
      val size = java.lang.Long.parseLong(
        new String(bytes, off + 124, 12, "UTF-8").takeWhile(c => c >= '0' && c <= '7'), 8).toInt
      off += 512 + ((size + 511) / 512) * 512
      n += 1
    }
    assert(n == 8) // 4 samples x (.txt + .json)
  }

  test("null text writes as empty; null id is refused loudly") {
    val dir = java.nio.file.Files.createTempDirectory("wds7").toString
    val withNullText = Seq((1L, null.asInstanceOf[String], "en", 0L))
      .toDF("doc_id", "text", "lang", "n_chars")
    WebDataset.toWebDataset(withNullText, dir, numShards = 1)
    val back = WebDataset.fromWebDataset(spark, dir).collect()
    assert(back.length == 1 && back.head.getAs[String]("text") == "")
    val withNullId = Seq((Option.empty[Long], "x"))
      .toDF("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      WebDataset.toWebDataset(withNullId, dir, numShards = 1)
    }
    assert(err.getMessage.contains("null"))
    // a non-integral id casts to null long → would silently collide every
    // such sample onto key 0; must be refused just as loudly
    val strId = Seq(("doc-7", "x")).toDF("doc_id", "text")
    val err2 = intercept[IllegalArgumentException] {
      WebDataset.toWebDataset(strId, dir, numShards = 1)
    }
    assert(err2.getMessage.contains("non-integral"))
  }

  test("reader fails closed on truncated and garbled shards") {
    val dir = java.nio.file.Files.createTempDirectory("wds4").toString
    WebDataset.toWebDataset(docs(), dir, numShards = 1)
    val tar = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar")).head
    val bytes = java.nio.file.Files.readAllBytes(tar.toPath)
    // truncate mid-member: the samples before the cut still come back
    val cutDir = java.nio.file.Files.createTempDirectory("wds5").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(cutDir, "shard-00000.tar"),
      bytes.take(bytes.length / 2))
    val partial = WebDataset.fromWebDataset(spark, cutDir).count()
    assert(partial >= 0 && partial < 4) // no throw, strictly fewer samples
    // pure garbage shard → zero rows, no exception
    val badDir = java.nio.file.Files.createTempDirectory("wds6").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(badDir, "shard-00000.tar"),
      Array.fill[Byte](2048)(0x5a))
    assert(WebDataset.fromWebDataset(spark, badDir).count() == 0)
  }

  test("shard bytes are deterministic: same input, same md5") {
    def writeAndHash(): Seq[String] = {
      val dir = java.nio.file.Files.createTempDirectory("wds3").toString
      WebDataset.toWebDataset(docs(), dir, numShards = 2)
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar"))
        .sortBy(_.getName).toSeq.map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
          md.digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }
    }
    assert(writeAndHash() == writeAndHash())
  }
}
