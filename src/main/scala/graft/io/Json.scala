package graft.io

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The one JSON codec behind every document graft writes or reads back:
  * the parquet dataset's `metadata.json`, the serving stores' `_meta.json`,
  * the COCO/Caipy/WebDataset/Darknet export documents, the CLI's
  * `meta.json` and Verify's manifests. Writers keep their own document
  * layout and build it from [[str]] and [[value]]; readers parse through
  * [[read]] with Jackson (shipped with Spark) and fail loudly on anything
  * that is not JSON.
  *
  * Sidecars go through the Hadoop FileSystem API, so a dataset or store
  * may live on any Spark-reachable filesystem (HDFS/S3/local). */
object Json {

  /** The one shared mapper (thread-safe once configured). */
  private[graft] val mapper = new ObjectMapper()

  /** `s` as a quoted JSON string. Quotes, backslashes and ALL control
    * characters (< 0x20) are escaped: a raw tab or CR inside a string is
    * invalid JSON and fails a strict reader (Python's `json.load`). */
  def str(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance().quoteAsString(s)) + "\""

  /** Any Spark/Scala value as JSON: null, strings, booleans and numbers
    * as themselves (an integral double as a long: box coordinates
    * `10.0` export as `10`), arrays and collections as arrays, anything
    * else (dates, timestamps) as its quoted `toString`. */
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case f: Float => value(f.toDouble)
    case n: java.lang.Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  /** Parse the document at `path`; `None` when the file is absent.
    * Malformed or empty content is an `IllegalArgumentException` naming
    * the file — never a silently default-valued read. */
  def read(spark: SparkSession, path: String): Option[JsonNode] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val node =
      try mapper.readTree(in)
      catch { case e: JsonProcessingException =>
        throw new IllegalArgumentException(
          s"malformed JSON in $path: ${e.getOriginalMessage}", e)
      } finally in.close()
    require(node != null && !node.isMissingNode, s"malformed JSON in $path: empty")
    Some(node)
  }

  /** Write `json` to `path`. `overwrite = false` is create-EXCLUSIVE: the
    * create fails when the file already exists. */
  def write(spark: SparkSession, path: String, json: String,
      overwrite: Boolean): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, overwrite)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Required typed fields of a document read from `path`: a missing or
    * mistyped field is malformed, not a default. */
  def int(node: JsonNode, name: String, path: String): Int =
    field(node, name, path, "an integer")(n => n.isIntegralNumber && n.canConvertToInt).intValue
  def text(node: JsonNode, name: String, path: String): String =
    field(node, name, path, "a string")(_.isTextual).textValue
  def bool(node: JsonNode, name: String, path: String): Boolean =
    field(node, name, path, "a boolean")(_.isBoolean).booleanValue

  private def field(node: JsonNode, name: String, path: String,
      kind: String)(ok: JsonNode => Boolean): JsonNode = {
    val v = node.get(name)
    require(v != null && ok(v),
      s"malformed JSON in $path: field '$name' is not $kind in: $node")
    v
  }
}
