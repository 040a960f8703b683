package perfbench

import graft.model.GraftDataset
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** A property of a workload's inputs, recorded with every result. */
final case class Param(name: String, value: String, why: String)

/** One benchmark workload. `setup` generates the inputs from the seed
  * (it may run several times; the last run's inputs are used), and
  * `iteration` runs one full pass of checked operations through `ctx`,
  * the same operations with the same arguments every time. */
trait Workload {
  def name: String
  def params: Seq[Param]
  /** Input rows one iteration pushes through (annotations, or documents). */
  def rowsPerIteration: Long
  /** Checked operations one iteration attempts. */
  def opsPerIteration: Int
  def setup(): Unit
  def iteration(ctx: Ctx): Unit
  /** Untimed per-layer counters of the traced run, e.g. candidate volume. */
  def traceCounters(): Map[String, Double] = Map.empty
}

/** What an iteration's operations report through. `op` times its body as
  * one checked operation, then runs its checks untimed; `call` and
  * `action` mark a call into a library layer and an action on a result,
  * which only matters when tracing is on. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, plantWrongExpected: Boolean) {
  /** (operation, milliseconds) of the current iteration */
  val opMs = ArrayBuffer[(String, Double)]()
  val failures = ArrayBuffer[String]()
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  var completedOps = 0
  var failedOps = 0
  private var planted = !plantWrongExpected
  private var current = ""
  private var currentFailed = false

  def reset(): Unit = {
    opMs.clear(); counters.clear(); completedOps = 0; failedOps = 0
  }

  def op[T](name: String)(body: => T)(check: T => Unit): T = {
    val t0 = System.nanoTime()
    val result = tracer.span("op", name)(body)
    opMs += name -> (System.nanoTime() - t0) / 1e6
    completedOps += 1
    current = name
    currentFailed = false
    try tracer.span("verify", name)(check(result))
    catch { case NonFatal(e) => fail(s"check raised $e") }
    if (currentFailed) failedOps += 1
    result
  }

  def call[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
  def action[T](name: String)(body: => T): T = tracer.span("action", name)(body)

  def fail(msg: String): Unit = {
    currentFailed = true
    failures += s"$current: $msg"
  }

  /** The run's first expected value is off by one when a wrong one is
    * planted: the run must then report a failure. */
  private def plant(expected: Double): Double =
    if (planted) expected else { planted = true; expected + 1 }

  def expect(what: String, expected: Long, actual: Long): Unit = {
    val exp = plant(expected.toDouble)
    if (exp != actual.toDouble) fail(s"$what expected ${exp.toLong}, got $actual")
  }

  def expectNear(what: String, expected: Double, actual: Double, tolerance: Double): Unit = {
    val exp = plant(expected)
    if (!(math.abs(exp - actual) <= tolerance)) fail(s"$what expected $exp ± $tolerance, got $actual")
  }

  def expectTrue(what: String, ok: Boolean): Unit = if (!ok) fail(s"$what does not hold")
}

/** DataFrames of generated rows. Inputs are pinned with an eager local
  * checkpoint: materialized once, kept across iterations, and planned with
  * the statistics of the rows they came from. */
object Inputs {
  val ImageSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("relative_path", StringType, nullable = false),
    StructField("split", StringType),
    StructField("tags", ArrayType(StringType)),
    StructField("sequence", LongType),
    StructField("orig_split", StringType)))

  private def boxSchema(confidence: Boolean) = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("image_id", LongType, nullable = false),
    StructField("category_id", IntegerType, nullable = false),
    StructField("box_x_min", DoubleType, nullable = false),
    StructField("box_y_min", DoubleType, nullable = false),
    StructField("box_width", DoubleType, nullable = false),
    StructField("box_height", DoubleType, nullable = false)) ++
    (if (confidence) Seq(StructField("confidence", DoubleType, nullable = false)) else Nil))

  def images(spark: SparkSession, imgs: Seq[Img]): DataFrame =
    spark.createDataFrame(imgs.map(i => Row(i.id, i.width, i.height, i.path, i.split,
      i.tags, i.sequence, i.split)).asJava, ImageSchema)

  def boxes(spark: SparkSession, bs: Seq[Box], confidence: Boolean = false): DataFrame =
    spark.createDataFrame(bs.map { b =>
      if (confidence) Row(b.id, b.imageId, b.category, b.x, b.y, b.w, b.h, b.confidence)
      else Row(b.id, b.imageId, b.category, b.x, b.y, b.w, b.h)
    }.asJava, boxSchema(confidence))

  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** A library dataset over generated rows held as local relations;
    * `pinned` materializes both tables once. */
  def dataset(spark: SparkSession, det: Det, pinned: Boolean = false): GraftDataset = {
    val ds = GraftDataset.create(images(spark, det.images), boxes(spark, det.boxes), det.labelMap)
    if (pinned) ds.copy(images = pin(ds.images), annotations = pin(ds.annotations)) else ds
  }
}

/** File-tree helpers for on-disk inputs and outputs. */
object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def countFiles(p: Path, suffix: String): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.count(x => Files.isRegularFile(x) && x.toString.endsWith(suffix)).toLong
    finally s.close()
  }
}
