package perfbench

import graft.functions.Bbox
import graft.model.GraftDataset
import graft.operators._
import graft.split.Splitter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.util.Random

/** Interactive curation: a closed loop of single-action operations on an
  * in-memory dataset of 2000 images / ~8k annotations. One iteration is a
  * round of the 12 operation types, the same operations with the same
  * arguments in every iteration and for every seed; every result is
  * checked against counts derived from the generated rows. At this size an operation's time goes to driver
  * planning, eager probe jobs and per-job scheduling. */
final class Interactive(spark: SparkSession, seed: Long) extends Workload {
  import Interactive._

  val name = "interactive"
  val det = Gen.DetParams(images = 2000, meanBoxes = 3.2, crowdShare = 0.002,
    crowdBoxes = (200, 600), invalidShare = 0.01,
    splitShares = Seq("train" -> 0.25, "valid" -> 0.10, "test" -> 0.05))
  val params = Seq(
    Param("images", det.images.toString, "small enough that driver work dominates an operation"),
    Param("boxes_per_image", s"geometric mean ${det.meanBoxes}, ${det.crowdShare} crowd share with ${det.crowdBoxes}",
      "the heavy tail puts hundreds of rows in a few per-image groups"),
    Param("invalid_box_share", det.invalidShare.toString, "cap_filter and validate have planted malformed boxes to find"),
    Param("planted_splits", det.splitShares.mkString(","), "get_split and simple_split see pre-assigned rows"))

  def opsPerIteration: Int = Types.size
  private var rows = 0L
  def rowsPerIteration: Long = rows

  private var a: GraftDataset = _
  private var mergeB: GraftDataset = _
  private var diffB: GraftDataset = _
  private var other: GraftDataset = _
  private var exp: Expected = _

  def setup(): Unit = {
    val layout = Gen.detection(seed, det)
    val d = layout.det
    val r = new Random(seed ^ 0x5eed)
    val maxImage = d.images.map(_.id).max
    val maxBox = d.boxes.map(_.id).max
    val byImage = d.boxes.groupBy(_.imageId)

    // merge: a second annotator's dataset; shared images carry the same
    // rows, new images get fresh ids, annotation ids collide with a's
    val extra = Gen.detection(seed + 1, det.copy(images = 600, firstImageId = maxImage + 1,
      invalidShare = 0, pathPrefix = "extra")).det
    val shared = r.shuffle(d.images).take(1200).sortBy(_.id)
    val sharedBoxes = shared.flatMap { im =>
      (0 until 1 + r.nextInt(3)).map(k => Box(0, im.id, 1 + r.nextInt(det.categories),
        4 + 32 * k, 4, 20, 20))
    }.zipWithIndex.map { case (b, i) => b.copy(id = extra.boxes.size + i.toLong) }
    val b = Det(shared ++ extra.images, extra.boxes ++ sharedBoxes, d.labelMap)

    // diff: widen some images, move one box of others, drop and add some
    val order = r.shuffle(d.images.map(_.id))
    val widened = order.take(60).toSet
    val moved = order.slice(60, 400).filter(byImage.contains).take(60).toSet
    val removed = order.slice(400, 430).toSet
    val added = Gen.detection(seed + 2, det.copy(images = 30, firstImageId = maxImage + 10001,
      firstBoxId = maxBox + 1, pathPrefix = "added")).det
    val movedBox = moved.map(i => byImage(i).head.id)
    val d2 = Det(
      d.images.filterNot(i => removed(i.id))
        .map(i => if (widened(i.id)) i.copy(width = i.width + 1) else i) ++ added.images,
      d.boxes.filterNot(b => removed(b.imageId))
        .map(b => if (movedBox(b.id)) b.copy(x = b.x + 1) else b) ++ added.boxes,
      d.labelMap)

    // match_index: 60% of the paths under new ids, plus unrelated images
    val anchored = r.shuffle(d.images).take(d.images.size * 6 / 10)
    val newIds = r.shuffle((0L until anchored.size).toVector).map(_ + 1000000L)
    val otherImages = anchored.zip(newIds).map { case (i, n) => i.copy(id = n) } ++
      Gen.detection(seed + 3, det.copy(images = 800, firstImageId = 2000000L, pathPrefix = "other")).det.images
    val o = Det(otherImages, IndexedSeq.empty, d.labelMap)

    exp = expected(d, b, widened.size + moved.size, anchored.map(_.id).zip(newIds).toMap)
    rows = d.boxes.size.toLong
    a = Inputs.dataset(spark, d, pinned = true)
    mergeB = Inputs.dataset(spark, b)
    diffB = Inputs.dataset(spark, d2)
    other = Inputs.dataset(spark, o)
  }

  def iteration(ctx: Ctx): Unit = Types.foreach(t => runOp(ctx, t))

  private def runOp(ctx: Ctx, t: String): Unit = t match {
    case "filter" =>
      val w = FilterWidth
      ctx.op(t) {
        val d = ctx.call("operators", "Locators.filterImages")(Locators.filterImages(a, col("width") >= w))
        ctx.action("count")(d.annotations.count())
      }(n => ctx.expect(s"annotations of images >= $w px wide", exp.filter, n))
    case "remap" =>
      ctx.op(t) {
        val d = ctx.call("operators", "Remap.remapClasses")(Remap.remapClasses(a, Mapping))
        ctx.action("agg")(d.annotations.agg(count(lit(1)), countDistinct(col("category_id"))).head())
      } { row =>
        ctx.expect("annotations after remap", exp.remap._1, row.getLong(0))
        ctx.expect("categories after remap", exp.remap._2, row.getLong(1))
      }
    case "keep_classes" =>
      ctx.op(t) {
        val d = ctx.call("operators", "Remap.keepClasses")(
          Remap.keepClasses(a, KeepSet, removeEmptiedImages = true))
        ctx.action("count")(d.images.count())
      }(n => ctx.expect("images kept by the class set", exp.keep, n))
    case "get_split" =>
      val s = SplitName
      ctx.op(t) {
        val d = ctx.call("operators", "Locators.getSplit")(Locators.getSplit(a, Some(s)))
        ctx.action("count")(d.annotations.count())
      }(n => ctx.expect(s"annotations in split $s", exp.split, n))
    case "merge" =>
      ctx.op(t) {
        val d = ctx.call("operators", "Merge.merge")(Merge.merge(a, mergeB))
        ctx.action("agg")(d.annotations.agg(count(lit(1)), countDistinct(col("id"))).head())
      } { row =>
        ctx.expect("merged annotations", exp.merged, row.getLong(0))
        ctx.expect("distinct merged annotation ids", exp.merged, row.getLong(1))
      }
    case "reset_index" =>
      ctx.op(t) {
        val d = ctx.call("operators", "Ids.resetIndex")(Ids.resetIndex(a, sortImagesBy = Seq("relative_path")))
        ctx.action("agg")(d.annotations.agg(count(lit(1)), max(col("id")), sum(col("image_id"))).head())
      } { row =>
        ctx.expect("annotations", exp.annotations, row.getLong(0))
        ctx.expect("max annotation id", exp.annotations - 1, row.getLong(1))
        ctx.expect("sum of re-indexed image ids", exp.resetImageIdSum, row.getLong(2))
      }
    case "booleanize" =>
      val tag = Tag
      ctx.op(t) {
        val d = ctx.call("operators", "Booleanize.booleanize")(Booleanize.booleanize(a, "images", "tags"))
        ctx.action("count")(d.images.filter(col(s"`tags.$tag`")).count())
      }(n => ctx.expect(s"images tagged $tag", exp.tagged, n))
    case "diff" =>
      ctx.op(t) {
        val d = ctx.call("operators", "Diff.datasetDiff")(Diff.datasetDiff(a, diffB))
        ctx.action("count")(d.changed.images.count())
      }(n => ctx.expect("changed images", exp.changed, n))
    case "validate" =>
      ctx.op(t) {
        val v = ctx.call("model", "GraftDataset.validated")(a.validated())
        val bad = ctx.call("operators", "Locators.malformedBoxReport")(Locators.malformedBoxReport(v))
        ctx.action("count")(bad.count())
      }(n => ctx.expect("malformed boxes", exp.malformed, n))
    case "cap_filter" =>
      ctx.op(t) {
        val capped = ctx.call("operators", "Bbox.capBoxes")(Bbox.capBoxes(a))
        val d = ctx.call("operators", "Locators.removeInvalidAnnotations")(
          Locators.removeInvalidAnnotations(capped))
        ctx.action("count")(d.annotations.count())
      }(n => ctx.expect("annotations valid after capping", exp.capped, n))
    case "simple_split" =>
      ctx.op(t) {
        val d = ctx.call("split", "Splitter.simpleSplit")(
          Splitter.simpleSplit(a, seed, SplitNames, SplitShares))
        ctx.action("agg")(d.images.agg(
          sum(when(col("split").isNull, 1L).otherwise(0L)),
          sum(when(col("orig_split").isNotNull && col("split") =!= col("orig_split"), 1L).otherwise(0L)),
          sum(when(col("split") === "valid", 1L).otherwise(0L))).head())
      } { row =>
        ctx.expect("images left without a split", 0, row.getLong(0))
        ctx.expect("pre-assigned images moved", 0, row.getLong(1))
        ctx.expectNear("images in valid", exp.simpleValid._1, row.getLong(2).toDouble, exp.simpleValid._2)
      }
    case "match_index" =>
      ctx.op(t) {
        val d = ctx.call("operators", "Ids.matchIndex")(Ids.matchIndex(a, other))
        ctx.action("agg")(d.images.agg(count(lit(1)), sum(col("id"))).head())
      } { row =>
        ctx.expect("images", exp.images, row.getLong(0))
        ctx.expect("sum of matched image ids", exp.matchIdSum, row.getLong(1))
      }
  }
}

object Interactive {
  val Types: Seq[String] = Seq("filter", "remap", "keep_classes", "get_split", "merge",
    "reset_index", "booleanize", "diff", "validate", "cap_filter", "simple_split", "match_index")
  // The arguments. They are fixed, so every iteration does the same work.
  val FilterWidth = 1024
  /** merge category pairs and drop the last two */
  val Mapping: Map[Int, Int] = (1 to 18).map(c => c -> (c + 1) / 2).toMap
  val KeepSet: Set[Int] = (4 to 10).toSet
  val SplitName = "valid"
  val Tag = "night"
  val SplitNames = Seq("train", "valid", "test")
  val SplitShares = Seq(0.6, 0.3, 0.1)

  /** Out of bounds or empty: what `Locators.malformedBoxReport` flags. */
  def malformed(bx: Box, im: Img): Boolean =
    bx.x < 0 || bx.y < 0 || bx.w <= 0 || bx.h <= 0 || bx.x + bx.w > im.width || bx.y + bx.h > im.height

  /** Whether a box survives `Bbox.capBoxes` + `removeInvalidAnnotations`,
    * in the same double arithmetic. */
  def validAfterCap(bx: Box, im: Img): Boolean = {
    val (w, h) = (im.width.toDouble, im.height.toDouble)
    val x0 = math.max(bx.x, 0.0)
    val y0 = math.max(bx.y, 0.0)
    val cw = math.max(math.min(bx.x + bx.w, w) - x0, 0.0)
    val ch = math.max(math.min(bx.y + bx.h, h) - y0, 0.0)
    x0 >= 0 && y0 >= 0 && cw > 0 && ch > 0 && x0 + cw <= w && y0 + ch <= h
  }

  /** Planted truth, computed from the generated rows. */
  final case class Expected(images: Long, annotations: Long, filter: Long,
      remap: (Long, Long), keep: Long, split: Long,
      merged: Long, resetImageIdSum: Long, tagged: Long, changed: Long,
      malformed: Long, capped: Long, simpleValid: (Double, Double), matchIdSum: Long)

  def expected(d: Det, b: Det, changed: Int, matched: Map[Long, Long]): Expected = {
    val img = d.imageById
    val byImage = d.boxes.groupBy(_.imageId)
    val rank = d.images.sortBy(i => (i.path, i.id)).map(_.id).zipWithIndex.toMap
    // simpleSplit: residual shares over the unassigned images
    val n = d.images.size.toDouble
    val existing = SplitNames.map(s => s -> d.images.count(_.split == s).toDouble).toMap
    val residual = SplitNames.zip(SplitShares).map { case (s, sh) => s -> math.max(0.0, sh * n - existing(s)) }
    val unassigned = n - existing.values.sum
    val pValid = residual.toMap.apply("valid") / residual.map(_._2).sum
    val validMean = existing("valid") + unassigned * pValid
    val validTol = 6 * math.sqrt(unassigned * pValid * (1 - pValid)) + 1
    // matchIndex: unmatched images take dense ids after the largest matched id, in id order
    val maxMatched = matched.values.max
    val unmatched = d.images.map(_.id).filterNot(matched.contains).sorted
    val matchSum = matched.values.sum + unmatched.indices.map(i => maxMatched + 1 + i).sum
    Expected(
      images = d.images.size, annotations = d.boxes.size,
      filter = d.boxes.count(bx => img(bx.imageId).width >= FilterWidth).toLong,
      remap = (d.boxes.count(bx => Mapping.contains(bx.category)).toLong,
        d.boxes.flatMap(bx => Mapping.get(bx.category)).distinct.size.toLong),
      keep = d.images.count { im =>
        val bs = byImage.getOrElse(im.id, Nil)
        bs.isEmpty || bs.exists(bx => KeepSet(bx.category))
      }.toLong,
      split = d.boxes.count(bx => img(bx.imageId).split == SplitName).toLong,
      merged = d.boxes.size.toLong + b.boxes.size,
      resetImageIdSum = d.boxes.map(bx => rank(bx.imageId).toLong).sum,
      tagged = d.images.count(_.tags.contains(Tag)).toLong,
      changed = changed,
      malformed = d.boxes.count(bx => malformed(bx, img(bx.imageId))).toLong,
      capped = d.boxes.count(bx => validAfterCap(bx, img(bx.imageId))).toLong,
      simpleValid = (validMean, validTol),
      matchIdSum = matchSum)
  }
}
