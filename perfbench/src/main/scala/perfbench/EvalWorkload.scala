package perfbench

import graft.eval.DetectionEvaluator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Detector evaluation: in-memory groundtruth boxes with a heavy per-image
  * tail and one prediction set. One iteration matches category-specific
  * and agnostic (through the evaluator, whose match cache the PR/AP step
  * then hits), computes PR curves and AP, the confusion matrix and the
  * count error. The inputs are large enough that jobs (the match shuffle,
  * the per-group greedy kernel, the PR window sums) take most of an
  * iteration's wall time; one prediction set keeps the job count, and so
  * the driver's share, low. */
final class EvalWorkload(spark: SparkSession, seed: Long) extends Workload {
  import EvalWorkload.Truth
  val name = "eval"
  val det = Gen.DetParams(images = 10000, categories = 10, meanBoxes = 3.0,
    crowdShare = 0.003, crowdBoxes = (150, 500))
  val model = Gen.ModelParams("medium", drop = 0.15, flip = 0.05, dup = 0.03, falsePerImage = 0.5)
  val params = Seq(
    Param("images", det.images.toString, "enough groups that jobs, not the driver, take most of the wall time"),
    Param("boxes_per_image", s"geometric mean ${det.meanBoxes}, ${det.crowdShare} crowd share with ${det.crowdBoxes}",
      "crowd images make a few matching groups hundreds of boxes wide (the O(N*M) kernel's tail)"),
    Param("matched_prediction_share", (1 - model.drop).toString,
      "share of groundtruth boxes the model predicts; flips, duplicates and false boxes make the rest"),
    Param("planted_iou", "> 0.6", "jittered predictions overlap only their own box, so match counts are exact"))

  def opsPerIteration: Int = 5
  private var rows = 0L
  def rowsPerIteration: Long = rows

  private var images: DataFrame = _
  private var gt: DataFrame = _
  private var preds: DataFrame = _
  private var labelMap: Map[Int, String] = _
  private var t: Truth = _

  def setup(): Unit = {
    val layout = Gen.detection(seed, det)
    val d = layout.det
    val p = Gen.predictions(seed * 31, layout, model)
    val gtPerCat = d.boxes.groupBy(_.category).view.mapValues(_.size.toDouble).toMap
    t = Truth(p.boxes.size, d.boxes.size, p.matchedSpecific, p.matchedAgnostic,
      gtPerCat.map { case (c, n) => d.labelMap(c) -> p.diagonal.getOrElse(c, 0L) / n },
      p.boxes.map(_.category).distinct.size)
    rows = d.boxes.size.toLong + p.boxes.size
    labelMap = d.labelMap
    images = Inputs.pin(Inputs.images(spark, d.images))
    gt = Inputs.pin(Inputs.boxes(spark, d.boxes))
    preds = Inputs.pin(Inputs.boxes(spark, p.boxes, confidence = true))
  }

  def iteration(ctx: Ctx): Unit = {
    val m = model.name
    val ev = new DetectionEvaluator(images, gt, Map(m -> preds), labelMap)
    def matchCounts(agnostic: Boolean) = {
      val ds = ctx.call("eval", "DetectionEvaluator.matches")(ev.matches(m, 0.0, categoryAgnostic = agnostic))
      ctx.action("agg")(ds.toDF().agg(count(lit(1)),
        sum(when(col("prediction_id").isNotNull && col("groundtruth_id").isNotNull, 1L).otherwise(0L))).head())
    }
    ctx.op("matches")(matchCounts(agnostic = false)) { row =>
      ctx.expect("match rows", t.preds + t.gt - t.specific, row.getLong(0))
      ctx.expect("category-specific matches", t.specific, row.getLong(1))
    }
    ctx.op("matches_agnostic")(matchCounts(agnostic = true)) { row =>
      ctx.expect("agnostic match rows", t.preds + t.gt - t.agnostic, row.getLong(0))
      ctx.expect("agnostic matches", t.agnostic, row.getLong(1))
    }
    ctx.op("pr_ap") {
      val (_, ap) = ctx.call("eval", "DetectionEvaluator.precisionRecall")(ev.precisionRecall(m, minIou = 0.5))
      ctx.action("collect")(ap.select("AP").collect().map(_.getDouble(0)))
    } { aps =>
      ctx.expect("AP rows", labelMap.size, aps.length)
      ctx.expectTrue("AP within [0, 1]", aps.forall(x => x >= 0 && x <= 1))
    }
    ctx.op("confusion") {
      val cm = ctx.call("eval", "DetectionEvaluator.confusionMatrix")(ev.confusionMatrix(m))
      ctx.action("collect")(cm.filter(col("groundtruth_label") === col("prediction_label"))
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap)
    } { diag =>
      t.diagonal.foreach { case (label, share) =>
        ctx.expectNear(s"confusion diagonal $label", share, diag.getOrElse(label, 0.0), 1e-9)
      }
    }
    ctx.op("count_error") {
      val ce = ctx.call("eval", "DetectionEvaluator.countError")(ev.countError(m))
      ctx.action("count")(ce.count())
    }(n => ctx.expect("count-error rows", t.predCategories * 101, n))
  }
}

object EvalWorkload {
  /** Prediction count and planted outcomes. */
  final case class Truth(preds: Long, gt: Long, specific: Long, agnostic: Long,
      diagonal: Map[String, Double], predCategories: Long)
}
