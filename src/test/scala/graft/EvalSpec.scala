package graft

import graft.eval._
import graft.operators.Grouper
import org.apache.spark.sql.functions._

class MatchingSpec extends SparkFunSuite {
  import spark.implicits._

  private def gtDf(rows: Seq[(Long, Long, Int, Double, Double, Double, Double)]) =
    rows.toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")

  private def predDf(rows: Seq[(Long, Long, Int, Double, Double, Double, Double, Double)]) =
    rows.toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height", "confidence")

  test("basic match + FP + FN") {
    val gt = gtDf(Seq((0L, 0L, 0, 0.0, 0.0, 10.0, 10.0), (1L, 0L, 0, 20.0, 0.0, 10.0, 10.0)))
    val pr = predDf(Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 10.0, 0.9),   // perfect on gt0
      (11L, 0L, 0, 1.0, 0.0, 10.0, 10.0, 0.8)))  // overlaps gt0 only (taken)
    val m = Matching.computeMatches(gt, pr).collect().sortBy(_.prediction_id.getOrElse(99L))
    assert(m.length == 3)
    val byPred = m.filter(_.prediction_id.isDefined).map(r => r.prediction_id.get -> r).toMap
    assert(byPred(10L).groundtruth_id.contains(0L) && byPred(10L).iou == 1.0)
    assert(byPred(11L).groundtruth_id.isEmpty) // gt0 taken, gt1 iou=0 not > minIou
    val fn = m.filter(_.prediction_id.isEmpty)
    assert(fn.map(_.groundtruth_id.get).toSeq == Seq(1L))
  }

  test("confidence priority beats IoU quality") {
    val gt = gtDf(Seq((0L, 0L, 0, 0.0, 0.0, 10.0, 10.0)))
    val pr = predDf(Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 20.0, 0.95), // iou 0.5, higher conf
      (11L, 0L, 0, 0.0, 0.0, 10.0, 11.0, 0.90))) // iou ~0.909, lower conf
    val m = Matching.computeMatches(gt, pr).collect()
    val byPred = m.filter(_.prediction_id.isDefined).map(r => r.prediction_id.get -> r).toMap
    assert(byPred(10L).groundtruth_id.contains(0L))
    assert(byPred(11L).groundtruth_id.isEmpty)
  }

  test("duplicate pick falls through to second-best groundtruth") {
    val gt = gtDf(Seq((0L, 0L, 0, 0.0, 0.0, 10.0, 10.0), (1L, 0L, 0, 8.0, 0.0, 10.0, 10.0)))
    val pr = predDf(Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 10.0, 0.95), // best: gt0 (iou 1)
      (11L, 0L, 0, 1.0, 0.0, 10.0, 10.0, 0.90))) // best: gt0, falls to gt1
    val m = Matching.computeMatches(gt, pr).collect()
    val byPred = m.filter(_.prediction_id.isDefined).map(r => r.prediction_id.get -> r).toMap
    assert(byPred(10L).groundtruth_id.contains(0L))
    assert(byPred(11L).groundtruth_id.contains(1L))
  }

  test("min_iou is strict and category-specific grouping separates classes") {
    val gt = gtDf(Seq((0L, 0L, 0, 0.0, 0.0, 10.0, 10.0)))
    val pr = predDf(Seq(
      (10L, 0L, 1, 0.0, 0.0, 10.0, 10.0, 0.9), // same box, other category
      (11L, 0L, 0, 0.0, 0.0, 20.0, 10.0, 0.8))) // iou exactly 0.5
    val strict = Matching.computeMatches(gt, pr, minIou = 0.5).collect()
    assert(strict.forall(r => r.groundtruth_id.isEmpty || r.prediction_id.isEmpty))
    val agnostic = Matching.computeMatches(gt, pr, minIou = 0.0, categoryAgnostic = true).collect()
    val byPred = agnostic.filter(_.prediction_id.isDefined).map(r => r.prediction_id.get -> r).toMap
    assert(byPred(10L).groundtruth_id.contains(0L)) // cross-category match allowed
  }
}

class PrCurveSpec extends SparkFunSuite {
  import spark.implicits._

  private def resultsDf(rows: Seq[(Boolean, Double, Double)]) =
    rows.map { case (g, i, c) => (0, g, i, c) }
      .toDF("category_id", "groundtruth", "iou", "confidence")

  test("exact curve matches hand computation") {
    // gt matched (iou .8, conf .9), gt unmatched (conf 0), FP (conf .7)
    val res = resultsDf(Seq((true, 0.8, 0.9), (true, 0.0, 0.0), (false, 0.0, 0.7)))
    val pr = PrCurve.compute(res, Seq("category_id"), minIou = 0.5, reindexBins = None)
      .orderBy(desc("confidence_threshold"), col("recall"))
    val pts = pr.select("precision", "recall", "confidence_threshold")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    // reference-verified via tools/ref_pr_oracle.py (pandas collinear drop
    // keeps the LAST point of a recall plateau, not the first)
    assert(pts.toSeq == Seq(
      (1.0, 0.0, 1.0), (1.0, 0.5, 0.9), (0.0, 0.5, 0.0), (0.0, 1.0, 0.0)))
  }

  test("AP is the right-Riemann sum over recall") {
    val res = resultsDf(Seq((true, 0.8, 0.9), (true, 0.0, 0.0), (false, 0.0, 0.7)))
    val pr = PrCurve.compute(res, Seq("category_id"), minIou = 0.5, reindexBins = None)
    val ap = PrCurve.averagePrecision(pr, Seq("category_id"))
      .collect()(0).getAs[Double]("AP")
    assert(math.abs(ap - 0.5) < 1e-12)
  }

  test("101-bin reindex ffills precision at recall bins") {
    val res = resultsDf(Seq((true, 0.8, 0.9), (true, 0.0, 0.0), (false, 0.0, 0.7)))
    val pr = PrCurve.compute(res, Seq("category_id"), minIou = 0.5)
    assert(pr.count() == 101)
    val at = pr.select("recall", "precision").collect()
      .map(r => math.round(r.getDouble(0) * 100).toInt -> r.getDouble(1)).toMap
    // reference-verified: recall-plateau dedup keeps last → bin .50 is 0
    assert(at(0) == 1.0)
    assert(at(49) == 1.0)
    assert(at(50) == 0.0)
    assert(at(99) == 0.0)
    assert(at(100) == 0.0)
  }

  test("perfect detector: AP 1.0 exact, 0.99 on 101-bin curve (reference-verified)") {
    val res = resultsDf(Seq((true, 0.9, 0.9), (true, 0.95, 0.8)))
    val exact = PrCurve.compute(res, Seq("category_id"), minIou = 0.5, reindexBins = None)
    val apExact = PrCurve.averagePrecision(exact, Seq("category_id"))
      .collect()(0).getAs[Double]("AP")
    assert(math.abs(apExact - 1.0) < 1e-12)
    val binned = PrCurve.compute(res, Seq("category_id"), minIou = 0.5)
    val ap101 = PrCurve.averagePrecision(binned, Seq("category_id"))
      .collect()(0).getAs[Double]("AP")
    assert(math.abs(ap101 - 0.99) < 1e-9)
  }
}

class EvaluatorSpec extends SparkFunSuite {
  import spark.implicits._

  private def fixture(): DetectionEvaluator = {
    val images = Seq((0L, 100, 100, "a.jpg")).toDF("id", "width", "height", "relative_path")
    val gt = Seq(
      (0L, 0L, 0, 0.0, 0.0, 10.0, 10.0),
      (1L, 0L, 1, 20.0, 20.0, 10.0, 10.0)
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val preds = Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 10.0, 0.9),  // TP on gt0
      (11L, 0L, 1, 50.0, 50.0, 10.0, 10.0, 0.8) // FP, gt1 unmatched
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height", "confidence")
    new DetectionEvaluator(images, gt, Map("m" -> preds), Map(0 -> "person", 1 -> "car"))
  }

  test("results table assembles TP/FN/FP rows") {
    val res = fixture().results("m").collect()
    // cat0: one gt row conf .9; cat1: one gt row conf 0 + one FP row conf .8
    assert(res.length == 3)
    def cat(r: org.apache.spark.sql.Row) = r.getAs[Int]("category_id")
    def isGt(r: org.apache.spark.sql.Row) = r.getAs[Boolean]("groundtruth")
    val gt0 = res.find(r => cat(r) == 0 && isGt(r)).get
    assert(gt0.getAs[Double]("confidence") == 0.9)
    val fn1 = res.find(r => cat(r) == 1 && isGt(r)).get
    assert(fn1.getAs[Double]("confidence") == 0.0)
    val fp1 = res.find(r => cat(r) == 1 && !isGt(r)).get
    assert(fp1.getAs[Double]("confidence") == 0.8)
  }

  test("per-category AP: perfect class 0.99 on 101 bins, missed class 0.0") {
    val (_, ap) = fixture().precisionRecall("m", minIou = 0.5)
    val byCat = ap.collect().map(r => r.getAs[Int]("category_id") -> r.getAs[Double]("AP")).toMap
    // 0.99, not 1.0: the 101-bin recall reindex keeps the (recall=1, p=0)
    // endpoint — pycocotools-compatible, reference-verified
    assert(math.abs(byCat(0) - 0.99) < 1e-9)
    assert(byCat(1) == 0.0)
  }

  test("confusion matrix row-normalizes with None class") {
    val cm = fixture().confusionMatrix("m", categoryAgnostic = true)
    val rows = cm.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getAs[Double]("share")).toMap
    assert(rows(("person", "person")) == 1.0)
    assert(rows(("car", "None")) == 1.0)
    assert(rows(("None", "car")) == 1.0)
  }

  test("countError computes MAE/RMSE per threshold") {
    val ce = fixture().countError("m", Array(0.0, 0.85, 1.0))
      .filter(col("category_id") === 0).orderBy("confidence_threshold").collect()
    // cat0: image0 gt_count=1; pred conf .9 → counts: t0:1, t.85:1, t1:0
    assert(ce.map(_.getAs[Double]("MAE")).toSeq == Seq(0.0, 0.0, 1.0))
  }

  test("Evaluator.precisionRecall plumbs confidenceDecimals: per-group bound enforced end-to-end") {
    import spark.implicits._
    // 600 images, one TP pair each, CONTINUOUS confidences (600 distinct
    // values) in ONE category — the web-scale task-skew shape where the
    // kernel's per-group cost degenerates to the group's row count
    val n = 600
    val images = (0L until n).map(i => (i, 1000, 1000, s"i$i.jpg"))
      .toDF("id", "width", "height", "relative_path")
    val gt = (0L until n).map(i => (i, i, 0, 0.0, 0.0, 10.0, 10.0))
      .toDF("id", "image_id", "category_id",
        "box_x_min", "box_y_min", "box_width", "box_height")
    // even preds are TPs (exact gt box), odd preds are far-away FPs —
    // precision varies along the confidence sweep, so the collinear-point
    // dropper keeps the curve's full distinct-confidence resolution
    val preds = (0L until n).map(i => (n + i, i, 0,
        if (i % 2 == 0) 0.0 else 500.0, if (i % 2 == 0) 0.0 else 500.0,
        10.0, 10.0, ((i * 37) % 991).toDouble / 991.0))
      .toDF("id", "image_id", "category_id",
        "box_x_min", "box_y_min", "box_width", "box_height", "confidence")
    val ev = new graft.eval.DetectionEvaluator(images, gt,
      Map("m" -> preds), Map(0 -> "x"))
    // exact path (reindexBins = None → one curve row per distinct
    // confidence): the bound is the raw distinct-confidence count
    val (prExact, apExact) = ev.precisionRecall("m", 0.0, None)
    val exactDistinct = prExact.select("confidence_threshold")
      .distinct().count()
    // (the monotone running-max + collinear dropping keep ~180 of the 600
    // distinct thresholds — still far above the d=2 cap being asserted)
    assert(exactDistinct > 150,
      s"fixture lost its continuous-confidence shape: $exactDistinct")
    // d = 2 through the PUBLIC evaluator: the per-group distinct-confidence
    // bound is 10^2 + 1 regardless of group size (+ the kernel's ≤ 4
    // padding points)
    val (prD2, apD2) = ev.precisionRecall("m", 0.0, None,
      confidenceDecimals = Some(2))
    val d2Distinct = prD2.select("confidence_threshold").distinct().count()
    assert(d2Distinct <= 105,
      s"confidenceDecimals=2 did not cap the bins: $d2Distinct")
    // the quantized AP tracks the exact one (101-bin-reindex consumers see
    // even less difference; this is the raw-curve worst case)
    val a = apExact.collect().head.getAs[Double]("AP")
    val b = apD2.collect().head.getAs[Double]("AP")
    assert(math.abs(a - b) <= 0.02, s"AP drifted: exact=$a d2=$b")
    // lossless when the rounding is: d large enough to preserve every
    // distinct value reproduces the exact curve rows
    val (prD8, apD8) = ev.precisionRecall("m", 0.0, None,
      confidenceDecimals = Some(8))
    assert(prD8.count() == prExact.count())
    assert(apD8.collect().head.getAs[Double]("AP") == a)
  }

  test("matches cache distinguishes minIou thresholds") {
    val images = Seq((0L, 100, 100, "a.jpg")).toDF("id", "width", "height", "relative_path")
    val gt = Seq((0L, 0L, 0, 0.0, 0.0, 10.0, 10.0))
      .toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val preds = Seq((10L, 0L, 0, 0.0, 0.0, 20.0, 10.0, 0.9)) // iou 0.5
      .toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height", "confidence")
    val ev = new graft.eval.DetectionEvaluator(images, gt, Map("m" -> preds), Map(0 -> "x"))
    val loose = ev.matches("m", minIou = 0.0).collect()
    val strict = ev.matches("m", minIou = 0.5).collect()
    assert(loose.exists(r => r.prediction_id.isDefined && r.groundtruth_id.isDefined))
    assert(!strict.exists(r => r.prediction_id.isDefined && r.groundtruth_id.isDefined))
  }
}

class GroupedPrSpec extends SparkFunSuite {
  import spark.implicits._

  test("grouped PR resolves root (image) columns and uses FP prediction attrs") {
    val images = Seq(
      (0L, 100, 100, "a.jpg", "cam0"),
      (1L, 100, 100, "b.jpg", "cam1")
    ).toDF("id", "width", "height", "relative_path", "camera")
    val gt = Seq(
      (0L, 0L, 0, 0.0, 0.0, 10.0, 10.0),
      (1L, 1L, 0, 0.0, 0.0, 10.0, 10.0)
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val preds = Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 10.0, 0.9), // TP on cam0
      (11L, 1L, 0, 50.0, 50.0, 10.0, 10.0, 0.8) // FP on cam1 (gt1 missed)
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height", "confidence")
    val ev = new graft.eval.DetectionEvaluator(images, gt, Map("m" -> preds), Map(0 -> "person"))
    val (pr, ap) = ev.precisionRecallGrouped("m",
      Seq(graft.operators.Grouper.CategoricalGroup("camera", root = true)), minIou = 0.5)
    val byCam = ap.collect().map(r => r.getAs[String]("camera") -> r.getAs[Double]("AP")).toMap
    assert(math.abs(byCam("cam0") - 0.99) < 1e-9) // perfect single detection, 101 bins
    assert(byCam("cam1") == 0.0)                  // FN + FP only
    assert(pr.columns.contains("camera"))
  }

  test("validatePredictions rejects foreign image ids") {
    val images = Seq((0L, 10, 10, "a.jpg")).toDF("id", "width", "height", "relative_path")
    val gt = Seq((0L, 0L, 0, 1.0, 1.0, 2.0, 2.0))
      .toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val badPreds = Seq((1L, 99L, 0, 1.0, 1.0, 2.0, 2.0, 0.5))
      .toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height", "confidence")
    val ev = new graft.eval.DetectionEvaluator(images, gt, Map("m" -> badPreds), Map(0 -> "x"))
    intercept[IllegalArgumentException](ev.validatePredictions("m"))
  }

  test("grouped PR with a continuous group bins gt and FP rows compatibly") {
    val images = Seq((0L, 1000, 1000, "a.jpg")).toDF("id", "width", "height", "relative_path")
    // gt heights span 10..100; pred (FP) heights span 300..400 — with
    // per-table binning these would get disjoint labels
    val gt = Seq(
      (0L, 0L, 0, 0.0, 0.0, 10.0, 10.0),
      (1L, 0L, 0, 200.0, 200.0, 10.0, 100.0)
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height")
    val preds = Seq(
      (10L, 0L, 0, 0.0, 0.0, 10.0, 10.0, 0.9),    // TP on gt0
      (11L, 0L, 0, 500.0, 500.0, 10.0, 400.0, 0.8) // FP, tall box
    ).toDF("id", "image_id", "category_id", "box_x_min", "box_y_min", "box_width", "box_height", "confidence")
    val ev = new graft.eval.DetectionEvaluator(images, gt, Map("m" -> preds), Map(0 -> "x"))
    val (pr, _) = ev.precisionRecallGrouped("m",
      Seq(Grouper.ContinuousGroup("box_height", 2, labelType = Grouper.BinIndexLabel)),
      minIou = 0.5)
    // combined range 10..400, 2 bins → split at 205: gt0+pred10 bin 0,
    // gt1 bin 0, FP(400) bin 1 — FP lands in a REAL bin of the shared scale
    val bins = pr.select("box_height").distinct().collect()
      .map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).sorted
    assert(bins.toSeq == Seq(0, 1), s"bins were $bins")
  }
}

class ResetRootSpec extends SparkFunSuite {
  test("resetImagesRoot rewrites relative paths against the new root") {
    val ds = tinyDataset().copy(imagesRoot = "/data/sets/d1")
    val out = ds.resetImagesRoot("/data")
    assert(out.imagesRoot == "/data")
    val paths = out.images.select("relative_path").collect().map(_.getString(0))
    assert(paths.forall(_.startsWith("sets/d1/")))
    // re-rooting to the same root is a no-op
    val same = ds.resetImagesRoot("/data/sets/d1")
    assert(same.images.select("relative_path").collect().map(_.getString(0)).toSet ==
      ds.images.select("relative_path").collect().map(_.getString(0)).toSet)
  }

  test("URI roots: path algebra keeps scheme://authority; cross-fs fails fast") {
    // resetImagesRoot within one filesystem relativizes the PATH part only
    val ds = tinyDataset().copy(imagesRoot = "hdfs://nn:8020/data/sets/d1")
    val out = ds.resetImagesRoot("hdfs://nn:8020/data")
    assert(out.imagesRoot == "hdfs://nn:8020/data")
    assert(out.images.select("relative_path").collect().map(_.getString(0))
      .forall(_.startsWith("sets/d1/")))
    // crossing filesystems has no relative-path answer
    intercept[IllegalArgumentException](ds.resetImagesRoot("s3a://bucket/data"))
    intercept[IllegalArgumentException](ds.resetImagesRoot("/local/data"))
    // merge-side common root: same authority → common PATH with the
    // authority preserved (java.nio alone would emit "hdfs:/nn:8020/data")
    assert(graft.operators.Merge.commonRoot(
      "hdfs://nn:8020/data/a", "hdfs://nn:8020/data/b") == "hdfs://nn:8020/data")
    intercept[IllegalArgumentException](graft.operators.Merge.commonRoot(
      "hdfs://nn:8020/data/a", "s3a://bucket/data/b"))
    // union across same-fs URI roots re-roots both sides instead of
    // mangling (the pre-fix behavior corrupted every downstream filepath)
    val a = tinyDataset().copy(imagesRoot = "hdfs://nn:8020/data/a")
    val b0 = tinyDataset().copy(imagesRoot = "hdfs://nn:8020/data/b")
    val b = b0.copy(images = b0.images.withColumn("id", col("id") + 100L),
      annotations = b0.annotations
        .withColumn("id", col("id") + 100L)
        .withColumn("image_id", col("image_id") + 100L))
    val merged = graft.operators.Merge.union(a, b)
    assert(merged.imagesRoot == "hdfs://nn:8020/data")
    val rels = merged.images.select("relative_path").collect().map(_.getString(0))
    assert(rels.count(_.startsWith("a/")) == 4 && rels.count(_.startsWith("b/")) == 4)
  }
}
