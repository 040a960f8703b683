package graft

import org.apache.spark.sql.functions._

/** Round-13 regression locks: the confidenceDecimals skew lever reachable
  * from the public evaluator surface and the shared planted-id guard's edge
  * cases. (The MinHash store's metadata-sidecar lock lives in
  * [[MinHashStoreSpec]].) */
class Round13Spec extends SparkFunSuite {

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

  test("q197 chain: natural-id collision with the plant offset fails loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r13guard").toString
    Seq((graft.queries.Plants.IdFloor + 7L, "colliding doc"), (1L, "tiny"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(dir + "/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.queries.RetrievalPipelineQueries.retrievalChain(spark, dir)
    }
    assert(e.getMessage.contains("planted-id"))
  }

  test("plant guard: empty documents table fails with an explicit message, not an NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.queries.Plants.requireNaturalIdsBelowFloor(empty, "doc_id", "t")
    }
    assert(e.getMessage.contains("empty"))
  }
}
