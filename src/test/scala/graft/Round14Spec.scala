package graft

/** Round-14 regression locks: the broadcast-guard estimator shape check
  * and the plant guard over int-typed id columns. (The MinHash sidecar's
  * meta-before-data write-order lock lives in [[MinHashStoreSpec]], the
  * bloomCrossDedup back-broadcast guard in [[BloomDedupSpec]], and the
  * adcRerankTopK shortlist-hint guard in [[PqSpec]].) */
class Round14Spec extends SparkFunSuite {

  test("broadcastIfSmall: a narrower estimator is refused; equal/wider shapes pass") {
    import spark.implicits._
    val wide = Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "s", "x")
    val narrow = wide.select("id")
    // the classic mistake: estimating a wide frame with its key projection
    // under-counts bytes and silently keeps a throwable hint
    val e = intercept[IllegalArgumentException] {
      graft.model.GraftDataset.broadcastIfSmall(wide, estimator = narrow)
    }
    assert(e.getMessage.contains("narrower"))
    // equal-width and wider estimators are valid upper bounds
    assert(graft.model.GraftDataset
      .broadcastIfSmall(wide, estimator = wide).count() == 2)
    assert(graft.model.GraftDataset
      .broadcastIfSmall(narrow, estimator = wide).count() == 2)
  }

  test("plant guard: int-typed id column reports collision/empty, not a ClassCastException") {
    import spark.implicits._
    val intIds = Seq((1, "a"), (2, "b")).toDF("doc_id", "text")
    assert(graft.queries.Plants.requireNaturalIdsBelowFloor(
      intIds, "doc_id", "t") == 2L)
    val colliding = Seq((Int.MaxValue, "big")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.queries.Plants.requireNaturalIdsBelowFloor(colliding, "doc_id", "t")
    }
    assert(e.getMessage.contains("planted-id"))
  }
}
