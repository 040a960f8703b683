package graft

import org.apache.spark.sql.functions._

/** Round-14 regression locks: the broadcast-guard estimator shape check,
  * the last raw query-contract hints routed through the guard
  * (adcRerankTopK's shortlist) and the plant guard over int-typed id
  * columns. (The MinHash sidecar's meta-before-data write-order lock
  * lives in [[MinHashStoreSpec]], the bloomCrossDedup back-broadcast
  * guard in [[BloomDedupSpec]].) */
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

  test("adcRerankTopK: shortlist hint is size-guarded — over-threshold the whole chain degrades") {
    import spark.implicits._
    val embs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 5 + d * 11) % 23).toFloat)))
      .toDF("vec_id", "embedding")
    val cbs = (0 until 4).map(j =>
      Seq(Array.tabulate(2)(x => j * 2.0 + x), Array.tabulate(2)(x => 20.0 - j - x)))
    val enc = graft.llm.Pq.encode(embs, cbs)
    val queries = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def rerank() = graft.llm.Pq.adcRerankTopK(enc, queries, embs, cbs,
      shortlist = 10, k = 5)
    val expected = rerank().orderBy("query_id", "rank").collect().toSeq
    spark.conf.set("graft.broadcast.maxBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val degraded = rerank()
      val plan = degraded.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"shortlist/query hint still forced over threshold:\n$plan")
      // degraded ≠ broken: same rows through the shuffle-join path
      assert(degraded.orderBy("query_id", "rank").collect().toSeq == expected)
    } finally {
      spark.conf.unset("graft.broadcast.maxBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
    // at defaults the shortlist rides a broadcast hash join again
    val planDefault = rerank().queryExecution.executedPlan.toString
    assert(planDefault.contains("BroadcastHashJoin"),
      s"default-scale rerank lost its broadcast hints:\n$planDefault")
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
