package graft

/** The shared planted-id guard ([[graft.queries.Plants]]): natural ids
  * that reach the plant offset, an empty documents table and int-typed
  * id columns each fail with an explicit message. */
class PlantsSpec extends SparkFunSuite {

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
