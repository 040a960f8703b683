package graft

import graft.functions.GraftFunctions
import graft.llm.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class BloomDedupSpec extends SparkFunSuite {
  import spark.implicits._

  private val corpus = DedupCorpus.docs

  private def ref() = Seq(
    (10L, "the quick brown fox"),
    (11L, "jumps over the lazy dog"),
    (12L, "spark engines shuffle data")
  ).toDF("doc_id", "text")

  test("bloomCrossDedup removes exactly the batch docs whose text is in ref") {
    val batch = Seq(
      (0L, "THE  Quick Brown   Fox"),      // dup of 10 modulo case/ws
      (1L, "jumps over the lazy dog"),     // exact dup of 11
      (2L, "a genuinely new document"),
      (3L, "another new one entirely")
    ).toDF("doc_id", "text")
    val bloom = Dedup.buildFingerprintBloom(ref(), expectedItems = 100)
    val kept = Dedup.bloomCrossDedup(batch, ref(), bloom)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("bloom probe has no false negatives; verify join clears false positives") {
    // An UNDERSIZED filter (high fpp) must still give the exact answer.
    val batch = (0L until 200L).map(i => (i, s"unique doc number $i"))
      .toDF("doc_id", "text")
    val tiny = Dedup.buildFingerprintBloom(ref(), expectedItems = 2, fpp = 0.5)
    val kept = Dedup.bloomCrossDedup(batch, ref(), tiny)
    assert(kept.count() == 200)
    // and a batch that IS the ref vanishes entirely
    assert(Dedup.bloomCrossDedup(ref(), ref(), tiny).count() == 0)
  }

  test("null-text batch rows are KEPT (anti-join semantics), batch and stream faces") {
    val batch = Seq(
      (0L, Option("the quick brown fox")),   // dup of ref
      (1L, Option("a novel document")),
      (2L, None: Option[String])             // null text: null key never matches
    ).toDF("doc_id", "text")
    val bloom = Dedup.buildFingerprintBloom(ref(), expectedItems = 100)
    val kept = Dedup.bloomCrossDedup(batch, ref(), bloom)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    val refFps = ref().select(
      graft.llm.TextAnalysis.fingerprint(col("text")).as("fingerprint")).distinct()
    val keptStream = graft.streaming.StreamDedup
      .bloomDedupAgainstCorpus(batch, refFps, bloom)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptStream == Set(1L, 2L))
  }

  test("bloomContains expression: membership, null safety, codegen path") {
    val bloom = Dedup.buildFingerprintBloom(ref(), expectedItems = 100)
    val df = Seq(
      Tuple1(Option("the quick brown fox")),
      Tuple1(Option("not in the reference")),
      Tuple1(None: Option[String])
    ).toDF("text")
    val rows = df.select(
      GraftFunctions.bloomContains(spark,
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")),
        bloom).as("hit")).collect()
    assert(rows(0).getBoolean(0))
    assert(rows(2).isNullAt(0))
    // registered SQL surface works too
    df.createOrReplaceTempView("bloom_probe_t")
    val viaSql = spark.sql(
      "SELECT graft_bloom_contains(md5(regexp_replace(lower(trim(text)), '\\\\s+', ' ')), " +
        s"X'${bloom.map("%02x".format(_)).mkString}') AS hit FROM bloom_probe_t")
      .collect()
    assert(viaSql(0).getBoolean(0))
  }

  test("bloomCrossDedup: back-broadcasts are size-guarded — over-threshold degrades, result identical") {
    import spark.implicits._
    val ref = Seq((100L, "shared text body one"), (101L, "ref only text"))
      .toDF("doc_id", "text")
    val batch = Seq((1L, "shared text body one"), (2L, "fresh batch text"),
      (3L, "another fresh one")).toDF("doc_id", "text")
    val bloom = graft.llm.Dedup.buildFingerprintBloom(ref,
      expectedItems = 100, fpp = 0.01)
    def run() = graft.llm.Dedup.bloomCrossDedup(batch, ref, bloom)
    val expected = run().select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(expected == Seq(2L, 3L))
    spark.conf.set("graft.broadcast.maxBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val degraded = run()
      val plan = degraded.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"bloomCrossDedup still forces a broadcast over threshold:\n$plan")
      assert(degraded.select("doc_id").orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq == expected)
    } finally {
      spark.conf.unset("graft.broadcast.maxBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("bloomCrossDedup with a precomputed fingerprint frame is row-identical") {
    val docs = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val ref = docs.filter(col("doc_id") <= 4)
    val batch = docs.filter(col("doc_id") >= 3)
    val refFps = ref.select(TextAnalysis.fingerprint(col("text")).as("__bc_fp"))
    val bloomA = Dedup.buildFingerprintBloom(ref, expectedItems = 100, fpp = 0.01)
    val bloomB = Dedup.buildFingerprintBloom(ref, expectedItems = 100,
      fpp = 0.01, refFps = refFps)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = ids(Dedup.bloomCrossDedup(batch, ref, bloomA))
    val shared = ids(Dedup.bloomCrossDedup(batch, ref, bloomB, refFps = refFps))
    // doc 3 and 4 are exact copies of nothing in ref except 4 itself:
    // 4 must be dropped (present in ref), 3/5/7/9 kept
    assert(plain == shared)
    assert(!plain.contains(4L) && plain.contains(5L))
  }
}
