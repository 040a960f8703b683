package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingSpec extends SparkFunSuite {
  import spark.implicits._

  test("streaming windowed aggregate over events parquet equals batch result") {
    val dir = "/root/testdata/sf0.001"
    val q = EventStream.runToMemory(spark, dir, "stream_daily", "1 day")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_daily")
      .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"))
    val batch = Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(collectSorted(streamed) == collectSorted(batch))
    assert(streamed.count() > 0)
  }

  test("streaming and batch event timestamps agree exactly (ns→μs integer div)") {
    // the double-division hazard is real at 2024-epoch ns magnitudes: there
    // exist μs-clean longs whose double image rounds far enough down that
    // `(ts / 1000).cast(long)` is off by 1μs where `ts div 1000` is exact
    val edge = Iterator.iterate(1721001234567891000L)(_ + 1000L).take(200)
      .find(v => (v.toDouble / 1000).toLong != v / 1000)
    assert(edge.isDefined, "no representability edge found — magnitude wrong?")
    // end-to-end: the streaming reader's conversion must agree with the
    // batch loader's on every real row (skip, not error, without testdata)
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val q = EventStream.readEvents(spark, dir).writeStream
      .format("memory").queryName("ns_check")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamTs = spark.table("ns_check").select("event_id", "ts")
    val batchTs = Tables.events(spark, dir).select("event_id", "ts")
    assert(streamTs.except(batchTs).count() == 0)
    assert(batchTs.except(streamTs).count() == 0)
  }

  test("sliding windows emit overlapping buckets") {
    val events = Seq(
      (0L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1L, "click", 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:40:00"), 1L, "click", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStream.windowedAggregate(events, "1 hour", Some("30 minutes"),
      watermark = "0 seconds")
    // batch mode: event 0 ∈ [23:30,00:30),[00:00,01:00); event 1 ∈ [00:30,01:30),[00:00,01:00)
    val counts = out.select(
      date_format(col("window_start"), "HH:mm").as("s"), col("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("00:00") == 2L)
    assert(counts("23:30") == 1L)
    assert(counts("00:30") == 1L)
  }

  test("sessionization groups events by inactivity gap per user") {
    val mk = (id: Long, t: String, u: Long) =>
      EventStream.Event(id, java.sql.Timestamp.valueOf(t), u, "e", 1.0)
    val events = Seq(
      mk(0, "2024-01-01 00:00:00", 1), mk(1, "2024-01-01 00:10:00", 1),
      mk(2, "2024-01-01 02:00:00", 1), // > 30min gap → new session
      mk(3, "2024-01-01 00:05:00", 2)
    ).toDS()
    val sessions = EventStream.sessionize(events).collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(sessions.length == 3)
    assert(sessions(0).n_events == 2 && sessions(0).user_id == 1)
    assert(sessions(1).n_events == 1)
    assert(sessions(2).user_id == 2 && sessions(2).total_value == 1.0)
  }

  test("streaming sessionize keeps sessions open across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[EventStream.Event]
    val sessions = EventStream.sessionizeStream(
      source.toDS().withWatermark("ts", "0 seconds").as[EventStream.Event],
      gapMs = 30 * 60 * 1000L)
    val q = sessions.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sess_stream").start()
    try {
      def ev(id: Long, t: String, u: Long) =
        EventStream.Event(id, java.sql.Timestamp.valueOf(t), u, "e", 1.0)
      // batch 1: two events 5 min apart — session must stay OPEN
      source.addData(ev(0, "2024-01-01 00:00:00", 1), ev(1, "2024-01-01 00:05:00", 1))
      q.processAllAvailable()
      assert(spark.table("sess_stream").count() == 0, "session closed too early")
      // batch 2: a third event within the gap extends the same session
      source.addData(ev(2, "2024-01-01 00:20:00", 1))
      q.processAllAvailable()
      assert(spark.table("sess_stream").count() == 0)
      // batch 3: far-future event advances the watermark past the deadline →
      // the first session closes with ALL THREE events (not split per batch)
      source.addData(ev(3, "2024-01-01 03:00:00", 1))
      q.processAllAvailable()
      source.addData(ev(4, "2024-01-01 06:00:00", 1))
      q.processAllAvailable()
      val closed = spark.table("sess_stream").collect()
      assert(closed.nonEmpty, "no session closed after watermark advance")
      val first = closed.minBy(_.getAs[java.sql.Timestamp]("session_start").getTime)
      assert(first.getAs[Int]("n_events") == 3,
        s"session split across batches: ${closed.mkString(";")}")
    } finally q.stop()
  }
}

class IvfStreamDedupSpec extends SparkFunSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("native session_window sessionizer runs on a real stream (append mode)") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val stream = EventStream.readEvents(spark, dir).withWatermark("ts", "0 seconds")
    val q = EventStream.sessionizeNative(stream, "30 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("native_sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("native_sessions")
    // append mode emits only sessions CLOSED by the final watermark
    // (= max event time): the batch result filtered the same way must match
    val batch = Tables.events(spark, dir)
    val maxTs = batch.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val expected = EventStream.sessionizeNative(batch, "30 minutes")
      .filter(col("session_end") <= lit(maxTs))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("session_start"), col("n_events"),
        round(col("total_value"), 2).as("tv"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.count() > 0)
    assert(key(streamed) == key(expected))
  }

  test("sessionizer state survives micro-batch boundaries (maxFilesPerTrigger=1)") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val dir = Files.createTempDirectory("graft_stream_mb").toString
    val base = 1704067200000L // 2024-01-01 00:00:00 UTC
    def ev(id: Long, user: Long, minute: Long, v: Double) =
      (id, new java.sql.Timestamp(base + minute * 60000L), user, "click", v)
    // file 0 → batch 1: user 1's burst; user 2's session STARTS (min 55)
    // file 1 → batch 2: user 2's session CONTINUES (min 65 — within the
    //   30-min gap, so state must carry across the batch boundary); user
    //   1 returns at min 120 (gap exceeded → closes the first session)
    // file 2 → batch 3: far-future sentinel advances the watermark so
    //   every real trailing session closes by event-time timeout in the
    //   no-data flush batch
    val files = Seq(
      Seq(ev(1, 1, 0, 1.0), ev(2, 1, 5, 1.5), ev(3, 1, 10, 2.0), ev(4, 2, 55, 4.0)),
      Seq(ev(5, 2, 65, 5.0), ev(6, 1, 120, 3.0)),
      Seq(ev(7, 99L, 60L * 24 * 30, 0.0)))
    files.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$dir/_tmp$i"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(dir, f"$i%03d.parquet"))
      IoUtil.rmTree(tmp)
      // explicit increasing mtimes pin the FileStreamSource processing order
      Files.setLastModifiedTime(Paths.get(dir, f"$i%03d.parquet"),
        FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val stream = spark.readStream
      .schema("event_id long, ts timestamp, user_id long, event_type string, value double")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withWatermark("ts", "0 seconds")
      .as[EventStream.Event]
    val q = EventStream.sessionizeStream(stream, gapMs = 30 * 60 * 1000L)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("mb_sessions")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3, s"expected >=3 data micro-batches, got $dataBatches")
    val got = spark.table("mb_sessions")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("total_value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
        r.getInt(3), r.getDouble(4))).sortBy(t => (t._1, t._2))
    // batch-path oracle on the same events (sentinel excluded: its session
    // never closes in the stream, and the batch path would force-close it)
    val batchDs = files.flatten.filter(_._3 != 99L)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStream.Event]
    val expected = EventStream.sessionize(batchDs, gapMs = 30 * 60 * 1000L)
      .collect()
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime,
        s.n_events, s.total_value)).sortBy(t => (t._1, t._2))
    assert(got.toSeq == expected.toSeq,
      s"streaming sessions != batch sessions\n got: ${got.toSeq}\n exp: ${expected.toSeq}")
    // the cross-boundary session really merged: user 2 has ONE session of 2
    val u2 = got.filter(_._1 == 2L)
    assert(u2.length == 1 && u2.head._4 == 2 && u2.head._5 == 9.0,
      s"user 2's session split across the batch boundary: ${u2.toSeq}")
    IoUtil.rmTree(dir)
  }

  test("IVF index probes centroid buckets and finds the identical vector") {
    val d = "/root/testdata/sf0.001"
    val embs = Tables.embeddings(spark, d)
    val index = graft.llm.Ivf.build(embs, nCentroids = 8, seed = 42)
    assert(index.centroids.length == 8)
    val queries = embs.filter(col("vec_id") < 3)
    val res = graft.llm.Ivf.topK(index, queries, k = 5, nprobe = 3)
    val byQuery = res.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    assert(byQuery.values.forall(_.length == 5))
    // IVF top hit should match brute force for most queries (recall check):
    val bf = graft.llm.Similarity.bruteForceTopK(embs, queries, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val ivfTop = res.filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val agree = bf.keys.count(q => bf(q) == ivfTop(q))
    assert(agree >= 2, s"IVF top-1 agreed with brute force on only $agree/3")
  }

  test("streaming dedup drops same-fingerprint rows within the watermark") {
    val docs = Seq(
      (0L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "hello world"),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "HELLO   world"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "different")
    ).toDF("doc_id", "ts", "text")
    val out = graft.streaming.StreamDedup.dedupExact(docs)
    assert(out.count() == 2)
  }

  test("stream bloom dedup: real stream equals batch face, exact under high fpp") {
    import graft.streaming.StreamDedup
    import graft.llm.{Dedup, TextAnalysis}
    val dir = java.nio.file.Files.createTempDirectory("bloom_stream").toString
    val ref = Seq(
      (0L, "the quick brown fox"),
      (1L, "jumps over the lazy dog"),
      (2L, "spark engines shuffle data")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "THE  quick Brown fox"),        // dup of 0 modulo case/ws
      (11L, "a brand new document"),
      (12L, "jumps over the lazy dog"),     // exact dup of 1
      (13L, "another novel text entirely")
    ).toDF("doc_id", "text")
    incoming.write.mode("overwrite").parquet(dir)
    // tiny filter → high fpp: verify traffic must flow, result stays exact
    val bloom = Dedup.buildFingerprintBloom(ref, expectedItems = 2, fpp = 0.5)
    val refFps = ref.select(TextAnalysis.fingerprint(col("text"))
      .as("fingerprint")).distinct().persist()
    try {
      val batch = StreamDedup.bloomDedupAgainstCorpus(incoming, refFps, bloom)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batch == Set(11L, 13L))
      val stream = spark.readStream.schema(incoming.schema).parquet(dir)
      val out = StreamDedup.bloomDedupAgainstCorpus(stream, refFps, bloom)
      assert(out.isStreaming)
      val q = out.select("doc_id").writeStream.format("memory")
        .queryName("bloom_stream_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val streamed = spark.table("bloom_stream_out")
        .collect().map(_.getLong(0)).toSet
      assert(streamed == batch)
    } finally refFps.unpersist()
  }

  test("stream-static corpus matcher: real stream equals batch, stateless plan") {
    import graft.streaming.StreamDedup
    val dir = java.nio.file.Files.createTempDirectory("corpus_match").toString
    val ref = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "lorem ipsum dolor sit amet consectetur adipiscing elit")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 0
      (11L, "the quick brown fox jumps over the lazy cat tonight"), // near dup of 0
      (12L, "completely unrelated words about spark and shuffles here"),
      (13L, "one two three four five six seven eight nine ten")     // exact dup of 1
    ).toDF("doc_id", "text")
    incoming.write.mode("overwrite").parquet(dir)
    // buildCorpusIndex persists both frames itself (reused every
    // micro-batch); unpersist on retirement is caller-owned
    val idx = StreamDedup.buildCorpusIndex(ref)
    try {
      val expected = StreamDedup.matchesAgainstCorpus(incoming, idx,
        threshold = 0.5)
        .select("new_id", "ref_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(expected == Set((10L, 0L), (11L, 0L), (13L, 1L)))
      val stream = spark.readStream.schema(incoming.schema).parquet(dir)
      val matched = StreamDedup.matchesAgainstCorpus(stream, idx,
        threshold = 0.5)
      assert(matched.isStreaming)
      val q = matched.writeStream.format("memory").queryName("corpus_match")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val got = spark.table("corpus_match").collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("ref_id"))).toSet
      assert(got == expected, s"stream $got != batch $expected")
    } finally { idx.banded.unpersist(); idx.shingles.unpersist() }
  }

  test("corpus index caps band buckets; incoming copy of a mega cluster still matches") {
    import graft.streaming.StreamDedup
    val mega = "the same boilerplate page text repeated here verbatim"
    val ref = ((0L until 100L).map(i => (i, mega)) ++
      Seq((500L, "alpha beta gamma delta epsilon zeta eta")))
      .toDF("doc_id", "text")
    val idx = StreamDedup.buildCorpusIndex(ref, maxBucketSize = 8)
    // hash thinning leaves ~cap survivors per mega bucket (expected 8 of
    // 100; the documented bound for asserts is ~3× cap), far below the
    // uncapped 100 — and with NO per-bucket sort task
    val occ = idx.banded.groupBy("bk").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(occ <= 24, s"expected ~8 survivors per bucket, got $occ")
    val incoming = Seq((1000L, mega),
      (1001L, "totally different content again")).toDF("doc_id", "text")
    try {
      val got = StreamDedup.matchesAgainstCorpus(incoming, idx, threshold = 0.9)
        .select("new_id", "ref_id").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the copy matches the thinned SURVIVORS of the mega cluster, nothing else
      assert(got.nonEmpty && got.forall { case (n, r) => n == 1000L && r < 100L })
    } finally { idx.banded.unpersist(); idx.shingles.unpersist() }
  }

  test("quality rules apply unchanged on a stream (stateless column exprs)") {
    val dir = java.nio.file.Files.createTempDirectory("qr_stream").toString
    val docs = Seq(
      (0L, "the cat sat on the mat with a hat and a bat by the flat"),
      (1L, "spam spam spam spam spam spam"),
      (2L, "ok")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val filtered = graft.llm.TextAnalysis.qualityFilter(stream, "text",
      minTokens = 5, minStopwordRatio = 0.05, maxRepetitionRatio = 0.5)
    assert(filtered.isStreaming)
    val q = filtered.writeStream.format("memory").queryName("qr_mem")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val kept = spark.table("qr_mem").collect().map(_.getAs[Long]("doc_id"))
    assert(kept.toSeq == Seq(0L))
  }

  test("bestF1 picks the max-f1 row per group; confusionWide pivots") {
    val pr = Seq(
      (0, 0.9, 0.5, 0.6, 0.8), (0, 0.8, 0.7, 0.75, 0.5), (1, 1.0, 0.1, 0.18, 0.9)
    ).toDF("category_id", "precision", "recall", "f1_score", "confidence_threshold")
    val best = graft.eval.EvalReports.bestF1(pr, Seq("category_id")).collect()
      .map(r => r.getAs[Int]("category_id") -> r.getAs[Double]("f1_score")).toMap
    assert(best == Map(0 -> 0.75, 1 -> 0.18))
    val cm = Seq(("person", "person", 0.9), ("person", "None", 0.1), ("car", "car", 1.0))
      .toDF("groundtruth_label", "prediction_label", "share")
    val wide = graft.eval.EvalReports.confusionWide(cm)
    val person = wide.filter(col("groundtruth_label") === "person").collect()(0)
    assert(person.getAs[Double]("person") == 0.9)
    assert(person.getAs[Double]("None") == 0.1)
    assert(person.getAs[Double]("car") == 0.0)
  }

  test("intervalJoin: inclusive bounds, one row per matched pair across chunks") {
    def ts(minute: Long) = new java.sql.Timestamp(1704067200000L + minute * 60000L)
    val left = Seq(
      (1L, ts(0), 10.0),    // exactly at w1 start (inclusive)
      (1L, ts(90), 20.0),   // exactly at w1 end (inclusive), 2nd chunk
      (1L, ts(91), 30.0),   // just past w1 end
      (2L, ts(45), 40.0),   // user 2 inside w1 span but no window row
      (1L, ts(600), 50.0)   // inside w2
    ).toDF("user_id", "ts", "value")
    val right = Seq(
      (1L, ts(0), ts(90), "w1"),   // spans two 1h chunks
      (1L, ts(590), ts(610), "w2")
    ).toDF("user_id", "w_start", "w_end", "window_id")
    val out = EventStream.intervalJoin(left, right, Seq("user_id"),
      tsCol = "ts", startCol = "w_start", endCol = "w_end", chunkMs = 3600 * 1000L)
      .select(col("window_id"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).sorted.toSeq
    // both w1 endpoints kept (inclusive), each pair exactly once, 91' and
    // user-2 rows dropped, w2 matched
    assert(out == Seq("w1" -> 10.0, "w1" -> 20.0, "w2" -> 50.0))
  }

  test("asOfJoin: latest right row at-or-before each left ts, per key") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 00:05:00"), 10L), // after r@00:00 → 1.0
      (2L, ts("2024-01-01 00:30:00"), 10L), // ties r@00:30 → 2.0 (<= wins)
      (3L, ts("2024-01-01 01:00:00"), 10L), // after r@00:30 → 2.0
      (4L, ts("2023-12-31 23:00:00"), 10L), // before any right row → null
      (5L, ts("2024-01-01 00:10:00"), 20L)  // user 20 has no right rows → null
    ).toDF("event_id", "ts", "user_id")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), 1.0),
      (10L, ts("2024-01-01 00:30:00"), 2.0)
    ).toDF("user_id", "ts", "ref_value")
    val out = EventStream.asOfJoin(left, right, Seq("user_id"), Seq("ref_value"))
    assert(out.count() == 5)
    val m = out.collect().map(r =>
      r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("ref_value")).map(_.toDouble)).toMap
    assert(m(1L).contains(1.0))
    assert(m(2L).contains(2.0))
    assert(m(3L).contains(2.0))
    assert(m(4L).isEmpty)
    assert(m(5L).isEmpty)
    // left columns survive untouched; no helper columns leak
    assert(out.columns.sorted.toSeq == Seq("event_id", "ref_value", "ts", "user_id"))
  }

  test("asOfJoin: multiple payload columns carried from the same right row") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 02:00:00"), 7L))
      .toDF("event_id", "ts", "user_id")
    val right = Seq(
      (7L, ts("2024-01-01 00:00:00"), 1.0, "a"),
      (7L, ts("2024-01-01 01:00:00"), 2.0, "b")
    ).toDF("user_id", "ts", "v", "tag")
    val row = EventStream.asOfJoin(left, right, Seq("user_id"), Seq("v", "tag"))
      .collect()(0)
    assert(row.getAs[Double]("v") == 2.0 && row.getAs[String]("tag") == "b")
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
}
