package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming over the `events` stream table (new scope vs the
  * reference, which has no streams — SURVEY §1.4/§7).
  *
  * Patterns covered:
  *  - `readStream` over a parquet directory with an explicit schema
  *  - event-time tumbling/sliding window aggregation under a watermark
  *  - per-key sessionization with `flatMapGroupsWithState` (custom state)
  *
  * All operators are watermark-bounded so state is finite at any input
  * rate — the requirement for an unbounded 100 TB/day stream.
  */
object EventStream {

  /** events schema template (ts dtype substituted from the stored footer —
    * the table has shipped both as TIMESTAMP(NANOS), read as a nanos int64,
    * and as TIMESTAMP(MICROS) non-UTC-adjusted, read as TIMESTAMP_NTZ;
    * see Tables.events). */
  def rawSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming source over a directory of events parquet → session-tz
    * timestamp `ts`. A streaming source needs its schema up front, and the
    * stored ts dtype varies by generator vintage — one driver-side footer
    * read (batch schema probe, no data scan) picks the right one. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val storedTs = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .schema("ts").dataType
    val raw = spark.readStream
      .schema(rawSchema(storedTs))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    storedTs match {
      case LongType =>
        // integer division, NOT `/`: 2024-epoch nanos (~1.7e18) exceed
        // double's 53-bit mantissa, so the double path truncates to
        // off-by-1μs timestamps for some rows (same hazard documented at
        // Tables.events). The data is μs-clean, so `div 1000` is lossless.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling/sliding event-time window aggregation with a watermark:
    * counts + value sum per (window, event_type). */
  def windowedAggregate(events: DataFrame,
      windowLength: String = "1 hour",
      slide: Option[String] = None,
      watermark: String = "1 hour"): DataFrame = {
    val win = slide match {
      case Some(s) => window(col("ts"), windowLength, s)
      case None => window(col("ts"), windowLength)
    }
    events
      .withWatermark("ts", watermark)
      .groupBy(win.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** Event-time AS-OF join: attach to each `left` row the LATEST `right`
    * row with `right.ts <= left.ts` on the same key — the label/feature
    * joining shape (e.g. "the reference measurement in force when this
    * event happened"). Spark has no native as-of join; this composes one
    * from a tagged union + a single running-`last` window per payload
    * column: ONE shuffle on the key, no range join, no custom planner.
    * Right rows sort BEFORE left rows at equal ts, so ties honor `<=`.
    *
    * `right` must be unique per (keys, ts) — with duplicates, which one
    * wins is partition-order-dependent. Left rows with no prior right row
    * carry null payloads (as-of LEFT join semantics). */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      payload: Seq[String], tsCol: String = "ts"): DataFrame = {
    require(payload.nonEmpty, "as-of join needs at least one payload column")
    payload.foreach(c => require(!left.columns.contains(c),
      s"payload column '$c' already exists on the left side"))
    val keyCols = keys.map(k => col(s"`$k`"))
    val r = right.select((keyCols :+ col(s"`$tsCol`")) ++
      payload.map(c => col(s"`$c`")): _*)
      .withColumn("__side", lit(0))
    val unioned = left.withColumn("__side", lit(1))
      .unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col(s"`$tsCol`"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(unioned) { (df, c) =>
      df.withColumn(s"__asof_$c", last(col(s"`$c`"), ignoreNulls = true).over(w))
    }
    val cleaned = payload.foldLeft(carried.filter(col("__side") === 1)) {
      (df, c) => df.drop(c).withColumnRenamed(s"__asof_$c", c)
    }
    cleaned.drop("__side")
  }

  /** Event-time INTERVAL join: every (left, right) pair on the same key
    * where `left.ts` falls inside `[right.start, right.end]` (inclusive).
    *
    * Spark plans a raw `ts BETWEEN start AND end` join condition as a
    * BroadcastNestedLoopJoin — quadratic and broadcast-bound, the classic
    * range-join scale trap. This composes an EQUI-join instead: right
    * intervals explode onto the fixed-size time chunks they overlap, left
    * rows key to their containing chunk, the join runs on (keys, chunk),
    * and the exact containment filter finishes. Each matched pair appears
    * exactly once (it matches only in the left row's own chunk — no
    * dedup pass needed). Cost: |right| × ceil(span/chunk) exploded rows +
    * one hash join; pick `chunkMs` near the typical interval span so the
    * explosion factor stays ~2. */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String = "ts", startCol: String = "start", endCol: String = "end",
      chunkMs: Long = 3600 * 1000L): DataFrame = {
    require(chunkMs > 0, "chunkMs must be positive")
    val r = right.withColumn("__chunk",
      explode(sequence(
        floor(unix_millis(col(s"`$startCol`")) / chunkMs),
        floor(unix_millis(col(s"`$endCol`")) / chunkMs))))
    val l = left.withColumn("__chunk",
      floor(unix_millis(col(s"`$tsCol`")) / chunkMs))
    l.join(r, keys :+ "__chunk")
      .filter(col(s"`$tsCol`") >= col(s"`$startCol`") &&
        col(s"`$tsCol`") <= col(s"`$endCol`"))
      .drop("__chunk")
  }

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, value: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int, total_value: Double)

  /** BATCH gap-based sessionization per user via flatMapGroupsWithState:
    * the whole group arrives at once, so trailing sessions close at
    * end-of-group. For STREAMING input use [[sessionizeStream]] — this
    * variant would split sessions across micro-batches. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          // batch-driven: the whole group arrives at once, ordered here
          val sorted = it.toArray.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[Session]()
          var cur: Option[SessionState] = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(s.copy(last = t, n = s.n + 1, value = s.value + e.value))
              case Some(s) =>
                out += Session(userId, new java.sql.Timestamp(s.start),
                  new java.sql.Timestamp(s.last), s.n, s.value)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          // close the trailing session (batch semantics; a streaming run
          // would keep it in state until timeout)
          cur.foreach { s =>
            out += Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.value)
          }
          state.remove()
          out.iterator
      }
  }

  /** STREAMING gap sessionization: state persists across micro-batches and
    * a session closes only via event-time timeout (watermark passes
    * last_event + gap). The input must carry a watermark on `ts`. Emits one
    * row per CLOSED session; open sessions stay in state. */
  def sessionizeStream(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.value))
          } else {
            val sorted = it.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            val out = scala.collection.mutable.ArrayBuffer[Session]()
            var cur: Option[SessionState] = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, value = s.value + e.value))
                case Some(s) =>
                  out += Session(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n, s.value)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            // keep the trailing session OPEN in state until the watermark
            // passes its gap deadline
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            out.iterator
          }
      }
  }

  /** NATIVE session-window sessionization — the built-in Spark answer
    * (`session_window` aggregation, state-store backed) alongside the
    * custom-state [[sessionizeStream]]. Works identically on batch and
    * streaming input (streaming needs a watermark on `ts`).
    *
    * Semantics note (asserted by the q101 oracle): `session_window` merges
    * events whose [ts, ts+gap) windows OVERLAP — i.e. consecutive gap
    * STRICTLY below `gap` — whereas the flatMapGroupsWithState kernels use
    * `gap <= gapMs`. An event landing exactly `gap` after its predecessor
    * starts a new session here and continues the session there. Prefer
    * this operator when the built-in semantics fit: no state-timeout code
    * to maintain, and the state store handles spill/recovery. */
  def sessionizeNative(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Run a windowed aggregate as an actual streaming query into a memory
    * sink, synchronously (test/smoke harness). Returns the sink table name. */
  def runToMemory(spark: SparkSession, dir: String, queryName: String,
      windowLength: String = "1 day"): StreamingQuery = {
    val agg = windowedAggregate(readEvents(spark, dir), windowLength,
      watermark = "0 seconds")
    agg.writeStream
      .outputMode(OutputMode.Complete)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}

/** Streaming deduplication — the streaming face of the dedup ladder:
  * watermark-bounded exact dedup on the content fingerprint (state expires
  * with the watermark, so memory is bounded at any stream rate). */
object StreamDedup {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  def dedupExact(stream: DataFrame, textCol: String = "text",
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame = {
    val fp = stream
      .withColumn("fingerprint", graft.llm.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
    // dropDuplicatesWithinWatermark is what actually bounds streaming state:
    // a plain dropDuplicates on a non-event-time subset keeps one entry per
    // distinct key FOREVER regardless of the watermark
    if (fp.isStreaming) fp.dropDuplicatesWithinWatermark("fingerprint")
    else fp.dropDuplicates("fingerprint")
  }

  /** Static MinHash index over a reference corpus, consumed by
    * [[matchesAgainstCorpus]] on a live stream. Built ONCE (one banding
    * shuffle + one per-bucket cap pass over the reference corpus), then
    * every micro-batch joins against it statelessly.
    *
    * `banded` is (bk, ref_id) with ≈ `maxBucketSize` members per band
    * bucket — the streaming face of the occupancy guard: a mega exact-dup
    * cluster in the reference shares every band key, and keeping any ~cap
    * members is enough for an incoming copy to match (identical text
    * verifies at j = 1 against ANY member); near-identical members thinned
    * out of one band are recovered by the other bands. The cap also bounds
    * the per-row join fan-out: one stream row explodes to `bands` keys and
    * meets ≲ bands·cap reference rows — a worst-case cost per stream
    * element, whatever the corpus holds. */
  final case class CorpusIndex(banded: DataFrame, shingles: DataFrame,
      k: Int, bands: Int, shingleN: Int)

  /** Both index frames come back PERSISTED (memory+disk): they are read on
    * every micro-batch (and twice per batch — band join, then shingle
    * verify), and an unpersisted index would re-run the whole reference
    * shingle/signature/banding pipeline each time, which is exactly the
    * cost the index exists to amortize. Unpersist is caller-owned
    * (`idx.banded.unpersist(); idx.shingles.unpersist()` when retiring the
    * index — same ownership contract as the dedup operators' base). */
  def buildCorpusIndex(refDocs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 32, bands: Int = 8,
      shingleN: Int = 3, maxBucketSize: Int = 256): CorpusIndex = {
    val base = graft.llm.Dedup.minHashBase(refDocs, textCol, idCol, k, shingleN)
    val banded0 = graft.llm.Dedup.minHashBanded(base, k, bands)
    // Oversized buckets are thinned by deterministic hash selection, NOT a
    // per-bucket row_number window: a window would sort an entire mega
    // bucket (1e8 boilerplate copies at crawl scale) in ONE task. Keeping
    // id-hash ≡ 0 (mod ceil(n/cap)) is a map-side filter after a plain
    // count join — fully parallel, partitioning-invariant, and leaves an
    // EXPECTED cap survivors (a cost bound, not an exact quota; size
    // asserts belong at ~3× cap).
    val occ = banded0.groupBy(col("bk")).agg(count(lit(1)).as("__n"))
    val banded = banded0.join(occ, Seq("bk"))
      .filter(col("__n") <= maxBucketSize ||
        pmod(xxhash64(col("id")),
          // ceil(n/cap) via long floor-div (Column./ is double division)
          floor((col("__n") + maxBucketSize - 1) / maxBucketSize).cast("long"))
          === 0)
      .select(col("bk"), col("id").as("ref_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shingles = base.select(col("id").as("ref_id"),
      col("sh").as("__sh_ref"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CorpusIndex(banded, shingles, k, bands, shingleN)
  }

  /** Match a document stream against a static reference corpus: the
    * streaming face of [[graft.llm.Dedup.crossCorpusNearDups]]. Emits
    * `(new_id, ref_id, jaccard)` for every stream document with exact
    * shingle Jaccard ≥ `threshold` against a reference document.
    *
    * Built ENTIRELY from per-row expressions and stream-static inner
    * joins — STATELESS: no watermark, no state store, works in append
    * mode at any stream rate; the index cap bounds per-row cost. A pair
    * found through several bands is emitted once per band (removing that
    * duplication would need stateful aggregation) — compose with
    * `dropDuplicatesWithinWatermark` or a batch-layer distinct downstream.
    * The same code path runs on a batch frame for backfills (the q109
    * gate runs it so, with a distinct). */
  def matchesAgainstCorpus(stream: DataFrame, index: CorpusIndex,
      textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.7): DataFrame = {
    // the index side is built from the same base (buildCorpusIndex), so
    // the two sides' shingles and signatures cannot drift apart
    graft.llm.Dedup.minHashBase(stream, textCol, idCol, index.k, index.shingleN)
      .withColumnRenamed("id", "new_id")
      .select(col("new_id"), col("sh"),
        explode(graft.llm.Dedup.bandKeys(col("sig"), index.k, index.bands))
          .as("bk"))
      .join(index.banded, Seq("bk"))
      .join(index.shingles, Seq("ref_id"))
      .select(col("new_id"), col("ref_id"),
        graft.llm.Dedup.jaccard(col("sh"), col("__sh_ref")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT streaming dedup against a STATIC reference corpus with a bloom
    * prefilter — the streaming face of
    * [[graft.llm.Dedup.bloomCrossDedup]]: rows whose fingerprint the bloom
    * rejects pass through map-side (the overwhelming majority on a clean
    * stream — zero joins, zero state); bloom hits are verified by a
    * stream-static LEFT ANTI join against the reference fingerprint set,
    * so fpp only costs verify work, never correctness. Stateless (no
    * watermark needed): each row's verdict depends only on itself and the
    * static side. `refFps` must be the distinct fingerprint frame of the
    * SAME corpus the bloom was built over (persist it — it is read every
    * micro-batch). Works identically on a batch frame (the gate's oracle
    * face). */
  def bloomDedupAgainstCorpus(stream: DataFrame, refFps: DataFrame,
      bloom: Array[Byte], textCol: String = "text"): DataFrame = {
    val (clear, cand) = graft.llm.Dedup.bloomSplit(stream,
      graft.llm.TextAnalysis.fingerprint(col(textCol)), bloom, "__bd_fp")
    clear.unionByName(cand.join(refFps.select(col("fingerprint").as("__bd_fp")),
      Seq("__bd_fp"), "left_anti").drop("__bd_fp"))
  }
}
