package graft

/** Physical-plan regression tests: lock the scale-critical plan shapes so a
  * refactor can't silently reintroduce full scans, shuffled FK lookups, or
  * single-partition global windows. */
class PlanSpec extends SparkFunSuite {

  private val d = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("q01: shipdate filter pushes to the parquet scan; columns pruned") {
    val plan = planOf("q01_agg_pricing")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!plan.contains("l_tax"), "unused column not pruned from scan")
  }

  test("q02: FK cascade and split propagation are broadcast joins") {
    val plan = planOf("q02_filter_images_cascade")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), "FK lookup fell back to sort-merge")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus)"),
      "dimension filter not pushed to orders scan")
  }

  test("q05: split-count aggregation has map-side partial aggregation") {
    val plan = planOf("q05_split_counts")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"))
  }

  test("q06: dense-id path contains no single-partition global window") {
    val plan = planOf("q06_reset_index")
    // Window without partitionBy renders as "Window [..], [order]" with an
    // empty partition spec and warns at runtime; denseIds must avoid it
    assert(!plan.contains("Window ["), s"global window found in:\n$plan")
  }

  test("q10: iloc positional slice contains no single-partition global window") {
    val plan = planOf("q10_iloc_images")
    assert(!plan.contains("Window ["), s"global window found in:\n$plan")
  }

  test("q23: PR curve pre-aggregates per (group, confidence) before the kernel") {
    // the heavy stage must be a distributed hash aggregate keyed on
    // (key, confidence) — NOT a groupByKey(key) that bounds parallelism by
    // the number of evaluation groups (7 categories)
    val plan = planOf("q23_pr_ap")
    assert("HashAggregate\\(keys=\\[key#\\d+, confidence#\\d+".r.findFirstIn(plan).isDefined,
      s"distributed distinct-confidence compression missing from:\n$plan")
  }

  test("q60: IVF probe path keeps query rows off the driver") {
    // the only LocalTableScan allowed in the IVF plan is the centroid table
    // (driver-side by nature — it comes out of the fitted KMeans model); a
    // local relation carrying query_id would mean query vectors were
    // collected and re-parallelized
    val plan = planOf("q60_ivf_topk")
    val localScans = "LocalTableScan \\[[^\\]]*\\]".r.findAllIn(plan).toList
    assert(!localScans.exists(_.contains("query_id")),
      s"query-derived local relation found: $localScans")
  }

  test("q32: fused cosine expression is in the plan (not zip_with)") {
    val plan = planOf("q32_cosine_topk")
    assert(plan.contains("graft_cosine"))
    assert(!plan.contains("zip_with"))
  }

  test("q72: decontamination joins the TEST side broadcast — train never shuffles on shingles") {
    val plan = planOf("q72_decontam_pairs")
    assert(plan.contains("BroadcastHashJoin"), s"test-side shingle join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "train corpus shuffled on shingle strings — broadcast contract broken")
  }

  test("q81: corpus top-k plans as TakeOrdered, not a global sort of the gram table") {
    val plan = planOf("q81_top_ngrams")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k fell back to global sort:\n$plan")
  }

  test("PII scrub is a pure exchange-free projection over the scan") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, d)
    val plan = graft.llm.Scrub.piiCounts(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"piiCounts introduced a shuffle:\n$plan")
    val plan2 = graft.llm.Scrub.scrub(docs)
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange"), s"scrub introduced a shuffle:\n$plan2")
  }

  test("q70: TF-IDF aggregations are partial (map-side combine) hash aggregates") {
    val plan = planOf("q70_tfidf_topterms")
    assert(plan.contains("HashAggregate"), s"no hash aggregate in tf/df stages:\n$plan")
    assert(!plan.contains("CartesianProduct"), "tf⋈df fell back to cartesian")
  }

  test("q46: grouped top-k is one hash shuffle; the agg reuses the window's partitioning") {
    val plan = planOf("q46_group_topk")
    // exactly one exchange: hash on l_orderkey feeding a partition-LOCAL
    // sort + window; the groupBy(l_orderkey) must reuse that partitioning
    // (a second exchange = the agg re-shuffling what the window shuffled)
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).toList
    assert(exchanges == List("Exchange hashpartitioning"),
      s"expected one hash exchange, got $exchanges in:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      "window top-k fell back to a global range sort")
  }

  test("q92: hash sampling is an exchange-free filter over the scan") {
    val plan = planOf("q92_hash_sample")
    assert(!plan.contains("Exchange"), s"hashSample introduced a shuffle:\n$plan")
  }

  test("rate-based mixture broadcasts the per-source totals — corpus never re-shuffles") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, d).withColumn("n_tokens",
      size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
    val plan = graft.llm.Sampling.mixtureByRate(docs, col("n_tokens"),
      Map("src0" -> 100L)).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"totals join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "corpus shuffled against the one-row-per-source totals frame")
  }

  test("signature pipelines use the fused native expressions") {
    // locks the round-6 rewrite in: a refactor silently falling back to
    // the interpreted aggregate formulations would re-introduce the
    // explode→groupBy shuffle (minhash), the token vote shuffle (simhash),
    // and the K interpreted array walks (hyperplane)
    assert(planOf("q29_minhash_neardup").contains("graft_minhash_sig"))
    assert(planOf("q30_simhash_neardup").contains("graft_simhash64"))
    assert(planOf("q59_embedding_neardup").contains("graft_hyperplane_sig"))
    spark.catalog.clearCache()
  }

  test("q94: repetition signals are a pure exchange-free projection") {
    // the round-6 gramStats fusion turned two full gram-stream shuffles
    // into per-row arithmetic — the whole query is now scan→project
    val plan = planOf("q94_repetition")
    assert(plan.contains("graft_gram_stats"))
    assert(!plan.contains("Exchange"), s"q94 re-grew a shuffle:\n$plan")
  }

  test("q102: interval join is an equi-join, not a nested-loop range join") {
    val plan = planOf("q102_interval_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"interval join degraded to a nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q98: skewed rate mixture stays window-free (no per-source serialization)") {
    val plan = planOf("q98_mixture_skew")
    assert(!plan.contains("Window"),
      s"rate mixture picked up a window — the 90%-source would serialize:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"totals join not broadcast:\n$plan")
  }

  test("q96: keep-best dedup aggregates with map-side combine — no per-group window sort") {
    // max_by over a struct plans as SortAggregate (struct orderings aren't
    // hash-aggregable) but STILL runs partial+final with map-side combine —
    // a heavy-hitter fingerprint reduces per task instead of sorting one
    // straggler window partition
    val plan = planOf("q96_keep_best")
    assert(!plan.contains("Window"), s"keep-best regressed to a window sort:\n$plan")
    assert(plan.contains("SortAggregate") || plan.contains("HashAggregate"),
      s"no partial aggregate in:\n$plan")
  }

  test("band self-joins stay hash joins — never cartesian/nested-loop") {
    // the near-dup candidate joins are equality joins on band keys; a
    // refactor that breaks the join condition (e.g. same-lineage column
    // resolution collapsing to `true`) would silently plan a cross join
    // and melt at scale. q32 is exempt: its brute-force path broadcasts a
    // tiny query set by design.
    for (q <- Seq("q29_minhash_neardup", "q30_simhash_neardup",
        "q59_embedding_neardup", "q33_lsh_topk")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian join")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("q110: paragraph dedup is window-free (array_sort per doc, no global sort)") {
    val plan = planOf("q110_paragraph_dedup")
    assert(!plan.contains("Window"), s"paragraph reassembly uses a window:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"count back-join degenerated:\n$plan")
    assert(plan.contains("HashAggregate"), s"no partial-agg count stage:\n$plan")
  }

  test("q175: semantic decontam broadcasts the holdout; train never sort-merges") {
    val plan = planOf("q175_semantic_decontam")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"holdout side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"train corpus shuffled into a sort-merge join:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"),
      s"per-id max lacks map-side partial aggregation:\n$plan")
  }

  test("q183: vocab coverage has no global single-task window") {
    // the prefix sum checkpoints its result (cache-lifecycle contract), so
    // the window shape is asserted on the helper's captured internal plan —
    // building the gate frame runs the helper, which refreshes the capture
    planOf("q183_vocab_coverage")
    assertPrefixSumShape(graft.operators.PrefixSum.lastInternalPlan,
      "vocabCoverage")
  }

  test("q172: ADC rerank broadcasts the shortlist into the raw-vector scan") {
    val plan = planOf("q172_adc_rerank")
    assert(plan.contains("BroadcastHashJoin"),
      s"shortlist join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus shuffled for the rerank join:\n$plan")
  }

  /** Shared check for the PrefixSum-routed operators (round 10): every
    * window in the plan must be partitioned by the __ps_pid partition-id
    * column — a regression back to `Window.partitionBy(group)` alone
    * would reintroduce the one-sort-task-per-group funnel, and a window
    * with an EMPTY partition spec would be the global funnel. The offset
    * join must ride as a broadcast. Since round 11 the helper checkpoints
    * its result (cache-lifecycle contract), so the shape is asserted on
    * the EXECUTED internal plan it captures, not the downstream gate plan
    * (which now starts at the checkpoint scan). */
  private def assertPrefixSumShape(plan: String, what: String): Unit = {
    assert(plan.contains("__ps_pid"),
      s"$what: partition-offset column missing — prefix sum bypassed?\n$plan")
    plan.linesIterator.filter(_.trim.startsWith("Window ")).foreach { l =>
      assert(l.contains("__ps_pid"),
        s"$what: window not partitioned by __ps_pid:\n$l\n$plan")
    }
    // the offset join must never shuffle the data side; at gate scale the
    // offset set is usually EMPTY and Catalyst eliminates the left join
    // outright (PropagateEmptyRelation) — also a pass
    assert(!plan.contains("SortMergeJoin"),
      s"$what: boundary-offset join shuffled the data side:\n$plan")
  }

  test("q71: sequence packing runs the distributed prefix sum (no per-source window)") {
    planOf("q71_pack_stats")
    assertPrefixSumShape(graft.operators.PrefixSum.lastInternalPlan,
      "packSequences")
  }

  test("q93: exact token mixture runs the distributed prefix sum (no per-source window)") {
    planOf("q93_token_mixture")
    assertPrefixSumShape(graft.operators.PrefixSum.lastInternalPlan,
      "tokenBudgetMixture")
  }

  /** The IVF scan shape every quantized cell probe shares: the probe side
    * is broadcast into the cell join, the rank is two-phase, and the
    * corpus side never sort-merges. */
  private def assertIvfScanShape(gate: String): Unit = {
    val plan = planOf(gate)
    assert(plan.contains("BroadcastHashJoin"),
      s"cell join is not broadcast:\n$plan")
    assert(plan.contains("MapPartitions"),
      s"two-phase rank missing:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side shuffled for the cell join:\n$plan")
  }

  test("q194: IVF-SQ8 corpus never shuffles — probe side broadcast into the cell join, two-phase rank") {
    assertIvfScanShape("q194_ivfsq_topk")
  }

  test("q124/q138/q196: every IVF gate (PQ and SQ8, in memory and from the cell store) keeps the q194 scan shape") {
    Seq("q124_ivfadc_topk", "q138_ivfadc_store", "q196_ivfsq_store")
      .foreach(assertIvfScanShape)
  }

  test("q124/q194: the in-memory IVF scans evaluate the cell argmin once per corpus row") {
    // assignCells' argmin is an array_min over full-dimension (un-sliced)
    // L2 structs; an isnotnull(cell_id) the cell join let Catalyst infer
    // would be pushed below its projection and run it again in a Filter
    val argmin = "array_min\\(array\\(struct\\(d, aggregate\\(zip_with\\(cast\\(".r
    for (gate <- Seq("q124_ivfadc_topk", "q194_ivfsq_topk")) {
      val plan = planOf(gate)
      val n = argmin.findAllIn(plan).size
      assert(n == 1, s"$gate evaluates the cell argmin $n times:\n$plan")
    }
  }

  test("broadcastIfSmall: an over-threshold images side degrades to a shuffle join instead of throwing") {
    // An explicit broadcast() hint is honored UNCONDITIONALLY by Spark (AQE
    // never demotes a user hint) and BroadcastExchange hard-fails past
    // 8 GB / 512M rows — so the FK-dimension joins must drop the hint when
    // the size estimate is over threshold. Simulate "over threshold" by
    // forcing the guard's ceiling to 0 and disabling auto-broadcast: every
    // guarded operator must plan a shuffle join, not BroadcastHashJoin and
    // not an error.
    spark.conf.set("graft.broadcast.maxBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // built INSIDE the conf window: the hint decision is taken when the
      // operator constructs the frame, and create() itself propagates split
      val ds = tinyDataset()
      val plans = Map(
        "withSplitPropagated" ->
          ds.withSplitPropagated.annotations.queryExecution.executedPlan.toString,
        "capBoxes" ->
          graft.functions.Bbox.capBoxes(ds).annotations.queryExecution.executedPlan.toString,
        "removeInvalidAnnotations" ->
          graft.operators.Locators.removeInvalidAnnotations(ds)
            .annotations.queryExecution.executedPlan.toString,
        "resetIndexFromMapping" -> {
          import spark.implicits._
          val mapping = Seq((0L, 10L), (1L, 11L), (2L, 12L), (3L, 13L))
            .toDF("old_id", "new_id")
          graft.operators.Ids.resetIndexFromMapping(ds, mapping,
            removeUnmapped = true).annotations.queryExecution.executedPlan.toString
        })
      for ((name, plan) <- plans) {
        assert(!plan.contains("BroadcastHashJoin"),
          s"$name still forces a broadcast over threshold:\n$plan")
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"$name FK join did not degrade to a shuffle join:\n$plan")
      }
      // resetIndex's id-map join lives inside a zipWithIndex RDD lineage so
      // its plan string can't be asserted — but the whole operator must
      // still EXECUTE (degrade, not throw) with the hint suppressed
      val reset = graft.operators.Ids.resetIndex(ds)
      assert(reset.annotations.count() == 6 && reset.images.count() == 4)
    } finally {
      spark.conf.unset("graft.broadcast.maxBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
    // and with defaults restored the same dimension join is hinted again
    val planDefault =
      tinyDataset().withSplitPropagated.annotations.queryExecution.executedPlan.toString
    assert(planDefault.contains("BroadcastHashJoin"),
      s"small dimension side lost its broadcast hint:\n$planDefault")
  }

  test("q197 chain: over-threshold, no stage force-broadcasts a corpus-derived side") {
    // the round-12 weak: the hard-negative stage broadcast FULL-embeddings
    // projections (query-label and query-vector lookups) — corpus-sized
    // build sides that throw past the 8 GB BroadcastExchange limit. Every
    // hint in the chain (stage-6 lookups, BM25 query frames, decontam's
    // dropped-id anti-join, the dense query side) must now route through
    // the size guard: with the ceiling at 0 and auto-broadcast off, the
    // whole chain must plan ZERO BroadcastHashJoin — equi-joins degrade to
    // shuffle joins; the documented brute dense face becomes a cartesian,
    // which is its honest unhinted shape.
    spark.conf.set("graft.broadcast.maxBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = graft.queries.RetrievalPipelineQueries
        .retrievalChain(spark, d).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"a chain stage still forces a broadcast over threshold:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"chain joins did not degrade to shuffle joins:\n$plan")
    } finally {
      spark.conf.unset("graft.broadcast.maxBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
    // at defaults the guarded hints are live again (the shortlist-side
    // metadata lookups and query frames broadcast as before)
    val planDefault = graft.queries.RetrievalPipelineQueries
      .retrievalChain(spark, d).queryExecution.executedPlan.toString
    assert(planDefault.contains("BroadcastHashJoin"),
      s"default-scale chain lost its broadcast hints:\n$planDefault")
  }

  test("q172 chain: over-threshold, the ADC shortlist hint degrades with the rest") {
    // the round-13 residual: adcRerankTopK raw-broadcast its shortlist —
    // the one hint k× LARGER in rows than the query frames the guard
    // refuses first, and an explicit hint is honored unconditionally. The
    // whole two-stage gate must now plan zero BroadcastHashJoin over
    // threshold (the unhinted ADC scan degrades to its honest cartesian).
    spark.conf.set("graft.broadcast.maxBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = SparkEntry.queries("q172_adc_rerank")(spark, d)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"a q172 stage still forces a broadcast over threshold:\n$plan")
    } finally {
      spark.conf.unset("graft.broadcast.maxBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
    // at defaults both the shortlist join and the query-vector lookup are
    // broadcast hash joins again
    val planDefault = planOf("q172_adc_rerank")
    assert(planDefault.contains("BroadcastHashJoin"),
      s"default-scale q172 lost its broadcast hints:\n$planDefault")
  }
}

class BucketedJoinSpec extends SparkFunSuite {
  test("bucketed tables FK-join without a shuffle exchange") {
    val ds = tinyDataset()
    graft.io.BucketedIO.writeBucketed(ds, "bkt_test", buckets = 4)
    val back = graft.io.BucketedIO.readBucketed(spark, "bkt_test", ds.labelMap)
    assert(back.numImages == 4 && back.numAnnotations == 6)
    // force a non-broadcast join to expose the bucket layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = back.annotations.join(back.images,
        back.annotations("image_id") === back.images("id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 6)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q198 gate: the whole bucketed write→join→agg pipeline plans zero shuffle exchanges") {
    val d = "/root/testdata/sf0.001"
    // with broadcast off the join must ride the bucket layout; the
    // per-image aggregation inherits the same partitioning, so the whole
    // read side is exchange-FREE (the stored-layout answer the
    // fk_join_bucketed scale probe measures at 0-vs-2 exchanges)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q198_bucketed_fk_join")(spark, d)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed gate still shuffles:\n$plan")
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // at defaults too: even a broadcast join keeps the bucketed streamed
    // side's partitioning, so the aggregation still needs no exchange
    val planDefault = SparkEntry.queries("q198_bucketed_fk_join")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!planDefault.contains("Exchange hashpartitioning"),
      s"default-conf bucketed gate shuffles:\n$planDefault")
  }
}
