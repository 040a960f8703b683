package graft

/** The determinism doctrine, enforced as a sweep: a 1000-executor cluster
  * re-plans stages (AQE), retries tasks, and changes partition counts
  * between runs — an operator whose OUTPUT depends on
  * `spark.sql.shuffle.partitions` silently corrupts results under any of
  * those. Every decision in this engine is derived from content (md5/xxhash
  * uniforms, total orders with explicit tiebreaks) rather than physical
  * placement (`rand()`, `monotonically_increasing_id`,
  * partition-local windows), so the same query over the same data must
  * produce the SAME rows at any partition count.
  *
  * This sweep runs a representative compute gate per operator family at
  * sf0.001 under two different shuffle-partition settings and asserts the
  * full sorted row sets match — covering ids (range-sort dense mint),
  * merge/diff, the matcher and PR/AP kernels, the seeded splitters, the
  * whole dedup ladder (minhash/simhash/embedding/cross-corpus/clusters),
  * sampling/mixture, windows/sessionization, and the composed e2e
  * pipeline. IO round-trip gates are excluded (they exercise the
  * filesystem, not shuffle placement; their executor-side writers are
  * spec'd in IoSpec).
  */
class PartitionInvarianceSpec extends SparkFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private val sweep = Seq(
    "q01_agg_pricing",          // plain agg
    "q04_filter_annotations_empties", // locator cascade (semi/anti joins)
    "q06_reset_index",          // dense ids: range-sort + zipWithIndex
    "q13_merge_union",          // union + id collision shift
    "q14_merge_horizontal",     // merge with intersection validation
    "q15_diff_status",          // full-outer cell-wise diff
    "q19_binning",              // quantile binning (approxQuantile-free path)
    "q22_matches",              // per-image bipartite matcher kernel
    "q23_pr_ap",                // PR/AP windows over the matcher output
    "q26_simple_split",         // seeded random split
    "q27_balanced_split",       // atomize + greedy driver assigner
    "q29_minhash_neardup",      // minhash banding + guard + verify
    "q36_fingerprint",          // rolling-hash fingerprints
    "q40_sessionize",           // gap sessionization
    "q42_match_index",          // anchor join + id realign
    "q46_group_topk",           // windowed top-k
    "q58_confusion_matrix",     // matcher + pivot
    "q59_embedding_neardup",    // LSH banding + adaptive guard
    "q62_neardup_clusters",     // contraction CC clustering
    "q70_tfidf_topterms",       // tf-idf + ranked terms
    "q71_pack_stats",           // distributed prefix-sum packing (offset invariance)
    "q81_top_ngrams",           // exact n-gram counts
    "q92_hash_sample",          // md5-uniform sampling
    "q93_token_mixture",        // token-budget mixture
    "q103_top_ngrams_approx",   // heavy-hitter pass
    "q104_keep_best_cluster",   // cluster + arg-max curation
    "q107_pipeline_e2e",        // composed sample→mixture→packing
    "q108_cross_dedup",         // cross-corpus dedup
    "q109_stream_corpus_match", // stream-static corpus matcher (batch face)
    "q110_paragraph_dedup",     // paragraph removal + ordered reassembly
    "q111_dup_line_stats",      // corpus-wide dup-line fractions
    "q112_semantic_dedup",      // SemDeDup: cells + CC + keep-least-prototypical
    "q113_cross_entropy",       // unigram-model quality scoring
    "q114_chunk_documents",     // sliding-window chunking (pure map)
    "q115_c4_clean",            // C4 line rules (array-lambda map)
    "q116_domain_cap",          // URL canon + per-domain rank
    "q117_bm25_topk",           // BM25 postings + ranked retrieval
    "q118_dup_spans",           // duplicated-window coverage
    "q119_bloom_cross_dedup",   // bloom prefilter + exact verify
    "q120_gopher_rules",        // Gopher quality verdicts (pure map)
    "q121_pq_adc_topk",         // PQ encode + ADC ranked scan
    "q124_ivfadc_topk",         // cell-pruned ADC (nprobe=all face)
    "q126_data_card",           // stratified manifest aggregates
    "q127_script_mix",          // unicode script counting (pure map)
    "q128_stream_bloom_dedup",  // bloom prefilter + static-verify (batch face)
    "q129_epoch_shuffle",       // md5-order dense rank + round-robin shards
    "q130_bigram_entropy",      // interpolated bigram LM scoring
    "q131_hard_negatives",      // cross-label cosine ranking
    "q132_balance_labels",      // exact per-label resampling
    "q133_image_phash_dedup",   // decode -> dHash -> hamming banding
    "q134_audio_dedup",         // PCM decode -> envelope hash -> banding
    "q135_oov_rate",            // vocabulary-coverage scoring
    "q136_html_extract",        // HTML -> text regexp chain (pure map)
    "q137_sq8_topk",            // SQ8 encode + ranked dequant scan
    "q138_ivfadc_store",        // PQ cell store write -> pruned probe read
    "q146_minhash_store",       // minhash store write -> cross-corpus probe core
    "q160_minhash_store_append", // store append -> cross-corpus probe core
    "q139_group_holdout",       // group-hash split (pure map)
    "q140_dsir_resample",       // DSIR weights + Gumbel top-k
    "q141_unimax",              // waterfilling budget allocation
    "q142_char_entropy",        // fused char-distribution kernel (pure map)
    "q143_temperature_mixture", // n^alpha allocation
    "q144_feature_profile",     // exact percentile profile
    "q145_centroid_label",      // literal-centroid argmax labeling
    "q147_setsim_join",         // exact prefix-filtered set-sim join
    "q148_pmi_collocations",    // PMI model tables + ranked pairs
    "q149_exact_sample",        // exact-k hash-order sampling
    "q150_ngram_novelty",       // distinct-gram novelty join
    "q151_zipf_fit",            // rank-ordered OLS folds
    "q152_source_overlap",      // fingerprint overlap matrix
    "q153_blocklist",           // bad-words tagging (pure map)
    "q154_ccnet_band",          // CE scoring + quantile band filter
    "q155_containment_join",    // prefix-filtered containment join
    "q156_nb_classifier",       // closed-form NB log-odds scoring
    "q157_cut_dup_spans",       // span excision + reassembly
    "q158_readability",         // pure-map FK counting
    "q159_group_quantile",      // broadcast per-group thresholds
    "q161_quality_pipeline",    // composed NB filter -> CE band
    "q162_domain_blocklist",    // suffix explode + blocklist semi-join
    "q163_winnowing",           // pure-map window argmin selection
    "q164_markdown_extract",    // pure-map regexp rewrite chain
    "q165_jsonl_roundtrip",     // shard write -> FAILFAST read
    "q166_winnowing_overlap",   // df-capped fingerprint join
    "q167_format_detect",       // pure-map marker counting
    "q168_decontam_holdout",    // split -> shingle sweep composition
    "q169_corpus_diversity",    // hash sample + pair mean
    "q172_adc_rerank",          // ADC shortlist -> exact-cosine rerank
    "q173_snapshot_diff",       // map-side hashes + full-outer id join
    "q174_link_extract",        // regexp harvest (pure map)
    "q175_semantic_decontam",   // broadcast cosine + per-id max
    "q176_lsh_plan",            // closed-form S-curve grid
    "q177_source_drift",        // two-level partial aggs + z-scores
    "q178_hybrid_rrf",          // BM25 ⊕ cosine reciprocal-rank fusion
    "q179_host_pagerank",       // iterative rank joins + dangling mass
    "q180_fix_mojibake",        // literal replace chain (pure map)
    "q181_sentence_segment",    // regexp segmentation (pure map)
    "q183_vocab_coverage",      // distributed prefix sum (offset invariance)
    "q184_anchor_texts",        // zipped two-group regexp harvest
    "q185_unkify",              // count join + ordered reassembly
    "q187_zorder_key",          // pure bit arithmetic (map)
    "q188_length_buckets",      // when-chain buckets + partial aggs
    "q189_weighted_sample",     // exponential-race weighted top-k
    "q190_template_fp",         // tag-sequence hash (pure map)
    "q191_tfidf_cosine_topk",   // VSM postings + norm joins + ranked top-k
    "q123_web_curation_e2e",    // composed clean -> quality -> cap chain
    "q192_corpus_build_e2e",    // the FULL 14-stage corpus-build chain
    "q194_ivfsq_topk",          // IVF-SQ8: cell join + two-phase rank
    "q196_ivfsq_store",         // SQ8 cell store write -> pruned probe read
    "q195_stream_intake_e2e")   // streaming intake loop (store membership)

  test("gate outputs are invariant to the shuffle partition count") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def run(q: String, n: Int): Seq[String] = {
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try collectSorted(SparkEntry.queries(q)(spark, dir))
      finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.catalog.clearCache()
      }
    }
    val diffs = sweep.flatMap { q =>
      val a = run(q, 3)
      val b = run(q, 13)
      if (a == b) None
      else Some(s"$q: ${a.size} vs ${b.size} rows; " +
        s"first diff ${a.zipAll(b, "<missing>", "<missing>")
          .find { case (x, y) => x != y }}")
    }
    assert(diffs.isEmpty,
      s"partition count changed query output:\n${diffs.mkString("\n")}")
  }
}
