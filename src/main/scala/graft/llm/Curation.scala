package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Web-corpus curation heuristics from the public C4 (Raffel et al. 2020,
  * "Exploring the Limits of Transfer Learning", §2.2) and RefinedWeb
  * (Penedo et al. 2023, §3.1) pipelines: line-level cleaning, URL
  * canonicalization, and per-domain document caps.
  *
  * Everything here is pure column expressions (split / filter / transform /
  * regexp over arrays) — no UDFs, no explode, so the cleaning pass is one
  * narrow codegen'd map over the scan regardless of corpus size.
  */
object Curation {

  /** C4's line-level cleaning rules, verbatim from the paper:
    *
    *   - a LINE survives iff it ends in a terminal punctuation mark
    *     (`terminalPunct`), carries at least `minWordsPerLine` whitespace
    *     words, and does not contain (case-insensitively) any of
    *     `badLineWords` ("javascript" in C4 — cookie/JS-warning
    *     boilerplate);
    *   - a DOCUMENT is dropped iff its raw text contains any of
    *     `dropDocPhrases` anywhere ("lorem ipsum" and the curly brace in
    *     C4 — placeholder text and source code), or fewer than
    *     `minKeptLines` lines survive the line filter.
    *
    * Returns the surviving documents with `textCol` rewritten to the kept
    * lines joined by '\n', plus bookkeeping columns `n_lines` (lines in the
    * input) and `n_kept` (lines that survived); every other column rides
    * along unchanged.
    *
    * Scale: a single whole-stage-codegen map — the line filter runs inside
    * `filter(lines, …)` on the split array, so there is no explode, no
    * shuffle, and per-row memory is the document's own line array. At
    * 100 TB this is scan-bound, exactly like the reference pipelines.
    */
  def c4Clean(docs: DataFrame, textCol: String = "text",
      minWordsPerLine: Int = 5, minKeptLines: Int = 3,
      terminalPunct: Seq[String] = Seq(".", "!", "?", "\""),
      badLineWords: Seq[String] = Seq("javascript"),
      dropDocPhrases: Seq[String] = Seq("lorem ipsum", "{")): DataFrame = {
    require(terminalPunct.nonEmpty, "need at least one terminal punctuation")
    val c4 = graft.functions.GraftFunctions.c4CleanStruct(docs.sparkSession,
      col(textCol), minWordsPerLine, terminalPunct, badLineWords,
      dropDocPhrases)
    docs
      .withColumn("__c4", c4)
      .withColumn("n_lines", col("__c4").getField("n_lines").cast("long"))
      .withColumn("n_kept", col("__c4").getField("n_kept").cast("long"))
      .filter(!col("__c4").getField("doc_bad") &&
        col("n_kept") >= minKeptLines)
      .withColumn(textCol, col("__c4").getField("text"))
      .drop("__c4")
  }

  /** CCNet-style perplexity BANDING: score every document by unigram
    * cross-entropy against a reference model ([[Corpus.crossEntropy]] —
    * the KenLM-proxy quality signal) and keep the MIDDLE quantile band of
    * the corpus' own score distribution — very low CE is boilerplate /
    * reference-duplicated text, very high CE is junk or wrong-language;
    * CCNet's head/middle split is this recipe with corpus-derived
    * thresholds. Emits the surviving docs as `(idCol, n_tokens, score)`.
    *
    * Plan: one scoring pass (per-doc·word pre-agg + model join), ONE
    * percentile aggregate over the scored frame for both thresholds (a
    * one-row broadcast — no driver action, no sort of the corpus), one
    * band filter. The scored frame is persisted for its two consumers
    * (thresholds + filter); caches are caller-owned.
    *
    * Determinism: the band compares the score ROUNDED to 6 (the q113
    * cross-engine convention) against thresholds interpolated from those
    * same rounded values (`percentile` ≡ DuckDB `quantile_cont`, the q144
    * lock), so a replay can never flip a borderline document. Use
    * exactly-representable quantiles (0.25/0.75, not 1/3).
    *
    * Scale knob ([[Corpus.featureQuantiles]]' contract): `exact = true`
    * buffers every score in the final percentile reducer — exact and fine
    * to ~10⁸ docs, NOT at corpus scale. `exact = false` switches to
    * `percentile_approx` (a fixed-size QuantileSummaries sketch that
    * merges tree-wise — the 100-TB path); thresholds then carry sketch
    * error, which only moves the BAND EDGES (CCNet's thresholds are
    * themselves heuristic), never mis-scores a document. */
  def perplexityBandFilter(docs: DataFrame, refCounts: DataFrame,
      loQ: Double = 0.25, hiQ: Double = 0.75, textCol: String = "text",
      idCol: String = "doc_id", exact: Boolean = true,
      accuracy: Int = 10000,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ,
      s"need 0 <= loQ < hiQ <= 1: ($loQ, $hiQ)")
    val scored = graft.llm.Corpus.crossEntropy(docs, refCounts, textCol, idCol)
      .withColumn("score", round(col("cross_entropy"), 6))
      .drop("cross_entropy")
      .persist(storage)
    val qAgg =
      if (exact) percentile(col("score"), typedLit(Seq(loQ, hiQ)))
      else percentile_approx(col("score"), typedLit(Seq(loQ, hiQ)),
        lit(accuracy))
    val th = scored.agg(qAgg.as("__q"))
      .select(element_at(col("__q"), 1).as("__lo"),
        element_at(col("__q"), 2).as("__hi"))
    scored.crossJoin(broadcast(th))
      .filter(col("score") >= col("__lo") && col("score") <= col("__hi"))
      .drop("__lo", "__hi")
  }

  /** C4 §2.2's "bad words" stage as a TAGGER: annotate every document
    * with its blocklist hits (`n_blocked`, `blocked_terms` — the matched
    * words sorted and comma-joined) instead of silently dropping — audits
    * want the why, and thresholded policies (drop at ≥ k hits) compose on
    * the counts. Matching is word-level against the document's DISTINCT
    * lowercased whitespace tokens (the C4 convention; phrase-level
    * matching belongs to `dropDocPhrases` in [[c4Clean]]).
    *
    * Scale: the blocklist (hundreds to a few thousand words) rides into
    * the plan as a LITERAL array — `array_intersect` against it is one
    * codegen map over the scan; no join, no shuffle, no broadcast
    * round-trip. */
  def blocklistTag(docs: DataFrame, words: Seq[String],
      textCol: String = "text"): DataFrame = {
    require(words.nonEmpty, "empty blocklist")
    val lw = words.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.sorted
    val toks = array_distinct(filter(
      split(lower(trim(col(textCol))), "\\s+"), w => length(w) > 0))
    // null text has no words → zero hits (size(null) would read -1)
    val matched = coalesce(
      array_sort(array_intersect(toks, typedLit(lw))),
      typedLit(Seq.empty[String]))
    docs
      .withColumn("blocked_terms", array_join(matched, ","))
      .withColumn("n_blocked", size(matched).cast("long"))
  }

  /** The consuming filter: documents with NO blocklist hit ([[blocklistTag]]
    * with the standard drop-on-any policy); tag columns are removed. */
  def blocklistFilter(docs: DataFrame, words: Seq[String],
      textCol: String = "text"): DataFrame =
    blocklistTag(docs, words, textCol)
      .filter(col("n_blocked") === 0)
      .drop("blocked_terms", "n_blocked")

  /** The declarative (array-lambda) formulation of [[c4Clean]] — kept as
    * the parity reference for the fused kernel (CurationSpec asserts the
    * two produce identical frames over the gate corpus). Lambdas evaluate
    * interpreted, so this face is ~10× slower when composed downstream —
    * use [[c4Clean]]. */
  private[graft] def c4CleanLambda(docs: DataFrame, textCol: String = "text",
      minWordsPerLine: Int = 5, minKeptLines: Int = 3,
      terminalPunct: Seq[String] = Seq(".", "!", "?", "\""),
      badLineWords: Seq[String] = Seq("javascript"),
      dropDocPhrases: Seq[String] = Seq("lorem ipsum", "{")): DataFrame = {
    require(terminalPunct.nonEmpty, "need at least one terminal punctuation")
    val lines = split(col(textCol), "\n")
    val keepLine: Column => Column = l => {
      val t = trim(l)
      val endsOk = terminalPunct.map(p => t.endsWith(p)).reduce(_ || _)
      val wordsOk = (t =!= "") && (size(split(t, "\\s+")) >= minWordsPerLine)
      val cleanOk =
        if (badLineWords.isEmpty) lit(true)
        else badLineWords.map(w => !lower(t).contains(w.toLowerCase))
          .reduce(_ && _)
      endsOk && wordsOk && cleanOk
    }
    val docBad =
      if (dropDocPhrases.isEmpty) lit(false)
      else dropDocPhrases.map(p => lower(col(textCol)).contains(p.toLowerCase))
        .reduce(_ || _)
    docs
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("__c4_kept", filter(lines, keepLine))
      .withColumn("n_kept", size(col("__c4_kept")).cast("long"))
      .filter(!docBad && col("n_kept") >= minKeptLines)
      .withColumn(textCol, array_join(col("__c4_kept"), "\n"))
      .drop("__c4_kept")
  }

  /** Canonicalize a URL for dedup/cap bookkeeping (RefinedWeb §3.1-style):
    * lowercase the scheme and host, strip a leading "www." host label,
    * drop the `#fragment`, drop explicit default ports (`:80` for http,
    * `:443` for https), drop `utm_*` tracking query parameters (and the
    * '?' itself when none survive), and rewrite an empty path to "/".
    * Non-`utm_` query parameters keep their original order — reordering
    * would conflate genuinely different URLs on servers where order
    * matters.
    *
    * Inputs that do not look like `scheme://host…` are returned unchanged
    * (null-safe: null in, null out). Pure regexp/array expressions —
    * codegen'd, no UDF. Registered-domain extraction (public-suffix list)
    * is out of scope; [[urlDomain]] returns the canonical host, which is
    * the right cap key for single-label sites and a conservative
    * (finer-grained) one for shared suffixes. */
  def normalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1))
    val pathq = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$", 1)
    val host0 = regexp_replace(hostport, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val path = regexp_extract(pathq, "^([^?]*)", 1)
    val query = regexp_extract(pathq, "\\?(.*)$", 1)
    val params = filter(split(query, "&"),
      p => (p =!= "") && !lower(p).startsWith("utm_"))
    val cleanQuery = when(size(params) > 0,
      concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
    val cleanPath = when(path === "", lit("/")).otherwise(path)
    when(scheme === "" || hostport === "", url)
      .otherwise(concat(scheme, lit("://"), host, cleanPath, cleanQuery))
  }

  /** HTML → text extraction — the ingest stage in front of every web
    * pipeline here (C4/RefinedWeb run a WET/trafilatura extraction before
    * any quality rule; this is the engine-side equivalent for raw HTML
    * columns). Deterministic regex chain, not a DOM parser — the
    * curation-scale contract is "strip markup, keep prose structure":
    *
    *   1. `<script>`/`<style>` elements and HTML comments drop WITH their
    *      contents;
    *   2. block-level tags (`p`, `div`, `br`, `li`, `ul`, `ol`, `tr`,
    *      `table`, `h1`–`h6`, `section`, `article`) become newlines, so
    *      paragraph boundaries survive for the line-level rules
    *      downstream ([[c4Clean]], paragraph dedup);
    *   3. every remaining tag becomes a space;
    *   4. the common named entities decode (`&nbsp; &lt; &gt; &quot;
    *      &#39; &apos;`, then `&amp;` LAST so `&amp;lt;` stays literal
    *      `&lt;`); exotic numeric entities pass through — at curation
    *      scale they are noise the quality rules score, not markup;
    *   5. horizontal whitespace collapses, blank lines collapse, ends
    *      trim.
    *
    * Pure codegen'd regexp chain (RE2-compatible patterns: the same chain
    * is the DuckDB oracle), one narrow map over the scan — no UDF, no
    * explode. */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blocks = regexp_replace(noComment,
      "(?i)</?(?:p|div|br|li|ul|ol|tr|table|h[1-6]|section|article)\\b[^>]*/?>",
      "\n")
    val noTags = regexp_replace(blocks, "(?s)<[^>]*>", " ")
    val ent1 = regexp_replace(noTags, "&nbsp;", " ")
    val ent2 = regexp_replace(ent1, "&lt;", "<")
    val ent3 = regexp_replace(ent2, "&gt;", ">")
    val ent4 = regexp_replace(ent3, "&quot;", "\"")
    val ent5 = regexp_replace(ent4, "&#39;|&apos;", "'")
    val ent6 = regexp_replace(ent5, "&amp;", "&")
    val sp = regexp_replace(ent6, "[ \\t\\x0B\\f\\r]+", " ")
    val nl = regexp_replace(sp, " ?\\n ?", "\n")
    // trim spaces AND newlines (functions.trim is space-only by default)
    trim(regexp_replace(nl, "\\n+", "\n"), " \n")
  }

  /** [[stripHtml]] over a frame: rewrites `textCol` in place (every other
    * column rides along), dropping documents whose extraction comes out
    * empty when `dropEmpty`. */
  def extractHtmlText(docs: DataFrame, textCol: String = "text",
      dropEmpty: Boolean = true): DataFrame = {
    val out = docs.withColumn(textCol, stripHtml(col(textCol)))
    if (dropEmpty) out.filter(length(col(textCol)) > 0) else out
  }

  /** Outbound-link extraction from raw HTML — the crawl-frontier /
    * link-graph primitive (PageRank-style quality priors, per-domain
    * outlink stats, anchor harvesting all start here): one row per
    * `href="…"` in an `<a>` tag, with the link target and its host (empty
    * for relative links). `regexp_extract_all` + one explode — a narrow
    * map over the scan, no shuffle; the host regexp is RE2-compatible so
    * an external oracle replays it exactly. Returns the id column plus
    * (link, link_host). */
  def extractLinks(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol),
        explode(regexp_extract_all(col(textCol),
          lit("(?i)<a\\s[^>]*href=\"([^\"]*)\""), lit(1))).as("link"))
      .withColumn("link_host",
        regexp_extract(col("link"), "(?i)^https?://([^/?#]+)", 1))

  /** Structural template fingerprint — near-dup detection for PAGE
    * LAYOUT rather than content: the md5 of a page's lowercased opening
    * tag SEQUENCE (attributes and text stripped). Pages generated by the
    * same CMS template share the fingerprint even when every visible word
    * differs, which is how boilerplate-heavy template farms are found and
    * capped before any content-level dedup sees them. One regexp harvest
    * + hash per row — a pure map; the downstream `groupBy(template_fp)`
    * is a partial-agg count. Returns the id column plus
    * (template_fp, n_tags). */
  def htmlTemplateFingerprint(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      regexp_extract_all(lower(col(textCol)),
        lit("<\\s*([a-z][a-z0-9]*)"), lit(1)).as("__tags"))
      .select(col(idCol),
        md5(array_join(col("__tags"), " ")).as("template_fp"),
        size(col("__tags")).as("n_tags"))

  /** Anchor-text harvest — [[extractLinks]] plus the visible text of each
    * `<a>…</a>` pair: (target, anchor text) tuples are a training corpus
    * in their own right (query↔document pairs for retrieval training, and
    * the classic target-page description signal). One pattern run twice
    * for groups 1 and 2 (`regexp_extract_all` yields one group per call),
    * zipped positionally — still a pure map, no shuffle. Anchors with
    * nested markup inside the tag body are skipped by construction
    * (`[^<]*` — a regex can't balance tags; route those through
    * [[stripHtml]] instead). Returns the id column plus (link, anchor,
    * link_host). */
  def extractAnchorTexts(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val pat = "(?i)<a\\s[^>]*href=\"([^\"]*)\"[^>]*>([^<]*)</a>"
    docs
      .select(col(idCol),
        explode(arrays_zip(
          regexp_extract_all(col(textCol), lit(pat), lit(1)),
          regexp_extract_all(col(textCol), lit(pat), lit(2)))).as("__la"))
      .select(col(idCol),
        col("__la").getField("0").as("link"),
        trim(col("__la").getField("1")).as("anchor"))
      .withColumn("link_host",
        regexp_extract(col("link"), "(?i)^https?://([^/?#]+)", 1))
  }

  /** Markdown → training text (the [[stripHtml]] companion for the other
    * big crawl format — README/docs/forum corpora): fenced code blocks
    * drop (code is a different modality; route it to a code pipeline, not
    * prose filters), images reduce to their alt text, links to their
    * anchor text, inline-code/heading/blockquote/bullet/emphasis/rule
    * markers strip, whitespace collapses to the [[stripHtml]] convention
    * (single spaces, single newlines, trimmed). Pure regexp chain — one
    * codegen map per row; every pattern is RE2-compatible (no
    * backreferences — `**`/`__`/`*`/`_` are handled as separate
    * alternations), so the DuckDB oracle replays the exact rewrite. */
  def stripMarkdown(md: Column): Column = {
    val noFence = regexp_replace(md, "(?s)```.*?```", " ")
    val noImg = regexp_replace(noFence,
      "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noLink = regexp_replace(noImg,
      "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noCode = regexp_replace(noLink, "`([^`]*)`", "$1")
    val noHead = regexp_replace(noCode, "(?m)^#{1,6}[ \\t]*", "")
    val noQuote = regexp_replace(noHead, "(?m)^>[ \\t]?", "")
    val noRule = regexp_replace(noQuote, "(?m)^[ \\t]*(-{3,}|\\*{3,})[ \\t]*$", "")
    val noBullet = regexp_replace(noRule, "(?m)^[ \\t]*[-*+][ \\t]+", "")
    val noBold1 = regexp_replace(noBullet, "\\*\\*([^*]*)\\*\\*", "$1")
    val noBold2 = regexp_replace(noBold1, "__([^_]*)__", "$1")
    val noEm1 = regexp_replace(noBold2, "\\*([^*]*)\\*", "$1")
    val noEm2 = regexp_replace(noEm1, "_([^_]*)_", "$1")
    val sp = regexp_replace(noEm2, "[ \\t\\x0B\\f\\r]+", " ")
    val nl = regexp_replace(sp, " ?\\n ?", "\n")
    trim(regexp_replace(nl, "\\n+", "\n"), " \n")
  }

  /** [[stripMarkdown]] over a frame — [[extractHtmlText]]'s contract. */
  def extractMarkdownText(docs: DataFrame, textCol: String = "text",
      dropEmpty: Boolean = true): DataFrame = {
    val out = docs.withColumn(textCol, stripMarkdown(col(textCol)))
    if (dropEmpty) out.filter(length(col(textCol)) > 0) else out
  }

  /** Markup-format detection for mixed crawls (a real corpus drop is
    * never one format): count HTML tags vs markdown markers (headings,
    * fences, bullets, links) and label `html` / `markdown` / `plain`.
    * Two-marker floor so a stray `<` or `-` can't flip a plain document;
    * HTML wins ties (markdown READMEs embed HTML far more often than the
    * reverse). Pure counting — both engines replay the regex and the
    * CASE. */
  def detectFormat(text: Column): Column = {
    val tags = size(regexp_extract_all(text,
      lit("(?i)</?[a-z][a-z0-9]*(\\s[^>]*)?>"), lit(0)))
    val md = size(regexp_extract_all(text,
      lit("(?m)(^#{1,6}[ \\t])|(```)|(^[ \\t]*[-*+][ \\t])|(\\[[^\\]]*\\]\\([^)]*\\))"),
      lit(0)))
    when(tags >= 2 && tags >= md, "html")
      .when(md >= 2, "markdown")
      .otherwise("plain")
  }

  /** Route each document through the extractor its format calls for —
    * [[stripHtml]] / [[stripMarkdown]] / untouched — in ONE map pass
    * (per-row CASE over the three rewrites; no split-union-reunion
    * shuffle). Adds the `format` label; `dropEmpty` as in
    * [[extractHtmlText]]. */
  def extractTextAuto(docs: DataFrame, textCol: String = "text",
      dropEmpty: Boolean = true): DataFrame = {
    val fmt = detectFormat(col(textCol))
    val out = docs.withColumn("format", fmt)
      .withColumn(textCol,
        when(col("format") === "html", stripHtml(col(textCol)))
          .when(col("format") === "markdown", stripMarkdown(col(textCol)))
          .otherwise(col(textCol)))
    if (dropEmpty) out.filter(length(col(textCol)) > 0) else out
  }

  /** The canonical host of `url` (see [[normalizeUrl]]) — the grouping key
    * for per-domain caps and domain-mix reporting. */
  def urlDomain(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1))
    val host0 = regexp_replace(hostport, "^www\\.", "")
    when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
  }

  /** Per-domain document cap (the RefinedWeb / C4 anti-boilerplate
    * measure against a single site dominating the corpus): keep at most
    * `maxPerDomain` documents per canonical host, preferring higher
    * `priority` (ties → lower `idCol`, so the result is deterministic).
    * Adds the `domain` column; drops nothing else.
    *
    * Plan: the two-phase per-key rank ([[graft.operators.TopK
    * .topKPerQuery]]) — each scan partition keeps at most `maxPerDomain`
    * rows per domain map-side (local sort + streaming prune, no
    * exchange), and only the ≤ cap·P survivors shuffle into the exact
    * per-domain window. A mega-domain (one site at 10% of the crawl)
    * therefore never funnels its membership through one sort task, and
    * its raw rows never shuffle at all — the skew probe plants exactly
    * this case and gates the straggler ratio. */
  /** UT1-style domain blocklist filter (the RefinedWeb URL-filtering
    * stage: drop documents whose site appears on a curated blocklist —
    * the UT1 adult/malware lists are the canonical instance): a document
    * is dropped when its canonical host ([[urlDomain]]) EQUALS a blocked
    * domain or is a SUBDOMAIN of one (blocking `example.com` blocks
    * `cdn.example.com` — UT1 semantics). `blocked` is a one-column
    * `domain` frame of canonical lowercase hosts (no scheme, no www);
    * real lists run to millions of rows, hence a frame, not a literal.
    * Documents with null/schemeless URLs are KEPT (fail-safe: no host to
    * match).
    *
    * Plan: each doc expands to its host's ≥2-label suffixes (`a.b.c` →
    * `[a.b.c, b.c]` — bounded by label count, ~≤6), one semi-join against
    * the blocklist (broadcast while its size estimate is under the
    * [[graft.model.GraftDataset.broadcastIfSmall]] ceiling, a shuffle
    * join past it — the join stays hot-key-free because the blocklist
    * side is distinct domains), one anti-join back on the id. The corpus
    * never sorts; no per-domain window. */
  def domainBlocklistFilter(docs: DataFrame, blocked: DataFrame,
      urlCol: String, idCol: String = "doc_id"): DataFrame = {
    val host = urlDomain(col(urlCol))
    val parts = split(host, "\\.")
    val sufs = transform(sequence(lit(0), size(parts) - 2),
      i => array_join(slice(parts, i + 1, size(parts) - i), "."))
    val cand = docs.select(col(idCol).as("__bl_id"),
        explode(when(size(parts) >= 2, sufs)
          .otherwise(array(host))).as("domain"))
      .filter(length(col("domain")) > 0)
    val bl = blocked.select(col("domain"))
    val hit = cand
      .join(graft.model.GraftDataset.broadcastIfSmall(bl), Seq("domain"))
      .select(col("__bl_id")).distinct()
    docs.join(hit, col(idCol) === col("__bl_id"), "left_anti")
  }

  def perDomainCap(docs: DataFrame, urlCol: String, maxPerDomain: Int,
      priority: Column, idCol: String = "doc_id"): DataFrame = {
    require(maxPerDomain > 0, s"maxPerDomain must be positive: $maxPerDomain")
    graft.operators.TopK.topKPerQuery(
        docs.withColumn("domain", urlDomain(col(urlCol))),
        "domain", Seq(priority.desc, col(idCol).asc), maxPerDomain,
        rankCol = "__dc_rn")
      .drop("__dc_rn")
  }

  /** The mojibake repair table: UTF-8 byte pairs/triples mis-decoded as
    * Latin-1/cp1252 (the single most common crawl encoding damage — what
    * ftfy exists for), longest sequences first so `â€¦` never half-repairs
    * through its `Ã¢` prefix. A fixed, auditable subset: the curly
    * quotes/dashes/ellipsis family and the Latin-1 accented letters. */
  private[graft] val mojibakeTable: Seq[(String, String)] = Seq(
    "â€™" -> "’", "â€˜" -> "‘", "â€œ" -> "“", "â€¦" -> "…",
    "â€“" -> "–", "â€”" -> "—", "â‚¬" -> "€", "â„¢" -> "™",
    "Ã©" -> "é", "Ã¨" -> "è", "Ãª" -> "ê", "Ã¡" -> "á", "Ã " -> "à",
    "Ã¢" -> "â", "Ã³" -> "ó", "Ã´" -> "ô", "Ãº" -> "ú", "Ã¹" -> "ù",
    "Ã±" -> "ñ", "Ã§" -> "ç", "Ã¤" -> "ä", "Ã¶" -> "ö", "Ã¼" -> "ü",
    "ÃŸ" -> "ß", "Ã­" -> "í", "Ã®" -> "î",
    "Â«" -> "«", "Â»" -> "»", "Â°" -> "°", "Â£" -> "£", "Â·" -> "·",
    "Â " -> " ")

  /** Repair double-encoded (UTF-8 → Latin-1 → UTF-8) mojibake with the
    * fixed [[mojibakeTable]] — one literal `replace` per entry, applied
    * longest-first, fused by codegen into a single map over the scan (no
    * regex engine involved; each step is a plain substring replace an
    * external oracle replays verbatim). Not a general ftfy: it repairs
    * the high-frequency sequences that dominate real crawls and never
    * touches clean text (every source sequence starts Ã/Â/â, all rare in
    * intact prose).
    *
    * `passes` (round 11): each pass of the chain strips ONE layer of
    * Latin-1 mis-decoding, so TRIPLE-encoded input (mojibake of mojibake
    * — e.g. `Ã¢â‚¬â„¢` for `’`) repairs fully at `passes = 2`, because
    * pass one reduces it to the double-encoded form pass two recognizes.
    * The default stays 1 (the dominant real-crawl damage, and the
    * oracle-locked q180 convention): extra passes are pure cost on text
    * that is already clean after one, and unbounded fixpoint iteration is
    * not oracle-replayable. Each pass is still a fixed literal-`replace`
    * chain fused into the same map over the scan. */
  def fixMojibake(text: Column, passes: Int = 1): Column = {
    require(passes >= 1, s"passes must be >= 1: $passes")
    (1 to passes).foldLeft(text) { case (t, _) =>
      mojibakeTable.foldLeft(t) { case (c, (bad, good)) =>
        org.apache.spark.sql.functions.replace(c, lit(bad), lit(good))
      }
    }
  }

  /** PageRank over a host link graph — the web-curation quality prior
    * (CommonCrawl publishes exactly this as host-level ranks; pipelines
    * use it to up-weight reputable domains before any content filter).
    * `edges` is (src, dst) host pairs (multi-edges are collapsed, self
    * loops dropped from the LINK structure — but every host named by any
    * raw edge, including one whose only edges are self-loops, stays in
    * the node set as a dangling node with baseline mass); returns every
    * node with its rank after `iters` power-iteration steps at damping
    * `d`:
    *
    *   r' = (1−d)/N + d·(Σ_in r/outdeg + dangling_mass/N)
    *
    * with dangling (outdeg-0) mass redistributed uniformly — ranks sum to
    * 1 at every step.
    *
    * Plan: each iteration is ONE shuffle join (ranks ⋈ edges on src) +
    * one partial-agg groupBy on dst, plus a one-row dangling-mass
    * aggregate that rides as a broadcast — the classic distributed
    * PageRank shape; nothing driver-side grows with the graph. Ranks are
    * localCheckpointed each step so the lineage (and codegen size) stays
    * constant over `iters`. The deduped edge table is hash-partitioned on
    * `src` and persisted (`storage`) before the loop — every iteration's
    * join then reuses ONE edge layout (iteration ≥ 2 reads cached edge
    * partitions instead of re-shuffling the raw edge list each step: at a
    * 10⁹-edge host graph that is `iters−1` corpus-sized exchanges saved);
    * the cache is released before returning. Rank values are doubles;
    * gates round to 6 (the cross-engine convention). */
  def hostPageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      checkpoint: Boolean = true,
      storage: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    require(iters >= 1, s"iters must be ≥ 1: $iters")
    require(damping > 0 && damping < 1, s"damping in (0,1): $damping")
    val spark = edges.sparkSession
    val shufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // one src-keyed layout reused by every iteration's contribution join
    val e = raw.filter(col("src") =!= col("dst")).distinct()
      .repartition(shufflePartitions, col("src"))
      .persist(storage)
    // node set from the RAW edges: a host linking only to itself still
    // exists (outdeg 0 after the self-loop drop → dangling baseline mass)
    val nodes = raw.select(col("src").as("node"))
      .unionByName(raw.select(col("dst").as("node"))).distinct()
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val base = nodes.join(outDeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"))
    val n = base.select(count(lit(1)).cast("double").as("__n"))
    def fence(df: DataFrame): DataFrame =
      if (checkpoint) df.localCheckpoint(true) else df
    var ranks = fence(base.crossJoin(broadcast(n))
      .select(col("node"), col("outdeg"), (lit(1.0) / col("__n")).as("rank")))
    for (_ <- 1 to iters) {
      val dangling = ranks.agg(
        sum(when(col("outdeg") === 0, col("rank")).otherwise(0.0)).as("__dm"))
      val contrib = e.join(ranks.select(col("node").as("src"),
          (col("rank") / col("outdeg")).as("__c")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("__c")).as("__in"))
      ranks = fence(base
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(n)).crossJoin(broadcast(dangling))
        .select(col("node"), col("outdeg"),
          (lit(1.0 - damping) / col("__n") + lit(damping) *
            (coalesce(col("__in"), lit(0.0)) + col("__dm") / col("__n")))
            .as("rank")))
    }
    // with checkpointing on, every iteration has materialized through the
    // fence, so the edge cache has served all its reads and can release
    // eagerly; lazy callers (checkpoint = false) own the cache like every
    // other pipeline here
    if (checkpoint) e.unpersist(false)
    ranks.select(col("node"), col("rank"))
  }
}
