package graft

import graft.llm.{Corpus, Curation, Similarity}
import org.apache.spark.sql.functions._

/** Specs for the round-9 additions: snapshot diff, batch drift, link
  * extraction, semantic decontamination, and the ORC/CSV corpus IO. (The
  * LSH parameter planner is spec'd in [[DedupSpec]]; the ADC+exact-rerank
  * retrieval face in [[PqSpec]] with the rest of the quantized-retrieval
  * family.) */
class Round9Spec extends SparkFunSuite {
  import spark.implicits._

  // ---- snapshotDiff -------------------------------------------------

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val cur = Seq((2L, "b"), (3L, "C2"), (4L, "d")).toDF("doc_id", "text")
    val got = Corpus.snapshotDiff(old, cur).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("snapshotDiff distinguishes NULL from empty string content") {
    val old = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text")
    val curSame = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text")
    val curSwap = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val same = Corpus.snapshotDiff(old, curSame).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(same == Map(1L -> "unchanged", 2L -> "unchanged"))
    val swap = Corpus.snapshotDiff(old, curSwap).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(swap == Map(1L -> "changed", 2L -> "changed"))
  }

  test("snapshotDiff multi-column content can't alias across boundaries") {
    // ("ab","c") vs ("a","bc") must hash differently
    val old = Seq((1L, "ab", "c")).toDF("doc_id", "t1", "t2")
    val cur = Seq((1L, "a", "bc")).toDF("doc_id", "t1", "t2")
    val got = Corpus.snapshotDiff(old, cur, contentCols = Seq("t1", "t2"))
      .collect().map(r => r.getString(1))
    assert(got.toSeq == Seq("changed"))
  }

  // ---- batchDrift ---------------------------------------------------

  test("batchDrift computes per-batch means and group z-scores") {
    val docs = Seq(
      ("s", 0L, 10), ("s", 0L, 20), // batch 0 mean 15
      ("s", 1L, 30), ("s", 1L, 40), // batch 1 mean 35
      ("t", 0L, 7)                  // single batch → sigma null → z 0
    ).toDF("source", "batch", "m")
    val got = Corpus.batchDrift(docs, "source", "batch", col("m")).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(("s", 0L))._1 == 2L)
    assert(math.abs(got(("s", 0L))._2 - 15.0) < 1e-12)
    // mu=25, sigma_pop=10 → z = ±1
    assert(math.abs(got(("s", 0L))._3 - (-1.0)) < 1e-12)
    assert(math.abs(got(("s", 1L))._3 - 1.0) < 1e-12)
    assert(got(("t", 0L))._3 == 0.0)
  }

  // ---- extractLinks -------------------------------------------------

  test("extractLinks finds absolute + relative hrefs, case-insensitive") {
    val docs = Seq(
      (1L, """<p><a href="https://ex.com/a">x</a> and""" +
        """ <A CLASS="y" HREF="/rel">y</A></p>"""),
      (2L, "no links here")
    ).toDF("doc_id", "text")
    val got = Curation.extractLinks(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSet == Set(
      (1L, "https://ex.com/a", "ex.com"),
      (1L, "/rel", "")))
  }

  test("extractLinks host stops at path, query, and port stays") {
    val docs = Seq((1L,
      """<a href="http://h.io:8080/p?q=1">a</a><a href="https://x.y?z">b</a>"""
    )).toDF("doc_id", "text")
    val hosts = Curation.extractLinks(docs).collect().map(_.getString(2)).toSet
    assert(hosts == Set("h.io:8080", "x.y"))
  }

  test("extractAnchorTexts pairs hrefs with their visible text") {
    val docs = Seq(
      (1L, """<a href="https://e.com/x">Click here</a> mid""" +
        """ <A HREF="/r" rel="nofollow"> padded </A>"""),
      (2L, """<a href="https://e.com/y"><b>nested</b></a>""") // skipped
    ).toDF("doc_id", "text")
    val got = Curation.extractAnchorTexts(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(got.toSet == Set(
      (1L, "https://e.com/x", "Click here", "e.com"),
      (1L, "/r", "padded", "")))
  }

  // ---- semanticContamination -----------------------------------------

  test("semanticContamination flags max-cosine over threshold") {
    val hold = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Array(1.0f, 0.0f)),   // cosine 1.0 → contaminated
      (2L, Array(0.0f, 1.0f)),   // cosine 0.0 → clean
      (3L, Array(1.0f, 1.0f))    // cosine ~0.7071 → contaminated at 0.5
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(train, hold, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(got(1L) == ((1.0, true)))
    assert(got(2L) == ((0.0, false)))
    assert(math.abs(got(3L)._1 - 0.707107) < 1e-9 && got(3L)._2)
  }

  // ---- hostPageRank -------------------------------------------------

  test("hostPageRank matches the closed form on a 2-node dangling graph") {
    // A→B, B dangling. After one iteration from (.5,.5):
    // dm=.5; rA = .15/2 + .85*(0 + .25) = .2875; rB = .15/2 + .85*(.5+.25)
    val e = Seq(("A", "B")).toDF("src", "dst")
    val got = Curation.hostPageRank(e, iters = 1).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got("A") - 0.2875) < 1e-12)
    assert(math.abs(got("B") - 0.7125) < 1e-12)
  }

  test("hostPageRank ranks sum to 1 and drop self-loops/multi-edges") {
    val e = Seq(("a", "b"), ("a", "b"), ("b", "c"), ("c", "a"), ("c", "c"))
      .toDF("src", "dst")
    val rows = Curation.hostPageRank(e, iters = 5).collect()
    assert(rows.length == 3)
    assert(math.abs(rows.map(_.getDouble(1)).sum - 1.0) < 1e-9)
    // a→b→c→a is a symmetric cycle once dups/self-loops drop: equal ranks
    rows.foreach(r => assert(math.abs(r.getDouble(1) - 1.0 / 3) < 1e-9))
  }

  // ---- fixMojibake ----------------------------------------------------

  test("fixMojibake repairs the double-encoded table and spares clean text") {
    val docs = Seq(
      (1L, "CafÃ© donâ€™t â€œquoteâ€¦ straÃŸe Ã  la"),
      (2L, "plain ascii stays"),
      (3L, "naÃ±a 10Â° Â«okÂ» Ã¼ber â€” dash")
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        Curation.fixMojibake(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "Café don’t “quote… straße à la")
    assert(got(2L) == "plain ascii stays")
    assert(got(3L) == "naña 10° «ok» über — dash")
  }

  // ---- segmentSentences -------------------------------------------------

  test("segmentSentences keeps terminators, trims, drops empties") {
    val docs = Seq(
      (1L, "One. Two two!  Three?? "),
      (2L, "no terminator at all"),
      (3L, "...")
    ).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.segmentSentences(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq ==
      Seq("One.", "Two two!", "Three??"))
    assert(got.filter(_._1 == 2L).map(_._3).toSeq ==
      Seq("no terminator at all"))
    // doc 3 is ONLY terminators: the punctuation run still forms the tail
    // of no [^.!?]+ run, so nothing is emitted
    assert(!got.exists(_._1 == 3L))
  }

  // ---- rrfFuse ----------------------------------------------------------

  test("rrfFuse sums reciprocal ranks across sources and ranks the union") {
    val bm = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "doc_id", "rank")
    val vec = Seq((1L, 11L, 1), (1L, 13L, 2))
      .toDF("query_id", "doc_id", "rank")
    val got = Similarity.rrfFuse(Seq(bm, vec), k = 4).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(_._3)
    def rrf(rs: Int*) = BigDecimal(rs.map(r => 1.0 / (60 + r)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 11 appears in both lists (ranks 2 and 1) and must win
    assert(got.map(_._1).toSeq == Seq(11L, 10L, 13L, 12L))
    assert(got.head._2 == rrf(2, 1))
    assert(got(1)._2 == rrf(1))   // 1/(60+1) beats 1/(60+2)
    assert(got(2)._2 == rrf(2))
    assert(got(3)._2 == rrf(3))
  }

  test("rrfFuse breaks score ties by ascending doc id") {
    val a = Seq((1L, 7L, 1), (1L, 3L, 1)).toDF("query_id", "doc_id", "rank")
    // both docs scored 1/(60+1) by a single source each
    val one = a.filter(col("doc_id") === 7)
    val two = a.filter(col("doc_id") === 3)
    val got = Similarity.rrfFuse(Seq(one, two), k = 2).collect()
      .map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2)
    assert(got.toSeq == Seq((3L, 1), (7L, 2)))
  }

  // ---- tfIdfCosineTopK -----------------------------------------------

  test("tfIdfCosineTopK: self-query scores 1.0 and ranks first") {
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana banana"),
      (3L, "dog elephant fox")
    ).toDF("doc_id", "text")
    val queries = docs.filter(col("doc_id") === 1)
      .select(col("doc_id").as("query_id"), col("text").as("query"))
    val got = Corpus.tfIdfCosineTopK(docs, queries, k = 3).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).sortBy(_._3)
    // identical weight vector → cosine exactly 1.0 at rank 1
    assert(got.head == ((1L, 1.0, 1)))
    // doc 2 shares terms; doc 3 shares none → absent (sparse inner join:
    // zero-overlap candidates never materialize, by design)
    assert(got.length == 2)
    assert(got(1)._1 == 2L && got(1)._2 > 0 && got(1)._2 < 1)
  }

  test("tfIdfCosineTopK: out-of-corpus query terms dilute the norm") {
    val docs = Seq((1L, "apple"), (2L, "banana")).toDF("doc_id", "text")
    val q1 = Seq((10L, "apple")).toDF("query_id", "query")
    val q2 = Seq((10L, "apple zzz_unknown")).toDF("query_id", "query")
    def top(q: org.apache.spark.sql.DataFrame) =
      Corpus.tfIdfCosineTopK(docs, q, k = 1).head()
    // the unknown term can't match but inflates ‖q‖ → lower cosine
    assert(top(q1).getDouble(2) == 1.0)
    assert(top(q2).getDouble(2) < 1.0)
  }

  // ---- sampleWeightedK ---------------------------------------------------

  test("sampleWeightedK favors heavy weights and excludes non-positive ones") {
    // one giant weight among many tiny ones: the giant must always win a
    // k=1 draw (its e = -ln(u)/1e9 is < 1e-8·ln-range, tiny weights' e
    // are ~1e2 larger); zero/null-weight rows are never eligible
    val docs = (1L to 100L).map(i => (i, if (i == 42) 1e9 else 0.01))
      .toDF("id", "w")
      .unionByName(Seq((200L, 0.0), (201L, -1.0)).toDF("id", "w"))
    val got = graft.llm.Sampling
      .sampleWeightedK(docs, col("id"), col("w"), k = 1)
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(42L))
    // k larger than eligible rows returns all eligible, none excluded
    val all = graft.llm.Sampling
      .sampleWeightedK(docs, col("id"), col("w"), k = 500)
      .collect().map(_.getLong(0)).toSet
    assert(all == (1L to 100L).toSet)
  }

  test("sampleWeightedK is deterministic and salt-sensitive") {
    val docs = (1L to 50L).map(i => (i, 1.0)).toDF("id", "w")
    def run(salt: String) = graft.llm.Sampling
      .sampleWeightedK(docs, col("id"), col("w"), 10, salt)
      .collect().map(_.getLong(0)).toSet
    assert(run("a") == run("a"))
    assert(run("a") != run("b"))
  }

  // ---- htmlTemplateFingerprint -------------------------------------------

  test("htmlTemplateFingerprint clusters by tag sequence, not content") {
    val docs = Seq(
      (1L, "<html><body><p>alpha beta</p></body></html>"),
      (2L, "<HTML ><BODY class=\"x\"><P id=\"3\">totally different</P></BODY></HTML>"),
      (3L, "<html><body><div>extra layer</div></body></html>")
    ).toDF("doc_id", "text")
    val got = Curation.htmlTemplateFingerprint(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val byId = got.map(t => t._1 -> t._2).toMap
    assert(byId(1L) == byId(2L)) // same template despite case/attrs/content
    assert(byId(1L) != byId(3L))
    assert(got.forall(_._3 == 3))
  }

  // ---- lengthBucketProfile ---------------------------------------------

  test("lengthBucketProfile buckets, bounds, and waste arithmetic") {
    val docs = Seq(3L, 4L, 10L, 12L, 100L).map(Tuple1(_)).toDF("n")
    val got = graft.llm.Sampling
      .lengthBucketProfile(docs, Seq(4, 16), col("n")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    // bucket 0 (≤4): {3,4} max 4 sum 7 waste 1; bucket 1 (≤16): {10,12}
    // max 12 sum 22 waste 2; overflow: {100} waste 0
    assert(got(0L) == ((4L, 2L, 4L, 7L, 1L, 0.125)))
    assert(got(1L) == ((16L, 2L, 12L, 22L, 2L,
      BigDecimal(2.0 / 24).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got(2L) == ((-1L, 1L, 100L, 100L, 0L, 0.0)))
  }

  // ---- ZOrder ---------------------------------------------------------

  test("zOrderKey interleaves bits (known values)") {
    // a=10 (1010), b=6 (0110), bits=4: even bits from a → 4+64, odd from
    // b → 8+32 ⇒ z=108
    val got = Seq((10L, 6L)).toDF("a", "b")
      .select(graft.operators.ZOrder.zOrderKey(col("a"), col("b"), 4).as("z"))
      .head().getLong(0)
    assert(got == 108L)
    // masking: values ≥ 2^bits wrap to their low bits
    val wrapped = Seq((10L + 16L, 6L + 32L)).toDF("a", "b")
      .select(graft.operators.ZOrder.zOrderKey(col("a"), col("b"), 4).as("z"))
      .head().getLong(0)
    assert(wrapped == 108L)
  }

  test("zOrderWrite clusters BOTH dimensions into compact per-file ranges") {
    // 64x64 grid; z-order into 16 files → each file covers ~a 16x16 tile,
    // so per-file ranges on both dims are far below the global 0..63
    val grid = spark.range(64L * 64)
      .select((col("id") / 64).cast("long").as("x"),
        (col("id") % 64).cast("long").as("y"))
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    graft.operators.ZOrder.zOrderWrite(grid, dir, "x", "y",
      bits = 6, partitions = 16)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length == 16)
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(max(col("x")) - min(col("x")), max(col("y")) - min(col("y")))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    // every file's span on each dim is at most half the global range
    // (perfect tiles would be 15; allow boundary slack)
    spans.foreach { case (sx, sy) => assert(sx <= 32 && sy <= 32,
      s"file covers ($sx, $sy) of a 63-range dim — not clustered") }
  }

  // ---- resizeImages -------------------------------------------------

  test("resizeImageKernel: nearest-neighbor on a gradient, PNG roundtrip") {
    import java.awt.image.BufferedImage
    // 4x2 source, pixel (x,y) has r = 10x, g = 20y, b = x+y
    val img = new BufferedImage(4, 2, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, (10 * x << 16) | (20 * y << 8) | (x + y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val r = graft.llm.Multimodal.resizeImageKernel(1L, bos.toByteArray, 2, 2)
    assert(r.resize_ok && r.width == 2 && r.height == 2)
    // dst x=0→src 0, x=1→src 2; y maps 0→0, 1→1
    // pixels: (0,0)(2,0)(0,1)(2,1) → r ∈ {0,20,0,20}, g ∈ {0,0,20,20},
    // b ∈ {0,2,1,3}
    assert(r.mean_r == 10.0 && r.mean_g == 10.0 && r.mean_b == 1.5)
    // PNG is lossless: decoding the output reproduces the same means
    val back = graft.llm.Multimodal.decodeImageKernel(1L, r.png)
    assert(back.decode_ok && back.width == 2 && back.height == 2)
    assert(back.mean_channel.toSeq == Seq(10.0, 10.0, 1.5))
  }

  test("resizeImageKernel fails closed on garbage") {
    val r = graft.llm.Multimodal.resizeImageKernel(7L,
      "junk".getBytes("US-ASCII"), 16, 16)
    assert(!r.resize_ok && r.width == 0 && r.png.isEmpty)
  }

  // ---- unkifyRareTokens ------------------------------------------------

  test("unkifyRareTokens masks below-threshold tokens in order") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat"),
      (3L, "  ")  // whitespace-only: passes through unchanged
    ).toDF("doc_id", "text")
    // counts: the=3, sat=2, cat/on/mat/dog=1
    val got = Corpus.unkifyRareTokens(docs, minCount = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "the <unk> sat <unk> the <unk>")
    assert(got(2L) == "the <unk> sat")
    assert(got(3L) == "  ")
  }

  // ---- vocabCoverage ------------------------------------------------

  test("vocabCoverage matches the single-window running total exactly") {
    // corpus: a×6, b×3, c×2, d×1 → total 12; coverage .75 → cum_before:
    // a:0, b:6, c:9(=12*.75 NOT < 9? 9 < 9 false) → a,b selected; c,d not
    val docs = Seq((1L, "a a a b b c"), (2L, "a a a b c d"))
      .toDF("doc_id", "text")
    val got = Corpus.vocabCoverage(docs, coverage = 0.75)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).sortBy(_._3)
    assert(got.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("a", 6L, 1L), ("b", 3L, 2L), ("c", 2L, 3L), ("d", 1L, 4L)))
    assert(got.map(_._4).toSeq == Seq(0.5, 0.75, 11.0 / 12, 1.0)
      .map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble))
    assert(got.map(_._5).toSeq == Seq(true, true, false, false))
  }

  test("vocabCoverage is partitioning-invariant (distributed prefix sum)") {
    val words = (0 until 40).flatMap(i => Seq.fill(40 - i)(s"w$i"))
    val docs = words.grouped(7).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Corpus.vocabCoverage(df, coverage = 0.5).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4))).sortBy(_._3).toSeq
    assert(run(docs.repartition(1)) == run(docs.repartition(13)))
    val sel = run(docs).filter(_._5)
    // selected prefix must actually reach the target
    assert(sel.last._4 >= 0.5)
  }

  // ---- ORC / CSV roundtrips -------------------------------------------

  test("OrcIO roundtrips schema and values") {
    val df = Seq((1L, "a", 2.5), (2L, null.asInstanceOf[String], -1.0))
      .toDF("id", "s", "x")
    val dir = java.nio.file.Files.createTempDirectory("orc_rt").toString
    graft.io.OrcIO.toOrc(df, dir)
    val back = graft.io.OrcIO.fromOrc(spark, dir)
    // file reads widen nullability; names and types must survive exactly
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("CsvIO roundtrips hostile strings and keeps NULL ≠ ''") {
    val df = Seq(
      (1L, "plain", "n"),
      (2L, "comma, and \"quotes\"", ""),
      (3L, "line\nbreak", null.asInstanceOf[String]),
      (4L, "back\\slash \\N literal", "x")
    ).toDF("id", "text", "note")
    val dir = java.nio.file.Files.createTempDirectory("csv_rt").toString
    graft.io.CsvIO.toCsv(df, dir)
    val back = graft.io.CsvIO.fromCsv(spark, dir, df.schema)
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(
      (1L, "plain", "n"),
      (2L, "comma, and \"quotes\"", ""),
      (3L, "line\nbreak", null),
      (4L, "back\\slash \\N literal", "x")))
  }
}
