package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit, typedlit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Registration + Column-level access for the engine's native expressions. */
object GraftFunctions {
  val CosineName = "graft_cosine"
  val HyperplaneName = "graft_hyperplane_sig"
  val MinHashName = "graft_minhash_sig"
  val SimHashName = "graft_simhash64"
  val GramStatsName = "graft_gram_stats"
  val SigOverlapName = "graft_sig_overlap"
  val WordShinglesName = "graft_word_shingles"
  val BloomName = "graft_bloom_contains"
  val NormalizeTextName = "graft_normalize_text"
  val C4CleanName = "graft_c4_clean"
  val GopherName = "graft_gopher_signals"
  val RollingWindowFpsName = "graft_rolling_window_fps"
  val CharEntropyName = "graft_char_entropy"
  val WinnowingFpsName = "graft_winnowing_fps"

  /** One native function: its SQL name, the expression class it builds
    * (shown by `DESCRIBE FUNCTION`) and its builder over the call's
    * arguments, literal parameters parsed by [[intLit]] & co. */
  private[graft] final case class Native(name: String, className: String,
      build: Seq[Expression] => Expression)

  private def native[E <: Expression](name: String)(build: Seq[Expression] => E)(
      implicit ct: ClassTag[E]): Native =
    Native(name, ct.runtimeClass.getName, build)

  /** The one table of native functions: [[ensureRegistered]] registers it
    * into a session, [[graft.GraftExtensions]] injects it at session
    * build. */
  private[graft] val natives: Seq[Native] = Seq(
    native(CosineName)(e => CosineSimilarity(e(0), e(1))),
    native(HyperplaneName)(e =>
      HyperplaneSignature(e(0), intLit(HyperplaneName, e(1)))),
    native(MinHashName)(e => MinHashSignature(e(0), intLit(MinHashName, e(1)))),
    native(SimHashName)(e => SimHash64(e(0))),
    native(GramStatsName)(e => GramStats(e(0))),
    native(SigOverlapName)(e => SigOverlap(e(0), e(1))),
    native(WordShinglesName)(e => WordShingles(e(0),
      intLit(WordShinglesName, e(1)), boolLit(WordShinglesName, e(2)))),
    native(BloomName)(e => BloomMightContain(e(0), binLit(BloomName, e(1)))),
    native(NormalizeTextName)(e => NormalizeText(e(0),
      boolLit(NormalizeTextName, e(1)), boolLit(NormalizeTextName, e(2)))),
    native(C4CleanName)(e => C4CleanExpr(e(0), intLit(C4CleanName, e(1)),
      strArrLit(C4CleanName, e(2)), strArrLit(C4CleanName, e(3)),
      strArrLit(C4CleanName, e(4)))),
    native(GopherName)(e => GopherSignalsExpr(e(0), strArrLit(GopherName, e(1)))),
    native(RollingWindowFpsName)(e =>
      RollingWindowFps(e(0), intLit(RollingWindowFpsName, e(1)))),
    native(CharEntropyName)(e => CharEntropyExpr(e(0))),
    native(WinnowingFpsName)(e => WinnowingFps(e(0),
      intLit(WinnowingFpsName, e(1)), intLit(WinnowingFpsName, e(2)))))

  /** Idempotent per-session registration into the function registry (also
    * makes the functions available to `spark.sql`). */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    natives.foreach { n =>
      if (!reg.functionExists(FunctionIdentifier(n.name)))
        reg.createOrReplaceTempFunction(n.name, n.build, "built-in")
    }
  }

  private def intLit(fn: String, e: Expression): Int =
    e match {
      case Literal(v, _: IntegerType) =>
        v.asInstanceOf[Int]
      case other => throw new IllegalArgumentException(
        s"$fn: parameter must be an int literal, got $other")
    }

  private def boolLit(fn: String, e: Expression): Boolean =
    e match {
      case Literal(v, BooleanType) =>
        v.asInstanceOf[Boolean]
      case other => throw new IllegalArgumentException(
        s"$fn: parameter must be a boolean literal, got $other")
    }

  private def binLit(fn: String, e: Expression): Array[Byte] =
    e match {
      case Literal(v, BinaryType) if v != null =>
        v.asInstanceOf[Array[Byte]]
      case other => throw new IllegalArgumentException(
        s"$fn: parameter must be a non-null binary literal, got $other")
    }

  /** An `array<string>` literal, or a constant array such as SQL's
    * `array('a', 'b')` (SQL has no array literal syntax). */
  private def strArrLit(fn: String, e: Expression): Seq[String] =
    (e.dataType, if (e.foldable) e.eval() else null) match {
      case (ArrayType(StringType, _), a: ArrayData) =>
        a.toArray[UTF8String](StringType)
          .map(s => if (s == null) null else s.toString).toSeq
      case _ => throw new IllegalArgumentException(
        s"$fn: parameter must be an array<string> literal, got $e")
    }

  /** Registers the session, then calls the native function `name`. */
  private def call(spark: SparkSession, name: String, args: Column*): Column = {
    ensureRegistered(spark)
    call_function(name, args: _*)
  }

  /** Fused cosine as a Column; the session must be registered first
    * (call [[ensureRegistered]] — the llm operators do it for you). */
  def cosine(spark: SparkSession, a: Column, b: Column): Column =
    call(spark, CosineName, a, b)

  /** Fused hyperplane LSH signature as a Column — bit-identical to
    * [[graft.llm.Similarity.hyperplaneSignature]], one codegen loop
    * instead of `planes` interpreted array walks. */
  def hyperplaneSig(spark: SparkSession, v: Column, planes: Int): Column =
    call(spark, HyperplaneName, v, lit(planes))

  /** Fused MinHash signature as a Column — bit-identical to the
    * explode→groupBy aggregate path ([[graft.llm.Dedup.minHashSignatures]])
    * but map-side: no explode, no shuffle, no signatures join. */
  def minhashSig(spark: SparkSession, sh: Column, k: Int): Column =
    call(spark, MinHashName, sh, lit(k))

  /** Fused winnowing selection — bit-identical to the interpreted-HOF
    * formulation (md5-per-gram, per-window rightmost lexicographic min,
    * array_distinct), one kernel call per row; see
    * [[WinnowingKernel.select]]. */
  def winnowingFps(spark: SparkSession, tokens: Column, k: Int, w: Int): Column =
    call(spark, WinnowingFpsName, tokens, lit(k), lit(w))

  /** Rabin–Karp rolling fingerprints of every `n`-word window — one pass
    * over the word array instead of the md5-per-window n× re-hash; see
    * [[RollingHash.windowFps]] for the collision contract. */
  def rollingWindowFps(spark: SparkSession, words: Column, n: Int): Column =
    call(spark, RollingWindowFpsName, words, lit(n))

  /** Fused 64-bit SimHash over a token array — bit-identical to the
    * vote-aggregate formulations, one map-side pass. */
  def simhash64(spark: SparkSession, tokens: Column): Column =
    call(spark, SimHashName, tokens)

  /** Fused per-row gram multiset stats (top/total/dup counts) — replaces
    * the explode→groupBy repetition-signal shuffles with one map-side
    * pass. */
  def gramStats(spark: SparkSession, grams: Column): Column =
    call(spark, GramStatsName, grams)

  /** Fused character-distribution signals (codepoint count/distinct,
    * Shannon entropy in bits, top-character share) — one map-side pass,
    * no explode; see [[CharEntropyExpr]] for the determinism contract. */
  def charEntropy(spark: SparkSession, text: Column): Column =
    call(spark, CharEntropyName, text)

  /** Fused MinHash-estimator overlap (share of equal signature positions)
    * — the candidate-pair prefilter as one codegen loop. */
  def sigOverlap(spark: SparkSession, a: Column, b: Column): Column =
    call(spark, SigOverlapName, a, b)

  /** Fused word-shingle construction over a token array (optionally
    * distinct) — one native pass instead of the interpreted
    * transform/slice/concat_ws tree. */
  def wordShingles(spark: SparkSession, words: Column, n: Int,
      distinct: Boolean): Column =
    call(spark, WordShinglesName, words, lit(n), lit(distinct))

  /** Bloom-filter membership probe over a string column — the map-side
    * prefilter of [[graft.llm.Dedup.bloomCrossDedup]]. `filter` is the
    * serialized bytes from [[graft.llm.Dedup.buildFingerprintBloom]]. */
  def bloomContains(spark: SparkSession, value: Column,
      filter: Array[Byte]): Column =
    call(spark, BloomName, value, lit(filter))

  /** Fused C4 line cleaning — struct(text, n_lines, n_kept, doc_bad) in
    * one kernel call per row (see
    * [[graft.functions.CurationKernels]]). */
  def c4CleanStruct(spark: SparkSession, text: Column, minWordsPerLine: Int,
      terminalPunct: Seq[String], badLineWords: Seq[String],
      dropDocPhrases: Seq[String]): Column =
    call(spark, C4CleanName, text, lit(minWordsPerLine),
      typedlit(terminalPunct), typedlit(badLineWords), typedlit(dropDocPhrases))

  /** Fused Gopher quality signals — one kernel call per row. */
  def gopherSignalsStruct(spark: SparkSession, text: Column,
      stopWords: Seq[String]): Column =
    call(spark, GopherName, text, typedlit(stopWords))

  /** Unicode canonicalization (NFC → optional accent strip → optional
    * Locale.ROOT lowercase) — run corpus keys through this BEFORE
    * fingerprinting when the source is real-world text. */
  def normalizeText(spark: SparkSession, text: Column,
      stripAccents: Boolean = true, toLower: Boolean = true): Column =
    call(spark, NormalizeTextName, text, lit(stripAccents), lit(toLower))
}
