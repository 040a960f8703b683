package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType}
import graft.functions.{CosineSimilarity, GramStats, HyperplaneSignature, MinHashSignature, SigOverlap, SimHash64, WordShingles}

/** SparkSessionExtensions entry point: injects the engine's native
  * functions at session build time, so clusters configured with
  * `spark.sql.extensions=graft.GraftExtensions` get all seven —
  * `graft_cosine`, `graft_hyperplane_sig`, `graft_minhash_sig`,
  * `graft_simhash64`, `graft_gram_stats`, `graft_sig_overlap`, and
  * `graft_word_shingles` — in every session without imperative
  * registration.
  *
  * ```
  * builder.withExtensions(new GraftExtensions)  // any SparkSession.Builder
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * ```
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import graft.functions.GraftFunctions._

  private def intLit(fn: String, e: Expression): Int = e match {
    case Literal(v, _: IntegerType) => v.asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$fn: parameter must be an int literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(CosineName),
      new ExpressionInfo(classOf[CosineSimilarity].getName, CosineName),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier(HyperplaneName),
      new ExpressionInfo(classOf[HyperplaneSignature].getName, HyperplaneName),
      (exprs: Seq[Expression]) =>
        HyperplaneSignature(exprs(0), intLit(HyperplaneName, exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier(MinHashName),
      new ExpressionInfo(classOf[MinHashSignature].getName, MinHashName),
      (exprs: Seq[Expression]) =>
        MinHashSignature(exprs(0), intLit(MinHashName, exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier(SimHashName),
      new ExpressionInfo(classOf[SimHash64].getName, SimHashName),
      (exprs: Seq[Expression]) => SimHash64(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier(GramStatsName),
      new ExpressionInfo(classOf[GramStats].getName, GramStatsName),
      (exprs: Seq[Expression]) => GramStats(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier(SigOverlapName),
      new ExpressionInfo(classOf[SigOverlap].getName, SigOverlapName),
      (exprs: Seq[Expression]) => SigOverlap(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier(WordShinglesName),
      new ExpressionInfo(classOf[WordShingles].getName, WordShinglesName),
      (exprs: Seq[Expression]) => WordShingles(exprs(0),
        intLit(WordShinglesName, exprs(1)),
        exprs(2) match {
          case Literal(v, BooleanType) => v.asInstanceOf[Boolean]
          case other => throw new IllegalArgumentException(
            s"$WordShinglesName: distinct must be a boolean literal, got $other")
        })))
  }
}
