package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: injects the engine's native
  * functions at session build time, so clusters configured with
  * `spark.sql.extensions=graft.GraftExtensions` get every function of
  * the one native-function table ([[GraftFunctions.natives]], the same
  * list [[GraftFunctions.ensureRegistered]] registers) in every session
  * without imperative registration.
  *
  * ```
  * builder.withExtensions(new GraftExtensions)  // any SparkSession.Builder
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * ```
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.natives.foreach { n =>
      ext.injectFunction((FunctionIdentifier(n.name),
        new ExpressionInfo(n.className, n.name), n.build))
    }
}
