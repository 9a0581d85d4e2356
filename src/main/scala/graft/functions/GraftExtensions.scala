package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions wiring: exposes the engine's native expressions to
  * SQL users (`SELECT cosine_sim(a, b) FROM ...`), so the library is usable
  * from pure-SQL contexts (thrift server, spark.sql notebooks) without Scala
  * imports.
  *
  * Register at session build time, on any `SparkSession.Builder`:
  * {{{
  *   graft.Session.builder(cpus, gatePins = false)
  *     .withExtensions(new GraftExtensions)
  * }}}
  * or via config: `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftExtensions {

  /** The SQL surface needs the SAME operand-type pinning the Scala
    * wrappers apply (VectorFunctions round-13 fix): the expressions read
    * elements with type-specific getters that REINTERPRET mistyped
    * buffers, so `SELECT cosine_sim(double_arr, ...)` without this cast
    * silently scored garbage where the Scala path converts or fails
    * analysis. An identity cast is erased by SimplifyCasts.
    */
  private[functions] def asFloatArr(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))

  private[functions] def asLongArr(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))

  /** The SQL surface, one row per function: (name, usage, build function). Both
    * [[register]] and the [[GraftExtensions]] injection path read it. */
  private[functions] val sqlFunctions
      : Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays",
      args => CosineSimilarity(asFloatArr(args(0)), asFloatArr(args(1)))),
    ("match_fraction",
      "match_fraction(a, b) - fraction of equal positions in two long arrays",
      args => LongArrayMatchFraction(asLongArr(args(0)), asLongArr(args(1)))),
    ("graft_tokenize", "graft_tokenize(text, pattern) - generates (pos, token) rows",
      args => RegexTokenize(args(0), args(1))),
    ("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonical composition",
      args => NfcNormalize(args(0))),
    ("jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB-parity semantics)",
      args => JaroWinkler(args(0), args(1))))

  /** Register on an ALREADY-RUNNING session (withExtensions only applies to
    * newly-built contexts; getOrCreate on an existing session ignores it).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[CosineSimilarity].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), build))
    }
    // the native as-of operator plans through this strategy; config-driven
    // sessions (spark.sql.extensions=graft.functions.GraftExtensions) get it
    // without touching spark.experimental
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    ext.injectOptimizerRule(_ => graft.plans.PushFiltersThroughAsOf)
  }
}
