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

  /** One SQL function: its name, usage line, expression class (what
    * `DESCRIBE FUNCTION EXTENDED` reports) and builder. */
  private[functions] final case class SqlFunction(name: String, usage: String,
      cls: Class[_ <: Expression], build: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")
  }

  /** The SQL surface. Both [[register]] and the [[GraftExtensions]]
    * injection path read it. The vector builders are the ones the Column
    * wrappers use, so both surfaces pin operand types the same way (see
    * [[VectorFunctions]]). */
  private[functions] val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays",
      classOf[CosineSimilarity], args => VectorFunctions.cosine(args(0), args(1))),
    SqlFunction("match_fraction",
      "match_fraction(a, b) - fraction of equal positions in two long arrays",
      classOf[LongArrayMatchFraction],
      args => VectorFunctions.matchFraction(args(0), args(1))),
    SqlFunction("graft_tokenize",
      "graft_tokenize(text, pattern) - generates (pos, token) rows",
      classOf[RegexTokenize], args => RegexTokenize(args(0), args(1))),
    SqlFunction("nfc_normalize", "nfc_normalize(s) - Unicode NFC canonical composition",
      classOf[NfcNormalize], args => NfcNormalize(args(0))),
    SqlFunction("jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB-parity semantics)",
      classOf[JaroWinkler], args => JaroWinkler(args(0), args(1))))

  /** Register on an ALREADY-RUNNING session (withExtensions only applies to
    * newly-built contexts; getOrCreate on an existing session ignores it).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach(f => reg.registerFunction(f.id, f.info, f.build))
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach(f => ext.injectFunction((f.id, f.info, f.build)))
    // the native as-of operator plans through this strategy; config-driven
    // sessions (spark.sql.extensions=graft.functions.GraftExtensions) get it
    // without touching spark.experimental
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    ext.injectOptimizerRule(_ => graft.plans.PushFiltersThroughAsOf)
  }
}
