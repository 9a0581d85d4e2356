package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernels of the native text expressions: one method per expression over
  * the row's `UTF8String`, called by its `nullSafeEval` and, by name, by its
  * generated code (the [[JaroWinklerUtil]] pattern), so each body exists
  * once for both paths.
  */
object TextKernels {

  /** (acc * 31 + byte) % 1000000007 over the UTF-8 bytes, left to right. */
  def polyHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31 + (bytes(i) & 0xff)) % 1000000007L
      i += 1
    }
    acc
  }

  /** log2(n) - sum(c*log2(c))/n over the exact per-byte counts. */
  def charEntropy(s: UTF8String): Double = {
    val bytes = s.getBytes
    val counts = new Array[Int](256)
    var i = 0
    while (i < bytes.length) { counts(bytes(i) & 0xff) += 1; i += 1 }
    var acc = 0.0
    var j = 0
    while (j < 256) {
      val c = counts(j)
      if (c > 0) acc += c * (Math.log(c) / Math.log(2.0))
      j += 1
    }
    val n = bytes.length
    if (n == 0) 0.0 else Math.log(n) / Math.log(2.0) - acc / n
  }

  def charDistinct(s: UTF8String): Int = {
    val bytes = s.getBytes
    val seen = new Array[Boolean](256)
    var i = 0
    while (i < bytes.length) { seen(bytes(i) & 0xff) = true; i += 1 }
    var n = 0
    var j = 0
    while (j < 256) { if (seen(j)) n += 1; j += 1 }
    n
  }

  /** The input itself when already NFC (all-ASCII content always is). */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Polynomial rolling hash of a string, mod 1e9+7 — the native form of
  * [[graft.operators.TextAnalysis.fingerprint]]'s HOF formulation
  * (aggregate over per-char ascii values). For single-byte (ASCII) content
  * the two are identical: acc = (acc * 31 + byte) % 1000000007, left to
  * right. The HOF version walks code points; this walks UTF-8 bytes — they
  * diverge only on multi-byte characters, where the HOF form is retained as
  * the reference.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any =
    TextKernels.polyHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextKernels.polyHash($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Regex tokenizer as a native Catalyst Generator (the engine's UDTF tier —
  * SURVEY §2.9 reserves "a tokenizer Generator" as our addition alongside the
  * sentiment UDF and the Count-Min-Sketch Aggregator). Splits `child` on the
  * foldable `pattern`, drops empty tokens, and generates one
  * (pos, token) row per surviving token, 0-indexed in document order —
  * usable from SQL as `LATERAL VIEW graft_tokenize(text, ' ')` or directly
  * in a select list, planned through GenerateExec like explode.
  */
case class RegexTokenize(child: Expression, pattern: Expression)
    extends org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

  override def children: Seq[Expression] = Seq(child, pattern)

  override def prettyName: String = "graft_tokenize"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType != StringType || pattern.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("graft_tokenize(text, pattern) takes two strings")
    else if (!pattern.foldable)
      TypeCheckResult.TypeCheckFailure("pattern must be a constant")
    else pattern.eval(null) match {
      // validate HERE, at analysis time — a null or malformed constant
      // would otherwise surface as an executor-side NPE/PatternSyntax
      // exception on the first row
      case null => TypeCheckResult.TypeCheckFailure("pattern must not be NULL")
      case p =>
        try { java.util.regex.Pattern.compile(p.toString); TypeCheckResult.TypeCheckSuccess }
        catch { case e: java.util.regex.PatternSyntaxException =>
          TypeCheckResult.TypeCheckFailure(s"invalid pattern: ${e.getMessage}") }
    }
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("token", StringType, nullable = false)))

  // pattern is foldable — compile once per executor instance, not per row
  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      pattern.eval(null).asInstanceOf[UTF8String].toString)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val text = child.eval(input)
    if (text == null) Nil
    else {
      val parts = compiled.split(text.asInstanceOf[UTF8String].toString, -1)
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow](parts.length)
      var pos = 0
      var i = 0
      while (i < parts.length) {
        if (parts(i).nonEmpty) {
          out += InternalRow(pos, UTF8String.fromString(parts(i)))
          pos += 1
        }
        i += 1
      }
      out
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RegexTokenize =
    copy(child = newChildren(0), pattern = newChildren(1))
}

/** Byte-histogram statistics of a string in one O(len) pass over a
  * 256-slot array — no explode, no shuffle. `CharDistinct` counts occupied
  * slots; `CharEntropy` computes Shannon entropy as
  * log2(n) - sum(c*log2(c))/n over the exact integer counts (the same
  * formulation the SQL oracle groups out of substr+UNNEST). Byte == char for
  * the ASCII corpus; like [[PolyHash]], multi-byte text would diverge and the
  * exploded formulation stays the reference for it.
  */
case class CharEntropy(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.DoubleType

  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any =
    TextKernels.charEntropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextKernels.charEntropy($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of distinct bytes in a string — see [[CharEntropy]]. */
case class CharDistinct(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType

  override def dataType: DataType = IntegerType
  override def prettyName: String = "char_distinct"

  override def nullSafeEval(input: Any): Any =
    TextKernels.charDistinct(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextKernels.charDistinct($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unicode NFC normalization (UAX #15 canonical composition) as a native
  * expression — Spark ships no builtin for it, and the usual fallback
  * (a Scala UDF over `java.text.Normalizer`) breaks whole-stage codegen for
  * the entire normalize→casefold→hash dedup pipeline. The kernel
  * short-circuits on `Normalizer.isNormalized` (true for all-ASCII content,
  * the common case at corpus scale) so the already-normalized path does a
  * single scan and no allocation beyond `toString`.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.StringType

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    TextKernels.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextKernels.nfc($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextFunctions {
  /** Polynomial rolling hash (mod 1e9+7) over a string column. */
  def poly_hash(c: Column): Column =
    GraftColumnBridge.column(PolyHash(GraftColumnBridge.expression(c)))

  /** Generator column: (pos, token) rows per input row (see [[RegexTokenize]]). */
  def tokenize(text: Column, pattern: String): Column =
    GraftColumnBridge.column(RegexTokenize(GraftColumnBridge.expression(text),
      org.apache.spark.sql.catalyst.expressions.Literal(pattern)))

  /** Byte-level Shannon entropy (see [[CharEntropy]]). */
  def char_entropy(c: Column): Column =
    GraftColumnBridge.column(CharEntropy(GraftColumnBridge.expression(c)))

  /** Distinct-byte count (see [[CharDistinct]]). */
  def char_distinct(c: Column): Column =
    GraftColumnBridge.column(CharDistinct(GraftColumnBridge.expression(c)))

  /** Unicode NFC normalization (see [[NfcNormalize]]). */
  def nfc_normalize(c: Column): Column =
    GraftColumnBridge.column(NfcNormalize(GraftColumnBridge.expression(c)))
}
