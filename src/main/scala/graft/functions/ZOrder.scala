package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton) interleave of the low 16 bits of two longs: x takes the
  * even output bits, y the odd. The layout-clustering key for multi-column
  * data skipping at 100 TB — sort/partition by z-value and both dimensions
  * get locality, so per-file min/max stats prune scans on either predicate
  * (the technique Delta/Iceberg OPTIMIZE ZORDER applies; public magic-number
  * bit-spreading, e.g. the "Interleave bits by Binary Magic Numbers" method
  * from Sean Anderson's public Bit Twiddling Hacks page).
  *
  * [[ZOrderKernels.zorder2]] is the one body of both evaluation paths: the
  * spread is 10 shift/mask ops per row, no branches, no allocation.
  */
object ZOrderKernels {
  private def spread16(v0: Long): Long = {
    var v = v0 & 0xffffL
    v = (v | (v << 8)) & 0x00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0fL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }

  def zorder2(x: Long, y: Long): Long = spread16(x) | (spread16(y) << 1)
}

/** `zorder2(x, y)` over two BIGINTs — see [[ZOrderKernels]]. */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  // AbstractDataType (and with it ExpectsInputTypes' inputTypes contract) is
  // private[sql] in Spark 4 — check the child types directly instead
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("zorder2(x, y) takes two BIGINTs")
  }
  override def prettyName: String = "zorder2"

  override def nullSafeEval(x: Any, y: Any): Any =
    ZOrderKernels.zorder2(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.ZOrderKernels.zorder2($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrderFunctions {
  /** Codegen'd 2-D Morton key over the low 16 bits of each input. */
  def zorder2(x: Column, y: Column): Column =
    GraftColumnBridge.column(ZOrder2(
      GraftColumnBridge.expression(x), GraftColumnBridge.expression(y)))
}
