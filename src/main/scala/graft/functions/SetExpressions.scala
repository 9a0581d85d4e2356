package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Count-only intersection of two SORTED long-array sets.
  *
  * The dedup verify stages need |A ∩ B| of two per-doc shingle-hash sets —
  * nothing else. `size(array_intersect(a, b))` computes that by building a
  * hash set of one side PER ROW, probing the other side through boxed
  * `Long`s, materializing the intersection as a fresh ArrayData, and then
  * counting it — at hundreds of thousands of candidate pairs per corpus the
  * allocation + boxing dominate the verify stage (profiled r21: the
  * candidate-verify stage of the prefix pair join burned ~12 CPU-seconds
  * warm on 5k docs, mostly here). Over arrays that are already sorted the
  * same count is one allocation-free merge walk over the primitive longs.
  *
  * CONTRACT: both inputs must be ascending-sorted, null-free long arrays —
  * exactly what `sort_array(collect_set(x))` over a non-null long column
  * produces. Equal values count once per value (set semantics; the merge
  * advances both cursors on a match), so for set inputs the result equals
  * `size(array_intersect(a, b))` exactly. Unsorted input silently
  * undercounts — keep the builder [[SetFunctions.sorted_intersect_count]]
  * paired with sorted producers only. A null element the walk reaches
  * throws instead of reading as 0.
  */
// TEMPLATE CAUTION (same as VectorExpressions): no generated line may START
// with '|' — Spark's code-Block interpolator strips '|' margins again;
// keep boolean operators at end of line.
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def prettyName: String = "sorted_intersect_count"

  // The getLong merge walk reads garbage on any non-long element type —
  // fail at ANALYSIS time instead (r21 advice). Element NULLABILITY is
  // deliberately not rejected: a parquet round-trip of a null-free
  // array<long> column reads back with containsNull=true (a legitimate
  // production shape), so null-freeness is checked per element at run
  // time instead (generated code skips the check for a side whose type
  // cannot hold nulls).
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires both inputs to be array<bigint> " +
        s"(sort_array(collect_set(<long>)) produces exactly that); got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  // null only when a child is null (set arrays are built null-free)
  override def nullable: Boolean = left.nullable || right.nullable

  private def containsNull(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      if (x.isNullAt(i) || y.isNullAt(j))
        throw new IllegalArgumentException(SortedIntersectCount.NullElement)
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val nullChecks =
        (if (containsNull(left)) Seq(s"$x.isNullAt($i)") else Nil) ++
          (if (containsNull(right)) Seq(s"$y.isNullAt($j)") else Nil)
      val nullGuard =
        if (nullChecks.isEmpty) ""
        else s"""if (${nullChecks.mkString(" || ")}) { throw new """ +
          s"""IllegalArgumentException("${SortedIntersectCount.NullElement}"); }"""
      s"""
         |int $nx = $x.numElements();
         |int $ny = $y.numElements();
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  $nullGuard
         |  long $xv = $x.getLong($i);
         |  long $yv = $y.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  val NullElement: String =
    "sorted_intersect_count: null array element; inputs must be null-free sorted sets"
}

object SetFunctions {
  /** |a ∩ b| of two ascending-sorted null-free array<long> sets — see
    * [[SortedIntersectCount]] for the contract. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectCount(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
