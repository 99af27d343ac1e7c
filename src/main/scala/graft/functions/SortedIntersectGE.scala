package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Early-terminating sorted-intersection threshold test:
  * `sorted_intersect_ge(a, b, k)` over two SORTED ArrayType(LongType)
  * columns → true iff the two arrays share at least `k` DISTINCT values.
  *
  * Semantics are exactly `size(array_intersect(a, b)) >= k` for sorted
  * inputs (array_intersect's result is the distinct common values;
  * duplicate runs here advance past both sides' copies so each common
  * value counts once) — but as one codegen merge loop that (1) never
  * allocates the intersection array and its hash set per row, and (2)
  * STOPS at the k-th witness instead of draining both arrays. This is the
  * graph_ktruss round-1 hot path (VERDICT r16 item 5): support ≥ 8 over
  * ~1.2M edges × ~120-element neighbor lists pays the full intersect
  * build per edge under the HOF formulation; dense edges (the ones that
  * survive) terminate after ~k probes here, and sparse edges terminate
  * when either list exhausts.
  *
  * Preconditions: both arrays element-null-free — enforced at analysis,
  * the input type must be `array<bigint>` with `containsNull = false`
  * (collect_list's type), because the merge reads a null slot as a
  * garbage long — and ascending-sorted, a documented contract the
  * expression cannot check per row (trussRound builds its lists with
  * sort_array). Array-level nulls propagate null like any
  * BinaryExpression.
  */
case class SortedIntersectGE(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  require(k >= 1, s"sorted_intersect_ge needs k >= 1 (got $k)")

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def show(t: DataType) = t match {
      case ArrayType(e, true) => s"array<${e.catalogString}> with nullable elements"
      case _ => t.catalogString
    }
    val ok = Seq(left, right).forall(_.dataType == ArrayType(LongType, containsNull = false))
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_ge expects two array<bigint> inputs without null " +
        s"elements, got ${show(left.dataType)} / ${show(right.dataType)}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < n && j < m && cnt < k) {
      val av = a.getLong(i)
      val bv = b.getLong(j)
      if (av < bv) i += 1
      else if (av > bv) j += 1
      else {
        cnt += 1
        i += 1; j += 1
        while (i < n && a.getLong(i) == av) i += 1
        while (j < m && b.getLong(j) == bv) j += 1
      }
    }
    cnt >= k
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val av = ctx.freshName("av")
      val bv = ctx.freshName("bv")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0; int $j = 0; int $cnt = 0;
         |while ($i < $n && $j < $m && $cnt < $k) {
         |  long $av = $a.getLong($i);
         |  long $bv = $b.getLong($j);
         |  if ($av < $bv) { $i++; }
         |  else if ($av > $bv) { $j++; }
         |  else {
         |    $cnt++;
         |    $i++; $j++;
         |    while ($i < $n && $a.getLong($i) == $av) $i++;
         |    while ($j < $m && $b.getLong($j) == $bv) $j++;
         |  }
         |}
         |${ev.value} = $cnt >= $k;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectGE =
    copy(left = l, right = r)
}

object SortedIntersectGE {
  private[graft] def sorted_intersect_ge(a: Column, b: Column, k: Int): Column =
    Bridge.column(SortedIntersectGE(Bridge.expression(a), Bridge.expression(b), k))
}
