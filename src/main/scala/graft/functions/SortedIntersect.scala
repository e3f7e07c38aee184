package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: |a ∩ b| of two SORTED-ASCENDING
  * distinct `array<long>` columns, by a single merge pass.
  *
  * The q35/q37 exact-verify hot path (r12, closing VERDICT r11 #2):
  * the built-in `array_intersect` builds a hash set of one side and a
  * result ARRAY of the intersection per row — per-element hashing,
  * boxing inside the set, and an output array the caller immediately
  * reduces to its size. On the verify join — per CANDIDATE PAIR, the
  * dedup family's largest compute at scale (q37's final verify was 3426 CPU-s
  * at distinct ×512, corpus-linear) — that constant is the wall. The
  * inputs are already sorted distinct hash arrays (the same `hs`
  * encoding the (n, h1, h2) exact-signature shortcut hashes), so a
  * two-pointer merge needs one pass, no allocation, no boxing, and
  * stays inside whole-stage codegen.
  *
  * Caller contract: both arrays sorted ascending with distinct
  * elements (`array_sort(array_distinct(...))` — the canonical `hs`
  * builders in DedupQueries). Unsorted input silently undercounts;
  * this is a private engine kernel, not a user-facing function.
  * Returns NULL only for NULL inputs.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "sorted_intersect_count"

  // The TYPE half of the caller contract fails analysis instead of
  // silently miscounting (ADVICE r12): both children must be
  // array<long> with no null elements — getLong on a null slot or a
  // non-long array would read garbage. (The sortedness half is not
  // checkable at analysis time; it stays a documented contract with
  // its call sites pinned by KernelCodegenSpec.)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, containsNull) => !containsNull
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> columns without null " +
        s"elements, got ${left.dataType.catalogString} and " +
        s"${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var cnt = 0L
    while (i < na && j < nb) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi < yj) i += 1
      else if (xi > yj) j += 1
      else { cnt += 1L; i += 1; j += 1 }
    }
    java.lang.Long.valueOf(cnt)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName on every local (cf. CosineSim): two instances in one
      // codegen'd projection must not emit duplicate declarations
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val xi = ctx.freshName("xi")
      val yj = ctx.freshName("yj")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0, $j = 0;
         |long $cnt = 0L;
         |while ($i < $na && $j < $nb) {
         |  long $xi = $a.getLong($i);
         |  long $yj = $b.getLong($j);
         |  if ($xi < $yj) { $i++; }
         |  else if ($xi > $yj) { $j++; }
         |  else { $cnt++; $i++; $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Column-API entry point. */
  def apply(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      SortedIntersectCount(
        GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
