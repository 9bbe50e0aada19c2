package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Set overlap of two SORTED, DISTINCT arrays as a single linear merge —
  * the one kernel behind [[SortedJaccard]] and [[SortedIntersect]].
  *
  * Why custom: the composable form
  * `size(array_intersect(a,b)) / size(array_union(a,b))` builds two hash sets
  * per row (`SQLOpenHashSet`, with per-element null-check lambdas) and
  * dominated the LSH dedup verification profile. A two-pointer walk over
  * pre-sorted arrays does the same math with zero allocation per row —
  * `array_sort` runs once per *document*, the merge runs once per *candidate
  * pair*, and pairs outnumber documents by orders of magnitude at scale.
  *
  * Both inputs are `array<string>` or both `array<bigint>`; the merge's
  * comparator follows the element type, fixed at plan time (the generated
  * code carries no per-element type branch):
  *  - `array<string>`: `UTF8String` binary order, i.e. what `array_sort`
  *    yields;
  *  - `array<bigint>`: UNSIGNED long order — the order
  *    [[PackedSets.packShingleSet]] preserves, so a packed set merges to
  *    bit-identical |∩| and |∪| (PackedSetsSpec). A `bigint` set sorted by
  *    `array_sort` (signed order) is only valid input if it holds no
  *    negative element.
  *
  * Inputs MUST be sorted ascending in that order and duplicate-free
  * (`array_distinct`); results on unsorted input are meaningless. Null
  * elements sort first and two nulls count as a match. */
abstract class SortedSetOverlap extends BinaryExpression {

  /** SQL name, for type-check messages. */
  protected def fnName: String

  /** true: Jaccard |∩|/|∪| as a double (0.0 for two empty sets);
    * false: the integer |∩|. */
  protected def jaccard: Boolean

  override def dataType: DataType = if (jaccard) DoubleType else IntegerType

  @transient private lazy val longs: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) |
        (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$fnName requires two array<string> or two array<bigint> inputs, got " +
        s"${l.catalogString} and ${r.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val xn = a.isNullAt(i)
      val yn = b.isNullAt(j)
      val c = if (xn || yn) { if (xn && yn) 0 else if (xn) -1 else 1 }
        else if (longs) java.lang.Long.compareUnsigned(a.getLong(i), b.getLong(j))
        else a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    if (!jaccard) inter
    else if (na == 0 && nb == 0) 0.0
    else inter.toDouble / (na + nb - inter)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val Seq(na, nb, i, j, inter, xn, yn, c) =
        Seq("na", "nb", "i", "j", "inter", "xn", "yn", "c").map(ctx.freshName)
      val cmp =
        if (longs) s"java.lang.Long.compareUnsigned($a.getLong($i), $b.getLong($j))"
        else s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
      val result =
        if (jaccard) s"($na == 0 && $nb == 0) ? 0.0 : ((double) $inter) / ($na + $nb - $inter)"
        else inter
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $na && $j < $nb) {
         |  boolean $xn = $a.isNullAt($i);
         |  boolean $yn = $b.isNullAt($j);
         |  int $c = ($xn || $yn) ? (($xn && $yn) ? 0 : ($xn ? -1 : 1)) : $cmp;
         |  if ($c == 0) { $inter++; $i++; $j++; }
         |  else if ($c < 0) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $result;
       """.stripMargin
    })
}

/** Jaccard similarity of two sorted distinct sets ([[SortedSetOverlap]]). */
@ExpressionDescription(
  usage = "sorted_jaccard(a, b) - Jaccard similarity of two sorted distinct string or bigint arrays.")
case class SortedJaccard(left: Expression, right: Expression) extends SortedSetOverlap {
  override protected def fnName: String = "sorted_jaccard"
  override protected def jaccard: Boolean = true
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)
}

/** Intersection COUNT of two sorted distinct sets ([[SortedSetOverlap]]),
  * for consumers that need integer set algebra (`|∪| = |a| + |b| − |∩|`)
  * instead of a pre-divided double: the prefix-filtered exact Jaccard join
  * compares `|∩|·tDen ≥ tNum·|∪|` in pure integers, so no division may
  * happen inside the expression. */
@ExpressionDescription(
  usage = "sorted_intersect(a, b) - intersection size of two sorted distinct string or bigint arrays.")
case class SortedIntersect(left: Expression, right: Expression) extends SortedSetOverlap {
  override protected def fnName: String = "sorted_intersect"
  override protected def jaccard: Boolean = false
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersect =
    copy(left = newLeft, right = newRight)
}

object SetSimilarity {
  /** Column API: Jaccard of two sorted distinct string or bigint arrays. */
  def sortedJaccard(a: Column, b: Column): Column =
    Bridge.column(SortedJaccard(Bridge.expression(a), Bridge.expression(b)))

  /** Column API: intersection count of two sorted distinct string or
    * bigint arrays. */
  def sortedIntersect(a: Column, b: Column): Column =
    Bridge.column(SortedIntersect(Bridge.expression(a), Bridge.expression(b)))
}
