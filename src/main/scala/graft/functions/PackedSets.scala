package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact long packing of short-string sets — the r18 verification fast
  * path: [[SortedJaccard]] over packed `array<bigint>` sets merges
  * primitive longs.
  *
  * The LSH/winnow candidate verification ran [[SortedJaccard]] over SORTED
  * STRING shingle arrays: each merge step calls `ArrayData.getUTF8String`
  * (an object allocation per element per pair) and a byte-loop compare.
  * With ~1M candidate pairs × ~10³-element sets at sf0.1, that merge WAS
  * the dedup family's dominant cost (r18 profile: ~27 of each query's
  * ~31 cumulative task-seconds).
  *
  * Char shingles are substrings of [[graft.llm.TextStats.normalizeText]]
  * output — k ≤ 8 single-byte chars from `[a-z0-9 ]`, never NUL — so each
  * shingle packs EXACTLY into one long (big-endian, left-justified,
  * zero-padded): the packing is injective (no trailing-NUL ambiguity
  * because inputs are NUL-free) and order-preserving (unsigned long order
  * = unsigned byte order = `UTF8String` order for equal-or-prefix-padded
  * bytes). Therefore |A∩B| and |A∪B| — and the IEEE division — are
  * bit-identical to the string-side computation; the packed merge
  * ([[SortedSetOverlap]]'s unsigned-long comparator) just compares
  * primitive longs. Inputs that violate the contract (> 8 bytes,
  * or a 0x00 byte) fail LOUDLY at pack time — never a silent wrong pack.
  */
@ExpressionDescription(
  usage = "pack_shingle_set(a) - pack an array of <=8-byte NUL-free strings into big-endian longs.")
case class PackShingleSet(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pack_shingle_set requires array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        out(i) = PackShingleSet.packOne(arr.getUTF8String(i))
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  // interpreted-only: the expression runs once per DOCUMENT (the merge
  // runs per PAIR); a codegen split would buy nothing measurable. The
  // surrounding operators stay whole-stage-codegen'd via this fallback.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val cls = classOf[PackShingleSet].getName
      val gad = classOf[GenericArrayData].getName
      s"""
         |int $n = $a.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $out[$i] = $cls.packOne($a.getUTF8String($i));
         |  }
         |}
         |${ev.value} = new $gad($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PackShingleSet =
    copy(child = newChild)
}

object PackShingleSet {
  /** Big-endian left-justified zero-padded pack of ≤ 8 NUL-free bytes.
    * Public + static-reachable so generated code can call it. */
  def packOne(s: UTF8String): Long = {
    val nb = s.numBytes()
    if (nb > 8)
      throw new IllegalArgumentException(
        s"pack_shingle_set: element longer than 8 bytes ($nb): " +
          s"'${s.toString.take(16)}' — packed verification requires shingleSize <= 8")
    val bytes = s.getBytes
    var v = 0L
    var i = 0
    while (i < nb) {
      val b = bytes(i)
      if (b == 0)
        throw new IllegalArgumentException(
          "pack_shingle_set: element contains a NUL byte — packing would be ambiguous")
      v = (v << 8) | (b & 0xFFL)
      i += 1
    }
    // left-justify: shift the remaining (8 - nb) bytes of zero padding in
    v << (8 * (8 - nb))
  }
}

object PackedSets {
  /** Column API: pack a sorted ≤8-byte-string set into a sorted long set. */
  def packShingleSet(a: Column): Column =
    Bridge.column(PackShingleSet(Bridge.expression(a)))
}
