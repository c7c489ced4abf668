package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen'd integer squared euclidean distance over two
  * array<bigint> columns — the assignment kernel of the k-means family
  * (`kmeans_assign` and friends fold k of these over centroid literals
  * in one projection). The HOF formulation
  * (`aggregate(zip_with(...))`) is semantically identical but
  * CodegenFallback: every row pays two interpreted lambda evaluations
  * PER CENTROID, and the whole projection drops out of whole-stage
  * codegen. This kernel keeps the k-way argmin inside generated code —
  * the same reason [[IntDot]] exists for the SQ8 path.
  *
  * Long accumulation is exact for the family's operand range
  * (|element| ≤ ~4×10⁶ after quantization ⇒ per-term ≤ ~2×10¹³, ×D=64
  * ≈ 10¹⁵ ≪ 2⁶³), so the result is bit-deterministic across engines,
  * partitions, and evaluation strategies by construction — identical
  * to the oracle's summed `(val − cval)²`.
  *
  * Null contract mirrors [[IntDot]]: null-safe on the array arguments,
  * length mismatch raises (silent truncation would diverge from the
  * oracle's dim-indexed join). Overflow past that documented range is
  * LOUD (`Math.*Exact`, JIT-intrinsified), matching the ANSI HOF
  * spelling and DuckDB — see [[IntDot]] for why a wrapping accumulator
  * is the one strategy that would silently corrupt instead.
  */
case class IntSqDist(left: Expression, right: Expression) extends ArrayPairKernel(LongType) {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_int_sqdist"

  override protected def fold(x: ArrayData, y: ArrayData, n: Int): Any = {
    var acc = 0L
    var i = 0
    while (i < n) {
      // loud on overflow (intrinsified exact ops): the ANSI HOF spelling
      // and DuckDB both throw here — wrapping would silently corrupt
      val d = Math.subtractExact(x.getLong(i), y.getLong(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    acc
  }

  override protected def javaFold(ctx: CodegenContext, ev: ExprCode, a: String, b: String, n: String): String = {
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    val d = ctx.freshName("d")
    s"""
       |long $acc = 0L;
       |for (int $i = 0; $i < $n; $i++) {
       |  long $d = java.lang.Math.subtractExact($a.getLong($i), $b.getLong($i));
       |  $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($d, $d));
       |}
       |${ev.value} = $acc;
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}
