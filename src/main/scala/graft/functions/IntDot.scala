package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen'd integer dot product over two array<bigint> columns —
  * the coarse-ranking kernel of the SQ8 search path
  * (`quantized_topk`). Long accumulation is exact (no float rounding at
  * all), so the result is bit-deterministic across engines, partitions,
  * and evaluation strategies by construction; the codegen form exists
  * purely to keep the hot candidate loop inside whole-stage codegen
  * instead of an interpreted `aggregate(zip_with(...))` lambda pair per
  * candidate row.
  *
  * Null contract mirrors [[CosineSimilarity]]: null-safe on the array
  * arguments, length mismatch raises (silent truncation would diverge
  * from the oracle's indexed list_transform).
  *
  * Overflow is LOUD (`Math.multiplyExact`/`addExact`, JIT-intrinsified
  * — the check is a predicted branch, not a slowdown): the HOF spelling
  * this kernel replaces throws under ANSI mode and DuckDB's BIGINT
  * arithmetic throws out-of-range, so a wrapping accumulator would be
  * the one evaluation strategy that silently corrupts past the
  * documented magnitude bounds instead of failing like both oracles.
  */
case class IntDot(left: Expression, right: Expression) extends ArrayPairKernel(LongType) {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_int_dot"

  override protected def fold(x: ArrayData, y: ArrayData, n: Int): Any = {
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(x.getLong(i), y.getLong(i)))
      i += 1
    }
    acc
  }

  override protected def javaFold(ctx: CodegenContext, ev: ExprCode, a: String, b: String, n: String): String = {
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    s"""
       |long $acc = 0L;
       |for (int $i = 0; $i < $n; $i++) {
       |  $acc = java.lang.Math.addExact($acc,
       |    java.lang.Math.multiplyExact($a.getLong($i), $b.getLong($i)));
       |}
       |${ev.value} = $acc;
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}
