package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen'd double squared euclidean distance over two
  * array<double> columns — the PQ training/encoding kernel
  * ([[graft.operators.PqOps]]'s per-(vector, subspace, centroid)
  * distance under a broadcast codebook). Same motivation as
  * [[IntSqDist]]: the `aggregate(zip_with(...))` spelling is
  * CodegenFallback, so the hottest joined projection in the PQ path
  * paid two interpreted lambdas per centroid row.
  *
  * Determinism: the Java loop accumulates left-to-right — EXACTLY the
  * sequential fold the HOF evaluates and the DuckDB oracle's
  * list-indexed sum states — so the doubles are bit-identical across
  * evaluation strategies and engines (the engine-wide
  * sequential-left-fold contract; see the verify notes). This swap
  * changes no value anywhere, only where the loop runs.
  *
  * Null contract mirrors [[IntDot]]: null-safe on the array arguments,
  * length mismatch raises.
  */
case class DoubleSqDist(left: Expression, right: Expression) extends ArrayPairKernel(DoubleType) {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_double_sqdist"

  override protected def fold(x: ArrayData, y: ArrayData, n: Int): Any = {
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def javaFold(ctx: CodegenContext, ev: ExprCode, a: String, b: String, n: String): String = {
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    val d = ctx.freshName("d")
    s"""
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $d = $a.getDouble($i) - $b.getDouble($i);
       |  $acc += $d * $d;
       |}
       |${ev.value} = $acc;
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}
