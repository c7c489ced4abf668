package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The shared frame of the native kernels over two `array<elem>` columns
  * ([[CosineSimilarity]], [[IntDot]], [[IntSqDist]], [[DoubleSqDist]]):
  * the argument type check, null-safety on the array arguments and the
  * length-mismatch throw in both the interpreted and the generated path.
  * A kernel supplies only its fold over `n` equal-length elements, once
  * for each path. Array elements are assumed non-null. A length mismatch
  * raises rather than truncating to min(n): the DuckDB oracles error or
  * index by dimension there, so truncation would be a silent
  * cross-engine divergence. Serializable itself, so tasks can rebuild the
  * kernels from Java serialization (Expression is not).
  */
abstract class ArrayPairKernel(elem: DataType) extends BinaryExpression with Serializable {

  /** The interpreted fold over `n` elements of `x` and `y` (null allowed). */
  protected def fold(x: ArrayData, y: ArrayData, n: Int): Any

  /** Java statements folding `n` elements of arrays `a` and `b` into
    * `ev.value` (or setting `ev.isNull`).
    */
  protected def javaFold(ctx: CodegenContext, ev: ExprCode, a: String, b: String, n: String): String

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(`elem`, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<${elem.catalogString}> arguments, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}",
      )
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array length mismatch ($n vs ${y.numElements()})",
      )
    fold(x, y, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val n = ctx.freshName("n")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  throw new IllegalArgumentException(
           |    "$prettyName: array length mismatch (" + $n + " vs " + $b.numElements() + ")");
           |}
           |""".stripMargin + javaFold(ctx, ev, a, b, n)
      },
    )
}
