package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native codegen'd cosine similarity over two array<double> columns.
  *
  * The HOF formulation (`aggregate(zip_with(...))`) is semantically
  * identical but evaluates interpreted lambdas per element; this
  * expression compiles to a tight Java loop inside whole-stage codegen —
  * the preferred extension path when built-ins can't express the hot loop
  * (custom Expression > UDF). Accumulation is a sequential index-order
  * fold, so results are bit-identical to the HOF version and to DuckDB's
  * list_inner_product-based oracle.
  *
  * Null contract: null if either array is null (nullSafe) or either
  * vector has zero norm (cosine is undefined — returning NaN would
  * silently poison downstream comparisons); array elements are assumed
  * non-null (enforce upstream with a cast), matching the HOF fold, which
  * would propagate element nulls differently. Mismatched array lengths
  * raise, as DuckDB's list_inner_product oracle does.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends ArrayPairKernel(DoubleType) {

  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override protected def fold(x: ArrayData, y: ArrayData, n: Int): Any = {
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def javaFold(ctx: CodegenContext, ev: ExprCode, a: String, b: String, n: String): String = {
    val dot = ctx.freshName("dot")
    val nx = ctx.freshName("nx")
    val ny = ctx.freshName("ny")
    val i = ctx.freshName("i")
    val xv = ctx.freshName("xv")
    val yv = ctx.freshName("yv")
    s"""
       |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $xv = $a.getDouble($i);
       |  double $yv = $b.getDouble($i);
       |  $dot += $xv * $yv;
       |  $nx += $xv * $xv;
       |  $ny += $yv * $yv;
       |}
       |if ($nx == 0.0 || $ny == 0.0) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression,
  ): Expression = copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  private val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("cosine_similarity"),
        new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
        (children: Seq[Expression]) => CosineSimilarity(children(0), children(1)),
      ),
      (
        FunctionIdentifier("graft_poly_hash"),
        new ExpressionInfo(classOf[PolyHash].getName, "graft_poly_hash"),
        (children: Seq[Expression]) => PolyHash(children(0)),
      ),
      (
        FunctionIdentifier("graft_pow31"),
        new ExpressionInfo(classOf[PolyPow31].getName, "graft_pow31"),
        (children: Seq[Expression]) => PolyPow31(children(0)),
      ),
      (
        FunctionIdentifier("graft_gram_hashes"),
        new ExpressionInfo(classOf[GramHashes].getName, "graft_gram_hashes"),
        (children: Seq[Expression]) => GramHashes(children(0)),
      ),
      (
        FunctionIdentifier("graft_gram_hashes_pos"),
        new ExpressionInfo(classOf[GramHashesPos].getName, "graft_gram_hashes_pos"),
        (children: Seq[Expression]) => GramHashesPos(children(0)),
      ),
      (
        FunctionIdentifier("graft_int_dot"),
        new ExpressionInfo(classOf[IntDot].getName, "graft_int_dot"),
        (children: Seq[Expression]) => IntDot(children(0), children(1)),
      ),
      (
        FunctionIdentifier("graft_int_sqdist"),
        new ExpressionInfo(classOf[IntSqDist].getName, "graft_int_sqdist"),
        (children: Seq[Expression]) => IntSqDist(children(0), children(1)),
      ),
      (
        FunctionIdentifier("graft_double_sqdist"),
        new ExpressionInfo(classOf[DoubleSqDist].getName, "graft_double_sqdist"),
        (children: Seq[Expression]) => DoubleSqDist(children(0), children(1)),
      ),
      (
        FunctionIdentifier("graft_gram_pairs"),
        new ExpressionInfo(classOf[GramPairs].getName, "graft_gram_pairs"),
        (children: Seq[Expression]) => GramPairs(children(0)),
      ),
      (
        FunctionIdentifier("graft_gram2_join"),
        new ExpressionInfo(classOf[GramJoin].getName, "graft_gram2_join"),
        (children: Seq[Expression]) => GramJoin(children(0), 2),
      ),
      (
        FunctionIdentifier("graft_gram3_join"),
        new ExpressionInfo(classOf[GramJoin].getName, "graft_gram3_join"),
        (children: Seq[Expression]) => GramJoin(children(0), 3),
      ),
    )

  /** Imperative per-session registration (idempotent) — usable from any
    * already-built session (Verify/Bench/tests build their own).
    */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }

  private[functions] def inject(ext: SparkSessionExtensions): Unit =
    registrations.foreach(ext.injectFunction)
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` wiring for
  * sessions built from config (clusters, spark-submit): the native
  * expression kernels plus the range-join binning optimizer rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(ext)
    ext.injectOptimizerRule(_ => graft.plans.BinRangeJoin)
  }
}
