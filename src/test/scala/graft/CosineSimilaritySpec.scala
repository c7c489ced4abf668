package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, GraftExtensions}

/** The native codegen'd cosine expression must be bit-identical to the
  * HOF fold formulation (which the DuckDB oracle mirrors), survive the
  * codegen path on real data, and register via both entry points.
  */
class CosineSimilaritySpec extends SparkSpec {

  private val hof =
    """aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)
      | / (sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v))
      |    * sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)))""".stripMargin

  test("native expression equals the HOF fold bit-for-bit on real embeddings") {
    GraftFunctions.register(spark)
    val e = Tables
      .embeddings(spark, sfDir)
      .withColumn("dvec", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    val pairs = e
      .select(col("vec_id").as("ia"), col("dvec").as("a"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("dvec").as("b")))
      .filter(col("ia") < col("ib") && col("ia") < 30)
    val diffs = pairs
      .select(
        (expr("cosine_similarity(a, b)") - expr(hof)).as("delta"),
      )
      .filter(col("delta") =!= 0.0)
      .count()
    assert(diffs == 0L, "codegen loop must reproduce the sequential fold exactly")
  }

  test("graft_int_dot equals the HOF integer fold and handles nulls/mismatches") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val e = Tables
      .embeddings(spark, sfDir)
      .withColumn("qv", expr(
        "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 100 + 0.5) AS BIGINT))"))
    val pairs = e
      .select(col("vec_id").as("ia"), col("qv").as("a"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("qv").as("b")))
      .filter(col("ia") < col("ib") && col("ia") < 20)
    val diffs = pairs
      .select((expr("graft_int_dot(a, b)") -
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, v) -> s + v)")).as("delta"))
      .filter(col("delta") =!= 0L)
      .count()
    assert(diffs == 0L, "codegen integer dot must equal the fold exactly")
    val nul = Seq((Seq(1L, 2L), Option.empty[Seq[Long]]))
      .toDF("a", "b").select(expr("graft_int_dot(a, b)")).collect().head
    assert(nul.isNullAt(0))
    intercept[Exception] {
      Seq((Seq(1L), Seq(1L, 2L))).toDF("a", "b")
        .select(expr("graft_int_dot(a, b)")).collect()
    }
  }

  /** Every array-pair kernel with its element type. */
  private val kernels = Seq(
    "cosine_similarity" -> "double",
    "graft_int_dot" -> "bigint",
    "graft_int_sqdist" -> "bigint",
    "graft_double_sqdist" -> "double",
  )

  /** `kernel(x, y)` over a one-row range: the arrays derive from `id`, so
    * nothing constant-folds and the kernel runs in the executed plan.
    */
  private def run(kernel: String, t: String, x: String, y: String) =
    spark.range(1).select(expr(s"$kernel(CAST($x AS array<$t>), CAST($y AS array<$t>))")).collect().head

  /** Run `body` once on the whole-stage codegen path, then once interpreted. */
  private def bothPaths(body: => Unit): Unit = {
    body
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      body
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  private def causes(e: Throwable): Iterator[Throwable] = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("null inputs yield null, mismatched types are rejected") {
    GraftFunctions.register(spark)
    bothPaths {
      kernels.foreach { case (k, t) =>
        assert(run(k, t, "array(id + 1, id + 2)", "NULL").isNullAt(0), s"$k(x, NULL)")
        assert(run(k, t, "NULL", "array(id + 1, id + 2)").isNullAt(0), s"$k(NULL, y)")
      }
    }
    kernels.foreach { case (k, t) =>
      val other = if (t == "double") "bigint" else "double"
      val e = intercept[Exception](run(k, other, "array(id + 1)", "array(id + 2)"))
      assert(e.getMessage.contains(s"requires two array<$t> arguments"), s"$k: ${e.getMessage}")
      intercept[Exception] {
        spark.range(1).select(expr(s"$k(id, id)")).collect()
      }
    }
  }

  test("zero-norm vectors yield null (not NaN), mismatched lengths raise") {
    GraftFunctions.register(spark)
    bothPaths {
      assert(run("cosine_similarity", "double", "array(id, id)", "array(id + 1, id + 2)").isNullAt(0))
      assert(run("cosine_similarity", "double", "array(id + 1, id + 2)", "array(id, id)").isNullAt(0))
      kernels.foreach { case (k, t) =>
        val e = intercept[Exception](run(k, t, "array(id + 1, id + 2)", "array(id + 1, id + 2, id + 3)"))
        assert(
          causes(e).exists(c => c.getMessage != null && c.getMessage.contains(s"$k: array length mismatch (2 vs 3)")),
          s"$k: ${e.getMessage}",
        )
      }
    }
  }
  test("integer kernels fail LOUDLY on overflow — codegen and interpreted paths") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val big = Seq((Seq(Long.MaxValue / 2, Long.MaxValue / 2), Seq(3L, 3L)))
    // dot: (2^62)*3 overflows multiplyExact
    intercept[Exception] {
      big.toDF("a", "b").select(expr("graft_int_dot(a, b)")).collect()
    }
    // sqdist: d = 2^62 - 3 fits, d*d overflows multiplyExact
    intercept[Exception] {
      big.toDF("a", "b").select(expr("graft_int_sqdist(a, b)")).collect()
    }
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      intercept[Exception] {
        big.toDF("a", "b").select(expr("graft_int_dot(a, b)")).collect()
      }
      intercept[Exception] {
        big.toDF("a", "b").select(expr("graft_int_sqdist(a, b)")).collect()
      }
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // in-range values are untouched by the exact ops
    val ok = Seq((Seq(5L, -7L), Seq(11L, 13L))).toDF("a", "b")
      .select(expr("graft_int_dot(a, b)"), expr("graft_int_sqdist(a, b)"))
      .collect()
      .head
    assert(ok.getLong(0) == 5 * 11 + -7 * 13)
    assert(ok.getLong(1) == 36L + 400L)
  }

  test("extension injector wires the same registrations") {
    // builder-level injection can't be exercised on an existing session;
    // validate the injector runs against a fresh extensions container.
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("interpreted (non-codegen) eval path matches too") {
    GraftFunctions.register(spark)
    val dot = 1.0 * 2 + 2.0 * 3 + 3.0 * 4
    val want = Map(
      "cosine_similarity" -> dot / (math.sqrt(1 + 4 + 9) * math.sqrt(4 + 9 + 16)),
      "graft_int_dot" -> 20L,
      "graft_int_sqdist" -> 3L,
      "graft_double_sqdist" -> 3.0,
    )
    bothPaths {
      kernels.foreach { case (k, t) =>
        val got = run(k, t, "array(id + 1, id + 2, id + 3)", "array(id + 2, id + 3, id + 4)").get(0)
        assert(got == want(k), s"$k: $got vs ${want(k)}")
      }
    }
  }
}
