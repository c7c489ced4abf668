package graft

/** Contract lints over the declared-query manifest (SURVEY.md §2.12):
  * deterministic ordering in every oracle, unique names, and full oracle
  * coverage — cheap guards against silently breaking the driver's gate.
  */
class DeclarationLintSpec extends SparkSpec {

  test("every oracle has a deterministic ORDER BY") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(
        sql.toUpperCase.contains("ORDER BY"),
        s"$name oracle lacks ORDER BY — hash compare would be row-order lottery",
      )
    }
  }

  test("oracle coverage is total and names are unique") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.queries.size == 290, "declared-query count changed — update SURVEY.md §2.12")
  }

  test("declared output schemas carry only driver-hashable dtypes (no DECIMAL)") {
    // The round-15 regression class: the driver byte-hashes result
    // parquet, and decimal128 columns do not hash stably across the
    // Spark-parquet/DuckDB boundary even when every value matches — 8
    // queries shipped believed-green locally and failed the driver.
    // Wide DECIMAL(38,0) ACCUMULATORS are the right 100 TB arithmetic
    // and stay; the DECLARED output must cast them to BIGINT ("BIGINT
    // means out"). Whitelist: integral/double/string/date/timestamp/
    // boolean and arrays/structs thereof. tools/compare.py enforces the
    // same rule on the dumped parquet (decimal_output_problems).
    import org.apache.spark.sql.types._
    def ok(dt: DataType): Boolean = dt match {
      case _: DecimalType => false
      case ArrayType(e, _) => ok(e)
      case MapType(k, v, _) => ok(k) && ok(v)
      case StructType(fs) => fs.forall(f => ok(f.dataType))
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
          _: FloatType | _: DoubleType | _: StringType | _: DateType |
          _: TimestampType | _: BooleanType | _: BinaryType => true
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val bad = fn(spark, sfDir).schema.fields.filterNot(f => ok(f.dataType))
      if (bad.isEmpty) None
      else Some(s"$name: ${bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"declared outputs with non-hashable dtypes (cast wide accumulators to BIGINT): ${offenders.mkString("; ")}")
  }

  test("SCALE.md and README.md carry the live declared-query count") {
    val n = SparkEntry.queries.size
    val scale = java.nio.file.Files.readString(java.nio.file.Paths.get("SCALE.md"))
    assert(scale.contains(s"$n/$n declared queries"),
      s"SCALE.md count drifted — expected '$n/$n declared queries'")
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    assert(readme.contains(s"$n declared queries"),
      s"README.md count drifted — expected '$n declared queries'")
    assert(readme.contains(s"$n/$n vs DuckDB"),
      s"README.md gate line drifted — expected '$n/$n vs DuckDB'")
  }

  test("every declared query appears in SURVEY.md's §2.12 manifest") {
    val survey = java.nio.file.Files.readString(java.nio.file.Paths.get("SURVEY.md"))
    val missing = SparkEntry.queries.keySet.filterNot(n => survey.contains(s"`$n`"))
    assert(missing.isEmpty, s"queries missing from SURVEY.md §2.12: $missing")
  }

  test("Disp.roundz pins zero's sign to +0.0") {
    // The round-10 regression class: Spark round() (BigDecimal, no -0)
    // vs DuckDB round() (IEEE sign) diverge on tiny negatives that
    // round to zero; the driver hash-compares bytes where -0.0 != +0.0.
    import org.apache.spark.sql.functions.lit
    val rows = spark
      .range(1)
      .select(
        graft.operators.Disp.roundz(lit(-1e-9), 6).as("neg"),
        graft.operators.Disp.roundz(lit(1e-9), 6).as("pos"),
        graft.operators.Disp.roundz(lit(-0.25), 2).as("nz"),
      )
      .collect()
    val (neg, pos, nz) =
      (rows(0).getDouble(0), rows(0).getDouble(1), rows(0).getDouble(2))
    assert(java.lang.Double.doubleToRawLongBits(neg) == 0L, "roundz(-1e-9) must be +0.0")
    assert(java.lang.Double.doubleToRawLongBits(pos) == 0L, "roundz(+1e-9) must be +0.0")
    assert(nz == -0.25, "roundz must not perturb nonzero values")
  }

  test("roundz never emits -0.0 over a dense sample of sign-crossing doubles") {
    import org.apache.spark.sql.functions._
    // 40k deterministic pseudo-random doubles spanning ±[1e-9, 1e3] plus
    // exact zeros — every rounded value must carry a non-negative sign
    // bit and equal plain round() elsewhere.
    val checked = spark
      .range(40000)
      .select(
        (when(col("id") % 100 === 0, lit(0.0)).otherwise(
          (col("id") % 2 * 2 - 1).cast("double") *
            expr("pow(10.0, CAST(id % 13 AS DOUBLE) - 9.0)") *
            (col("id").cast("double") / 40000.0 + 0.5),
        )).as("x"),
      )
      .select(
        col("x"),
        graft.operators.Disp.roundz(col("x"), 6).as("rz"),
        round(col("x"), 6).as("r"),
      )
      .collect()
    checked.foreach { row =>
      val (x, rz, r) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
      if (rz == 0.0)
        assert(
          java.lang.Double.doubleToRawLongBits(rz) == 0L,
          s"roundz($x) rounded to zero with a negative sign bit",
        )
      else assert(rz == r, s"roundz($x) = $rz != round = $r")
    }
  }

  test("ZERO bare round() sites in Scala code — use Disp.roundz (forbidden outright)") {
    // Every display-rounded DOUBLE goes through Disp.roundz (Spark) and
    // a '(round(...) + 0.0)' wrapper in the oracle SQL, or the engines
    // disagree on the sign of zero and the driver's byte-hash gate
    // flips red (round-10 embedding_covariance). Round 11 pinned 36
    // audited-safe bare sites; round 12 migrated all of them — roundz
    // is a bit-exact no-op on the non-negative operands they compute —
    // so the pin is now ZERO and bare round( in Scala code is simply
    // forbidden: no audit ledger to maintain, no audit to get wrong.
    // (Oracle SQL text still says round(...) where the operand is
    // provably non-negative — string literals are stripped below; the
    // discipline there stays reviewed per-query.)
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = java.nio.file.Files
      .walk(root)
      .iterator()
      .asScala
      .filter(p => p.toString.endsWith(".scala") && !p.toString.endsWith("Disp.scala"))
      .flatMap { p =>
        var t = java.nio.file.Files.readString(p)
        t = t.replaceAll("(?s)\"\"\".*?\"\"\"", "\"\"")
        t = t.replaceAll("\"(?:\\\\.|[^\"\\\\])*\"", "\"\"")
        // comments may MENTION round() when documenting the discipline
        t = t.replaceAll("//[^\n]*", "")
        t = t.replaceAll("(?s)/\\*.*?\\*/", "")
        val n = "(?<![\\w.])round\\(".r.findAllMatchIn(t).size
        if (n > 0) Some(s"$p ($n)") else None
      }
      .toSeq
    assert(offenders.isEmpty,
      s"bare round( in Scala code (use Disp.roundz): ${offenders.mkString(", ")}")
  }

  test("each literal substrate tag is built at one call site") {
    // Two builders of one tag race: whichever runs first fills the entry
    // and the other's build is silently ignored, so the two can drift
    // apart without any test noticing. A shared tag goes through one
    // function that every consumer calls.
    import scala.jdk.CollectionConverters._
    val call = """SubstrateCache\.(?:substrate|substrateColumnar|value|layout)\(\s*[^,()]+,\s*[^,()]+,\s*"([^"]*)"""".r
    val sites = java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main/scala/graft"))
      .iterator()
      .asScala
      .filter(_.toString.endsWith(".scala"))
      .toSeq
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        call.findAllMatchIn(text).map { m =>
          m.group(1) -> s"${p.getFileName}:${text.substring(0, m.start).count(_ == '\n') + 1}"
        }
      }
    assert(sites.nonEmpty, "the call-site scan found no substrate calls")
    val shared = sites.groupBy(_._1).collect { case (tag, ss) if ss.size > 1 => s"$tag at ${ss.map(_._2).mkString(", ")}" }
    assert(shared.isEmpty, s"substrate tags built at more than one call site: ${shared.mkString("; ")}")
  }

  test("oracles reference only driver testdata tables") {
    val tables = Set(
      "region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings",
      // table functions DuckDB provides without touching files (state_scan
      // rebuilds the V2 source's deterministic rows from a range)
      "range",
    )
    val fromRe = """(?i)(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)""".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // strip CTE names declared in this query; whatever remains must be testdata
      val cteRe =
        """(?i)([a-z_][a-z0-9_]*)(?:\s*\([^)]*\))?\s+AS\s*(?:MATERIALIZED\s*)?\(""".r
      val ctes = cteRe.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val refs = fromRe.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = refs -- ctes -- tables
      assert(unknown.isEmpty, s"$name references unknown tables: $unknown")
    }
  }
}
