package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Focused scale-knob measurements for SCALE.md — the sibling of
  * [[Bench]] for scenarios that are NOT declared queries: the
  * production-knob variants of deliberately-fixed declared instances
  * (`semantic_dedup`'s cell count, `incremental_knn`'s batch size).
  * Each scenario prints `name,seconds,rows` (min of `SPARK_GRAFT_REPS`).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.KnobBench sem8,sem32"
  */
object KnobBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")

    // fixed-size batch for the incremental-kNN scenarios: the SAME ~400
    // query vectors regardless of corpus size (what a real ingest batch
    // is), vs the declared twin whose 1/7-residue batch GROWS with the
    // corpus — the difference between the two is the whole super-linear
    // reading in the full-suite doubling table.
    def fixedBatchKnn(s: SparkSession): org.apache.spark.sql.DataFrame = {
      val e = operators.SimilarityOps.knnCoded(s, sfDir)
      val newB = e.filter(col("vec_id") % 7 === 0 && col("vec_id") < 2800)
        .select(col("vec_id").as("src"), col("code").as("sc"), col("dvec").as("qv"))
      val corpus = e.filter(col("vec_id") % 7 =!= 0)
        .select(col("vec_id").as("nbr"), col("code").as("nc"), col("dvec").as("cv"))
      operators.SimilarityOps.incrementalTopK(s, newB, corpus)
    }

    val scenarios: Map[String, SparkSession => org.apache.spark.sql.DataFrame] = Map(
      "sem8" -> (s => operators.SimilarityOps.semanticSurvivors(s, sfDir, 8)),
      "sem32" -> (s => operators.SimilarityOps.semanticSurvivors(s, sfDir, 32)),
      "sem128" -> (s => operators.SimilarityOps.semanticSurvivors(s, sfDir, 128)),
      "iknn_fixed" -> fixedBatchKnn,
    )
    val names =
      if (args.nonEmpty) args(0).split(",").toSeq else scenarios.keys.toSeq.sorted
    names.foreach { n =>
      val fn = scenarios(n)
      var best = Double.MaxValue
      var rows = -1L
      // untimed warm rep builds shared substrates, matching Bench
      fn(spark).write.format("noop").mode("overwrite").save()
      for (_ <- 1 to reps) {
        val t0 = System.nanoTime()
        val df = fn(spark)
        rows = df.count()
        val secs = (System.nanoTime() - t0) / 1e9
        if (secs < best) best = secs
      }
      println(f"KNOB,$n,$best%.3f,$rows")
    }
    spark.stop()
  }
}
