package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val Usage = "usage: graft.Verify <sfDir> <outDir>  (env SPARK_GRAFT_ONLY=name,name to run a subset)"

  /** (sfDir, outDir, the SPARK_GRAFT_ONLY subset), or the message to print
    * before exiting 2.
    */
  private[graft] def parseArgs(
      args: Array[String],
      only: Option[String],
  ): Either[String, (String, String, Option[Set[String]])] =
    args match {
      case Array(sfDir, outDir) =>
        val names = only.map(_.split(",").toSet.filter(_.nonEmpty))
        val unknown = names.getOrElse(Set.empty).filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty) Left(s"unknown query in SPARK_GRAFT_ONLY: ${unknown.toSeq.sorted.mkString(",")}\n$Usage")
        else Right((sfDir, outDir, names))
      case _ => Left(Usage)
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) =
      parseArgs(args, sys.env.get("SPARK_GRAFT_ONLY")).fold({ msg => System.err.println(msg); sys.exit(2) }, identity)
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries are independent jobs; running a few concurrently keeps all
    // cores busy across each query's serial phases (plan, small stages).
    val par = sys.env.getOrElse("SPARK_GRAFT_PAR", "4").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        scala.concurrent.Future {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: $e")
            e.getStackTrace.take(8).foreach(f => System.err.println(s"    at $f"))
          }
        }
      }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf,
    )
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracles for exactly the queries this run dumped: a subset run
    // compares clean, and a full run still lists every declared query
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
