package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan inspector: prints the formatted physical plan of each named
  * declared query (all queries if none named), in name order. Usage:
  *   sbt "runMain graft.Explain <sfDir> [name,name,...]"
  */
object Explain {
  private val Usage = "usage: graft.Explain <sfDir> [name,name,...]"

  /** (sfDir, query names), or the message to print before exiting 2. */
  private[graft] def parseArgs(args: Array[String]): Either[String, (String, Seq[String])] =
    args match {
      case Array(sfDir) => Right((sfDir, SparkEntry.queries.keys.toSeq.sorted))
      case Array(sfDir, list) =>
        val names = list.split(",").toSeq.filter(_.nonEmpty)
        val unknown = names.filterNot(SparkEntry.queries.contains)
        if (names.isEmpty) Left(Usage)
        else if (unknown.nonEmpty) Left(s"unknown query: ${unknown.mkString(",")}\n$Usage")
        else Right((sfDir, names))
      case _ => Left(Usage)
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, names) = parseArgs(args).fold({ msg => System.err.println(msg); sys.exit(2) }, identity)
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n########## $name ##########")
      println(planSection(spark, sfDir, name))
    }
    spark.stop()
  }

  /** One PLANS.md section body: a one-line output-schema fingerprint (a
    * dtype change — the round-15 decimal-output driver-gate class — is
    * then a visible PLANS.md diff and a PlansDriftSpec failure instead of
    * a gate surprise), then the formatted physical plan.
    */
  def planSection(spark: SparkSession, sfDir: String, name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
    s"schema: $schema\n" + df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }
}
