package graft

/** Plan inspector: prints the formatted physical plan of each named
  * declared query (all queries if none named). Usage:
  *   sbt "runMain graft.Explain <sfDir> [name,name,...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args(1).split(",").toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n########## $name ##########")
      val df = SparkEntry.queries(name)(spark, sfDir)
      // One-line output-schema fingerprint (round-16): a dtype change —
      // the round-15 decimal-output driver-gate class — becomes a
      // visible PLANS.md diff and a PlansDriftSpec failure instead of a
      // gate surprise.
      println(schemaLine(df))
      df.explain("formatted")
    }
    spark.stop()
  }

  /** The section's schema fingerprint, shared with PlansDriftSpec. */
  def schemaLine(df: org.apache.spark.sql.DataFrame): String =
    "schema: " + df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(", ")
}
