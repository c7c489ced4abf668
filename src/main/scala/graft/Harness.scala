package graft

import org.apache.spark.sql.SparkSession

/** The one local session the runnable tools (Bench, Verify, Explain,
  * StageProbe, KnobBench) share: `local[cpus]` with cpus shuffle
  * partitions, where cpus is `SPARK_GRAFT_CPUS` (default 4, the width the
  * PLANS.md dump is generated at); session time zone UTC, so Tables.events
  * reads naive timestamps exactly as the DuckDB oracle does; UI off.
  */
object Harness {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
