package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (Spark startup is ~5 s;
  * per-suite sessions would dominate CI time).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val scratch = java.nio.file.Files.createTempDirectory("graft-test").toString
    System.setProperty("derby.system.home", scratch) // metastore_db off the repo
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  // Overridable for one-off scale-gating runs of individual suites
  // (e.g. `GRAFT_TEST_SF=/root/testdata/sf1 sbt "testOnly ... -- -z name"`);
  // the default fixture is what the full suite's pinned constants assume.
  val sfDir = sys.env.getOrElse("GRAFT_TEST_SF", "/root/testdata/sf0.001")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir: String = TestSpark.sfDir

  /** Runs `f` with job group `g` set on this thread. */
  def inGroup[T](g: String)(f: => T): T = {
    spark.sparkContext.setJobGroup(g, g)
    try f
    finally spark.sparkContext.clearJobGroup()
  }

  /** Jobs started in job group `group` while `body` runs, counted once the
    * listener has seen no new one for a second.
    */
  def jobsIn(group: String)(body: => Unit): Int = jobsAndStagesIn(group)(body)._1

  /** Jobs started and stages submitted in job group `group` while `body`
    * runs, counted once the listener has seen neither grow for a second. A
    * stage a job skips (its shuffle output or cached RDD already exists) is
    * never submitted, so it is not counted.
    */
  def jobsAndStagesIn(group: String)(body: => Unit): (Int, Int) = {
    val (jobs, stages) = (new AtomicInteger, new AtomicInteger)
    def ours(p: java.util.Properties): Boolean = p != null && p.getProperty("spark.jobGroup.id") == group
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var (last, quiet) = ((-1, -1), 0)
      while (quiet < 10) {
        Thread.sleep(100)
        val now = (jobs.get, stages.get)
        quiet = if (now == last) quiet + 1 else 0
        last = now
      }
      last
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
