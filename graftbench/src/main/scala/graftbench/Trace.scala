package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer counters collected from outside the engine: a
  * SparkListener for jobs, stages and tasks, and a QueryExecutionListener
  * for Catalyst's phase times and the final adaptive plan.
  *
  * Each job is attributed to the engine module of the innermost `graft.*`
  * frame in the call site Spark records for it (for example
  * `foreachPartition at RetryingSink.scala:48` → `sinks`). Adaptive query
  * stages run on a pool thread whose stack holds no engine frame, so such
  * a job takes the call site of the SQL execution it belongs to, which
  * Spark records on the calling thread. A job with no engine frame either
  * way, such as the harness's own write of a lazily built result, counts
  * under `exec.*` only.
  *
  * The harness calls [[begin]] before an op and [[end]] after it; both
  * drain the listener bus first, so one client thread sees exactly its
  * op's events.
  */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final case class Job(start: Long, module: Option[String], site: String, var end: Long = -1L)

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val executions = mutable.Map.empty[Long, (Option[String], String)]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private var installed = false

  /** Attaches (or detaches) the listeners; detached, they cost nothing. */
  def listen(on: Boolean): Unit = if (on != installed) {
    if (on) {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
    } else {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
    installed = on
  }

  def begin(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    lock.synchronized { jobs.clear(); executions.clear(); stageSubmit.clear(); counts.clear() }
  }

  /** Layer counters for the op that ran between [[begin]] and now, and
    * its jobs counted by call site (`module: short call site`).
    */
  def end(opStart: Long, opEnd: Long): (Map[String, Double], Map[String, Int]) = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    lock.synchronized {
      val c = mutable.Map.empty[String, Double] ++ counts
      val done = jobs.values.toSeq.map(j => j.copy(end = if (j.end < 0) opEnd else j.end))
      c("exec.jobs") = done.size
      for (m <- Modules) { c(s"$m.jobs") = 0.0; c(s"$m.job_ms") = 0.0 }
      for (j <- done; m <- j.module if Modules.contains(m)) {
        c(s"$m.jobs") += 1
        c(s"$m.job_ms") += (j.end - j.start).toDouble
      }
      val cover = coverMs(done.map(j => (math.max(j.start, opStart), math.min(j.end, opEnd))))
      c("exec.job_cover_ms") = cover
      c("exec.driver_gap_ms") = math.max(0.0, (opEnd - opStart) - cover)
      c("exec.busy_frac") = if (cover > 0) c("exec.run_ms") / (cover * cores) else 0.0
      val sites = done.groupBy(j => s"${j.module.getOrElse("-")}: ${j.site}").map { case (k, js) => k -> js.size }
      (c.toMap, sites)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val last = e.stageInfos.maxByOption(_.stageId)
    val own = last.flatMap(si => moduleOf(si.details))
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executions.get(id.toLong))
    jobs(e.jobId) =
      if (own.nonEmpty || execution.isEmpty) Job(e.time, own, last.fold("")(_.name))
      else Job(e.time, execution.get._1, execution.get._2)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      lock.synchronized { executions(s.executionId) = (moduleOf(s.details), s.description) }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) = si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    counts("exec.stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    counts("exec.tasks") += 1
    stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
      counts("exec.queue_ms") += math.max(0L, e.taskInfo.launchTime - s).toDouble
    }
    val m = e.taskMetrics
    if (m != null) {
      counts("exec.run_ms") += m.executorRunTime.toDouble
      counts("exec.cpu_ms") += m.executorCpuTime / 1e6
      counts("exec.gc_ms") += m.jvmGCTime.toDouble
      counts("exchange.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
      counts("exchange.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead.toDouble
      counts("exchange.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime.toDouble
      counts("exchange.spill_mem_bytes") += m.memoryBytesSpilled.toDouble
      counts("exchange.spill_disk_bytes") += m.diskBytesSpilled.toDouble
      counts("scan.bytes_read") += m.inputMetrics.bytesRead.toDouble
      counts("scan.records_read") += m.inputMetrics.recordsRead.toDouble
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordQuery(qe)

  private def recordQuery(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val (exchanges, broadcasts) = exchangeCounts(qe.executedPlan)
    lock.synchronized {
      counts("catalyst.analysis_ms") += phase("analysis")
      counts("catalyst.optimization_ms") += phase("optimization")
      counts("catalyst.planning_ms") += phase("planning")
      counts("catalyst.exchanges") += exchanges
      counts("catalyst.broadcasts") += broadcasts
    }
  }
}

object Tracer extends AdaptiveSparkPlanHelper {

  /** Engine modules reported as layers of their own. */
  val Modules: Seq[String] = Seq("operators", "substrate", "plans", "sinks", "tables")

  /** The engine module of the innermost `graft.*` frame in a job's long-form
    * call site, e.g. `graft.sinks.RetryingSink$.…(RetryingSink.scala:48)` →
    * `sinks`, `graft.SubstrateCache$.…` → `substrate`.
    */
  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { frame =>
      frame.takeWhile(_ != '(').split('.')(1).takeWhile(_ != '$') match {
        case "SubstrateCache" => "substrate"
        case "Tables" => "tables"
        case other => other
      }
    }

  /** Total length of the union of [start, end] intervals, in ms. */
  def coverMs(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total.toDouble
  }

  /** Shuffle and broadcast exchanges in a final (adaptive) physical plan,
    * looking inside query stages and subqueries.
    */
  def exchangeCounts(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]), nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}
