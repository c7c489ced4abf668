package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM: a closed loop with one
  * client thread and no think time.
  *
  *  1. set-up: start a session and run one untimed warm pass over every
  *     op (this builds substrates and codegen).
  *  2. timed passes over the op list until `--seconds` have elapsed, and
  *     at least [[MinPasses]] of them. Between
  *     passes, outside the timed region, a full GC runs and the harness waits
  *     until Spark's cleaner has released what it can.
  *  3. an untimed check pass: SQL ops write their results for the oracle
  *     compare done by run.py. Provisioning ops are instead checked right
  *     after each run, outside the timed region (`Workload.verify`).
  *
  * With `--trace 1` the timed passes come in pairs, one untraced and one
  * traced (listeners attached); per-op layer counters of the traced passes
  * and the warm pass go to `trace.jsonl` in `--out`.
  *
  * Everything the caller needs lands in `--out`/result.json.
  */
object Main {

  final case class Conf(
      workload: String,
      data: Path,
      ops: Seq[String],
      seed: Long,
      seconds: Double,
      trace: Boolean,
      cores: Int,
      out: Path,
      localDir: Path,
  )

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Conf(
      workload = get("workload"),
      data = Paths.get(get("data")),
      ops = get("ops").split(",").toSeq,
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      cores = get("cores").toInt,
      out = Paths.get(get("out")),
      localDir = Paths.get(get("local-dir")),
    )
  }

  def session(c: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .appName(s"graftbench-${c.workload}")
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.localDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Timed passes per run at the least: the first pass after a cold set-up
    * still carries JIT warm-up, so no run reports a single pass.
    */
  val MinPasses = 2

  private def now(): Long = System.nanoTime()
  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  final case class OpResult(op: String, ms: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    Files.createDirectories(c.out)
    val workload: Workload = c.workload match {
      case "provision" => new Provision(c.data, c.out, c.ops)
      case _ => new SqlOps(c.data.toString, c.ops)
    }
    if (workload.isInstanceOf[SqlOps]) {
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(c.out.resolve("oracle_sql.json"), Json.obj(c.ops.flatMap(o => sql.get(o).map(o -> _)): _*).text)
    }
    val trace = if (c.trace) Some(new TraceLog(c)) else None

    // 1. set-up: session start plus the warm pass's ops (checks excluded)
    val t0 = now()
    val spark = session(c)
    val sessionSecs = (now() - t0) / 1e9
    trace.foreach(_.attach(spark))
    val warm = runPass(spark, workload, c, 0, workload.order(0, c.seed), None, trace)
    val setupSecs = sessionSecs + warm.map(_.ms).sum / 1e3
    workload.endPass(0)
    settle(spark)

    // 2. timed passes
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Seq[OpResult])]
    val start = now()
    def elapsed: Double = (now() - start) / 1e9
    // A traced run measures passes in pairs over the same op order, traced
    // first in odd pairs and second in even ones (ABBA), so JIT warm-up
    // cancels out of the tracing overhead.
    while (passes.size < MinPasses || elapsed < c.seconds || (c.trace && passes.size % 2 == 1)) {
      val p = passes.size + 1
      val slot = if (c.trace) (p + 1) / 2 else p
      val traced = c.trace && (p % 4 == 1 || p % 4 == 0)
      val gc0 = gcMillis()
      val results = runPass(spark, workload, c, p, workload.order(slot, c.seed), Some(traced), trace)
      val gcMs = gcMillis() - gc0
      passes += ((p, traced, results.map(_.ms).sum / 1e3, results))
      workload.endPass(p)
      settle(spark)
      trace.foreach(_.boundary(spark, p, gcMs))
    }
    // after the last pass's full GC: what the session keeps holding
    val cacheMb = storageUsedMb(spark)
    val retainedMb = liveHeapMb()

    // 3. check pass: SQL results go to run.py's oracle compare (provisioning
    // ops were verified as they ran)
    val checks = workload match {
      case sql: SqlOps =>
        sql.ops.map { op =>
          op -> (try { sql.writeResult(spark, op, c.out.resolve("check")); None }
          catch { case e: Throwable => Some(s"writing the result failed: $e") })
        }
      case _ => Nil
    }
    trace.foreach(_.close())
    spark.stop()

    val result = Json.obj(
      "workload" -> c.workload,
      "cores" -> c.cores,
      "setup_s" -> setupSecs,
      "cache_mb" -> cacheMb,
      "retained_mb" -> retainedMb,
      "passes" -> passes.toSeq.map { case (p, traced, wall, rs) =>
        Json.obj(
          "pass" -> p,
          "traced" -> traced,
          "wall_s" -> wall,
          "ops" -> rs.map(r => Json.obj("op" -> r.op, "ms" -> r.ms, "error" -> r.error)),
        )
      },
      "check" -> checks.map { case (op, err) => Json.obj("op" -> op, "error" -> err) },
    )
    Files.writeString(c.out.resolve("result.json"), result.text)
  }

  /** One pass over `order`. `timed` is None for the warm pass; Some(traced)
    * for a timed pass, recording layer counters when traced.
    */
  def runPass(
      spark: SparkSession,
      w: Workload,
      c: Conf,
      pass: Int,
      order: Seq[String],
      timed: Option[Boolean],
      trace: Option[TraceLog],
  ): Seq[OpResult] = {
    val tracing = trace.filter(_ => timed.forall(identity))
    trace.foreach(_.listen(tracing.nonEmpty))
    order.map { op =>
      val before = tracing.map(_.beforeOp(spark, w, op, pass))
      val t0 = now()
      val tWall0 = System.currentTimeMillis()
      val (buildMs, error) =
        try (w.run(spark, op, pass), None)
        catch {
          case e: Throwable =>
            System.err.println(s"[graftbench] pass $pass op $op failed: $e")
            (0.0, Some(e.toString.take(300)))
        }
      val t1 = now()
      val tWall1 = System.currentTimeMillis()
      for (t <- tracing; b <- before)
        t.afterOp(spark, w, op, pass, b, tWall0, tWall1, ms(t0, t1), buildMs, error)
      val wrong = if (error.nonEmpty) error else w.verify(spark, op, pass).map("wrong result: " + _)
      System.err.println(f"[graftbench] pass $pass%d op $op%s ${ms(t0, t1)}%.1f ms ${wrong.getOrElse("ok")}")
      OpResult(op, ms(t0, t1), wrong)
    }
  }

  /** Outside the timed region: full GC, then wait until block-manager
    * storage and the persistent-RDD count stop changing (Spark's context
    * cleaner releases what the GC made unreachable).
    */
  def settle(spark: SparkSession): Unit = {
    System.gc()
    val sc = spark.sparkContext
    def state = (sc.getPersistentRDDs.size, storageUsedMb(spark))
    var prev = state
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 2000) {
      Thread.sleep(50); waited += 50
      val cur = state
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }

  /** Storage memory held by the block managers (cached and checkpointed
    * blocks plus broadcasts), in MB.
    */
  def storageUsedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0

  def heapUsedMb(): Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Heap the driver JVM retains: usage of the heap pools right after a
    * forced full GC.
    */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def dirMb(root: Path): Double =
    if (!Files.exists(root)) 0.0
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => Files.size(p)).sum / 1048576.0
      catch { case _: java.io.UncheckedIOException => 0.0 }
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Seeded per-pass order: whole groups shuffle, ops keep their order
    * inside a group.
    */
  def shuffledGroups(groups: Seq[Seq[String]], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(groups).flatten
}

object TraceLog {
  /** What an op's trace row compares against once the op has run. */
  final case class Before(builds: Map[String, Double], state: Set[String])
}

/** Per-op and per-pass trace rows, written as JSON lines. */
final class TraceLog(c: Main.Conf) {
  import Main._
  import TraceLog.Before

  private var tracer: Tracer = _
  private val out = Files.newBufferedWriter(c.out.resolve("trace.jsonl"), UTF_8)

  def attach(spark: SparkSession): Unit = {
    tracer = new Tracer(spark, c.cores)
  }

  def listen(on: Boolean): Unit = tracer.listen(on)

  def beforeOp(spark: SparkSession, w: Workload, op: String, pass: Int): Before = {
    val b = Before(graft.SubstrateCache.buildSeconds(spark, c.data.toString), w.state(op, pass))
    tracer.begin()
    b
  }

  def afterOp(
      spark: SparkSession,
      w: Workload,
      op: String,
      pass: Int,
      b: Before,
      start: Long,
      end: Long,
      wallMs: Double,
      buildMs: Double,
      error: Option[String],
  ): Unit = {
    val (layers, sites) = tracer.end(start, end)
    val builds = graft.SubstrateCache.buildSeconds(spark, c.data.toString)
    val fresh = builds.keySet -- b.builds.keySet
    val after = w.state(op, pass)
    val row = Seq[(String, Any)](
      "pass" -> pass,
      "op" -> op,
      "wall_ms" -> wallMs,
      "error" -> error,
      "operators.build_ms" -> buildMs,
      "substrate.builds" -> fresh.size,
      "substrate.build_s" -> fresh.toSeq.map(builds).sum,
      "substrate.live" -> graft.SubstrateCache.liveCount(spark),
      "sinks.mutations" -> ((after -- b.state).size + (b.state -- after).size),
      "call_sites" -> sites,
    ) ++ layers.toSeq.sortBy(_._1)
    out.write(Json.obj(row: _*).text); out.newLine()
  }

  /** Pass-boundary sample, after the pass's forced GC and cleaner drain;
    * `gcMs` is the GC time during the pass itself.
    */
  def boundary(spark: SparkSession, pass: Int, gcMs: Long): Unit = {
    val sc = spark.sparkContext
    val info = sc.getRDDStorageInfo
    out.write(
      Json.obj(
        "boundary" -> pass,
        "storage.rdds" -> sc.getPersistentRDDs.size,
        "storage.mem_mb" -> info.map(_.memSize).sum / 1048576.0,
        "storage.disk_mb" -> info.map(_.diskSize).sum / 1048576.0,
        "storage.local_dir_mb" -> dirMb(c.localDir),
        "jvm.gc_ms" -> gcMs,
        "jvm.heap_used_mb" -> heapUsedMb(),
      ).text,
    )
    out.newLine()
  }

  def close(): Unit = out.close()
}

/** Minimal JSON encoding for the result and trace files. */
object Json {
  final case class Obj(text: String)

  def obj(kvs: (String, Any)*): Obj =
    Obj(kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Obj(text) => text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).text
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
