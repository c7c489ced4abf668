package graft

import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one registry for everything built once per (session, dataset) and
  * shared by the queries over it. Four kinds of entry:
  *
  *  - FRAMES ([[substrate]], [[substrateColumnar]]): dedup shingle and pair
  *    tables, MinHash/SimHash signatures, LSH codes, kNN edges,
  *    intermediate tables a plan reads several times (`skipgram_pmi`'s
  *    pair census, `audience_overlap`'s memberships).
  *  - persisted RDDs ([[rdd]]): the hash-partitioned adjacency of the
  *    symmetric rank engine, which its co-partitioned rounds join without
  *    a shuffle. Frames and RDDs are the substrates: [[liveCount]],
  *    [[liveDatasets]] and [[buildSeconds]] count both.
  *  - driver VALUES ([[value]]): counts that size a recurrence, and the
  *    k·D-bounded results of driver loops (Lloyd centroids, PCA moments
  *    and directions) that several declared queries share.
  *  - durable LAYOUTS ([[layout]]): a temp directory written once in a
  *    query-friendly physical layout (IVF cell directories, day or
  *    z-order partitions, bucketed catalog tables), the in-repo stand-in
  *    for the table a pipeline persists between stages.
  *
  * One lifecycle for all of it. An entry is built once per (session,
  * dataset, tag) under a per-key lock and then served to every caller,
  * on any thread, until it is evicted. Requesting anything for dataset `d`
  * first evicts every entry the session holds for another dataset, and
  * every entry of a stopped session: memory and disk stay bounded by one
  * dataset's working set however many scale factors a long-lived JVM
  * walks through. Eviction releases a frame's or an RDD's blocks, deletes
  * a layout's directory and drops its catalog tables; layouts still live
  * at JVM exit are deleted by one shutdown hook. An entry is never
  * released while its dataset is live, so a consumer running on another
  * thread never loses its blocks or files mid-read.
  *
  * Each substrate records its build seconds ([[buildSeconds]], summed by
  * graftbench's traced run as `substrate.build_s`); leaf substrates also
  * record the physical plan that built them ([[buildPlan]]).
  *
  * At 100 TB the durable form of a frame is a parquet table persisted
  * between pipeline stages; this cache is the in-session tier, not a
  * cross-dataset store.
  */
object SubstrateCache {

  private type Key = (SparkSession, String, String)

  /** A cached frame, persisted RDD, driver value or layout handle; the
    * plan that built a leaf; a layout's directory and the catalog tables
    * registered over it; and the build's wall seconds.
    */
  private final case class Entry(
      frame: Option[DataFrame] = None,
      rdd: Option[RDD[_]] = None,
      value: Any = null,
      plan: Option[String] = None,
      dir: Option[Path] = None,
      tables: Seq[String] = Nil,
      secs: Double = 0,
  )

  private val entries = TrieMap.empty[Key, Entry]

  // One lock object per key: long builds (the CC fixpoint runs whole Spark
  // jobs) must not block unrelated builds behind a global monitor, and
  // same-key callers must not both run the side-effecting build and strand
  // the loser's checkpoint or directory.
  private val locks = TrieMap.empty[Key, Object]

  sys.addShutdownHook(entries.values.flatMap(_.dir).foreach(deleteTree))

  private def isSubstrate(e: Entry): Boolean = e.frame.isDefined || e.rdd.isDefined

  /** Build seconds per substrate tag for (session, dataset). */
  def buildSeconds(s: SparkSession, d: String): Map[String, Double] =
    entries.collect { case ((ss, dd, tag), e) if (ss eq s) && dd == d && isSubstrate(e) => tag -> e.secs }.toMap

  /** The physical plan that built leaf substrate `tag`, if it was built
    * (and not evicted) in this session. Spec/audit hook.
    */
  def buildPlan(s: SparkSession, d: String, tag: String): Option[String] =
    entries.get((s, d, tag)).flatMap(_.plan)

  private def getOrBuild(s: SparkSession, d: String, tag: String)(build: => Entry): Entry = {
    evictWhere(k => k._1.sparkContext.isStopped || ((k._1 eq s) && k._2 != d))
    val key = (s, d, tag)
    def built(): Entry = {
      val t0 = System.nanoTime()
      val e = build.copy(secs = (System.nanoTime() - t0) / 1e9)
      entries.put(key, e)
      e
    }
    entries.getOrElse(key, locks.getOrElseUpdate(key, new Object).synchronized(entries.getOrElse(key, built())))
  }

  /** Get-or-build the LEAF substrate `tag` for (session, dataset): an eager
    * `localCheckpoint()`, so later callers read the stored partitions
    * through a one-node `LogicalRDD` plan. The substrate's lineage (Lloyd
    * chains, CC fixpoints, banded joins) is cut off, and no consumer action
    * re-analyzes it — measured 1.5-2x wall on the kNN-graph consumers at
    * sf0.1 against the `persist()+count()` form, which kept the lineage
    * attached. At 100 TB the durable form is a parquet table between
    * pipeline stages, whose scan is exactly this kind of leaf.
    *
    * Cluster caveat: `localCheckpoint` keeps UNREPLICATED executor-local
    * blocks. On a multi-executor cluster, losing one executor after a
    * substrate builds makes every consumer of that (session, dataset) fail
    * unrecoverably, and it is unsafe under dynamic allocation; there the
    * substrate belongs in a parquet table or a reliable `checkpoint()`.
    */
  def substrate(s: SparkSession, d: String, tag: String)(build: => DataFrame): DataFrame =
    getOrBuild(s, d, tag) {
      val b = build
      // the leaf hides the build from consumers, so plan-shape specs (and
      // humans) audit how the substrate is computed through this record
      val plan = b.queryExecution.executedPlan.toString
      val leaf = b.queryExecution.analyzed match {
        // the build already materialized itself into a leaf (the fixpoint
        // engines return checkpointed labels): re-checkpointing it would
        // store every block twice
        case _: LogicalRDD => b
        case _ => b.localCheckpoint(true)
      }
      Entry(frame = Some(leaf), plan = Some(plan))
    }.frame.get

  /** Get-or-build a COLUMNAR substrate: `persist()+count()` keeps the SQL
    * columnar cache (per-column compressed storage, column pruning at
    * every scan) at the price of consumers re-analyzing the build lineage
    * per action. Use for WIDE substrates (per-doc gram/signature arrays)
    * whose consumers read a column subset or scan them repeatedly in
    * broadcast arms — measured faster than the leaf form for `gram-sets`
    * (simhash_est 3.2 s leaf vs 2.2 s columnar at sf0.1) because each
    * leaf scan deserializes whole rows, arrays included. Narrow,
    * deep-lineage substrates (knn/CC/Lloyd families) want [[substrate]].
    */
  def substrateColumnar(s: SparkSession, d: String, tag: String)(build: => DataFrame): DataFrame =
    getOrBuild(s, d, tag) {
      val df = build.persist()
      df.count()
      Entry(frame = Some(df))
    }.frame.get

  /** Get-or-build a persisted RDD for (session, dataset) with a driver
    * value computed alongside it. `build` returns the RDD, persisted and
    * materialized by the action that computes the value (its `count()`,
    * say). Use for state an RDD loop reads every round: the RDD keeps its
    * partitioner, so a join with a co-partitioned RDD is narrow, which no
    * frame leaf or columnar pin offers an RDD loop.
    */
  def rdd[R <: RDD[_], T](s: SparkSession, d: String, tag: String)(build: => (R, T)): (R, T) = {
    val e = getOrBuild(s, d, tag) {
      val (r, v) = build
      Entry(rdd = Some(r), value = v)
    }
    (e.rdd.get.asInstanceOf[R], e.value.asInstanceOf[T])
  }

  /** Get-or-compute a driver value for (session, dataset): a count, or a
    * driver loop's result. It is immutable while the working set lives,
    * so computing it once removes the driver jobs (or the whole Lloyd
    * chain) from every later consumer invocation.
    */
  def value[T](s: SparkSession, d: String, tag: String)(build: => T): T =
    getOrBuild(s, d, tag)(Entry(value = build)).value.asInstanceOf[T]

  /** Get-or-write the durable layout `prefix` for (session, dataset):
    * `write` fills a fresh temp directory whose name starts with `prefix`
    * and returns the handle queries read it through — the path, or the
    * names of catalog tables over it, which `tables` lists so eviction
    * drops them with the files. A failed write deletes its directory.
    */
  def layout[T](s: SparkSession, d: String, prefix: String, tables: Any => Seq[String] = _ => Nil)(
      write: String => T,
  ): T =
    getOrBuild(s, d, prefix) {
      val dir = Files.createTempDirectory(prefix)
      val out =
        try write(dir.toString)
        catch { case e: Throwable => deleteTree(dir); throw e }
      Entry(value = out, dir = Some(dir), tables = tables(out))
    }.value.asInstanceOf[T]

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) Using.resource(Files.walk(root))(_.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists))

  /** Unpersist a frame's storage. A localCheckpointed Dataset's blocks
    * belong to the RDD inside its `LogicalRDD` leaf (Dataset.unpersist only
    * consults the SQL cache manager and would silently leak them), so the
    * release goes through the leaf's RDD handle; the `persist()` path stays
    * as the fallback for any non-checkpointed frame.
    *
    * `private[graft]` so loop engines (the CC fixpoints, BPE training) can
    * release superseded round state instead of pinning dead blocks until
    * the ContextCleaner happens to collect them.
    */
  private[graft] def release(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking)
      case _ => df.unpersist(blocking)
    }

  /** Unpersist and drop every entry of `s` cached for a dataset other than `d`. */
  def evictOthers(s: SparkSession, d: String): Unit = evictWhere(k => (k._1 eq s) && k._2 != d)

  /** Drop every entry of session `s` (call on session stop). */
  def evictSession(s: SparkSession): Unit = evictWhere(_._1 eq s)

  /** Drop every entry (and lock) whose key matches: release a frame's or
    * an RDD's blocks and drop a layout's tables unless the context is
    * already stopped (they died with it; dropping the entry keeps the
    * strong key from pinning the session on the heap), and delete a
    * layout's files.
    */
  private def evictWhere(pred: Key => Boolean): Unit = {
    locks.keySet.filter(pred).foreach(locks.remove)
    entries.keySet.filter(pred).foreach { k =>
      entries.remove(k).foreach { e =>
        if (!k._1.sparkContext.isStopped) {
          e.frame.foreach(release(_, blocking = true))
          e.rdd.foreach(_.unpersist(blocking = true))
          e.tables.foreach(t => k._1.sql(s"DROP TABLE IF EXISTS $t"))
        }
        e.dir.foreach(deleteTree)
      }
    }
  }

  /** Datasets this session currently holds substrates for (spec hook). */
  def liveDatasets(s: SparkSession): Set[String] =
    entries.collect { case ((ss, d, _), e) if (ss eq s) && isSubstrate(e) => d }.toSet

  /** Live substrate count for a session (spec hook). */
  def liveCount(s: SparkSession): Int =
    entries.count { case ((ss, _, _), e) => (ss eq s) && isSubstrate(e) }
}
