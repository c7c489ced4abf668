package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The provisioning planner — reference parity with `isilon_create_users`
  * in `--dry` mode (identities.py:162-198, _scripts.py:81-131), Spark-first.
  *
  * The product is an ordered *plan* (phase, seq, action, name, arg, id,
  * shell_line); applying it is a sink (script text / REST calls),
  * mirroring the reference's plan/effect separation via callback
  * injection (identities.py:162-186). The existing users/groups tables
  * arrive as DataFrames: at scale they are parquet snapshots of cluster
  * state. The demand is the literal catalog, tens of rows.
  *
  * So Spark answers only the questions the existing state can answer, in
  * two queries over both kinds at once, whose results are bounded by the
  * demand rather than the state (nd = demand rows, need = a kind's demand
  * rows):
  *
  *  1. names: one `groupBy(kind, name)` returns every duplicated name and
  *     the existing id of every demand name, cut at nd + 1 rows. At most
  *     nd rows name demand, so a cut result still shows a duplicate.
  *  2. islands: the maximal runs of taken ids ≥ the kind's start
  *     (gaps-and-islands: `id − dense_rank()` is constant along a run),
  *     at most need + 1 per kind. Each island after the first is preceded
  *     by a free id, so the first need + 1 cover need free ids.
  *
  * The allocation is the reference's while-loop (identities.py:126-139,
  * 233-254), run on the driver over the catalog: demand in `seq` order,
  * each new name takes the next id that lies in no island. AllocationSpec
  * checks it against a literal loop. With empty local state both queries
  * fold to empty relations and launch no job.
  */
object IdentityPlanner {

  /** One kind's state as the walk needs it: the existing ids of demand
    * names (a null id counts as absent) and the islands of taken ids
    * ≥ start as sorted, inclusive (lo, hi) runs.
    */
  private final case class KindState(ids: Map[String, Long], islands: IndexedSeq[(Long, Long)])

  /** One kind's demand: its existing state, its start id and the names of
    * its demand rows in `seq` order.
    */
  private final case class Demand(kind: String, existing: DataFrame, start: Long, names: Seq[String])

  /** The two state queries of the object doc, for every kind at once.
    * Fails with [[graft.DuplicateIdentityError]] on a duplicated name.
    */
  private def stateOf(demand: Seq[Demand]): Map[String, KindState] = {
    val tagged = demand
      .map(d => d.existing.select(lit(d.kind).as("kind"), col("name"), col("id").cast("long").as("id")))
      .reduce(_ unionByName _)
    def perKind(f: Demand => Column): Column =
      demand.foldLeft(lit(null)) { (c, d) => when(col("kind") === d.kind, f(d)).otherwise(c) }

    val names = tagged
      .groupBy("kind", "name")
      .agg(count(lit(1)).as("n"), first("id", ignoreNulls = true).as("id"))
      .filter(col("n") > 1 || perKind(d => col("name").isin(d.names.distinct: _*)))
      .limit(demand.map(_.names.size).sum + 1)
      .collect()
    names.find(_.getLong(2) > 1).foreach(r => throw new graft.DuplicateIdentityError(r.getString(0)))

    val islands = tagged
      .filter(col("id") >= perKind(d => lit(d.start)))
      .withColumn("run", col("id") - dense_rank().over(Window.partitionBy("kind").orderBy("id")))
      .groupBy("kind", "run")
      .agg(min("id").as("lo"), max("id").as("hi"))
      .withColumn("k", row_number().over(Window.partitionBy("kind").orderBy("lo")))
      .filter(col("k") <= perKind(d => lit(d.names.size + 1L)))
      .select("kind", "lo", "hi")
      .collect()

    demand.map { d =>
      d.kind -> KindState(
        names.iterator
          .filter(r => r.getString(0) == d.kind && r.getLong(2) == 1 && !r.isNullAt(3))
          .map(r => r.getString(1) -> r.getLong(3))
          .toMap,
        islands.iterator.filter(_.getString(0) == d.kind).map(r => (r.getLong(1), r.getLong(2))).toIndexedSeq.sorted,
      )
    }.toMap
  }

  /** The allocation walk: per demand name in `seq` order, (its existing id,
    * true) or (the next id ≥ start in no island, false). With
    * `burnOnExisting` an existing name consumes an id too.
    */
  private def walk(d: Demand, st: KindState, burnOnExisting: Boolean): Seq[(Long, Boolean)] = {
    var next = d.start
    var i = 0
    def take(): Long = {
      while (i < st.islands.size && st.islands(i)._2 < next) i += 1
      if (i < st.islands.size && st.islands(i)._1 <= next) next = st.islands(i)._2 + 1
      next += 1
      next - 1
    }
    d.names.map { n =>
      st.ids.get(n) match {
        case Some(id) => if (burnOnExisting) take(); (id, true)
        case None => (take(), false)
      }
    }
  }

  /** Resolve ids for one entity kind: existing names keep their id
    * (create-or-lookup, identities.py:137-149, 251-263); new names get
    * contiguous ids from `start`, skipping any id already taken.
    *
    * @param demand   (name, seq) creation demand, seq = creation order.
    *                 Collected to the driver: demand is catalog-sized by
    *                 contract (large demand goes through
    *                 [[allocateIdsSharded]]).
    * @param existing (name, id) current state, any size. Spark answers the
    *                 two state queries of the object doc over it: at most
    *                 nd + 1 name rows and need + 1 islands come back, and
    *                 the allocation walk runs on the driver.
    * @param kind     entity kind for error messages ("user"/"group")
    * @return (name, seq, id, existed), a local frame in `seq` order
    *
    * Fails with [[graft.DuplicateIdentityError]] when an existing name maps
    * to more than one id — the reference's "duplicate users (e.g. local and
    * LDAP)?" uniqueness assertion (onefs.py:1079-1082, 1274-1277); a silent
    * lookup would pick one of them instead.
    *
    * Counter-burn semantics: the live reference consumes `next_uid`/
    * `next_gid` *before* discovering the name already exists
    * (identities.py:233-254 calls `next_uid` then hits the already-exists
    * branch at 251-263), so each pre-existing demand name shifts later
    * allocations by one. The default here intentionally diverges — new
    * names pack contiguously, which is what a plan-first engine wants
    * (re-running a plan against state it already created must not drift
    * ids). Pass `burnOnExisting = true` for reference-live parity: every
    * demand row consumes the next free id, and the ids consumed by
    * existing names are discarded (burned).
    */
  def resolveIds(
      demand: DataFrame,
      existing: DataFrame,
      start: Long,
      kind: String = "identity",
      burnOnExisting: Boolean = false,
  ): DataFrame = {
    val wanted = demand.select(col("name"), col("seq"))
    val rows = wanted.collect().sortBy(_.get(1).asInstanceOf[Number].longValue)
    val d = Demand(kind, existing, start, rows.map(_.getString(0)).toSeq)
    val ids = walk(d, stateOf(Seq(d))(kind), burnOnExisting)
    val out = rows.toSeq.zip(ids).map { case (r, (id, existed)) => Row(r.get(0), r.get(1), id, existed) }
    val schema = wanted.schema.add("id", LongType, nullable = false).add("existed", BooleanType, nullable = false)
    demand.sparkSession.createDataFrame(out.asJava, schema)
  }

  /** The 100 TB variant of resolveIds' allocation: each shard allocates
    * from its own disjoint id range `[start + shard·capacity, …)`, so the
    * ranking window partitions by shard and parallelizes — no global
    * sequence bottleneck. Contiguity holds within a shard (global
    * contiguity is the price of parallel allocation).
    *
    * @param demand (name, seq, shard) — shard ∈ [0, nShards)
    * @return (name, seq, shard, id)
    */
  def allocateIdsSharded(
      demand: DataFrame,
      taken: DataFrame, // id
      start: Long,
      capacity: Long,
  ): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("seq")
    val ranked = demand.withColumn("rn", row_number().over(w))
    // Per-shard free list: shard-local candidate pool minus taken ids.
    // The pool window is sized by nd + (taken ids inside this shard's
    // range): the window [lo, lo+nd+nt-1] holds nd+nt candidates of which
    // at most nt are taken, so >= nd are always free — a fixed slack would
    // silently drop demand rows once more than that many ids were taken.
    val perShard = demand.groupBy("shard").agg(count(lit(1)).as("nd"))
    val takenPerShard = taken
      .select(col("id"))
      .filter(col("id") >= start)
      .groupBy(floor((col("id") - start) / capacity).cast("long").as("shard"))
      .agg(count(lit(1)).as("nt"))
    val lo = lit(start) + col("shard") * capacity
    val pool = perShard
      .join(takenPerShard, Seq("shard"), "left")
      .na
      .fill(0L, Seq("nt"))
      .select(
        col("shard"),
        // a window spilling past lo+capacity would let two shards hand out
        // the same id — refuse loudly instead (distributed, no collect)
        explode(
          sequence(
            lo,
            when(col("nd") + col("nt") <= capacity, lo + col("nd") + col("nt") - 1)
              .otherwise(
                raise_error(
                  format_string(
                    "graft: shard %d demand %d + taken-in-range %d exceeds capacity %d",
                    col("shard"),
                    col("nd"),
                    col("nt"),
                    lit(capacity),
                  ),
                ),
              ),
          ),
        ).as("id"),
      )
    val free = pool
      .join(taken.select(col("id")), Seq("id"), "left_anti")
      .withColumn("rn", row_number().over(Window.partitionBy("shard").orderBy("id")))
    ranked
      .join(free, Seq("shard", "rn"), "left")
      .select(
        col("name"),
        col("seq"),
        col("shard"),
        // by construction every demand row finds a free id; if not, fail
        // loudly rather than dropping the row (inner-join would hide it)
        when(
          col("id").isNull,
          raise_error(concat(lit("graft: shard allocation shortfall for "), col("name"))),
        ).otherwise(col("id")).as("id"),
      )
  }

  private val PlanSchema = StructType(
    Seq(
      StructField("phase", IntegerType, nullable = false),
      StructField("seq", IntegerType, nullable = false),
      StructField("action", StringType),
      StructField("name", StringType),
      StructField("arg", StringType),
      StructField("id", LongType),
      StructField("shell_line", StringType),
    ),
  )

  /** Full identity plan for a distribution, a local frame ordered by seq:
    * (phase, seq, action, name, arg, id, shell_line) — shell_line replays
    * the plan on Linux (identities.py:122, 159, 280); proxy users have no
    * shell analog and render as comments. Spark runs the two state
    * queries of the object doc for both kinds; the rows are built on the
    * driver from the catalog.
    */
  def planIdentities(
      spark: SparkSession,
      dist: String,
      zone: String,
      suffix: String,
      startUid: Long,
      startGid: Long,
      existingUsers: DataFrame, // name, id
      existingGroups: DataFrame, // name, id
  ): DataFrame = {
    val actions = Catalogs.actionsFor(dist, zone, suffix).sortBy(_.seq)
    def demandOf(kind: String, existing: DataFrame, start: Long) =
      Demand(kind, existing, start, actions.filter(_.action == s"create_$kind").map(_.name))
    val demand = Seq(demandOf("group", existingGroups, startGid), demandOf("user", existingUsers, startUid))
    val st = stateOf(demand)
    val Seq(gids, uids) = demand.map(d => d.names.zip(walk(d, st(d.kind), burnOnExisting = false).map(_._1)))
    // useradd needs the (resolved) gid of the user's primary group
    // (identities.py:268-281; onefs.py primary_group_of_user lookup)
    val pgid = gids.toMap
    val (gi, ui) = (gids.iterator.map(_._2), uids.iterator.map(_._2))
    val rows = actions.map { a =>
      // a missing gid renders as "null", as Spark's format_string does
      val (id, line) = a.action match {
        case "create_group" =>
          val g = Long.box(gi.next())
          (g, "groupadd --gid %d %s".format(g, a.name))
        case "create_user" =>
          val u = Long.box(ui.next())
          (u, "useradd --uid %d --gid %d %s".format(u, pgid.get(a.arg).map(Long.box).orNull, a.name))
        case "add_member" => (null, s"usermod -a -G ${a.arg} ${a.name}")
        case _ => (null, s"# proxyuser ${a.name}: ${a.arg}")
      }
      Row(a.phase, a.seq, a.action, a.name, a.arg, id, line)
    }
    spark.createDataFrame(rows.asJava, PlanSchema)
  }

  /** Script sink (identities.py:224-229): header once, then the plan's
    * shell lines in creation order — the whole file is one deterministic
    * text artifact, so its lines are one partition sorted in place (a
    * global sort would add a range exchange only to coalesce it again).
    */
  def scriptLines(plan: DataFrame): DataFrame = {
    val header = plan.sparkSession
      .createDataFrame(
        Seq((-3, "#!/usr/bin/env sh"), (-2, "set -o errexit"), (-1, "set -o xtrace")),
      )
      .toDF("seq", "shell_line")
    header
      .unionByName(plan.select(col("seq"), col("shell_line")))
      .coalesce(1)
      .sortWithinPartitions("seq")
      .select("shell_line")
  }

  def writeScript(plan: DataFrame, path: String): Unit =
    scriptLines(plan).write.mode("overwrite").text(path)
}
