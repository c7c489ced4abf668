package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The provisioning planner — reference parity with `isilon_create_users`
  * in `--dry` mode (identities.py:162-198, _scripts.py:81-131), Spark-first.
  *
  * Everything is a pure DataFrame program producing an ordered *plan*
  * (phase, seq, action, name, arg, id, shell_line); applying it is a sink
  * (script text / REST calls), mirroring the reference's plan/effect
  * separation via callback injection (identities.py:162-186). The existing
  * users/groups tables arrive as DataFrames: at scale they are parquet
  * snapshots of cluster state; the catalog side is literal and tiny, so
  * every join against existing state broadcasts the catalog, never
  * shuffling the state table.
  *
  * ID allocation = the collision-avoiding rank-join (candidate pool ⟶
  * anti-join taken ids ⟶ rank-to-rank join against ranked demand), proven
  * equivalent to the reference's burn-in-encounter-order while-loop
  * (identities.py:126-139, 233-254) in AllocationSpec.
  */
object IdentityPlanner {

  /** Resolve ids for one entity kind: existing names keep their id
    * (create-or-lookup, identities.py:137-149, 251-263); new names get
    * contiguous ids from `start`, skipping any id already taken.
    *
    * @param demand   (name, seq) creation demand, seq = creation order
    * @param existing (name, id) current state
    * @param kind     entity kind for error messages ("user"/"group")
    * @return (name, seq, id, existed)
    *
    * Fails with [[graft.DuplicateIdentityError]] when an existing name maps
    * to more than one id — the reference's "duplicate users (e.g. local and
    * LDAP)?" uniqueness assertion (onefs.py:1079-1082, 1274-1277); a silent
    * left join would duplicate demand rows instead.
    *
    * Counter-burn semantics: the live reference consumes `next_uid`/
    * `next_gid` *before* discovering the name already exists
    * (identities.py:233-254 calls `next_uid` then hits the already-exists
    * branch at 251-263), so each pre-existing demand name shifts later
    * allocations by one. The default here intentionally diverges — new
    * names pack contiguously, which is what a plan-first engine wants
    * (re-running a plan against state it already created must not drift
    * ids). Pass `burnOnExisting = true` for reference-live parity: every
    * demand row consumes a rank in the free list, and the ids ranked to
    * existing names are discarded (burned).
    */
  def resolveIds(
      demand: DataFrame,
      existing: DataFrame,
      start: Long,
      kind: String = "identity",
      burnOnExisting: Boolean = false,
  ): DataFrame = {
    val ex = existing.select(col("name"), col("id").cast("long").as("eid"))
    // Uniqueness assert: for driver-local state (literal catalogs, the CLI's
    // empty frames) check in memory — the two Spark jobs the distributed
    // count costs are pure overhead there; real (scanned) state keeps the
    // distributed check.
    val dup = existing.queryExecution.optimizedPlan match {
      // must mirror the distributed groupBy exactly: case-insensitive
      // column resolution, and nulls form a (duplicable) group too
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.output.exists(_.name.equalsIgnoreCase("name")) =>
        val nameIdx = l.output.indexWhere(_.name.equalsIgnoreCase("name"))
        l.data.iterator
          .map(r => if (r.isNullAt(nameIdx)) null else r.getString(nameIdx))
          .toSeq
          .groupBy(identity)
          .exists(_._2.size > 1)
      case _ =>
        !ex.groupBy("name").count().filter(col("count") > 1).isEmpty
    }
    if (dup) throw new graft.DuplicateIdentityError(kind)
    val joined = demand.join(broadcast(ex), Seq("name"), "left")
    val hi = demand
      .agg(count(lit(1)).as("nd"))
      .crossJoin(ex.agg(count(lit(1)).as("ne")))
      .select((lit(start) + col("nd") + col("ne")).as("hi"))
    val pool = hi.select(explode(sequence(lit(start), col("hi"))).as("id"))
    val free = pool
      .join(ex.select(col("eid").as("id")), Seq("id"), "left_anti")
      .withColumn("rn", row_number().over(Window.orderBy("id")))
    // burn mode ranks every demand row (existing names consume-and-discard
    // their rank's id); default ranks only new names (packed allocation)
    val toRank = if (burnOnExisting) joined else joined.filter(col("eid").isNull)
    val ranked = toRank.withColumn("rn", row_number().over(Window.orderBy("seq")))
    val allocated = ranked
      .join(free, Seq("rn"))
      .filter(col("eid").isNull)
      .select(col("name"), col("seq"), col("id"), lit(false).as("existed"))
    val kept = joined
      .filter(col("eid").isNotNull)
      .select(col("name"), col("seq"), col("eid").as("id"), lit(true).as("existed"))
    allocated.unionByName(kept)
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

  /** Full identity plan for a distribution. Output ordered by seq:
    * (phase, seq, action, name, arg, id, shell_line) — shell_line replays
    * the plan on Linux (identities.py:122, 159, 280); proxy users have no
    * shell analog and render as comments.
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
    import spark.implicits._
    val actions = Catalogs.actionsFor(dist, zone, suffix).toDF()

    val groupDemand = actions.filter($"action" === "create_group").select($"name", $"seq")
    val groups = resolveIds(groupDemand, existingGroups, startGid, "group")
      .select($"name", $"seq", $"id".as("gid"))

    val userDemand = actions.filter($"action" === "create_user").select($"name", $"seq")
    val users = resolveIds(userDemand, existingUsers, startUid, "user")
      .select($"name", $"seq", $"id".as("uid"))

    // useradd needs the (resolved) gid of the user's primary group
    // (identities.py:268-281; onefs.py primary_group_of_user lookup).
    val pgroups = groups.select($"name".as("pgname"), $"gid".as("pgid"))

    actions
      .join(groups.withColumnRenamed("gid", "g_id"), Seq("name", "seq"), "left")
      .join(users.withColumnRenamed("uid", "u_id"), Seq("name", "seq"), "left")
      .join(
        broadcast(pgroups),
        $"action" === "create_user" && $"arg" === $"pgname",
        "left",
      )
      .select(
        $"phase",
        $"seq",
        $"action",
        $"name",
        $"arg",
        when($"action" === "create_group", $"g_id")
          .when($"action" === "create_user", $"u_id")
          .cast("long")
          .as("id"),
        when($"action" === "create_group", format_string("groupadd --gid %d %s", $"g_id", $"name"))
          .when(
            $"action" === "create_user",
            format_string("useradd --uid %d --gid %d %s", $"u_id", $"pgid", $"name"),
          )
          .when($"action" === "add_member", format_string("usermod -a -G %s %s", $"arg", $"name"))
          .otherwise(concat(lit("# proxyuser "), $"name", lit(": "), $"arg"))
          .as("shell_line"),
      )
      .orderBy("seq")
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
