package graft.operators

import org.apache.spark.sql.functions._
import graft.plans.{Catalogs, DirectoryPlanner, IdentityPlanner}

/** Declared queries for the provisioning planner (SURVEY.md §7 Milestone 4
  * — parity with both reference CLIs in --dry mode). The DuckDB oracles are
  * *generated from the same catalog literals* the Spark side plans from, so
  * the oracle independently re-derives collision-avoiding allocation,
  * create-or-lookup upsert, chown id-resolution joins, and shell rendering
  * in pure SQL and must agree row-for-row.
  */
object PlanOps extends QueryModule {

  private val Dist = "cdh"
  private val Zone = "z1"
  private val Suffix = "cl1"

  /** Existing cluster state for the scenario: one unrelated group/user
    * squatting the first pool id (forces a burn), one catalog group/user
    * that already exists (exercises create-or-lookup keeping 1026/7000).
    */
  private val existingGroups = Seq(("legacy", 1025L), ("hive-cl1", 1026L), ("hadoop-cl1", 5000L))
  private val existingUsers = Seq(("legacyu", 1025L), ("hdfs-cl1", 7000L))

  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  private val identityPlan = DeclaredQuery(
    "identity_plan",
    (s, d) => {
      import s.implicits._
      val _ = d // catalog-driven; reads no testdata tables
      IdentityPlanner.planIdentities(
        s,
        Dist,
        Zone,
        Suffix,
        startUid = 1025L,
        startGid = 1025L,
        existingUsers = existingUsers.toDF("name", "id"),
        existingGroups = existingGroups.toDF("name", "id"),
      )
    }, {
      val actionRows = Catalogs
        .actionsFor(Dist, Zone, Suffix)
        .map(a => s"(${a.phase}, ${a.seq}, ${sq(a.action)}, ${sq(a.name)}, ${sq(a.arg)})")
        .mkString(", ")
      val egRows = existingGroups.map { case (n, g) => s"(${sq(n)}, $g)" }.mkString(", ")
      val euRows = existingUsers.map { case (n, u) => s"(${sq(n)}, $u)" }.mkString(", ")
      Some(s"""WITH actions(phase, seq, action, name, arg) AS (VALUES $actionRows),
               egroups(name, gid) AS (VALUES $egRows),
               eusers(name, uid) AS (VALUES $euRows),
               gc AS (SELECT name, seq FROM actions WHERE action = 'create_group'),
               gex AS (SELECT gc.name, gc.seq, egroups.gid AS egid
                       FROM gc LEFT JOIN egroups USING (name)),
               gdem AS (SELECT name, seq, row_number() OVER (ORDER BY seq) AS rn
                        FROM gex WHERE egid IS NULL),
               gpool AS (SELECT unnest(generate_series(1025, 1025 + (SELECT count(*) FROM gc)
                                  + (SELECT count(*) FROM egroups))) AS id),
               gfree AS (SELECT id, row_number() OVER (ORDER BY id) AS rn
                         FROM gpool WHERE id NOT IN (SELECT gid FROM egroups)),
               galloc AS (SELECT name, seq, id FROM gdem JOIN gfree USING (rn)),
               gres AS (SELECT gex.name, gex.seq, CAST(coalesce(gex.egid, galloc.id) AS BIGINT) AS gid
                        FROM gex LEFT JOIN galloc ON gex.name = galloc.name AND gex.seq = galloc.seq),
               uc AS (SELECT name, arg AS pgroup, seq FROM actions WHERE action = 'create_user'),
               uex AS (SELECT uc.name, uc.pgroup, uc.seq, eusers.uid AS euid
                       FROM uc LEFT JOIN eusers USING (name)),
               udem AS (SELECT name, seq, row_number() OVER (ORDER BY seq) AS rn
                        FROM uex WHERE euid IS NULL),
               upool AS (SELECT unnest(generate_series(1025, 1025 + (SELECT count(*) FROM uc)
                                  + (SELECT count(*) FROM eusers))) AS id),
               ufree AS (SELECT id, row_number() OVER (ORDER BY id) AS rn
                         FROM upool WHERE id NOT IN (SELECT uid FROM eusers)),
               ualloc AS (SELECT name, seq, id FROM udem JOIN ufree USING (rn)),
               ures AS (SELECT uex.name, uex.pgroup, uex.seq,
                               CAST(coalesce(uex.euid, ualloc.id) AS BIGINT) AS uid
                        FROM uex LEFT JOIN ualloc ON uex.name = ualloc.name AND uex.seq = ualloc.seq)
               SELECT a.phase, a.seq, a.action, a.name, a.arg,
                      CASE a.action WHEN 'create_group' THEN g.gid
                                    WHEN 'create_user' THEN u.uid END AS id,
                      CASE a.action
                        WHEN 'create_group' THEN 'groupadd --gid ' || CAST(g.gid AS VARCHAR) || ' ' || a.name
                        WHEN 'create_user' THEN 'useradd --uid ' || CAST(u.uid AS VARCHAR)
                             || ' --gid ' || CAST(pg.gid AS VARCHAR) || ' ' || a.name
                        WHEN 'add_member' THEN 'usermod -a -G ' || a.arg || ' ' || a.name
                        ELSE '# proxyuser ' || a.name || ': ' || a.arg END AS shell_line
               FROM actions a
               LEFT JOIN gres g ON a.action = 'create_group' AND a.name = g.name AND a.seq = g.seq
               LEFT JOIN ures u ON a.action = 'create_user' AND a.name = u.name
               LEFT JOIN gres pg ON a.action = 'create_user' AND a.arg = pg.name
               ORDER BY a.seq""")
    },
  )

  /** Resolved identity tables for the directory scenario: catalog users get
    * uid 2000+seq; the distinct group set (sorted) gets gid 3000+index.
    */
  private val dirUsers: Seq[(String, Long)] =
    Catalogs
      .withSuffix(Catalogs.usersFor(Dist, Zone), "-cl1")
      .map(u => u.name -> (2000L + u.seq))
  private val dirGroups: Seq[(String, Long)] =
    Catalogs
      .withSuffix(Catalogs.usersFor(Dist, Zone), "-cl1")
      .flatMap(u => u.primaryGroup +: u.secondaryGroups)
      .distinct
      .sorted
      .zipWithIndex
      .map { case (g, i) => g -> (3000L + i) }

  private val directoryPlan = DeclaredQuery(
    "directory_plan",
    (s, d) => {
      val _ = d
      DirectoryPlanner.planDirectories(
        s,
        Dist,
        Suffix,
        zonePath = "/ifs/zones/z1",
        hdfsRoot = "/ifs/zones/z1/hadoop",
        uids = dirUsers.toMap,
        gids = dirGroups.toMap,
      )
    }, {
      val dirRows = Catalogs
        .directoriesFor(Dist, "-cl1")
        .map(x => s"(${sq(x.path)}, ${sq(x.owner)}, ${sq(x.group)}, ${x.mode}, ${x.seq})")
        .mkString(", ")
      val uRows = dirUsers.map { case (n, u) => s"(${sq(n)}, $u)" }.mkString(", ")
      val gRows = dirGroups.map { case (n, g) => s"(${sq(n)}, $g)" }.mkString(", ")
      Some(s"""WITH dirs(path, owner, grp, mode, seq) AS (VALUES $dirRows),
               users(name, uid) AS (VALUES $uRows),
               groups(name, gid) AS (VALUES $gRows),
               r AS (SELECT seq, '/hadoop' || '/' || regexp_replace(path, '^/+', '') AS path,
                            owner, grp AS "group", to_base(mode, 8) AS mode_octal, mode
                     FROM dirs)
               SELECT r.seq, r.path, r.owner, r."group", r.mode_octal,
                      CAST(u.uid AS BIGINT) AS uid, CAST(g.gid AS BIGINT) AS gid,
                      'mkdir ' || r.path || ' ' || r.mode_octal AS cmd_mkdir,
                      'chmod ' || r.mode_octal || ' ' || r.path AS cmd_chmod,
                      'chown ' || r.owner || ':' || r."group" || ' ' || r.path AS cmd_chown
               FROM r
               LEFT JOIN users u ON r.owner = u.name
               LEFT JOIN groups g ON r."group" = g.name
               ORDER BY seq""")
    },
  )

  /** Sharded-allocation scenario constants: 4 shards starting at
    * 100 000; taken ids derive from supplier keys via a deterministic
    * multiplicative spread so every shard range contains squatters the
    * free-list must skip. The shard CAPACITY is derived from corpus
    * bounds (|part|/shards + |supplier| — demand is exactly |part|/4
    * per shard and squatters are ≤ |supplier|), NOT a fixed literal:
    * a fixed 10 000 held to sf0.1 but a 10× fixture overflows it, and
    * a scenario constant that only fits SOME scale factors violates the
    * satisfiable-at-every-sf rule the fixed-literal-predicate class
    * taught (zorder_scan precedent). Both engines compute the same two
    * counts, so the capacity literal agrees; production callers pass
    * their real range size and keep the loud overflow guard.
    */
  private val ShardStart = 100000L
  private val NShards = 4L

  /** The 100 TB variant of the W1/W2 allocator, gate-visible: each shard
    * allocates from its own disjoint id range, so the ranking window
    * partitions by shard and parallelizes — the global-sequence
    * bottleneck of `id_allocation` (inherent to the reference's
    * contiguous semantics) disappears, at the price of contiguity being
    * per-shard. Until now this path was spec-proven only
    * (PlannerScaleSpec); this query makes the DuckDB oracle re-derive
    * the same per-shard rank-to-rank join declaratively, so collision
    * skipping inside every shard range is hash-checked per round.
    */
  private val shardedAlloc = DeclaredQuery(
    "sharded_alloc",
    (s, d) => {
      // two 1-row scalar fetches size the scenario (bounded driver
      // traffic, the collected-probe precedent) — the capacity formula
      // must match the oracle's `cap` CTE exactly
      val np = graft.SubstrateCache.value(s, d, "part-n")(graft.Tables.part(s, d).count())
      val ns =
        graft.SubstrateCache.value(s, d, "supplier-n")(graft.Tables.supplier(s, d).count())
      val shardCapacity = np / NShards + ns
      val demand = graft.Tables
        .part(s, d)
        .select(
          col("p_name").as("name"),
          col("p_partkey").as("seq"),
          pmod(col("p_partkey"), lit(NShards)).cast("long").as("shard"),
        )
      val taken = graft.Tables
        .supplier(s, d)
        .select(
          (pmod(col("s_suppkey") * 97L, lit(NShards * shardCapacity)) + ShardStart).as("id"))
      IdentityPlanner
        .allocateIdsSharded(demand, taken, ShardStart, shardCapacity)
        .orderBy("seq")
    },
    Some(s"""WITH cap AS (SELECT (SELECT count(*) FROM part) // $NShards
                                 + (SELECT count(*) FROM supplier) AS c),
             demand AS (SELECT p_name AS name, p_partkey AS seq,
                               p_partkey % $NShards AS shard FROM part),
             taken AS (SELECT (s_suppkey * 97) % ($NShards * (SELECT c FROM cap)) + $ShardStart AS id
                       FROM supplier),
             dm AS (SELECT shard, count(*) AS nd FROM demand GROUP BY 1),
             tk AS (SELECT (id - $ShardStart) // (SELECT c FROM cap) AS shard, count(*) AS nt
                    FROM taken WHERE id >= $ShardStart GROUP BY 1),
             pool AS (SELECT dm.shard,
                             unnest(generate_series($ShardStart + dm.shard * (SELECT c FROM cap),
                                                    $ShardStart + dm.shard * (SELECT c FROM cap)
                                                      + dm.nd + coalesce(tk.nt, 0) - 1)) AS id
                      FROM dm LEFT JOIN tk USING (shard)),
             free AS (SELECT shard, id, row_number() OVER (PARTITION BY shard ORDER BY id) AS rn
                      FROM (SELECT p.shard, p.id FROM pool p
                            LEFT JOIN (SELECT DISTINCT id FROM taken) t ON p.id = t.id
                            WHERE t.id IS NULL)),
             rk AS (SELECT name, seq, shard,
                           row_number() OVER (PARTITION BY shard ORDER BY seq) AS rn
                    FROM demand)
             SELECT rk.name, rk.seq, CAST(rk.shard AS BIGINT) AS shard, CAST(free.id AS BIGINT) AS id
             FROM rk JOIN free USING (shard, rn)
             ORDER BY seq"""),
  )

  val queries: Seq[DeclaredQuery] = Seq(identityPlan, directoryPlan, shardedAlloc)
}
