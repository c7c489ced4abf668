package graft

import org.apache.spark.sql.functions._
import graft.plans.IdentityPlanner

/** The scale dimension of the planner is the *existing state* (the
  * reference walks it one REST call at a time; we join against a
  * snapshot). 200k existing identities must plan in seconds with the
  * same create-or-lookup/collision semantics as the 5-row case.
  */
class PlannerScaleSpec extends SparkSpec {

  test("planIdentities against 200k existing identities stays correct and fast") {
    // 200k existing users/groups occupying ids 1025..201024, plus the
    // catalog's own hdfs-cl1/hive-cl1 already present with high ids.
    val exUsers = spark
      .range(0, 200000)
      .select(concat(lit("u"), col("id")).as("name"), (col("id") + 1025L).as("id"))
      .union(spark.range(1).select(lit("hdfs-cl1").as("name"), lit(900000L).as("id")))
    val exGroups = spark
      .range(0, 200000)
      .select(concat(lit("g"), col("id")).as("name"), (col("id") + 1025L).as("id"))
      .union(spark.range(1).select(lit("hive-cl1").as("name"), lit(900001L).as("id")))

    val t0 = System.nanoTime()
    val plan = IdentityPlanner
      .planIdentities(spark, "cdh", "z1", "cl1", 1025L, 1025L, exUsers, exGroups)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9

    val users = plan.filter(_.getAs[String]("action") == "create_user")
    val groups = plan.filter(_.getAs[String]("action") == "create_group")
    // create-or-lookup found the pre-existing ids among 200k rows
    assert(users.find(_.getAs[String]("name") == "hdfs-cl1").get.getAs[Long]("id") == 900000L)
    assert(groups.find(_.getAs[String]("name") == "hive-cl1").get.getAs[Long]("id") == 900001L)
    // new ids all skip the fully-occupied 1025..201024 range
    val newIds = plan
      .filter(r => r.getAs[String]("action") == "create_user" && r.getAs[Long]("id") != 900000L)
      .map(_.getAs[Long]("id"))
    assert(newIds.forall(_ >= 201025L), s"allocation must skip the occupied range: ${newIds.min}")
    assert(secs < 120.0, s"200k-state planning took ${secs}s")
    info(f"planned CDH against 200k existing identities in $secs%.1f s")
  }

  test("planIdentities against 200k sparse squatters takes the free id of each gap") {
    // 200k users/groups squatting every other id from 1025: 200k one-id
    // islands, of which the walk needs only the first few
    def squatters(prefix: String) = spark
      .range(0, 200000)
      .select(concat(lit(prefix), col("id")).as("name"), (col("id") * 2 + 1025L).as("id"))
    val t0 = System.nanoTime()
    val plan = IdentityPlanner
      .planIdentities(spark, "cdh", "z1", "cl1", 1025L, 1025L, squatters("u"), squatters("g"))
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    for (action <- Seq("create_user", "create_group")) {
      val ids = plan.filter(_.getAs[String]("action") == action).sortBy(_.getAs[Int]("seq")).map(_.getAs[Long]("id"))
      assert(ids.nonEmpty)
      assert(ids.toSeq == ids.indices.map(k => 1026L + 2 * k), s"$action ids must fill the gaps in order")
    }
    assert(secs < 120.0, s"200k-squatter planning took ${secs}s")
    info(f"planned CDH against 200k sparse squatters in $secs%.1f s")
  }

  test("sharded allocation survives >64 taken ids inside one shard's pool window") {
    // 500 taken ids densely packed at the front of shard 0's range: the old
    // fixed +64 slack dropped demand rows here; pool sizing must count them
    val demand = spark
      .range(0, 100)
      .select(
        concat(lit("n"), col("id")).as("name"),
        col("id").cast("int").as("seq"),
        lit(0L).as("shard"),
      )
    val taken = spark.range(0, 500).select((col("id") + 1000000L).as("id"))
    val got = IdentityPlanner
      .allocateIdsSharded(demand, taken, start = 1000000L, capacity = 10000L)
      .collect()
    assert(got.length == 100, "no demand row may be silently dropped")
    val ids = got.map(_.getAs[Long]("id")).sorted
    assert(ids.head == 1000500L && ids.last == 1000599L, "ids pack right after the taken block")
  }

  test("sharded allocation fills a shard to exactly its capacity") {
    // nd + nt == capacity is feasible (the window holds exactly nd+nt
    // candidates) — an off-by-one guard would refuse it
    val demand = spark
      .range(0, 50)
      .select(
        concat(lit("n"), col("id")).as("name"),
        col("id").cast("int").as("seq"),
        lit(0L).as("shard"),
      )
    val taken = spark.range(0, 50).select((col("id") * 2 + 1000L).as("id")) // evens taken
    val got = IdentityPlanner
      .allocateIdsSharded(demand, taken, start = 1000L, capacity = 100L)
      .collect()
    assert(got.length == 50)
    val ids = got.map(_.getAs[Long]("id")).sorted
    assert(ids.head == 1001L && ids.last == 1099L && ids.forall(_ % 2 == 1))
  }

  test("sharded allocation refuses overflow past a shard's capacity") {
    val demand = spark
      .range(0, 60)
      .select(
        concat(lit("n"), col("id")).as("name"),
        col("id").cast("int").as("seq"),
        lit(0L).as("shard"),
      )
    val taken = spark.range(0, 50).select((col("id") + 1000L).as("id"))
    // nd=60 + nt=50 >= capacity=100 → the pool would spill into shard 1
    val ex = intercept[Exception] {
      IdentityPlanner
        .allocateIdsSharded(demand, taken, start = 1000L, capacity = 100L)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("exceeds capacity")), msgs(ex).mkString(" | "))
  }

  test("sharded allocation at 10x demand parallelizes: no single-partition exchange") {
    // 100k demand rows over 32 shards — the global-sequence allocator
    // funnels this through ONE partition (the price of global
    // contiguity); the sharded variant must keep every window and
    // aggregation partitioned by shard
    val demand = spark
      .range(0, 100000)
      .select(
        concat(lit("n"), col("id")).as("name"),
        col("id").cast("int").as("seq"),
        (col("id") % 32).as("shard"),
      )
    val taken = spark.range(0, 500).select((col("id") * 11 + 1000000L).as("id"))
    val df = IdentityPlanner
      .allocateIdsSharded(demand, taken, start = 1000000L, capacity = 100000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(
      !plan.contains("SinglePartition"),
      "per-shard ranking must never funnel through one partition:\n" + plan.take(1200),
    )
    assert(plan.contains("hashpartitioning(shard"), plan.take(1200))

    val t0 = System.nanoTime()
    val got = df.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.length == 100000)
    assert(got.map(_.getAs[String]("name")).distinct.length == 100000)
    val takenSet = (0 until 500).map(i => i * 11 + 1000000L).toSet
    got.foreach(r => assert(!takenSet.contains(r.getAs[Long]("id"))))
    info(f"sharded allocation of 100k ids across 32 shards in $secs%.1f s")
  }

  test("sharded allocation: disjoint per-shard ranges, contiguous within shard") {
    import org.apache.spark.sql.functions._
    val demand = spark
      .range(0, 10000)
      .select(
        concat(lit("n"), col("id")).as("name"),
        col("id").cast("int").as("seq"),
        (col("id") % 8).as("shard"),
      )
    val taken = spark.range(0, 50).select((col("id") * 7 + 1000000L).as("id"))
    val got = IdentityPlanner
      .allocateIdsSharded(demand, taken, start = 1000000L, capacity = 100000L)
      .collect()
    assert(got.length == 10000)
    assert(got.map(_.getAs[String]("name")).distinct.length == 10000)
    val takenSet = (0 until 50).map(i => i * 7 + 1000000L).toSet
    got.foreach(r => assert(!takenSet.contains(r.getAs[Long]("id"))))
    got.groupBy(_.getAs[Long]("shard")).foreach { case (shard, rows) =>
      val lo = 1000000L + shard * 100000L
      val ids = rows.map(_.getAs[Long]("id")).sorted
      assert(ids.head >= lo && ids.last < lo + 100000L, s"shard $shard ids stay in range")
      // contiguous over the shard's free list: each next id is the next free one
      ids.zip(ids.tail).foreach { case (a, b) =>
        assert((a + 1 to b - 1).forall(takenSet.contains), s"gap $a->$b must be all-taken")
      }
    }
  }
}
