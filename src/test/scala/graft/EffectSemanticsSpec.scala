package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.functions._
import graft.plans.IdentityPlanner
import graft.sinks.RetryingSink

object EffectSemanticsSpec {
  val attempts = new ConcurrentLinkedQueue[Long]()
}

/** Reference control-flow parity (SURVEY.md §2.9): C1 retry-on-transient,
  * C2 idempotent re-run, A4 duplicate-identity assertion.
  */
class EffectSemanticsSpec extends SparkSpec {
  import spark.implicits._

  test("C2: re-planning against the applied state allocates nothing new") {
    val first = SparkEntry.queries("identity_plan")(spark, sfDir).collect()
    // "apply" the plan: every created group/user becomes existing state
    val appliedGroups = first
      .filter(_.getAs[String]("action") == "create_group")
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("id")))
      .toSeq
      .toDF("name", "id")
    val appliedUsers = first
      .filter(_.getAs[String]("action") == "create_user")
      .map(r => (r.getAs[String]("name"), r.getAs[Long]("id")))
      .toSeq
      .toDF("name", "id")
    val second = IdentityPlanner
      .planIdentities(spark, "cdh", "z1", "cl1", 1025L, 1025L, appliedUsers, appliedGroups)
      .collect()
    // identical ids, identical shell lines — the re-run is a no-op plan
    val firstById = first.map(r => (r.getAs[Int]("seq"), r.getAs[String]("shell_line"))).toMap
    second.foreach { r =>
      assert(firstById(r.getAs[Int]("seq")) == r.getAs[String]("shell_line"))
    }
  }

  test("A4: duplicate existing names fail fast instead of duplicating rows") {
    val demand = Seq(("g1", 0), ("g2", 1)).toDF("name", "seq")
    val dupExisting = Seq(("g1", 2000L), ("g1", 3000L)).toDF("name", "id")
    intercept[graft.DuplicateIdentityError] {
      IdentityPlanner.resolveIds(demand, dupExisting, 1025L, "group")
    }
  }

  test("C1: transient failures retry and succeed; permanent failures propagate") {
    val plan = spark.range(0, 20).toDF("id").collect().toSeq
    EffectSemanticsSpec.attempts.clear()
    RetryingSink.foreachRowWithRetryStateful(plan, maxRetries = 3, backoffMs = 1L)(() => ()) { (row, _) =>
      val id = row.getLong(0)
      val attempts = EffectSemanticsSpec.attempts // static: same JVM in local mode
      attempts.add(id)
      // every 5th row fails once (count occurrences so the retry succeeds)
      if (id % 5 == 0 && java.util.Collections.frequency(attempts, id) == 1)
        throw new RetryingSink.TransientError(s"flaky $id")
    }(_ => ())
    assert(EffectSemanticsSpec.attempts.size == 24, "20 rows + 4 retried")

    intercept[Exception] {
      RetryingSink.foreachRowWithRetryStateful(plan, maxRetries = 2, backoffMs = 1L)(() => ()) { (_, _) =>
        throw new RetryingSink.TransientError("always down")
      }(_ => ())
    }
  }

  test("C1 stats: an effect performed before a transient failure is counted exactly once") {
    val plan = spark.range(0, 10).toDF("id").collect().toSeq
    val performed = spark.sparkContext.longAccumulator("performed")
    EffectSemanticsSpec.attempts.clear()
    RetryingSink.foreachRowWithRetryStateful(plan, maxRetries = 3, backoffMs = 1L)(() =>
      new java.util.concurrent.atomic.AtomicBoolean(false),
    ) { (row, did) =>
      val id = row.getLong(0)
      val attempts = EffectSemanticsSpec.attempts
      attempts.add(id)
      val firstAttempt = java.util.Collections.frequency(attempts, id) == 1
      // the "mkdir": performed only when not already applied — i.e. on the
      // first attempt — and the failure fires AFTER it was applied
      if (firstAttempt) did.set(true)
      if (id % 2 == 0 && firstAttempt)
        throw new RetryingSink.TransientError(s"flaky after effect $id")
    } { did =>
      if (did.get) performed.add(1L)
    }
    // every row performed its effect once: the retried rows' first-attempt
    // observation must survive the retry (no undercount), and the commit
    // runs once per row (no double count)
    assert(performed.value == 10L, s"expected 10 performed effects, got ${performed.value}")
  }

  test("C2 live: directory_plan applies to a filesystem target; re-apply is a no-op") {
    import graft.sinks.DirectoryApplier
    val plan = SparkEntry.queries("directory_plan")(spark, sfDir)
    val n = plan.count()
    val root = java.nio.file.Files.createTempDirectory("graft-apply").toString

    val first = DirectoryApplier.applyPlan(plan, root, backoffMs = 1L)
    // every row chmods+chowns on first contact; rows land in seq order,
    // parents first, so every row's mkdir is its own
    assert(first.chmods == n && first.chowns == n, first.toString)
    assert(first.mkdirs == n, first.toString)
    // state really landed: spot-check a known row's perms + sidecar
    plan.collect().foreach { r =>
      val dir = java.nio.file.Paths.get(root, r.getAs[String]("path").dropWhile(_ == '/'))
      assert(java.nio.file.Files.isDirectory(dir), s"missing $dir")
      assert(java.nio.file.Files.exists(dir.resolve(".graft_meta")), s"no meta at $dir")
    }

    // the reference's re-run: mkdir already-exists, chmod/chown to identical
    // values — zero state-changing actions
    val second = DirectoryApplier.applyPlan(plan, root, backoffMs = 1L)
    assert(second.total == 0, s"re-apply must be a no-op, got $second")

    // drift repair: an out-of-band chmod on one directory is healed by the
    // next apply, and ONLY that action fires
    val drifted = java.nio.file.Paths.get(root, "hadoop")
    java.nio.file.Files.setPosixFilePermissions(
      drifted,
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"),
    )
    val third = DirectoryApplier.applyPlan(plan, root, backoffMs = 1L)
    assert(third == DirectoryApplier.ApplyStats(0, 1, 0), third.toString)
  }

  test("C6: the post-apply epilogue fires exactly once, after every row landed") {
    import graft.sinks.DirectoryApplier
    val plan = SparkEntry.queries("directory_plan")(spark, sfDir)
    val paths = plan.collect().map(_.getAs[String]("path").dropWhile(_ == '/'))
    val root = java.nio.file.Files.createTempDirectory("graft-epilogue").toString

    var fires = 0
    var allRowsAppliedAtFire = false
    DirectoryApplier.applyPlan(
      plan,
      root,
      backoffMs = 1L,
      epilogue = Some { (_, appliedRoot) =>
        fires += 1
        // ordering contract: when the epilogue runs, EVERY planned row
        // must already be applied (the reference flushes the auth cache
        // only after iterate_identities finished, identities.py:185-186)
        allRowsAppliedAtFire = paths.forall { p =>
          java.nio.file.Files.isDirectory(java.nio.file.Paths.get(appliedRoot, p))
        }
      },
    )
    assert(fires == 1, s"epilogue must fire exactly once per apply, fired $fires times")
    assert(allRowsAppliedAtFire, "epilogue ran before all rows were applied")

    // re-apply fires it again (once per apply, not once ever), and the
    // default refresh-by-path epilogue is valid on a real target
    DirectoryApplier.applyPlan(plan, root, backoffMs = 1L, epilogue = Some((_, _) => fires += 1))
    assert(fires == 2, s"each apply pass flushes once, got $fires")
    DirectoryApplier.applyPlan(plan, root, backoffMs = 1L) // default epilogue must not throw
  }

  test("apply rejects plan paths that escape the target root") {
    import graft.sinks.DirectoryApplier
    val root = java.nio.file.Files.createTempDirectory("graft-escape").toString
    val evil = Seq(("/../outside", "0755", "bob", "staff")).toDF("path", "mode_octal", "owner", "group")
    intercept[DirectoryApplier.PathEscapesRootError] {
      DirectoryApplier.applyPlan(evil, root, backoffMs = 1L)
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root).getParent.resolve("outside")))
  }

  test("sidecar comparison is field-exact: own=bob:staff2 does not satisfy bob:staff") {
    import graft.sinks.DirectoryApplier
    val root = java.nio.file.Files.createTempDirectory("graft-fields").toString
    val plan = Seq(("/d1", "0755", "bob", "staff")).toDF("path", "mode_octal", "owner", "group")
    assert(DirectoryApplier.applyPlan(plan, root, backoffMs = 1L).total == 3)
    // drift the sidecar to a value that CONTAINS the wanted one as a prefix
    val meta = java.nio.file.Paths.get(root, "d1", ".graft_meta")
    java.nio.file.Files.write(meta, "mode=0755 own=bob:staff2".getBytes("UTF-8"))
    val heal = DirectoryApplier.applyPlan(plan, root, backoffMs = 1L)
    assert(heal == DirectoryApplier.ApplyStats(0, 0, 1), s"ownership change must count: $heal")
    assert(new String(java.nio.file.Files.readAllBytes(meta), "UTF-8") == "mode=0755 own=bob:staff")
    // and the healed state re-applies as a true no-op
    assert(DirectoryApplier.applyPlan(plan, root, backoffMs = 1L).total == 0)
  }

  test("C2 live: identity_plan applies to a user-db target; re-apply is a no-op") {
    import graft.sinks.IdentityApplier
    val plan = SparkEntry.queries("identity_plan")(spark, sfDir)
    val db = java.nio.file.Files.createTempDirectory("graft-userdb").toString
    val nGroups = plan.filter(col("action") === "create_group").count()
    val nUsers = plan.filter(col("action") === "create_user").count()
    val nMembers = plan.filter(col("action") === "add_member").count()
    val nProxies = plan.filter(col("action") === "create_proxy_user").count()

    val first = IdentityApplier.applyPlan(plan, db, backoffMs = 1L)
    assert(first == IdentityApplier.ApplyStats(nGroups, nUsers, nMembers, nProxies, 0), first.toString)
    // state really landed, with the PLANNED ids (no drift → no burns)
    val plannedGroups = plan
      .filter(col("action") === "create_group")
      .collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("id"))
      .toMap
    assert(IdentityApplier.groupsIn(db) == plannedGroups)
    assert(IdentityApplier.usersIn(db).size == nUsers)
    // useradd resolved each user's pgid from the applied groups table
    val planned = plan.filter(col("action") === "create_user").collect()
    planned.foreach { r =>
      val (uid, pgid) = IdentityApplier.usersIn(db)(r.getAs[String]("name"))
      assert(uid == r.getAs[Long]("id"))
      assert(pgid == plannedGroups(r.getAs[String]("arg")), s"pgid of ${r.getAs[String]("name")}")
    }

    // the reference's re-run: every name already exists → zero actions,
    // but the auth cache still flushes once per apply
    val second = IdentityApplier.applyPlan(plan, db, backoffMs = 1L)
    assert(second.total == 0 && second.burns == 0, s"re-apply must be a no-op, got $second")
    assert(IdentityApplier.authEpoch(db) == 2L, "flush must fire once per apply pass")
  }

  test("burn-on-collision: an out-of-band id squatter shifts creates forward, observably") {
    import graft.sinks.IdentityApplier
    val db = java.nio.file.Files.createTempDirectory("graft-burn").toString
    // out-of-band state: gid 2000 and uid 3000/3001 already taken by strangers
    val squat = Seq(
      ("create_group", "squatter", "", 2000L),
      ("create_group", "pg", "", 1999L),
    ).toDF("action", "name", "arg", "id")
    IdentityApplier.applyPlan(squat, db, backoffMs = 1L)
    val squat2 = Seq(
      ("create_user", "ghost1", "pg", 3000L),
      ("create_user", "ghost2", "pg", 3001L),
    ).toDF("action", "name", "arg", "id")
    IdentityApplier.applyPlan(squat2, db, backoffMs = 1L)

    // the plan wants gid 2000 and uid 3000 — both taken by OTHER names
    val plan = Seq(
      ("create_group", "hive", "", 2000L),
      ("create_user", "alice", "hive", 3000L),
      ("add_member", "alice", "hive", -1L),
    ).toDF("action", "name", "arg", "id")
    val stats = IdentityApplier.applyPlan(plan, db, backoffMs = 1L)
    // group burned 2000 → 2001; user burned 3000 and 3001 → 3002 (the
    // cascading allocator-advance the reference's while-loop produces)
    assert(stats == IdentityApplier.ApplyStats(1, 1, 1, 0, 3), stats.toString)
    assert(IdentityApplier.groupsIn(db)("hive") == 2001L)
    assert(IdentityApplier.usersIn(db)("alice") == ((3002L, 2001L)))
    assert(IdentityApplier.membersIn(db).contains(("alice", "hive")))

    // healed state re-applies as a true no-op (existing names keep ids)
    val again = IdentityApplier.applyPlan(plan, db, backoffMs = 1L)
    assert(again.total == 0 && again.burns == 0, again.toString)
  }

  test("rows out of phase order over 3 partitions apply exactly like the ordered plan") {
    import graft.sinks.IdentityApplier
    def state(db: String) = (
      IdentityApplier.groupsIn(db), IdentityApplier.usersIn(db), IdentityApplier.membersIn(db),
      IdentityApplier.proxiesIn(db), IdentityApplier.authEpoch(db))
    // a member row before its user and group rows, one row per partition
    // (no seq: input order breaks ties within a phase)
    val rows = Seq(
      ("add_member", "alice", "hive", -1L),
      ("create_user", "alice", "hive", 3000L),
      ("create_group", "hive", "", 2000L),
    )
    val ordered = rows.reverse.toDF("action", "name", "arg", "id")
    val scattered = spark.sparkContext.parallelize(rows, 3).toDF("action", "name", "arg", "id")
    assert(scattered.rdd.getNumPartitions == 3)
    // the squatters of the burn test: gid 2000 and uids 3000/3001 taken
    def applied(plan: org.apache.spark.sql.DataFrame) = {
      val db = java.nio.file.Files.createTempDirectory("graft-scatter").toString
      IdentityApplier.applyPlan(
        Seq(("create_group", "squatter", "", 2000L), ("create_group", "pg", "", 1999L),
          ("create_user", "ghost1", "pg", 3000L), ("create_user", "ghost2", "pg", 3001L))
          .toDF("action", "name", "arg", "id"),
        db, backoffMs = 1L)
      (IdentityApplier.applyPlan(plan, db, backoffMs = 1L), state(db))
    }
    val want = applied(ordered)
    assert(want._1 == IdentityApplier.ApplyStats(1, 1, 1, 0, 3), want._1.toString)
    assert(applied(scattered) == want)

    // a seq-ordered identity plan, reversed and repartitioned: same stats, same db
    val plan = SparkEntry.queries("identity_plan")(spark, sfDir)
    val reversed = plan.orderBy(desc("seq")).repartition(3)
    def fresh(p: org.apache.spark.sql.DataFrame) = {
      val db = java.nio.file.Files.createTempDirectory("graft-scatter-seq").toString
      (IdentityApplier.applyPlan(p, db, backoffMs = 1L), state(db))
    }
    val seqWant = fresh(plan)
    assert(seqWant._1.members > 0 && seqWant._1.proxies > 0, seqWant._1.toString)
    assert(fresh(reversed) == seqWant)
  }

  test("proxy duplicates are tolerated without update; unknown references are permanent errors") {
    import graft.sinks.IdentityApplier
    val db = java.nio.file.Files.createTempDirectory("graft-proxy").toString
    val base = Seq(("create_proxy_user", "oozie", "hdfs (user)", -1L))
      .toDF("action", "name", "arg", "id")
    assert(IdentityApplier.applyPlan(base, db, backoffMs = 1L).proxies == 1L)
    // duplicate create with DIFFERENT members: reference returns on the
    // already-exists error without updating (identities.py:216-223)
    val dup = Seq(("create_proxy_user", "oozie", "hbase (user)", -1L))
      .toDF("action", "name", "arg", "id")
    assert(IdentityApplier.applyPlan(dup, db, backoffMs = 1L).total == 0L)
    assert(IdentityApplier.proxiesIn(db)("oozie") == "hdfs (user)")

    // a membership naming an absent user is a plan bug: permanent, no retry
    val evil = Seq(("add_member", "nobody", "nogroup", -1L)).toDF("action", "name", "arg", "id")
    intercept[IdentityApplier.UnknownIdentityError] {
      IdentityApplier.applyPlan(evil, db, backoffMs = 1L)
    }
  }

  test("script sink writes the deterministic artifact") {
    val plan = SparkEntry.queries("identity_plan")(spark, sfDir)
    val out = java.nio.file.Files.createTempDirectory("script").toString + "/plan"
    IdentityPlanner.writeScript(plan, out)
    val lines = spark.read.textFile(out).collect()
    assert(lines.head == "#!/usr/bin/env sh")
    assert(lines.count(_.startsWith("groupadd")) ==
      plan.filter(col("action") === "create_group").count())
  }
}
