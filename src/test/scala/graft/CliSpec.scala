package graft

import java.nio.file.{Files, Paths}

/** End-to-end console-script parity (reference tests/test__scripts.py:8-47:
  * both scripts × all three dists, dry-run) plus the live
  * create-directories apply and its no-op re-run.
  */
class CliSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  for (command <- Cli.Commands; dist <- Seq("cdh", "cdp", "hdp"))
    test(s"dry run: $command --dist $dist exits 0 and touches nothing") {
      val target = tmp("graft-cli-dry")
      val log = s"$target/cli.log"
      val rc = Cli.run(
        Seq(
          command,
          "--append-cluster-name", "cl9",
          "--dist", dist,
          "--dry",
          "--no-verify",
          "--onefs-password", "pw",
          "--onefs-user", "root",
          "--zone", "System",
          "--quiet",
          "--log-file", log,
          target,
        ),
        spark,
      )
      assert(rc == 0)
      // dry: the only artifact is the log itself; plan actions were logged
      assert(Files.list(Paths.get(target)).count() == 1)
      val lines = new String(Files.readAllBytes(Paths.get(log)), "UTF-8")
      assert(lines.contains("Had this been for real"))
      if (command == "create-users")
        assert(lines.contains("groupadd") && lines.contains("useradd"))
      else
        assert(lines.contains("mkdir") && lines.contains("chown"))
    }

  test("create-users writes the provisioning script artifact") {
    val target = tmp("graft-cli-users")
    val rc = Cli.run(
      Seq("create-users", "--dist", "cdh", "--zone", "z1", "--quiet", target),
      spark,
    )
    assert(rc == 0)
    import scala.jdk.CollectionConverters._
    val entries = Files.list(Paths.get(target)).iterator().asScala.toSeq
    val script = entries
      .find(_.getFileName.toString.endsWith("-z1-cdh.sh"))
      .getOrElse(fail(s"expected a .sh artifact among $entries"))
    val lines = spark.read.textFile(script.toString).collect()
    assert(lines.head == "#!/usr/bin/env sh")
    // non-dry also live-applies onto the user-db sidecar (IdentityApplier)
    val db = s"$target/userdb"
    assert(graft.sinks.IdentityApplier.groupsIn(db).nonEmpty, "userdb groups must be applied")
    assert(graft.sinks.IdentityApplier.usersIn(db).nonEmpty, "userdb users must be applied")
    // a second CLI run against the same target re-applies as a no-op (the
    // db keeps one record per name; epoch proves the flush still fired)
    val epoch = graft.sinks.IdentityApplier.authEpoch(db)
    val sizeBefore = graft.sinks.IdentityApplier.usersIn(db).size
    assert(
      Cli.run(Seq("create-users", "--dist", "cdh", "--zone", "z1", "--quiet", target), spark) == 0)
    assert(graft.sinks.IdentityApplier.usersIn(db).size == sizeBefore)
    assert(graft.sinks.IdentityApplier.authEpoch(db) == epoch + 1)
  }

  private def freshZonePlan(dist: String, zone: String, cluster: String) = {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("name", "id")
    graft.plans.IdentityPlanner.planIdentities(
      spark, dist, zone, graft.plans.Catalogs.normalizeSuffix(cluster), 1025L, 1025L, empty, empty)
  }

  test("create-users evaluates its identity plan once: one plan collect + script + apply") {
    // a fresh zone has no state to query: the plan is built on the driver
    val collect = jobsIn("cli-plan-collect")(inGroup("cli-plan-collect") {
      freshZonePlan("hdp", "z2", "cl2").collect()
    })
    assert(collect == 0, s"a fresh-zone plan collect ran $collect jobs")
    val users = jobsIn("cli-create-users")(inGroup("cli-create-users") {
      assert(Cli.run(Seq("create-users", "--dist", "hdp", "--zone", "z2",
        "--append-cluster-name", "cl2", "--quiet", tmp("graft-cli-jobs")), spark) == 0)
    })
    assert(users <= 1, s"create-users ran $users jobs; only the script write needs one")
    val dirs = jobsIn("cli-create-dirs")(inGroup("cli-create-dirs") {
      assert(Cli.run(Seq("create-directories", "--dist", "hdp", "--zone", "z2",
        "--append-cluster-name", "cl2", "--quiet", tmp("graft-cli-jobs")), spark) == 0)
    })
    assert(dirs == 0, s"create-directories ran $dirs jobs; planning and applying need none")
  }

  test("create-users' script and user db match the lazy plan's byte for byte") {
    import scala.jdk.CollectionConverters._
    def files(dir: String): Map[String, Seq[Byte]] =
      Files.list(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
    def scriptText(dir: String): Seq[Byte] =
      files(dir).filter(_._1.startsWith("part-")).toSeq.sortBy(_._1).flatMap(_._2)

    val target = tmp("graft-cli-bytes")
    assert(Cli.run(Seq("create-users", "--dist", "cdp", "--zone", "z3",
      "--append-cluster-name", "cl3", "--quiet", target), spark) == 0)
    val script = Files.list(Paths.get(target)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".sh")).getOrElse(fail(s"no .sh artifact in $target"))

    val other = tmp("graft-cli-lazy")
    val plan = freshZonePlan("cdp", "z3", "cl3")
    graft.plans.IdentityPlanner.writeScript(plan, s"$other/plan.sh")
    graft.sinks.IdentityApplier.applyPlan(plan, s"$other/userdb")

    assert(scriptText(script.toString).nonEmpty)
    assert(scriptText(script.toString) == scriptText(s"$other/plan.sh"))
    assert(files(s"$target/userdb").keySet.contains("members.db"))
    assert(files(s"$target/userdb") == files(s"$other/userdb"))
  }

  test("create-directories applies; second run is a no-op") {
    val target = tmp("graft-cli-dirs")
    val log = s"$target/../cli-dirs.log"
    def runOnce(): String = {
      Files.deleteIfExists(Paths.get(log))
      val rc = Cli.run(
        Seq("create-directories", "--dist", "hdp", "--zone", "z1",
          "--append-cluster-name", "cl1", "--quiet", "--log-file", log, target),
        spark,
      )
      assert(rc == 0)
      new String(Files.readAllBytes(Paths.get(log)), "UTF-8")
    }
    val first = runOnce()
    assert(first.contains("applied:") && !first.contains("chmods=0"), first)
    assert(Files.isDirectory(Paths.get(target, "hadoop")))
    val second = runOnce()
    assert(second.contains("applied: mkdirs=0 chmods=0 chowns=0"), second)
  }

  test("--version prints and exits 0 from anywhere in the argv") {
    assert(Cli.run(Seq("create-users", "--version"), spark) == 0)
    assert(Cli.run(Seq("--version"), spark) == 0)
  }

  test("usage errors exit 2; bad dist is rejected like argparse choices") {
    assert(Cli.run(Seq("create-users", "--zone", "z", "--dist", "nope", "t"), spark) == 2)
    assert(Cli.run(Seq("frobnicate"), spark) == 2)
    assert(Cli.run(Seq("create-users", "--zone", "z", "--dist", "cdh"), spark) == 2)
    assert(Cli.run(Seq("create-users", "--dist", "cdh", "t"), spark) == 2)
    assert(Cli.run(Seq("create-users", "--zone", "z", "--dist", "cdh", "--start-uid", "x1", "t"), spark) == 2)
    assert(Cli.run(Seq("create-users", "--zone", "z", "--dist", "cdh", "--start-gid", "1.5", "t"), spark) == 2)
  }

  test("StageProbe rejects a missing query list, unknown queries and bad reps with its usage") {
    val usage = "usage: graft.StageProbe"
    for (bad <- Seq(Array.empty[String], Array("/d"), Array("/d", ","), Array("/d", "q", "1", "x")))
      assert(StageProbe.parseArgs(bad).left.exists(_.startsWith(usage)), bad.mkString(" "))
    val unknown = StageProbe.parseArgs(Array("/d", "skipgram_pmi,no_such_query"))
    assert(unknown.left.exists(m => m.contains("unknown query: no_such_query") && m.contains(usage)), unknown)
    for (reps <- Seq("0", "-1", "two"))
      assert(StageProbe.parseArgs(Array("/d", "skipgram_pmi", reps)).left.exists(_.contains(usage)), reps)
    assert(StageProbe.parseArgs(Array("/d", "skipgram_pmi,audience_overlap")) ==
      Right(("/d", Seq("skipgram_pmi", "audience_overlap"), 1)))
    assert(StageProbe.parseArgs(Array("/d", "skipgram_pmi", "3")) == Right(("/d", Seq("skipgram_pmi"), 3)))
  }

  test("Explain rejects unknown queries and extra arguments with its usage") {
    val usage = "usage: graft.Explain"
    for (bad <- Seq(Array.empty[String], Array("/d", ","), Array("/d", "q", "x")))
      assert(Explain.parseArgs(bad).left.exists(_.startsWith(usage)), bad.mkString(" "))
    val unknown = Explain.parseArgs(Array("/d", "skipgram_pmi,no_such_query"))
    assert(unknown.left.exists(m => m.contains("unknown query: no_such_query") && m.contains(usage)), unknown)
    assert(Explain.parseArgs(Array("/d")) == Right(("/d", SparkEntry.queries.keys.toSeq.sorted)))
    assert(Explain.parseArgs(Array("/d", "skipgram_pmi,audience_overlap")) ==
      Right(("/d", Seq("skipgram_pmi", "audience_overlap"))))
  }

  test("Verify rejects a wrong argument count and unknown SPARK_GRAFT_ONLY entries with its usage") {
    val usage = "usage: graft.Verify"
    for (bad <- Seq(Array.empty[String], Array("/d"), Array("/d", "/o", "x")))
      assert(Verify.parseArgs(bad, None).left.exists(_.startsWith(usage)), bad.mkString(" "))
    val unknown = Verify.parseArgs(Array("/d", "/o"), Some("skipgram_pmi,no_such_query"))
    assert(unknown.left.exists(m => m.contains("unknown query in SPARK_GRAFT_ONLY: no_such_query") && m.contains(usage)),
      unknown)
    assert(Verify.parseArgs(Array("/d", "/o"), None) == Right(("/d", "/o", None)))
    assert(Verify.parseArgs(Array("/d", "/o"), Some("skipgram_pmi,audience_overlap")) ==
      Right(("/d", "/o", Some(Set("skipgram_pmi", "audience_overlap")))))
  }

  test("Bench rejects unknown SPARK_GRAFT_ONLY entries and bad SPARK_GRAFT_REPS with its usage") {
    val usage = "usage: graft.Bench"
    val unknown = Bench.parseEnv(Some("skipgram_pmi,no_such_query"), None)
    assert(unknown.left.exists(m => m.contains("unknown query in SPARK_GRAFT_ONLY: no_such_query") && m.contains(usage)),
      unknown)
    assert(Bench.parseEnv(Some(","), None).left.exists(_.contains(usage)))
    for (reps <- Seq("0", "-1", "two", ""))
      assert(Bench.parseEnv(None, Some(reps)).left.exists(_.contains(usage)), reps)
    assert(Bench.parseEnv(None, None) == Right((None, 3)))
    assert(Bench.parseEnv(Some("skipgram_pmi,audience_overlap"), Some("2")) ==
      Right((Some(Set("skipgram_pmi", "audience_overlap")), 2)))
  }
}
