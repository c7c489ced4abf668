package graft

import org.apache.spark.sql.functions._
import graft.plans.{Catalogs, DirectoryPlanner, IdentityPlanner}

/** Reference-parity checks for the provisioning planner (Milestone 4):
  * catalog cardinalities from the reference source, creation-order
  * invariants, create-or-lookup, referential integrity, and the script
  * sink shape.
  */
class PlannerSpec extends SparkSpec {
  import spark.implicits._

  test("catalog cardinalities match the reference") {
    // identities.py:350-396 (27 users CDH), 399-472 (49 CDP), 478-538 (41 HDP)
    assert(Catalogs.cdhUsers.size == 27)
    assert(Catalogs.cdpUsers.size == 49)
    assert(Catalogs.hdpUsers.size == 41)
    assert(Catalogs.cdhProxies.size == 7)
    assert(Catalogs.cdpProxies.size == 12)
    assert(Catalogs.hdpProxies.size == 10)
    // directories.py:115-240 (20 / 42 / 32 directories)
    assert(Catalogs.cdhDirectories.size == 20)
    assert(Catalogs.cdpDirectories.size == 42)
    assert(Catalogs.hdpDirectories.size == 32)
    // admin appended iff zone is not System (identities.py:394-396)
    assert(Catalogs.usersFor("cdh", "System").size == 27)
    assert(Catalogs.usersFor("cdh", "z1").size == 28)
  }

  test("action derivation: groups created once, before use; phases ordered") {
    for (dist <- Seq("cdh", "cdp", "hdp")) {
      val actions = Catalogs.actionsFor(dist, "z1", "cl1")
      assert(actions.map(_.seq) == actions.indices)
      assert(actions.map(_.phase).sliding(2).forall(p => p.head <= p.last))
      val creates = actions.filter(_.action == "create_group").map(_.name)
      assert(creates.distinct == creates, "each group created exactly once")
      // every user's primary group is created before the user
      val createdAt = actions.filter(_.action == "create_group").map(a => a.name -> a.seq).toMap
      actions.filter(_.action == "create_user").foreach { u =>
        assert(createdAt(u.arg) < u.seq, s"${u.arg} must precede user ${u.name}")
      }
      // memberships only reference created groups
      actions.filter(_.action == "add_member").foreach { m =>
        assert(createdAt.contains(m.arg))
      }
      // suffix applied everywhere
      assert(actions.forall(a => a.name.endsWith("-cl1")))
    }
  }

  test("planIdentities: create-or-lookup keeps existing ids, allocation skips taken") {
    val plan = SparkEntry.queries("identity_plan")(spark, sfDir).collect()
    val groups = plan.filter(_.getAs[String]("action") == "create_group")
    val users = plan.filter(_.getAs[String]("action") == "create_user")
    // hive-cl1 existed with gid 1026 → kept; hdfs-cl1 existed with uid 7000 → kept
    assert(groups.find(_.getAs[String]("name") == "hive-cl1").get.getAs[Long]("id") == 1026L)
    assert(users.find(_.getAs[String]("name") == "hdfs-cl1").get.getAs[Long]("id") == 7000L)
    // 1025 squatted in both pools → never allocated; 1026 taken by hive-cl1
    val preExisting = Set("hive-cl1", "hadoop-cl1")
    assert(groups.find(_.getAs[String]("name") == "hadoop-cl1").get.getAs[Long]("id") == 5000L)
    val newGids =
      groups.filterNot(r => preExisting(r.getAs[String]("name"))).map(_.getAs[Long]("id"))
    assert(!newGids.contains(1025L) && !newGids.contains(1026L) && !newGids.contains(5000L))
    assert(newGids.min == 1027L, "first free gid after the squatters")
    // new-id allocation is contiguous over the free pool, in creation order
    val sortedNew = groups
      .filterNot(r => preExisting(r.getAs[String]("name")))
      .sortBy(_.getAs[Int]("seq"))
      .map(_.getAs[Long]("id"))
    assert(sortedNew.zip(sortedNew.tail).forall { case (a, b) => b == a + 1 })
    // every user row renders a useradd with both ids resolved
    assert(users.forall(_.getAs[String]("shell_line").startsWith("useradd --uid ")))
  }

  test("script sink: header first, then shell lines in plan order") {
    val plan = SparkEntry.queries("identity_plan")(spark, sfDir)
    val lines = IdentityPlanner.scriptLines(plan).as[String].collect()
    assert(lines.take(3).toSeq == Seq("#!/usr/bin/env sh", "set -o errexit", "set -o xtrace"))
    assert(lines.length == 3 + plan.count())
  }

  test("directory referential integrity: owners/groups exist in the identity catalog") {
    for (dist <- Seq("cdh", "cdp", "hdp")) {
      val users = Catalogs.usersFor(dist, "z1")
      val dirs = Catalogs.directoriesFor(dist, "").toDF()
      val userNames = users.map(_.name).toDF("name")
      val groupNames =
        users.flatMap(u => u.primaryGroup +: u.secondaryGroups).distinct.toDF("name")
      val bad = DirectoryPlanner.integrityViolations(dirs, userNames, groupNames).collect()
      assert(bad.isEmpty, s"$dist: ${bad.mkString(",")}")
    }
  }

  test("planDirectories rejects /ifs as the HDFS root") {
    import spark.implicits._
    intercept[DirectoryPlanner.HdfsRootDirectoryException] {
      DirectoryPlanner.planDirectories(
        spark, "cdh", "", "/ifs", "/ifs",
        Map("hdfs" -> 1L),
        Map("hadoop" -> 1L),
      )
    }
  }

  test("planDirectories rebases under the zone-relative HDFS root in catalog order") {
    val rows = SparkEntry.queries("directory_plan")(spark, sfDir).collect()
    assert(rows.head.getAs[String]("path") == "/hadoop/")
    assert(rows.forall(_.getAs[String]("path").startsWith("/hadoop/")))
    val seqs = rows.map(_.getAs[Int]("seq"))
    assert(seqs.toSeq == seqs.sorted.toSeq)
    // parent directories precede children (reference list-order invariant)
    val paths = rows.map(_.getAs[String]("path"))
    val seen = scala.collection.mutable.Set.empty[String]
    paths.foreach { p =>
      val parent = p.replaceAll("/[^/]+$", "")
      assert(parent == "/hadoop" || parent == p || seen.contains(parent) || parent.isEmpty,
        s"parent of $p must precede it")
      seen += p
    }
  }
}
