package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** SURVEY.md §7 risk 3: the set-oriented collision-avoiding allocator
  * (candidate pool → anti-join taken → rank-to-rank join) must assign
  * exactly the ids the reference's while-loop assigns
  * (identities.py:126-139: burn colliding ids in encounter order), and so
  * must `IdentityPlanner.resolveIds`, whose driver walk reads only the
  * bounded islands of taken ids.
  */
class AllocationSpec extends SparkSpec {

  /** Reference semantics: mutable counter, skip taken ids. */
  private def loopAlloc(demand: Seq[String], taken: Set[Long], start: Long): Map[String, Long] = {
    var next = start
    val out = Map.newBuilder[String, Long]
    demand.foreach { name =>
      while (taken.contains(next)) next += 1
      out += name -> next
      next += 1
    }
    out.result()
  }

  /** Set-oriented semantics: k-th demand row gets k-th free id. */
  private def setAlloc(demand: Seq[String], taken: Set[Long], start: Long): Map[String, Long] = {
    val free = Iterator.iterate(start)(_ + 1).filterNot(taken.contains)
    demand.zip(free.take(demand.size).toSeq).toMap
  }

  test("rank-join allocation equals while-loop allocation (ScalaCheck)") {
    val gen = for {
      n <- Gen.choose(0, 50)
      names = (0 until n).map(i => f"u$i%03d")
      taken <- Gen.listOf(Gen.choose(1025L, 1100L)).map(_.toSet)
    } yield (names, taken)
    val prop = Prop.forAll(gen) { case (names, taken) =>
      setAlloc(names, taken, 1025L) == loopAlloc(names, taken, 1025L)
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  test("DataFrame rank-join allocator matches the loop on a concrete case") {
    import spark.implicits._
    val demand = (1 to 40).map(i => f"name$i%02d")
    val taken = Set(1025L, 1026L, 1030L, 1041L, 1042L, 1043L, 1060L)
    val takenDf = taken.toSeq.toDF("id")
    val hi = 1024L + demand.size + taken.size + 1
    val free = spark
      .range(1025L, hi + 1)
      .toDF("id")
      .join(takenDf, Seq("id"), "left_anti")
      .withColumn("rn", row_number().over(Window.orderBy("id")))
    val demandDf = demand
      .toDF("name")
      .withColumn("rn", row_number().over(Window.orderBy("name")))
    val got = demandDf
      .join(free, Seq("rn"))
      .select("name", "id")
      .as[(String, Long)]
      .collect()
      .toMap
    assert(got == loopAlloc(demand.sorted, taken, 1025L))
  }

  test("resolveIds burnOnExisting reproduces the reference's counter burn") {
    import spark.implicits._
    // live reference: next_uid is consumed BEFORE the already-exists branch
    // (identities.py:233-254 → 251-263), so d2/d4 existing burns 1026/1028
    val demand = Seq(("d1", 1), ("d2", 2), ("d3", 3), ("d4", 4), ("d5", 5), ("d6", 6))
      .toDF("name", "seq")
    val existing = Seq(("d2", 5000L), ("d4", 5001L)).toDF("name", "id")
    val burned = graft.plans.IdentityPlanner
      .resolveIds(demand, existing, 1025L, burnOnExisting = true)
      .collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("id"))
      .toMap
    assert(
      burned == Map(
        "d1" -> 1025L, "d2" -> 5000L, "d3" -> 1027L,
        "d4" -> 5001L, "d5" -> 1029L, "d6" -> 1030L,
      ),
    )
    // default (plan-first) mode packs new names contiguously — the
    // documented intentional divergence from live-reference burn
    val packed = graft.plans.IdentityPlanner
      .resolveIds(demand, existing, 1025L)
      .collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("id"))
      .toMap
    assert(
      packed == Map(
        "d1" -> 1025L, "d2" -> 5000L, "d3" -> 1026L,
        "d4" -> 5001L, "d5" -> 1027L, "d6" -> 1028L,
      ),
    )
  }

  test("resolveIds equals the while-loop in both modes (ScalaCheck)") {
    import spark.implicits._
    val start = 1025L
    // taken ids: a dense run, many single-id islands, ids below start;
    // existing rows: squatters, squatters with null ids, and demand names
    // that already exist (some with null ids, which count as absent)
    val gen = for {
      n <- Gen.choose(0, 30)
      names = (0 until n).map(i => f"d$i%03d")
      runLo <- Gen.choose(start - 5, start + 40)
      runLen <- Gen.choose(0, 25)
      singles <- Gen.listOf(Gen.choose(0L, 40L).map(k => start + 2 * k))
      below <- Gen.listOf(Gen.choose(1L, start - 1))
      nullSquatters <- Gen.choose(0, 3)
      known <- Gen.someOf(names)
      knownIds <- Gen.listOfN(known.size, Gen.option(Gen.choose(start - 10, start + 120)))
    } yield {
      val squatters = ((runLo until runLo + runLen) ++ singles ++ below).distinct
      val existing = squatters.zipWithIndex.map { case (id, i) => (s"s$i", Option(id)) } ++
        (0 until nullSquatters).map(i => (s"n$i", Option.empty[Long])) ++
        known.toSeq.zip(knownIds)
      (names, existing)
    }
    val prop = Prop.forAllNoShrink(gen) { case (names, existing) =>
      val taken = existing.flatMap(_._2).toSet
      val kept = existing.collect { case (n, Some(id)) if names.contains(n) => n -> id }.toMap
      // demand rows arrive out of seq order; the walk takes them in seq order
      val demand = names.zipWithIndex.reverse.toDF("name", "seq")
      def resolved(burn: Boolean) = graft.plans.IdentityPlanner
        .resolveIds(demand, existing.toDF("name", "id"), start, burnOnExisting = burn)
        .collect()
        .map(r => r.getAs[String]("name") -> (r.getAs[Long]("id"), r.getAs[Boolean]("existed")))
        .toMap
      def expected(alloc: Map[String, Long]) =
        (alloc ++ kept).map { case (n, id) => n -> (id, kept.contains(n)) }
      resolved(burn = false) == expected(loopAlloc(names.filterNot(kept.contains), taken, start)) &&
      resolved(burn = true) == expected(loopAlloc(names, taken, start))
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50).withWorkers(1), prop)
    assert(result.passed, result.status.toString)
  }

  test("id_allocation is contiguous from 1025 in sort order") {
    val rows = SparkEntry
      .queries("id_allocation")(spark, sfDir)
      .collect()
    val uids = rows.map(_.getAs[Long]("uid"))
    assert(uids.head == 1025L)
    assert(uids.zip(uids.tail).forall { case (a, b) => b == a + 1 })
  }

  test("collision_avoid_alloc never assigns a taken id and is strictly increasing") {
    val taken = Tables
      .supplier(spark, sfDir)
      .select((col("s_suppkey") + 1024L).as("id"))
      .collect()
      .map(_.getLong(0))
      .toSet
    val ids = SparkEntry
      .queries("collision_avoid_alloc")(spark, sfDir)
      .collect()
      .map(_.getAs[Long]("alloc_id"))
    assert(ids.forall(!taken.contains(_)))
    assert(ids.zip(ids.tail).forall { case (a, b) => a < b })
  }
}
