package graft

import org.apache.spark.sql.DataFrame

import graft.operators.DedupOps

/** PageRank engines: the general directed form (`DedupOps.pagerank`) must
  * carry the dangling-mass term the symmetric engine is allowed to skip
  * — a directed graph fed to the symmetric recurrence silently leaks rank
  * mass toward the teleport floor, which is exactly the bug class the
  * dangling term exists to prevent. Both engines are pinned against a
  * sequential reference that replays the identical exact-integer
  * arithmetic (ranks ×10¹², floor division), so every assertion is
  * equality, not tolerance. The symmetric engine is weighted (textrank
  * passes co-occurrence counts), so the reference is too.
  */
class PageRankSpec extends SparkSpec {

  import spark.implicits._

  private val Scale = 1000000000000L

  /** Sequential replay of the integer recurrence over weighted directed
    * edges (src, dst, w): each edge carries (r(src) / wdeg(src)) · w, with
    * wdeg the summed out-weight. `dangling = false` reproduces the
    * symmetric engine's update (no redistribution, no zero-in-degree
    * coverage is lost here because we still iterate all nodes with
    * sc = 0) — used only to measure the leak.
    */
  private def seqPagerank[V: Ordering](
      edges: Seq[(V, V, Long)],
      iters: Int,
      dangling: Boolean,
  ): Map[V, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val base = (15L * Scale) / (100L * n)
    var r = nodes.map(_ -> Scale / n).toMap
    for (_ <- 1 to iters) {
      val sc = edges
        .groupBy(_._2)
        .map { case (dst, es) => dst -> es.map(e => r(e._1) / deg(e._1) * e._3).sum }
      val dshare =
        if (dangling) nodes.filterNot(deg.contains).map(r).sum / n else 0L
      r = nodes.map(v => v -> (base + (85L * (sc.getOrElse(v, 0L) + dshare)) / 100L)).toMap
    }
    r
  }

  private def unit(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long)] =
    edges.map { case (a, b) => (a, b, 1L) }

  private def ranksOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("r")).toMap

  test("directed chain: dangling term conserves the mass the symmetric recurrence leaks") {
    // 1 → 2 → 3: node 3 is dangling (out-degree 0), node 1 has in-degree 0
    val edges = Seq((1L, 2L), (2L, 3L))
    val got = ranksOf(DedupOps.pagerank(edges.toDF("src", "dst"), iters = 5))
    val want = seqPagerank(unit(edges), iters = 5, dangling = true)
    assert(got == want, s"distributed != sequential reference: $got vs $want")
    // leak evidence: without the dangling term the same graph loses mass
    val leaked = seqPagerank(unit(edges), iters = 5, dangling = false)
    assert(
      leaked.values.sum < want.values.sum,
      s"dropping the dangling term must lose mass: ${leaked.values.sum} vs ${want.values.sum}",
    )
    // conservation up to floor-division truncation: each round floors at
    // most (n nodes) × (1 contribution + 1 dangling share + the 85/100
    // damping step) plus the 15/100 base, so total stays within a small
    // per-node slack of the initial mass — far above the leaked total
    val total = got.values.sum
    assert(
      total > Scale - 3L * 5 * 100L && total <= Scale,
      s"mass must be conserved up to floor slack, got $total of $Scale",
    )
  }

  test("directed star with many danglings matches the sequential reference") {
    // hub 0 points at 1..6; all six leaves are dangling, hub in-degree 0
    val edges = (1L to 6L).map(i => (0L, i))
    val got = ranksOf(DedupOps.pagerank(edges.toDF("src", "dst"), iters = 4))
    assert(got == seqPagerank(unit(edges), iters = 4, dangling = true))
  }

  test("symmetric graph: general pagerank reduces to the symmetric fast path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (3L, 1L))
    val sym = pairs ++ pairs.map(_.swap)
    val fast = ranksOf(DedupOps.symmetricRank(spark, sfDir, "rank-edges:spec-unit")(unit(pairs).toDF("a", "b", "w")))
    val general = ranksOf(DedupOps.pagerank(sym.toDF("src", "dst"), iters = 5))
    val want = seqPagerank(unit(sym), iters = 5, dangling = true)
    assert(fast == want, "symmetric engine with w = 1 must match the sequential reference")
    assert(general == want, "general form must reduce to the same ranks on a symmetric view")
  }

  test("weighted symmetric engine matches the weighted sequential reference") {
    // a triangle with a pendant and a separate weighted pair: unequal
    // weights move mass, so unit-weight ranks would differ
    val pairs = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 5L), (1L, 4L, 7L), (5L, 6L, 2L))
    val sym = pairs ++ pairs.map { case (a, b, w) => (b, a, w) }
    val want = seqPagerank(sym, iters = 5, dangling = true)
    val tag = "rank-edges:spec-weighted"
    val edges = pairs.toDF("a", "b", "w")
    val pure = ranksOf(DedupOps.symmetricRank(spark, sfDir, tag)(edges))
    assert(pure == want, s"weighted engine diverged: $pure vs $want")
    assert(want != seqPagerank(unit(sym.map(e => (e._1, e._2))), iters = 5, dangling = true))
    // a cache hit reads the pinned adjacency and node count: the rounds
    // are one job, one stage per round plus the result stage
    var hit = Map.empty[Long, Long]
    val (jobs, stages) = jobsAndStagesIn("pagerank-hit") {
      hit = inGroup("pagerank-hit")(ranksOf(DedupOps.symmetricRank(spark, sfDir, tag)(fail("rebuilt"))))
    }
    assert(hit == want)
    assert((jobs, stages) == ((1, DedupOps.PrIters + 1)), s"cache hit ran $jobs jobs of $stages stages")

    // string nodes (textrank's term graph): the node type follows the edges
    val terms = Seq(("alpha", "beta", 4L), ("beta", "gamma", 1L), ("gamma", "alpha", 2L), ("delta", "alpha", 6L),
      ("eps", "zeta", 3L))
    val termWant = seqPagerank(terms ++ terms.map { case (a, b, w) => (b, a, w) }, iters = 5, dangling = true)
    val termRanks = DedupOps.symmetricRank(spark, sfDir, "rank-edges:spec-terms")(terms.toDF("a", "b", "w"))
    assert(termRanks.schema("node").dataType == org.apache.spark.sql.types.StringType)
    assert(termRanks.collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("r")).toMap == termWant)
  }

  test("driver fold (pagerankLocal) is bit-identical to the distributed engine") {
    // The structure-sized fast path transition_pagerank rides: same
    // recurrence, Seq fold instead of 5 Pregel rounds. Equality must be
    // exact — the declared query's oracle hash assumes the distributed
    // arithmetic. Graph exercises both special cases (dangling node 3/c,
    // in-degree-0 node 1/a) plus a 2-cycle.
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 4L), (4L, 2L))
    val named = edges.map { case (x, y) => (s"n$x", s"n$y") }
    val dist = ranksOf(DedupOps.pagerank(edges.toDF("src", "dst"), iters = 5))
    val local = DedupOps.pagerankLocal(named, iters = 5)
    assert(local.map(_._1) == local.map(_._1).sorted, "local fold must emit node-sorted rows")
    val localByNum = local.map { case (v, r) => v.drop(1).toLong -> r }.toMap
    assert(localByNum == dist, s"local fold diverged: $localByNum vs $dist")
    assert(DedupOps.pagerankLocal(Seq.empty).isEmpty)
  }

  test("empty graph short-circuits to an empty frame instead of dividing by zero") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(DedupOps.pagerank(empty).count() == 0L)
    val out = DedupOps.symmetricRank(spark, sfDir, "rank-edges:spec-empty")(Seq.empty[(Long, Long, Long)].toDF("a", "b", "w"))
    assert(out.count() == 0L)
    assert(out.columns.toSeq == Seq("node", "r"))
  }
}
