package graft

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Connected-components engines: large-star/small-star contraction (the
  * shipping engine behind `dedup_clusters`) must equal min-label
  * propagation on generated graphs — including chain shapes deep enough
  * that propagation's O(diameter) rounds would exceed the default round
  * budget — and must converge on a 1000-node chain within the O(log n)
  * bound that justifies shipping it.
  */
class CcSpec extends SparkSpec {

  import spark.implicits._

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("lbl")).toMap

  private def runBoth(
      nodes: Seq[Long],
      pairs: Seq[(Long, Long)],
      propRounds: Int,
  ): (Map[Long, Long], Map[Long, Long], Int) = {
    val nodesDf = nodes.toDF("node")
    val pairsDf = pairs.toDF("da", "db")
    val (starDf, rounds) = DedupOps.starContract(nodesDf, pairsDf, maxRounds = 64)
    val propDf = DedupOps.minLabelPropagation(nodesDf, pairsDf, maxRounds = propRounds)
    val (star, prop) = (labelsOf(starDf), labelsOf(propDf))
    SubstrateCache.release(starDf)
    SubstrateCache.release(propDf)
    (star, prop, rounds)
  }

  test("a 1000-node chain contracts in O(log n) rounds, all labels = 0") {
    val n = 1000L
    val nodesDf = (0L until n).toDF("node")
    val pairsDf = (0L until n - 1).map(i => (i, i + 1)).toDF("da", "db")
    val (labels, rounds) = DedupOps.starContract(nodesDf, pairsDf, maxRounds = 64)
    val got = labelsOf(labels)
    SubstrateCache.release(labels)
    assert(got.size == n && got.values.forall(_ == 0L), "chain is one component rooted at 0")
    // propagation would need 999 rounds here; star contraction halves
    // depth (or better) per round — pin 2·log2(1000) with slack
    info(s"1000-chain star-contraction rounds: $rounds")
    assert(rounds <= 20, s"chain must contract in O(log n) rounds, took $rounds")
  }

  test("star contraction equals min-label propagation on generated graphs") {
    val rnd = new scala.util.Random(20260812L)
    // shapes chosen to stress different depths: long chains (deeper than
    // the default 20-round budget of the shipping query), stars, cliques,
    // random unions, isolated nodes
    val cases: Seq[(String, Seq[Long], Seq[(Long, Long)])] = Seq(
      {
        val n = 120L
        ("chain-120", 0L until n, (0L until n - 1).map(i => (i + 1, i)))
      }, {
        val n = 60L
        ("star-60", 0L until n, (1L until n).map(i => (i, 30L min i - 1 max 0L)))
      }, {
        // three disjoint cliques of 8 + 10 isolated nodes
        val cliq = for {
          c <- 0L until 3L
          a <- 0L until 8L
          b <- 0L until a
        } yield (c * 100 + a, c * 100 + b)
        ("cliques+isolated", (0L until 3L).flatMap(c => (0L until 8L).map(c * 100 + _)) ++
          (900L until 910L), cliq)
      }, {
        // random graph: 150 nodes, 120 random edges (some self-loops and
        // duplicates on purpose — the engines must tolerate both)
        val n = 150
        val es = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        ("random-150", 0L until n.toLong, es)
      }, {
        // two chains joined at the tail by one edge — a deep component
        // whose min sits at one END, the worst case for propagation
        val n = 80L
        val c1 = (0L until n - 1).map(i => (i, i + 1))
        val c2 = (100L until 100L + n - 1).map(i => (i, i + 1))
        ("double-chain", (0L until n) ++ (100L until 100L + n), c1 ++ c2 :+ (n - 1, 100L))
      },
    )
    for ((name, nodes, pairs) <- cases) {
      val (star, prop, rounds) = runBoth(nodes, pairs, propRounds = 512)
      assert(star == prop, s"$name: engines disagree")
      info(s"$name: ${star.values.toSet.size} components in $rounds star rounds")
    }
  }

  test("incremental labels raise on a pair endpoint in neither prevLabels nor newNodes") {
    val prev = Seq((1L, 1L), (2L, 1L)).toDF("node", "lbl")
    val newNodes = Seq(10L).toDF("node")
    // endpoint 99 is a contract violation: before the guard it silently
    // produced no output row (a dangling relabel entry); now it must be a
    // loud typed error instead of quietly missing labels
    val bad = Seq((10L, 99L)).toDF("da", "db")
    val e = intercept[graft.MalformedStateError] {
      DedupOps.incrementalCcLabels(prev, newNodes, bad, 20)
    }
    assert(e.getMessage.contains("99"))
    // the well-formed twin still works: both endpoints known
    val ok = DedupOps
      .incrementalCcLabels(prev, newNodes, Seq((10L, 2L)).toDF("da", "db"), 20)
    val got = labelsOf(ok)
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 1L))
  }
}
