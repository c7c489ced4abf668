package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Substrate-cache lifecycle: block-manager memory must stay bounded by
  * ONE dataset's substrates when a long-lived session walks multiple scale
  * factors (the round-2 caches accumulated instead), everything recorded
  * beside a substrate (build plan, build seconds, derived scalars) goes
  * with it, and concurrent consumers on one session share entries without
  * losing blocks.
  */
class CacheLifecycleSpec extends SparkSpec {

  private val dA = "/root/testdata/sf0.001"
  private val dB = "/root/testdata/sf0.01"

  test("switching datasets evicts the previous dataset's substrates") {
    // hermetic start: other suites sharing this session may have left
    // substrates for dA, which would inflate countA vs countB
    SubstrateCache.evictSession(spark)
    var scalarBuilds = 0
    def probe(d: String): Long = SubstrateCache.scalar(spark, d, "lifecycle-probe") { scalarBuilds += 1; 7L }
    // populate several substrates for dataset A
    SparkEntry.queries("ngram_jaccard")(spark, dA).count()
    SparkEntry.queries("minhash_near_dup")(spark, dA).count()
    SparkEntry.queries("ivf_ann")(spark, dA).count()
    assert(probe(dA) == 7L && probe(dA) == 7L && scalarBuilds == 1, "a scalar is computed once")
    val countA = SubstrateCache.liveCount(spark)
    val rddsA = spark.sparkContext.getPersistentRDDs.size
    assert(countA >= 3, s"expected substrates for A, got $countA")
    assert(SubstrateCache.liveDatasets(spark) == Set(dA))
    assert(SubstrateCache.buildPlan(spark, dA, "minhash-banded").isDefined)
    assert(SubstrateCache.buildSeconds(spark, dA).size == countA, "one build time per live frame")

    // same queries on dataset B: A's substrates must be unpersisted, not
    // accumulated beside B's
    SparkEntry.queries("ngram_jaccard")(spark, dB).count()
    SparkEntry.queries("minhash_near_dup")(spark, dB).count()
    SparkEntry.queries("ivf_ann")(spark, dB).count()
    assert(SubstrateCache.liveDatasets(spark) == Set(dB))
    assert(SubstrateCache.liveCount(spark) == countA, "same working-set size")
    assert(SubstrateCache.buildPlan(spark, dB, "minhash-banded").isDefined)
    val rddsB = spark.sparkContext.getPersistentRDDs.size
    assert(rddsB <= rddsA, s"persisted RDDs grew across datasets: $rddsA -> $rddsB")

    // leave the shared session on the suite-default dataset: B's entries
    // go, and nothing recorded for A survived the switch
    SubstrateCache.evictOthers(spark, dA)
    assert(SubstrateCache.liveCount(spark) == 0)
    for (d <- Seq(dA, dB)) {
      assert(SubstrateCache.buildPlan(spark, d, "minhash-banded").isEmpty, d)
      assert(SubstrateCache.buildSeconds(spark, d).isEmpty, d)
    }
    assert(probe(dA) == 7L && scalarBuilds == 2, "A's scalar must be recomputed after eviction")
    SubstrateCache.evictSession(spark)
  }

  test("concurrent invocations on one session share substrates and keep their blocks") {
    // each query reads a leaf its own plan references several times; the
    // leaf is shared by every invocation, so no invocation may release it
    // while another still reads its blocks
    val names = Seq("skipgram_pmi", "audience_overlap")
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 10 rounds of 4 concurrent invocations: each query runs 20 times
      def round(): Unit = {
        val runs = Seq.tabulate(4)(i => Future(SparkEntry.queries(names(i % 2))(spark, dA).collect().length))
        Await.result(Future.sequence(runs), Duration.Inf)
      }
      round()
      val rddsAfterFirst = spark.sparkContext.getPersistentRDDs.size
      for (r <- 2 to 10) {
        round()
        val rdds = spark.sparkContext.getPersistentRDDs.size
        assert(rdds <= rddsAfterFirst, s"persisted RDDs grew in round $r: $rddsAfterFirst -> $rdds")
      }
      assert(SubstrateCache.buildPlan(spark, dA, "skipgram-bi").isDefined)
      assert(SubstrateCache.buildPlan(spark, dA, "audience-membership").isDefined)
    } finally pool.shutdown()
  }
}
