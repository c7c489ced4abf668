package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Substrate-cache lifecycle: block-manager memory and disk must stay
  * bounded by ONE dataset's entries when a long-lived session walks
  * multiple scale factors (the round-2 caches accumulated instead),
  * everything recorded beside a substrate (build plan, build seconds,
  * driver values, layout directories and tables) goes with it, and
  * concurrent consumers on one session share entries without losing
  * blocks or building them twice.
  */
class CacheLifecycleSpec extends SparkSpec {

  private val dA = "/root/testdata/sf0.001"
  private val dB = "/root/testdata/sf0.01"

  test("switching datasets evicts the previous dataset's substrates") {
    // hermetic start: other suites sharing this session may have left
    // substrates for dA, which would inflate countA vs countB
    SubstrateCache.evictSession(spark)
    var scalarBuilds = 0
    def probe(d: String): Long = SubstrateCache.value(spark, d, "lifecycle-probe") { scalarBuilds += 1; 7L }
    // populate several substrates for dataset A
    SparkEntry.queries("ngram_jaccard")(spark, dA).count()
    SparkEntry.queries("minhash_near_dup")(spark, dA).count()
    SparkEntry.queries("ivf_ann")(spark, dA).count()
    SparkEntry.queries("fuzzy_pagerank")(spark, dA).count()
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
    SparkEntry.queries("fuzzy_pagerank")(spark, dB).count()
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

  test("4 threads asking for the Lloyd centroids on one session build them once") {
    SubstrateCache.evictSession(spark)
    val single = jobsIn("lloyd-one")(inGroup("lloyd-one")(operators.KMeansOps.lloydCentroids(spark, dA)))
    assert(single > 0)
    SubstrateCache.evictSession(spark)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      var got = Seq.empty[Seq[Array[Long]]]
      val four = jobsIn("lloyd-four") {
        val runs = Seq.fill(4)(Future(inGroup("lloyd-four")(operators.KMeansOps.lloydCentroids(spark, dA))))
        got = Await.result(Future.sequence(runs), Duration.Inf)
      }
      // a second build would run every job of the chain again
      assert(four < 2 * single, s"4 concurrent callers ran $four jobs, one cold build runs $single")
      assert(got.forall(_ eq got.head), "every caller must get the one cached value")
    } finally pool.shutdown()
    SubstrateCache.evictSession(spark)
  }

  test("a dataset switch deletes layout directories and drops the bucket tables") {
    SubstrateCache.evictSession(spark)
    def bucketTables: Set[String] =
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_bkt_")).toSet
    val sq8 = operators.Ivf.quantizedCellLayout(spark, dA)
    val byDay = operators.ScalePatterns.dayPartitionedEvents(spark, dA)
    val (ct, ot) = operators.ScalePatterns.bucketedPair(spark, dA)
    assert(Paths.get(sq8).getFileName.toString.startsWith("graft-ivf-sq8"), sq8)
    assert(Paths.get(byDay).getFileName.toString.startsWith("graft-events-byday"), byDay)
    assert(Seq(sq8, byDay).forall(p => Files.isDirectory(Paths.get(p))))
    assert(Set(ct, ot).subsetOf(bucketTables))
    assert(operators.Ivf.quantizedCellLayout(spark, dA) == sq8, "a layout is written once per dataset")
    assert(operators.ScalePatterns.bucketedPair(spark, dA) == ((ct, ot)))

    SubstrateCache.value(spark, dB, "lifecycle-switch")(1L) // any request for B switches
    assert(Seq(sq8, byDay).forall(p => !Files.exists(Paths.get(p))), "A's layout directories must be deleted")
    assert(bucketTables.intersect(Set(ct, ot)).isEmpty, "A's bucket tables must be dropped with their files")
    SubstrateCache.evictSession(spark)
  }

  test("evictSession(child) drops the child session's values and leaves the parent's") {
    SubstrateCache.evictSession(spark)
    val child = spark.newSession()
    val childCents = operators.KMeansOps.lloydCentroids(child, dA)
    val parentCents = operators.KMeansOps.lloydCentroids(spark, dA)
    assert(!(childCents eq parentCents), "values are per session")
    assert(SubstrateCache.value[Seq[Array[Long]]](child, dA, "kmeans-centroids")(fail("rebuilt")) eq childCents)

    SubstrateCache.evictSession(child)
    var rebuilt = false
    SubstrateCache.value(child, dA, "kmeans-centroids") { rebuilt = true; Seq.empty[Array[Long]] }
    assert(rebuilt, "the child's value must be gone after evictSession(child)")
    assert(operators.KMeansOps.lloydCentroids(spark, dA) eq parentCents, "the parent's value must survive")
    SubstrateCache.evictSession(child)
    SubstrateCache.evictSession(spark)
  }
}
