package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index over an embedding column — the
  * clustering-based scale path beside the LSH one (SimilarityOps):
  * partition vectors by nearest centroid, then search only `nprobe`
  * cells per query.
  *
  * Everything is DataFrame ops + the native cosine expression:
  *  - deterministic seeding (stride over vec_id — no RNG state);
  *  - Lloyd refinement as posexplode → per-(cell, dim) mean → re-assemble;
  *  - assignment and search are broadcast joins against the tiny centroid
  *    table, so the vector table never shuffles except the final
  *    per-query top-k window.
  *
  * At 100 TB: assignments are written bucketed by cell id; a query then
  * touches nprobe buckets. The centroid build samples the corpus — here
  * it uses all vectors because the table is small.
  */
object Ivf extends QueryModule {

  private def sim(s: SparkSession, a: String, b: String) = {
    graft.functions.GraftFunctions.register(s)
    expr(s"cosine_similarity($a, $b)")
  }

  /** Oracle-backed IVF search (`ivf_ann`): deterministic end-to-end —
    * stride seeds, TWO Lloyd refinements whose centroids are exact means
    * of integer-scaled vectors (the [[AggregatorOps]] trick: Long sums
    * are partitioning-invariant, so the refined centroids are
    * bit-identical to the oracle's single-threaded build), then
    * nprobe=2 / topk=5 search with the native cosine expression. Every
    * cosine is a per-row sequential fold — no cross-row float
    * aggregation anywhere, which is what makes an iterative clustering
    * algorithm hash-comparable across engines at all.
    */
  private val K = 8

  /** The shared substrate's cell count — the default for every
    * within-cell consumer; production tunes this up (see SCALE.md).
    */
  private[graft] val DefaultK: Int = K
  private val NProbe = 2
  private val TopK = 5
  private val NQueries = 8

  /** Scaled-embedding table cached per (session, dataset) via
    * [[graft.SubstrateCache]] — repeated invocations (Bench reps, Verify)
    * reuse one persisted copy, and switching datasets evicts the old one
    * instead of stacking duplicates in the block manager.
    */
  private[operators] def scaledEmbeddings(s: SparkSession, d: String): (DataFrame, Long) = {
    val e = graft.SubstrateCache.substrate(s, d, "ivf-scaled") {
      graft.Tables
        .embeddings(s, d)
        .select(
          col("vec_id"),
          expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("dvec"),
          expr(
            "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))",
          ).as("sv"),
        )
    }
    // the count is substrate metadata: computed once beside the frame
    // (was one cached-scan job per CONSUMER invocation — the scaled
    // ANN/semantic family calls this on every run)
    (e, graft.SubstrateCache.value(s, d, "ivf-scaled-n")(e.count()))
  }

  /** One nearest-centroid pass: (vec_id, cid). Same windowless
    * struct-min argmax as [[assign]] — the ×K fan-out dies in the
    * map-side partial min, so the exchange carries one row per vector
    * per partition instead of corpus×K rows into a per-vector sort.
    */
  private def argmaxCell(s: SparkSession, vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs
      .crossJoin(broadcast(cents))
      .withColumn("csim", sim(s, "dvec", "cvec"))
      .groupBy("vec_id")
      .agg(min(struct((-col("csim")).as("neg"), col("cid"))).as("b"))
      .select(col("vec_id"), col("b.cid").as("cid"))

  /** One Lloyd step with EXACT integer-scaled means (one assignment pass
    * + one partitioning-invariant Long-sum mean).
    */
  private def lloydStep(s: SparkSession, e: DataFrame, cents: DataFrame): DataFrame =
    argmaxCell(s, e.select("vec_id", "dvec"), cents)
      .join(e.select(col("vec_id"), col("sv")), Seq("vec_id"))
      .select(col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg(sum("v").as("sv2"), count(lit(1)).as("m"))
      .withColumn("c", col("sv2").cast("double") / (col("m") * lit(1000000.0)))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cvec"))

  /** The twice-refined centroid table (K rows), materialized once per
    * dataset — it feeds the corpus assignment and every consumer's query
    * probe (`ivf_ann`, `ivf_quantized_topk`), so it must never re-run the
    * two-step Lloyd chain per consumer.
    */
  private[graft] def refinedCentroids(s: SparkSession, d: String, k: Int = K): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val (e, n) = scaledEmbeddings(s, d)
    val stride = math.max(n / k, 1L)
    // the default k keeps its historical cache key (and thus its plan
    // fingerprint in PLANS.md); other cell counts — the production knob —
    // get their own substrate entry
    val key = if (k == K) "ivf-centroids" else s"ivf-centroids-k$k"
    graft.SubstrateCache.substrate(s, d, key) {
      val seeds = e
        .filter(col("vec_id") % stride === 0)
        .orderBy("vec_id")
        .limit(k)
        .select(
          (row_number().over(Window.orderBy("vec_id")) - 1).as("cid"),
          col("dvec").as("cvec"),
        )
      lloydStep(s, e, lloydStep(s, e, seeds))
    }
  }

  /** Final corpus→cell assignment under the refined centroids. `k` is the
    * cell-count knob (default = the shared substrate's K): more cells is
    * the documented scale path for every within-cell consumer
    * (`semantic_dedup` above all), so the assignment must be buildable at
    * any k, not only the fixture's 8.
    */
  private[graft] def cellAssignment(s: SparkSession, d: String, k: Int = K): DataFrame = {
    val (e, _) = scaledEmbeddings(s, d)
    val key = if (k == K) "ivf-assigned" else s"ivf-assigned-k$k"
    graft.SubstrateCache.substrate(s, d, key) {
      argmaxCell(s, e.select("vec_id", "dvec"), refinedCentroids(s, d, k))
    }
  }

  /** Shared oracle text — the deterministic seeding, two exact Lloyd
    * refinements, refined centroid table `cn(cid, cvec, cnrm)` and final
    * assignment `asg1(vec_id, cid)` — over a prior CTE
    * `e(vec_id, dvec, sv, nrm, ...)`. Spliced into both IVF oracles so
    * the clustering definition can never drift between them.
    */
  /** The k-independent tail of the Lloyd oracle — everything after the
    * `seeds(cid, dvec, nrm)` CTE. Shared by the fixed-K
    * [[LloydOracleCte]] and the derived-k [[lloydOracleCteDerived]] so
    * the refinement definition cannot drift between them. Declared
    * ABOVE both consumers: object vals initialize in declaration order
    * and a forward reference observes null (the round-14 TextOps
    * re-entrant-init lesson).
    *
    * Each assignment argmax is STAGED: a narrow (vec_id, cid, sim)
    * projection feeds the window, so DuckDB's sort input is 24 B/row —
    * the un-staged form carried the 64-dim vector lists into three
    * 5×10⁷-row window sorts at derived-k sf2 and spilled >200 GB of
    * temp (round-15 ENOSPC during the sf2 sweep). Same arithmetic,
    * same rows, bit-identical output.
    */
  private[operators] val LloydOracleTail =
    s"""a0p AS (SELECT e.vec_id, s.cid,
                            list_inner_product(e.dvec, s.dvec) / (e.nrm * s.nrm) AS sim
                     FROM e CROSS JOIN seeds s),
             a0 AS (SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rk
                    FROM a0p),
             asg0 AS (SELECT vec_id, cid FROM a0 WHERE rk = 1),
             ex AS (SELECT a.cid, u.pos, u.v
                    FROM asg0 a JOIN (SELECT vec_id, unnest(sv) AS v, generate_subscripts(sv, 1) AS pos FROM e) u USING (vec_id)),
             cm AS (SELECT cid, pos, sum(v) AS sv2, count(*) AS m FROM ex GROUP BY 1, 2),
             cent AS (SELECT cid, list(CAST(sv2 AS DOUBLE) / (m * 1000000.0) ORDER BY pos) AS cvec FROM cm GROUP BY cid),
             cn0 AS (SELECT cid, cvec, sqrt(list_inner_product(cvec, cvec)) AS cnrm FROM cent),
             amp AS (SELECT e.vec_id, c.cid,
                            list_inner_product(e.dvec, c.cvec) / (e.nrm * c.cnrm) AS sim
                     FROM e CROSS JOIN cn0 c),
             am AS (SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rk
                    FROM amp),
             asgm AS (SELECT vec_id, cid FROM am WHERE rk = 1),
             ex2 AS (SELECT a.cid, u.pos, u.v
                     FROM asgm a JOIN (SELECT vec_id, unnest(sv) AS v, generate_subscripts(sv, 1) AS pos FROM e) u USING (vec_id)),
             cm2 AS (SELECT cid, pos, sum(v) AS sv2, count(*) AS m FROM ex2 GROUP BY 1, 2),
             cent2 AS (SELECT cid, list(CAST(sv2 AS DOUBLE) / (m * 1000000.0) ORDER BY pos) AS cvec FROM cm2 GROUP BY cid),
             cn AS (SELECT cid, cvec, sqrt(list_inner_product(cvec, cvec)) AS cnrm FROM cent2),
             a1p AS (SELECT e.vec_id, c.cid,
                            list_inner_product(e.dvec, c.cvec) / (e.nrm * c.cnrm) AS sim
                     FROM e CROSS JOIN cn c),
             a1 AS (SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rk
                    FROM a1p),
             asg1 AS (SELECT vec_id, cid FROM a1 WHERE rk = 1)"""

  private[operators] val LloydOracleCte =
    s"""st AS (SELECT greatest(count(*) // $K, 1) AS stride FROM e),
             seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, dvec, nrm
                       FROM e, st WHERE vec_id % stride = 0 ORDER BY vec_id LIMIT $K),
             $LloydOracleTail"""

  /** The Lloyd oracle at a DATA-DERIVED cell count: `kExprOverE` is a
    * DuckDB scalar over `e` (e.g. `greatest(8, count(*) // 32)`), so k
    * scales with the corpus instead of staying the fixture's 8 — the
    * scale-safe form of every within-cell consumer. The seed cap is a
    * row_number filter against the `kv` CTE (LIMIT takes constants);
    * with the same k this produces exactly [[LloydOracleCte]]'s seeds.
    */
  private[operators] def lloydOracleCteDerived(kExprOverE: String): String =
    s"""kv AS (SELECT CAST($kExprOverE AS BIGINT) AS k FROM e),
             st AS (SELECT greatest(count(*) // (SELECT k FROM kv), 1) AS stride FROM e),
             sd0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, dvec, nrm
                     FROM e, st WHERE vec_id % stride = 0),
             seeds AS (SELECT cid, dvec, nrm FROM sd0, kv WHERE sd0.cid < kv.k),
             $LloydOracleTail"""

  /** The ranked IVF probe result (qid, rank, cand_id, sim), rank ≤ TopK,
    * unordered — shared by the declared `ivf_ann` and the `ivf_recall`
    * approximate arm, so the measured system cannot drift from its
    * measurement.
    */
  private def ivfRanked(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val (e, _) = scaledEmbeddings(s, d)
    val refined = refinedCentroids(s, d)
    val assigned = cellAssignment(s, d)
    val q = e
      .filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("dvec").as("qvec"))
    val probed = q
      .crossJoin(broadcast(refined))
      .withColumn("csim", sim(s, "qvec", "cvec"))
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))),
      )
      .filter(col("rk") <= NProbe)
      .select("qid", "qvec", "cid")
    probed
      .join(assigned, Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .join(e.select(col("vec_id"), col("dvec").as("cand_vec")), Seq("vec_id"))
      .withColumn("sim", Disp.roundz(expr("cosine_similarity(qvec, cand_vec)"), 6))
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))),
      )
      .filter(col("rank") <= TopK)
      .select(
        col("qid"),
        col("rank").cast("long").as("rank"),
        col("vec_id").as("cand_id"),
        col("sim"),
      )
  }

  /** The shared `e` base CTE and the IVF ranked-probe CTE chain
    * (`... r(qid, vec_id, sim, rank)`), shared by the `ivf_ann` and
    * `ivf_recall` oracles.
    */
  private lazy val ivfBaseDuck =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
      |             list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS sv,
      |             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |      FROM embeddings)""".stripMargin

  private lazy val ivfRankedDuck =
    s"""q AS (SELECT vec_id AS qid, dvec AS qvec, nrm AS qnrm FROM e WHERE vec_id < $NQueries),
       |qc AS (SELECT q.qid, q.qvec, q.qnrm, c.cid,
       |              row_number() OVER (PARTITION BY q.qid
       |                ORDER BY list_inner_product(q.qvec, c.cvec) / (q.qnrm * c.cnrm) DESC, c.cid) AS rk
       |       FROM q CROSS JOIN cn c),
       |probe AS (SELECT qid, qvec, qnrm, cid FROM qc WHERE rk <= $NProbe),
       |cand AS (SELECT p.qid, p.qvec, p.qnrm, a.vec_id
       |         FROM probe p JOIN asg1 a USING (cid) WHERE a.vec_id <> p.qid),
       |scored AS (SELECT c.qid, c.vec_id,
       |                  (round(list_inner_product(c.qvec, e.dvec) / (c.qnrm * e.nrm), 6) + 0.0) AS sim
       |           FROM cand c JOIN e USING (vec_id)),
       |r AS (SELECT qid, vec_id, sim,
       |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
       |      FROM scored)""".stripMargin

  private val ivfAnn = DeclaredQuery(
    "ivf_ann",
    (s, d) => ivfRanked(s, d).orderBy("qid", "rank"),
    Some(s"""WITH $ivfBaseDuck,
             $LloydOracleCte,
             $ivfRankedDuck
             SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id AS cand_id, sim
             FROM r WHERE rank <= $TopK ORDER BY qid, rank"""),
  )

  /** Recall@TopK of the IVF probe against the exact brute-force ranking
    * over the same query set — the ANN-tier counterpart of
    * `ann_recall` (LSH): nprobe is THE recall-vs-cost knob of an IVF
    * index, and this is the number it is tuned against. Both arms share
    * their ranking code with the declared queries; the exact arm
    * brute-forces only the NQueries query rows (why production samples
    * queries); the fusion is a k-row-per-query left join.
    */
  /** The exact brute-force top-K per sampled query — the ground-truth
    * arm shared by `ivf_recall` and the `ivf_nprobe_sweep` curve, so the
    * truth both are measured against is one definition.
    */
  private def exactTopK(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val (e, _) = scaledEmbeddings(s, d)
    val q = e
      .filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("dvec").as("qvec"))
    broadcast(q)
      .join(e.select(col("vec_id"), col("dvec").as("cand_vec")), col("vec_id") =!= col("qid"))
      .withColumn("sim", Disp.roundz(expr("cosine_similarity(qvec, cand_vec)"), 6))
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))),
      )
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("cand_id"))
  }

  /** The exact arm as DuckDB CTEs ending in `x(qid, cid)` — the oracle
    * text shared verbatim by both recall consumers.
    */
  private lazy val exactTopKDuck =
    s"""xp AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
       |              (round(list_inner_product(q.dvec, c.dvec) / (q.nrm * c.nrm), 6) + 0.0) AS sim
       |       FROM e q JOIN e c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
       |xr AS (SELECT qid, cid,
       |              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
       |       FROM xp),
       |x AS (SELECT qid, cid FROM xr WHERE rank <= $TopK)""".stripMargin

  private val ivfRecall = DeclaredQuery(
    "ivf_recall",
    (s, d) => {
      val exact = exactTopK(s, d)
      val approx = ivfRanked(s, d).select(col("qid"), col("cand_id"), lit(1L).as("hit"))
      exact
        .join(approx, Seq("qid", "cand_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall", Disp.roundz(col("n_hit").cast("double") / col("k"), 4))
        .orderBy("qid")
    },
    Some(s"""WITH $ivfBaseDuck,
             $LloydOracleCte,
             $ivfRankedDuck,
             ir AS (SELECT qid, vec_id, 1 AS hit FROM r WHERE rank <= $TopK),
             $exactTopKDuck
             SELECT x.qid,
                    CAST(count(*) AS BIGINT) AS k,
                    CAST(coalesce(sum(ir.hit), 0) AS BIGINT) AS n_hit,
                    round(CAST(coalesce(sum(ir.hit), 0) AS BIGINT)::DOUBLE / count(*), 4) AS recall
             FROM x LEFT JOIN ir ON x.qid = ir.qid AND x.cid = ir.vec_id
             GROUP BY x.qid ORDER BY x.qid"""),
  )

  /** Durable SQ8 cell layout — THE production 100 TB ANN shape: one
    * directory per IVF cell (`partitionBy(cid)`), each vector carrying
    * its int8 codes beside the full-precision copy, so a probe reads
    * only its cells' directories (planning-time `PartitionFilters`) and
    * ranks them with the 4×-smaller integer codes before any float work.
    * Written once per (session, dataset) as a [[graft.SubstrateCache]]
    * layout — the in-repo stand-in for the parquet table a pipeline
    * would persist between stages.
    */
  private[graft] def quantizedCellLayout(s: SparkSession, d: String): String =
    graft.SubstrateCache.layout(s, d, "graft-ivf-sq8") { dir =>
      cellAssignment(s, d)
        .join(QuantizeOps.sq8Codes(s, d), Seq("vec_id"))
        .select(col("cid"), col("vec_id"), col("dvec"), col("qv"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cid")
        .parquet(dir)
      dir
    }

  /** SQ8-inside-IVF search (`ivf_quantized_topk`): per query, rank cells
    * by centroid cosine and keep `NProbe`; prune the durable layout scan
    * to those cells (literal isin on the partition column → the scan
    * never opens other directories); coarse-rank the probed cells'
    * vectors with the native BIGINT code dot ([[graft.functions.IntDot]]
    * — exact, so the candidate cut is bit-deterministic across engines);
    * exact-rescore only the per-query top-`RescoreQ` survivors. At
    * 100 TB each tier shrinks the touched bytes ~an order of magnitude:
    * cells prune the corpus to nprobe/K, codes quarter the scan bytes,
    * and full-precision floats are read for queries×RescoreQ rows only.
    */
  private val RescoreQ = 20

  private val ivfQuantizedTopk = DeclaredQuery(
    "ivf_quantized_topk",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val refined = refinedCentroids(s, d)
      val q = QuantizeOps
        .sq8Codes(s, d)
        .filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("dvec").as("qvec"), col("qv").as("qqv"))
      val cells = q
        .crossJoin(broadcast(refined))
        .withColumn("csim", sim(s, "qvec", "cvec"))
        .withColumn(
          "rk",
          row_number().over(Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))),
        )
        .filter(col("rk") <= NProbe)
        .select("qid", "qvec", "qqv", "cid")
      // ≤ queries·nprobe rows — scales with K, not the corpus. Collected
      // ONCE and reused two ways: the distinct cids become the literal
      // isin pruning the layout scan at planning time, and the rows
      // re-enter the plan as a LocalRelation so the centroid-ranking
      // subtree isn't recomputed inside the main job.
      val probedRows = cells.collect()
      val probedCells = probedRows.map(_.getAs[Int]("cid")).distinct
      val cellsLit =
        s.createDataFrame(java.util.Arrays.asList(probedRows: _*), cells.schema)
      val scan = s.read
        .parquet(quantizedCellLayout(s, d))
        .filter(col("cid").isin(probedCells.map(Integer.valueOf).toSeq: _*))
      broadcast(cellsLit)
        .join(scan, Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("qdot", expr("graft_int_dot(qqv, qv)"))
        .withColumn(
          "crank",
          row_number().over(Window.partitionBy("qid").orderBy(col("qdot").desc, col("vec_id"))),
        )
        .filter(col("crank") <= RescoreQ)
        .withColumn("sim", Disp.roundz(expr("cosine_similarity(qvec, dvec)"), 6))
        .withColumn(
          "rank",
          row_number().over(Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))),
        )
        .filter(col("rank") <= TopK)
        .select(
          col("qid"),
          col("rank").cast("long").as("rank"),
          col("vec_id").as("cand_id"),
          col("qdot"),
          col("sim"),
        )
        .orderBy("qid", "rank")
    },
    Some(s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS sv,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             e1 AS (SELECT vec_id, dvec, sv, nrm,
                           greatest(list_max(list_transform(dvec, v -> abs(v))) / 127.0, 1e-12) AS scale
                    FROM e0),
             e AS (SELECT vec_id, dvec, sv, nrm,
                          list_transform(dvec, v -> CAST(floor(v / scale + 0.5) AS BIGINT)) AS qv
                   FROM e1),
             $LloydOracleCte,
             q AS (SELECT vec_id AS qid, dvec AS qvec, nrm AS qnrm, qv AS qqv
                   FROM e WHERE vec_id < $NQueries),
             qc AS (SELECT q.qid, c.cid,
                           row_number() OVER (PARTITION BY q.qid
                             ORDER BY list_inner_product(q.qvec, c.cvec) / (q.qnrm * c.cnrm) DESC, c.cid) AS rk
                    FROM q CROSS JOIN cn c),
             probe AS (SELECT qid, cid FROM qc WHERE rk <= $NProbe),
             cand AS (SELECT p.qid, a.vec_id
                      FROM probe p JOIN asg1 a USING (cid) WHERE a.vec_id <> p.qid),
             coarse AS (SELECT c.qid, c.vec_id,
                               list_reduce(list_prepend(CAST(0 AS BIGINT),
                                 list_transform(range(1, len(q.qqv) + 1), i -> q.qqv[i] * z.qv[i])),
                                 (s2, x) -> s2 + x) AS qdot
                        FROM cand c JOIN q ON q.qid = c.qid JOIN e z ON z.vec_id = c.vec_id),
             cr AS (SELECT qid, vec_id, qdot,
                           row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, vec_id) AS crank
                    FROM coarse),
             rs AS (SELECT cr.qid, cr.vec_id, cr.qdot,
                           (round(list_inner_product(q.qvec, z.dvec) / (q.qnrm * z.nrm), 6) + 0.0) AS sim
                    FROM cr JOIN q ON q.qid = cr.qid JOIN e z ON z.vec_id = cr.vec_id
                    WHERE cr.crank <= $RescoreQ),
             r AS (SELECT qid, vec_id, qdot, sim,
                          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
                   FROM rs)
             SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id AS cand_id, qdot, sim
             FROM r WHERE rank <= $TopK ORDER BY qid, rank"""),
  )

  /** IVF cell-balance audit — the index-health diagnostic every IVF
    * deployment watches: per cell, its member count and exact ×10³ load
    * factor vs a uniform spread (load_e3 = n·K·10³ ÷ corpus). A hot cell
    * (load ≫ 1000) concentrates probe latency and within-cell pair work
    * (`semantic_dedup`'s Σn_c² cost is exactly this statistic squared);
    * empty cells waste probes — both are the signal that triggers a
    * re-train or a cell-count bump (the documented `semanticSurvivors(k)`
    * knob). Rides the SHARED cell-assignment substrate (zero new corpus
    * work when any IVF consumer already ran): one k-cardinality count
    * agg + a left join from the K-row centroid table for empty cells.
    */
  private val ivfBalance = DeclaredQuery(
    "ivf_balance",
    (s, d) => {
      val (_, total) = scaledEmbeddings(s, d)
      val counts = cellAssignment(s, d).groupBy("cid").agg(count(lit(1)).as("n"))
      refinedCentroids(s, d)
        .select("cid")
        .join(counts, Seq("cid"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("load_e3", expr(s"n * $K * 1000 DIV ${total}L"))
        .select(col("cid").cast("long").as("cid"), col("n"), col("load_e3"))
        .orderBy("cid")
    },
    Some(s"""WITH $ivfBaseDuck,
             $LloydOracleCte,
             tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM e),
             cnts AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM asg1 GROUP BY 1)
             SELECT CAST(cn.cid AS BIGINT) AS cid, coalesce(cnts.n, 0) AS n,
                    CAST((coalesce(cnts.n, 0) * $K * 1000) // tot.t AS BIGINT) AS load_e3
             FROM cn LEFT JOIN cnts ON cn.cid = cnts.cid CROSS JOIN tot
             ORDER BY cid"""),
  )

  /** The nprobe sweep values — 1 is the cheapest probe, 2 the declared
    * `ivf_ann` operating point, 4 the headroom read.
    */
  private val SweepProbes = Seq(1, 2, 4)

  /** The recall-vs-nprobe CURVE — the tuning table an IVF deployment
    * reads before pinning its operating point (`ivf_recall` measures the
    * pinned point; this measures the knob): mean recall@$TopK over the
    * sampled queries at nprobe ∈ {1, 2, 4}. The candidate set is scored
    * ONCE at the widest probe (each candidate's probe rank `pr` is the
    * rank of its ONE home cell, so "reachable at nprobe p" is the pure
    * filter pr ≤ p) — three rank windows over one scored table, not
    * three search passes; the exact arm is the SHARED [[exactTopK]].
    * At 100 TB the sweep costs one widest-probe search — exactly the
    * production methodology (sample queries, score once, slice by
    * probe rank).
    */
  private val ivfNprobeSweep = DeclaredQuery(
    "ivf_nprobe_sweep",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val (e, _) = scaledEmbeddings(s, d)
      val q = e
        .filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("dvec").as("qvec"))
      val probed = q
        .crossJoin(broadcast(refinedCentroids(s, d)))
        .withColumn("csim", sim(s, "qvec", "cvec"))
        .withColumn(
          "pr",
          row_number().over(Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))),
        )
        .filter(col("pr") <= SweepProbes.max)
        .select("qid", "qvec", "cid", "pr")
      val scored = probed
        .join(cellAssignment(s, d), Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .join(e.select(col("vec_id"), col("dvec").as("cand_vec")), Seq("vec_id"))
        .withColumn("sim", Disp.roundz(expr("cosine_similarity(qvec, cand_vec)"), 6))
        .select("qid", "vec_id", "pr", "sim")
      val exact = exactTopK(s, d)
      SweepProbes
        .map { p =>
          val topk = scored
            .filter(col("pr") <= p)
            .withColumn(
              "rank",
              row_number().over(
                Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))),
            )
            .filter(col("rank") <= TopK)
            .select(col("qid"), col("vec_id").as("cand_id"), lit(1L).as("hit"))
          exact
            .join(topk, Seq("qid", "cand_id"), "left")
            .agg(count(lit(1)).as("k_total"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
            .select(
              lit(p.toLong).as("nprobe"),
              col("k_total"),
              col("n_hit"),
              Disp.roundz(col("n_hit").cast("double") / col("k_total"), 4).as("recall"),
            )
        }
        .reduce(_ unionAll _)
        .orderBy("nprobe")
    },
    Some {
      val maxP = SweepProbes.max
      val arms = SweepProbes
        .map { p =>
          s"""r$p AS (SELECT qid, vec_id,
             |              row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
             |       FROM sc WHERE pr <= $p),
             |h$p AS (SELECT CAST($p AS BIGINT) AS nprobe, CAST(count(*) AS BIGINT) AS k_total,
             |               CAST(coalesce(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_hit
             |        FROM x LEFT JOIN (SELECT qid, vec_id FROM r$p WHERE rank <= $TopK) t
             |          ON x.qid = t.qid AND x.cid = t.vec_id)""".stripMargin
        }
        .mkString(",\n")
      val union = SweepProbes.map(p => s"SELECT * FROM h$p").mkString(" UNION ALL ")
      s"""WITH $ivfBaseDuck,
         $LloydOracleCte,
         $exactTopKDuck,
         qv AS (SELECT vec_id AS qid, dvec AS qvec, nrm AS qnrm FROM e WHERE vec_id < $NQueries),
         qp AS (SELECT qv.qid, qv.qvec, qv.qnrm, c.cid,
                       row_number() OVER (PARTITION BY qv.qid
                         ORDER BY list_inner_product(qv.qvec, c.cvec) / (qv.qnrm * c.cnrm) DESC, c.cid) AS pr
                FROM qv CROSS JOIN cn c),
         pb AS (SELECT qid, qvec, qnrm, cid, pr FROM qp WHERE pr <= $maxP),
         sc AS (SELECT p.qid, a.vec_id, p.pr,
                       (round(list_inner_product(p.qvec, e.dvec) / (p.qnrm * e.nrm), 6) + 0.0) AS sim
                FROM pb p JOIN asg1 a USING (cid) JOIN e ON e.vec_id = a.vec_id
                WHERE a.vec_id <> p.qid),
         $arms
         SELECT nprobe, k_total, n_hit,
                (round(CAST(n_hit AS DOUBLE) / k_total, 4) + 0.0) AS recall
         FROM ($union) ORDER BY nprobe"""
    },
  )

  val queries: Seq[DeclaredQuery] =
    Seq(ivfAnn, ivfQuantizedTopk, ivfRecall, ivfBalance, ivfNprobeSweep)

  /** k deterministic seeds refined by `iters` Lloyd iterations.
    * @param e (vec_id, dvec: array<double>)
    * @return (cid: int, cvec: array<double>)
    */
  def buildCentroids(s: SparkSession, e: DataFrame, k: Int, iters: Int): DataFrame = {
    val n = e.count()
    val stride = math.max(n / k, 1L)
    var centroids = e
      .filter(col("vec_id") % stride === 0)
      .orderBy("vec_id")
      .limit(k)
      .select(
        (row_number().over(Window.orderBy("vec_id")) - 1).as("cid"),
        col("dvec").as("cvec"),
      )
    (0 until iters).foreach { _ =>
      val assigned = assign(s, e, centroids)
      val byDim = assigned // schema-preserving: dvec rides through, no re-join
        .select(col("cid"), posexplode(col("dvec")).as(Seq("k", "v")))
        .groupBy("cid", "k")
        .agg(avg("v").as("m"))
      centroids = byDim
        .groupBy("cid")
        .agg(
          expr("transform(array_sort(collect_list(struct(k, m))), x -> x.m)").as("cvec"),
        )
    }
    centroids
  }

  /** Nearest-centroid assignment: broadcast the centroids, then a
    * groupBy(vec_id) struct-min argmax — NOT a window sort. The ×K
    * fan-out exists only upstream of a partial aggregate, so map-side
    * combine collapses it before the exchange: the shuffle carries ≤ one
    * row per vector per input partition instead of corpus×K rows into a
    * per-vector sort (the round-14 advisory — at 100 TB ingest that
    * window exchange was the dominant write cost; this plan has no
    * Window operator at all, pinned in PlanAssertionsSpec).
    *
    * Ordering: min over struct(−csim, cid, …) ≡ max csim with min-cid
    * tie-break — the exact order the old window argmax used. cid is
    * unique per centroid, so the comparison never reaches the
    * pass-through payload field behind it.
    *
    * SCHEMA-PRESERVING (the [[graft.operators.KMeansOps]] assignTo
    * discipline): every input column rides through beside the appended
    * `cid`/`csim` — carried INSIDE the min struct (functionally
    * dependent on vec_id, so any winner carries the right values), so
    * consumers that need the vector back — the cell layout writers, the
    * streaming ingest loop — never pay a re-join-to-self to recover
    * what the assignment just dropped.
    */
  def assign(s: SparkSession, e: DataFrame, centroids: DataFrame): DataFrame = {
    val rest = e.columns.filterNot(_ == "vec_id")
    e.join(broadcast(centroids))
      .withColumn("csim", sim(s, "dvec", "cvec"))
      .groupBy("vec_id")
      .agg(
        min(struct(
          (-col("csim")).as("neg"),
          col("cid"),
          struct(rest.map(col).toSeq: _*).as("pay"),
        )).as("b"),
      )
      .select(
        e.columns.map(c => if (c == "vec_id") col(c) else col(s"b.pay.`$c`").as(c)).toSeq
          ++ Seq(col("b.cid").as("cid"), (-col("b.neg")).as("csim")): _*,
      )
  }

  /** Persist the index in its durable 100 TB layout: one directory per
    * cell (`partitionBy(cid)`), each vector riding beside its assignment.
    * This is the disk twin of the in-session assignment join — pay the
    * assignment shuffle once at write time; every later probe reads only
    * its cells' directories.
    */
  def writeCellLayout(
      s: SparkSession,
      e: DataFrame,
      centroids: DataFrame,
      dir: String,
  ): Unit =
    assign(s, e, centroids) // schema-preserving: dvec rides through, no re-join
      .select(col("cid"), col("vec_id"), col("dvec"))
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cid")
      .parquet(dir)

  /** Search against a [[writeCellLayout]] index, reading ONLY the probed
    * cells: per-query cell ranks come from the tiny centroid table; the
    * union of probed cell ids (≤ queries·nprobe ints — driver-safe at any
    * corpus size, it scales with k not n) becomes a LITERAL predicate on
    * the partition column, so the scan prunes to those directories at
    * planning time (`PartitionFilters`, not just row-group pushdown).
    */
  def searchCellLayout(
      s: SparkSession,
      indexDir: String,
      centroids: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      topk: Int,
  ): DataFrame = {
    val cells = queries
      .join(broadcast(centroids))
      .withColumn("csim", sim(s, "qvec", "cvec"))
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))),
      )
      .filter(col("rk") <= nprobe)
      .select("qid", "qvec", "cid")
    // collected ONCE (≤ queries·nprobe rows) and reused two ways: the
    // distinct cids prune the scan at planning time, and the rows re-enter
    // the plan as a LocalRelation so the centroid-ranking subtree isn't
    // recomputed inside the main job
    val probedRows = cells.collect()
    val probedCells = probedRows.map(_.getAs[Int]("cid")).distinct
    val cellsLit =
      s.createDataFrame(java.util.Arrays.asList(probedRows: _*), cells.schema)
    val probedScan = s.read
      .parquet(indexDir)
      .filter(col("cid").isin(probedCells.map(Integer.valueOf).toSeq: _*))
    cellsLit
      .join(probedScan.withColumnRenamed("dvec", "cand_vec"), "cid")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", sim(s, "qvec", "cand_vec"))
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))),
      )
      .filter(col("rank") <= topk)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("vec_id").as("cid"), col("sim"))
      .orderBy("qid", "rank")
  }

  /** Search: per query, rank cells by centroid similarity, take `nprobe`,
    * then exact top-k within the probed cells.
    * @param queries (qid, qvec)
    * @return (qid, rank, cid: candidate vec_id, sim)
    */
  def searchTopK(
      s: SparkSession,
      e: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      nprobe: Int,
      topk: Int,
  ): DataFrame = {
    val cells = queries
      .join(broadcast(centroids))
      .withColumn("csim", sim(s, "qvec", "cvec"))
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))),
      )
      .filter(col("rk") <= nprobe)
      .select("qid", "qvec", "cid")
    val assigned = assign(s, e, centroids).select(col("vec_id"), col("cid"))
    cells
      .join(assigned, "cid")
      .join(e.select(col("vec_id"), col("dvec").as("cand_vec")), "vec_id")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", sim(s, "qvec", "cand_vec"))
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))),
      )
      .filter(col("rank") <= topk)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("vec_id").as("cid"), col("sim"))
      .orderBy("qid", "rank")
  }
}
