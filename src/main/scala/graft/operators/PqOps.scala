package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-bound ANN tier beside SQ8
  * ([[QuantizeOps]]) and IVF ([[Ivf]]): split each d=64 vector into 8
  * subvectors of 8 dims, k-means each subspace to 16 centroids, and
  * store ONE BYTE (a 4-bit code, stored as int) per subvector — 8 codes
  * replace 64 floats (32× compression vs 4× for SQ8). Search is ADC
  * (asymmetric distance computation): per query, precompute the 8×16
  * table of query-slice·centroid partial dot products ONCE, then score
  * any candidate with 8 table lookups — no float math per candidate.
  *
  * Two declared tiers:
  *  - `pq_topk` — flat ADC over the whole code table (the small-corpus /
  *    re-ranking shape);
  *  - `ivf_pq_topk` — ADC inside nprobe pruned IVF cells over a durable
  *    `partitionBy(cid)` code layout: the FAISS-style IVF-PQ composition
  *    and the actual 100 TB serving shape (cells prune the corpus,
  *    codes shrink the scan 32×, floats are read only for the rescore).
  *
  * Determinism across engines (what makes an iterative trained quantizer
  * hash-comparable at all):
  *  - subspace k-means reuses the exact integer-scaled Lloyd pattern of
  *    [[Ivf]] (stride seeds, Long-sum means — partitioning-invariant);
  *  - assignment distance is a sequential left fold of
  *    `(x-y)·(x-y)` (`aggregate(zip_with(...))` ≡ DuckDB
  *    `list_reduce(list_transform(...))`) — bit-equal doubles, ties
  *    broken by cid;
  *  - ADC partials are scaled to BIGINT via `floor(dot·1e6 + 0.5)`, so
  *    candidate scores are exact integer sums and the coarse ranking
  *    cannot drift between engines (the SQ8 BIGINT-dot trick).
  *
  * Scale notes (100 TB): the codebook is 8×16 tiny vectors (broadcast
  * everywhere); training samples the corpus (here: all of it). The code
  * table is the ONLY corpus-sized artifact — 8 small ints per vector —
  * and ADC reads nothing else, so the scan is ~1/30 the bytes of the
  * float corpus; the exact rescore touches queries × Rescore rows. The
  * synthetic fixture vectors are near-isotropic (PQ's worst case — no
  * manifold to exploit), so Rescore is set deep (100) to hold recall;
  * clustered real-embedding corpora recover recall with far shallower
  * rescore.
  */
object PqOps extends QueryModule {

  private val NSub = 8
  private val SubDim = 8
  private val K = 16
  private val NQueries = 8
  private val Rescore = 100
  private val TopK = 5

  /** IVF-PQ tier knobs: cells come from [[Ivf.refinedCentroids]] (K=8,
    * so nprobe=2 probes a quarter of the corpus); the rescore depth is
    * scaled to the probed fraction.
    */
  private val IvfNProbe = 2
  private val IvfRescore = 50

  /** Per-(vector, subspace) slices — double slice for distance work,
    * integer-scaled slice for exact Lloyd means. One substrate shared by
    * training, encoding, and the query-table build.
    */
  private def subVectors(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrate(s, d, "pq-subvecs") {
      val (e, _) = Ivf.scaledEmbeddings(s, d)
      e.select(col("vec_id"), col("dvec"), col("sv"))
        .withColumn("sub", explode(expr(s"sequence(0, ${NSub - 1})")))
        .select(
          col("vec_id"),
          col("sub"),
          expr(s"slice(dvec, sub * $SubDim + 1, $SubDim)").as("svec"),
          expr(s"slice(sv, sub * $SubDim + 1, $SubDim)").as("ssv"),
        )
    }

  /** Squared-L2 between a row slice and a centroid slice — the native
    * codegen kernel ([[graft.functions.DoubleSqDist]]), which runs the
    * SAME sequential left fold both engines state (bit-identical
    * doubles), but inside whole-stage codegen instead of two
    * interpreted HOF lambdas per (row, centroid) — this projection
    * sits under the corpus × NSub × K training join, the hottest loop
    * in the PQ path.
    */
  private val DistExpr = "graft_double_sqdist(svec, cvec)"

  /** Nearest-centroid assignment per (vector, subspace): (vec_id, sub, cid). */
  private def assign(sv: DataFrame, cb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(sv.sparkSession)
    sv.join(broadcast(cb), Seq("sub"))
      .withColumn("dist", expr(DistExpr))
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy("vec_id", "sub").orderBy(col("dist"), col("cid"))),
      )
      .filter(col("rk") === 1)
      .select("vec_id", "sub", "cid")
  }

  /** Exact integer-scaled centroid means per (subspace, cell) — the
    * [[Ivf]] lloydStep keyed by one more column.
    */
  private def means(sv: DataFrame, asg: DataFrame): DataFrame =
    asg
      .join(sv.select("vec_id", "sub", "ssv"), Seq("vec_id", "sub"))
      .select(col("sub"), col("cid"), posexplode(col("ssv")).as(Seq("pos", "v")))
      .groupBy("sub", "cid", "pos")
      .agg(sum("v").as("sv2"), count(lit(1)).as("m"))
      .withColumn("c", col("sv2").cast("double") / (col("m") * lit(1000000.0)))
      .groupBy("sub", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cvec"))

  /** The trained codebook — NSub×K tiny centroids (stride seeds, two
    * exact Lloyd refinements), materialized once per (session, dataset).
    */
  private[graft] def codebook(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrate(s, d, "pq-codebook") {
      val (_, n) = Ivf.scaledEmbeddings(s, d)
      val sv = subVectors(s, d)
      val stride = math.max(n / K, 1L)
      val seeds = sv
        .filter(col("vec_id") % stride === 0)
        .withColumn("rn", row_number().over(Window.partitionBy("sub").orderBy("vec_id")))
        .filter(col("rn") <= K)
        .select(col("sub"), (col("rn") - 1).as("cid"), col("svec").as("cvec"))
      means(sv, assign(sv, means(sv, assign(sv, seeds))))
    }

  /** The encoded corpus — (vec_id, carr[NSub]) with carr[j] = code of
    * subspace j. At 100 TB this is the table you persist; it is ~1/30
    * the bytes of the float corpus.
    */
  private[graft] def codes(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrate(s, d, "pq-codes") {
      assign(subVectors(s, d), codebook(s, d))
        .groupBy("vec_id")
        .agg(expr("transform(array_sort(collect_list(struct(sub, cid))), x -> x.cid)").as("carr"))
    }

  /** Per-query flattened NSub×K BIGINT ADC table (qid, fp[NSub·K]) —
    * fp[sub·K + cid + 1] = floor(1e6·⟨q_sub, c_{sub,cid}⟩ + 0.5). Tiny
    * (queries × 128 longs); broadcast by every consumer.
    */
  private def queryAdcTable(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrate(s, d, "pq-qtable")(queryAdcTableBuild(s, d))

  private def queryAdcTableBuild(s: SparkSession, d: String): DataFrame = {
    val (e, _) = Ivf.scaledEmbeddings(s, d)
    e.filter(col("vec_id") < NQueries)
      .withColumn("sub", explode(expr(s"sequence(0, ${NSub - 1})")))
      .select(
        col("vec_id").as("qid"),
        col("sub"),
        expr(s"slice(dvec, sub * $SubDim + 1, $SubDim)").as("qvec"),
      )
      .join(broadcast(codebook(s, d)), Seq("sub"))
      .withColumn(
        "p",
        expr(
          "CAST(floor(aggregate(zip_with(qvec, cvec, (x, y) -> x * y), 0D, (a, v) -> a + v)" +
            " * 1000000.0D + 0.5D) AS BIGINT)"),
      )
      .groupBy("qid")
      .agg(
        expr(s"transform(array_sort(collect_list(struct(sub * $K + cid AS k, p))), x -> x.p)")
          .as("fp"))
  }

  /** The exact NSub-lookup ADC score over a broadcast `fp` column. */
  private val AdcExpr =
    s"aggregate(zip_with(sequence(0, ${NSub - 1}), carr, (j, c) -> element_at(fp, j * $K + c + 1))," +
      " CAST(0 AS BIGINT), (a, v) -> a + v)"

  /** Coarse-rank by exact ADC score, then exact-rescore — the tail
    * shared by both tiers.
    */
  private def adcSearch(
      s: SparkSession,
      d: String,
      candidates: DataFrame, // (qid, fp, vec_id, carr)
      rescore: Int,
  ): DataFrame = {
    val (e, _) = Ivf.scaledEmbeddings(s, d)
    val q = e.filter(col("vec_id") < NQueries)
    // the crank cut leaves ≤ queries × rescore survivors — broadcast them
    // (and the tiny query-vector table) so the full-precision corpus is
    // probed in place and never shuffles for the rescore
    val survivors = candidates
      .withColumn("adc", expr(AdcExpr))
      .withColumn(
        "crank",
        row_number().over(Window.partitionBy("qid").orderBy(col("adc").desc, col("vec_id"))),
      )
      .filter(col("crank") <= rescore)
      .join(broadcast(q.select(col("vec_id").as("qid"), col("dvec").as("qfull"))), Seq("qid"))
    broadcast(survivors)
      .join(e.select(col("vec_id"), col("dvec").as("cfull")), Seq("vec_id"))
      .withColumn("sim", Disp.roundz(expr("cosine_similarity(qfull, cfull)"), 6))
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))),
      )
      .filter(col("rank") <= TopK)
      .select(
        col("qid"),
        col("rank").cast("long").as("rank"),
        col("vec_id").as("cand_id"),
        col("adc"),
        col("sim"),
      )
      .orderBy("qid", "rank")
  }

  /** Flat ADC search (`pq_topk`): broadcast the per-query tables against
    * the whole code table, keep the per-query top-`Rescore` (partial
    * top-k before the exchange via WindowGroupLimit), exact-rescore with
    * the native cosine kernel, emit top-`TopK`.
    */
  /** Flat ADC candidate frame — shared by `pq_topk` and `pq_recall` so
    * the measured searcher IS the declared one.
    */
  private def flatPqCandidates(s: SparkSession, d: String): DataFrame =
    broadcast(queryAdcTable(s, d))
      .join(codes(s, d), col("vec_id") =!= col("qid"))

  private val pqTopk = DeclaredQuery(
    "pq_topk",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      adcSearch(s, d, flatPqCandidates(s, d), Rescore)
    },
    Some(pqOracle),
  )

  /** PQ recall@[[TopK]] vs the exact brute-force ranking — completes the
    * recall harness across every ANN tier (`ann_recall` covers LSH,
    * `ivf_recall` the IVF probe): the number the PQ design knobs (NSub ×
    * K codebook size, `Rescore` depth) are tuned against. Both arms
    * share their ranking code with the declared queries (the
    * [[flatPqCandidates]]+[[adcSearch]] pipeline and the shared
    * rescore CTE chain in the oracle), so the measurement cannot drift
    * from the searcher. The exact arm brute-forces only the
    * [[NQueries]] sampled query rows — queries × corpus work, the
    * `ivf_recall` pattern; at 100 TB recall is always measured on a
    * query sample while the searcher serves the full corpus.
    */
  private val pqRecall = DeclaredQuery(
    "pq_recall",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val (e, _) = Ivf.scaledEmbeddings(s, d)
      val q = e
        .filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("dvec").as("qvec"))
      val exact = broadcast(q)
        .join(e.select(col("vec_id"), col("dvec").as("cand_vec")), col("vec_id") =!= col("qid"))
        .withColumn("sim", Disp.roundz(expr("cosine_similarity(qvec, cand_vec)"), 6))
        .withColumn(
          "rank",
          row_number().over(Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))),
        )
        .filter(col("rank") <= TopK)
        .select(col("qid"), col("vec_id").as("cand_id"))
      // queries × TopK rows by construction — a constant-bounded hint,
      // and it pins the fusion join's shape across sessions (statistics
      // for the substrate-backed arm vary with cache warmth, which
      // otherwise flips SMJ↔BHJ under the plan drift guard)
      val approx = broadcast(
        adcSearch(s, d, flatPqCandidates(s, d), Rescore)
          .select(col("qid"), col("cand_id"), lit(1L).as("hit")))
      exact
        .join(approx, Seq("qid", "cand_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall", Disp.roundz(col("n_hit").cast("double") / col("k"), 4))
        .orderBy("qid")
    },
    Some(s"""WITH $EDuck,
             ${pqCtes("")},
             q AS (SELECT vec_id AS qid, dvec, nrm FROM e WHERE vec_id < $NQueries),
             ${queryTableCtes("")},
             cand AS (SELECT f.qid, x.vec_id, ${adcDuck("f", "x")} AS adc
                      FROM fp f CROSS JOIN carr x WHERE x.vec_id <> f.qid),
             ${rescoreCtesDuck(Rescore)},
             ir AS (SELECT qid, vec_id, 1 AS hit FROM r WHERE rank <= $TopK),
             xp AS (SELECT q.qid, c.vec_id AS cid,
                           (round(list_inner_product(q.dvec, c.dvec) / (q.nrm * c.nrm), 6) + 0.0) AS sim
                    FROM q JOIN e c ON c.vec_id <> q.qid),
             xr AS (SELECT qid, cid,
                           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
                    FROM xp),
             x AS (SELECT qid, cid FROM xr WHERE rank <= $TopK)
             SELECT x.qid,
                    CAST(count(*) AS BIGINT) AS k,
                    CAST(coalesce(sum(ir.hit), 0) AS BIGINT) AS n_hit,
                    round(CAST(coalesce(sum(ir.hit), 0) AS BIGINT)::DOUBLE / count(*), 4) AS recall
             FROM x LEFT JOIN ir ON x.qid = ir.qid AND x.cid = ir.vec_id
             GROUP BY x.qid ORDER BY x.qid"""),
  )

  /** Durable IVF-PQ cell layout — one directory per IVF cell
    * (`partitionBy(cid)`), each vector carrying its 8 PQ codes beside
    * the full-precision copy. Written once per (session, dataset) as a
    * [[graft.SubstrateCache]] layout; the in-repo stand-in for the
    * persisted FAISS-style IVF-PQ index.
    */
  private[operators] def pqCellLayout(s: SparkSession, d: String): String =
    graft.SubstrateCache.layout(s, d, "graft-ivf-pq") { dir =>
      val (e, _) = Ivf.scaledEmbeddings(s, d)
      Ivf
        .cellAssignment(s, d)
        .join(codes(s, d), Seq("vec_id"))
        .join(e.select("vec_id", "dvec"), Seq("vec_id"))
        .select(col("cid"), col("vec_id"), col("dvec"), col("carr"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cid")
        .parquet(dir)
      dir
    }

  /** IVF-PQ search (`ivf_pq_topk`): rank IVF cells by centroid cosine,
    * prune the durable layout scan to the nprobe probed cells (literal
    * isin → planning-time `PartitionFilters`), ADC-score only those
    * cells' codes, exact-rescore the per-query top-`IvfRescore`. Each
    * tier shrinks touched bytes: cells prune the corpus to nprobe/K,
    * codes shrink the scan 32×, floats are read for the rescore rows
    * only.
    */
  private val ivfPqTopk = DeclaredQuery(
    "ivf_pq_topk",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val (e, _) = Ivf.scaledEmbeddings(s, d)
      val refined = Ivf.refinedCentroids(s, d)
      val q = e
        .filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("dvec").as("qvec"))
      val cells = q
        .crossJoin(broadcast(refined))
        .withColumn("csim", expr("cosine_similarity(qvec, cvec)"))
        .withColumn(
          "rk",
          row_number().over(Window.partitionBy("qid").orderBy(col("csim").desc, col("cid"))),
        )
        .filter(col("rk") <= IvfNProbe)
        .select("qid", "cid")
      // ≤ queries·nprobe rows — scales with the cell count, not the corpus.
      // Collected ONCE and reused two ways: the distinct cids become the
      // literal isin that prunes the layout scan at planning time, and the
      // (qid, cid) pairs re-enter the plan as a LocalRelation so the
      // centroid-ranking subtree isn't recomputed inside the main job.
      val probedRows = cells.collect()
      val probedCells = probedRows.map(_.getAs[Int]("cid")).distinct
      val cellsLit =
        s.createDataFrame(java.util.Arrays.asList(probedRows: _*), cells.schema)
      val scan = s.read
        .parquet(pqCellLayout(s, d))
        .filter(col("cid").isin(probedCells.map(Integer.valueOf).toSeq: _*))
      val cands = broadcast(cellsLit.join(broadcast(queryAdcTable(s, d)), Seq("qid")))
        .join(scan, Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .select("qid", "fp", "vec_id", "carr")
      adcSearch(s, d, cands, IvfRescore)
    },
    Some(ivfPqOracle),
  )

  // ------------------------------------------------------------------
  // Oracle builders — the DuckDB statements of the identical folds. All
  // CTE names take a prefix so the PQ chain can coexist with the IVF
  // Lloyd CTEs ([[Ivf.LloydOracleCte]]) in one statement.
  // ------------------------------------------------------------------

  private def l2Duck(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(generate_series(1, $SubDim), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))),
       |  (acc, x) -> acc + x)""".stripMargin

  private def assignDuck(p: String, cb: String): String =
    s"""(SELECT vec_id, sub, cid FROM (
       |   SELECT v.vec_id, v.sub, c.cid,
       |          row_number() OVER (PARTITION BY v.vec_id, v.sub
       |            ORDER BY ${l2Duck("v.svec", "c.cvec")}, c.cid) AS rk
       |   FROM ${p}sv0 v JOIN $cb c USING (sub)) WHERE rk = 1)""".stripMargin

  private def meansDuck(p: String, asg: String): String =
    s"""(SELECT sub, cid, list(CAST(sv2 AS DOUBLE) / (m * 1000000.0) ORDER BY pos) AS cvec
       | FROM (SELECT a.sub, a.cid, u.pos, sum(u.v) AS sv2, count(*) AS m
       |       FROM $asg a JOIN (SELECT vec_id, sub, unnest(ssv) AS v,
       |                                generate_subscripts(ssv, 1) AS pos FROM ${p}sv0) u
       |         USING (vec_id, sub)
       |       GROUP BY 1, 2, 3) GROUP BY 1, 2)""".stripMargin

  /** The trained-quantizer CTE chain over a prior `e(vec_id, dvec, sv,
    * nrm)`: emits `${p}cb` (codebook) and `${p}carr` (encoded corpus).
    */
  private def pqCtes(p: String): String =
    s"""${p}subs AS (SELECT unnest(range(0, $NSub)) AS sub),
       |${p}sv0 AS (SELECT vec_id, sub,
       |               list_slice(dvec, sub * $SubDim + 1, sub * $SubDim + $SubDim) AS svec,
       |               list_slice(sv,   sub * $SubDim + 1, sub * $SubDim + $SubDim) AS ssv
       |        FROM e CROSS JOIN ${p}subs),
       |${p}st AS (SELECT greatest(count(*) // $K, 1) AS stride FROM e),
       |${p}seeds AS (SELECT sub, rn - 1 AS cid, svec AS cvec FROM (
       |            SELECT sub, svec, row_number() OVER (PARTITION BY sub ORDER BY vec_id) AS rn
       |            FROM ${p}sv0, ${p}st WHERE vec_id % stride = 0) WHERE rn <= $K),
       |${p}a0 AS ${assignDuck(p, s"${p}seeds")},
       |${p}cb0 AS ${meansDuck(p, s"${p}a0")},
       |${p}a1 AS ${assignDuck(p, s"${p}cb0")},
       |${p}cb AS ${meansDuck(p, s"${p}a1")},
       |${p}cds AS ${assignDuck(p, s"${p}cb")},
       |${p}carr AS (SELECT vec_id, list(cid ORDER BY sub) AS carr FROM ${p}cds GROUP BY 1)""".stripMargin

  /** Per-query ADC table CTEs over `${p}cb` and a prior `q(qid, dvec,
    * nrm)`: emits `${p}fp(qid, fp)`.
    */
  private def queryTableCtes(p: String): String =
    s"""${p}qs AS (SELECT qid, sub, list_slice(dvec, sub * $SubDim + 1, sub * $SubDim + $SubDim) AS qvec
       |       FROM q CROSS JOIN ${p}subs),
       |${p}qp AS (SELECT qid, sub, cid,
       |              CAST(floor(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |                     list_transform(generate_series(1, $SubDim), i -> qvec[i] * cvec[i])),
       |                     (a, x) -> a + x) * 1000000.0 + 0.5) AS BIGINT) AS p
       |       FROM ${p}qs JOIN ${p}cb USING (sub)),
       |${p}fp AS (SELECT qid, list(p ORDER BY sub, cid) AS fp FROM ${p}qp GROUP BY 1)""".stripMargin

  /** ADC lookup-sum over `$fpRef.fp` and `$carrRef.carr`. */
  private def adcDuck(fpRef: String, carrRef: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(0, $NSub), j -> $fpRef.fp[j * $K + $carrRef.carr[j + 1] + 1])),
       |  (a, v) -> a + v)""".stripMargin

  private def EDuck: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
      |           list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS sv,
      |           sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |    FROM embeddings)""".stripMargin

  /** Rescore CTE chain over `cand(qid, vec_id, adc)`, ending in
    * `r(qid, vec_id, adc, sim, rank)` — shared by the search oracles'
    * final top-k SELECT and the `pq_recall` hit-set CTE, so the fold
    * text cannot drift between the searcher and its measurement.
    */
  private def rescoreCtesDuck(rescore: Int): String =
    s"""cr AS (SELECT qid, vec_id, adc,
       |              row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS crank FROM cand),
       |rs AS (SELECT c.qid, c.vec_id, c.adc,
       |              (round(list_inner_product(q.dvec, e2.dvec) / (q.nrm * e2.nrm), 6) + 0.0) AS sim
       |       FROM cr c JOIN q ON q.qid = c.qid JOIN e e2 ON e2.vec_id = c.vec_id
       |       WHERE crank <= $rescore),
       |r AS (SELECT qid, vec_id, adc, sim,
       |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM rs)""".stripMargin

  /** Shared rescore tail over `cand(qid, vec_id, adc)`. */
  private def rescoreDuck(rescore: Int): String =
    s"""${rescoreCtesDuck(rescore)}
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id AS cand_id, adc, sim
       |FROM r WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin

  private def pqOracle: String =
    s"""WITH $EDuck,
       |${pqCtes("")},
       |q AS (SELECT vec_id AS qid, dvec, nrm FROM e WHERE vec_id < $NQueries),
       |${queryTableCtes("")},
       |cand AS (SELECT f.qid, x.vec_id, ${adcDuck("f", "x")} AS adc
       |        FROM fp f CROSS JOIN carr x WHERE x.vec_id <> f.qid),
       |${rescoreDuck(Rescore)}""".stripMargin

  private def ivfPqOracle: String =
    s"""WITH $EDuck,
       |${Ivf.LloydOracleCte},
       |${pqCtes("p")},
       |q AS (SELECT vec_id AS qid, dvec, nrm FROM e WHERE vec_id < $NQueries),
       |${queryTableCtes("p")},
       |qc AS (SELECT q.qid, c.cid,
       |              row_number() OVER (PARTITION BY q.qid
       |                ORDER BY list_inner_product(q.dvec, c.cvec) / (q.nrm * c.cnrm) DESC, c.cid) AS rk
       |       FROM q CROSS JOIN cn c),
       |probe AS (SELECT qid, cid FROM qc WHERE rk <= $IvfNProbe),
       |cand AS (SELECT pr.qid, a.vec_id, ${adcDuck("f", "x")} AS adc
       |         FROM probe pr JOIN asg1 a USING (cid)
       |              JOIN pfp f ON f.qid = pr.qid
       |              JOIN pcarr x ON x.vec_id = a.vec_id
       |         WHERE a.vec_id <> pr.qid),
       |${rescoreDuck(IvfRescore)}""".stripMargin

  /** Per-subspace quantization distortion — the codebook-health number
    * (mean squared reconstruction error per subspace, plus codeword
    * occupancy) the NSub×K budget is tuned against: a subspace whose
    * distortion dominates needs more codewords (or a rotation), a
    * subspace using few of its K cells wastes code bits. `pq_recall`
    * measures the END effect on search; this localizes WHICH subspace
    * is losing the information — the two numbers together are the
    * PQ tuning loop.
    *
    * Rides the declared encode chain verbatim (the shared subvector,
    * codebook and assignment substrates — the measured quantizer IS the
    * shipped one; the oracle reuses the same `cds` assignment CTE that
    * produces the encoded corpus). Per-row squared error through the
    * same codegen'd sequential fold as training, ×10⁶-floored to BIGINT
    * at the row so the per-subspace sums are exact and order-invariant;
    * output is exactly NSub rows at any corpus size. One corpus-sized
    * (vec_id, sub)-keyed join against the codes + a broadcast codebook
    * join — vectors themselves never shuffle.
    */
  private val pqDistortion = DeclaredQuery(
    "pq_distortion",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val asg = assign(subVectors(s, d), codebook(s, d))
      asg
        .join(subVectors(s, d).select("vec_id", "sub", "svec"), Seq("vec_id", "sub"))
        .join(broadcast(codebook(s, d)), Seq("sub", "cid"))
        .withColumn("d_e6", expr(s"CAST(floor($DistExpr * 1000000.0 + 0.5) AS BIGINT)"))
        .groupBy("sub")
        .agg(
          count(lit(1)).as("n_vecs"),
          countDistinct(col("cid")).as("cells_used"),
          sum(col("d_e6")).as("sse_e6"),
        )
        .withColumn("mean_e6", expr("sse_e6 DIV n_vecs"))
        .select(
          col("sub").cast("long").as("sub"),
          col("n_vecs"),
          col("cells_used"),
          col("sse_e6"),
          col("mean_e6"),
        )
        .orderBy("sub")
    },
    Some(s"""WITH $EDuck,
             ${pqCtes("")},
             dd AS (SELECT a.sub, a.cid,
                           CAST(floor(${l2Duck("v.svec", "c.cvec")} * 1000000.0 + 0.5) AS BIGINT)
                             AS d_e6
                    FROM cds a
                    JOIN sv0 v USING (vec_id, sub)
                    JOIN cb c ON c.sub = a.sub AND c.cid = a.cid)
             SELECT CAST(sub AS BIGINT) AS sub,
                    CAST(count(*) AS BIGINT) AS n_vecs,
                    CAST(count(DISTINCT cid) AS BIGINT) AS cells_used,
                    CAST(sum(d_e6) AS BIGINT) AS sse_e6,
                    CAST(sum(d_e6) // count(*) AS BIGINT) AS mean_e6
             FROM dd GROUP BY 1 ORDER BY 1"""),
  )

  override def queries: Seq[DeclaredQuery] = Seq(pqTopk, ivfPqTopk, pqRecall, pqDistortion)
}
