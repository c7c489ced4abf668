package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Similarity search over the `embeddings` table (north-star ANN surface).
  *
  * Two tiers:
  *  - `cosine_topk` — exact brute-force top-k for a small query set:
  *    broadcast the queries, stream the candidate side, compute the
  *    similarity with the native codegen'd CosineSimilarity expression
  *    (graft.functions — custom Expression, not a UDF), rank per query
  *    with a window. At 100 TB the candidate scan parallelizes per
  *    partition and only k rows per query survive the window.
  *  - `cosine_lsh_ann` — random-hyperplane LSH: each vector reduces
  *    map-side to a 16-bit sign code; the code hamming distance (≤ 3)
  *    prunes candidates before any exact dot product is computed. This is
  *    the scale path: at 1000 executors the cheap 16-bit compare replaces
  *    ~all of the O(n·q·dim) float work of brute force.
  *
  * Determinism: dot products are sequential left folds over doubles in
  * both engines (Spark `aggregate` ≡ DuckDB `list_inner_product` /
  * `list_reduce`), so similarity values agree bit-for-bit; output sims
  * are additionally rounded to 6 dp and ties broken on vec_id.
  * Hyperplane j,k components come from the shared integer formula
  * ((j·73856093 + k·19349663) mod 10007)/10007 − 0.5 — no RNG state.
  */
object SimilarityOps extends QueryModule {

  private val NQueries = 8
  private val Dim = 64

  /** Register the native codegen'd cosine expression (idempotent), then
    * build `cosine_similarity(qv, cv)` — bit-identical to the HOF fold
    * but a tight generated loop (see graft.functions.CosineSimilarity).
    */
  private def simExpr(s: SparkSession): org.apache.spark.sql.Column = {
    graft.functions.GraftFunctions.register(s)
    expr("cosine_similarity(qv, cv)")
  }

  /** The top-`k` rows per `q` of `pairs` (which carry qv and cv) by exact
    * cosine, ties broken on `c`: (q, rank, c, extra…, sim), unordered.
    */
  private def topByCosine(
      s: SparkSession,
      pairs: DataFrame,
      q: String,
      c: String,
      k: Int,
      extra: String*,
  ): DataFrame =
    pairs
      .withColumn("sim", Disp.roundz(simExpr(s), 6))
      .withColumn(
        "rank",
        row_number().over(org.apache.spark.sql.expressions.Window.partitionBy(q).orderBy(col("sim").desc, col(c))),
      )
      .filter(col("rank") <= k)
      .select(Seq(col(q), col("rank").cast("long").as("rank"), col(c)) ++ extra.map(col) :+ col("sim"): _*)

  /** One row per 4-bit band of the 16-bit sign code in column `code`,
    * (…, band, bv): two codes within hamming ≤ 3 agree on ≥ 1 band.
    */
  private def bandRows(df: DataFrame, code: String): DataFrame =
    df.select(
      col("*"),
      posexplode(
        array((0 until 4).map(b => expr(s"shiftright($code, ${4 * b}) & 15")): _*),
      ).as(Seq("band", "bv")),
    )

  /** The exact brute-force ranking (qid, rank, cid, sim), rank ≤ 10,
    * unordered — shared by the declared `cosine_topk` and the
    * `ann_recall` ground-truth arm, so the exact baseline cannot drift.
    */
  private def exactRanked(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val e = embeddings(s, d)
      .withColumn("dvec", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("dvec").as("qv"))
    val c = e.select(col("vec_id").as("cid"), col("dvec").as("cv"))
    topByCosine(s, broadcast(q).join(c, col("qid") =!= col("cid")), "qid", "cid", 10)
  }

  private val cosineTopk = DeclaredQuery(
    "cosine_topk",
    (s, d) => exactRanked(s, d).orderBy("qid", "rank"),
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                          (round(list_inner_product(q.dvec, c.dvec) / (q.nrm * c.nrm), 6) + 0.0) AS sim
                   FROM e q JOIN e c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
             r AS (SELECT qid, cid, sim,
                          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
                   FROM p)
             SELECT qid, CAST(rank AS BIGINT) AS rank, cid, sim
             FROM r WHERE rank <= 10 ORDER BY qid, rank"""),
  )

  /** Shared hyperplane component formula; j = plane index, k = dimension. */
  private def planeDuck(j: String, k: String): String =
    s"((CAST($j AS BIGINT) * 73856093 + CAST($k AS BIGINT) * 19349663) % 10007) / 10007.0 - 0.5"

  private val codeDuck =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(0, 15), j ->
       |  CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(0, ${Dim - 1}),
       |              k -> dvec[k + 1] * (${planeDuck("j", "k")}))), (s2, x) -> s2 + x) >= 0
       |       THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END)), (x, y) -> x + y)""".stripMargin

  /** The banded-LSH approximate ranking (qid, rank, cid, code_hd, sim),
    * rank ≤ 5, unordered — shared by the declared `cosine_lsh_ann` and
    * the `ann_recall` approximate arm, so the measured system cannot
    * drift from the measurement.
    */
  private def lshRanked(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val e = knnCoded(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("dvec").as("qv"), col("code").as("qc"))
    // Banded candidate generation (the bucketed code space named in
    // SCALE.md): split the 16-bit code into 4 four-bit bands — a pair
    // within hamming ≤ 3 MUST agree exactly on ≥ 1 band (pigeonhole:
    // 3 bit errors cannot touch all 4 bands), so an equi-join on
    // (band, value) finds every qualifying pair without ever comparing
    // a query against the full corpus. The exact hamming filter then
    // discards band-collision false positives, so the result set is
    // IDENTICAL to the all-pairs formulation the oracle states. The
    // band shuffle carries (id, code, 2 small ints) — never vectors.
    val qBands = bandRows(q.select(col("qid"), col("qc")), "qc")
    val cBands = bandRows(e.select(col("vec_id").as("cid"), col("code").as("cc")), "cc")
    val cand = broadcast(qBands)
      .join(cBands, Seq("band", "bv"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("code_hd", expr("CAST(bit_count(qc ^ cc) AS BIGINT)"))
      .filter(col("code_hd") <= 3)
      .select("qid", "cid", "code_hd")
      .dropDuplicates("qid", "cid")
    // only confirmed candidates pay the float work: vectors join back
    // AFTER banding + hamming, queries broadcast, corpus side served
    // from the same substrate
    val pairs = cand
      .join(broadcast(q.select(col("qid"), col("qv"))), Seq("qid"))
      .join(e.select(col("vec_id").as("cid"), col("dvec").as("cv")), Seq("cid"))
    topByCosine(s, pairs, "qid", "cid", 5, "code_hd")
  }

  private val cosineLshAnn = DeclaredQuery(
    "cosine_lsh_ann",
    (s, d) => lshRanked(s, d).orderBy("qid", "rank"),
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             ec AS (SELECT vec_id, dvec, nrm, $codeDuck AS code FROM e),
             p AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                          CAST(bit_count(xor(q.code, c.code)) AS BIGINT) AS code_hd,
                          (round(list_inner_product(q.dvec, c.dvec) / (q.nrm * c.nrm), 6) + 0.0) AS sim
                   FROM ec q JOIN ec c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id
                   WHERE bit_count(xor(q.code, c.code)) <= 3),
             r AS (SELECT qid, cid, code_hd, sim,
                          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
                   FROM p)
             SELECT qid, CAST(rank AS BIGINT) AS rank, cid, code_hd, sim
             FROM r WHERE rank <= 5 ORDER BY qid, rank"""),
  )

  /** Embedding-space near-dup pairs: exact all-pairs cosine at a
    * threshold. Exact (no LSH prefilter) because at this threshold the
    * angular distance is too wide for short sign codes to prune without
    * recall loss.
    *
    * Fully distributed block pair-join (block-matmul shape): each vector
    * lands in block `vec_id mod B` and is replicated to the B block-pair
    * groups it participates in; each of the B(B+1)/2 groups computes its
    * pair space locally inside `flatMapGroups`. Nothing is collected to
    * the driver and no full-matrix broadcast exists — shuffle volume is
    * n·B vectors (not n² pairs), and per-group memory is 2n/B vectors.
    * B is sized from the data, not hardcoded: enough blocks that a
    * group's ≤ 2·(n/B) vectors fit the per-task row budget
    * (`spark.graft.neardup.rowsPerTask`, default 4096), and never so few
    * that the B(B+1)/2 groups can't occupy the cluster. The quadratic
    * total work is inherent to exact all-pairs, but it is spread evenly
    * over B(B+1)/2 independent tasks with no driver bottleneck.
    * Accumulation stays a sequential index-order fold and rounding is
    * the same HALF_UP Spark's round() uses, so results are bit-identical
    * to the expression formulation and the oracle.
    */
  private def nearDupBlocks(s: SparkSession, n: Long): Int = {
    val budget = s.conf.get("spark.graft.neardup.rowsPerTask", "4096").toLong
    val forMemory = math.ceil(n.toDouble / budget.toDouble).toInt
    val p = s.sparkContext.defaultParallelism
    // smallest B with B(B+1)/2 >= defaultParallelism
    val forParallelism = math.ceil((math.sqrt(8.0 * p + 1) - 1) / 2).toInt
    math.max(1, math.max(forMemory, forParallelism))
  }

  /** The exact all-pairs cosine-threshold pair space (va < vb, sim ≥
    * `tau`) as the distributed block pair-join described on
    * `cosine_near_dup` — factored so the near-dup relation and density
    * consumers (`dbscan_clusters`) share ONE arithmetic: the same
    * sequential index-order fold, the same HALF_UP rounding, the same
    * block sizing. The threshold only filters emitted pairs; the block
    * work is identical at any tau.
    */
  private[graft] def blockPairSims(
      s: SparkSession,
      d: String,
      tau: Double,
  ): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      val b = nearDupBlocks(
        s,
        graft.SubstrateCache.value(s, d, "embeddings-n")(embeddings(s, d).count()),
      )
      val replicated = embeddings(s, d)
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("dvec"))
        .withColumn("blk", pmod(col("vec_id"), lit(b.toLong)).cast("int"))
        .withColumn("other", explode(sequence(lit(0), lit(b - 1))))
        .select(
          least(col("blk"), col("other")).as("ba"),
          greatest(col("blk"), col("other")).as("bb"),
          col("blk"),
          col("vec_id"),
          col("dvec"),
        )
        .as[(Int, Int, Int, Long, Array[Double])]
      replicated
        .groupByKey { case (ba, bb, _, _, _) => (ba, bb) }
        .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Int, Long, Array[Double])]) =>
          // dot's k-order fold and the norm product are operand-symmetric at
          // the bit level, so pair orientation never changes the value
          def simOf(va: Array[Double], na: Double, vb: Array[Double], nb: Double): Double = {
            var dot = 0.0; var k = 0
            val len = math.min(va.length, vb.length)
            while (k < len) { dot += va(k) * vb(k); k += 1 }
            java.math.BigDecimal
              .valueOf(dot / (na * nb))
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .doubleValue()
          }
          def normOf(v: Array[Double]): Double = {
            var acc = 0.0; var i = 0
            while (i < v.length) { acc += v(i) * v(i); i += 1 }
            math.sqrt(acc)
          }
          val all = it.toArray.sortBy(_._4) // ascending vec_id → pair (i<j) is id-ordered
          if (key._1 == key._2) {
            // within-block pairs of the diagonal group
            val norms = all.map { case (_, _, _, _, v) => normOf(v) }
            (0 until all.length).iterator.flatMap { i =>
              val (_, _, _, ia, va) = all(i)
              (i + 1 until all.length).iterator.flatMap { j =>
                val (_, _, _, ib, vb) = all(j)
                val sim = simOf(va, norms(i), vb, norms(j))
                if (sim >= tau) Some((ia, ib, sim)) else None
              }
            }
          } else {
            // cross pairs only — a pair of two distinct blocks belongs to
            // exactly this (ba,bb) group; its same-block pairs belong to the
            // diagonal groups, so a split A×B loop visits each pair once
            val as = all.filter(_._3 == key._1)
            val bs = all.filter(_._3 == key._2)
            val normsA = as.map { case (_, _, _, _, v) => normOf(v) }
            val normsB = bs.map { case (_, _, _, _, v) => normOf(v) }
            (0 until as.length).iterator.flatMap { i =>
              val (_, _, _, ia, va) = as(i)
              (0 until bs.length).iterator.flatMap { j =>
                val (_, _, _, ib, vb) = bs(j)
                val sim = simOf(va, normsA(i), vb, normsB(j))
                if (sim >= tau) Some((math.min(ia, ib), math.max(ia, ib), sim))
                else None
              }
            }
          }
        }
        .toDF("va", "vb", "sim")
  }

  private val cosineNearDup = DeclaredQuery(
    "cosine_near_dup",
    (s, d) => blockPairSims(s, d, 0.4).orderBy("va", "vb"),
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                              sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                       FROM embeddings),
            p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                         (round(list_inner_product(a.dvec, b.dvec) / (a.nrm * b.nrm), 6) + 0.0) AS sim
                  FROM e a JOIN e b ON a.vec_id < b.vec_id)
            SELECT va, vb, sim FROM p WHERE sim >= 0.4 ORDER BY va, vb"""),
  )

  /** SemDeDup-style semantic deduplication: cluster embeddings (the IVF
    * cell assignment — k-means by another name), then WITHIN each
    * cluster drop every vector that has cosine ≥ τ with a lower-id
    * vector of the same cluster; the min-id member of each near-dup
    * chain survives as the representative. This is the published
    * cluster-then-prune recipe: clustering bounds the pair space to
    * Σ n_c² instead of n², which is what makes semantic dedup feasible
    * at corpus scale — the within-cluster join IS the algorithm's cost
    * model.
    *
    * At 100 TB the cluster count is tens of thousands (cells ≪ corpus,
    * pair work per cell bounded); here k=8 from the shared IVF
    * substrate, so the 8-key equi-join is skewed by construction — AQE
    * skew-split handles it, and the scaladoc'd production knob is
    * simply more cells. Similarities are the native codegen cosine,
    * rounded to 6 dp BEFORE the threshold compare in both engines
    * (the cosine_near_dup convention).
    */
  private val SemTau = 0.4

  /** The SemDeDup core over ANY cell assignment: within each cell, drop
    * every vector with cosine ≥ τ to a lower-id cell-mate; survivors are
    * (vec_id, cid). The assignment is a parameter because the cell count
    * IS the production knob — the declared query feeds it the shared
    * k=8 substrate, SemanticDedupSpec feeds it k=32 and proves the drop
    * decisions agree on every τ-chain that stays inside one cell in both
    * clusterings (the invariance that makes "more cells" a cost knob,
    * not a semantics change, wherever chains are cell-pure).
    */
  private[graft] def semanticSurvivors(
      s: SparkSession,
      d: String,
      k: Int,
      tau: Double = SemTau,
  ): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val (e, _) = Ivf.scaledEmbeddings(s, d)
    val asg = Ivf.cellAssignment(s, d, k)
    val withVec = asg.join(e.select(col("vec_id"), col("dvec")), Seq("vec_id"))
    val a = withVec.select(col("cid"), col("vec_id").as("u"), col("dvec").as("du"))
    val b = withVec.select(col("cid"), col("vec_id").as("v"), col("dvec").as("dv"))
    val dropped = a
      .join(b, Seq("cid"))
      .filter(col("u") < col("v"))
      .filter(Disp.roundz(expr("cosine_similarity(du, dv)"), 6) >= tau)
      .select(col("v"))
      .distinct()
    asg
      .join(dropped, asg("vec_id") === dropped("v"), "left_anti")
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
  }

  private val semanticDedup = DeclaredQuery(
    "semantic_dedup",
    (s, d) => semanticSurvivors(s, d, Ivf.DefaultK).orderBy("vec_id"),
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS sv,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             ${Ivf.LloydOracleCte},
             pr AS (SELECT a.vec_id AS u, b.vec_id AS v
                    FROM asg1 a JOIN asg1 b USING (cid)
                         JOIN e ea ON ea.vec_id = a.vec_id
                         JOIN e eb ON eb.vec_id = b.vec_id
                    WHERE a.vec_id < b.vec_id
                      AND round(list_inner_product(ea.dvec, eb.dvec) / (ea.nrm * eb.nrm), 6) >= $SemTau),
             dropped AS (SELECT DISTINCT v FROM pr)
             SELECT a.vec_id, a.cid
             FROM asg1 a LEFT JOIN dropped dr ON a.vec_id = dr.v
             WHERE dr.v IS NULL ORDER BY a.vec_id"""),
  )

  /** Derived cell count for the scale-safe SemDeDup form: constant
    * EXPECTED cell size (~[[SemCellSize]] vectors), so the within-cell
    * pair work Σ n_c² stays ≈ n·cellsize — linear in the corpus — as
    * data grows. This is the form the KnobBench sem32/sem128 evidence
    * picked (fixed k=8 measured 3.08×/doubling at sf2; k=32/128 read
    * 2.08×/1.61× and 7× faster): k ∝ n, not k ∝ √n, because √n cells
    * still lets cell size — and with it per-cell pair cost — grow
    * without bound. Floor of 8 keeps tiny fixtures on the shared
    * substrate's K.
    */
  private[graft] val SemCellSize = 32L
  private[graft] def derivedCellCount(n: Long): Int =
    math.max(8L, n / SemCellSize).toInt

  /** `semantic_dedup` in its production shape: the SAME cluster-then-
    * prune semantics, but the cell count is DERIVED from the corpus
    * (k = max(8, n/32)) instead of pinned to the fixture's 8 — the
    * declared, oracle-checked form of the scale knob the fixed-k
    * instance documents. At 100 TB this is the only deployable form:
    * fixed k makes cells corpus-sized and the within-cell join
    * quadratic; derived k holds cell size (and thus per-vector pair
    * work) constant. The oracle re-derives the identical k and the
    * identical exact-integer Lloyd chain at that k
    * ([[Ivf.lloydOracleCteDerived]]), so the whole derived pipeline —
    * seed stride, two refinements, assignment, prune — is hash-checked,
    * not just the fixed-k special case.
    */
  private val semanticDedupScaled = DeclaredQuery(
    "semantic_dedup_scaled",
    (s, d) => {
      val (_, n) = Ivf.scaledEmbeddings(s, d)
      semanticSurvivors(s, d, derivedCellCount(n)).orderBy("vec_id")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS sv,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             ${Ivf.lloydOracleCteDerived(s"greatest(8, count(*) // $SemCellSize)")},
             pr AS (SELECT a.vec_id AS u, b.vec_id AS v
                    FROM asg1 a JOIN asg1 b USING (cid)
                         JOIN e ea ON ea.vec_id = a.vec_id
                         JOIN e eb ON eb.vec_id = b.vec_id
                    WHERE a.vec_id < b.vec_id
                      AND round(list_inner_product(ea.dvec, eb.dvec) / (ea.nrm * eb.nrm), 6) >= $SemTau),
             dropped AS (SELECT DISTINCT v FROM pr)
             SELECT a.vec_id, a.cid
             FROM asg1 a LEFT JOIN dropped dr ON a.vec_id = dr.v
             WHERE dr.v IS NULL ORDER BY a.vec_id"""),
  )

  /** Per-source loss of the SCALED semantic dedup — `dedup_loss_by_source`'s
    * provenance read on the embedding tier: which sources lose how much
    * of their corpus to cell-bounded cosine dedup (a source whose
    * embeddings collapse hard is template/boilerplate even when its
    * n-gram surface varies — the cross-tier comparison with the lexical
    * loss table is the point). Rides the SAME survivor frame as
    * `semantic_dedup_scaled` (doc_id ≡ vec_id, the corpus equivalence
    * the retrieval family established); one join + one agg past it.
    */
  private val semanticLossBySource = DeclaredQuery(
    "semantic_loss_by_source",
    (s, d) => {
      val (_, n) = Ivf.scaledEmbeddings(s, d)
      val kept = semanticSurvivors(s, d, derivedCellCount(n))
        .select(col("vec_id").as("doc_id"), lit(1L).as("kept"))
      documents(s, d)
        .select("doc_id", "source")
        .join(kept, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(coalesce(col("kept"), lit(0L))).as("n_kept"))
        .withColumn("dropped", expr("n_docs - n_kept"))
        .withColumn("loss_e3", expr("(n_docs - n_kept) * 1000 DIV n_docs"))
        .select("source", "n_docs", "n_kept", "dropped", "loss_e3")
        .orderBy("source")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS sv,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             ${Ivf.lloydOracleCteDerived(s"greatest(8, count(*) // $SemCellSize)")},
             pr AS (SELECT a.vec_id AS u, b.vec_id AS v
                    FROM asg1 a JOIN asg1 b USING (cid)
                         JOIN e ea ON ea.vec_id = a.vec_id
                         JOIN e eb ON eb.vec_id = b.vec_id
                    WHERE a.vec_id < b.vec_id
                      AND round(list_inner_product(ea.dvec, eb.dvec) / (ea.nrm * eb.nrm), 6) >= $SemTau),
             dropped AS (SELECT DISTINCT v FROM pr),
             kept AS (SELECT a.vec_id AS doc_id
                      FROM asg1 a LEFT JOIN dropped dr ON a.vec_id = dr.v
                      WHERE dr.v IS NULL)
             SELECT doc.source, count(*) AS n_docs,
                    CAST(sum(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
                    CAST(count(*) - sum(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS dropped,
                    CAST(((count(*) - sum(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END)) * 1000)
                         // count(*) AS BIGINT) AS loss_e3
             FROM documents doc LEFT JOIN kept k ON doc.doc_id = k.doc_id
             GROUP BY 1 ORDER BY 1"""),
  )

  /** The kNN edge set in its PRODUCTION shape (the round-16 sf4 finding
    * closed with the round-14 twin pattern): top-3 exact-cosine
    * neighbors WITHIN derived-k IVF cells (k = max(8, n/32), the
    * `semantic_dedup_scaled` derivation) instead of hd≤3 banding over a
    * fixed 16-bit code. The fixed-width banded form is measured
    * quadratic on clustered embeddings (band-bucket census in SCALE.md:
    * candidate emissions ×4.0 per corpus doubling — the hottest bucket
    * holds a constant ~19% of the corpus), so past ~sf2 its pair stream
    * outgrows any single substrate pass; cell-bounding holds the
    * per-vector pair work at ~[[SemCellSize]] — Σ n_c² ≈ n·32, linear —
    * which is exactly the scaladoc'd 100 TB path of the banded
    * substrate, now declared and oracle-checked (the oracle re-derives
    * the identical k and Lloyd chain, then states the within-cell
    * all-pairs ranking).
    */
  private[graft] def knnEdgesScaled(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrate(s, d, "knn-edges-scaled") {
      graft.functions.GraftFunctions.register(s)
      val (e, n) = Ivf.scaledEmbeddings(s, d)
      val asg = Ivf.cellAssignment(s, d, derivedCellCount(n))
      val withVec = asg.join(e.select(col("vec_id"), col("dvec")), Seq("vec_id"))
      val a = withVec.select(col("cid"), col("vec_id").as("src"), col("dvec").as("qv"))
      val b = withVec.select(col("cid"), col("vec_id").as("nbr"), col("dvec").as("cv"))
      a.join(b, Seq("cid")) // within-cell pairs: Σ n_c² ≈ n·cellsize
        .filter(col("src") =!= col("nbr"))
        .withColumn("sim", Disp.roundz(expr("cosine_similarity(qv, cv)"), 6))
        .withColumn(
          "rank",
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("src")
              .orderBy(col("sim").desc, col("nbr")),
          ),
        )
        .filter(col("rank") <= 3)
        .select(col("src"), col("rank").cast("long").as("rank"), col("nbr"), col("sim"))
    }

  /** The derived-k Lloyd + within-cell ranked pair CTEs ending in `r`
    * (filter rank <= 3 when consuming) — shared by both scaled kNN
    * oracles so the graph definition cannot drift between them.
    */
  private lazy val knnScaledDuckCtes =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
       |             list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS sv,
       |             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |      FROM embeddings),
       |${Ivf.lloydOracleCteDerived(s"greatest(8, count(*) // $SemCellSize)")},
       |pr AS MATERIALIZED (SELECT a.vec_id AS src, b.vec_id AS nbr,
       |              (round(list_inner_product(ea.dvec, eb.dvec) / (ea.nrm * eb.nrm), 6) + 0.0) AS sim
       |       FROM asg1 a JOIN asg1 b USING (cid)
       |            JOIN e ea ON ea.vec_id = a.vec_id
       |            JOIN e eb ON eb.vec_id = b.vec_id
       |       WHERE a.vec_id <> b.vec_id),
       |r AS MATERIALIZED (SELECT src, nbr, sim,
       |             CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS BIGINT) AS rank
       |      FROM pr)""".stripMargin

  private val knnGraphScaled = DeclaredQuery(
    "knn_graph_scaled",
    (s, d) => knnEdgesScaled(s, d).orderBy("src", "rank"),
    Some(s"""WITH $knnScaledDuckCtes
             SELECT src, rank, nbr, sim FROM r WHERE rank <= 3 ORDER BY src, rank"""),
  )

  /** The mutual-pair audit (`knn_reciprocity`'s statistic) over the
    * scale-safe graph — per rank, how many edges are reciprocated. The
    * tail is the identical left-join + conditional count; only the edge
    * substrate differs, so the two declared forms measure the SAME
    * health metric on the fixture graph and the production graph.
    */
  private val knnReciprocityScaled = DeclaredQuery(
    "knn_reciprocity_scaled",
    (s, d) => {
      val e = knnEdgesScaled(s, d).select("src", "rank", "nbr")
      val rev = e.select(col("nbr").as("src"), col("src").as("nbr"), lit(1L).as("has_rev"))
      e.join(rev, Seq("src", "nbr"), "left")
        .groupBy("rank")
        .agg(
          count(lit(1)).as("n_edges"),
          sum(when(col("has_rev").isNotNull, 1L).otherwise(0L)).as("n_mutual"),
        )
        .withColumn("mutual_e3", expr("n_mutual * 1000 DIV n_edges"))
        .orderBy("rank")
    },
    Some(s"""WITH $knnScaledDuckCtes,
             ke AS (SELECT src, rank, nbr FROM r WHERE rank <= 3),
             rv AS (SELECT nbr AS src, src AS nbr FROM ke),
             m AS (SELECT ke.rank,
                          CAST(count(*) AS BIGINT) AS n_edges,
                          CAST(sum(CASE WHEN rv.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual
                   FROM ke LEFT JOIN rv ON ke.src = rv.src AND ke.nbr = rv.nbr
                   GROUP BY 1)
             SELECT rank, n_edges, n_mutual, (n_mutual * 1000) // n_edges AS mutual_e3
             FROM m ORDER BY rank"""),
  )

  /** Recall@5 of the banded-LSH arm against the exact brute-force arm —
    * the standard ANN quality metric (recall@k on a query set is how
    * every published ANN system is evaluated). Both arms are the SHARED
    * ranking helpers behind `cosine_topk` and `cosine_lsh_ann`, so the
    * measurement cannot drift from the measured systems; the metric
    * itself is a k-row-per-query left join + count — exact integers,
    * recall = n_hit/5 rounded 4.
    *
    * At 100 TB recall is measured exactly this way on a SAMPLED query
    * set (the exact arm is the expensive one — brute force over the
    * corpus per query — which is why production samples queries, not
    * candidates); the LSH arm is the system under test and runs at its
    * normal banded cost.
    */
  private val annRecall = DeclaredQuery(
    "ann_recall",
    (s, d) => {
      val ex = exactRanked(s, d).filter(col("rank") <= 5).select("qid", "cid")
      val ap = lshRanked(s, d).select(col("qid"), col("cid"), lit(1L).as("hit"))
      ex.join(ap, Seq("qid", "cid"), "left")
        .groupBy("qid")
        .agg(
          count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        )
        .withColumn("recall", Disp.roundz(col("n_hit").cast("double") / col("k"), 4))
        .orderBy("qid")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             xp AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                           (round(list_inner_product(q.dvec, c.dvec) / (q.nrm * c.nrm), 6) + 0.0) AS sim
                    FROM e q JOIN e c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id),
             xr AS (SELECT qid, cid,
                           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
                    FROM xp),
             x AS (SELECT qid, cid FROM xr WHERE rank <= 5),
             ec AS (SELECT vec_id, dvec, nrm, $codeDuck AS code FROM e),
             ap AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                           (round(list_inner_product(q.dvec, c.dvec) / (q.nrm * c.nrm), 6) + 0.0) AS sim
                    FROM ec q JOIN ec c ON q.vec_id < $NQueries AND q.vec_id <> c.vec_id
                    WHERE bit_count(xor(q.code, c.code)) <= 3),
             ar AS (SELECT qid, cid,
                           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
                    FROM ap),
             a AS (SELECT qid, cid, 1 AS hit FROM ar WHERE rank <= 5)
             SELECT x.qid,
                    CAST(count(*) AS BIGINT) AS k,
                    CAST(coalesce(sum(a.hit), 0) AS BIGINT) AS n_hit,
                    round(CAST(coalesce(sum(a.hit), 0) AS BIGINT)::DOUBLE / count(*), 4) AS recall
             FROM x LEFT JOIN a ON x.qid = a.qid AND x.cid = a.cid
             GROUP BY x.qid ORDER BY x.qid"""),
  )

  /** Embedding-space outlier screen — the semantic curation op
    * (CLIP-score-style filtering, mislabel detection, encoder-glitch
    * quarantine): flag vectors whose cosine to their OWN label centroid
    * falls below τ. The centroid is the `centroid_agg` artifact — exact
    * ×10⁶-integer sums per (label, dim), so the distributed mean is
    * order-invariant and the derived centroid array is bit-identical in
    * both engines — and the per-vector similarity is the same
    * fold-vs-list_inner_product pair every cosine query rides, rounded
    * to 6 dp BEFORE the τ compare so the flag can never straddle a ulp.
    *
    * Plan shape at 100 TB: one posexplode agg to labels × dims rows
    * (map-side combined — the exchange is model-sized), centroids
    * re-assembled by one labels-cardinality groupBy, then an un-hinted
    * label join back to the vectors (AQE broadcasts the label-count
    * table) and a scan-local similarity + flag — the embedding column
    * crosses the wire zero times; output is label-cardinality counts.
    */
  private val OutlierTau = 0.0
  private val embeddingOutliers = DeclaredQuery(
    "embedding_outliers",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = embeddings(s, d)
        .select(
          col("vec_id"),
          col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("dvec"),
        )
      val cent = e
        .select(
          col("label"),
          posexplode(
            expr("transform(dvec, v -> CAST(round(v * 1000000, 0) AS BIGINT))"),
          ).as(Seq("pos", "sv")),
        )
        .groupBy("label", "pos")
        .agg(sum("sv").as("s"), count(lit(1)).as("n"))
        .groupBy("label")
        .agg(
          expr("transform(array_sort(collect_list(struct(pos, CAST(s AS DOUBLE) / (n * 1000000.0) AS c))), x -> x.c)")
            .as("cvec"),
        )
      e.join(cent, Seq("label")) // un-hinted: label-cardinality, AQE broadcasts
        .withColumn("sim", Disp.roundz(expr("cosine_similarity(dvec, cvec)"), 6))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(when(col("sim") < OutlierTau, 1L).otherwise(0L)).as("n_outliers"),
          min(col("sim")).as("min_sim"),
        )
        .withColumn(
          "out_ppm",
          expr("CAST(floor(CAST(n_outliers AS DOUBLE) * 1000000.0 / n_vecs + 0.5) AS BIGINT)"),
        )
        .orderBy("label")
    },
    Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS dvec FROM embeddings),
             x AS (SELECT label, unnest(dvec) AS v, generate_subscripts(dvec, 1) AS pos FROM e),
             cs AS (SELECT label, pos,
                           CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS BIGINT) AS s,
                           count(*) AS n
                    FROM x GROUP BY 1, 2),
             cent AS (SELECT label, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos) AS cvec
                      FROM cs GROUP BY 1),
             sims AS (SELECT e.label,
                             round(list_inner_product(e.dvec, c.cvec) /
                                   (sqrt(list_inner_product(e.dvec, e.dvec)) *
                                    sqrt(list_inner_product(c.cvec, c.cvec))), 6) AS sim
                      FROM e JOIN cent c ON e.label = c.label),
             a AS (SELECT label, count(*) AS n_vecs,
                          CAST(sum(CASE WHEN sim < $OutlierTau THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                          min(sim) AS min_sim
                   FROM sims GROUP BY 1)
             SELECT label, n_vecs, n_outliers, min_sim,
                    CAST(floor(CAST(n_outliers AS DOUBLE) * 1000000.0 / n_vecs + 0.5) AS BIGINT) AS out_ppm
             FROM a ORDER BY label"""),
  )

  /** Distributed covariance of the embedding space — the aggregation
    * half of PCA/whitening (the dimensionality-reduction step published
    * SemDeDup/DSIR-style curation pipelines run before clustering).
    * Emits the upper triangle (i ≤ j) of the D×D second-moment tables
    * plus the derived covariance.
    *
    * Plan — the canonical 100 TB moment-aggregation shape: ONE typed
    * Aggregator pass (graft.functions.CovMomentsAggregator) folds every
    * vector into a mutable (D + D²/2 + 1)-long buffer in place — no
    * self-join, no per-product rows, no vector ever crosses the wire —
    * and the exchange carries one ~17 KB buffer per partition,
    * corpus-independent. The 1-row moment result collects into
    * LocalRelations for the decode join (the ivf collected-probe
    * precedent), so the corpus is scanned exactly once. The eigensolve
    * over the 64×64 result is driver-trivial and deliberately out of
    * scope. Elements are ×10⁴-quantized to exact BIGINT moments
    * (|q|≤~10⁵ ⇒ products ≤10¹⁰; Σ over 10⁹ rows needs the DECIMAL(38)
    * tier — implemented knob, see below); the covariance double derives
    * from the exact moments in one shape-pinned expression.
    */
  /** The moment pipeline behind `embedding_covariance`'s two BRACKET
    * tiers (the declared query now rides [[covarianceMomentsExact]] —
    * the round-15 sliced pass). `wide = false` accumulates moments as
    * BIGINT — exact while
    * N·(10⁵)² < 2⁶³, i.e. to ~9×10⁸ vectors. `wide = true` swaps ONLY
    * the three accumulator types to DECIMAL(38,0) — headroom to ~10²⁸
    * products, i.e. any realistic corpus — and leaves every other part
    * of the plan (map-side product explode, partial+final hash agg,
    * bounded decode broadcasts) byte-identical; the `cov` derivation
    * reads the moments through the same double cast either way.
    * Round11OpsSpec proves (a) value parity with the BIGINT path on
    * testdata and (b) that the BIGINT path dies on Long-overflow-scale
    * inputs (ANSI throw — pre-ANSI Spark wrapped silently, worse) where
    * the DECIMAL(38) path stays exact — the reason the knob exists.
    */
  private[graft] def covarianceMoments(
      s: SparkSession,
      d: String,
      wide: Boolean,
  ): DataFrame = {
      import s.implicits._
      val q = embeddings(s, d)
        .withColumn(
          "qv",
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))"),
        )
      // Two accumulator tiers, identical results in range
      // (Round11OpsSpec cross-checks them row-for-row):
      //  - BIGINT (declared): ONE typed-Aggregator pass — each vector
      //    updates a mutable (D + D²/2 + 1)-long buffer in place, so no
      //    per-product iterator rows exist at all (the explode
      //    formulation materialized 2080 rows/vector before partial agg
      //    collapsed them — row overhead, not arithmetic, was its bench
      //    cost: 1.5 s → ~0.3 s at sf0.1). The exchange carries one
      //    ~17 KB buffer per partition; the 1-row result collects into
      //    LocalRelations (the ivf collected-probe precedent) so the
      //    corpus is scanned exactly once.
      //  - DECIMAL(38) (wide): the declarative explode + decimal-sum
      //    pipeline — slower, but immune to Long overflow past ~9×10⁸
      //    vectors; under ANSI the Long tier fails loudly there.
      val (first, prods) =
        if (!wide) {
          val mom = udaf(new graft.functions.CovMomentsAggregator(Dim))
          val r = q.agg(mom(col("qv")).as("m")).collect()(0).getStruct(0)
          val n = r.getLong(2)
          // Empty corpus: the grouped formulations (oracle, explode
          // tier) produce 0 groups, but a global Aggregator always
          // returns its zero — without this guard the LocalRelations
          // would fabricate 64+2080 rows with n=0 (cov = 0/0 = NaN), a
          // cross-engine divergence on the empty edge.
          val firstLocal =
            if (n == 0L) Seq.empty[(Int, Long, Long)].toDF("k", "n", "s")
            else
              r.getSeq[Long](0).zipWithIndex
                .map { case (sv, k) => (k, n, sv) }
                .toDF("k", "n", "s")
          val prodsLocal =
            if (n == 0L) Seq.empty[(Int, Long)].toDF("pos", "sij")
            else
              r.getSeq[Long](1).zipWithIndex
                .map { case (p, pos) => (pos, p) }
                .toDF("pos", "sij")
          (firstLocal, prodsLocal)
        } else {
          def acc(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,0)"))
          // First moments ride their own D-cardinality pass (D rows of
          // work per vector), NOT the D²/2 product explode: Σqᵢ per
          // (i,j) cell is just Σqᵢ per i, so carrying qi/qj through the
          // big explode would double its payload to recompute a table
          // 64 rows long.
          val f = q
            .select(posexplode(col("qv")).as(Seq("k", "qk")))
            .groupBy("k")
            .agg(count(lit(1)).as("n"), acc(col("qk")).as("s"))
          // The quadratic path carries ONLY (pos, product) — a
          // primitive int + decimal per cell; the flat array enumerates
          // the upper triangle row-major, so the cell identity is
          // arithmetic, recovered AFTER the 2080-row agg.
          val p = q
            .select(
              posexplode(
                expr(
                  s"""flatten(transform(sequence(0, ${Dim - 1}), i ->
                     |  transform(sequence(i, ${Dim - 1}), j -> qv[i] * qv[j])))""".stripMargin,
                ),
              ).as(Seq("pos", "p")),
            )
            .groupBy("pos")
            .agg(acc(col("p")).as("sij"))
          (f, p)
        }
      covDecodeTail(s, first, prods)
  }

  /** The moment→covariance decode shared by every accumulator tier:
    * pos → (i, j) is generated arithmetically (no collect), a D²/2-row
    * bounded broadcast like the first-moment table — both are
    * model-sized (dimension-derived), never corpus-sized. `first` is
    * (k, n, s), `prods` is (pos, sij); the numeric types may be BIGINT
    * or DECIMAL(38,0) — the cov expression reads both through the same
    * double cast.
    */
  private def covDecodeTail(s: SparkSession, first: DataFrame, prods: DataFrame): DataFrame = {
    val decode = s
      .range(Dim.toLong)
      .toDF("i0")
      .select(
        col("i0").cast("int").as("i"),
        explode(expr(s"sequence(CAST(i0 AS INT), ${Dim - 1})")).as("j"),
      )
      .withColumn("pos", expr(s"i * $Dim - (i * (i - 1)) DIV 2 + (j - i)"))
    prods
      .join(broadcast(decode), Seq("pos"))
      .join(broadcast(first.select(col("k").as("i"), col("n"), col("s").as("si"))), Seq("i"))
      .join(broadcast(first.select(col("k").as("j"), col("s").as("sj"))), Seq("j"))
      .withColumn(
        "cov",
        Disp.roundz(
          (col("sij").cast("double") / col("n")
            - (col("si").cast("double") / col("n")) * (col("sj").cast("double") / col("n")))
            / 1e8,
          6,
        ),
      )
      // si/sj/sij DECLARE as BIGINT whichever tier fed them ("BIGINT
      // means out", round-15 finding): the DECIMAL merge stays internal
      // to the exact cov arithmetic; ANSI fails the cast loudly past 2⁶³.
      .select(
        col("i"),
        col("j"),
        col("n"),
        col("si").cast("long").as("si"),
        col("sj").cast("long").as("sj"),
        col("sij").cast("long").as("sij"),
        col("cov"),
      )
      .orderBy("i", "j")
  }

  /** The DECLARED tier since the round-15 census: slice-bounded Long
    * partials merged in DECIMAL(38,0) ([[ExactMoments]]) — the fast
    * Aggregator fold with NO overflow bound (the single-group Long tier
    * dies at ~9×10⁸ vectors; a 100 TB embedding corpus is ~4×10¹¹).
    * Moment outputs are DECIMAL(38,0) (exact to 10³⁸); the BIGINT and
    * explode-wide tiers remain for the Round11OpsSpec parity brackets.
    */
  private[graft] def covarianceMomentsExact(s: SparkSession, d: String): DataFrame = {
    val q = embeddings(s, d)
      .withColumn(
        "qv",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))"),
      )
    val (sm, pr, n) = ExactMoments.exact(q, "qv", Dim)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val firstSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType, false),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("s", dec, true),
    ))
    val prodSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.IntegerType, false),
      org.apache.spark.sql.types.StructField("sij", dec, true),
    ))
    import scala.jdk.CollectionConverters._
    def bd(x: BigInt) = new java.math.BigDecimal(x.bigInteger)
    // Empty corpus: 0 groups in every tier (the Aggregator-zero guard
    // from the BIGINT branch, restated for the sliced pass)
    val firstRows =
      if (n == 0L) Seq.empty[org.apache.spark.sql.Row]
      else sm.zipWithIndex.map { case (v, k) => org.apache.spark.sql.Row(k, n, bd(v)) }
    val prodRows =
      if (n == 0L) Seq.empty[org.apache.spark.sql.Row]
      else pr.zipWithIndex.map { case (p, pos) => org.apache.spark.sql.Row(pos, bd(p)) }
    covDecodeTail(
      s,
      s.createDataFrame(firstRows.asJava, firstSchema),
      s.createDataFrame(prodRows.asJava, prodSchema),
    )
  }

  private val embeddingCovariance = DeclaredQuery(
    "embedding_covariance",
    (s, d) => covarianceMomentsExact(s, d),
    Some(s"""WITH q AS (SELECT list_transform(embedding::DOUBLE[],
                                x -> CAST(floor(x * 10000.0 + 0.5) AS BIGINT)) AS qv
                        FROM embeddings),
             p AS (SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
                          qv[i + 1] AS qi, qv[j + 1] AS qj
                   FROM q, generate_series(0, ${Dim - 1}) g1(i), generate_series(0, ${Dim - 1}) g2(j)
                   WHERE j >= i)
             SELECT i, j, count(*) AS n,
                    CAST(sum(qi) AS BIGINT) AS si, CAST(sum(qj) AS BIGINT) AS sj,
                    CAST(sum(CAST(qi AS HUGEINT) * qj) AS BIGINT) AS sij,
                    ${Disp.roundzSql(
      """(CAST(sum(qi * qj) AS DOUBLE) / count(*)
                           - (CAST(sum(qi) AS DOUBLE) / count(*)) * (CAST(sum(qj) AS DOUBLE) / count(*)))
                          / 1e8""",
      6,
    )} AS cov
             FROM p GROUP BY 1, 2 ORDER BY 1, 2"""),
  )

  /** Hard-negative mining for contrastive training — for each anchor,
    * the top-k most-similar vectors carrying a DIFFERENT label: the
    * near-miss negatives that make embedding models sharp (the batch
    * analog of in-batch hard negatives; published retrieval pipelines
    * mine them exactly this way, ANN search + label filter).
    *
    * Plan: identical shape to `cosine_topk` (anchor set is a bounded
    * broadcast — NQueries rows by construction), with the label
    * disagreement folded into the join condition so mismatched pairs
    * never materialize. Per-anchor top-k is a rank-truncated window over
    * anchor-partitioned similarity. At 100 TB the exact scan becomes the
    * IVF/LSH candidate join (`ivf_ann`, `cosine_lsh_ann` — same
    * substrates) with this label-filter + window unchanged on top.
    */
  private val hardNegatives = DeclaredQuery(
    "hard_negatives",
    (s, d) => {
      val e = embeddings(s, d)
        .withColumn("dvec", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("dvec").as("qv"), col("label").as("qlabel"))
      val c = e.select(col("vec_id").as("cid"), col("dvec").as("cv"), col("label").as("neg_label"))
      topByCosine(s, broadcast(q).join(c, col("qlabel") =!= col("neg_label")), "qid", "cid", 5, "neg_label")
        .orderBy("qid", "rank")
    },
    Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS dvec,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             p AS (SELECT q.vec_id AS qid, c.vec_id AS cid, c.label AS neg_label,
                          (round(list_inner_product(q.dvec, c.dvec) / (q.nrm * c.nrm), 6) + 0.0) AS sim
                   FROM e q JOIN e c ON q.vec_id < $NQueries AND q.label <> c.label),
             r AS (SELECT qid, cid, neg_label, sim,
                          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank
                   FROM p)
             SELECT qid, CAST(rank AS BIGINT) AS rank, cid, neg_label, sim
             FROM r WHERE rank <= 5 ORDER BY qid, rank"""),
  )

  /** k-NN graph construction — every vector's top-3 neighbors within
    * code-hamming ≤ 3, the graph substrate semantic clustering
    * (SemDeDup's cluster step), graph-ANN indexes, and
    * label-propagation all start from. Unlike `cosine_lsh_ann` (a
    * bounded anchor set riding a broadcast), BOTH sides here are the
    * corpus, so nothing is hinted: candidates come from a SHUFFLE
    * equi-join of the banded code table with itself.
    *
    * The banding is exhaustive for this radius (pigeonhole: 3 bit
    * errors cannot touch all 4 bands), so the graph equals the all-pairs
    * hd ≤ 3 formulation the oracle states — candidate generation never
    * compares a vector to the full corpus. Per-band-bucket fan-in is
    * n/2⁴ on sign codes (hyperplane signs are balanced by construction,
    * no df-cap needed); a genuinely hot bucket would be the
    * `salted_join` composition on (band, bv). Float work happens only
    * AFTER banding + hamming: the two vector joins are corpus-keyed
    * equi-joins served from the shared lsh-codes substrate, and the
    * per-source top-3 is a rank-truncated window. At 100 TB the same
    * plan runs per IVF cell (`semantic_dedup`'s layout) to bound the
    * band buckets; the window key is the source id — uniform, no skew.
    */
  /** The ranked k-NN edge set (src, rank, nbr, code_hd, sim) — substrate-
    * cached: the declared `knn_graph` and the `knn_components` clustering
    * both consume it, so the banded candidate join runs once per session.
    */
  /** The sign-coded corpus (vec_id, embedding, dvec, code) behind the
    * whole LSH family (`lshRanked`, the kNN graph, the asymmetric
    * incremental path), materialized once per (session, dataset).
    */
  private[graft] def knnCoded(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val e0 = embeddings(s, d)
      .withColumn("dvec", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    // Sign codes as 16 codegen'd sum aggregates over the exploded dims
    // (one partial-agg pass; an exploded vector never crosses a partition
    // boundary, so each sum accumulates in ascending-k order and agrees
    // bit-for-bit with the oracle's sequential fold).
    val dims = e0.select(col("vec_id"), posexplode(col("dvec")).as(Seq("k", "v")))
    val sumCols = (0 until 16).map { j =>
      val plane = ((lit(j.toLong * 73856093L) + col("k").cast("long") * 19349663L) % 10007L)
        .cast("double") / 10007.0 - 0.5
      sum(col("v") * plane).as(s"s$j")
    }
    val codes = dims
      .groupBy("vec_id")
      .agg(sumCols.head, sumCols.tail: _*)
      .select(
        col("vec_id"),
        (0 until 16)
          .map(j => when(col(s"s$j") >= 0d, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _)
          .as("code"),
      )
    graft.SubstrateCache.substrate(s, d, "lsh-codes")(e0.join(codes, "vec_id"))
  }

  private def knnEdges(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.SubstrateCache.substrate(s, d, "knn-edges") {
      val e = knnCoded(s, d)
      val srcB = bandRows(e.select(col("vec_id").as("src"), col("code").as("sc")), "sc")
      val nbrB = bandRows(e.select(col("vec_id").as("nbr"), col("code").as("nc")), "nc")
      val cand = srcB
        .join(nbrB, Seq("band", "bv")) // un-hinted: both sides corpus-cardinality
        .filter(col("src") =!= col("nbr"))
        // CANONICAL-BAND emission (round-16): a pair agreeing in m bands
        // used to surface m times and get squeezed through a
        // candidate-cardinality dropDuplicates SHUFFLE — the dominant
        // exchange of the whole substrate (candidates are the pair-dense
        // stream; everything after hd≤3 is graph-sized). Keeping only
        // the emission from the pair's MINIMAL agreeing band is a
        // scan-local filter on columns already in hand, emits each pair
        // EXACTLY once (band pruning: the join guarantees the current
        // band agrees, so the CASE always selects an agreeing band ≤
        // it), and deletes the shuffle outright. Result set unchanged.
        .filter(expr("""band = (CASE WHEN (sc & 15) = (nc & 15) THEN 0
                       |             WHEN (shiftright(sc, 4) & 15) = (shiftright(nc, 4) & 15) THEN 1
                       |             WHEN (shiftright(sc, 8) & 15) = (shiftright(nc, 8) & 15) THEN 2
                       |             ELSE 3 END)""".stripMargin))
        .withColumn("code_hd", expr("CAST(bit_count(sc ^ nc) AS BIGINT)"))
        .filter(col("code_hd") <= 3)
        .select("src", "nbr", "code_hd")
      val pairs = cand
        .join(e.select(col("vec_id").as("src"), col("dvec").as("qv")), Seq("src"))
        .join(e.select(col("vec_id").as("nbr"), col("dvec").as("cv")), Seq("nbr"))
      topByCosine(s, pairs, "src", "nbr", 3, "code_hd")
    }

  /** The knn edge derivation as DuckDB CTEs ending in `r` (filter
    * rank <= 3 when consuming). Shared by `knn_graph` and
    * `knn_components` so the clustered graph is exactly the declared one.
    */
  private lazy val knnEdgesDuckCtes =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
       |             sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |      FROM embeddings),
       |ec AS (SELECT vec_id, dvec, nrm, $codeDuck AS code FROM e),
       |p AS (SELECT q.vec_id AS src, c.vec_id AS nbr,
       |             CAST(bit_count(xor(q.code, c.code)) AS BIGINT) AS code_hd,
       |             (round(list_inner_product(q.dvec, c.dvec) / (q.nrm * c.nrm), 6) + 0.0) AS sim
       |      FROM ec q JOIN ec c ON q.vec_id <> c.vec_id
       |      WHERE bit_count(xor(q.code, c.code)) <= 3),
       |r AS (SELECT src, nbr, code_hd, sim,
       |             row_number() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS rank
       |      FROM p)""".stripMargin

  private val knnGraph = DeclaredQuery(
    "knn_graph",
    (s, d) => knnEdges(s, d).orderBy("src", "rank"),
    Some(s"""WITH $knnEdgesDuckCtes
             SELECT src, CAST(rank AS BIGINT) AS rank, nbr, code_hd, sim
             FROM r WHERE rank <= 3 ORDER BY src, rank"""),
  )

  /** Semantic clustering — connected components over the k-NN graph:
    * the SemDeDup cluster step as a first-class operator, composing two
    * existing substrates (the knn edge set and the large-star/small-star
    * contraction `dedup_clusters` proved). A cluster is a group of
    * vectors chained through top-3 hd ≤ 3 neighbors; the min-id label is
    * the canonical cluster key downstream keep-one / per-cluster-sample
    * policies act on (`cluster_keeper`'s policy applies unchanged).
    *
    * Scale: edges are 3n rows (k-bounded — the reason kNN graphs, not
    * ε-graphs, are the clustering substrate at 10⁹ vectors); the
    * contraction is the O(log n)-round star algorithm with
    * localCheckpoint'ed rounds; the oracle restates the fixpoint as a
    * recursive reachability CTE, declarative vs iterative hash-matched.
    */
  /** The kNN connected-component labels (vec_id, cluster_id) — a
    * substrate like the text-side cc-labels: the contraction fixpoint
    * runs once per (session, dataset) and every consumer (the declared
    * `knn_components`, the purity audit, every bench rep) reads the
    * persisted result.
    */
  private def knnCcLabels(s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.SubstrateCache
      .substrate(s, d, "knn-cc-labels") {
        val pairs = knnEdges(s, d).select(col("src").as("da"), col("nbr").as("db"))
        val nodes = embeddings(s, d).select(col("vec_id").as("node"))
        DedupOps.starContract(nodes, pairs, DedupOps.maxCcRounds(s))._1
      }
      .select(col("node").as("vec_id"), col("lbl").as("cluster_id"))

  /** Oracle tail for the CC label table over a prior chain ending in `r`
    * — the `min(lbl) AS cluster_id FROM reach GROUP BY node` shape
    * tools/compare.py's pattern-1 union-find fallback rewrites past the
    * reach budget. Shared by `knn_components` and its `_scaled` twin.
    */
  private lazy val componentsTailSql =
    """ke AS (SELECT src, nbr FROM r WHERE rank <= 3),
             edges AS (SELECT src, nbr FROM ke UNION ALL SELECT nbr, src FROM ke),
             reach AS (SELECT vec_id AS node, vec_id AS lbl FROM embeddings
                       UNION
                       SELECT e.nbr AS node, rc.lbl
                       FROM reach rc JOIN edges e ON rc.node = e.src),
             lbl AS (SELECT node AS vec_id, min(lbl) AS cluster_id
                     FROM reach GROUP BY node)
             SELECT vec_id, cluster_id FROM lbl ORDER BY vec_id"""

  private val knnComponents = DeclaredQuery(
    "knn_components",
    (s, d) => knnCcLabels(s, d).orderBy("vec_id"),
    Some(s"""WITH RECURSIVE $knnEdgesDuckCtes,
             $componentsTailSql"""),
  )

  /** Embedding drift monitor — the encoder-regression check every
    * continuously-retrained pipeline runs: per label, the cosine between
    * the centroid of slice A and slice B (event-id parity stands in for
    * the before/after ingest slices). A label whose shift_cos drops is a
    * class the new encoder moved — retraining/backfill triggers read
    * exactly this table.
    *
    * Determinism at scale: per-(label, slice, dim) sums are exact
    * ×10⁴-quantized BIGINTs (order-invariant under any partitioning;
    * Long-safe to ~10¹⁴ vectors per label-half); their PRODUCTS
    * accumulate in the DECIMAL(38) wide tier — Σsa·sb reaches n²·10⁸,
    * which crosses 2⁶³ at ~4×10⁴ vectors per label-half (the round-15
    * magnitude census). The centroid cosine is computed from RAW SUMS —
    * the 1/n factors cancel in cosine, so no division happens before
    * the final shape-pinned double. One posexplode + one (label, slice, dim)-keyed
    * map-side-combined agg (labels × 2 × D rows), a dim-keyed self-join
    * of that MODEL-SIZED table, a label-grain agg. Vectors never
    * shuffle.
    */
  private val centroidShift = DeclaredQuery(
    "centroid_shift",
    (s, d) => {
      val dims = embeddings(s, d)
        .withColumn(
          "qv",
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))"),
        )
        .withColumn("half", pmod(col("vec_id"), lit(2L)))
        .select(col("label"), col("half"), posexplode(col("qv")).as(Seq("k", "v")))
        .groupBy("label", "half", "k")
        .agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
      val a = dims
        .filter(col("half") === 0L)
        .select(col("label"), col("k"), col("sv").as("sa"), col("cnt").as("na"))
      val b = dims
        .filter(col("half") === 1L)
        .select(col("label"), col("k").as("k2"), col("sv").as("sb"), col("cnt").as("nb"))
      a.join(b, a("label") === b("label") && a("k") === b("k2"))
        .groupBy(a("label").as("label"))
        .agg(
          max("na").as("n_a"),
          max("nb").as("n_b"),
          // WIDE tier (round-15 census): sa/sb are per-(label,dim) SUMS
          // (≤ n·10⁴), so their products reach n²·10⁸ — a BIGINT Σ over
          // 64 dims crosses 2⁶³ at ~4×10⁴ vectors per label-half, the
          // embedding_dim_stats overflow class. DECIMAL(38,0) is exact
          // past 10¹⁴ vectors; outputs (a double cosine) are unchanged.
          sum((col("sa").cast("decimal(38,0)") * col("sb")).cast("decimal(38,0)")).as("sab"),
          sum((col("sa").cast("decimal(38,0)") * col("sa")).cast("decimal(38,0)")).as("saa"),
          sum((col("sb").cast("decimal(38,0)") * col("sb")).cast("decimal(38,0)")).as("sbb"),
        )
        .select(
          col("label"),
          col("n_a"),
          col("n_b"),
          Disp.roundz(
            expr("""CAST(sab AS DOUBLE)
                    / nullif(sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)), 0.0D)"""),
            6,
          ).as("shift_cos"),
        )
        .orderBy("label")
    },
    Some(s"""WITH q AS (SELECT vec_id, label, vec_id % 2 AS half,
                               list_transform(embedding::DOUBLE[],
                                 x -> CAST(floor(x * 10000.0 + 0.5) AS BIGINT)) AS qv
                        FROM embeddings),
             dims AS (SELECT label, half, k,
                             CAST(sum(qv[k + 1]) AS BIGINT) AS sv, count(*) AS cnt
                      FROM q, generate_series(0, ${Dim - 1}) g(k)
                      GROUP BY 1, 2, 3),
             a AS (SELECT label, k, sv AS sa, cnt AS na FROM dims WHERE half = 0),
             b AS (SELECT label, k, sv AS sb, cnt AS nb FROM dims WHERE half = 1),
             j AS (SELECT a.label, sa, sb, na, nb FROM a JOIN b ON a.label = b.label AND a.k = b.k),
             g2 AS (SELECT label, max(na) AS n_a, max(nb) AS n_b,
                           CAST(sum(CAST(sa AS HUGEINT) * sb) AS HUGEINT) AS sab,
                           CAST(sum(CAST(sa AS HUGEINT) * sa) AS HUGEINT) AS saa,
                           CAST(sum(CAST(sb AS HUGEINT) * sb) AS HUGEINT) AS sbb
                    FROM j GROUP BY 1)
             SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                    (round(CAST(sab AS DOUBLE)
                          / nullif(sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)), 0.0), 6) + 0.0) AS shift_cos
             FROM g2 ORDER BY label"""),
  )

  /** Pairwise label-centroid cosine matrix — the confusion-RISK map
    * (which class pairs sit close in embedding space) read before the
    * errors show up in `nearest_centroid_confusion`: close centroids
    * predict cross-label near-dup chains (`knn_cluster_purity`'s
    * failure mode) and justify per-pair margin tuning in contrastive
    * training. The upper triangle (la < lb) of labels² rows.
    *
    * Same exactness discipline as `centroid_shift`: per-(label, dim)
    * sums are ×10⁴-quantized BIGINTs (1/n cancels in cosine — raw sums
    * suffice), their products accumulate on the DECIMAL(38) ≡ HUGEINT
    * wide tier (the round-15 census class), one pinned double division
    * chain at display. One posexplode + (label, dim) map-side-combined
    * agg (labels × D rows) and a dim-keyed self-join of that
    * MODEL-SIZED table — the corpus vectors never shuffle.
    */
  private val centroidDistanceMatrix = DeclaredQuery(
    "centroid_distance_matrix",
    (s, d) => {
      val dims = embeddings(s, d)
        .withColumn(
          "qv",
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))"),
        )
        .select(col("label"), posexplode(col("qv")).as(Seq("k", "v")))
        .groupBy("label", "k")
        .agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
      val a = dims.select(col("label").as("la"), col("k"), col("sv").as("sa"), col("cnt").as("na"))
      val b =
        dims.select(col("label").as("lb"), col("k").as("k2"), col("sv").as("sb"), col("cnt").as("nb"))
      a.join(b, a("k") === b("k2") && a("la") < b("lb"))
        .groupBy("la", "lb")
        .agg(
          max("na").as("n_a"),
          max("nb").as("n_b"),
          sum((col("sa").cast("decimal(38,0)") * col("sb")).cast("decimal(38,0)")).as("sab"),
          sum((col("sa").cast("decimal(38,0)") * col("sa")).cast("decimal(38,0)")).as("saa"),
          sum((col("sb").cast("decimal(38,0)") * col("sb")).cast("decimal(38,0)")).as("sbb"),
        )
        .select(
          col("la"),
          col("lb"),
          col("n_a"),
          col("n_b"),
          Disp.roundz(
            expr("""CAST(sab AS DOUBLE)
                    / nullif(sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)), 0.0D)"""),
            6,
          ).as("cos_ab"),
        )
        .orderBy("la", "lb")
    },
    Some(s"""WITH q AS (SELECT vec_id, label,
                               list_transform(embedding::DOUBLE[],
                                 x -> CAST(floor(x * 10000.0 + 0.5) AS BIGINT)) AS qv
                        FROM embeddings),
             dims AS (SELECT label, k,
                             CAST(sum(qv[k + 1]) AS BIGINT) AS sv, count(*) AS cnt
                      FROM q, generate_series(0, ${Dim - 1}) g(k)
                      GROUP BY 1, 2),
             j AS (SELECT a.label AS la, b.label AS lb, a.sv AS sa, b.sv AS sb,
                          a.cnt AS na, b.cnt AS nb
                   FROM dims a JOIN dims b ON a.k = b.k AND a.label < b.label),
             g2 AS (SELECT la, lb, max(na) AS n_a, max(nb) AS n_b,
                           CAST(sum(CAST(sa AS HUGEINT) * sb) AS HUGEINT) AS sab,
                           CAST(sum(CAST(sa AS HUGEINT) * sa) AS HUGEINT) AS saa,
                           CAST(sum(CAST(sb AS HUGEINT) * sb) AS HUGEINT) AS sbb
                    FROM j GROUP BY 1, 2)
             SELECT la, lb, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                    (round(CAST(sab AS DOUBLE)
                          / nullif(sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)), 0.0), 6) + 0.0)
                      AS cos_ab
             FROM g2 ORDER BY la, lb"""),
  )

  /** Per-batch incremental ANN — the continuous-embedding-ingest check
    * (`incremental_dedup`'s shape on the vector domain, the query side
    * of EmbedIngest's continuous cell appends): each new vector (the
    * event-id-residue stand-in for an ingest batch) finds its top-3
    * nearest STANDING-corpus vectors through the banded code join. The
    * join is ASYMMETRIC — batch × corpus, never corpus × corpus — so
    * per-batch cost scales with the batch: the whole point of
    * incremental maintenance at 100 TB.
    *
    * Rides the same session code substrate as `knn_graph`; pigeonhole
    * exhaustiveness and the confirmed-candidates-only float work carry
    * over unchanged.
    */
  /** The incremental banded batch×corpus top-3 over ANY (src, sc, qv) /
    * (nbr, nc, cv) split — the declared query feeds it the 1/7-residue
    * twin (whose batch GROWS with the corpus, so the full-suite doubling
    * table reads ~4× on it: both join sides double); [[graft.KnobBench]]
    * feeds it a FIXED-size batch and measures the production shape —
    * linear in bucket density. The batch/corpus split is a parameter
    * for exactly that reason.
    */
  private[graft] def incrementalTopK(
      s: SparkSession,
      newB: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame,
  ): org.apache.spark.sql.DataFrame = {
    val cand = bandRows(newB.select("src", "sc"), "sc")
      .join(bandRows(corpus.select("nbr", "nc"), "nc"), Seq("band", "bv"))
      .withColumn("code_hd", expr("CAST(bit_count(sc ^ nc) AS BIGINT)"))
      .filter(col("code_hd") <= 3)
      .select("src", "nbr", "code_hd")
      .dropDuplicates("src", "nbr")
    val pairs = cand
      .join(newB.select("src", "qv"), Seq("src"))
      .join(corpus.select("nbr", "cv"), Seq("nbr"))
    topByCosine(s, pairs, "src", "nbr", 3, "code_hd").orderBy("src", "rank")
  }

  private val incrementalKnn = DeclaredQuery(
    "incremental_knn",
    (s, d) => {
      val e = knnCoded(s, d)
      val newB = e.filter(pmod(col("vec_id"), lit(7L)) === 0L)
        .select(col("vec_id").as("src"), col("code").as("sc"), col("dvec").as("qv"))
      val corpus = e.filter(pmod(col("vec_id"), lit(7L)) =!= 0L)
        .select(col("vec_id").as("nbr"), col("code").as("nc"), col("dvec").as("cv"))
      incrementalTopK(s, newB, corpus)
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             ec AS (SELECT vec_id, dvec, nrm, $codeDuck AS code FROM e),
             p AS (SELECT q.vec_id AS src, c.vec_id AS nbr,
                          CAST(bit_count(xor(q.code, c.code)) AS BIGINT) AS code_hd,
                          (round(list_inner_product(q.dvec, c.dvec) / (q.nrm * c.nrm), 6) + 0.0) AS sim
                   FROM ec q JOIN ec c
                     ON q.vec_id % 7 = 0 AND c.vec_id % 7 <> 0
                   WHERE bit_count(xor(q.code, c.code)) <= 3),
             r AS (SELECT src, nbr, code_hd, sim,
                          row_number() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS rank
                   FROM p)
             SELECT src, CAST(rank AS BIGINT) AS rank, nbr, code_hd, sim
             FROM r WHERE rank <= 3 ORDER BY src, rank"""),
  )

  /** `incremental_knn` in its production shape: a FIXED-size ingest
    * batch (the ≤400 vectors with vec_id % 7 = 0 below 2800 — constant
    * regardless of corpus size, non-empty at every sf) against the
    * standing corpus. The declared residue twin's batch GROWS with the
    * corpus — both sides of the batch×corpus join double, which is the
    * whole 4.5×/doubling reading in the full-suite scale table; THIS
    * instance is what a streaming ingest actually runs per batch, and
    * it measured linear (KnobBench `iknn_fixed`: 1.97×/doubling).
    * Shares [[incrementalTopK]] verbatim, so the two instances cannot
    * drift semantically — only the batch/corpus split differs.
    */
  private val incrementalKnnFixed = DeclaredQuery(
    "incremental_knn_fixed",
    (s, d) => {
      val e = knnCoded(s, d)
      val newB = e
        .filter(pmod(col("vec_id"), lit(7L)) === 0L && col("vec_id") < 2800L)
        .select(col("vec_id").as("src"), col("code").as("sc"), col("dvec").as("qv"))
      val corpus = e.filter(pmod(col("vec_id"), lit(7L)) =!= 0L)
        .select(col("vec_id").as("nbr"), col("code").as("nc"), col("dvec").as("cv"))
      incrementalTopK(s, newB, corpus)
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             ec AS (SELECT vec_id, dvec, nrm, $codeDuck AS code FROM e),
             p AS (SELECT q.vec_id AS src, c.vec_id AS nbr,
                          CAST(bit_count(xor(q.code, c.code)) AS BIGINT) AS code_hd,
                          (round(list_inner_product(q.dvec, c.dvec) / (q.nrm * c.nrm), 6) + 0.0) AS sim
                   FROM ec q JOIN ec c
                     ON q.vec_id % 7 = 0 AND q.vec_id < 2800 AND c.vec_id % 7 <> 0
                   WHERE bit_count(xor(q.code, c.code)) <= 3),
             r AS (SELECT src, nbr, code_hd, sim,
                          row_number() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS rank
                   FROM p)
             SELECT src, CAST(rank AS BIGINT) AS rank, nbr, code_hd, sim
             FROM r WHERE rank <= 3 ORDER BY src, rank"""),
  )

  /** Label-noise screen over the kNN graph (the Confident-Learning
    * shape): per vector, how many of its top-3 hd ≤ 3 neighbors share
    * its label, aggregated per label as an exact ×10³ integer mean plus
    * a "suspect" count (zero agreeing neighbors among ≥ 2 — the rows an
    * annotation audit reads first). Composes two existing substrates —
    * the banded kNN edge set and the corpus label column — with two
    * un-hinted corpus-cardinality equi-joins (the label frame is two
    * narrow columns; AQE sizes them) and two partial+final aggs; no new
    * float work — the similarity already rode the edge substrate, this
    * query only counts. Vectors with NO hd ≤ 3 candidate have no
    * neighbor evidence and are out of scope by definition (`nodes`
    * counts judged vectors). At 100 TB: edges are 3n rows, both joins
    * key-partitioned, the final exchange is label-cardinality.
    */
  /** The agreement metric over ANY ranked edge frame (src, nbr) — shared
    * by the banded declared query and its cell-bounded `_scaled` twin so
    * the statistic cannot drift between substrates.
    */
  private def labelAgreementTail(s: SparkSession, d: String, edges: DataFrame): DataFrame = {
    val lbl = embeddings(s, d).select(col("vec_id"), col("label"))
    val perSrc = edges
      .select("src", "nbr")
      .join(lbl.select(col("vec_id").as("src"), col("label").as("src_label")), Seq("src"))
      .join(lbl.select(col("vec_id").as("nbr"), col("label").as("nbr_label")), Seq("nbr"))
      .groupBy("src", "src_label")
      .agg(
        count(lit(1)).as("deg"),
        sum(when(col("nbr_label") === col("src_label"), 1L).otherwise(0L)).as("agree"),
      )
      .withColumn("agree_e3", expr("agree * 1000 DIV deg"))
    perSrc
      .groupBy("src_label")
      .agg(
        count(lit(1)).as("nodes"),
        expr("sum(agree_e3) DIV count(1)").as("mean_agree_e3"),
        sum(when(col("agree") === 0L && col("deg") >= 2L, 1L).otherwise(0L)).as("suspects"),
      )
      .select(col("src_label").as("label"), col("nodes"), col("mean_agree_e3"), col("suspects"))
      .orderBy("label")
  }

  /** Oracle tail for [[labelAgreementTail]] over a prior CTE chain ending
    * in `r(src, nbr, rank, ...)` — spliced after either edge derivation.
    */
  private lazy val labelAgreementTailSql =
    """ke AS (SELECT src, nbr FROM r WHERE rank <= 3),
             l AS (SELECT vec_id, label FROM embeddings),
             ps AS (SELECT ke.src, ls.label AS src_label,
                           CAST(count(*) AS BIGINT) AS deg,
                           CAST(sum(CASE WHEN ln.label = ls.label THEN 1 ELSE 0 END) AS BIGINT) AS agree
                    FROM ke JOIN l ls ON ke.src = ls.vec_id JOIN l ln ON ke.nbr = ln.vec_id
                    GROUP BY 1, 2),
             pa AS (SELECT src, src_label, deg, agree, (agree * 1000) // deg AS agree_e3 FROM ps)
             SELECT src_label AS label, count(*) AS nodes,
                    CAST(sum(agree_e3) // count(*) AS BIGINT) AS mean_agree_e3,
                    CAST(sum(CASE WHEN agree = 0 AND deg >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS suspects
             FROM pa GROUP BY 1 ORDER BY 1"""

  private val knnLabelAgreement = DeclaredQuery(
    "knn_label_agreement",
    (s, d) => labelAgreementTail(s, d, knnEdges(s, d)),
    Some(s"""WITH $knnEdgesDuckCtes,
             $labelAgreementTailSql"""),
  )

  /** Hubness diagnostic — the high-dimensional pathology check
    * (Radovanović et al., JMLR 2010): the exact in-degree distribution
    * of the directed top-3 kNN edge set, 0 bucket included (a left join
    * from the corpus). Hubs (in-degree ≫ k) mean a few vectors dominate
    * every neighbor list and poison graph dedup and retrieval; antihubs
    * (in-degree 0) are unreachable through the graph. One count agg on
    * the 3n-row edge substrate (map-side combine), one un-hinted
    * corpus-keyed join, one in-degree-cardinality histogram agg — the
    * corpus vectors themselves never move.
    */
  /** The in-degree histogram over ANY edge frame (nbr column read) —
    * shared by the banded declared query and its `_scaled` twin.
    */
  private def hubnessTail(s: SparkSession, d: String, edges: DataFrame): DataFrame = {
    val indeg = edges.groupBy("nbr").agg(count(lit(1)).as("indeg"))
    embeddings(s, d)
      .select(col("vec_id"))
      .join(indeg.select(col("nbr").as("vec_id"), col("indeg")), Seq("vec_id"), "left")
      .withColumn("indeg", coalesce(col("indeg"), lit(0L)))
      .groupBy("indeg")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("indeg")
  }

  private lazy val hubnessTailSql =
    """ke AS (SELECT src, nbr FROM r WHERE rank <= 3),
             ind AS (SELECT nbr AS vec_id, CAST(count(*) AS BIGINT) AS indeg FROM ke GROUP BY 1),
             fd AS (SELECT e.vec_id, coalesce(ind.indeg, 0) AS indeg
                    FROM embeddings e LEFT JOIN ind ON e.vec_id = ind.vec_id)
             SELECT indeg, count(*) AS n_nodes
             FROM fd GROUP BY 1 ORDER BY 1"""

  private val hubnessStats = DeclaredQuery(
    "hubness_stats",
    (s, d) => hubnessTail(s, d, knnEdges(s, d)),
    Some(s"""WITH $knnEdgesDuckCtes,
             $hubnessTailSql"""),
  )

  /** Label purity of the semantic clusters — the coherence check run
    * right after `knn_components` (SemDeDup-style clustering is only
    * trustworthy if its clusters are label-coherent): per cluster, the
    * majority-label share (×10³ exact), aggregated by cluster-size
    * bucket (1 / 2-3 / 4-7 / 8+). Singletons are pure by definition —
    * the interesting row is the large-cluster bucket, where low purity
    * means the hd ≤ 3 radius is chaining across semantic boundaries.
    * Composes the cached knn-cc-labels substrate with the corpus label
    * column: one doc-keyed join, one (cluster, label) count agg, one
    * cluster-cardinality rollup — the vectors never move.
    */
  /** The size-bucketed purity rollup over ANY (vec_id, cluster_id) label
    * frame — shared by the banded declared query and its `_scaled` twin.
    */
  private def clusterPurityTail(s: SparkSession, d: String, cc: DataFrame): DataFrame = {
    val perCluster = cc
      .join(embeddings(s, d).select("vec_id", "label"), Seq("vec_id"))
      .groupBy("cluster_id", "label")
      .agg(count(lit(1)).as("c"))
      .groupBy("cluster_id")
      .agg(sum("c").as("n"), max("c").as("maxc"))
      .withColumn("purity_e3", expr("maxc * 1000 DIV n"))
      .withColumn(
        "size_bucket",
        expr("""CASE WHEN n = 1 THEN '1' WHEN n <= 3 THEN '2-3'
                     WHEN n <= 7 THEN '4-7' ELSE '8+' END"""),
      )
    perCluster
      .groupBy("size_bucket")
      .agg(
        count(lit(1)).as("n_clusters"),
        sum("n").as("n_vecs"),
        expr("sum(purity_e3) DIV count(1)").as("mean_purity_e3"),
      )
      .orderBy("size_bucket")
  }

  /** Oracle tail for [[clusterPurityTail]] — the reach fixpoint (the
    * `cc AS (SELECT node AS vec_id, min(lbl)...)` shape tools/compare.py's
    * union-find fallback rewrites past its budget) plus the bucket rollup,
    * over a prior chain ending in `r`.
    */
  private lazy val clusterPurityTailSql =
    """ke AS (SELECT src, nbr FROM r WHERE rank <= 3),
             edges AS (SELECT src, nbr FROM ke UNION ALL SELECT nbr, src FROM ke),
             reach AS (SELECT vec_id AS node, vec_id AS lbl FROM embeddings
                       UNION
                       SELECT e.nbr AS node, rc.lbl
                       FROM reach rc JOIN edges e ON rc.node = e.src),
             cc AS (SELECT node AS vec_id, min(lbl) AS cluster_id
                    FROM reach GROUP BY node),
             cl AS (SELECT cc.cluster_id, emb.label, CAST(count(*) AS BIGINT) AS c
                    FROM cc JOIN embeddings emb ON cc.vec_id = emb.vec_id
                    GROUP BY 1, 2),
             pc AS (SELECT cluster_id, CAST(sum(c) AS BIGINT) AS n, CAST(max(c) AS BIGINT) AS maxc
                    FROM cl GROUP BY 1),
             pb AS (SELECT (maxc * 1000) // n AS purity_e3, n,
                           CASE WHEN n = 1 THEN '1' WHEN n <= 3 THEN '2-3'
                                WHEN n <= 7 THEN '4-7' ELSE '8+' END AS size_bucket
                    FROM pc)
             SELECT size_bucket, count(*) AS n_clusters,
                    CAST(sum(n) AS BIGINT) AS n_vecs,
                    CAST(sum(purity_e3) // count(*) AS BIGINT) AS mean_purity_e3
             FROM pb GROUP BY 1 ORDER BY 1"""

  private val knnClusterPurity = DeclaredQuery(
    "knn_cluster_purity",
    (s, d) => clusterPurityTail(s, d, knnCcLabels(s, d)),
    Some(s"""WITH RECURSIVE $knnEdgesDuckCtes,
             $clusterPurityTailSql"""),
  )

  /** Reciprocity of the kNN graph — the metric-quality diagnostic beside
    * [[hubnessStats]]: per rank, the fraction of directed top-3 edges
    * whose REVERSE edge also exists (×10³ exact). In a well-conditioned
    * metric space nearest-neighbor relations are largely mutual; low
    * reciprocity at rank 1 is the classic hubness symptom (a hub sits in
    * everyone's list but its own list ignores them), and mutual-kNN
    * filters (the standard graph-clustering denoiser) keep exactly the
    * edges this query counts.
    *
    * Scale: the edge substrate is 3n rows (k-bounded); the reverse-edge
    * probe is a self-equi-join of that substrate on (src, nbr) — both
    * sides edge-cardinality, un-hinted (AQE sizes it), never touching
    * vectors — and the report is a rank-cardinality (3-row) agg.
    * Integer ×10³ rate via truncating division, exact cross-engine.
    */
  private val knnReciprocity = DeclaredQuery(
    "knn_reciprocity",
    (s, d) => {
      val e = knnEdges(s, d).select("src", "rank", "nbr")
      val rev = e.select(col("nbr").as("src"), col("src").as("nbr"), lit(1L).as("has_rev"))
      e.join(rev, Seq("src", "nbr"), "left")
        .groupBy("rank")
        .agg(
          count(lit(1)).as("n_edges"),
          sum(when(col("has_rev").isNotNull, 1L).otherwise(0L)).as("n_mutual"),
        )
        .withColumn("mutual_e3", expr("n_mutual * 1000 DIV n_edges"))
        .orderBy("rank")
    },
    Some(s"""WITH $knnEdgesDuckCtes,
             ke AS (SELECT src, rank, nbr FROM r WHERE rank <= 3),
             rv AS (SELECT nbr AS src, src AS nbr FROM ke),
             m AS (SELECT ke.rank,
                          CAST(count(*) AS BIGINT) AS n_edges,
                          CAST(sum(CASE WHEN rv.src IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_mutual
                   FROM ke LEFT JOIN rv ON ke.src = rv.src AND ke.nbr = rv.nbr
                   GROUP BY 1)
             SELECT rank, n_edges, n_mutual, (n_mutual * 1000) // n_edges AS mutual_e3
             FROM m ORDER BY rank"""),
  )

  /** Semi-supervised label propagation over the kNN graph — the
    * weak-supervision primitive (Zhu & Ghahramani 2002; the "spread the
    * 20% you labeled to the 80% you didn't" step of semantic data
    * curation): vectors with vec_id ≡ 0 (mod 5) act as labeled seeds,
    * then TWO fixed majority-vote rounds assign each unlabeled vector
    * the most frequent label among its top-3 neighbors' current labels
    * (count desc, label asc tiebreak — deterministic at any
    * partitioning). The declared output is the per-true-label audit the
    * method is judged by: seeds, coverage after two hops, and agreement
    * with the held-back truth.
    *
    * Scale: each round is ONE edge-substrate join (3n k-bounded rows)
    * + a (src, label) count agg + a per-src argmax window on
    * vote-cardinality rows ≤ 3n, and an anti-join against the ≤ n
    * assigned set — vectors never move, rounds are fixed (2) so lineage
    * is bounded; at 10⁹ vectors the same plan stands on the banded edge
    * substrate. The oracle unrolls both vote rounds as chained CTEs.
    */
  /** The two-round seeded majority-vote propagation + per-label audit
    * over ANY edge frame (src, nbr) — shared by the banded declared query
    * and its `_scaled` twin.
    */
  private def labelPropagationTail(s: SparkSession, d: String, edges: DataFrame): DataFrame = {
      val emb = embeddings(s, d).select(col("vec_id"), col("label"))
      val seeds = emb
        .filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("v"), col("label").cast("long").as("lbl"))
      val e = edges.select("src", "nbr")
      def vote(assigned: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("src")
          .orderBy(col("c").desc, col("lbl"))
        e.join(assigned.select(col("v").as("nbr"), col("lbl")), Seq("nbr"))
          .groupBy("src", "lbl")
          .agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .join(assigned.select(col("v").as("src")), Seq("src"), "left_anti")
          .select(col("src").as("v"), col("lbl"))
      }
      val l1 = seeds.unionByName(vote(seeds))
      val fin = l1.unionByName(vote(l1))
      emb
        .join(fin.select(col("v").as("vec_id"), col("lbl").as("prop")), Seq("vec_id"), "left")
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(when(col("vec_id") % 5 === 0, 1L).otherwise(0L)).as("n_seeds"),
          sum(when(col("vec_id") % 5 =!= 0 && col("prop").isNotNull, 1L).otherwise(0L))
            .as("n_filled"),
          sum(
            when(col("vec_id") % 5 =!= 0 && col("prop") === col("label").cast("long"), 1L)
              .otherwise(0L),
          ).as("n_correct"),
        )
        .orderBy("label")
  }

  // Multi-referenced CTEs are AS MATERIALIZED: DuckDB INLINES plain CTEs,
  // so each extra reference re-expands the ENTIRE upstream chain — behind
  // the scaled twins that chain is the derived-k Lloyd derivation, and the
  // un-materialized form OOM'd DuckDB at sf4 (the round-16
  // unrolled-iteration lesson, now applied to the kNN tails too).
  private lazy val labelPropagationTailSql =
    """ke AS MATERIALIZED (SELECT src, nbr FROM r WHERE rank <= 3),
             sd AS MATERIALIZED (SELECT vec_id AS v, CAST(label AS BIGINT) AS lbl FROM embeddings
                    WHERE vec_id % 5 = 0),
             v1 AS MATERIALIZED (SELECT t.src AS v, t.lbl FROM (
                      SELECT ke.src, a.lbl,
                             row_number() OVER (PARTITION BY ke.src
                                                ORDER BY count(*) DESC, a.lbl) AS rn
                      FROM ke JOIN sd a ON ke.nbr = a.v
                      GROUP BY ke.src, a.lbl) t
                    WHERE t.rn = 1 AND t.src NOT IN (SELECT v FROM sd)),
             l1 AS MATERIALIZED (SELECT * FROM sd UNION ALL SELECT * FROM v1),
             v2 AS MATERIALIZED (SELECT t.src AS v, t.lbl FROM (
                      SELECT ke.src, a.lbl,
                             row_number() OVER (PARTITION BY ke.src
                                                ORDER BY count(*) DESC, a.lbl) AS rn
                      FROM ke JOIN l1 a ON ke.nbr = a.v
                      GROUP BY ke.src, a.lbl) t
                    WHERE t.rn = 1 AND t.src NOT IN (SELECT v FROM l1)),
             fin AS MATERIALIZED (SELECT * FROM l1 UNION ALL SELECT * FROM v2)
             SELECT e.label, count(*) AS n_vecs,
                    CAST(sum(CASE WHEN e.vec_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds,
                    CAST(sum(CASE WHEN e.vec_id % 5 <> 0 AND f.lbl IS NOT NULL
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
                    CAST(sum(CASE WHEN e.vec_id % 5 <> 0 AND f.lbl = CAST(e.label AS BIGINT)
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
             FROM embeddings e LEFT JOIN fin f ON e.vec_id = f.v
             GROUP BY 1 ORDER BY 1"""

  private val labelPropagation = DeclaredQuery(
    "label_propagation",
    (s, d) => labelPropagationTail(s, d, knnEdges(s, d)),
    Some(s"""WITH $knnEdgesDuckCtes,
             $labelPropagationTailSql"""),
  )

  /** DBSCAN over embedding space (Ester et al. 1996) — the density
    * clustering paradigm the engine was missing beside k-means
    * (centroid), IVF cells (partition), kNN-CC (graph), and label
    * propagation (semi-supervised): clusters are maximal
    * density-connected sets, points in sparse regions are NOISE —
    * exactly the "keep dense semantic regions, flag isolated junk"
    * shape of embedding-based corpus curation, and the one of the five
    * that needs no k. The ε-neighborhood is cosine ≥ [[DbscanTau]] on
    * the SHARED exact block pair-join ([[blockPairSims]] — same fold,
    * same rounding as `cosine_near_dup`); a point with ≥ [[DbscanMinPts]]
    * neighbors is CORE; clusters are connected components of the
    * core-core subgraph (the proven large-star/small-star contraction,
    * min-id label); a non-core point adopts the min label among its
    * core neighbors (BORDER) or stays noise (cluster −1).
    *
    * Scale: pair generation is the documented exact tier (n² spread
    * over B(B+1)/2 block tasks; at 100 TB the same consumers ride the
    * banded/cell-bounded candidate substrates instead — the
    * semantic_dedup swap). Degrees and core flags are one groupBy of
    * the pair list; the contraction is O(log n) rounds over CORE edges
    * only; the border adoption is one edge-grain join. The pair frame
    * is a SubstrateCache member (three consumers in one plan: degree,
    * core subgraph, border adoption).
    *
    * Oracle: the same CC tail as `knn_components` restated over the
    * core subgraph (recursive reach CTE, min-label group); past the
    * reach budget tools/compare.py swaps in exact union-find over the
    * oracle's own `core`/`ce` prefix (the knn_components mechanism,
    * second pattern).
    */
  private val DbscanTau = 0.3
  private val DbscanMinPts = 4L

  /** The DBSCAN role/label assignment over ANY undirected ε-pair frame
    * (va, vb) — degree, core flag, core-core CC (cached under `ccTag`),
    * border adoption, full-corpus report. Shared by the exact declared
    * query and its cell-bounded `_scaled` twin so the clustering tail
    * cannot drift between the two pair substrates.
    */
  private def dbscanTail(s: SparkSession, d: String, pairs: DataFrame, ccTag: String): DataFrame = {
      val edges = pairs
        .select(col("va").as("src"), col("vb").as("nbr"))
        .unionByName(pairs.select(col("vb").as("src"), col("va").as("nbr")))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("degree"))
      val core = deg
        .filter(col("degree") >= DbscanMinPts)
        .select(col("src").as("node"))
      val coreEdges = edges
        .join(core.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(core.select(col("node").as("nbr")), Seq("nbr"), "left_semi")
        .select(col("src").as("da"), col("nbr").as("db"))
      val labels = graft.SubstrateCache.substrate(s, d, ccTag) {
        DedupOps.starContract(core, coreEdges, DedupOps.maxCcRounds(s))._1
      }
      val borders = edges
        .join(labels.select(col("node").as("nbr"), col("lbl").as("nlbl")), Seq("nbr"))
        .join(labels.select(col("node").as("src")), Seq("src"), "left_anti")
        .groupBy("src")
        .agg(min("nlbl").as("blbl"))
      embeddings(s, d)
        .select(col("vec_id"))
        .join(deg.select(col("src").as("vec_id"), col("degree")), Seq("vec_id"), "left")
        .join(labels.select(col("node").as("vec_id"), col("lbl").as("clbl")), Seq("vec_id"), "left")
        .join(borders.select(col("src").as("vec_id"), col("blbl")), Seq("vec_id"), "left")
        .select(
          col("vec_id"),
          when(col("clbl").isNotNull, "core")
            .when(col("blbl").isNotNull, "border")
            .otherwise("noise")
            .as("role"),
          coalesce(col("clbl"), col("blbl"), lit(-1L)).as("cluster"),
          coalesce(col("degree"), lit(0L)).as("degree"),
        )
        .orderBy("vec_id")
  }

  /** Oracle tail for [[dbscanTail]] over a prior CTE `pr(va, vb)` — the
    * `clab AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node)`
    * shape is the one tools/compare.py's pattern-2 union-find fallback
    * rewrites (over the prefix's own `core`/`ce`) past the reach budget.
    */
  // edges/deg/core/ce MATERIALIZED (multi-referenced over the pair
  // prefix); reach/clab stay verbatim — tools/compare.py's pattern-2
  // union-find fallback matches their exact text.
  private lazy val dbscanTailSql =
    s"""edges AS MATERIALIZED (SELECT va AS src, vb AS nbr FROM pr
                       UNION ALL SELECT vb, va FROM pr),
             deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS degree
                     FROM edges GROUP BY src),
             core AS MATERIALIZED (SELECT src AS node FROM deg WHERE degree >= $DbscanMinPts),
             ce AS MATERIALIZED (SELECT e2.src, e2.nbr FROM edges e2
                    JOIN core c1 ON e2.src = c1.node
                    JOIN core c2 ON e2.nbr = c2.node),
             reach AS (SELECT node, node AS lbl FROM core
                       UNION
                       SELECT ce.nbr AS node, rc.lbl
                       FROM reach rc JOIN ce ON rc.node = ce.src),
             clab AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
             blab AS (SELECT e3.src AS node, min(c.lbl) AS lbl
                      FROM edges e3 JOIN clab c ON e3.nbr = c.node
                      WHERE e3.src NOT IN (SELECT node FROM core)
                      GROUP BY e3.src)
             SELECT v.vec_id,
                    CASE WHEN cl.lbl IS NOT NULL THEN 'core'
                         WHEN bl.lbl IS NOT NULL THEN 'border'
                         ELSE 'noise' END AS role,
                    CAST(coalesce(cl.lbl, bl.lbl, -1) AS BIGINT) AS cluster,
                    CAST(coalesce(d.degree, 0) AS BIGINT) AS degree
             FROM embeddings v
             LEFT JOIN deg d ON v.vec_id = d.src
             LEFT JOIN clab cl ON v.vec_id = cl.node
             LEFT JOIN blab bl ON v.vec_id = bl.node
             ORDER BY v.vec_id"""

  private val dbscanClusters = DeclaredQuery(
    "dbscan_clusters",
    (s, d) => {
      val pairs = graft.SubstrateCache.substrate(s, d, "dbscan-pairs") {
        blockPairSims(s, d, DbscanTau).select("va", "vb")
      }
      dbscanTail(s, d, pairs, "dbscan-cc")
    },
    Some(s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                              sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                       FROM embeddings),
             p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                          (round(list_inner_product(a.dvec, b.dvec) / (a.nrm * b.nrm), 6) + 0.0) AS sim
                   FROM e a JOIN e b ON a.vec_id < b.vec_id),
             pr AS MATERIALIZED (SELECT va, vb FROM p WHERE sim >= $DbscanTau),
             $dbscanTailSql"""),
  )

  /** `dbscan_clusters` in its PRODUCTION shape — the `semantic_dedup_scaled`
    * recipe applied to the ε-neighborhood: pairs are generated WITHIN
    * derived-k IVF cells (k = max(8, n/32), [[derivedCellCount]]) instead
    * of the exact all-pairs block join, so the pair space is Σ n_c² ≈
    * n·[[SemCellSize]] — linear in the corpus — where the exact tier is
    * O(n²) (the one declared query the round-16 verdict still flagged).
    * The declared semantics IS the cell-restricted ε-graph (the standard
    * partitioned-DBSCAN construction): a pair straddling a cell boundary
    * does not edge, so density near boundaries is undercounted relative
    * to exact DBSCAN — the same trade `semantic_dedup_scaled` makes, and
    * the oracle states the identical construction (derived-k Lloyd chain,
    * within-cell ε-pairs, identical role/label tail), so the boundary
    * behavior is hash-checked, not hidden. The tail — degree, core,
    * core-core CC, border adoption — is [[dbscanTail]], byte-shared with
    * the exact tier.
    */
  private val dbscanClustersScaled = DeclaredQuery(
    "dbscan_clusters_scaled",
    (s, d) => {
      val pairs = graft.SubstrateCache.substrate(s, d, "dbscan-pairs-scaled") {
        graft.functions.GraftFunctions.register(s)
        val (e, n) = Ivf.scaledEmbeddings(s, d)
        val withVec = Ivf
          .cellAssignment(s, d, derivedCellCount(n))
          .join(e.select(col("vec_id"), col("dvec")), Seq("vec_id"))
        val a = withVec.select(col("cid"), col("vec_id").as("va"), col("dvec").as("qv"))
        val b = withVec.select(col("cid"), col("vec_id").as("vb"), col("dvec").as("cv"))
        a.join(b, Seq("cid")) // within-cell pairs: Σ n_c² ≈ n·cellsize
          .filter(col("va") < col("vb"))
          .filter(Disp.roundz(expr("cosine_similarity(qv, cv)"), 6) >= DbscanTau)
          .select("va", "vb")
      }
      dbscanTail(s, d, pairs, "dbscan-cc-scaled")
    },
    Some(s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS sv,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             ${Ivf.lloydOracleCteDerived(s"greatest(8, count(*) // $SemCellSize)")},
             pr AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb
                    FROM asg1 a JOIN asg1 b USING (cid)
                         JOIN e ea ON ea.vec_id = a.vec_id
                         JOIN e eb ON eb.vec_id = b.vec_id
                    WHERE a.vec_id < b.vec_id
                      AND round(list_inner_product(ea.dvec, eb.dvec) / (ea.nrm * eb.nrm), 6) >= $DbscanTau),
             $dbscanTailSql"""),
  )

  /** Retrieval-AUC of the embedding space (Mann–Whitney form): does
    * similarity to a query discriminate same-class membership? Score =
    * exact ×10⁶-int query dot (vec_id 0, the rocchio convention),
    * positive = shares the query's label — the standard
    * embedding-quality eval an encoder regression suite runs, the
    * threshold-free counterpart of `knn_label_agreement`'s top-k purity.
    *
    * Exactness: AUC = U/(P·N) with U counted from the SCORE-GRAIN table
    * — per distinct score, positives × (2 × negatives-strictly-below +
    * negatives-at-tie), the exact tie-corrected Mann–Whitney statistic
    * doubled to stay integral; U₂ accumulates in DECIMAL(38,0) (it
    * reaches 2·P·N ≈ n²/2, crossing 2⁶³ at ~6×10⁹ vectors) and emits
    * ×10⁶ BIGINT by truncating DIV.
    *
    * Scale: one corpus scan against a broadcast query row, a score-grain
    * groupBy, then the TWO-PHASE range-partitioned prefix sum for
    * negatives-below (the sequence_pack shape — the corpus-sized window
    * stays partitioned; only the ≤ 32-row offset table sees a global
    * window).
    */
  private val aucScore = DeclaredQuery(
    "auc_score",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.register(s)
      val qz = embeddings(s, d).select(
        col("vec_id"),
        col("label"),
        expr("transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))")
          .as("qv"),
      )
      val qRow = qz
        .filter(col("vec_id") === 0L)
        .select(col("qv").as("qqv"), col("label").as("l0"))
      val grain = qz
        .filter(col("vec_id") =!= 0L)
        .crossJoin(broadcast(qRow))
        .withColumn("s2", expr("graft_int_dot(qqv, qv)"))
        .withColumn("pos", (col("label") === col("l0")).cast("long"))
        .groupBy("s2")
        .agg(sum("pos").as("np"), sum(lit(1L) - col("pos")).as("nn"))
      val bounds = grain.agg(min("s2").as("lo"), max("s2").as("hi"))
      val shards = 32
      val local = grain
        .crossJoin(broadcast(bounds))
        .withColumn(
          "pid",
          expr(s"(s2 - lo) DIV greatest((hi - lo + 1 + ${shards - 1}) DIV $shards, 1)"),
        )
        .withColumn("cumn", sum("nn").over(Window.partitionBy("pid").orderBy("s2")))
      val offsets = local
        .groupBy("pid")
        .agg(sum("nn").as("ps"))
        .withColumn(
          "off",
          coalesce(
            sum("ps").over(Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L),
          ),
        )
        .select("pid", "off")
      local
        .join(broadcast(offsets), Seq("pid"))
        .withColumn("below", col("off") + col("cumn") - col("nn"))
        .withColumn("t", expr("CAST(np AS DECIMAL(38,0)) * (2 * below + nn)"))
        .agg(
          sum("np").as("n_pos"),
          sum("nn").as("n_neg"),
          sum(col("t").cast("decimal(38,0)")).as("u2"),
        )
        .select(
          col("n_pos"),
          col("n_neg"),
          expr(
            "CAST((u2 * 1000000) DIV nullif(CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg, 0) AS BIGINT)",
          ).as("auc_e6"),
        )
    },
    Some("""WITH qz AS (SELECT vec_id, label,
                               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qv
                        FROM embeddings),
            qrow AS (SELECT qv AS qqv, label AS l0 FROM qz WHERE vec_id = 0),
            p AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, len(q.qqv) + 1), i -> q.qqv[i] * c.qv[i])),
                           (s2, x) -> s2 + x) AS s2,
                         CASE WHEN c.label = q.l0 THEN 1 ELSE 0 END AS pos
                  FROM qz c CROSS JOIN qrow q WHERE c.vec_id <> 0),
            g AS (SELECT s2, CAST(sum(pos) AS BIGINT) AS np,
                         CAST(count(*) - sum(pos) AS BIGINT) AS nn
                  FROM p GROUP BY 1),
            c2 AS (SELECT s2, np, nn,
                          CAST(coalesce(sum(nn) OVER (ORDER BY s2
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
                   FROM g),
            t AS (SELECT CAST(np AS HUGEINT) * (2 * below + nn) AS t2, np, nn FROM c2)
            SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
                   CAST(sum(t2) * 1000000 // nullif(2 * CAST(sum(np) AS HUGEINT) * sum(nn), 0) AS BIGINT) AS auc_e6
            FROM t
            ORDER BY n_pos"""),
  )

  /** Newman modularity of the LABEL partition on the kNN graph (Newman
    * & Girvan 2004) — the label-vs-graph coherence audit: per class,
    * the observed intra-class edge share minus the share expected under
    * the degree-preserving null model, Q_c = e_c/m − (d_c/2m)². A
    * strongly positive contribution means the class forms a real graph
    * community (embedding geometry agrees with the label); ~0 means the
    * label is invisible to the kNN structure — the partition-level
    * complement of `knn_label_agreement`'s per-edge rate. (The CC
    * partition itself is one giant component on these graphs — its
    * modularity is identically 0 — which is WHY the audit runs on the
    * label partition.)
    *
    * Exactness: the graph is SYMMETRIZED to distinct undirected pairs;
    * both terms are truncating integer quotients from exact counts —
    * d_c²·10⁶ crosses 2⁶³ once degree sums pass ~3×10⁶ (any web-scale
    * corpus), so the square rides a DECIMAL(38,0) with BIGINT out
    * (census discipline at birth).
    *
    * Scale: edge symmetrization and degrees are edge-grain (3n rows);
    * the label joins are node-keyed; output is class-cardinality.
    * Nothing touches vectors — the edge substrate is shared with the
    * whole kNN family.
    */
  /** The per-label modularity contribution over ANY directed edge frame
    * (src, nbr) — symmetrized to distinct undirected pairs inside; shared
    * by the banded declared query and its `_scaled` twin.
    */
  private def modularityTail(s: SparkSession, d: String, edges: DataFrame): DataFrame = {
      val ue = edges
        .select(least(col("src"), col("nbr")).as("a"), greatest(col("src"), col("nbr")).as("b"))
        .distinct()
      val labels = embeddings(s, d).select(col("vec_id"), col("label").cast("long").as("cl"))
      val deg = ue
        .select(col("a").as("v"))
        .unionByName(ue.select(col("b").as("v")))
        .groupBy("v")
        .agg(count(lit(1)).as("deg"))
      val m = ue.agg(count(lit(1)).as("m"))
      val eIntra = ue
        .join(labels.select(col("vec_id").as("a"), col("cl").as("ca")), Seq("a"))
        .join(labels.select(col("vec_id").as("b"), col("cl").as("cb")), Seq("b"))
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("cluster"))
        .agg(count(lit(1)).as("e_intra"))
      labels
        .join(deg, labels("vec_id") === deg("v"), "left")
        .groupBy(col("cl").as("cluster"))
        .agg(count(lit(1)).as("n_nodes"), sum(coalesce(col("deg"), lit(0L))).as("d_sum"))
        .join(eIntra, Seq("cluster"), "left")
        .na
        .fill(0L, Seq("e_intra"))
        .crossJoin(broadcast(m))
        .withColumn(
          "contrib_e6",
          expr("""e_intra * 1000000 DIV m
                 | - CAST(CAST(d_sum AS DECIMAL(38,0)) * d_sum * 1000000
                 |        DIV (CAST(4 AS DECIMAL(38,0)) * m * m) AS BIGINT)""".stripMargin),
        )
        .select(col("cluster"), col("n_nodes"), col("e_intra"), col("d_sum"), col("contrib_e6"))
        .orderBy("cluster")
  }

  private lazy val modularityTailSql =
    """ke AS MATERIALIZED (SELECT src, nbr FROM r WHERE rank <= 3),
             lbl AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS cl FROM embeddings),
             ue AS MATERIALIZED (SELECT DISTINCT least(src, nbr) AS a, greatest(src, nbr) AS b FROM ke),
             m AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM ue),
             deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS deg
                     FROM (SELECT a AS v FROM ue UNION ALL SELECT b FROM ue) GROUP BY 1),
             ei AS MATERIALIZED (SELECT la.cl AS cluster, CAST(count(*) AS BIGINT) AS e_intra
                    FROM ue JOIN lbl la ON ue.a = la.vec_id
                            JOIN lbl lb2 ON ue.b = lb2.vec_id
                    WHERE la.cl = lb2.cl GROUP BY 1),
             ds AS MATERIALIZED (SELECT l.cl AS cluster, CAST(count(*) AS BIGINT) AS n_nodes,
                           CAST(coalesce(sum(deg.deg), 0) AS BIGINT) AS d_sum
                    FROM lbl l LEFT JOIN deg ON l.vec_id = deg.v GROUP BY 1)
             SELECT ds.cluster, ds.n_nodes,
                    CAST(coalesce(ei.e_intra, 0) AS BIGINT) AS e_intra, ds.d_sum,
                    coalesce(ei.e_intra, 0) * 1000000 // m.m
                      - CAST(CAST(ds.d_sum AS HUGEINT) * ds.d_sum * 1000000
                             // (4 * CAST(m.m AS HUGEINT) * m.m) AS BIGINT) AS contrib_e6
             FROM ds LEFT JOIN ei USING (cluster) CROSS JOIN m
             ORDER BY ds.cluster"""

  private val knnModularity = DeclaredQuery(
    "knn_modularity",
    (s, d) => modularityTail(s, d, knnEdges(s, d)),
    Some(s"""WITH $knnEdgesDuckCtes,
             $modularityTailSql"""),
  )

  /** CC labels over the SCALE-SAFE kNN edge substrate — the
    * [[knnCcLabels]] twin on [[knnEdgesScaled]]'s cell-bounded graph:
    * same star-contraction fixpoint, same (vec_id, cluster_id) schema,
    * its own substrate entry so fixture and production graphs can coexist
    * in one session.
    */
  private def knnCcLabelsScaled(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache
      .substrate(s, d, "knn-cc-labels-scaled") {
        val pairs = knnEdgesScaled(s, d).select(col("src").as("da"), col("nbr").as("db"))
        val nodes = embeddings(s, d).select(col("vec_id").as("node"))
        DedupOps.starContract(nodes, pairs, DedupOps.maxCcRounds(s))._1
      }
      .select(col("node").as("vec_id"), col("lbl").as("cluster_id"))

  /** The six kNN-graph consumers re-based onto the PRODUCTION substrate
    * (the round-16 verdict's top item): identical metric tails — byte-
    * shared with the banded declared queries via the `*Tail` helpers and
    * `*TailSql` oracle fragments above — over [[knnEdgesScaled]]'s
    * derived-k cell-bounded graph (Σ n_c² ≈ n·32, linear), which holds on
    * the default heap at any sf where the fixed-width banded substrate is
    * measured quadratic (SCALE.md "memory cliff", ×4 candidate stream per
    * corpus doubling, sf2 OOM at 8 GiB). The banded forms stay declared as
    * the exact-semantics fixture tier; these are the 100 TB path.
    */
  private val knnComponentsScaled = DeclaredQuery(
    "knn_components_scaled",
    (s, d) => knnCcLabelsScaled(s, d).orderBy("vec_id"),
    Some(s"""WITH RECURSIVE $knnScaledDuckCtes,
             $componentsTailSql"""),
  )

  private val knnLabelAgreementScaled = DeclaredQuery(
    "knn_label_agreement_scaled",
    (s, d) => labelAgreementTail(s, d, knnEdgesScaled(s, d)),
    Some(s"""WITH $knnScaledDuckCtes,
             $labelAgreementTailSql"""),
  )

  private val hubnessStatsScaled = DeclaredQuery(
    "hubness_stats_scaled",
    (s, d) => hubnessTail(s, d, knnEdgesScaled(s, d)),
    Some(s"""WITH $knnScaledDuckCtes,
             $hubnessTailSql"""),
  )

  private val knnClusterPurityScaled = DeclaredQuery(
    "knn_cluster_purity_scaled",
    (s, d) => clusterPurityTail(s, d, knnCcLabelsScaled(s, d)),
    Some(s"""WITH RECURSIVE $knnScaledDuckCtes,
             $clusterPurityTailSql"""),
  )

  private val labelPropagationScaled = DeclaredQuery(
    "label_propagation_scaled",
    (s, d) => labelPropagationTail(s, d, knnEdgesScaled(s, d)),
    Some(s"""WITH $knnScaledDuckCtes,
             $labelPropagationTailSql"""),
  )

  private val knnModularityScaled = DeclaredQuery(
    "knn_modularity_scaled",
    (s, d) => modularityTail(s, d, knnEdgesScaled(s, d)),
    Some(s"""WITH $knnScaledDuckCtes,
             $modularityTailSql"""),
  )

  /** Intrinsic dimension of the embedding space — the TwoNN estimator
    * (Facco et al., Scientific Reports 2017): d̂ = n / Σ ln(d₂/d₁) over
    * each vector's two nearest neighbors. The ratio μ = d₂/d₁ is
    * scale-free, so the estimator needs NO density assumptions — the
    * standard "is this 768-dim embedding really using 768 dims" health
    * check (curse-of-dimensionality telltale for retrieval and dedup:
    * hubness, recall cliffs, and ε-threshold brittleness all track the
    * INTRINSIC dimension, not the ambient one).
    *
    * Rides the scale-safe cell-bounded graph ([[knnEdgesScaled]] ranks
    * 1–2; cosine distance d = 1 − sim on the 6-dp-rounded sims both
    * engines share). Per-vector terms are ln-floored to ×10⁶ BIGINT
    * BEFORE the sum (the unigram_logprob discipline — exact integers,
    * order-invariant; ln and the IEEE divide are bit-identical on
    * identical doubles). Vectors whose nearest neighbor is at distance
    * 0 (exact duplicates — μ undefined) or without a rank-2 neighbor in
    * their cell are out of the estimator by definition; n_used reports
    * the denominator actually used. Output is one exact row: the ×10³
    * estimate via one truncating integral division (n·10⁹ on a
    * DECIMAL(38,0) — n alone can pass 2⁶³/10⁹ at web scale).
    */
  private val intrinsicDim = DeclaredQuery(
    "intrinsic_dim",
    (s, d) => {
      val e = knnEdgesScaled(s, d)
      val r1 = e.filter(col("rank") === 1L).select(col("src"), col("sim").as("s1"))
      val r2 = e.filter(col("rank") === 2L).select(col("src"), col("sim").as("s2"))
      r1.join(r2, Seq("src"))
        .filter(expr("1.0 - s1 > 0.0"))
        .withColumn(
          "t",
          expr("CAST(floor(ln((1.0 - s2) / (1.0 - s1)) * 1000000.0 + 0.5) AS BIGINT)"),
        )
        .agg(count(lit(1)).as("n_used"), sum("t").as("sum_lnmu_e6"))
        .withColumn(
          "dim_e3",
          expr(
            "CAST((CAST(n_used AS DECIMAL(38,0)) * 1000000000) DIV nullif(sum_lnmu_e6, 0) AS BIGINT)",
          ),
        )
        .orderBy("n_used")
    },
    Some(s"""WITH $knnScaledDuckCtes,
             r1 AS (SELECT src, sim AS s1 FROM r WHERE rank = 1),
             r2 AS (SELECT src, sim AS s2 FROM r WHERE rank = 2),
             t AS (SELECT CAST(floor(ln((1.0 - s2) / (1.0 - s1)) * 1000000.0 + 0.5) AS BIGINT) AS t
                   FROM r1 JOIN r2 USING (src) WHERE 1.0 - s1 > 0.0),
             g AS (SELECT CAST(count(*) AS BIGINT) AS n_used,
                          CAST(sum(t) AS BIGINT) AS sum_lnmu_e6 FROM t)
             SELECT n_used, sum_lnmu_e6,
                    CAST((CAST(n_used AS HUGEINT) * 1000000000) // nullif(sum_lnmu_e6, 0) AS BIGINT) AS dim_e3
             FROM g ORDER BY n_used"""),
  )

  /** Degree assortativity of the kNN graph (Newman, PRL 2002) — the
    * degree-degree Pearson correlation over edge endpoints, the
    * structural companion of [[hubnessStats]]' degree histogram: kNN
    * graphs on healthy metric spaces are mildly DISASSORTATIVE (hubs
    * link to antihubs, r < 0); r plunging toward −1 is the hubness
    * pathology seen from the edge side, r ≈ 0 on a k-regular-ish graph
    * means degrees carry no structure. Rides the scale-safe
    * cell-bounded substrate.
    *
    * Exactness: over the symmetrized distinct undirected pair set
    * (each edge contributes BOTH orientations — the standard
    * formulation, which makes Σx = Σy and Σx² = Σy²), all moments are
    * exact integers; r = (M·Σxy − (Σx)²/... ) multiplied through by M
    * so num = M·Σxy − Σx·Σx and den = M·Σx² − Σx·Σx ride DECIMAL(38,0)
    * (degree products × edge counts cross 2⁶³ at web scale), ONE
    * truncating ×10⁶ division — engine-identical at both signs — and
    * BIGINT out. NULL on a degree-regular graph (den = 0).
    */
  private val knnAssortativity = DeclaredQuery(
    "knn_assortativity",
    (s, d) => {
      val ue = knnEdgesScaled(s, d)
        .select(least(col("src"), col("nbr")).as("a"), greatest(col("src"), col("nbr")).as("b"))
        .distinct()
      val deg = ue
        .select(col("a").as("v"))
        .unionByName(ue.select(col("b").as("v")))
        .groupBy("v")
        .agg(count(lit(1)).as("deg"))
      val dir = ue
        .select(col("a").as("u"), col("b").as("w"))
        .unionByName(ue.select(col("b").as("u"), col("a").as("w")))
        .join(deg.select(col("v").as("u"), col("deg").as("x")), Seq("u"))
        .join(deg.select(col("v").as("w"), col("deg").as("y")), Seq("w"))
      dir
        .agg(
          count(lit(1)).as("m2"),
          sum(col("x")).as("sx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        )
        .withColumn(
          "r_e6",
          expr("""CAST(((CAST(m2 AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sx) * 1000000)
                 | DIV nullif(CAST(m2 AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx, 0)
                 | AS BIGINT)""".stripMargin),
        )
        .select(expr("m2 DIV 2").as("n_edges"), col("r_e6"))
        .orderBy("n_edges")
    },
    Some(s"""WITH $knnScaledDuckCtes,
             ke AS MATERIALIZED (SELECT src, nbr FROM r WHERE rank <= 3),
             ue AS MATERIALIZED (SELECT DISTINCT least(src, nbr) AS a, greatest(src, nbr) AS b FROM ke),
             deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS deg
                     FROM (SELECT a AS v FROM ue UNION ALL SELECT b FROM ue) GROUP BY 1),
             dir AS MATERIALIZED (SELECT dx.deg AS x, dy.deg AS y
                     FROM (SELECT a AS u, b AS w FROM ue UNION ALL SELECT b, a FROM ue) p
                     JOIN deg dx ON p.u = dx.v JOIN deg dy ON p.w = dy.v),
             g AS (SELECT CAST(count(*) AS BIGINT) AS m2,
                          CAST(sum(x) AS BIGINT) AS sx,
                          sum(CAST(x AS HUGEINT) * y) AS sxy,
                          sum(CAST(x AS HUGEINT) * x) AS sxx
                   FROM dir)
             SELECT m2 // 2 AS n_edges,
                    CAST(((CAST(m2 AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sx) * 1000000)
                         // nullif(CAST(m2 AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx, 0) AS BIGINT) AS r_e6
             FROM g ORDER BY n_edges"""),
  )

  /** Triangle census + global clustering coefficient (transitivity) of
    * the kNN graph — the third structural health statistic beside
    * [[hubnessStats]] (degrees) and [[knnAssortativity]] (degree
    * correlation): embeddings with real cluster structure close their
    * wedges (neighbors-of-neighbors are neighbors, C ≫ random), while
    * C collapsing toward the Erdős–Rényi floor means the metric space
    * has no local structure for dedup/ANN to exploit. Rides the
    * scale-safe cell-bounded substrate.
    *
    * Exactness: over the symmetrized DISTINCT undirected pair set,
    * triangles are enumerated as forward wedges (hub a < b < c joined
    * on the common LOWEST endpoint) semi-joined against the edge set —
    * each triangle counted exactly once; wedges come off the degree
    * table as Σd(d−1)/2, never enumerated. C = 3·T/wedges is ONE
    * truncating ×10⁶ division on exact integers (6·T/Σd(d−1), both
    * nonneg — truncation ≡ floor), DECIMAL(38,0) through the product
    * (T crosses 2⁶³/6×10⁶ at web scale), BIGINT out.
    *
    * Scale: every edge lives INSIDE a derived-k cell, so degree is
    * cell-bounded and the wedge join does Σ_v deg(v)² ≤ n·cellsize
    * work — linear, the Σn_c² argument one hop up; the closing
    * semi-join streams wedge candidates against the edge set on
    * (p, q). No corpus-sized frame is ever materialized.
    */
  private val knnTriangles = DeclaredQuery(
    "knn_triangles",
    (s, d) => {
      val ue = knnEdgesScaled(s, d)
        .select(least(col("src"), col("nbr")).as("a"), greatest(col("src"), col("nbr")).as("b"))
        .distinct()
      val deg = ue
        .select(col("a").as("v"))
        .unionByName(ue.select(col("b").as("v")))
        .groupBy("v")
        .agg(count(lit(1)).as("deg"))
      val wz = deg.agg(sum(expr("deg * (deg - 1)")).as("w2"))
      val fw = ue
        .select(col("a").as("u"), col("b").as("p"))
        .join(ue.select(col("a").as("u"), col("b").as("q")), Seq("u"))
        .filter(col("p") < col("q"))
      val tri = fw
        .join(ue.select(col("a").as("p"), col("b").as("q")), Seq("p", "q"), "left_semi")
        .agg(count(lit(1)).as("n_tri"))
      ue.agg(count(lit(1)).as("n_edges"))
        .crossJoin(wz)
        .crossJoin(tri)
        .select(
          col("n_edges"),
          expr("w2 DIV 2").as("n_wedges"),
          col("n_tri"),
          expr("CAST((CAST(n_tri AS DECIMAL(38,0)) * 6000000) DIV nullif(w2, 0) AS BIGINT)")
            .as("gcc_e6"),
        )
        .orderBy("n_edges")
    },
    Some(s"""WITH $knnScaledDuckCtes,
             ke AS (SELECT src, nbr FROM r WHERE rank <= 3),
             ue AS MATERIALIZED (SELECT DISTINCT least(src, nbr) AS a, greatest(src, nbr) AS b FROM ke),
             deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
                     FROM (SELECT a AS v FROM ue UNION ALL SELECT b FROM ue) GROUP BY 1),
             wz AS (SELECT CAST(sum(deg * (deg - 1)) AS BIGINT) AS w2 FROM deg),
             tri AS (SELECT CAST(count(*) AS BIGINT) AS n_tri
                     FROM ue x JOIN ue y ON x.a = y.a AND x.b < y.b
                     WHERE EXISTS (SELECT 1 FROM ue z WHERE z.a = x.b AND z.b = y.b)),
             ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ue)
             SELECT n_edges, w2 // 2 AS n_wedges, n_tri,
                    CAST((CAST(n_tri AS HUGEINT) * 6000000) // nullif(w2, 0) AS BIGINT) AS gcc_e6
             FROM ne CROSS JOIN wz CROSS JOIN tri ORDER BY n_edges"""),
  )

  /** PageRank centrality over the cell-bounded kNN graph — the
    * representativeness score of the corpus-scale graph family (a
    * high-rank vector sits in a dense, well-connected region; the
    * antihub tail ranks at the teleport floor): the coreset/dedup-keeper
    * prioritizer that `cluster_keeper`'s min-id convention cannot
    * express. Unlike the |types|²-bounded centrality pair (driver
    * folds), this graph is CORPUS-sized — so it runs on the distributed
    * symmetric engine ([[graft.operators.DedupOps.symmetricRank]] with
    * unit weights: exact ×10¹² integer ranks, floor division, 5 fixed
    * rounds), which is exactly the engine-selection boundary the
    * centrality scaladocs state, exercised from the other side.
    *
    * Scale: the n·k-bounded adjacency is hash-partitioned and pinned once
    * per dataset; each round is a narrow join with the co-partitioned
    * ranks and one node-keyed `reduceByKey`, so only node-sized
    * contribution sums cross the network. Degrees are cell-bounded, so no
    * skew salting is needed.
    */
  private val knnPagerank = DeclaredQuery(
    "knn_pagerank",
    (s, d) => {
      DedupOps.symmetricRank(s, d, "rank-edges:knn") {
        knnEdgesScaled(s, d)
          .select(least(col("src"), col("nbr")).as("a"), greatest(col("src"), col("nbr")).as("b"))
          .distinct()
          .withColumn("w", lit(1L))
      }.orderBy("node")
    }, {
      val steps = DedupOps.rankRoundsDuck("se", "deg")(p => s" sum($p.r // deg.deg)")
      // `se`, not `e`: the knnScaledDuckCtes prefix already owns `e`
      Some(s"""WITH $knnScaledDuckCtes,
               ke AS (SELECT src, nbr FROM r WHERE rank <= 3),
               ue AS (SELECT DISTINCT least(src, nbr) AS a, greatest(src, nbr) AS b FROM ke),
               se AS MATERIALIZED (SELECT a AS da, b AS db FROM ue UNION ALL SELECT b, a FROM ue),
               deg AS MATERIALIZED (SELECT da, count(*) AS deg FROM se GROUP BY 1),
               nodes AS MATERIALIZED (SELECT DISTINCT da AS node FROM se),
               nn AS (SELECT count(*) AS n FROM nodes),
               pr0 AS (SELECT node, CAST(${DedupOps.PrScale} // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes),
               $steps
               SELECT node, r FROM pr${DedupOps.PrIters} ORDER BY node""")
    },
  )

  /** Embedding-space eval-set contamination screen — the semantic twin
    * of `contamination_check`'s n-gram membership test, which paraphrase
    * and truncation evade: every held-out (benchmark) vector is checked
    * for its nearest TRAINING-corpus neighbor by exact cosine, and a
    * near-1 match flags the training document as a leaked/near-dup copy
    * of the eval row. Benchmark membership is the deterministic
    * vec_id ≡ 0 (mod [[SemConMod]]) slice; the threshold is a model
    * constant on the 6-dp sim both engines share.
    *
    * Scale: the ONE canonical small-set × corpus shape — benchmark rows
    * broadcast, one corpus scan, per-partition partial max, k-row
    * result. No shuffle of the corpus, no pair materialization; the
    * brute-force arm is exact (this is the recall-1.0 tier the ANN
    * family's screens approximate).
    */
  private val SemConMod = 50L
  private val SemConThreshold = 0.9
  private val semanticContamination = DeclaredQuery(
    "semantic_contamination",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = embeddings(s, d)
        .withColumn("dvec", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      val bench = e
        .filter(col("vec_id") % SemConMod === 0L)
        .select(col("vec_id").as("bid"), col("dvec").as("qv"))
      val corpus = e
        .filter(col("vec_id") % SemConMod =!= 0L)
        .select(col("vec_id").as("cid"), col("dvec").as("cv"))
      corpus
        .crossJoin(broadcast(bench))
        .withColumn("sim", Disp.roundz(expr("cosine_similarity(qv, cv)"), 6))
        .groupBy("bid")
        .agg(max(struct(col("sim"), (-col("cid")).as("ncid"))).as("best"))
        .select(
          col("bid"),
          (-col("best.ncid")).as("top_doc"),
          col("best.sim").as("sim"),
          (col("best.sim") >= lit(SemConThreshold)).as("contaminated"),
        )
        .orderBy("bid")
    },
    Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dvec,
                               sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                        FROM embeddings),
             b AS (SELECT vec_id AS bid, dvec, nrm FROM e WHERE vec_id % $SemConMod = 0),
             c AS (SELECT vec_id AS cid, dvec, nrm FROM e WHERE vec_id % $SemConMod <> 0),
             p AS (SELECT b.bid, c.cid,
                          (round(list_inner_product(b.dvec, c.dvec) / (b.nrm * c.nrm), 6) + 0.0) AS sim
                   FROM b CROSS JOIN c),
             r AS (SELECT bid, cid, sim,
                          row_number() OVER (PARTITION BY bid ORDER BY sim DESC, cid) AS rk
                   FROM p)
             SELECT bid, cid AS top_doc, sim, sim >= $SemConThreshold AS contaminated
             FROM r WHERE rk = 1 ORDER BY bid"""),
  )

  val queries: Seq[DeclaredQuery] =
    Seq(cosineTopk, cosineLshAnn, cosineNearDup, semanticDedup, semanticDedupScaled, aucScore,
      knnModularity,
      annRecall, embeddingOutliers,
      embeddingCovariance, hardNegatives, knnGraph, knnComponents, centroidShift,
      incrementalKnn, incrementalKnnFixed, knnLabelAgreement, hubnessStats, knnClusterPurity,
      knnReciprocity, labelPropagation, centroidDistanceMatrix,
      knnGraphScaled, knnReciprocityScaled, dbscanClusters,
      knnComponentsScaled, knnLabelAgreementScaled, hubnessStatsScaled, knnClusterPurityScaled,
      labelPropagationScaled, knnModularityScaled, dbscanClustersScaled, intrinsicDim,
      knnAssortativity, knnTriangles, knnPagerank, semanticContamination,
      semanticLossBySource)
}
