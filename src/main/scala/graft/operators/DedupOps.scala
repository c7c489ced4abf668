package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.Tables._

/** Near-duplicate detection over `documents` (north-star dedup surface):
  * exact n-gram Jaccard via an inverted index, MinHash+LSH banding, and
  * SimHash with chunk banding. All hash work uses the cross-engine
  * polynomial fold from [[TextOps]] so every query has a DuckDB oracle.
  *
  * Scale notes (100 TB):
  *  - `ngram_jaccard` joins on exploded shingles (inverted index), never
  *    a cross join — the classic candidate-generation pattern. At scale a
  *    document-frequency cap on hot shingles bounds the skew; here the
  *    synthetic corpus is uniform so none is applied.
  *  - `minhash_near_dup` reduces each doc to a 16-int signature via a
  *    codegen'd hash aggregation over exploded shingle hashes (partial
  *    aggregation combines map-side; the shuffle carries 16 longs per
  *    doc, never the text). Banding 4×4 finds J≳0.9 pairs with P>0.98.
  *  - `simhash_near_dup` reduces each doc to ONE 30-bit int; banding into
  *    5 six-bit chunks is exhaustive for hamming ≤ 4 (pigeonhole: 4 bit
  *    errors cannot touch all 5 chunks), so the banded physical plan
  *    computes exactly the all-pairs-threshold semantics the oracle states.
  */
object DedupOps extends QueryModule {

  /** Word-trigram shingles from a single-spaced text column (as `ws`).
    * Trigrams (not bigrams): this corpus has a ~50-word vocabulary, so
    * bigrams are shared by hundreds of unrelated documents and the
    * inverted-index join degenerates quadratic (measured 24M candidate
    * pairs at sf0.1). Trigram document frequency is ~3, which keeps
    * candidates linear while planted near-dups still share ~97% of
    * shingles. The df-cap on hot shingles is the equivalent production
    * knob at 100 TB.
    *
    * Trigram-shingle hashes composed algebraically from per-word
    * (hash, 31^len) pairs — H("w1 w2 w3") without ever building the gram
    * string: folding string b onto accumulator a gives
    * a·31^len(b) + H(b) (mod M), and the separator contributes a·31 + 32.
    * One native hash + one native pow per WORD replaces one char-fold
    * over ~3 words per TRIGRAM (≈3× less hash work, zero gram-string
    * allocation). Both engines state the identical composition, so
    * signatures stay bit-equal; PolyComposeSpec proves it equals hashing
    * the concatenated string.
    */
  private val M = 1000000007L

  private def stepDuck(acc: String, i: String): String =
    s"(((($acc) * 31 + 32) % $M * pws[$i] + hws[$i]) % $M)"

  /** ALL trigram hashes in position order (element i = shingle at word
    * i-1, 1-based list) — shared by the distinct set below and the
    * positional `repeated_spans` oracle.
    */
  private val gramListDuck = {
    val g = stepDuck(stepDuck("hws[i]", "i + 1"), "i + 2")
    s"list_transform(generate_series(1, len(hws) - 2), i -> $g)"
  }

  private val gramHashDuck = s"list_distinct($gramListDuck)"

  /** The gram-CTE fragments for oracles OUTSIDE this module (TextOps'
    * `ngram_novelty`) — same text, so the gram definition cannot drift.
    */
  private[operators] def pow31DuckSql: String = pow31Duck
  private[operators] def gramHashDuckSql: String = gramHashDuck
  private[operators] def gramListDuckSql: String = gramListDuck

  private val pow31Duck =
    """list_reduce(list_prepend(CAST(1 AS BIGINT),
      |  list_transform(generate_series(1, length(w)), x -> CAST(31 AS BIGINT))),
      |  (a, b) -> (a * b) % 1000000007)""".stripMargin

  /** doc_id + hashed-shingle array, Spark side: ONE native call per
    * document ([[graft.functions.GramHashes]]) — word hashes computed
    * once, shingles composed in the same pass. (Composing via
    * `transform`ed hash/pow columns instead lets CollapseProject inline
    * the per-word transform into every element access — O(n²)/doc.)
    */
  private def hashedGrams(df: DataFrame): DataFrame =
    df.withColumn("ghs", expr("graft_gram_hashes(split(text, ' '))"))

  /** The shared dedup substrate: one row per (doc, hashed shingle) plus
    * the doc's shingle count — the signature-store pattern. Every dedup
    * query (Jaccard, MinHash, SimHash, clean_corpus's near-dup stage)
    * derives from this table, so the expensive interpreted char-fold hash
    * over each shingle runs ONCE per session+dataset and is served from
    * cache afterwards. At 100 TB this is the materialized signature table
    * you'd persist to parquet between pipeline stages; rows are
    * (long, int, long) — a few hundred bytes per document, memory-safe.
    *
    * Signature computation downstream runs as codegen'd hash aggregation
    * with map-side partial aggregation instead of interpreted
    * higher-order-function lambdas (measured 20× faster at sf0.1); the
    * shuffle carries (doc_id, a few longs), never the text.
    */
  private[operators] def gramRows(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrate(s, d, "gram-rows") {
      graft.functions.GraftFunctions.register(s)
      hashedGrams(documents(s, d))
        .select(col("doc_id"), size(col("ghs")).as("n"), explode(col("ghs")).as("gh"))
    }

  /** Per-doc distinct-gram ARRAYS rebuilt from the exploded substrate
    * (collect_set ≡ the ghs the rows came from — hashedGrams emits
    * distinct grams): the signature-store row shape consumers that
    * intersect whole documents want (`simhash_est`), without re-running
    * the interpreted char-fold hash the substrate already paid for.
    */
  private def gramSets(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrateColumnar(s, d, "gram-sets") {
      gramRows(s, d)
        .groupBy("doc_id")
        .agg(collect_set(col("gh")).as("ghs"), first(col("n")).as("n"))
    }

  private[operators] val hashedGramsDuck =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |hp AS (SELECT doc_id,
       |              list_transform(ws, w -> ${TextOps.wordHashDuck}) AS hws,
       |              list_transform(ws, w -> $pow31Duck) AS pws
       |       FROM t),
       |h AS (SELECT doc_id, $gramHashDuck AS ghs FROM hp)""".stripMargin

  /** Exact trigram-set Jaccard candidate pairs ≥ `minJ` via the inverted
    * index (equi-join on the HASHED shingle, count shared per pair) —
    * also the near-dup stage of PipelineOps.clean_corpus. Joining on the
    * 8-byte shingle hash instead of the shingle string keeps the shuffle
    * narrow and the join key fixed-width; the oracle states the identical
    * hashed-shingle formulation, so both engines agree even in the
    * (possible) event of a hash collision.
    */
  /** The production skew knob at 100 TB: drop shingles present in more
    * than `maxDf` documents before the inverted-index self-join.
    * Candidate pairs grow O(df²) per shingle, so one viral boilerplate
    * shingle (df = 10⁶) alone would generate 5·10¹¹ candidates; capping
    * df bounds the join at the cost of missing pairs whose ONLY shared
    * shingles are ubiquitous ones — which a Jaccard threshold would
    * reject anyway (a shingle shared by everyone carries no similarity
    * signal). DfCapSpec measures the candidate reduction.
    */
  private[graft] def capByDf(e: DataFrame, maxDf: Long): DataFrame = {
    val df = e.groupBy("gh").agg(count(lit(1)).as("df"))
    // No broadcast() hint: the hot-gram set is ≤ Σocc/maxDf rows, which
    // still grows LINEARLY with the corpus (every common trigram on a
    // web-scale crawl clears df > 100 — easily 10⁷–10⁸ grams). The
    // anti-join stays a plain equi-join; AQE broadcasts it only when the
    // measured build side is actually small, and falls back to a shuffle
    // join when it isn't — exactly the behavior a forced hint forfeits.
    e.join(df.filter(col("df") > maxDf).select("gh"), Seq("gh"), "left_anti")
  }

  private[operators] def jaccardPairs(
      s: SparkSession,
      d: String,
      minJ: Double,
      maxDf: Option[Long] = None,
  ): DataFrame =
    graft.SubstrateCache.substrate(s, d, s"jaccard-pairs:$minJ:${maxDf.getOrElse(-1L)}") {
      val e = maxDf.fold(gramRows(s, d))(cap => capByDf(gramRows(s, d), cap))
      val x = e.select(col("doc_id").as("da"), col("n").as("na"), col("gh"))
      val y = e.select(col("doc_id").as("db"), col("n").as("nb"), col("gh").as("gh2"))
      x.join(y, x("gh") === y("gh2") && x("da") < y("db"))
        .groupBy("da", "db", "na", "nb")
        .agg(count(lit(1)).as("shared"))
        .withColumn(
          "j",
          col("shared").cast("double") / (col("na") + col("nb") - col("shared")),
        )
        .filter(col("j") >= minJ)
    }

  /** The matching DuckDB pair CTE (expects the hashedGramsDuck CTEs).
    * With `maxDf`, mirrors [[capByDf]] exactly: hot shingles are dropped
    * before the self-join, while the Jaccard denominators keep the FULL
    * per-doc gram counts — only candidate generation and `shared` see
    * the cap, in both engines.
    */
  private[operators] def jaccardPairsDuck(minJ: Double, maxDf: Option[Long] = None): String = {
    val eCte = maxDf match {
      case Some(cap) =>
        s"""e0 AS (SELECT doc_id, len(ghs) AS n, unnest(ghs) AS gram FROM h),
           |hot AS (SELECT gram FROM e0 GROUP BY gram HAVING count(*) > $cap),
           |e AS (SELECT e0.doc_id, e0.n, e0.gram FROM e0
           |      LEFT JOIN hot ON e0.gram = hot.gram WHERE hot.gram IS NULL)""".stripMargin
      case None => "e AS (SELECT doc_id, len(ghs) AS n, unnest(ghs) AS gram FROM h)"
    }
    s"""$eCte,
       |p0 AS (SELECT x.doc_id AS da, y.doc_id AS db, x.n AS na, y.n AS nb, count(*) AS shared
       |       FROM e x JOIN e y ON x.gram = y.gram AND x.doc_id < y.doc_id
       |       GROUP BY 1, 2, 3, 4),
       |p AS (SELECT da, db, shared, shared::DOUBLE / (na + nb - shared) AS j
       |      FROM p0 WHERE shared::DOUBLE / (na + nb - shared) >= $minJ)""".stripMargin
  }

  /** df cap shipped in every declared Jaccard consumer (`ngram_jaccard`,
    * `dedup_clusters`, `clean_corpus` — one shared capped pair
    * substrate): a shingle in more than this many documents is
    * boilerplate, not signal — it can only create O(df²) candidate pairs
    * whose similarity a 0.3 Jaccard threshold rejects anyway. 100 is
    * ≥ 20% of every test corpus (no-op on the fixtures) yet caps the
    * viral-shingle blow-up at its production value; each oracle restates
    * the identical cap.
    */
  private[operators] val DefaultMaxDf = 100L

  private val ngramJaccard = DeclaredQuery(
    "ngram_jaccard",
    (s, d) =>
      jaccardPairs(s, d, 0.3, maxDf = Some(DefaultMaxDf))
        .select(col("da"), col("db"), col("shared"), Disp.roundz(col("j"), 3).as("j"))
        .orderBy("da", "db"),
    Some(s"""WITH $hashedGramsDuck,
             ${jaccardPairsDuck(0.3, Some(DefaultMaxDf))}
             SELECT da, db, shared, round(j, 3) AS j
             FROM p ORDER BY da, db"""),
  )

  /** MinHash parameters: 16 permutations h_i(x) = (a_i·x + b_i) mod P,
    * banded 4×4. Seed constants are embedded literally in BOTH engines'
    * expressions so signatures agree bit-for-bit.
    */
  private val P = 2038074743L
  private val seeds: Seq[(Long, Long)] =
    (1 to 16).map(i => ((1299709L * i) % P, (15485863L * (i + 7)) % P))

  /** DuckDB twin of [[minhashCandidates]] as CTE text yielding
    * `cand(da, db, matches, est_j)` over `h(doc_id, ghs)` — shared by
    * the `minhash_near_dup` and `minhash_est` oracles.
    */
  private lazy val minhashCandDuck = {
    val mhsList = seeds
      .map { case (a, b) => s"list_min(list_transform(ghs, x -> ($a * x + $b) % $P))" }
      .mkString("[", ", ", "]")
    s"""m AS (SELECT doc_id, $mhsList AS mhs FROM h),
       |b AS (SELECT doc_id, mhs, unnest(generate_series(0, 3)) AS band FROM m),
       |sg AS (SELECT doc_id, mhs, band,
       |              array_to_string(list_transform(generate_series(1, 4), r -> mhs[4 * band + r]), ',') AS sig
       |       FROM b),
       |p AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db, x.mhs AS ma, y.mhs AS mb
       |      FROM sg x JOIN sg y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |cand AS (SELECT da, db,
       |                CAST(list_sum(list_transform(generate_series(1, 16),
       |                     i -> CASE WHEN ma[i] = mb[i] THEN 1 ELSE 0 END)) AS BIGINT) AS matches,
       |                round(list_sum(list_transform(generate_series(1, 16),
       |                     i -> CASE WHEN ma[i] = mb[i] THEN 1 ELSE 0 END))::DOUBLE / 16.0, 4) AS est_j
       |         FROM p)""".stripMargin
  }

  /** The banded-MinHash candidate pairs with their signature-match
    * estimate (da, db, matches, est_j), unordered — shared by the
    * declared `minhash_near_dup` and the `minhash_est` calibration
    * query, so the estimator cannot drift from its calibration.
    */
  /** The banded signature table (doc_id, mhs, band, sig) — the
    * "minhash-banded" session substrate, factored out so the band-bucket
    * diagnostics (`minhash_band_stats`) read the IDENTICAL table the
    * candidate join runs on.
    */
  private def minhashBanded(s: SparkSession, d: String): DataFrame = {
    val minCols = seeds.zipWithIndex.map { case ((a, b), i) =>
      min((col("gh") * a + b) % P).as(s"m$i")
    }
    val bandsExpr = (0 until 4)
      .map { b =>
        val sig = (1 to 4).map(r => s"element_at(mhs, ${4 * b + r})").mkString(", ")
        s"named_struct('band', $b, 'sig', concat_ws(',', $sig))"
      }
      .mkString("inline(array(", ", ", "))")
    graft.SubstrateCache.substrate(s, d, "minhash-banded") {
      gramRows(s, d)
        .groupBy("doc_id")
        .agg(minCols.head, minCols.tail: _*)
        .withColumn("mhs", array((0 until 16).map(i => col(s"m$i")): _*))
        .select(col("doc_id"), col("mhs"), expr(bandsExpr))
    }
  }

  private def minhashCandidates(s: SparkSession, d: String): DataFrame = {
    val banded = minhashBanded(s, d)
    val l = banded.select(col("doc_id").as("da"), col("mhs").as("ma"), col("band"), col("sig"))
    val r = banded
      .select(col("doc_id").as("db"), col("mhs").as("mb"), col("band").as("band2"), col("sig").as("sig2"))
    l.join(r, l("band") === r("band2") && l("sig") === r("sig2") && l("da") < r("db"))
      .select("da", "db", "ma", "mb")
      .dropDuplicates("da", "db")
      .withColumn(
        "matches",
        expr("CAST(size(filter(zip_with(ma, mb, (x, y) -> x = y), v -> v)) AS BIGINT)"),
      )
      .withColumn("est_j", Disp.roundz(col("matches").cast("double") / 16.0, 4))
      .select("da", "db", "matches", "est_j")
  }

  private val minhashNearDup = DeclaredQuery(
    "minhash_near_dup",
    (s, d) => minhashCandidates(s, d).select("da", "db", "matches", "est_j").orderBy("da", "db"),
    Some(s"""WITH $hashedGramsDuck,
             $minhashCandDuck
             SELECT da, db, matches, est_j FROM cand ORDER BY da, db"""),
  )

  /** Estimator calibration: the MinHash Jaccard ESTIMATE against the
    * EXACT trigram-set Jaccard for every banded candidate pair — the
    * curve an operator tunes permutation count and banding against
    * (est_err is the per-pair calibration residual; 16 permutations
    * give ±1/16 granularity). The candidate frame is the SHARED
    * [[minhashCandidates]] (the estimator cannot drift from its
    * calibration); the exact side attaches each doc's distinct-gram
    * ARRAY (shared [[gramSets]] substrate) and intersects per row —
    * candidate-bounded work, two doc-keyed joins, never all-pairs. At
    * 100 TB this runs over a candidate SAMPLE; the plan is identical.
    */
  private val minhashEst = DeclaredQuery(
    "minhash_est",
    (s, d) => {
      val cand = minhashCandidates(s, d)
      // exact arm via the shared gram-set arrays (the oracle's own
      // list_intersect formulation, same as simhash_est): two doc-keyed
      // array joins + a per-row array_intersect — no pair × grams
      // fanout, no re-aggregation, and a banding collision pairing docs
      // with ZERO shared grams gets shared = 0 structurally (the oracle
      // keeps those rows; an inner gh-join would have dropped them)
      val sets = gramSets(s, d)
      cand
        .join(sets.select(col("doc_id").as("da"), col("ghs").as("ga"), col("n").as("na")), Seq("da"))
        .join(sets.select(col("doc_id").as("db"), col("ghs").as("gb"), col("n").as("nb")), Seq("db"))
        .withColumn("shared", expr("CAST(size(array_intersect(ga, gb)) AS BIGINT)"))
        .withColumn(
          "exact_j",
          Disp.roundz(col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 4),
        )
        .withColumn("est_err", Disp.roundz(col("est_j") - col("exact_j"), 4))
        .select("da", "db", "matches", "est_j", "exact_j", "est_err")
        .orderBy("da", "db")
    },
    Some(s"""WITH $hashedGramsDuck,
             $minhashCandDuck,
             j AS (SELECT c.da, c.db, c.matches, c.est_j,
                          ha.ghs AS ga, hb.ghs AS gb
                   FROM cand c JOIN h ha ON c.da = ha.doc_id JOIN h hb ON c.db = hb.doc_id),
             x AS (SELECT da, db, matches, est_j,
                          CAST(len(list_intersect(ga, gb)) AS BIGINT) AS shared,
                          len(ga) AS na, len(gb) AS nb
                   FROM j)
             SELECT da, db, matches, est_j,
                    round(shared::DOUBLE / (na + nb - shared), 4) AS exact_j,
                    (round(est_j - round(shared::DOUBLE / (na + nb - shared), 4), 4) + 0.0) AS est_err
             FROM x ORDER BY da, db"""),
  )

  /** 30-bit SimHash over hashed shingles; pairs at hamming ≤ 4. The Spark
    * plan bands into 5 six-bit chunks (exhaustive for ≤ 4, see object doc)
    * so only chunk-colliding pairs are ever compared; the oracle states the
    * equivalent all-pairs predicate.
    */
  private val simhashDuck =
    """list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(generate_series(0, 29), b ->
      |  CASE WHEN list_sum(list_transform(ghs, x -> CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
      |       THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END)), (x, y) -> x + y)""".stripMargin

  /** The banded SimHash signature substrate: one 30-bit signature per
    * document plus its 5 six-bit chunk rows — shared by the declared
    * `simhash_near_dup` and the `simhash_est` calibration query.
    */
  private def simhashSigs(s: SparkSession, d: String): DataFrame = {
    val chunksExpr = (0 until 5)
      .map(c => s"named_struct('ck', $c, 'cv', shiftright(sim, ${6 * c}) & 63)")
      .mkString("inline(array(", ", ", "))")
    // per-bit ±1 sums as 30 codegen'd aggregates, then recompose the bits
    val bitSums = (0 until 30).map(b =>
      sum(when(shiftright(col("gh"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"),
    )
    val simCol = (0 until 30)
      .map(b => when(col(s"b$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    graft.SubstrateCache.substrateColumnar(s, d, "simhash-sigs") {
      gramRows(s, d)
        .groupBy("doc_id")
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), simCol.as("sim"))
        .select(col("doc_id"), col("sim"), expr(chunksExpr))
    }
  }

  /** Chunk-banded SimHash candidate pairs at hamming ≤ maxHd:
    * (da, db, hd), deduplicated. Exhaustive for maxHd ≤ 4 (5-band
    * pigeonhole); beyond that it is exactly the candidate set the
    * production banding yields — which is what a calibration query
    * must measure, and what its oracle restates.
    */
  private def simhashPairs(s: SparkSession, d: String, maxHd: Int): DataFrame = {
    val sigs = simhashSigs(s, d)
    val l = sigs.select(col("doc_id").as("da"), col("sim").as("sa"), col("ck"), col("cv"))
    val r = sigs.select(col("doc_id").as("db"), col("sim").as("sb"), col("ck").as("ck2"), col("cv").as("cv2"))
    // hamming filter on the candidate row, then exactly-once-per-pair via
    // the FIRST-MATCHING-BAND predicate: a pair colliding in k bands used
    // to emit k rows into a dropDuplicates EXCHANGE; keeping only the row
    // whose earlier bands all differ emits each pair exactly once with a
    // scan-local predicate — the dedup shuffle (~380k rows at sf0.1,
    // candidate-volume-sized at every scale) disappears outright
    // (optimization round 18, guide §2.4). `forall` iterates j=0..ck with
    // the j >= ck guard so sequence() never sees a negative length.
    l.join(r, l("ck") === r("ck2") && l("cv") === r("cv2") && l("da") < r("db"))
      .select("da", "db", "sa", "sb", "ck")
      .withColumn("hd", expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
      .filter(col("hd") <= maxHd)
      .filter(expr(
        "forall(sequence(0, ck), j -> j >= ck OR (shiftright(sa, 6 * j) & 63) != (shiftright(sb, 6 * j) & 63))",
      ))
      .select("da", "db", "hd")
  }

  private val simhashNearDup = DeclaredQuery(
    "simhash_near_dup",
    (s, d) => simhashPairs(s, d, 4).orderBy("da", "db"),
    Some(s"""WITH $hashedGramsDuck,
             sg AS (SELECT doc_id, $simhashDuck AS sim FROM h)
             SELECT a.doc_id AS da, b.doc_id AS db,
                    CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hd
             FROM sg a JOIN sg b ON a.doc_id < b.doc_id
             WHERE bit_count(xor(a.sim, b.sim)) <= 4
             ORDER BY da, db"""),
  )

  /** Widened hamming bound for the calibration curve: 10 of 30 bits
    * spans the useful similarity range, while the production threshold
    * stays 4 (where banding is exhaustive).
    */
  private val EstMaxHd = 10

  /** SimHash estimator calibration — the `minhash_est` twin for the
    * OTHER near-dup sketch: for every chunk-banded candidate pair at
    * hamming ≤ 10, the bit-agreement similarity (30−hd)/30 against the
    * EXACT trigram-set Jaccard — the curve the hamming threshold is
    * tuned against (production asks "what Jaccard does hd = 4 buy?").
    * The candidate frame is the SHARED [[simhashPairs]] banding (the
    * estimator cannot drift from its calibration); beyond hd = 4 the
    * banding is deliberately non-exhaustive, so the oracle restates the
    * SAME chunk-collision predicate rather than all-pairs. est_s is
    * pure arithmetic (no transcendentals — nothing libm-dependent to
    * disagree cross-engine); exact_j mirrors minhash_est's left-join
    * (a chunk collision CAN pair docs with zero shared grams).
    *
    * Scale shape (measured in the round-12 sf1 sweep, not argued): the
    * chunk-collision candidate volume is Θ(n²/2⁶) — 6-bit bands have
    * only 64 values, so candidates are the quadratic pair space damped
    * by a CONSTANT, not by corpus structure. The hd ≤ 4 production
    * filter kills ~all of it cheaply (`simhash_near_dup` scaled 4.2×
    * across the sf0.1→sf1 decade), but the widened hd ≤ 10 calibration
    * keeps ~27% of collisions (P[Bin(24,½) ≤ 10] — 6 band bits agree by
    * construction), and the exact-Jaccard arm then pays gram-array work
    * per survivor: measured 56× across the decade, the suite's one real
    * super-linear query before this fix. The fix is the line the old
    * Scaladoc only alluded to, mechanized: calibration DENSITY scales
    * inversely with corpus size — a deterministic (da·31+db) mod r
    * pair sample with r = ⌈|docs|/5000⌉, identical in both engines, so
    * the exact arm sees Θ(n) pairs at any scale. r = 1 at every driver
    * fixture (≤ 5000 docs ⇒ bit-identical results, nothing sampled
    * away); at sf1 r = 10 cut the query 83.6 s → 3.5 s (measured, warm
    * substrate both times) with the calibration curve statistically
    * unchanged (a ~2.6M-pair stratum).
    * Widening the signature (4×16-bit bands at 64 bits) is the OTHER
    * lever — it shrinks the collision constant itself — and is what a
    * 100 TB corpus does to `simhash_near_dup` too; documented in
    * SCALE.md's near-dup section.
    */
  private val simhashEst = DeclaredQuery(
    "simhash_est",
    (s, d) => {
      // 1-row scalar, sizes the sample rate (cached per session/dataset)
      val nd = graft.SubstrateCache.value(s, d, "documents-n")(documents(s, d).count())
      val rate = math.max(1L, (nd + 4999L) / 5000L)
      val cand = simhashPairs(s, d, EstMaxHd)
        .filter(pmod(col("da") * 31L + col("db"), lit(rate)) === 0L)
      // exact arm as per-doc gram-SET array joins (the oracle's own
      // list_intersect formulation): with ~100× more candidates than
      // minhash_est, the exploded gh-join fanout (pairs × grams rows +
      // a pair-keyed re-agg) dominates — two doc-keyed array joins and
      // a per-row array_intersect do the same exact math with no
      // fanout and no re-aggregation, and zero-shared-gram collision
      // pairs get shared = 0 structurally instead of via a LEFT join
      val sets = gramSets(s, d)
      cand
        .join(sets.select(col("doc_id").as("da"), col("ghs").as("ga"), col("n").as("na")), Seq("da"))
        .join(sets.select(col("doc_id").as("db"), col("ghs").as("gb"), col("n").as("nb")), Seq("db"))
        .withColumn("shared", expr("CAST(size(array_intersect(ga, gb)) AS BIGINT)"))
        .withColumn(
          "est_s",
          expr("CAST(floor((30 - hd) / 30.0 * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"),
        )
        .withColumn(
          "exact_j",
          Disp.roundz(col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 4),
        )
        .select("da", "db", "hd", "est_s", "exact_j")
        .orderBy("da", "db")
    },
    Some(s"""WITH $hashedGramsDuck,
             sg AS (SELECT doc_id, $simhashDuck AS sim FROM h),
             rate AS (SELECT greatest(1, ((SELECT count(*) FROM documents) + 4999) // 5000) AS r),
             cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
                             CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hd
                      FROM sg a JOIN sg b ON a.doc_id < b.doc_id
                      WHERE bit_count(xor(a.sim, b.sim)) <= $EstMaxHd
                        AND len(list_filter(generate_series(0, 4),
                              c -> ((a.sim >> (6 * c)) & 63) = ((b.sim >> (6 * c)) & 63))) > 0
                        AND (a.doc_id * 31 + b.doc_id) % (SELECT r FROM rate) = 0),
             j AS (SELECT c.da, c.db, c.hd, ha.ghs AS ga, hb.ghs AS gb
                   FROM cand c JOIN h ha ON c.da = ha.doc_id JOIN h hb ON c.db = hb.doc_id),
             x AS (SELECT da, db, hd,
                          CAST(len(list_intersect(ga, gb)) AS BIGINT) AS shared,
                          len(ga) AS na, len(gb) AS nb
                   FROM j)
             SELECT da, db, hd,
                    CAST(floor((30 - hd) / 30.0 * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS est_s,
                    round(shared::DOUBLE / (na + nb - shared), 4) AS exact_j
             FROM x ORDER BY da, db"""),
  )

  /** Cross-source duplication matrix — the data-card report published
    * pipelines ship (e.g. duplicate rates BETWEEN CommonCrawl snapshots
    * or source mixtures): near-dup pairs from the SHARED df-capped
    * Jaccard substrate, rolled up to unordered (source, source) cells.
    * The diagonal is within-source duplication; off-diagonal cells tell
    * a mixer which sources overlap enough that their sampling weights
    * double-count content.
    *
    * At 100 TB: the pair substrate is the already-amortized inverted
    * index (cached once per session across its five consumers); this
    * adds two doc-keyed un-hinted joins to attach sources (narrow
    * (doc, source) columns — AQE broadcasts when small) and a
    * sources²-cardinality aggregation — map-side combined, trivially
    * small output regardless of corpus size.
    */
  /** Thresholds the dedup-rate curve is reported at — the ablation grid
    * published dedup studies sweep (keep-rate vs Jaccard cutoff).
    */
  private val SweepThresholds = Seq(0.3, 0.5, 0.7, 0.9)

  /** Dedup-rate-vs-threshold table: how many near-dup pairs survive each
    * candidate Jaccard cutoff — the one-look table a pipeline owner reads
    * before picking the dedup threshold (the published ablations sweep
    * exactly this grid). One pass over the SHARED df-capped pair
    * substrate; each pair explodes into the 4 grid rows and a
    * conditional count per threshold — a 4× fanout of an already-tiny
    * pair table, then a 4-row aggregation. Zero-survivor thresholds
    * still emit their row (grid × conditional sum, not filter+group).
    * The j comparison reads the SAME double both engines computed from
    * exact integer (shared, na, nb) — bit-identical, so the curve is too.
    */
  private val jaccardThresholdSweep = DeclaredQuery(
    "jaccard_threshold_sweep",
    (s, d) => {
      val thrArr = SweepThresholds.map(t => lit(t))
      jaccardPairs(s, d, SweepThresholds.min, maxDf = Some(DefaultMaxDf))
        .select(explode(array(thrArr: _*)).as("thr"), col("j"))
        .groupBy("thr")
        .agg(sum(when(col("j") >= col("thr"), 1L).otherwise(0L)).as("pairs"))
        .orderBy("thr")
    },
    Some(s"""WITH $hashedGramsDuck,
             ${jaccardPairsDuck(SweepThresholds.min, Some(DefaultMaxDf))},
             grid AS (SELECT unnest([${SweepThresholds.mkString(", ")}]) AS thr)
             SELECT thr, CAST(sum(CASE WHEN p.j >= grid.thr THEN 1 ELSE 0 END) AS BIGINT) AS pairs
             FROM grid CROSS JOIN p GROUP BY thr ORDER BY thr"""),
  )

  private val sourceOverlap = DeclaredQuery(
    "source_overlap",
    (s, d) => {
      val src = documents(s, d).select(col("doc_id"), col("source"))
      jaccardPairs(s, d, 0.3, maxDf = Some(DefaultMaxDf))
        .join(src.select(col("doc_id").as("da"), col("source").as("sa")), Seq("da"))
        .join(src.select(col("doc_id").as("db"), col("source").as("sb")), Seq("db"))
        .select(least(col("sa"), col("sb")).as("s1"), greatest(col("sa"), col("sb")).as("s2"))
        .groupBy("s1", "s2")
        .agg(count(lit(1)).as("dup_pairs"))
        .orderBy("s1", "s2")
    },
    Some(s"""WITH $hashedGramsDuck,
             ${jaccardPairsDuck(0.3, Some(DefaultMaxDf))},
             sp AS (SELECT least(x.source, y.source) AS s1,
                           greatest(x.source, y.source) AS s2
                    FROM p JOIN documents x ON p.da = x.doc_id
                           JOIN documents y ON p.db = y.doc_id)
             SELECT s1, s2, CAST(count(*) AS BIGINT) AS dup_pairs
             FROM sp GROUP BY 1, 2 ORDER BY 1, 2"""),
  )

  /** Connected components over the near-dup pair graph — the step that
    * turns pairwise matches into dedup groups (keep min-id per cluster,
    * drop the rest). Two interchangeable engines, both pure DataFrame
    * loops with a driver-side scalar per round:
    *
    *  - [[minLabelPropagation]]: every node starts labeled with itself,
    *    each round pushes labels across edges and keeps the per-node
    *    min. O(component diameter) rounds — a label crosses ONE edge per
    *    round — fine for shallow near-dup clusters.
    *  - [[starContract]] (the shipping engine): alternating
    *    large-star/small-star edge rewiring (Kiveris et al., "Connected
    *    Components in MapReduce and Beyond") — each round hangs nodes
    *    directly onto their neighborhood minimum, contracting deep
    *    components in O(log n) rounds; the fixpoint is a star per
    *    component centered at its min. This is the 100 TB path: a
    *    10⁶-deep chain converges in ~20 rounds instead of 10⁶.
    *
    * CcSpec property-tests the two engines equal on generated graphs
    * (chains, stars, random unions) and pins the log-round bound on a
    * 1000-node chain. The oracle states the fixpoint declaratively: a
    * recursive CTE walks label reachability and takes the per-node min —
    * same semantics, so the result hash-matches the iterative plans.
    */
  /** Round bound for the CC fixpoint — a conf knob
    * (`spark.graft.cc.maxRounds`) because the needed rounds scale with
    * the component structure of the corpus, not a code constant. The
    * default 20 covers star-contraction on any component up to ~2²⁰
    * nodes; exhausting it raises [[graft.ConvergenceError]] rather than
    * caching unconverged labels.
    */
  private[operators] def maxCcRounds(s: SparkSession): Int =
    s.conf.get("spark.graft.cc.maxRounds", "20").toInt

  /** Min-label propagation CC (the reference engine for CcSpec's
    * equivalence property). `nodes` = (node); `pairs` = (da, db).
    * Returns the persisted (node, lbl) fixpoint.
    */
  private[graft] def minLabelPropagation(
      nodes: DataFrame,
      pairs: DataFrame,
      maxRounds: Int,
  ): DataFrame = {
    val edges = pairs
      .select(col("da"), col("db"))
      .union(pairs.select(col("db").as("da"), col("da").as("db")))
    // loop state is localCheckpoint'ed, not persisted: each round's plan
    // must start from a LEAF, or the logical plan doubles per round and
    // analysis itself goes quadratic-to-OOM on deep graphs (on a real
    // cluster use checkpoint() with a reliable dir instead)
    var labels = nodes.select(col("node"), col("node").as("lbl")).localCheckpoint()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val prop = edges
        .join(labels, edges("da") === labels("node"))
        .select(col("db").as("node"), col("lbl"))
      // LAZY checkpoint: the change-count job below computes every
      // partition of `next`, storing the leaf's blocks as a side effect —
      // one job per round where eager-checkpoint-then-count ran two
      // (optimization round 18; guide §5 — per-round driver jobs are the
      // cost of this loop at every scale).
      val next =
        labels.union(prop).groupBy("node").agg(min("lbl").as("lbl")).localCheckpoint(false)
      changed = next
        .join(labels.withColumnRenamed("lbl", "old"), "node")
        .filter(col("lbl") =!= col("old"))
        .count()
      // superseded round state: release its blocks now instead of pinning
      // them until the ContextCleaner happens to collect the RDD
      graft.SubstrateCache.release(labels)
      labels = next
      round += 1
    }
    if (changed != 0) {
      graft.SubstrateCache.release(labels)
      throw new graft.ConvergenceError("min-label propagation", maxRounds)
    }
    labels
  }

  /** Large-star/small-star CC. Each round:
    *  - large-star: over the symmetric edge view, every neighbor LARGER
    *    than u is re-hung onto min(Γ(u) ∪ u);
    *  - small-star: on the resulting (u > v)-oriented list, u and every
    *    smaller neighbor are pointed at min(Γ(u)).
    * Converged when the canonical edge set is stable; the survivor is a
    * star per component, so labels read directly off the edges (isolated
    * nodes label themselves). Returns (materialized checkpoint-leaf
    * labels, rounds run) — the leaf form lets [[graft.SubstrateCache]]
    * adopt the result without re-materializing it, and per-query callers
    * (media_dup_clusters) read it in their output job directly.
    *
    * Job budget (optimization round 18, guide §5): ONE job per round —
    * the round's new edge set is checkpointed LAZILY and materialized by
    * the same symmetric-difference count job that decides convergence
    * (eager-checkpoint-then-count ran two jobs per round; with the
    * original two anti-join counts this loop once ran three). Superseded
    * round leaves are released as the loop advances, so a bench rep
    * leaves exactly one leaf (the labels) in the block manager instead of
    * rounds+2 — at 8 GiB driver heap the dead blocks were real memory
    * pressure on every query that runs after a CC consumer.
    */
  private[graft] def starContract(
      nodes: DataFrame,
      pairs: DataFrame,
      maxRounds: Int,
  ): (DataFrame, Int) = {
    // loop state is localCheckpoint'ed (leaf per round) — see
    // minLabelPropagation's note on lineage growth
    // lazy like the round leaves: round 1's count job materializes it
    // (an empty edge set converges in round 1, so at least one job always
    // runs — the leaf never stays unmaterialized)
    var edges = pairs
      .select(greatest(col("da"), col("db")).as("u"), least(col("da"), col("db")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym
        .groupBy("u")
        .agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym
        .join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      val ssMin = ls.groupBy("u").agg(min("v").as("m"))
      // LAZY checkpoint: the symmetric-difference count below computes
      // every partition of `next`, storing the leaf's blocks as a side
      // effect — checkpoint materialization and convergence check share
      // ONE job per round (eager + count ran two; the original two
      // anti-join counts ran three).
      val next = ls
        .join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(ssMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)
      // stability check: ONE symmetric-difference COUNT (a scalar) — never
      // edge data on the driver (each side is distinct, so w=1 rows are
      // exactly the symmetric difference and 0 of them ⟺ set equality).
      val changed = next
        .select(col("u"), col("v"), lit(1L).as("w"))
        .unionByName(edges.select(col("u"), col("v"), lit(1L).as("w")))
        .groupBy("u", "v")
        .agg(sum("w").as("w"))
        .filter(col("w") === 1L)
        .count()
      // the superseded round's leaf: release its blocks now instead of
      // pinning them until the ContextCleaner happens to collect the RDD
      graft.SubstrateCache.release(edges)
      edges = next
      round += 1
      converged = changed == 0
    }
    if (!converged) {
      graft.SubstrateCache.release(edges)
      throw new graft.ConvergenceError("large-star/small-star contraction", maxRounds)
    }
    val labels = nodes
      .join(edges.select(col("u").as("node"), col("v").as("lbl")), Seq("node"), "left")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
      .localCheckpoint(true)
    graft.SubstrateCache.release(edges)
    (labels, round)
  }

  /** Incrementally maintain a CONVERGED min-label CC table under a batch
    * of new nodes and new edges — the 100 TB ingest path: re-running the
    * full fixpoint per micro-batch costs O(corpus · log n) every time,
    * while this contracts the batch's edges on the QUOTIENT graph (each
    * endpoint projected to its current component label), whose size is
    * O(batch), and pushes the resulting relabel map back over the
    * standing table with one broadcast join.
    *
    * Correct because converged labels are component minima: contracting
    * a graph by its own components preserves connectivity, labels are
    * original node ids, and min-of-mins = global min — so star
    * contraction over (label(a), label(b)) edges yields exactly the
    * labels a full recompute over (all old ∪ new) edges would
    * (StreamingSpec proves the equivalence across multi-batch runs).
    * Rounds scale with the number of components a single batch MERGES
    * (typically O(1)), never with corpus depth.
    *
    * `prevLabels` = (node, lbl) converged; `newNodes` = (node) for the
    * batch (unseen ids self-label); `newPairs` = (da, db) with endpoints
    * old or new. Every endpoint MUST appear in `prevLabels` or
    * `newNodes` — a stray endpoint would silently get no output row (its
    * relabel entry dangles), so the contract is enforced with a cheap
    * guard: the label double-join is persisted and SHARED between the
    * guard's probe and the quotient (it executes once per batch, not
    * twice), endpoints it leaves unmatched are anti-joined against the
    * batch's nodes — O(batch) work — and a nonempty remainder raises
    * [[graft.MalformedStateError]] instead of dropping labels. Returns a
    * materialized (localCheckpoint'ed) label table.
    */
  def incrementalCcLabels(
      prevLabels: DataFrame,
      newNodes: DataFrame,
      newPairs: DataFrame,
      maxRounds: Int,
  ): DataFrame = {
    val la = prevLabels.select(col("node").as("da"), col("lbl").as("la"))
    val lb = prevLabels.select(col("node").as("db"), col("lbl").as("lb"))
    // persisted so the label double-join executes ONCE and is shared by
    // the stray guard's probe and the quotient — an unshared plan would
    // re-run the corpus-cardinality prevLabels join on every micro-batch
    // just to evaluate the guard
    val joined = newPairs
      .select("da", "db")
      .join(la, Seq("da"), "left")
      .join(lb, Seq("db"), "left")
      .persist()
    // try/finally so the cache is released on EVERY exit — the stray
    // guard's throw, a non-converging starContract throw, or success
    // (starContract materializes its result into a checkpoint leaf, so
    // the shared double-join frame is not needed past this block)
    val relabel =
      try {
        val strays = joined
          .filter(col("la").isNull)
          .select(col("da").as("node"))
          .union(joined.filter(col("lb").isNull).select(col("db").as("node")))
          .distinct()
          .join(newNodes.select("node"), Seq("node"), "left_anti")
          .limit(5)
          .collect()
        if (strays.nonEmpty) {
          throw new graft.MalformedStateError(
            s"incremental CC pair endpoints in neither prevLabels nor newNodes: " +
              strays.map(_.get(0)).mkString(", "))
        }
        val quotient = joined
          .select(coalesce(col("la"), col("da")).as("da"), coalesce(col("lb"), col("db")).as("db"))
          .filter(col("da") =!= col("db"))
        val qNodes = quotient
          .select(col("da").as("node"))
          .union(quotient.select(col("db").as("node")))
          .distinct()
        starContract(qNodes, quotient, maxRounds)._1
      } finally {
        joined.unpersist(blocking = false)
      }
    val withNew = prevLabels.unionByName(
      newNodes
        .join(prevLabels.select("node"), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("lbl")),
    )
    val out = withNew
      .join(
        broadcast(relabel.select(col("node").as("lbl"), col("lbl").as("graft_new_lbl"))),
        Seq("lbl"),
        "left",
      )
      .select(col("node"), coalesce(col("graft_new_lbl"), col("lbl")).as("lbl"))
      .localCheckpoint()
    // the quotient fixpoint's labels are a checkpoint leaf: release goes
    // through the leaf's RDD (Dataset.unpersist would silently leak it)
    graft.SubstrateCache.release(relabel)
    out
  }

  /** The converged (node, lbl) label table, served from the substrate
    * cache: intermediates are unpersisted inside the loop, the survivor
    * is owned (and eventually evicted) by the cache registry instead of
    * leaking per invocation. Shared by `dedup_clusters` (the raw labels)
    * and `cluster_keeper` (the quality-keeper policy over them) — the CC
    * fixpoint runs ONCE per dataset no matter how many downstream
    * policies consume it.
    */
  /** DuckDB twin of [[ccLabels]] as CTE text (expects the gram + pair
    * CTEs `h`/`p` in scope, yields `lbl(doc_id, cluster_id)`): reachable
    * labels walked recursively, per-node minimum taken — the same
    * fixpoint the iterative engines converge to.
    */
  private val ccLabelsDuck: String =
    """edges AS (SELECT da AS src, db AS dst FROM p
      |          UNION ALL SELECT db, da FROM p),
      |reach AS (SELECT doc_id AS node, doc_id AS lbl FROM documents
      |          UNION
      |          SELECT e.dst AS node, r.lbl
      |          FROM reach r JOIN edges e ON r.node = e.src),
      |lbl AS (SELECT node AS doc_id, min(lbl) AS cluster_id
      |        FROM reach GROUP BY node)""".stripMargin

  private def ccLabels(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrate(s, d, s"cc-labels:0.3:df$DefaultMaxDf") {
      val pairs = jaccardPairs(s, d, 0.3, maxDf = Some(DefaultMaxDf)).select(col("da"), col("db"))
      val nodes = documents(s, d).select(col("doc_id").as("node"))
      starContract(nodes, pairs, maxCcRounds(s))._1
    }

  private val dedupClusters = DeclaredQuery(
    "dedup_clusters",
    (s, d) => {
      ccLabels(s, d)
        .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $hashedGramsDuck,
             ${jaccardPairsDuck(0.3, Some(DefaultMaxDf))},
             $ccLabelsDuck
             SELECT doc_id, cluster_id FROM lbl ORDER BY doc_id"""),
  )

  /** Duplicate-cluster size distribution — the diagnostic published
    * dedup papers report (how much of the corpus sits in 2-member pairs
    * vs boilerplate mega-clusters) and the number an operator watches to
    * catch a broken threshold before shipping a corpus. Two cheap
    * aggregations over the SHARED cc-labels substrate (label → size →
    * histogram; the CC fixpoint is NOT re-run) — at 100 TB this is two
    * narrow partial+final aggs over (doc_id, label) pairs, with the
    * second input bounded by the cluster count. `n_docs = size ×
    * n_clusters` audits against the corpus total.
    */
  private val clusterSizeHist = DeclaredQuery(
    "cluster_size_hist",
    (s, d) => {
      ccLabels(s, d)
        .groupBy("lbl")
        .agg(count(lit(1)).as("sz"))
        .groupBy("sz")
        .agg(count(lit(1)).as("n_clusters"))
        .select(
          col("sz").cast("long").as("cluster_size"),
          col("n_clusters"),
          (col("sz") * col("n_clusters")).cast("long").as("n_docs"),
        )
        .orderBy("cluster_size")
    },
    Some(s"""WITH RECURSIVE $hashedGramsDuck,
             ${jaccardPairsDuck(0.3, Some(DefaultMaxDf))},
             $ccLabelsDuck,
             cs AS (SELECT cluster_id, count(*) AS sz FROM lbl GROUP BY 1)
             SELECT CAST(sz AS BIGINT) AS cluster_size,
                    count(*) AS n_clusters,
                    CAST(sz * count(*) AS BIGINT) AS n_docs
             FROM cs GROUP BY sz ORDER BY cluster_size"""),
  )

  /** Quality-aware canonical selection: one KEEPER per near-dup cluster —
    * the document with the most distinct words (min doc_id breaking ties,
    * an integer-exact policy so both engines pick the same row) — plus the
    * member count that says how much the cluster collapses. This is the
    * step a production dedup actually ships: `dedup_clusters` finds the
    * groups, this picks which copy survives. Runs entirely off the shared
    * cc-labels substrate (the CC fixpoint is NOT re-run) plus one
    * per-cluster window — at 100 TB the added cost is one shuffle of
    * (doc_id, cluster_id, score) triples, never the text.
    */
  /** The keeper POLICY over an arbitrary converged (doc_id, cluster_id)
    * label table — shared by the declared query (cc-labels substrate) and
    * the incrementally-maintained ingest labels ([[incrementalCcLabels]];
    * StreamingSpec serves the keeper off the maintained table and
    * hash-compares it to the declared result), so the survival rule
    * cannot drift between the batch and ingest paths.
    */
  def keeperTable(labels: DataFrame, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = docs.select(
      col("doc_id"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct_words"),
    )
    val w = Window
      .partitionBy("cluster_id")
      .orderBy(col("n_distinct_words").desc, col("doc_id"))
    labels
      .join(quality, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("keeper_id"),
        max(when(col("rk") === 1, col("n_distinct_words"))).as("keeper_distinct"),
      )
      .orderBy("cluster_id")
  }

  private val clusterKeeper = DeclaredQuery(
    "cluster_keeper",
    (s, d) =>
      keeperTable(
        ccLabels(s, d).select(col("node").as("doc_id"), col("lbl").as("cluster_id")),
        documents(s, d),
      ),
    Some(s"""WITH RECURSIVE $hashedGramsDuck,
             ${jaccardPairsDuck(0.3, Some(DefaultMaxDf))},
             $ccLabelsDuck,
             q AS (SELECT doc_id,
                          CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words
                   FROM documents),
             r AS (SELECT l.cluster_id, l.doc_id, q.n_distinct_words,
                          row_number() OVER (PARTITION BY l.cluster_id
                                             ORDER BY q.n_distinct_words DESC, l.doc_id) AS rk
                   FROM lbl l JOIN q USING (doc_id))
             SELECT cluster_id, count(*) AS n_members,
                    max(CASE WHEN rk = 1 THEN doc_id END) AS keeper_id,
                    max(CASE WHEN rk = 1 THEN n_distinct_words END) AS keeper_distinct
             FROM r GROUP BY 1 ORDER BY 1"""),
  )

  /** Train/val assignment done at the dedup-CLUSTER level, not the
    * document level — the leakage guard every published pipeline needs:
    * splitting documents independently puts near-duplicate pairs on both
    * sides of the split, leaking training text into eval verbatim.
    * Assigning whole CC clusters (via the shared cc-labels substrate —
    * no new fixpoint runs) makes straddling impossible by construction;
    * DedupSimilaritySpec asserts that invariant directly over the pair
    * table. The 80/20 rule is pure integer arithmetic on the cluster
    * label (min doc id), so both engines state the identical assignment
    * with no cross-engine hash to agree on. At 100 TB this is one
    * broadcast-free projection over the label substrate.
    */
  private val leakageSafeSplit = DeclaredQuery(
    "leakage_safe_split",
    (s, d) =>
      ccLabels(s, d)
        .select(
          col("node").as("doc_id"),
          col("lbl").as("cluster_id"),
          when(pmod(col("lbl"), lit(10)) < 8, lit("train")).otherwise(lit("val")).as("split"),
        )
        .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE $hashedGramsDuck,
             ${jaccardPairsDuck(0.3, Some(DefaultMaxDf))},
             $ccLabelsDuck
             SELECT doc_id, cluster_id,
                    CASE WHEN cluster_id % 10 < 8 THEN 'train' ELSE 'val' END AS split
             FROM lbl ORDER BY doc_id"""),
  )

  /** Declared form of [[nearDupsAgainst]]: docs below id 400 are the
    * standing corpus, the rest arrive as the new batch — the per-ingest
    * near-dup check a production pipeline runs on every batch.
    */
  private val IncrementalSplit = 400L

  private val incrementalDedup = DeclaredQuery(
    "incremental_dedup",
    (s, d) => {
      // both sides from the ONE cached gram substrate (shared with every
      // other dedup query) — the batch split is a filter, not a re-hash —
      // and the pair table is itself a substrate (same pattern as
      // jaccardPairs), so Bench reps and downstream stages reuse it
      val pairs = graft.SubstrateCache.substrate(s, d, s"inc-pairs:0.3:$IncrementalSplit") {
        val g = gramRows(s, d).withColumn("is_new", col("doc_id") >= IncrementalSplit)
        nearDupsFromGrams(g.filter(col("is_new")), g, minJ = 0.3)
      }
      pairs
        .select(col("new_id"), col("other_id"), col("shared"), Disp.roundz(col("j"), 3).as("j"))
        .orderBy("new_id", "other_id")
    },
    Some(s"""WITH $hashedGramsDuck,
             e AS (SELECT doc_id, len(ghs) AS n, unnest(ghs) AS gram FROM h),
             x AS (SELECT * FROM e WHERE doc_id >= $IncrementalSplit),
             p0 AS (SELECT x.doc_id AS da, y.doc_id AS db, x.n AS na, y.n AS nb, count(*) AS shared
                    FROM x JOIN e y ON x.gram = y.gram AND x.doc_id <> y.doc_id
                    GROUP BY 1, 2, 3, 4),
             p AS (SELECT da, db, shared, shared::DOUBLE / (na + nb - shared) AS j
                   FROM p0 WHERE shared::DOUBLE / (na + nb - shared) >= 0.3)
             SELECT da AS new_id, db AS other_id, shared, round(j, 3) AS j
             FROM p WHERE db < $IncrementalSplit OR da < db
             ORDER BY new_id, other_id"""),
  )

  /** Entity-resolution fuzzy join via DELETION-NEIGHBORHOOD blocking
    * (the SymSpell idea, distributed): lev(u,v) ≤ 1 ⟺ the single-deletion
    * neighborhoods D₁(u) ∩ D₁(v) ≠ ∅, where D₁ includes the string
    * itself (equality → the self key; substitution at i → delete i from
    * both; insert/delete → deleting the extra char reaches the other
    * string verbatim). So an equi-join on exploded deletion keys is a
    * COMPLETE candidate generator for distance ≤ 1, and the exact
    * `levenshtein` residual removes the (lev = 2) collisions the blocking
    * admits. The oracle states the all-pairs O(n²) semantics directly —
    * blocked physical plan, declarative oracle, same rows.
    *
    * At 100 TB: candidates are (name × (len+1)) key rows — linear in the
    * corpus with a length-bounded constant — against the quadratic
    * all-pairs a naive fuzzy join runs. Unlike shingles (whose document
    * frequency is corpus-bounded, hence the df-cap), a deletion key's
    * fan-in has a HARD structural bound: a string of length L−1 is the
    * deletion of at most |Σ|·L + 1 distinct strings (insert any alphabet
    * char at any position, or the string itself), so per-key join width
    * is alphabet × length — never corpus-scale — and no cap is needed.
    */
  /** The lev ≤ 1 pair table (da < db, dist), substrate-cached: built by
    * the deletion-neighborhood blocked join once per dataset and shared
    * by `fuzzy_name_join` (the pairs) and `fuzzy_triangles` (the graph
    * over them) — the same one-build-many-consumers pattern as the gram
    * and cc-label substrates.
    */
  private def fuzzyPairs(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrate(s, d, "fuzzy-pairs:1") {
      val sup = supplier(s, d).select(col("s_suppkey").as("id"), col("s_name").as("name"))
      val keys = sup.withColumn(
        "k",
        explode(expr(
          """transform(sequence(0, length(name)),
            |  i -> IF(i = 0, name,
            |          concat(substring(name, 1, i - 1),
            |                 substring(name, i + 1, length(name)))))""".stripMargin,
        )),
      )
      val a = keys.select(col("id").as("da"), col("name").as("na"), col("k"))
      val b = keys.select(col("id").as("db"), col("name").as("nb"), col("k").as("k2"))
      a.join(b, a("k") === b("k2") && a("da") < b("db"))
        .select("da", "db", "na", "nb")
        .distinct()
        .filter(levenshtein(col("na"), col("nb")) <= 1)
        .select(col("da"), col("db"), levenshtein(col("na"), col("nb")).cast("long").as("dist"))
    }

  private val fuzzyNameJoin = DeclaredQuery(
    "fuzzy_name_join",
    (s, d) => fuzzyPairs(s, d).orderBy("da", "db"),
    Some("""SELECT a.s_suppkey AS da, b.s_suppkey AS db,
                   CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
            FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
            WHERE levenshtein(a.s_name, b.s_name) <= 1
            ORDER BY da, db"""),
  )

  /** Triangle counting over the fuzzy-match graph — graph analytics past
    * connected components: per node, how many triangles it participates
    * in. Edges are oriented by DEGREE order — u→v iff
    * (deg(u), u) < (deg(v), v) — so every node's out-degree is bounded
    * by O(√m) (more precisely the graph's arboricity/degeneracy), and
    * the wedge join over pairs of out-neighbors generates
    * Σ_u out-deg(u)² ≤ O(m^1.5) candidates WHATEVER the degree skew: a
    * celebrity hub with degree d contributes out-edges only toward
    * higher-degree nodes, of which there are ≤ 2m/d, killing the O(d²)
    * blowup an id-ordered orientation suffers. Each triangle is counted
    * exactly once, at its lowest-rank apex, because the closing edge
    * between the two rank-ordered out-neighbors — if present — is
    * necessarily oriented low-rank→high-rank. Counts are
    * orientation-invariant, so the all-pairs oracle is unchanged. All
    * joins key on node ids; the degree table is node-sized (≪ edges)
    * and broadcasts.
    */
  private val fuzzyTriangles = DeclaredQuery(
    "fuzzy_triangles",
    (s, d) => {
      // substrate-cached: the oriented table feeds BOTH wedge sides and the
      // closing-edge probe — uncached, each of the three references would
      // re-run the degree aggregation and both degree joins
      val o = graft.SubstrateCache.substrate(s, d, "fuzzy-oriented:1") {
        val e = fuzzyPairs(s, d).select("da", "db")
        val deg = e
          .select(col("da").as("node"))
          .unionByName(e.select(col("db").as("node")))
          .groupBy("node")
          .agg(count(lit(1)).as("deg"))
        val ed = e
          .join(deg.select(col("node").as("da"), col("deg").as("dega")), Seq("da"))
          .join(deg.select(col("node").as("db"), col("deg").as("degb")), Seq("db"))
        val aFirst =
          col("dega") < col("degb") || (col("dega") === col("degb") && col("da") < col("db"))
        // oriented edge (u → v) with rank(u) < rank(v); carry deg(v) so the
        // wedge join can rank-order the out-neighbor pair without a re-join
        ed.select(
          when(aFirst, col("da")).otherwise(col("db")).as("u"),
          when(aFirst, col("db")).otherwise(col("da")).as("v"),
          when(aFirst, col("degb")).otherwise(col("dega")).as("degv"),
        )
      }
      val w2 = o.select(col("u").as("u2"), col("v").as("w"), col("degv").as("degw"))
      val closing = o.select(col("u").as("v3"), col("v").as("w3"))
      o.join(
        w2,
        col("u") === col("u2") &&
          (col("degv") < col("degw") || (col("degv") === col("degw") && col("v") < col("w"))),
      )
        .join(closing, col("v") === col("v3") && col("w") === col("w3"))
        .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
        .groupBy("node")
        .agg(count(lit(1)).as("n_tri"))
        .orderBy("node")
    },
    Some("""WITH p AS (SELECT a.s_suppkey AS da, b.s_suppkey AS db
                       FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
                       WHERE levenshtein(a.s_name, b.s_name) <= 1),
            t AS (SELECT e1.da AS a, e1.db AS b, e2.db AS c
                  FROM p e1 JOIN p e2 ON e1.db = e2.da
                  JOIN p e3 ON e3.da = e1.da AND e3.db = e2.db),
            n AS (SELECT unnest([a, b, c]) AS node FROM t)
            SELECT node, count(*) AS n_tri FROM n GROUP BY 1 ORDER BY 1"""),
  )

  /** PageRank scaling: ranks live as exact integers ×10¹² so the
    * distributed per-node contribution sums are order-invariant BIGINT
    * arithmetic (a raw double PageRank can never hash-match across
    * engines/partitionings); 5 fixed iterations, damping 85/100 — all
    * divisions are positive-integer floor division, identical in both
    * engines.
    */
  private[graft] val PrScale = 1000000000000L
  private[graft] val PrIters = 5

  /** The symmetric rank engine behind `fuzzy_pagerank`, `knn_pagerank`
    * and `textrank_keywords`: weighted PageRank over the undirected edge
    * frame `edges` (a, b, w), one row per pair. The adjacency (both
    * directions of every pair, grouped by source node into [[Adj]]) is
    * the one shuffle of the graph: it is hash-partitioned on
    * `spark.sql.shuffle.partitions` and pinned under `tag` once per
    * (session, dataset), with its node count and the node type (`a`'s:
    * long for the supplier and vector graphs, string for the term graph).
    * Each call runs the [[pagerankSymmetric]] rounds over it and returns
    * unordered (node, r): on a cache hit, one Spark job of [[PrIters]] + 1
    * stages.
    */
  private[graft] def symmetricRank(s: SparkSession, d: String, tag: String)(
      edges: => DataFrame,
  ): DataFrame = {
    val (adj, (n, nodeType)) = graft.SubstrateCache.rdd(s, d, tag) {
      val e = edges
      val adj = e
        .select("a", "b", "w")
        .rdd
        .flatMap { r => Iterator((r.get(0), (r.get(1), r.getLong(2))), (r.get(1), (r.get(0), r.getLong(2)))) }
        .groupByKey(new HashPartitioner(s.conf.get("spark.sql.shuffle.partitions").toInt))
        .mapValues { out =>
          val (dst, w) = out.toArray.unzip
          (dst, w, w.sum)
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      (adj, (adj.count(), e.schema("a").dataType))
    }
    val schema = StructType(Seq(StructField("node", nodeType), StructField("r", LongType)))
    s.createDataFrame(pagerankSymmetric(adj, n).map { case (v, r) => Row(v, r) }, schema)
  }

  /** A node's out-edges in the symmetric graph: neighbors, their weights
    * and the weighted out-degree `wdeg = Σ w`.
    */
  private type Adj = (Array[Any], Array[Long], Long)

  /** The [[PrIters]] weighted symmetric PageRank rounds over a
    * [[symmetricRank]] adjacency of `n` nodes:
    * r'(b) = base + 85·(Σ_a (r(a) DIV wdeg(a))·w(a,b)) DIV 100. Each
    * term is ≤ r(a) because w(a,b) ≤ wdeg(a), so the sum is bounded by
    * Σr ≈ 10¹² — Long-safe at any graph size, unlike the naive r·w
    * ordering whose product crosses 2⁶³ once weights reach 10⁷. With
    * w = 1 it is the unweighted recurrence. Because both directions of
    * every pair are present, every node has out-degree ≥ 1 (no dangling
    * mass) and in-degree ≥ 1 (the contribution sums cover all nodes), so
    * the rounds skip both the dangling term and a node re-join. A
    * DIRECTED edge list silently leaks rank mass here — use [[pagerank]],
    * which carries the dangling term. An empty graph has no ranks.
    *
    * The ranks share the adjacency's partitioner, so each round's join
    * is narrow and its one shuffle is the `reduceByKey` of the
    * contributions (map-side combined, node-sized): the adjacency never
    * moves, nothing is broadcast, and the rounds are one lazy RDD whose
    * collect is one job of [[PrIters]] + 1 stages.
    */
  private def pagerankSymmetric(adj: RDD[(Any, Adj)], n: Long): RDD[(Any, Long)] = {
    if (n == 0) return adj.mapValues(_ => 0L)
    val parts = adj.partitioner.get
    val base = (15L * PrScale) / (100L * n)
    var ranks = adj.mapValues(_ => PrScale / n)
    for (_ <- 1 to PrIters) {
      ranks = adj
        .join(ranks, parts)
        .flatMap { case (_, ((dst, w, wdeg), r)) =>
          val q = r / wdeg
          dst.indices.iterator.map(i => (dst(i), q * w(i)))
        }
        .reduceByKey(parts, _ + _)
        .mapValues(sc => base + (85L * sc) / 100L)
    }
    ranks
  }

  /** The oracle's [[PrIters]] rounds of the same recurrence, unrolled as
    * DuckDB CTEs `pr1`… over CTEs `nodes`, `nn` (node count) and `pr0`:
    * edge CTE `e` (da, db) joined to degree CTE `deg` on da. `sc` spells
    * the neighbor sum from the previous round's name, text following
    * "SELECT e.db AS node,".
    */
  private[graft] def rankRoundsDuck(e: String, deg: String)(sc: String => String): String = {
    val base = s"(15 * $PrScale) // (100 * (SELECT n FROM nn))"
    (1 to PrIters)
      .map { i =>
        val p = s"pr${i - 1}"
        s"""pr$i AS (SELECT nodes.node,
           |               CAST($base + (85 * coalesce(s.sc, 0)) // 100 AS BIGINT) AS r
           |        FROM nodes LEFT JOIN (
           |          SELECT $e.db AS node,${sc(p)} AS sc
           |          FROM $e JOIN $p ON $e.da = $p.node
           |                 JOIN $deg ON $deg.da = $e.da
           |          GROUP BY $e.db) s USING (node))""".stripMargin
      }
      .mkString(",\n")
  }

  /** PageRank over an arbitrary DIRECTED edge list — the reusable form of
    * the `fuzzy_pagerank` recurrence, safe on graphs the symmetric fast
    * path is not. `edges`' first two columns are read as (src, dst). Two
    * things the symmetric loop assumes away are handled here:
    *
    *  - nodes with out-degree 0 (dangling): their rank is redistributed
    *    uniformly each round (`dshare = danglingSum DIV n`, one scalar row
    *    cross-joined into the update). Without this term a directed graph
    *    (web links, citations) silently leaks mass toward the teleport
    *    floor.
    *  - nodes with in-degree 0: they receive no contributions, so each
    *    round left-joins the full node set and coalesces the sum to 0 —
    *    the same shape the DuckDB oracle states for the declared query.
    *
    * Arithmetic is the same exact-integer recurrence (ranks ×10¹², floor
    * division) so results stay order-invariant; on a symmetric edge view
    * the dangling set is empty and in-degrees are all ≥ 1, so this reduces
    * to [[pagerankSymmetric]]'s recurrence exactly. Empty input → empty
    * (node, r) frame.
    *
    * At 100 TB: per round, one node-keyed hash join + agg for
    * contributions, one left_anti + single-row aggregate for the dangling
    * sum (a scalar, broadcast by the cross join), one left join against
    * the node set. All state is (node, long) pairs.
    */
  def pagerank(edges: DataFrame, iters: Int = PrIters): DataFrame = {
    val cols = edges.columns
    val e = edges.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
    val ewd = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), Seq("src"))
    val nodes = e
      .select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    val n = nodes.count()
    if (n == 0) {
      // release the cached (empty) node set before the early return —
      // same ownership rule as the fixpoint loops: whoever persists,
      // unpersists
      nodes.unpersist(blocking = false)
      return nodes.select(col("node"), lit(0L).as("r"))
    }
    val base = (15L * PrScale) / (100L * n)
    val sources = e.select(col("src").as("node")).distinct()
    var ranks = nodes.select(col("node"), lit(PrScale / n).as("r"))
    for (_ <- 1 to iters) {
      val contrib = ewd
        .join(ranks, ewd("src") === ranks("node"))
        .select(col("dst").as("node"), expr("r DIV deg").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("sc"))
      val dangShare = ranks
        .join(sources, Seq("node"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dtot"))
        .select(expr(s"dtot DIV $n").as("dshare"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .crossJoin(dangShare)
        .select(
          col("node"),
          (lit(base) + expr("(85 * (coalesce(sc, 0) + dshare)) DIV 100")).as("r"),
        )
    }
    // Materialize the final ranks (localCheckpoint truncates the
    // iters-deep lineage too), then release the cached node set — a lazy
    // return would either leak the cache or silently recompute `nodes`
    // 3×iters times in the caller's job.
    val out = ranks.orderBy("node").localCheckpoint(true)
    nodes.unpersist(blocking = false)
    out
  }

  /** [[pagerank]]'s recurrence as a driver-side fold for STRUCTURE-SIZED
    * graphs (the mmr_rerank bounded-collect class): same exact-integer
    * arithmetic — base = 15·scale/(100n) and init = scale/n in Long
    * division, per-round contribution Σ r/deg over in-edges, dangling
    * mass redistributed as (Σ_{no out-edge} r)/n, update
    * base + 85·(contrib + dshare)/100 — over non-negative Longs, where
    * Scala `/` ≡ Spark `DIV`, and every sum is of exact integers, so the
    * result is bit-identical to the distributed engine by construction
    * (PageRankSpec pins the equality). Use when the edge list is bounded
    * by STRUCTURE (|event types|², a vocabulary) rather than corpus size:
    * the distributed engine pays 5 rounds of join+agg+left-join tiny-stage
    * churn that dominated the bench (transition_pagerank 4.3 s at sf0.1)
    * while the graph itself never exceeds a few hundred rows. Corpus-sized
    * graphs (fuzzy_pagerank) stay distributed, on [[symmetricRank]].
    */
  private[graft] def pagerankLocal(
      edges: Seq[(String, String)],
      iters: Int = PrIters,
  ): Seq[(String, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    if (n == 0) return Seq.empty
    val base = (15L * PrScale) / (100L * n)
    val deg = edges.groupBy(_._1).map { case (src, es) => src -> es.length.toLong }
    val sources = deg.keySet
    var r = nodes.map(v => v -> (PrScale / n)).toMap
    for (_ <- 1 to iters) {
      val contrib = edges
        .groupBy(_._2)
        .map { case (dst, es) => dst -> es.map(e => r(e._1) / deg(e._1)).sum }
      val dshare = nodes.filterNot(sources.contains).map(r).sum / n
      r = nodes.map(v => v -> (base + (85L * (contrib.getOrElse(v, 0L) + dshare)) / 100L)).toMap
    }
    nodes.map(v => v -> r(v))
  }

  /** PageRank over the fuzzy-match graph — centrality joins CC
    * (`dedup_clusters`) and triangles (`fuzzy_triangles`) in the graph
    * family: which records sit at the hubs of the match graph (a high-rank
    * node in an entity-resolution graph is the canonical-record candidate,
    * the link-analysis twin of `cluster_keeper`'s quality policy).
    *
    * It runs on [[symmetricRank]] with unit weights: isolated suppliers
    * are out of the graph by construction (nodes = edge endpoints), so
    * the symmetric edge view has no dangling node. The oracle UNROLLS the
    * same 5 iterations as chained CTEs — DuckDB's recursive CTEs cannot
    * aggregate over the recursive table, and unrolling states the
    * identical integer arithmetic declaratively.
    */
  private val fuzzyPagerank = DeclaredQuery(
    "fuzzy_pagerank",
    (s, d) => {
      symmetricRank(s, d, "rank-edges:fuzzy") {
        fuzzyPairs(s, d).select(col("da").as("a"), col("db").as("b"), lit(1L).as("w"))
      }.orderBy("node")
    }, {
      val steps = rankRoundsDuck("e", "deg")(p => s" sum($p.r // deg.deg)")
      Some(s"""WITH p AS (SELECT a.s_suppkey AS da, b.s_suppkey AS db
               FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
               WHERE levenshtein(a.s_name, b.s_name) <= 1),
               e AS (SELECT da, db FROM p UNION ALL SELECT db, da FROM p),
               deg AS (SELECT da, count(*) AS deg FROM e GROUP BY 1),
               nodes AS (SELECT DISTINCT da AS node FROM e),
               nn AS (SELECT count(*) AS n FROM nodes),
               pr0 AS (SELECT node, CAST($PrScale // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes),
               $steps
               SELECT node, r FROM pr$PrIters ORDER BY node""")
    },
  )

  /** Positional gram rows `(doc_id, pos, gh)` for arbitrary
    * `(doc_id, text)` docs — one row per trigram OCCURRENCE (pos =
    * starting word index, 0-based).
    */
  private def gramPosRowsOf(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("ghs", expr("graft_gram_hashes_pos(split(text, ' '))"))
      .select(col("doc_id"), posexplode(col("ghs")).as(Seq("pos", "gh")))
  }

  /** Positional gram substrate over the corpus — the distinct-set
    * `gram-rows` substrate can't serve span queries because boundaries
    * need every occurrence. Same row width and scale class: O(corpus
    * tokens) narrow rows, text never leaves the scan.
    */
  private[graft] def gramPosRows(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrate(s, d, "gram-pos-rows")(gramPosRowsOf(documents(s, d)))

  /** Coalesce marked gram positions `(doc_id, pos, ...)` into maximal
    * islands via the pos − row_number() grouping — THE span definition,
    * shared by [[dupIslands]] and [[spansAgainst]] so it cannot drift.
    */
  private def islandsOf(marked: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    marked
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy(col("doc_id"), (col("pos") - col("rn")).as("grp"))
      .agg(
        min("pos").cast("long").as("span_start"),
        (max("pos") - min("pos") + lit(3)).cast("long").as("span_words"),
        count(lit(1)).as("n_grams"),
      )
      .select("doc_id", "span_start", "span_words", "n_grams")
  }

  /** Maximal spans of `docs` whose every trigram also occurs in the
    * STANDING gram set `corpusGhs` (a one-column `gh` frame, typically
    * the persisted signature store's distinct hashes) — the ingest-time
    * twin of `repeated_spans`: state is read-only, batches are
    * embarrassingly independent, and the per-batch cost is one semi-join
    * plus batch-local island windows. Both the batch query and the
    * streaming screen ([[graft.streaming.DocIngest.startSpanScreen]])
    * call THIS, so the span definition cannot drift.
    */
  def spansAgainst(corpusGhs: DataFrame, docs: DataFrame): DataFrame =
    islandsOf(
      gramPosRowsOf(docs).join(corpusGhs.select("gh").distinct(), Seq("gh"), "left_semi"),
    )

  /** Exact repeated-substring spans — the substring-level exact-dedup
    * surface of published training-data pipelines (find every maximal
    * span whose n-grams all occur elsewhere in the corpus; those spans
    * are cut or used to drop documents). Reference analogue: the range
    * enumeration pattern of onefs.py:1192-1196 — here the "ranges" are
    * discovered, not declared.
    *
    * Shape: (1) mark duplicated gram occurrences — groupBy(gh) count
    * with map-side partials, then an UN-hinted join back (the gram table
    * is corpus-cardinality: never broadcast — the round-6 lesson; AQE
    * absorbs hot-boilerplate skew); (2) coalesce consecutive duplicated
    * positions per document into maximal islands with the classic
    * pos − row_number() grouping — one doc-partitioned window bounded by
    * document length. Two shuffles total (gh, then doc_id), both on
    * narrow (long, int, long) rows. span_words = last − first + 3 covers
    * the trailing trigram's words.
    */
  /** The maximal duplicated islands (doc_id, span_start, span_words,
    * n_grams) — shared by `repeated_spans` (reporting) and `span_scrub`
    * (cutting), so the gh-count + island window runs once per dataset
    * (the signature-store pattern) no matter how many consumers read it.
    */
  private def dupIslands(s: SparkSession, d: String): DataFrame =
    graft.SubstrateCache.substrate(s, d, "dup-islands")(dupIslandsBuild(s, d))

  private def dupIslandsBuild(s: SparkSession, d: String): DataFrame = {
    val e = gramPosRows(s, d)
    val dupGrams = e.groupBy("gh").agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
    islandsOf(e.join(dupGrams.select("gh"), Seq("gh")))
  }

  /** DuckDB twin of [[dupIslands]] as CTE text, yielding
    * `isl(doc_id, span_start, span_words, n_grams)` (and `t(doc_id, ws)`
    * for consumers that need the positioned words).
    */
  private lazy val dupIslandsDuck =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |hp AS (SELECT doc_id,
       |              list_transform(ws, w -> ${TextOps.wordHashDuck}) AS hws,
       |              list_transform(ws, w -> $pow31Duck) AS pws
       |       FROM t),
       |g AS (SELECT doc_id, unnest(gs) AS gh, generate_subscripts(gs, 1) - 1 AS pos
       |      FROM (SELECT doc_id, $gramListDuck AS gs FROM hp)),
       |dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
       |m AS (SELECT g.doc_id, g.pos,
       |             row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS rn
       |      FROM g JOIN dup ON g.gh = dup.gh),
       |isl AS (SELECT doc_id,
       |               CAST(min(pos) AS BIGINT) AS span_start,
       |               CAST(max(pos) - min(pos) + 3 AS BIGINT) AS span_words,
       |               CAST(count(*) AS BIGINT) AS n_grams
       |        FROM m GROUP BY doc_id, pos - rn)""".stripMargin

  /** The parameterized production surface of `repeated_spans`: only
    * islands spanning at least `minSpanWords` words. Published
    * substring-dedup pipelines cut at ~50 tokens; the declared query
    * keeps the 3-word trigram floor (every island qualifies) so the
    * fixture exercises island discovery itself. The knob is a
    * post-aggregation filter on the shared `dupIslands` substrate —
    * the gh-count and island window run once per dataset regardless of
    * how many thresholds consumers read at.
    */
  def repeatedSpans(s: SparkSession, d: String, minSpanWords: Long = 3L): DataFrame =
    dupIslands(s, d)
      .filter(col("span_words") >= minSpanWords)
      .orderBy("doc_id", "span_start")

  private val repeatedSpansQ = DeclaredQuery(
    "repeated_spans",
    (s, d) => repeatedSpans(s, d),
    Some(s"""WITH $dupIslandsDuck
             SELECT doc_id, span_start, span_words, n_grams
             FROM isl ORDER BY doc_id, span_start"""),
  )

  /** Minimum island size (in grams) that `span_scrub` cuts: ≥2 grams =
    * ≥4 words. The production analogue is the ≥50-token threshold of
    * published substring-dedup; the fixture scale shrinks it so both cut
    * and keep paths are exercised.
    */
  private val MinScrubGrams = 2

  /** Cut the duplicated spans out of the text — the application half of
    * `repeated_spans`, mirroring the published pipelines that REMOVE
    * repeated substrings rather than just reporting them. Every word
    * covered by a ≥[[MinScrubGrams]]-gram island is dropped and the
    * document re-assembled in word order. Plan: covered word positions
    * explode arithmetically from the island table (X1's
    * `explode(sequence(...))` pattern; adjacent islands may overlap in
    * WORD coverage, hence the distinct), the corpus' positioned words
    * anti-join them on (doc_id, pos), and the rebuild aggregates
    * per-document with a deterministic array_sort(struct(pos, w)) —
    * the one text-carrying shuffle, inherent to re-assembling rewritten
    * documents (same cost class as `pii_scrub`'s output). Documents
    * whose every word is covered disappear from the output — stated by
    * the oracle identically.
    */
  private val spanScrub = DeclaredQuery(
    "span_scrub",
    (s, d) => {
      val covered = dupIslands(s, d)
        .filter(col("n_grams") >= MinScrubGrams)
        .select(
          col("doc_id"),
          explode(
            expr("sequence(CAST(span_start AS INT), CAST(span_start + span_words - 1 AS INT))"),
          ).as("pos"),
        )
        .distinct()
      documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_kept"),
          concat_ws(
            " ",
            expr("transform(array_sort(collect_list(struct(pos, w))), x -> x.w)"),
          ).as("clean_text"),
        )
        .orderBy("doc_id")
    },
    Some(s"""WITH $dupIslandsDuck,
             cov AS (SELECT DISTINCT doc_id, pos FROM (
                       SELECT doc_id,
                              unnest(generate_series(span_start, span_start + span_words - 1)) AS pos
                       FROM isl WHERE n_grams >= $MinScrubGrams)),
             wp AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) - 1 AS pos FROM t),
             k AS (SELECT wp.doc_id, wp.w, wp.pos
                   FROM wp LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.pos = cov.pos
                   WHERE cov.doc_id IS NULL)
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                    string_agg(w, ' ' ORDER BY pos) AS clean_text
             FROM k GROUP BY doc_id ORDER BY doc_id"""),
  )

  /** Duplicated-token share by source — the data-card number substring
    * dedup studies report per slice (what fraction of a source's tokens
    * sit inside a repeated span): words covered by ANY duplicated island
    * over total words, rolled up from document to source grain. Rides
    * the shared `dupIslands` substrate (the gh-count join and island
    * window never re-run) + one covered-position count per doc (the
    * arithmetic explode of `span_scrub`, counts only — no text moves) +
    * a left join against source-grain word totals. Integer counts, one
    * double division per source row via the shared floor display text.
    * A source whose dup_ppm jumps between snapshots is the boilerplate
    * regression this catches before a corpus ships.
    */
  private val dupTokenFraction = DeclaredQuery(
    "dup_token_fraction",
    (s, d) => {
      val covered = dupIslands(s, d)
        .select(
          col("doc_id"),
          explode(
            expr("sequence(CAST(span_start AS INT), CAST(span_start + span_words - 1 AS INT))"),
          ).as("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup"))
      documents(s, d)
        .select(
          col("doc_id"),
          col("source"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
        )
        .join(covered, Seq("doc_id"), "left")
        .na
        .fill(0L, Seq("n_dup"))
        .groupBy("source")
        .agg(sum("n_words").as("n_words"), sum("n_dup").as("n_dup_words"))
        .withColumn(
          "dup_ppm",
          expr("CAST(floor(CAST(n_dup_words AS DOUBLE) * 1000000.0 / n_words + 0.5) AS BIGINT)"),
        )
        .orderBy("source")
    },
    Some(s"""WITH $dupIslandsDuck,
             cov AS (SELECT DISTINCT doc_id, pos FROM (
                       SELECT doc_id,
                              unnest(generate_series(span_start, span_start + span_words - 1)) AS pos
                       FROM isl)),
             cd AS (SELECT doc_id, count(*) AS n_dup FROM cov GROUP BY 1),
             dw AS (SELECT d.doc_id, d.source,
                           len(string_split(d.text, ' ')) AS n_words,
                           coalesce(cd.n_dup, 0) AS n_dup
                    FROM documents d LEFT JOIN cd ON d.doc_id = cd.doc_id)
             SELECT source, CAST(sum(n_words) AS BIGINT) AS n_words,
                    CAST(sum(n_dup) AS BIGINT) AS n_dup_words,
                    CAST(floor(CAST(sum(n_dup) AS DOUBLE) * 1000000.0 / sum(n_words) + 0.5) AS BIGINT) AS dup_ppm
             FROM dw GROUP BY 1 ORDER BY 1"""),
  )

  /** Blocked probabilistic record linkage (Fellegi–Sunter shape) — the
    * cross-table entity-resolution sibling of [[fuzzyNameJoin]]'s
    * within-table fuzzy match: candidate pairs come from a BLOCKING
    * equi-join (here the nation key — production blocks on zip/phonetic/
    * sorted-neighborhood keys), each field comparison contributes an
    * integer agreement/disagreement log-odds weight, and pairs above a
    * review threshold link. Weights are a fixed model artifact
    * (literals, like `quality_score`'s vector); fields here are the
    * balance band and the entity-number congruence parsed from the name
    * (the F8 id-parse surface).
    *
    * Plan — the canonical linkage scale shape: NEVER all-pairs; the
    * block join bounds candidates to Σ_b |A_b|·|B_b|, field weights are
    * scan-local CASEs on the joined row, and the threshold filter cuts
    * before the presentation sort. The join is un-hinted: block-key
    * tables grow with both corpora, AQE broadcasts the smaller side when
    * it measures small (supplier here). Skewed blocks (one giant city)
    * are the `salted_join` pattern, composable on the same key.
    */
  /** Fellegi–Sunter scoring + threshold over candidate pairs produced by
    * SOME blocking join — the linkage model, separated from the join
    * strategy so the two compose: the declared query feeds it the plain
    * un-hinted block join; [[linkedPairsSalted]] feeds it the
    * `salted_join` exchange for skewed blocks. The scored-pair SET is a
    * function of the joined row set alone, so any join that produces the
    * same candidate rows produces the same links — the property
    * Round11OpsSpec pins.
    */
  private[graft] def scoreLinks(cand: DataFrame): DataFrame =
    cand
      .withColumn(
        "score",
        when(col("c_band") === col("s_band"), lit(24L)).otherwise(lit(-8L))
          + when(col("c_num") === col("s_num"), lit(18L)).otherwise(lit(-6L)),
      )
      .filter(col("score") >= 10L)
      .select(col("c_custkey"), col("s_suppkey"), col("nationkey"), col("score"))

  /** The two linkage field projections (blocking key + model fields). */
  private[graft] def linkageSides(s: SparkSession, d: String): (DataFrame, DataFrame) = (
    customer(s, d).select(
      col("c_custkey"),
      col("c_nationkey").as("nationkey"),
      floor(col("c_acctbal") / 1000.0).as("c_band"),
      (expr("CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT)") % 100L).as("c_num"),
    ),
    supplier(s, d).select(
      col("s_suppkey"),
      col("s_nationkey").as("nationkey"),
      floor(col("s_acctbal") / 1000.0).as("s_band"),
      (expr("CAST(regexp_extract(s_name, '([0-9]+)$', 1) AS BIGINT)") % 100L).as("s_num"),
    ),
  )

  /** `record_linkage` × `salted_join` — the skewed-block composition the
    * Scaladoc above promises: the customer (fact) side salts each row by
    * pmod(c_custkey, buckets), the supplier (dimension) side replicates
    * each block row once per salt, and the block join runs on
    * (nationkey, __salt) — a giant block (one metro area holding most of
    * the corpus) then occupies `buckets` reducers instead of one. The
    * joined row SET is exactly the plain block join's (every (c, s)
    * pair within a block meets on exactly one salt), so [[scoreLinks]]
    * emits identical links — Round11OpsSpec asserts set equality and
    * that the exchange really is keyed on the salt. The `merge` hint
    * pins the sort-merge path at fixture scale, as in `salted_join`.
    */
  private[graft] def linkedPairsSalted(
      c: DataFrame,
      p: DataFrame,
      buckets: Long,
  ): DataFrame = {
    val facts = c.withColumn("__salt", pmod(col("c_custkey"), lit(buckets)))
    val dim = p.withColumn("__salt", explode(sequence(lit(0L), lit(buckets - 1))))
    scoreLinks(facts.join(dim.hint("merge"), Seq("nationkey", "__salt")))
  }

  /** Measured scale shape (round-12 sf1→sf2 doubling panel, SCALE.md):
    * **4.04× per data doubling** once parallel slack is exhausted —
    * the nation block key has 25 values, so the scored pair volume is
    * (|customer|·|supplier|)/25, a PRODUCT of the side sizes. That is
    * the declared semantics (score every within-block pair), not a
    * plan defect; the measured number is the argument for production's
    * blocking-key choice: `fuzzy_name_join` runs the SAME scoring
    * pipeline behind a high-cardinality (band, name-prefix) composite
    * and reads 1.3× across the full sf0.1→sf1 decade. The two queries
    * bookend the blocking-key decision with measurements.
    */
  private val recordLinkage = DeclaredQuery(
    "record_linkage",
    (s, d) => {
      val (c, p) = linkageSides(s, d)
      // blocking join, un-hinted: AQE decides
      scoreLinks(c.join(p, Seq("nationkey")))
        .orderBy("c_custkey", "s_suppkey")
    },
    Some("""WITH c AS (SELECT c_custkey, c_nationkey AS nationkey,
                              floor(c_acctbal / 1000.0) AS band,
                              CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT) % 100 AS num
                       FROM customer),
             p AS (SELECT s_suppkey, s_nationkey AS nationkey,
                          floor(s_acctbal / 1000.0) AS band,
                          CAST(regexp_extract(s_name, '([0-9]+)$', 1) AS BIGINT) % 100 AS num
                   FROM supplier),
             sc AS (SELECT c_custkey, s_suppkey, c.nationkey,
                           (CASE WHEN c.band = p.band THEN 24 ELSE -8 END
                            + CASE WHEN c.num = p.num THEN 18 ELSE -6 END) AS score
                    FROM c JOIN p ON c.nationkey = p.nationkey)
             SELECT c_custkey, s_suppkey, nationkey, CAST(score AS BIGINT) AS score
             FROM sc WHERE score >= 10
             ORDER BY c_custkey, s_suppkey"""),
  )

  /** The df-cap sweep's candidate caps, smallest to largest. */
  private val SweepCaps = Seq(25L, 50L, 100L, 200L)

  /** Cost model for the inverted-index df-cap — the measurement that
    * picks [[DefaultMaxDf]] before a 100 TB run is launched: for each
    * candidate cap, how many shingle types and occurrences survive, and
    * the worst-case candidate-pair bound Σ df·(df−1)/2 the self-join
    * could generate. Candidate pairs grow O(df²) per shingle, so this
    * table is exactly the blow-up-vs-recall trade the cap tunes; reading
    * it per corpus replaces guessing the knob.
    *
    * Plan: one gram-cardinality rollup of the shared gram-rows substrate
    * (df per shingle type), cross-joined with the 4-row literal cap
    * table (bounded broadcast by construction), one ≤4-row agg. The
    * corpus pays nothing beyond the substrate it already built for the
    * jaccard family; everything after is vocabulary-cardinality.
    */
  private val dedupSweepCost = DeclaredQuery(
    "dedup_sweep_cost",
    (s, d) => {
      import s.implicits._
      val df = gramRows(s, d).groupBy("gh").agg(count(lit(1)).as("df"))
      val caps = SweepCaps.toDF("max_df")
      df.crossJoin(broadcast(caps)) // 4 literal rows
        .groupBy("max_df")
        .agg(
          sum(when(col("df") <= col("max_df"), 1L).otherwise(0L)).as("grams_kept"),
          sum(when(col("df") > col("max_df"), 1L).otherwise(0L)).as("grams_dropped"),
          sum(when(col("df") <= col("max_df"), col("df")).otherwise(0L)).as("occ_kept"),
          sum(when(col("df") <= col("max_df"), expr("(df * (df - 1)) DIV 2")).otherwise(0L))
            .as("pair_bound"),
        )
        .orderBy("max_df")
    },
    Some(s"""WITH $hashedGramsDuck,
             g AS (SELECT doc_id, unnest(ghs) AS gh FROM h),
             dfq AS (SELECT gh, count(*) AS df FROM g GROUP BY 1),
             caps AS (SELECT unnest([${SweepCaps.mkString(", ")}]) AS max_df)
             SELECT CAST(max_df AS BIGINT) AS max_df,
                    CAST(sum(CASE WHEN df <= max_df THEN 1 ELSE 0 END) AS BIGINT) AS grams_kept,
                    CAST(sum(CASE WHEN df > max_df THEN 1 ELSE 0 END) AS BIGINT) AS grams_dropped,
                    CAST(sum(CASE WHEN df <= max_df THEN df ELSE 0 END) AS BIGINT) AS occ_kept,
                    CAST(sum(CASE WHEN df <= max_df THEN (df * (df - 1)) // 2 ELSE 0 END) AS BIGINT)
                      AS pair_bound
             FROM dfq, caps GROUP BY max_df ORDER BY max_df"""),
  )

  /** Containment threshold: |A∩B| / min(|A|,|B|) ≥ this flags the pair.
    * Deliberately equal to the Jaccard τ so the declared set is a strict
    * SUPERSET of `ngram_jaccard`'s (containment ≥ Jaccard always) —
    * the extra rows are exactly the asymmetric near-dups Jaccard misses.
    */
  private val ContainTau = 0.3

  /** Asymmetric containment dedup — quote/subset detection: a short
    * document wholly contained in a long one (a quoted article, an
    * excerpt page, a doc + boilerplate wrapper) scores LOW Jaccard
    * (the union is dominated by the long side) but HIGH containment
    * |A∩B| / min(|A|,|B|). Published pipelines run both: Jaccard for
    * near-identical pairs, containment for subsumption.
    *
    * Plan: identical inverted-index candidate generation to
    * [[jaccardPairs]] (same df-capped gram rows substrate, same
    * hash-keyed self-join — candidates are shared-gram-bounded, never
    * all-pairs); only the scoring projection differs, so the scale
    * story is the family's. The shared-substrate reuse means a session
    * running both dedup flavors pays the gram explode once.
    */
  private val containmentDedup = DeclaredQuery(
    "containment_dedup",
    (s, d) => {
      // the shared-gram pair table is a substrate like jaccard-pairs:
      // the inverted-index self-join runs once per (session, dataset),
      // every rep/consumer reads the persisted (da, db, na, nb, shared)
      graft.SubstrateCache
        .substrate(s, d, s"containment-pairs:df$DefaultMaxDf") {
          val e = capByDf(gramRows(s, d), DefaultMaxDf)
          val x = e.select(col("doc_id").as("da"), col("n").as("na"), col("gh"))
          val y = e.select(col("doc_id").as("db"), col("n").as("nb"), col("gh").as("gh2"))
          x.join(y, x("gh") === y("gh2") && x("da") < y("db"))
            .groupBy("da", "db", "na", "nb")
            .agg(count(lit(1)).as("shared"))
        }
        .withColumn("cont", col("shared").cast("double") / least(col("na"), col("nb")))
        .filter(col("cont") >= ContainTau)
        .select(
          col("da"),
          col("db"),
          col("shared"),
          col("na").cast("long").as("na"),
          col("nb").cast("long").as("nb"),
          Disp.roundz(col("cont"), 6).as("containment"),
        )
        .orderBy("da", "db")
    },
    Some(s"""WITH $hashedGramsDuck,
             e0 AS (SELECT doc_id, len(ghs) AS n, unnest(ghs) AS gram FROM h),
             hot AS (SELECT gram FROM e0 GROUP BY gram HAVING count(*) > $DefaultMaxDf),
             e AS (SELECT e0.doc_id, e0.n, e0.gram FROM e0
                   LEFT JOIN hot ON e0.gram = hot.gram WHERE hot.gram IS NULL),
             p0 AS (SELECT x.doc_id AS da, y.doc_id AS db, x.n AS na, y.n AS nb, count(*) AS shared
                    FROM e x JOIN e y ON x.gram = y.gram AND x.doc_id < y.doc_id
                    GROUP BY 1, 2, 3, 4)
             SELECT da, db, CAST(shared AS BIGINT) AS shared,
                    CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
                    round(shared::DOUBLE / least(na, nb), 6) AS containment
             FROM p0 WHERE shared::DOUBLE / least(na, nb) >= $ContainTau
             ORDER BY da, db"""),
  )

  /** LSH band-bucket diagnostics — the candidate-generation cost dial
    * (the within-LSH sibling of `ivf_balance`): per band, bucket count,
    * the largest bucket, the exact candidate-pair mass Σ c·(c−1)/2, and
    * the ×10³ mean bucket size. A hot bucket is quadratic pair work by
    * definition — this is the number the df-cap and the banding shape
    * (4×4 here) are tuned against, read straight off the SHARED
    * "minhash-banded" substrate with one (band, sig)-keyed count agg
    * (map-side combine) and a band-cardinality rollup. Pure counts —
    * the diagnostic never generates a single candidate pair.
    */
  private val minhashBandStats = DeclaredQuery(
    "minhash_band_stats",
    (s, d) =>
      minhashBanded(s, d)
        .groupBy("band", "sig")
        .agg(count(lit(1)).as("c"))
        .groupBy("band")
        .agg(
          count(lit(1)).as("n_buckets"),
          sum("c").as("n_rows"),
          max("c").as("max_bucket"),
          sum(expr("c * (c - 1) DIV 2")).as("cand_pairs"),
        )
        .withColumn("mean_bucket_e3", expr("n_rows * 1000 DIV n_buckets"))
        .select(
          col("band").cast("long").as("band"),
          col("n_buckets"),
          col("max_bucket"),
          col("cand_pairs"),
          col("mean_bucket_e3"),
        )
        .orderBy("band"),
    Some(s"""WITH $hashedGramsDuck,
             $minhashCandDuck,
             bkt AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS c FROM sg GROUP BY 1, 2)
             SELECT CAST(band AS BIGINT) AS band, count(*) AS n_buckets,
                    CAST(max(c) AS BIGINT) AS max_bucket,
                    CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS cand_pairs,
                    CAST((sum(c) * 1000) // count(*) AS BIGINT) AS mean_bucket_e3
             FROM bkt GROUP BY 1 ORDER BY 1"""),
  )

  /** What dedup COSTS each source — the curation report read right
    * after the keeper policy runs: per source, documents in, documents
    * kept (the keeper of each CC cluster; singletons keep themselves),
    * dropped, and the exact ×10³ loss rate. A source with outsized loss
    * is either a mirror/scrape of another (check `source_overlap`) or
    * template-heavy (check `boilerplate_prefixes`). Composes the SHARED
    * cc-labels substrate with the SHARED [[keeperTable]] policy — no
    * new pair generation, one doc-keyed join + source-cardinality agg.
    */
  private val dedupLossBySource = DeclaredQuery(
    "dedup_loss_by_source",
    (s, d) => {
      val labels = ccLabels(s, d).select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
      val keepers = keeperTable(labels, documents(s, d))
        .select(col("keeper_id").as("doc_id"), lit(1L).as("kept"))
      labels
        .join(documents(s, d).select("doc_id", "source"), Seq("doc_id"))
        .join(keepers, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(coalesce(col("kept"), lit(0L))).as("n_kept"))
        .withColumn("dropped", expr("n_docs - n_kept"))
        .withColumn("loss_e3", expr("(n_docs - n_kept) * 1000 DIV n_docs"))
        .select("source", "n_docs", "n_kept", "dropped", "loss_e3")
        .orderBy("source")
    },
    Some(s"""WITH RECURSIVE $hashedGramsDuck,
             ${jaccardPairsDuck(0.3, Some(DefaultMaxDf))},
             $ccLabelsDuck,
             q AS (SELECT doc_id,
                          CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words
                   FROM documents),
             r AS (SELECT l.cluster_id, l.doc_id, q.n_distinct_words,
                          row_number() OVER (PARTITION BY l.cluster_id
                                             ORDER BY q.n_distinct_words DESC, l.doc_id) AS rk
                   FROM lbl l JOIN q USING (doc_id)),
             k AS (SELECT doc_id FROM r WHERE rk = 1)
             SELECT doc.source, count(*) AS n_docs,
                    CAST(sum(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
                    CAST(count(*) - sum(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
                      AS dropped,
                    CAST(((count(*) - sum(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END)) * 1000)
                         // count(*) AS BIGINT) AS loss_e3
             FROM lbl l JOIN documents doc ON l.doc_id = doc.doc_id
             LEFT JOIN k ON l.doc_id = k.doc_id
             GROUP BY 1 ORDER BY 1"""),
  )

  /** Audit of the leakage-safe split's own guarantee, oracle-checked:
    * near-dup pairs at a WEAKER threshold (j ≥ 0.15, same df cap)
    * classified within-train / within-val / cross-split. The
    * `n_at_split_threshold` column counts pairs at the split's own
    * j ≥ 0.3 criterion — the cross row's count is the leakage the
    * cluster-level assignment makes impossible BY CONSTRUCTION (and the
    * spec asserts it is zero), while the weaker-threshold cross pairs
    * measure how close to the boundary the guarantee sits. Composes the
    * 0.15 pair substrate with the split rule over the SHARED cc labels;
    * the 0.3 pair set is exactly the declared chain's (same j, same
    * cap), restated in the oracle as the `p3` subset of the 0.15 table.
    */
  private val splitLeakAudit = DeclaredQuery(
    "split_leak_audit",
    (s, d) => {
      val split = ccLabels(s, d).select(
        col("node").as("doc_id"),
        when(pmod(col("lbl"), lit(10)) < 8, lit("train")).otherwise(lit("val")).as("split"),
      )
      jaccardPairs(s, d, 0.15, Some(DefaultMaxDf))
        .join(split.select(col("doc_id").as("da"), col("split").as("sa")), Seq("da"))
        .join(split.select(col("doc_id").as("db"), col("split").as("sb")), Seq("db"))
        .withColumn(
          "pair_class",
          when(col("sa") === col("sb"), concat(lit("within_"), col("sa"))).otherwise(lit("cross")),
        )
        .groupBy("pair_class")
        .agg(
          count(lit(1)).as("n_pairs"),
          Disp.roundz(max("j"), 3).as("max_j"),
          sum(when(col("j") >= 0.3, 1L).otherwise(0L)).as("n_at_split_threshold"),
        )
        .orderBy("pair_class")
    },
    Some(s"""WITH RECURSIVE $hashedGramsDuck,
             ${jaccardPairsDuck(0.15, Some(DefaultMaxDf))},
             p3 AS (SELECT da, db FROM p WHERE j >= 0.3),
             edges AS (SELECT da AS src, db AS dst FROM p3
                       UNION ALL SELECT db, da FROM p3),
             reach AS (SELECT doc_id AS node, doc_id AS lbl FROM documents
                       UNION
                       SELECT e.dst AS node, r.lbl
                       FROM reach r JOIN edges e ON r.node = e.src),
             lbl AS (SELECT node AS doc_id, min(lbl) AS cluster_id
                     FROM reach GROUP BY node),
             sp AS (SELECT doc_id,
                           CASE WHEN cluster_id % 10 < 8 THEN 'train' ELSE 'val' END AS split
                    FROM lbl),
             pc AS (SELECT p.j,
                           CASE WHEN a.split = b.split THEN 'within_' || a.split
                                ELSE 'cross' END AS pair_class
                    FROM p JOIN sp a ON p.da = a.doc_id JOIN sp b ON p.db = b.doc_id)
             SELECT pair_class, count(*) AS n_pairs,
                    (round(max(j), 3) + 0.0) AS max_j,
                    CAST(sum(CASE WHEN j >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_at_split_threshold
             FROM pc GROUP BY 1 ORDER BY 1"""),
  )

  /** Is dedup dropping GOOD documents? — the quality×duplication
    * crosstab (published pipelines check this before shipping a keeper
    * policy; if dup losers score HIGHER than uniques, the "duplicates"
    * are mirrored high-quality content and the policy should keep more
    * than one): per duplication status (unique / dup_keeper /
    * dup_loser), doc count and the exact ×10⁴ mean model-quality score.
    * Composes THREE shared substrates — cc-labels, the keeper table,
    * and the cached quality scores — with two doc-keyed joins and a
    * 3-row agg; the quality text is `score_length_bias`'s exact q_e4
    * form, so the audit cannot drift from the score it audits.
    */
  private val dupQualityProfile = DeclaredQuery(
    "dup_quality_profile",
    (s, d) => {
      val labels = ccLabels(s, d).select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
      val keep = keeperTable(labels, documents(s, d)).select("cluster_id", "n_members", "keeper_id")
      val q = graft.operators.TextOps
        .qualityScoredCached(s, d)
        .select(
          col("doc_id"),
          expr("CAST(floor(quality * 10000.0 + 0.5) AS BIGINT)").as("q_e4"),
        )
      labels
        .join(keep, Seq("cluster_id"))
        .withColumn(
          "dup_status",
          expr("""CASE WHEN n_members = 1 THEN 'unique'
                       WHEN doc_id = keeper_id THEN 'dup_keeper'
                       ELSE 'dup_loser' END"""),
        )
        .join(q, Seq("doc_id"))
        .groupBy("dup_status")
        .agg(count(lit(1)).as("n_docs"), expr("sum(q_e4) DIV count(1)").as("mean_q_e4"))
        .orderBy("dup_status")
    },
    Some(s"""WITH RECURSIVE $hashedGramsDuck,
             ${jaccardPairsDuck(0.3, Some(DefaultMaxDf))},
             $ccLabelsDuck,
             ${graft.operators.TextOps.qualityDuckCtes},
             qq AS (SELECT doc_id,
                           CAST(floor(round(CAST(score_sum AS DOUBLE) / greatest(n_feats, 1), 4)
                                      * 10000.0 + 0.5) AS BIGINT) AS q_e4
                    FROM qs),
             dq AS (SELECT doc_id,
                           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words
                    FROM documents),
             rr AS (SELECT l.cluster_id, l.doc_id, dq.n_distinct_words,
                           count(*) OVER (PARTITION BY l.cluster_id) AS n_members,
                           row_number() OVER (PARTITION BY l.cluster_id
                                              ORDER BY dq.n_distinct_words DESC, l.doc_id) AS rk
                    FROM lbl l JOIN dq USING (doc_id)),
             st AS (SELECT doc_id,
                           CASE WHEN n_members = 1 THEN 'unique'
                                WHEN rk = 1 THEN 'dup_keeper'
                                ELSE 'dup_loser' END AS dup_status
                    FROM rr)
             SELECT st.dup_status, count(*) AS n_docs,
                    CAST(sum(qq.q_e4) // count(*) AS BIGINT) AS mean_q_e4
             FROM st JOIN qq USING (doc_id)
             GROUP BY 1 ORDER BY 1"""),
  )

  /** SimHash bit-balance audit — the sketch-health diagnostic beside the
    * calibration curves (`simhash_est` tunes the THRESHOLD; this checks
    * the HASH): each of the 30 signature bits should split the corpus
    * ~50/50 — a skewed bit (here |share − 500‰| > 100) carries less than
    * one bit of discrimination, inflating collision (candidate) volume in
    * every 6-bit chunk band that contains it. Template-heavy corpora and
    * weak gram hashes both surface here before they surface as a
    * candidate-explosion in `simhash_near_dup`.
    *
    * Scale: per-doc signatures come off the SHARED simhash-sigs substrate
    * (the gram fold is not re-run); the 30 per-bit ones-counts are ONE
    * pass of 31 conditional-sum aggregates with constant state (map-side
    * combined), unpivoted by a literal stack — never a bit explode of the
    * corpus. Output is exactly 30 rows at any corpus size; ×10³ shares by
    * truncating integer division, exact cross-engine.
    */
  private val simhashBitBalance = DeclaredQuery(
    "simhash_bit_balance",
    (s, d) => {
      val sigs = simhashSigs(s, d).select("doc_id", "sim").dropDuplicates("doc_id")
      val aggs = count(lit(1)).as("n_docs") +:
        (0 until 30).map(b =>
          sum(when(shiftright(col("sim"), b).bitwiseAND(1) === 1, 1L).otherwise(0L)).as(s"o$b"),
        )
      val one = sigs.agg(aggs.head, aggs.tail: _*)
      val stackArgs = (0 until 30).map(b => s"CAST($b AS BIGINT), o$b").mkString(", ")
      one
        .select(col("n_docs"), expr(s"stack(30, $stackArgs)").as(Seq("bit", "n_ones")))
        // Empty-corpus guard: a GLOBAL agg still emits one row (n_docs
        // 0, NULL sums), which would stack into 30 NULL rows where the
        // oracle's CROSS JOIN against an empty sig set returns 0 rows —
        // the defined-empty-input divergence class. One scan-local
        // filter restores the 0-row result; a non-empty corpus is
        // untouched.
        .filter(col("n_docs") > 0)
        .withColumn("ones_e3", expr("n_ones * 1000 DIV n_docs"))
        .withColumn(
          "skewed",
          when(abs(col("ones_e3") - 500) > 100, 1L).otherwise(0L),
        )
        .select("bit", "n_docs", "n_ones", "ones_e3", "skewed")
        .orderBy("bit")
    },
    Some(s"""WITH $hashedGramsDuck,
             sg AS (SELECT doc_id, $simhashDuck AS sim FROM h),
             g AS (SELECT unnest(generate_series(0, 29)) AS bit),
             b AS (SELECT g.bit,
                          CAST(count(*) AS BIGINT) AS n_docs,
                          CAST(sum(CASE WHEN (sg.sim >> CAST(g.bit AS INTEGER)) & 1 = 1
                                        THEN 1 ELSE 0 END) AS BIGINT) AS n_ones
                   FROM g CROSS JOIN sg GROUP BY 1)
             SELECT bit, n_docs, n_ones,
                    (n_ones * 1000) // n_docs AS ones_e3,
                    CAST(CASE WHEN abs((n_ones * 1000) // n_docs - 500) > 100
                              THEN 1 ELSE 0 END AS BIGINT) AS skewed
             FROM b ORDER BY bit"""),
  )

  /** Gram-level split contamination — the n-gram-overlap decontamination
    * criterion (`contamination_check`'s statistic) applied to the
    * train/val split itself: per val-side language, how many of val's
    * distinct trigrams also occur anywhere in train. `split_leak_audit`
    * proves no near-dup PAIR straddles the split; this measures the
    * residual SUB-document overlap that document-level dedup cannot
    * remove (shared idioms, short boilerplate runs) — the number an eval
    * author reads before claiming a held-out set is clean, and the
    * baseline that makes a *regression* in split hygiene visible.
    *
    * Scale: rides two cached substrates (cc-labels for the split, gram
    * rows for the trigrams) — no new corpus pass, no pair generation.
    * Both distinct reductions are gram-cardinality hash aggs (map-side
    * combined); the probe is one narrow equi-join on the 8-byte gram
    * hash; output is language-cardinality. Text never shuffles.
    */
  private val splitNgramOverlap = DeclaredQuery(
    "split_ngram_overlap",
    (s, d) => {
      val split = ccLabels(s, d).select(
        col("node").as("doc_id"),
        when(pmod(col("lbl"), lit(10)) < 8, lit("train")).otherwise(lit("val")).as("split"),
      )
      val g = gramRows(s, d).select("doc_id", "gh").join(split, Seq("doc_id"))
      val tg = g.filter(col("split") === "train").select("gh").distinct()
      val vg = g
        .filter(col("split") === "val")
        .join(documents(s, d).select("doc_id", "lang"), Seq("doc_id"))
        .select("lang", "gh")
        .distinct()
      vg.join(tg.withColumn("hit", lit(1L)), Seq("gh"), "left")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_val_grams"),
          sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_overlap"),
        )
        .withColumn("overlap_ppm", expr("n_overlap * 1000000 DIV n_val_grams"))
        .orderBy("lang")
    },
    Some(s"""WITH RECURSIVE $hashedGramsDuck,
             ${jaccardPairsDuck(0.3, Some(DefaultMaxDf))},
             $ccLabelsDuck,
             sp AS (SELECT doc_id, CASE WHEN cluster_id % 10 < 8 THEN 'train' ELSE 'val' END AS split
                    FROM lbl),
             ge AS (SELECT doc_id, unnest(ghs) AS gh FROM h),
             tg AS (SELECT DISTINCT ge.gh FROM ge JOIN sp USING (doc_id)
                    WHERE sp.split = 'train'),
             vg AS (SELECT DISTINCT dd.lang, ge.gh
                    FROM ge JOIN sp USING (doc_id) JOIN documents dd USING (doc_id)
                    WHERE sp.split = 'val'),
             ov AS (SELECT vg.lang, CAST(count(*) AS BIGINT) AS n_val_grams,
                           CAST(sum(CASE WHEN tg.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                             AS n_overlap
                    FROM vg LEFT JOIN tg ON vg.gh = tg.gh GROUP BY 1)
             SELECT lang, n_val_grams, n_overlap,
                    (n_overlap * 1000000) // n_val_grams AS overlap_ppm
             FROM ov ORDER BY lang"""),
  )

  /** Cross-source duplication matrix — which crawls copy each other:
    * for every pair of sources, how many near-dup CLUSTERS contain
    * documents from both (the provenance view of the dedup graph that
    * `dedup_loss_by_source`'s per-source loss cannot show — a source
    * can lose 30% to itself or to one upstream mirror, and only the
    * pair matrix tells which). Rides the SHARED cc-labels substrate.
    *
    * Scale: the (cluster, source) frame is one distinct over the label
    * join — per cluster at most |sources| rows, so the within-cluster
    * pair self-join is |sources|²-bounded per cluster regardless of
    * cluster SIZE (the giant-cluster pair explosion cannot happen at
    * this grain). Output is ≤ C(|sources|, 2) rows.
    */
  private val crossSourceDup = DeclaredQuery(
    "cross_source_dup",
    (s, d) => {
      val cs = ccLabels(s, d)
        .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
        .join(documents(s, d).select("doc_id", "source"), Seq("doc_id"))
        .select("cluster_id", "source")
        .distinct()
      cs.select(col("cluster_id"), col("source").as("source_a"))
        .join(cs.select(col("cluster_id"), col("source").as("source_b")), Seq("cluster_id"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""WITH RECURSIVE $hashedGramsDuck,
             ${jaccardPairsDuck(0.3, Some(DefaultMaxDf))},
             $ccLabelsDuck,
             cs AS MATERIALIZED (SELECT DISTINCT l.cluster_id, doc.source
                    FROM lbl l JOIN documents doc ON l.doc_id = doc.doc_id)
             SELECT a.source AS source_a, b.source AS source_b,
                    CAST(count(*) AS BIGINT) AS n_clusters
             FROM cs a JOIN cs b ON a.cluster_id = b.cluster_id AND a.source < b.source
             GROUP BY 1, 2 ORDER BY 1, 2"""),
  )

  val queries: Seq[DeclaredQuery] =
    Seq(ngramJaccard, minhashNearDup, simhashNearDup, dedupClusters, clusterKeeper,
      incrementalDedup, fuzzyNameJoin, fuzzyTriangles, fuzzyPagerank, repeatedSpansQ,
      spanScrub, leakageSafeSplit, clusterSizeHist, minhashEst, simhashEst,
      sourceOverlap, jaccardThresholdSweep, dupTokenFraction, recordLinkage,
      dedupSweepCost, containmentDedup, minhashBandStats, dedupLossBySource,
      splitLeakAudit, dupQualityProfile, simhashBitBalance, splitNgramOverlap,
      crossSourceDup)

  /** Incremental near-dup check: a NEW batch of documents against an
    * existing corpus (plus the batch itself) — the shape production
    * ingestion actually runs: the corpus side is the persisted signature
    * substrate (built once, reused every batch), only the new batch pays
    * fresh shingle hashing, and the inverted-index join is asymmetric
    * (new × (corpus ∪ new)), so per-batch cost scales with the batch — a
    * full-corpus re-dedup per ingest would be O(corpus) every time.
    * Emits (new_id, other_id, shared, j) with `other_id` from either
    * side; pairs inside the new batch appear once (da < db).
    *
    * Both inputs are (doc_id, text) frames; ids must be disjoint.
    */
  def nearDupsAgainst(
      corpus: DataFrame,
      newDocs: DataFrame,
      minJ: Double,
  ): DataFrame = nearDupsAgainstGrams(gramRowsOf(corpus), newDocs, minJ)

  /** [[nearDupsAgainst]] with the corpus side already reduced to gram
    * rows `(doc_id, n, gh)` — the per-batch entry the streaming ingest
    * loop ([[graft.streaming.DocIngest]]) calls: only the new batch pays
    * shingle hashing; the corpus grams are the persisted signature
    * substrate (or its parquet twin at 100 TB), built once and appended
    * to per batch.
    */
  def nearDupsAgainstGrams(
      corpusGrams: DataFrame,
      newDocs: DataFrame,
      minJ: Double,
  ): DataFrame = {
    val newG = gramRowsOf(newDocs).withColumn("is_new", lit(true))
    nearDupsFromGrams(
      newG,
      corpusGrams
        .select("doc_id", "n", "gh")
        .withColumn("is_new", lit(false))
        .unionByName(newG),
      minJ,
    )
  }

  /** `(doc_id, n, gh)` gram rows for arbitrary `(doc_id, text)` docs —
    * the state-append hook of the streaming ingest loop.
    */
  def gramRowsOf(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    hashedGrams(docs)
      .select(col("doc_id"), size(col("ghs")).as("n"), explode(col("ghs")).as("gh"))
  }

  /** The standing corpus' gram rows served from the shared per-dataset
    * substrate — the initial state of the streaming ingest twin.
    */
  private[graft] def corpusGramRows(s: SparkSession, d: String): DataFrame = gramRows(s, d)

  /** Core of the incremental check over pre-built gram rows — lets the
    * declared query serve both sides from the shared cached substrate
    * (one hash pass per dataset, ever) while the DataFrame entry point
    * above hashes arbitrary inputs. `allG` carries an `is_new` flag so
    * the new-new orientation constraint (da < db) prunes candidates
    * INSIDE the join instead of doubling them and filtering after.
    */
  private def nearDupsFromGrams(
      newG: DataFrame,
      allG: DataFrame, // (doc_id, n, gh, is_new)
      minJ: Double,
  ): DataFrame = {
    val x = newG.select(col("doc_id").as("da"), col("n").as("na"), col("gh"))
    val y = allG.select(col("doc_id").as("db"), col("n").as("nb"), col("gh").as("gh2"), col("is_new"))
    x.join(y, x("gh") === y("gh2") &&
        ((!y("is_new") && x("da") =!= y("db")) || x("da") < y("db")))
      .groupBy("da", "db", "na", "nb")
      .agg(count(lit(1)).as("shared"))
      .withColumn("j", col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("j") >= minJ)
      .select(col("da").as("new_id"), col("db").as("other_id"), col("shared"), col("j"))
  }
}
