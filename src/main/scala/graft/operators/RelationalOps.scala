package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Joins, set operations, and aggregations (SURVEY.md §2.3, §2.4, §2.6).
  *
  * Reference semantics re-expressed set-oriented: the reference does per-row
  * REST lookups inside loops (identities.py:124-160, onefs.py:1267-1277);
  * here each becomes one relational operator so Catalyst/AQE pick broadcast
  * vs shuffle join. Dimension tables (nation, region) are explicitly
  * broadcast — at 100 TB the fact side never shuffles for these lookups.
  */
object RelationalOps extends QueryModule {

  /** A1 — distinct-set dedup (identities.py:293-303 `created_group_names`). */
  private val dedupDistinct = DeclaredQuery(
    "dedup_distinct",
    (s, d) =>
      customer(s, d).select("c_mktsegment").distinct().orderBy("c_mktsegment"),
    Some("SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"),
  )

  /** J1/J2/A4 — name→id lookup as a 3-way equi-join with broadcast dims
    * (onefs.py:1267-1277, 1072-1082). nation/region are tiny → broadcast;
    * the customer fact side streams through without a shuffle.
    */
  private val equiJoinLookup = DeclaredQuery(
    "equi_join_lookup",
    (s, d) => {
      val c = customer(s, d)
      val n = broadcast(nation(s, d))
      val r = broadcast(region(s, d))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .select(
          c("c_custkey"),
          c("c_name"),
          n("n_name").as("nation"),
          r("r_name").as("region"),
        )
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, n_name AS nation, r_name AS region
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            ORDER BY c_custkey"""),
  )

  /** J4/J5 — membership/referential anti-join (identities.py:105-112;
    * tests/test_directories.py:6-14): orders whose customer is not in the
    * positive-balance set, summarized per status.
    */
  private val antijoinMissing = DeclaredQuery(
    "antijoin_missing",
    (s, d) => {
      val pos = customer(s, d).filter(col("c_acctbal") > 0).select("c_custkey")
      orders(s, d)
        .join(pos, col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), min("o_orderkey").as("sample_key"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, count(*) AS n, min(o_orderkey) AS sample_key
            FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
            GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
  )

  /** J3 — create-or-lookup upsert (identities.py:137-149, 251-263):
    * desired ⟗ existing on the key, keep the existing id when present,
    * otherwise assign the new one. Pure full-outer + coalesce.
    */
  private val idempotentUpsert = DeclaredQuery(
    "idempotent_upsert",
    (s, d) => {
      val desired = customer(s, d).select(col("c_nationkey").as("dkey")).distinct()
      val existing = supplier(s, d)
        .select(col("s_nationkey").as("ekey"))
        .distinct()
        .withColumn("id", (col("ekey").cast("long") + 1024L).cast("long"))
      desired
        .join(existing, col("dkey") === col("ekey"), "full_outer")
        .select(
          coalesce(col("dkey"), col("ekey")).cast("int").as("key"),
          coalesce(col("id"), col("dkey").cast("long") + 2000L)
            .cast("long")
            .as("final_id"),
          col("id").isNotNull.as("existed"),
        )
        .orderBy("key")
    },
    Some("""WITH desired AS (SELECT DISTINCT c_nationkey AS dkey FROM customer),
                 existing AS (SELECT DISTINCT s_nationkey AS ekey,
                              CAST(s_nationkey + 1024 AS BIGINT) AS id FROM supplier)
            SELECT CAST(coalesce(dkey, ekey) AS INTEGER) AS key,
                   CAST(coalesce(id, dkey + 2000) AS BIGINT) AS final_id,
                   (id IS NOT NULL) AS existed
            FROM desired FULL OUTER JOIN existing ON dkey = ekey
            ORDER BY key"""),
  )

  /** J6/W5 — deterministic first match (onefs.py:1260-1265): min-key row
    * passing a case-insensitive predicate.
    */
  private val firstMatch = DeclaredQuery(
    "first_match",
    (s, d) =>
      nation(s, d)
        .filter(lower(col("n_name")).contains("nation_1"))
        .orderBy("n_nationkey")
        .limit(1)
        .select("n_nationkey", "n_name"),
    Some("""SELECT n_nationkey, n_name FROM nation
            WHERE lower(n_name) LIKE '%nation_1%'
            ORDER BY n_nationkey LIMIT 1"""),
  )

  /** W5 — top-k (onefs.py:556-563 newest-SDK fallback): Spark plans this as
    * TakeOrderedAndProject — per-partition top-k then a k-row merge, no
    * full sort at scale.
    */
  private val topkLimit = DeclaredQuery(
    "topk_limit",
    (s, d) =>
      orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice"),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
  )

  /** U1 — union with distinct (identities.py:300). */
  private val setUnionDistinct = DeclaredQuery(
    "set_union_distinct",
    (s, d) =>
      customer(s, d)
        .select(col("c_nationkey").as("nk"))
        .union(supplier(s, d).select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy("nk"),
    Some("""SELECT c_nationkey AS nk FROM customer
            UNION SELECT s_nationkey FROM supplier ORDER BY nk"""),
  )

  /** U2 — set difference (onefs.py:988-1000 keytab SPN rewrite). */
  private val exceptSpns = DeclaredQuery(
    "except_spns",
    (s, d) =>
      customer(s, d)
        .select(col("c_custkey").as("key"))
        .except(supplier(s, d).select(col("s_suppkey").as("key")))
        .orderBy("key"),
    Some("""SELECT c_custkey AS key FROM customer
            EXCEPT SELECT s_suppkey FROM supplier ORDER BY key"""),
  )

  /** U4 — intersect (tests/test_directories.py:6-14 invariant shape). */
  private val intersectKeys = DeclaredQuery(
    "intersect_keys",
    (s, d) =>
      customer(s, d)
        .select(col("c_custkey").as("key"))
        .intersect(supplier(s, d).select(col("s_suppkey").as("key")))
        .orderBy("key"),
    Some("""SELECT c_custkey AS key FROM customer
            INTERSECT SELECT s_suppkey FROM supplier ORDER BY key"""),
  )

  /** A3 — membership fan-in (onefs.py:1330-1341): per-user counts plus an
    * order-pinned collect (sort_array ↔ string_agg ORDER BY).
    */
  private val groupCountAgg = DeclaredQuery(
    "group_count_agg",
    (s, d) =>
      events(s, d)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
        )
        .orderBy("user_id"),
    Some("""SELECT user_id, count(*) AS n_events,
                   count(DISTINCT event_type) AS n_types,
                   string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
            FROM events GROUP BY user_id ORDER BY user_id"""),
  )

  /** A2 — consensus check (onefs.py:1240-1249 MixedModeError shape):
    * countDistinct per group.
    */
  private val consensusDistinct = DeclaredQuery(
    "consensus_distinct",
    (s, d) =>
      orders(s, d)
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_orderstatus")).as("n_status"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority, count(DISTINCT o_orderstatus) AS n_status
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
  )

  /** Beyond the reference surface: hierarchical totals via ROLLUP —
    * Catalyst expands grouping sets into one pass; the NULL indicator
    * columns are coalesced to sentinels so cross-engine NULL ordering
    * never matters.
    */
  private val rollupAgg = DeclaredQuery(
    "rollup_agg",
    (s, d) =>
      orders(s, d)
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
        )
        .select(
          coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
          col("n"),
          col("total"),
        )
        .orderBy("priority", "status"),
    Some("""SELECT coalesce(o_orderpriority, '<all>') AS priority,
                   coalesce(o_orderstatus, '<all>') AS status,
                   count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM orders
            GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
            ORDER BY priority, status"""),
  )

  /** Full CUBE over (priority, status) — `rollup_agg`'s complete
    * lattice: rollup emits the (p, s) / (p, ·) / (·, ·) prefix chain,
    * cube adds the (·, s) marginals, which is exactly what a pivoted
    * dashboard reads down its column headers. Same exact-DECIMAL sums,
    * same sentinel rendering.
    *
    * Plan: Spark expands grouping sets map-side (one Expand + one
    * partial+final hash agg) — 4× the agg input rows of the plain
    * group-by but still ONE exchange whose payload is grouping-set ×
    * key cardinality, corpus-independent. At 100 TB that Expand factor
    * is the knob: cube over high-cardinality keys explodes state, so
    * cube only over enum-like dimensions (priority × status here).
    */
  private val cubeAgg = DeclaredQuery(
    "cube_agg",
    (s, d) =>
      orders(s, d)
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
        )
        .select(
          coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
          col("n"),
          col("total"),
        )
        .orderBy("priority", "status"),
    Some("""SELECT coalesce(o_orderpriority, '<all>') AS priority,
                   coalesce(o_orderstatus, '<all>') AS status,
                   count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM orders
            GROUP BY CUBE (o_orderpriority, o_orderstatus)
            ORDER BY priority, status"""),
  )

  /** Median absolute deviation per order priority — the robust spread
    * the 3σ screen (`outlier_filter`) should really use when the data
    * is heavy-tailed: MAD = median(|x − median(x)|) has a 50% breakdown
    * point where stddev has 0%. Money is carried as exact cents
    * (BIGINT), so both engines' exact medians agree bit-for-bit
    * (`quantile_stats`' percentile ≡ quantile_cont equivalence, and
    * cent medians are either a cent value or a .5 between two — exact
    * in a double either way).
    *
    * Plan: two grouped percentile passes (centers, then deviations) —
    * the second input derives from a key-grain broadcast-joined center
    * table, so the corpus shuffles twice at (key) grain and never
    * self-joins. At 100 TB exact medians swap for
    * `histogram_quantile`'s fixed-bin two-pass estimate with this
    * query's shape unchanged — the swap the Scaladoc there states.
    */
  private val madRobust = DeclaredQuery(
    "mad_robust",
    (s, d) => {
      val cents = orders(s, d)
        .select(
          col("o_orderpriority").as("pri"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("c"),
        )
      val centers = cents
        .groupBy("pri")
        .agg(expr("percentile(c, 0.5)").as("med_c"))
      cents
        .join(broadcast(centers), Seq("pri")) // key-grain: ≤ #priorities rows
        .select(col("pri"), abs(col("c").cast("double") - col("med_c")).as("dev"))
        .groupBy("pri")
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(dev, 0.5)").as("mad_c"),
        )
        .orderBy("pri")
    },
    Some("""WITH cents AS (SELECT o_orderpriority AS pri,
                                  CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
                           FROM orders),
            ctr AS (SELECT pri, quantile_cont(c, 0.5) AS med_c FROM cents GROUP BY 1)
            SELECT cents.pri, count(*) AS n,
                   quantile_cont(abs(CAST(c AS DOUBLE) - med_c), 0.5) AS mad_c
            FROM cents JOIN ctr ON cents.pri = ctr.pri
            GROUP BY 1 ORDER BY 1"""),
  )

  /** Ordered group concatenation — the report-rendering primitive
    * (string_agg / LISTAGG): per event type, the top-5 users by exact
    * DECIMAL mass, joined "id:mass_cents" in rank order into ONE string
    * column. Every BI export and alert message does this; the trap at
    * scale is UNORDERED collect_list (nondeterministic across
    * partitionings) — here the order is pinned by sorting the
    * (bounded) per-type struct array AFTER collection, and only top-5
    * survivors are ever concatenated.
    *
    * Plan: corpus → (type, user) grain hash agg; a rank-truncating
    * window keeps 5 rows per type BEFORE collection (WindowGroupLimit
    * prunes map-side), so the collect_list input is ≤ 5 rows per type —
    * the array-building stage is bounded by construction, never
    * corpus-fed.
    */
  private val groupConcatTopk = DeclaredQuery(
    "group_concat_topk",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type")
        .orderBy(col("mass").desc, col("user_id"))
      graft.Tables
        .events(s, d)
        .groupBy("event_type", "user_id")
        .agg(sum(expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)")).as("mass"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .groupBy("event_type")
        .agg(collect_list(struct(col("rk"), col("user_id"), col("mass"))).as("rows"))
        .select(
          col("event_type"),
          expr("""array_join(transform(array_sort(rows),
                    r -> concat(CAST(r.user_id AS STRING), ':', CAST(r.mass AS STRING))), ',')""")
            .as("top_users"),
        )
        .orderBy("event_type")
    },
    Some("""WITH pu AS (SELECT event_type, user_id,
                               CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS mass
                        FROM events GROUP BY 1, 2),
            rk AS (SELECT event_type, user_id, mass,
                          row_number() OVER (PARTITION BY event_type
                                             ORDER BY mass DESC, user_id) AS rk
                   FROM pu)
            SELECT event_type,
                   string_agg(CAST(user_id AS VARCHAR) || ':' || CAST(mass AS VARCHAR), ','
                              ORDER BY rk) AS top_users
            FROM rk WHERE rk <= 5
            GROUP BY 1 ORDER BY 1"""),
  )

  /** Beyond the reference surface: per-user inter-event gaps via lag —
    * the batch twin of sessionization's gap test (EventStream.sessionize).
    */
  private val lagGaps = DeclaredQuery(
    "lag_gaps",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy("ts", "event_id")
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn(
          "gap_us", // exact integer microseconds — no per-side second truncation
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)),
        )
        .orderBy("user_id", "ts", "event_id")
        .select("user_id", "event_id", "gap_us")
    },
    Some("""SELECT user_id, event_id,
                   epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
            FROM events
            ORDER BY user_id, ts, event_id"""),
  )

  /** Exact interpolated percentiles per group (Spark `percentile` ≡
    * DuckDB `quantile_cont`: both interpolate at rank p·(n−1)). Rounded
    * to cents — sub-ULP interpolation-order differences between engines
    * vanish at 2 decimals.
    */
  private val quantileStats = DeclaredQuery(
    "quantile_stats",
    (s, d) =>
      orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          Disp.roundz(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
          Disp.roundz(expr("percentile(o_totalprice, 0.95)"), 2).as("p95"),
          Disp.roundz(min("o_totalprice"), 2).as("lo"),
          Disp.roundz(max("o_totalprice"), 2).as("hi"),
        )
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority, count(*) AS n,
                   round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
                   round(quantile_cont(o_totalprice, 0.95), 2) AS p95,
                   round(min(o_totalprice), 2) AS lo,
                   round(max(o_totalprice), 2) AS hi
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
  )

  /** Winsorization — the quantile-clamp robust-stats step beside
    * `outlier_filter`'s 3σ screen (heavy-tailed pipeline metrics are
    * capped at p05/p95 before averaging, not dropped): per event type,
    * clamp values into the exact interpolated [p05, p95] band and report
    * the clamp counts plus the before/after means. Exact percentiles are
    * the `quantile_stats` equivalence (Spark `percentile` ≡ DuckDB
    * `quantile_cont`); clamped values are ×100-floored to BIGINT before
    * the sum so the distributed mean is order-invariant (the double
    * clamp bound never meets a DECIMAL cast's rounding rules).
    *
    * Plan: one type-keyed percentile agg (type-cardinality), an
    * un-hinted type join back (AQE broadcasts the tiny side), scan-local
    * clamp, one partial+final agg. The percentile buffer is the only
    * value-cardinality state — at 100 TB swap it for the
    * `histogram_quantile` bounded-state estimate; the clamp stage is
    * unchanged.
    */
  private val winsorizeValues = DeclaredQuery(
    "winsorize_values",
    (s, d) => {
      val ev = graft.Tables.events(s, d).select(col("event_type"), col("value"))
      val bounds = ev
        .groupBy("event_type")
        .agg(
          expr("percentile(value, 0.05)").as("lo"),
          expr("percentile(value, 0.95)").as("hi"),
        )
      ev.join(bounds, Seq("event_type")) // un-hinted: type-cardinality, AQE decides
        .withColumn("cv", least(greatest(col("value"), col("lo")), col("hi")))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clamped_low"),
          sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clamped_high"),
          sum(expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)")).as("sv"),
          sum(expr("CAST(floor(cv * 100.0 + 0.5) AS BIGINT)")).as("sc"),
        )
        .select(
          col("event_type"),
          col("n"),
          col("n_clamped_low"),
          col("n_clamped_high"),
          Disp.roundz(col("sv").cast("double") / col("n") / 100.0, 4).as("mean_raw"),
          Disp.roundz(col("sc").cast("double") / col("n") / 100.0, 4).as("mean_winsorized"),
        )
        .orderBy("event_type")
    },
    Some("""WITH b AS (SELECT event_type,
                              quantile_cont(value, 0.05) AS lo,
                              quantile_cont(value, 0.95) AS hi
                       FROM events GROUP BY 1),
            c AS (SELECT e.event_type, value,
                         least(greatest(value, lo), hi) AS cv,
                         lo, hi
                  FROM events e JOIN b ON e.event_type = b.event_type),
            a AS (SELECT event_type, count(*) AS n,
                         CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
                         CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high,
                         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sv,
                         CAST(sum(CAST(floor(cv * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sc
                  FROM c GROUP BY 1)
            SELECT event_type, n, n_clamped_low, n_clamped_high,
                   round(CAST(sv AS DOUBLE) / n / 100.0, 4) AS mean_raw,
                   round(CAST(sc AS DOUBLE) / n / 100.0, 4) AS mean_winsorized
            FROM a ORDER BY event_type"""),
  )

  /** RANGE-frame rolling window: per-customer trailing-7-day spend. The
    * frame is on integer day numbers (RANGE BETWEEN 6 PRECEDING AND
    * CURRENT ROW), so same-day orders fall in each other's frames — the
    * semantic difference from a ROWS frame. Sums go through
    * DECIMAL(18,2) so the in-frame accumulation order can't drift.
    */
  private val rangeFrameAgg = DeclaredQuery(
    "range_frame_agg",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-6, org.apache.spark.sql.expressions.Window.currentRow)
      orders(s, d)
        .withColumn("day", datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"))
        .withColumn(
          "spend_7d",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"),
        )
        .select("o_orderkey", "o_custkey", "day", "spend_7d")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey,
                   CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                     PARTITION BY o_custkey
                     ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_7d
            FROM orders ORDER BY o_orderkey"""),
  )

  /** Pivot (wide aggregation): order counts per priority pivoted by
    * status. The pivot value list is EXPLICIT — at scale an implicit
    * pivot runs a distinct scan first and can explode the column count;
    * declaring values keeps the plan a single pass. The oracle states the
    * equivalent FILTERed aggregates (portable across engines).
    */
  private val pivotCounts = DeclaredQuery(
    "pivot_counts",
    (s, d) =>
      orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na
        .fill(0L)
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
  )

  /** Histogram quantile estimation — the single-pass bounded-state twin
    * of [[quantileStats]]'s exact percentiles, completing the sketch
    * trio (cardinality: `distinct_sketch`; frequency:
    * `cms_heavy_hitters`; quantiles: this). Values fold into 16
    * fixed-width bins over the global [min, max]; a quantile is read
    * back by walking the cumulative histogram and interpolating inside
    * the boundary bin. Exact percentiles buffer every value per group —
    * this ships at most B partial counters per partition, memory
    * independent of group size (the production shape for monitoring
    * pipelines; t-digest/KLL refine the bin placement but not the
    * dataflow).
    *
    * Determinism: bin counts and ranks are exact integers; the bin
    * assignment and the interpolation are single double chains stated
    * as identical expression text in both engines (BIGINT/BIGINT
    * division is double division in both Spark SQL and DuckDB). The
    * exact percentile column is carried for error inspection (measured
    * ≤0.3% on the fixture) and is what production would drop.
    */
  private val HistBins = 16

  /** Fixed-extent histogram partials of a (pri, x) frame: (pri, bin, lo,
    * hi, cnt) under the given 1-row (lo, hi) extent frame. Bin counts
    * under a FIXED extent are ADDITIVE — slice-wise partials merge by
    * plain summation ([[mergeHistogramParts]]) — the property the
    * continuous monitoring twin
    * ([[graft.streaming.EventStream.startHistogramParts]]) rides, and
    * exactly how production monitoring pins its bucket layout up front
    * instead of re-deriving it per window. Out-of-extent values clamp
    * to the EDGE bins on both sides (`greatest(0, least(..., bins-1))`)
    * — the batch query derives its extent from the data so the clamp is
    * a no-op there, but the streaming twin pins the extent up front and
    * below-lo arrivals must land in bin 0, not a negative bin that
    * would silently skew the quantile walk.
    */
  private[graft] def histogramParts(
      o: org.apache.spark.sql.DataFrame,
      ext: org.apache.spark.sql.DataFrame,
  ): org.apache.spark.sql.DataFrame = {
    val w = s"((hi - lo) / $HistBins.0)"
    o.crossJoin(broadcast(ext)) // 2-value extent scalar
      .withColumn(
        "bin",
        expr(s"CAST(greatest(0L, least(floor((x - lo) / $w), ${HistBins - 1})) AS INT)"),
      )
      .groupBy("pri", "bin", "lo", "hi")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge landed histogram partials — one groupBy-sum (the bin table is
    * groups × bins rows; it never collects).
    */
  private[graft] def mergeHistogramParts(
      parts: org.apache.spark.sql.DataFrame,
  ): org.apache.spark.sql.DataFrame =
    parts.groupBy("pri", "bin", "lo", "hi").agg(sum("cnt").as("cnt"))

  /** The cumulative-histogram quantile walk over a (pri, bin, lo, hi,
    * cnt) table → (pri, ql, est) for p50/p90 — shared by the declared
    * query and the streamed serve, so the estimate's interpolation
    * cannot drift between them.
    */
  private[graft] def quantilesFromHistogram(
      counts: org.apache.spark.sql.DataFrame,
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = s"((hi - lo) / $HistBins.0)"
    val withCum = counts
      .withColumn("cum", sum("cnt").over(Window.partitionBy("pri").orderBy("bin")))
    val targets = counts
      .groupBy("pri")
      .agg(sum("cnt").as("n"))
      .withColumn(
        "qq",
        explode(expr(
          "array(named_struct('ql', 'p50', 'q', 0.5D), named_struct('ql', 'p90', 'q', 0.9D))")),
      )
      .select(col("pri"), col("qq.ql").as("ql"), col("qq.q").as("q"), col("n"))
      .withColumn("target", expr("CAST(ceil(q * n) AS BIGINT)"))
    targets
      .join(withCum, Seq("pri"))
      .filter(col("cum") >= col("target") && (col("cum") - col("cnt")) < col("target"))
      .withColumn(
        "est",
        expr(s"round(lo + bin * $w + (target - (cum - cnt)) / cnt * $w, 2)"),
      )
      .select("pri", "ql", "est")
  }

  private val histogramQuantile = DeclaredQuery(
    "histogram_quantile",
    (s, d) => {
      val o = orders(s, d).select(col("o_orderpriority").as("pri"), col("o_totalprice").as("x"))
      val ext = o.agg(min("x").as("lo"), max("x").as("hi"))
      val pick = quantilesFromHistogram(histogramParts(o, ext))
      val exact = o
        .groupBy("pri")
        .agg(
          expr("round(percentile(x, 0.5), 2)").as("e50"),
          expr("round(percentile(x, 0.9), 2)").as("e90"),
        )
        .withColumn(
          "qq",
          explode(expr(
            "array(named_struct('ql', 'p50', 'exact', e50), named_struct('ql', 'p90', 'exact', e90))")),
        )
        .select(col("pri"), col("qq.ql").as("ql"), col("qq.exact").as("exact"))
      pick
        .join(exact, Seq("pri", "ql"))
        .select(col("pri").as("o_orderpriority"), col("ql"), col("est"), col("exact"))
        .orderBy("o_orderpriority", "ql")
    },
    Some(s"""WITH o AS (SELECT o_orderpriority AS pri, o_totalprice AS x FROM orders),
             ext AS (SELECT min(x) AS lo, max(x) AS hi FROM o),
             b AS (SELECT pri, CAST(greatest(0, least(floor((x - lo) / ((hi - lo) / $HistBins.0)), ${HistBins - 1})) AS INT) AS bin, lo, hi
                   FROM o CROSS JOIN ext),
             c AS (SELECT pri, bin, lo, hi, count(*) AS cnt FROM b GROUP BY 1, 2, 3, 4),
             wc AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY pri ORDER BY bin) AS BIGINT) AS cum FROM c),
             ns AS (SELECT pri, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1),
             t AS (SELECT pri, ql, q, CAST(ceil(q * n) AS BIGINT) AS target
                   FROM ns CROSS JOIN (VALUES ('p50', 0.5), ('p90', 0.9)) AS v(ql, q)),
             pick AS (SELECT t.pri, t.ql,
                             round(lo + bin * ((hi - lo) / $HistBins.0) + (target - (cum - cnt)) / cnt * ((hi - lo) / $HistBins.0), 2) AS est
                      FROM t JOIN wc ON wc.pri = t.pri AND cum >= target AND cum - cnt < target),
             ex AS (SELECT pri, 'p50' AS ql, round(quantile_cont(x, 0.5), 2) AS exact FROM o GROUP BY 1
                    UNION ALL SELECT pri, 'p90', round(quantile_cont(x, 0.9), 2) FROM o GROUP BY 1)
             SELECT p.pri AS o_orderpriority, p.ql, p.est, e.exact
             FROM pick p JOIN ex e ON p.pri = e.pri AND p.ql = e.ql
             ORDER BY 1, 2"""),
  )

  /** Per-group Pearson correlation from EXACT sums — the distributed
    * moments pattern: every aggregated quantity (Σx, Σy, Σx², Σy², Σxy)
    * is a DECIMAL sum of per-row DECIMAL products, so the shuffle
    * carries exact partials that re-associate identically under any
    * partitioning; only the FINAL correlation expression divides in
    * doubles, once, from identical inputs in both engines. Spark's own
    * `corr` aggregates doubles with merge-order-dependent rounding and
    * could never hash-match an oracle — this is the reproducible twin.
    */
  private val corrStats = DeclaredQuery(
    "corr_stats",
    (s, d) =>
      lineitem(s, d)
        .select(
          col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("x"),
          col("l_extendedprice").cast("decimal(18,2)").as("y"),
        )
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"),
        )
        .select(
          col("l_returnflag"),
          col("n"),
          Disp.roundz(
            expr("""(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / nullif(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0D)"""),
            6,
          ).as("corr_qty_price"),
        )
        .orderBy("l_returnflag"),
    Some("""WITH t AS (SELECT l_returnflag,
                              CAST(l_quantity AS DECIMAL(18,2)) AS x,
                              CAST(l_extendedprice AS DECIMAL(18,2)) AS y
                       FROM lineitem),
            a AS (SELECT l_returnflag, count(*) AS n,
                         sum(x) AS sx, sum(y) AS sy,
                         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
                  FROM t GROUP BY 1)
            SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                   (round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / nullif(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0),
                         6) + 0.0) AS corr_qty_price
            FROM a ORDER BY l_returnflag"""),
  )

  /** 3σ outlier screen per event type — data cleaning's robust-stats
    * step. Mean and sample variance come from the same exact-DECIMAL
    * moment sums as [[corrStats]] (one aggregation pass), broadcast back
    * as per-type scalars, and the flag predicate is a stateless row
    * function — the corpus crosses the wire zero times, mirroring
    * `mix_sources`' derive-then-filter shape.
    */
  private val outlierFilter = DeclaredQuery(
    "outlier_filter",
    (s, d) => {
      val ev = events(s, d).select(col("event_type"), col("value").cast("decimal(18,2)").as("v"))
      val stats = ev
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"), sum(col("v") * col("v")).as("svv"))
        .select(
          col("event_type"),
          col("n"),
          expr("CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)").as("mean"),
          expr("""sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))""").as("sd"),
        )
      ev.join(broadcast(stats), Seq("event_type"))
        .groupBy("event_type")
        .agg(
          max(col("n")).as("n"),
          sum(when(abs(col("v").cast("double") - col("mean")) > lit(3.0) * col("sd"), 1L)
            .otherwise(0L)).as("n_outliers"),
        )
        .orderBy("event_type")
    },
    Some("""WITH ev AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events),
            st AS (SELECT event_type, count(*) AS n, sum(v) AS sv, sum(v * v) AS svv
                   FROM ev GROUP BY 1),
            sc AS (SELECT event_type, n,
                          CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                          sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS sd
                   FROM st)
            SELECT e.event_type, CAST(max(s.n) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN abs(CAST(e.v AS DOUBLE) - s.mean) > 3.0 * s.sd
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM ev e JOIN sc s USING (event_type)
            GROUP BY 1 ORDER BY 1"""),
  )

  /** Audience overlap — set similarity between event-type audiences
    * (which behaviors share users), as the co-occurrence inverted-index
    * pattern: distinct (type, user) memberships self-join ON THE USER
    * (each user contributes only their own type-pairs), then Jaccard from
    * exact co-occurrence and audience counts. The same shape as
    * `ngram_jaccard` over a different domain — the inverted index is THE
    * set-similarity plan whatever the sets contain.
    *
    * Skew cap (the df-cap of this domain): a user in k audiences emits
    * O(k²) co-occurrence pairs, so one bot-like user in 10⁴ audiences
    * would alone emit 10⁸ rows. Users above [[MaxAudiencesPerUser]]
    * memberships are excluded from PAIR GENERATION in both engines —
    * membership that broad carries no overlap signal (the stop-word
    * argument) — while audience sizes keep the FULL counts, exactly like
    * `capByDf` keeps full Jaccard denominators. The cap is a no-op on
    * the fixtures (5 event types total) but bounds the worst user at
    * production audience cardinalities; the hot-user list is aggregated
    * on the already-user-partitioned branch (no extra shuffle) and
    * anti-joined UN-hinted — the set is ≤ Σmemberships/cap rows, linear
    * in the user base, so AQE decides whether it broadcasts.
    */
  private[operators] val MaxAudiencesPerUser = 50L

  private val audienceOverlap = DeclaredQuery(
    "audience_overlap",
    (s, d) => {
      // user-partitioning satisfies the (type, user) distinct (subset
      // of the clustering keys), the hot-user aggregation, and the
      // user-keyed self-join, so each branch costs one exchange — the
      // same single-shuffle trick as retention_cohort, applied per branch
      // (the self-join recomputes the subtree; without a cache the two
      // branches are separate pipelines)
      // materialized: the membership frame feeds FOUR arms (sizes, hot
      // users, both self-join sides) — left lazy, the events scan +
      // distinct ran 4x per invocation. It is a pure function of the
      // dataset, so it is a substrate: built once per (session, dataset)
      // and shared by every later invocation, concurrent ones included.
      // The leaf does NOT preserve the user partitioning (checkpoint
      // leaves advertise UnknownPartitioning) — the win is the scan
      // removal, and the downstream re-exchanges are of the already-
      // reduced distinct frame.
      val m = graft.SubstrateCache.substrate(s, d, "audience-membership") {
        events(s, d)
          .select(col("event_type"), col("user_id"))
          .repartition(col("user_id"))
          .distinct()
      }
      val sizes = m.groupBy("event_type").agg(count(lit(1)).as("sz"))
      val hot = m
        .groupBy("user_id")
        .agg(count(lit(1)).as("ka"))
        .filter(col("ka") > MaxAudiencesPerUser)
        .select("user_id")
      // un-hinted anti-join: the hot-user set is ≤ Σmemberships/cap rows
      // — linear in the user base, the same unbounded class as capByDf's
      // hot grams. Both sides are already user-partitioned, so AQE either
      // broadcasts a measured-small set or joins with zero extra exchange.
      val mc = m.join(hot, Seq("user_id"), "left_anti")
      val a = mc.select(col("event_type").as("ta"), col("user_id"))
      val b = mc.select(col("event_type").as("tb"), col("user_id").as("uid2"))
      val co = a
        .join(b, a("user_id") === b("uid2") && a("ta") < b("tb"))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("co"))
      co
        .join(sizes.select(col("event_type").as("ta"), col("sz").as("na")), Seq("ta"))
        .join(sizes.select(col("event_type").as("tb"), col("sz").as("nb")), Seq("tb"))
        .select(
          col("ta"),
          col("tb"),
          col("co"),
          Disp.roundz(col("co").cast("double") / (col("na") + col("nb") - col("co")), 4).as("jaccard"),
        )
        .orderBy("ta", "tb")
    },
    Some(s"""WITH m AS (SELECT DISTINCT event_type, user_id FROM events),
            sz AS (SELECT event_type, count(*) AS sz FROM m GROUP BY 1),
            hot AS (SELECT user_id FROM m GROUP BY user_id HAVING count(*) > $MaxAudiencesPerUser),
            mc AS (SELECT m.event_type, m.user_id FROM m
                   LEFT JOIN hot ON m.user_id = hot.user_id WHERE hot.user_id IS NULL),
            co AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS co
                   FROM mc a JOIN mc b ON a.user_id = b.user_id AND a.event_type < b.event_type
                   GROUP BY 1, 2)
            SELECT co.ta, co.tb, co.co,
                   round(co.co::DOUBLE / (x.sz + y.sz - co.co), 4) AS jaccard
            FROM co JOIN sz x ON x.event_type = co.ta
                    JOIN sz y ON y.event_type = co.tb
            ORDER BY ta, tb"""),
  )

  /** Snapshot reconciliation — the diff every periodically-rebuilt
    * corpus needs: classify every key across two table versions as
    * added / removed / changed / unchanged via ONE full-outer join on
    * the key, then count per class. The "new" snapshot is derived
    * deterministically from the same table (keys ≡ 0 mod 11 deleted,
    * ≡ 0 mod 7 mutated, a mod-13 slice re-keyed as inserts), so the
    * oracle rebuilds the identical pair of versions. At 100 TB this is
    * the canonical merge shape: both sides shuffle once by the key,
    * per-key state is one row per side, and the classification is a
    * stateless projection — compare full corpus versions without ever
    * materializing a third copy.
    */
  private val snapshotDiff = DeclaredQuery(
    "snapshot_diff",
    (s, d) => {
      val old = customer(s, d).select(col("c_custkey").as("k"), col("c_mktsegment").as("v"))
      val newSnap = old
        .filter(pmod(col("k"), lit(11)) =!= 0)
        .withColumn(
          "v",
          when(pmod(col("k"), lit(7)) === 0, concat(col("v"), lit("*"))).otherwise(col("v")),
        )
        .unionByName(
          // insert keys rebased past max(k) via a 1-row broadcast scalar —
          // a fixed offset would collide with retained keys once real keys
          // outgrow it (SF ≳ 0.67 for +100000) and the full-outer join
          // below would fan out on the duplicates
          old
            .filter(pmod(col("k"), lit(13)) === 0)
            .crossJoin(broadcast(old.agg(max(col("k")).as("graft_max_k"))))
            .select((col("k") + col("graft_max_k")).as("k"), col("v")),
        )
      old
        .select(col("k"), col("v").as("v_old"))
        .join(newSnap.select(col("k"), col("v").as("v_new")), Seq("k"), "full_outer")
        .withColumn(
          "change_class",
          when(col("v_old").isNull, "added")
            .when(col("v_new").isNull, "removed")
            .when(col("v_old") =!= col("v_new"), "changed")
            .otherwise("unchanged"),
        )
        .groupBy("change_class")
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_key"), max(col("k")).as("max_key"))
        .orderBy("change_class")
    },
    Some("""WITH old AS (SELECT c_custkey AS k, c_mktsegment AS v FROM customer),
            new AS (SELECT k, CASE WHEN k % 7 = 0 THEN v || '*' ELSE v END AS v
                    FROM old WHERE k % 11 <> 0
                    UNION ALL
                    SELECT k + (SELECT max(k) FROM old) AS k, v FROM old WHERE k % 13 = 0),
            j AS (SELECT coalesce(o.k, n.k) AS k, o.v AS v_old, n.v AS v_new
                  FROM old o FULL OUTER JOIN new n ON o.k = n.k)
            SELECT CASE WHEN v_old IS NULL THEN 'added'
                        WHEN v_new IS NULL THEN 'removed'
                        WHEN v_old <> v_new THEN 'changed'
                        ELSE 'unchanged' END AS change_class,
                   count(*) AS n, min(k) AS min_key, max(k) AS max_key
            FROM j GROUP BY 1 ORDER BY 1"""),
  )

  /** Referential-integrity scorecard over the star schema's FK edges —
    * the dbt-test/Deequ constraint suite as ONE query: per edge, child
    * row count and orphan count (child keys missing in the parent). The
    * multi-edge rollup of `antijoin_missing` (which LISTS one edge's
    * missing rows): the gate reads this table, the investigation drills
    * into the anti-join.
    *
    * Plan: each edge is a left join of the child's KEY COLUMN against
    * the parent's primary key (unique by schema — the join cannot fan
    * out) reduced to a 1-row count pair, then a 4-row union — per edge
    * one exchange of (key) pairs, never whole rows, and AQE picks
    * broadcast vs shuffle per edge as parent size dictates (un-hinted:
    * parents are corpus-sized at 100 TB). Null FKs count as orphans
    * here by design — the audit wants "rows that will not join".
    */
  private val refIntegrityAudit = DeclaredQuery(
    "ref_integrity_audit",
    (s, d) => {
      def edge(
          fk: String,
          child: DataFrame,
          key: String,
          parent: DataFrame,
          pk: String,
      ): DataFrame =
        child
          .select(col(key).as("k"))
          .join(parent.select(col(pk).as("k"), lit(1L).as("hit")), Seq("k"), "left")
          .agg(
            count(lit(1)).as("n_child"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_orphans"),
          )
          .select(lit(fk).as("fk"), col("n_child"), col("n_orphans"))
      edge("lineitem.l_orderkey->orders", lineitem(s, d), "l_orderkey", orders(s, d), "o_orderkey")
        .unionByName(
          edge("lineitem.l_partkey->part", lineitem(s, d), "l_partkey", part(s, d), "p_partkey"))
        .unionByName(
          edge("lineitem.l_suppkey->supplier", lineitem(s, d), "l_suppkey",
            supplier(s, d), "s_suppkey"))
        .unionByName(
          edge("orders.o_custkey->customer", orders(s, d), "o_custkey",
            customer(s, d), "c_custkey"))
        .orderBy("fk")
    },
    Some("""WITH e1 AS (SELECT 'lineitem.l_orderkey->orders' AS fk, count(*) AS n_child,
                               CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
                        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
            e2 AS (SELECT 'lineitem.l_partkey->part', count(*),
                          CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey),
            e3 AS (SELECT 'lineitem.l_suppkey->supplier', count(*),
                          CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey),
            e4 AS (SELECT 'orders.o_custkey->customer', count(*),
                          CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
            SELECT * FROM e1 UNION ALL SELECT * FROM e2
            UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
            ORDER BY fk"""),
  )

  /** Two-proportion A/B significance test (the experimentation
    * primitive a product-analytics stack ships first): user cohorts by
    * id parity, conversion = any purchase, pooled-variance z statistic
    * with the ±1.96 two-sided verdict. The double chain runs over FOUR
    * exact integers (n/conv per cohort — distinct-user aggs), stated as
    * identical expression text in both engines and ×10³-floored at the
    * end; the verdict is then a pure integer compare (|z_e3| > 1960), so
    * significance cannot flip on a ULP. Degenerate pooled rates (p̂ = 0
    * or 1 — zero variance) null the statistic via nullif rather than
    * dividing by zero. One user-grain distinct agg is the only
    * corpus-sized step; output is one row.
    */
  private val abTestSignificance = DeclaredQuery(
    "ab_test_significance",
    (s, d) => {
      val per = events(s, d)
        .groupBy(expr("user_id % 2").as("cohort"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("conv"),
        )
      val a = per.filter(col("cohort") === 0)
        .select(col("n_users").as("n_a"), col("conv").as("conv_a"))
      val b = per.filter(col("cohort") === 1)
        .select(col("n_users").as("n_b"), col("conv").as("conv_b"))
      a.crossJoin(b)
        .withColumn(
          "z_e3",
          expr("""CAST(floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 |  / sqrt(nullif((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 |                * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 |                * (1.0 / n_a + 1.0 / n_b), 0.0))
                 |  * 1000.0 + 0.5) AS BIGINT)""".stripMargin),
        )
        .withColumn(
          "significant",
          expr("CAST(CASE WHEN z_e3 IS NOT NULL AND abs(z_e3) > 1960 THEN 1 ELSE 0 END AS BIGINT)"),
        )
        .select("n_a", "conv_a", "n_b", "conv_b", "z_e3", "significant")
        .orderBy("n_a")
    },
    Some("""WITH per AS (SELECT user_id % 2 AS cohort,
                                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                                CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                                         THEN user_id END) AS BIGINT) AS conv
                         FROM events GROUP BY 1),
            a AS (SELECT n_users AS n_a, conv AS conv_a FROM per WHERE cohort = 0),
            b AS (SELECT n_users AS n_b, conv AS conv_b FROM per WHERE cohort = 1),
            j AS (SELECT n_a, conv_a, n_b, conv_b,
                         CAST(floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                           / sqrt(nullif((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                                         * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                                         * (1.0 / n_a + 1.0 / n_b), 0.0))
                           * 1000.0 + 0.5) AS BIGINT) AS z_e3
                  FROM a CROSS JOIN b)
            SELECT n_a, conv_a, n_b, conv_b, z_e3,
                   CAST(CASE WHEN z_e3 IS NOT NULL AND abs(z_e3) > 1960
                             THEN 1 ELSE 0 END AS BIGINT) AS significant
            FROM j ORDER BY n_a"""),
  )

  /** Chi-square independence test over the (event_type × weekday)
    * contingency table — "does traffic mix depend on the day?" (the
    * categorical sibling of `dow_seasonality`'s per-cell envelope):
    * χ² = Σ (o·N − r·c)² / (N·r·c) with observed/marginal counts
    * exact, each cell's term evaluated as ONE shared double chain
    * (doubles, not BIGINT products — o·N crosses 2⁶³ at web scale) and
    * ×10³-floored AT THE CELL so the final sum is an exact,
    * order-invariant BIGINT. Output: table shape, degrees of freedom,
    * and the quantized statistic. Weekday from shared epoch-day
    * arithmetic — never engine dow(). The contingency agg is the only
    * corpus-sized step; marginals are rollups of the cell table.
    */
  private val chi2Independence = DeclaredQuery(
    "chi2_independence",
    (s, d) => {
      val cells = events(s, d)
        // FLOOR epoch-day (the typeDayCounts spelling, stated
        // identically in the oracle): truncating division misplaces
        // pre-1970 ts and would shift their dow
        .withColumn(
          "dow",
          expr("((unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) DIV 86400000000 + 4) % 7"),
        )
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("o"))
      val rm = cells.groupBy("event_type").agg(sum("o").as("r"))
      val cm = cells.groupBy("dow").agg(sum("o").as("c"))
      val n = cells.agg(sum("o").as("nn"))
      val terms = cells
        .join(rm, Seq("event_type")) // marginal tables: category-cardinality
        .join(cm, Seq("dow"))
        .crossJoin(broadcast(n))
        .withColumn(
          "term_e3",
          expr("""CAST(floor((CAST(o AS DOUBLE) * nn - CAST(r AS DOUBLE) * c)
                 |           * (CAST(o AS DOUBLE) * nn - CAST(r AS DOUBLE) * c)
                 |           / (CAST(nn AS DOUBLE) * r * c) * 1000.0 + 0.5) AS BIGINT)""".stripMargin),
        )
      terms
        .agg(
          countDistinct(col("event_type")).as("n_types"),
          countDistinct(col("dow")).as("n_dows"),
          sum(col("term_e3")).as("chi2_e3"),
        )
        .withColumn("df", expr("(n_types - 1) * (n_dows - 1)"))
        .select("n_types", "n_dows", "df", "chi2_e3")
        .orderBy("df")
    },
    Some("""WITH cells AS (SELECT event_type,
                                  ((epoch_us(ts) - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000) // 86400000000 + 4) % 7 AS dow,
                                  CAST(count(*) AS BIGINT) AS o
                           FROM events GROUP BY 1, 2),
            rm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
            cm AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
            ns AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
            terms AS (SELECT cells.event_type, cells.dow,
                             CAST(floor((CAST(o AS DOUBLE) * nn - CAST(r AS DOUBLE) * c)
                                        * (CAST(o AS DOUBLE) * nn - CAST(r AS DOUBLE) * c)
                                        / (CAST(nn AS DOUBLE) * r * c) * 1000.0 + 0.5) AS BIGINT)
                               AS term_e3
                      FROM cells JOIN rm USING (event_type) JOIN cm USING (dow)
                      CROSS JOIN ns)
            SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
                   CAST(count(DISTINCT dow) AS BIGINT) AS n_dows,
                   CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1) AS BIGINT)
                     AS df,
                   CAST(sum(term_e3) AS BIGINT) AS chi2_e3
            FROM terms ORDER BY df"""),
  )

  val queries: Seq[DeclaredQuery] = Seq(
    abTestSignificance,
    chi2Independence,
    refIntegrityAudit,
    audienceOverlap,
    snapshotDiff,
    corrStats,
    outlierFilter,
    histogramQuantile,
    quantileStats,
    winsorizeValues,
    rangeFrameAgg,
    pivotCounts,
    rollupAgg,
    cubeAgg,
    madRobust,
    groupConcatTopk,
    lagGaps,
    dedupDistinct,
    equiJoinLookup,
    antijoinMissing,
    idempotentUpsert,
    firstMatch,
    topkLimit,
    setUnionDistinct,
    exceptSpns,
    intersectKeys,
    groupCountAgg,
    consensusDistinct,
  )
}
