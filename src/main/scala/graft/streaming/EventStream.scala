package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.10): the streaming twin of
  * the `time_bucket_agg` batch query, plus watermarked stateful dedup.
  *
  * The reference is batch-only (OneFS *emits* inotify event streams but
  * IHT just reads the knobs, onefs.py:1099-1120); the north star asks for
  * stream processing over the `events` table. Design: one shared
  * aggregation applied to either a batch or a streaming DataFrame, so the
  * batch oracle (DuckDB-verified) also certifies the streaming plan's
  * semantics — parity is asserted in StreamingSpec via an AvailableNow
  * run over the same files.
  *
  * Scale notes: the hourly window agg is a streaming hash aggregation
  * keyed by (window start) — state is bounded by (#open windows ×
  * #partitions); the 10-minute watermark bounds open windows. Dedup keeps
  * one (event_id) per watermark horizon — state bounded by arrival skew,
  * not stream length.
  */
object EventStream {

  /** Physical schema of the events parquet (current driver testdata:
    * events.ts is TIMESTAMP(MICROS, isAdjustedToUTC=false), i.e. NTZ).
    * Streaming reads require an explicit schema; the NTZ column is cast to
    * plain TIMESTAMP after the scan — under the UTC session timezone this
    * reinterprets the same epoch micros, matching the batch normalization
    * in Tables.events.
    */
  val rawSchema: StructType = StructType(
    Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType),
    ),
  )

  /** Streaming read of an events parquet directory. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(rawSchema)
      .parquet(dir)
      .withColumn("ts", col("ts").cast(TimestampType))

  /** The shared hourly aggregation — applied identically to batch
    * (ExplodeOps.time_bucket_agg) and streaming inputs.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
      )
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n"),
        col("total_value"),
      )

  /** Watermarked variant for append-mode production runs: only closes a
    * window once events later than watermark have passed.
    */
  def hourlyAggWatermarked(events: DataFrame): DataFrame =
    hourlyAgg(events.withWatermark("ts", "10 minutes"))

  /** Stateful exact dedup on event_id within the watermark horizon
    * (the streaming analog of A1 distinct-set dedup).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark("event_id")

  /** Windowed per-type counts — the streaming substrate for heavy-hitter
    * ranking (the `token_topk` pattern on a stream). Append-mode streams
    * cannot sort-and-limit inside the query (rank needs the closed
    * window), so the standard production split applies: the stream keeps
    * the watermark-bounded windowed counts; top-k ranks each closed
    * window on the sink table. State is (#open windows × #types) —
    * bounded by the watermark, independent of stream length.
    */
  def typeCountsWindowed(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"),
        col("n"),
      )

  /** Stream-stream funnel join — the streaming twin of the declared
    * `event_pair_join` (TemporalOps): every (click, purchase) pair for
    * the same user with the purchase inside `gapSeconds` after the click.
    * A genuine two-sided stateful join: each side buffers rows until the
    * other side's watermark passes the join range, so state per side is
    * bounded by (watermark + gap) of events, never the stream's history —
    * the streaming mirror of the batch query's per-key pair bound. The
    * range condition lives on the EVENT-TIME columns (not derived
    * integers) because that is what lets Spark derive the state watermark
    * for eviction. Inner joins emit on match, so AvailableNow over a
    * bounded directory reproduces the batch result exactly
    * (StreamingSpec's parity case).
    *
    * `disorderSeconds` is the event-time disorder bound: once the
    * watermark (max event time − bound) passes a click's join range its
    * state is swept, and input below the watermark is late-filtered — so
    * a pair whose purchase arrives more disordered than the bound is
    * silently lost (StreamingSpec demonstrates both the loss and the
    * recovery under a wider bound). It is a parameter — not a constant —
    * because the safe value depends on the source's delivery skew, not
    * on `gapSeconds`; the default covers an hour of disorder on top of
    * the gap-bounded buffering.
    */
  def funnelPairs(
      events: DataFrame,
      gapSeconds: Long = 21600L,
      disorderSeconds: Long = 3600L,
  ): DataFrame = {
    val wm = s"$disorderSeconds seconds"
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", wm)
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"),
      )
      .withWatermark("purchase_ts", wm)
    clicks
      .join(
        purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") > col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $gapSeconds SECONDS"),
      )
      .select(
        col("click_id"),
        col("purchase_id"),
        col("user_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"),
      )
  }

  /** Stream events into the date-partitioned parquet layout — the ingest
    * half of `partitioned_scan_prune`'s serving story: micro-batches
    * append files under `day=YYYY-MM-DD/` directories, so the layout a
    * date-range query prunes at planning time is BUILT continuously by
    * the stream, not by a nightly rewrite. Exactly-once lands via the
    * parquet sink's write-ahead file log (the checkpoint the caller
    * attaches). Caller sets trigger + checkpoint and starts.
    */
  def writePartitionedByDay(
      events: DataFrame,
      dir: String,
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .writeStream
      .format("parquet")
      .option("path", dir)
      .partitionBy("day")

  // ---- durable incremental rollup (agg_state_merge streaming twin) --------

  /** Durable incremental rollup — the streaming side of the
    * `agg_state_merge` algebra: each micro-batch aggregates to a COMPACT
    * per-user state (count, DECIMAL sum, min/max µs) and lands it in a
    * [[BatchDirs]] store, so neither a crash-replayed batch nor a prior
    * lineage's dirs are double-counted. The merged view is
    * [[mergedState]] — one associative merge over all batch states,
    * never a rescan of raw events.
    *
    * At 100 TB this IS the daily-rollup architecture: history is
    * O(batches × keys) states on cheap storage, per-batch cost is one
    * slice aggregation, and the serving merge is keys-cardinality.
    * Periodic compaction (merge old batch dirs into one) is the same
    * associative agg written back — allowed precisely because the state
    * is mergeable, which the batch query's parity column gates.
    */
  def startStateMerge(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, stateDir, checkpointDir) { batch =>
      batch
        .select(
          col("user_id"),
          col("value").cast("decimal(18,2)").as("v"),
          unix_micros(col("ts")).as("tus"),
        )
        .groupBy("user_id")
        .agg(count(lit(1)).as("pn"), sum("v").as("pv"), min("tus").as("pmin"), max("tus").as("pmax"))
    }

  /** Collapse every persisted batch state with the same associative ops
    * — the read side of [[startStateMerge]], and the compaction step
    * (write the result back as one batch dir).
    */
  def mergedState(spark: SparkSession, stateDir: String): DataFrame =
    BatchDirs
      .read(spark, stateDir, "user_id BIGINT, pn BIGINT, pv DECIMAL(28,2), pmin BIGINT, pmax BIGINT")
      .groupBy("user_id")
      .agg(
        sum("pn").as("n"),
        sum("pv").cast("decimal(18,2)").as("total"),
        min("pmin").as("first_us"),
        max("pmax").as("last_us"),
      )

  // ---- rolling distinct (rolling_active_users streaming twin) -------------

  /** Streaming half of `rolling_active_users` — the sliding COUNT
    * DISTINCT whose count is NOT mergeable across panes, maintained the
    * only way that scales: persist the mergeable PART (the (day, user)
    * dedup grain, whose merge algebra is set union) and leave the
    * distinct-per-window to the serving query over that small grain.
    *
    * Each micro-batch reduces its slice to (day, user) and lands it in
    * a [[BatchDirs]] store. Cross-batch duplicates are expected and
    * harmless: the serve
    * re-distincts, and compaction (read all dirs, distinct, write one
    * dir) is the same union algebra written back.
    *
    * At 100 TB: per-batch cost is one slice dedup; stored state is
    * O(days × active users/day) — grain-sized, not corpus-sized; the
    * serve is windows × grain arithmetic, never a raw-event rescan.
    */
  def startDayUserGrain(
      events: DataFrame,
      grainDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, grainDir, checkpointDir)(graft.operators.TemporalOps.toDayUserGrain)

  /** Serve the trailing-7-day active-user counts from the persisted
    * grain — byte-identical to the declared batch query because the
    * post-grain pipeline IS the batch query's
    * ([[graft.operators.TemporalOps.rollingFromDayUser]]).
    */
  def rollingActiveFromGrain(spark: SparkSession, grainDir: String): DataFrame =
    graft.operators.TemporalOps.rollingFromDayUser(dayUserGrain(spark, grainDir))

  /** Serve the cumulative-unique-users growth curve from the SAME
    * persisted grain — byte-identical to the declared batch query
    * because the post-grain pipeline IS the batch query's
    * ([[graft.operators.TemporalOps.cumulativeFromDayUser]]). The
    * first-seen-day reduction is a MIN, so the store's overlapping
    * batch slices merge correctly by construction (min over a union of
    * slices = min of slice minima) — the second dashboard one grain
    * store serves, closing the sliding-distinct family's twin gap.
    */
  def cumulativeFromGrain(spark: SparkSession, grainDir: String): DataFrame =
    graft.operators.TemporalOps.cumulativeFromDayUser(dayUserGrain(spark, grainDir))

  private def dayUserGrain(spark: SparkSession, grainDir: String): DataFrame =
    BatchDirs.read(spark, grainDir, "day INT, user_id BIGINT")

  /** Streaming store for the APPROXIMATE tier: per micro-batch, reduce
    * the slice to the (day, register) sketch grain and land it in a
    * [[BatchDirs]] store like [[startDayUserGrain]], but with state bounded by
    * days × m (≈ days × 8 KB) instead of days × active users. This is
    * where the sketch tier's mergeability actually PAYS in streaming:
    * register-set union is the merge algebra, so overlapping slices,
    * replays, and compaction are all correct by construction — no
    * re-distinct caveat to document, it IS the serve's first step.
    */
  def startDayBktGrain(
      events: DataFrame,
      grainDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, grainDir, checkpointDir)(graft.operators.TemporalOps.toDayBktGrain)

  /** Serve both sketch dashboards from the persisted grain pair —
    * byte-identical to the declared batch queries because the
    * post-grain pipelines ARE the batch queries'
    * ([[graft.operators.TemporalOps.rollingSketchFrom]] /
    * [[graft.operators.TemporalOps.cumulativeSketchFrom]]).
    */
  def rollingSketchFromGrains(
      spark: SparkSession,
      bktGrainDir: String,
      userGrainDir: String,
  ): DataFrame =
    graft.operators.TemporalOps.rollingSketchFrom(
      dayBktGrain(spark, bktGrainDir),
      dayUserGrain(spark, userGrainDir),
    )

  def cumulativeSketchFromGrains(
      spark: SparkSession,
      bktGrainDir: String,
      userGrainDir: String,
  ): DataFrame =
    graft.operators.TemporalOps.cumulativeSketchFrom(
      dayBktGrain(spark, bktGrainDir),
      dayUserGrain(spark, userGrainDir),
    )

  private def dayBktGrain(spark: SparkSession, grainDir: String): DataFrame =
    BatchDirs.read(spark, grainDir, "day INT, bkt BIGINT")

  /** Continuous first-touch attribution: per micro-batch, reduce the
    * slice to the per-user (argmin event, purchased) grain — the SHARED
    * [[graft.operators.TemporalOps.toFirstTouchGrain]] — and land it in
    * a [[BatchDirs]] store. Both grain components merge (struct-min /
    * max-OR), so overlapping slices, replays, and compaction are
    * correct by construction: a user's true first event can arrive in
    * ANY batch and the serve's re-merge still finds it — no ordering
    * contract at all, unlike SCD-2.
    */
  def startFirstTouchGrain(
      events: DataFrame,
      grainDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, grainDir, checkpointDir)(graft.operators.TemporalOps.toFirstTouchGrain)

  /** Serve the attribution dashboard from the persisted grain —
    * byte-identical to the declared batch query because the post-grain
    * pipeline IS the batch query's
    * ([[graft.operators.TemporalOps.attributionFromGrain]]).
    */
  def attributionFromGrain(spark: SparkSession, grainDir: String): DataFrame =
    graft.operators.TemporalOps.attributionFromGrain(
      BatchDirs.read(
        spark,
        grainDir,
        "user_id BIGINT, first_us BIGINT, first_id BIGINT, first_type STRING, purchased BIGINT",
      ),
    )

  /** Continuous LAST-touch attribution — the argmax sibling of
    * [[startFirstTouchGrain]] (struct-max over non-purchase events +
    * max-OR purchased flag, both idempotent commutative merges):
    * overlapping slices, replays, and compaction are correct by
    * construction.
    */
  def startLastTouchGrain(
      events: DataFrame,
      grainDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, grainDir, checkpointDir)(graft.operators.TemporalOps.toLastTouchGrain)

  /** Serve last-touch attribution from the persisted grain — the serve
    * IS the batch query's post-grain half
    * ([[graft.operators.TemporalOps.lastTouchFromGrain]]).
    */
  def lastTouchFromGrain(spark: SparkSession, grainDir: String): DataFrame =
    graft.operators.TemporalOps.lastTouchFromGrain(
      BatchDirs.read(
        spark,
        grainDir,
        "user_id BIGINT, last_us BIGINT, last_id BIGINT, last_type STRING, purchased BIGINT",
      ),
    )

  /** Continuous anti-entropy: per micro-batch, reduce the slice to its
    * per-feed partial digests (count, Σ rowhash, XOR rowhash — the
    * SHARED [[graft.operators.ScalePatterns.eventsChecksumParts]]
    * grain) and land them in a [[BatchDirs]] store. Every component
    * is associative+commutative, so the serve is a plain merge over
    * whatever slices exist — replays overwrite, compaction is the
    * merge written back, and a source↔replica comparison is two tiny
    * digest frames diffed. This is the `events_checksum` batch query
    * maintained continuously instead of recomputed — the shape a
    * replication audit actually runs.
    *
    * Unlike the day-user/sketch grains (whose serve re-distincts, so
    * union absorbs overlap), count/Σ/XOR partials are ADDITIVE: the
    * batch dirs must be an exact partition of the stream, or the
    * digest double-counts — the precise corruption an anti-entropy
    * tool exists to detect. The store's batch-0 wipe guarantees it.
    */
  def startChecksumState(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, stateDir, checkpointDir)(graft.operators.ScalePatterns.eventsChecksumParts)

  /** Serve the merged digests — byte-identical to the declared
    * `events_checksum` because the merge IS the batch query's
    * ([[graft.operators.ScalePatterns.mergeChecksumParts]]).
    */
  def checksumFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.ScalePatterns.mergeChecksumParts(
      BatchDirs.read(spark, stateDir, "event_type STRING, pn BIGINT, psum DECIMAL(38,0), pxor BIGINT"),
    )

  /** Continuous privacy auditing — the QI × acting-user grain behind
    * `k_anonymity` / `l_diversity` kept live as events land: per
    * micro-batch the slice reduces to
    * ([[graft.operators.CurationOps.qiUserGrain]]) rows whose count
    * column is ADDITIVE, landed in a [[BatchDirs]] store. Class sizes
    * merge by sum; distinct sensitive values dedup across grain rows at
    * serve time (set
    * semantics — union of slices is exactly the corpus dedup). State
    * per batch dir is QI-class × active-user cardinality of the SLICE,
    * not the corpus.
    */
  def startQiGrain(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, stateDir, checkpointDir)(graft.operators.CurationOps.qiUserGrain)

  /** The merged QI class table from landed grain partials — the shared
    * first step of both served audits: per-(class, user) counts sum
    * across batch dirs, then the SAME
    * [[graft.operators.CurationOps.qiClasses]] reduction the declared
    * queries run. Zero committed batches serve the empty class table
    * (both audits then emit zero rows — a defined cold read).
    */
  private def qiGrainFromState(spark: SparkSession, stateDir: String): DataFrame =
    BatchDirs
      .read(spark, stateDir, "event_type STRING, day_no BIGINT, vb BIGINT, user_id BIGINT, c BIGINT")
      .groupBy("event_type", "day_no", "vb", "user_id")
      .agg(sum(col("c")).as("c"))

  private def qiClassesFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.CurationOps.qiClasses(qiGrainFromState(spark, stateDir))

  /** Continuous traffic monitoring — the (event_type, epoch-day) count
    * grain behind `traffic_anomaly` and `dow_seasonality` kept live:
    * counts are ADDITIVE, landed in a [[BatchDirs]] store, and both
    * served reports ride the SHARED
    * [[graft.operators.TemporalOps.anomalyFrom]] /
    * [[graft.operators.TemporalOps.dowEnvelopeFrom]] derivations over
    * the merged grain — the on-call queue updates per micro-batch with
    * state bounded by types × days, never events.
    */
  def startTypeDayGrain(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, stateDir, checkpointDir)(graft.operators.TemporalOps.typeDayCounts)

  private def typeDayFromState(spark: SparkSession, stateDir: String): DataFrame =
    BatchDirs
      .read(spark, stateDir, "event_type STRING, day_no BIGINT, c BIGINT")
      .groupBy("event_type", "day_no")
      .agg(sum(col("c")).as("c"))

  /** Serve the `traffic_anomaly` queue from the live grain. */
  def trafficAnomalyFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.anomalyFrom(typeDayFromState(spark, stateDir))

  /** Serve the `dow_seasonality` envelope from the same live grain. */
  def dowSeasonalityFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.dowEnvelopeFrom(typeDayFromState(spark, stateDir))

  /** Serve the `cusum_changepoint` report from the same live grain —
    * the third consumer of one persisted (type, day) count table: the
    * CUSUM needs the MERGED day totals (a per-batch cumulative sum is
    * meaningless — deviations are against the full-series mean), which
    * is exactly what the additive grain merge provides.
    */
  def cusumChangepointFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.cusumFrom(typeDayFromState(spark, stateDir))

  /** Serve the SES forecast level from the same live grain (fourth
    * consumer) — the smoothing weights depend on each day's index in
    * the FULL series, so only the merged grain gives the right
    * exponents; per-batch levels would re-weight history wrongly.
    */
  def expSmoothFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.expSmoothFrom(typeDayFromState(spark, stateDir))

  /** Serve the forecast-baseline MAE pair from the same live grain
    * (fifth consumer) — lags are positions in the merged day series,
    * so only the merged grain gives the right neighbors.
    */
  def forecastBaselinesFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.forecastBaselinesFrom(typeDayFromState(spark, stateDir))

  /** Serve the SES-vs-naive MASE quotient from the same live grain
    * (sixth consumer) — the level series and both error sums are
    * positions/lags in the MERGED day series, so only the merged grain
    * gives the right forecasts.
    */
  def maseSesFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.maseSesFrom(typeDayFromState(spark, stateDir))

  /** Serve the Holt trend-aware forecast from the same live grain
    * (seventh consumer) — level AND trend are positions in the merged
    * day series.
    */
  def holtFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.holtForecastFrom(typeDayFromState(spark, stateDir))

  /** Serve the dow-seasonal forecast from the same live grain (eighth
    * consumer) — the seasonal offset needs the merged per-dow means.
    */
  def seasonalForecastFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.seasonalForecastFrom(typeDayFromState(spark, stateDir))

  /** Serve the Mann–Kendall trend test from the same live grain (ninth
    * consumer) — S, the tie-corrected variance, and z all derive from
    * the merged day counts.
    */
  def mannKendallFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.mannKendallFrom(typeDayFromState(spark, stateDir))

  /** Serve the Theil–Sen robust slope from the same live grain (tenth
    * consumer) — the pairwise-slope median needs the merged series.
    */
  def theilSenFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.theilSenFrom(typeDayFromState(spark, stateDir))

  /** Serve the lag-7 autocorrelation from the same live grain (eleventh
    * consumer) — densify + moments all derive from the merged counts.
    */
  def acfLag7FromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.acfLag7From(typeDayFromState(spark, stateDir))

  /** Serve the Pettitt change point from the same live grain (twelfth
    * consumer) — the midrank scores derive from the merged counts.
    */
  def pettittFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.pettittFrom(typeDayFromState(spark, stateDir))

  /** Continuous burstiness screening — the per-(slice, user) gap-moment
    * grain behind `gap_burstiness` kept live (the round-15 "documented
    * follow-up" shipped): each micro-batch reduces to the SHARED
    * [[graft.operators.TemporalOps.gapGrainParts]] rows (n_events,
    * first/last endpoints, within-slice gap moments), and the serve
    * restores the ONE gap each slice boundary cut from the endpoints
    * ([[graft.operators.TemporalOps.mergeGapGrain]]) before the shared
    * statistic tail — so the served histogram is byte-identical to the
    * declared batch query over the same events.
    *
    * Like the checksum partials, gap moments are NOT re-distincted at
    * serve time: the batch dirs must be an exact partition of the
    * stream, which the [[BatchDirs]] store guarantees. The grain also
    * needs slices TIME-CONTIGUOUS per user (event-time-ordered arrival
    * — what a watermarked stream delivers): an interleaved slicing's
    * within-slice gaps are not gaps of the full series and no boundary
    * term can repair Σg² — the documented reason this report was
    * batch-tier until round 16. State per batch dir is one row per
    * active user in the slice — user-cardinality, never event-sized.
    */
  def startGapGrain(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, stateDir, checkpointDir)(graft.operators.TemporalOps.gapGrainParts)

  private def gapPartsFromState(spark: SparkSession, stateDir: String): DataFrame =
    BatchDirs.read(
      spark,
      stateDir,
      "user_id BIGINT, n_events BIGINT, first_us BIGINT, first_eid BIGINT, last_us BIGINT, " +
        "n_gaps BIGINT, sg BIGINT, sgg DECIMAL(38,0)",
    )

  /** Serve the `gap_burstiness` band histogram from the live grain —
    * boundary-gap-corrected merge + the shared statistic tail.
    */
  def burstinessFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.burstinessTail(
      graft.operators.TemporalOps.mergeGapGrain(gapPartsFromState(spark, stateDir)),
    )

  /** Streaming store for the TRANSITION grain — the Markov family's
    * serve (`event_transitions` share matrix + `transition_entropy`):
    * per micro-batch, the slice reduces to its internal (prev, next)
    * counts plus a user-cardinality boundary table (first/last event
    * type per user). A per-user time cut severs EXACTLY one transition
    * per straddling user, which the merge re-derives from consecutive
    * slices' boundary rows — the gap grain's precondition and
    * correction, at the type-pair grain. Each [[BatchDirs]] batch dir
    * holds both frames, as `cnt/` and `bnd/`.
    */
  def startTransitionGrain(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.storeSubdirs(events, stateDir, checkpointDir) { batch =>
      Seq(
        "/cnt" -> graft.operators.TemporalOps.transitionCountsFrom(batch),
        "/bnd" -> graft.operators.TemporalOps.transitionBoundaryGrain(batch),
      )
    }

  private def transitionCountsFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.mergeTransitionGrain(
      BatchDirs.read(spark, stateDir, "prev STRING, next STRING, n BIGINT", "/cnt"),
      BatchDirs.read(
        spark,
        stateDir,
        "user_id BIGINT, first_us BIGINT, first_eid BIGINT, first_type STRING, last_us BIGINT, last_type STRING",
        "/bnd",
      ),
    )

  /** Serve the `event_transitions` share matrix from the live grain. */
  def eventTransitionsFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.transitionShareTail(transitionCountsFromState(spark, stateDir))

  /** Serve `transition_entropy` from the live grain. */
  def transitionEntropyFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.transitionEntropyTail(transitionCountsFromState(spark, stateDir))

  /** Streaming store for the conversion-survival grain: per
    * micro-batch, the slice reduces to per-user (first event day,
    * first purchase day) — BOTH conditional MINs, so overlapping or
    * arbitrarily interleaved slices merge exactly (min of slice minima;
    * no boundary correction, no contiguity requirement — unlike the gap
    * grain, id-parity splits are fully associative here). State per
    * [[BatchDirs]] batch dir is user-cardinality.
    */
  def startKmGrain(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, stateDir, checkpointDir)(graft.operators.TemporalOps.kmUserGrain)

  /** Streaming store for the SESSION grain — the round-16 verdict's
    * session-family serve: per micro-batch, the slice reduces to its
    * session FRAGMENTS (the batch gap fold over the slice,
    * [[graft.operators.TemporalOps.sessionTableFrom]] — state per batch
    * dir is session-cardinality, orders smaller than events). Fragments
    * from per-user TIME-CONTIGUOUS slices recombine exactly: a cut
    * severs only the boundary gap, which the fragment-grain merge
    * re-evaluates (the gap grain's precondition and correction, one
    * grain up), landed in a [[BatchDirs]] store.
    */
  def startSessionGrain(
      events: DataFrame,
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, stateDir, checkpointDir) { batch =>
      graft.operators.TemporalOps.sessionTableFrom(batch).select("user_id", "n_events", "start_us", "end_us")
    }

  /** The merged full-stream session table off the live fragment store —
    * (user_id, sess, n_events, start_us, end_us, duration_us), exactly
    * the batch `sessionize` frame.
    */
  def sessionsFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.mergeSessionFragments(
      BatchDirs.read(spark, stateDir, "user_id BIGINT, n_events BIGINT, start_us BIGINT, end_us BIGINT"),
    )

  /** Serve `session_stats` from the live session grain — identical to
    * the declared batch query because the fragment merge reproduces the
    * full-stream session table and the report tail IS the batch query's
    * ([[graft.operators.TemporalOps.sessionStatsFrom]]).
    */
  def sessionStatsFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.sessionStatsFrom(sessionsFromState(spark, stateDir))

  /** Serve the `kaplan_meier` conversion curve from the live grain —
    * byte-identical to the declared batch query because the min/min
    * merge reproduces the full-stream per-user grain and the post-grain
    * pipeline IS the batch query's
    * ([[graft.operators.TemporalOps.kaplanMeierFrom]]).
    */
  private def kmGrainFromState(spark: SparkSession, stateDir: String): DataFrame =
    BatchDirs
      .read(spark, stateDir, "user_id BIGINT, fd BIGINT, pd BIGINT")
      .groupBy("user_id")
      .agg(min("fd").as("fd"), min("pd").as("pd"))

  def kaplanMeierFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.kaplanMeierFrom(kmGrainFromState(spark, stateDir))

  /** Serve the Nelson–Aalen cumulative hazard from the SAME live grain
    * (second survival serve of one store) — the shared risk table means
    * both estimators read identical censoring semantics.
    */
  def nelsonAalenFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.TemporalOps.nelsonAalenFrom(kmGrainFromState(spark, stateDir))

  /** Serve `k_anonymity` from the live grain — byte-identical to the
    * declared batch query over the full stream (shared grain reduction
    * + shared grid derivation).
    */
  def kAnonymityFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.CurationOps.kAnonymityFrom(spark, qiClassesFromState(spark, stateDir))

  /** Serve `l_diversity` from the same live grain. */
  def lDiversityFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.CurationOps.lDiversityFrom(spark, qiClassesFromState(spark, stateDir))

  /** Serve `t_closeness` from the same live grain (third privacy serve
    * of one store) — the TV distance needs the class × USER rows, which
    * is exactly what the grain persists; the merged grain feeds the
    * SAME [[graft.operators.CurationOps.tClosenessFrom]] tail as the
    * declared query.
    */
  def tClosenessFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.CurationOps.tClosenessFrom(spark, qiGrainFromState(spark, stateDir))

  /** Continuous quantile monitoring — the streaming twin of the
    * `histogram_quantile` sketch: per micro-batch, the
    * (event_type, value) slice reduces to fixed-extent bin partials (the
    * SHARED [[graft.operators.RelationalOps.histogramParts]] grain) and
    * lands in a [[BatchDirs]] store. The extent is PINNED by the
    * caller — production monitoring fixes its bucket layout up front
    * rather than re-deriving it per window — which is exactly what makes
    * the bin counts additive and the store a plain merge. State is
    * (#types × bins) counters per batch dir — corpus-independent.
    */
  def startHistogramParts(
      events: DataFrame,
      lo: Double,
      hi: Double,
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(events, stateDir, checkpointDir) { batch =>
      graft.operators.RelationalOps.histogramParts(
        batch.select(col("event_type").as("pri"), col("value").as("x")),
        batch.sparkSession.range(1).select(lit(lo).as("lo"), lit(hi).as("hi")),
      )
    }

  /** Serve p50/p90 per event type from the landed bin partials —
    * byte-identical to the batch walk over the same extent because the
    * merge is a plain sum of additive counters and the walk IS the batch
    * query's ([[graft.operators.RelationalOps.quantilesFromHistogram]]).
    * Zero committed batches serve the empty frame, not a path-not-found
    * exception.
    */
  def quantilesFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.RelationalOps.quantilesFromHistogram(
      graft.operators.RelationalOps.mergeHistogramParts(
        BatchDirs.read(spark, stateDir, "pri STRING, bin INT, lo DOUBLE, hi DOUBLE, cnt BIGINT"),
      ),
    )

  // ---- custom state: per-user sessionization ------------------------------

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)

  final case class SessionState(start: Long, end: Long, n: Int)

  /** One closed session per output row. */
  final case class UserSession(
      user_id: Long,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp,
      n_events: Int,
  )

  /** Per-user sessionization with a configurable inactivity gap —
    * `flatMapGroupsWithState` custom state (KeyValueGroupedDataset):
    * state per user is one open session; an event past the gap closes and
    * emits it. Event-time timeout bounds state by the watermark.
    *
    * At scale: state is O(active users), hash-partitioned by user —
    * exactly how a 1000-executor stateful job shards.
    */
  final case class DedupEvent(
      user_id: Long,
      event_type: String,
      ts: java.sql.Timestamp,
      event_id: Long,
  )
  final case class DedupFlag(user_id: Long, event_type: String, event_id: Long, dup: Boolean)
  final case class DedupWindowState(lastUs: Long)

  /** Streaming twin of the `event_dedup_window` batch query: an event is
    * a duplicate iff the previous same-(user, type) occurrence is less
    * than `windowUs` older — the at-least-once ingest screen, with the
    * SAME lag-vs-previous semantics as the batch lag() (a burst keeps
    * only its first event). State is one Long per live (user, type)
    * key, purged by event-time timeout once the watermark passes the
    * window — O(active keys), hash-partitioned like every stateful op.
    * Within a micro-batch rows process in (ts, event_id) order, so an
    * AvailableNow run over a static directory reproduces the batch
    * flags exactly (StreamingSpec asserts it per-event); across
    * micro-batches the ordering holds whenever arrival respects the
    * watermark bound, the standard streaming contract.
    */
  def dedupWindowed(
      events: org.apache.spark.sql.Dataset[DedupEvent],
      windowUs: Long,
  ): org.apache.spark.sql.Dataset[DedupFlag] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def usOf(t: java.sql.Timestamp): Long =
      (t.getTime / 1000) * 1000000L + t.getNanos / 1000
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DedupWindowState, DedupFlag](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout(),
      ) {
        (
            key: (Long, String),
            rows: Iterator[DedupEvent],
            state: GroupState[DedupWindowState],
        ) =>
          if (state.hasTimedOut) {
            // a timed-out key has no event within the window by definition
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
            val out = Seq.newBuilder[DedupFlag]
            var last = state.getOption.map(_.lastUs)
            sorted.foreach { e =>
              val us = usOf(e.ts)
              val dup = last.exists(l => us - l < windowUs)
              out += DedupFlag(key._1, key._2, e.event_id, dup)
              last = Some(us)
            }
            last.foreach { l =>
              state.update(DedupWindowState(l))
              state.setTimeoutTimestamp(l / 1000 + windowUs / 1000)
            }
            out.result().iterator
          }
      }
  }

  // ---- SCD-2 dimension maintenance (scd2_intervals streaming twin) --------

  /** Typed projection for the SCD-2 state function — exact integer µs,
    * matching the batch query's `unix_micros` time domain.
    */
  final case class TypedEvent(user_id: Long, t_us: Long, event_id: Long, event_type: String)

  /** Per-user open interval: the one SCD-2 row whose valid_to is NULL.
    * `(max_seen_us, max_seen_id)` is the guard high-water mark — the
    * newest event this user's state has absorbed, in the SAME
    * `(t_us, event_id)` lexicographic total order the batch twin sorts
    * by (max_seen_us ≥ valid_from_us when a same-type run extends the
    * open row without moving its start). Tracking the id too means a
    * later batch delivering an equal-time, smaller-id event — which
    * would violate the tie-broken total order without moving event
    * time — is rejected just as loudly as a plainly-late one.
    */
  final case class Scd2Open(
      event_type: String,
      valid_from_us: Long,
      max_seen_us: Long,
      max_seen_id: Long,
  )

  /** A closed SCD-2 row ([valid_from, valid_to) in exact µs). */
  final case class Scd2Closed(
      user_id: Long,
      event_type: String,
      valid_from_us: Long,
      valid_to_us: Long,
  )

  /** Streaming half of `scd2_intervals` — continuous SCD-2 dimension
    * maintenance: state per user is exactly ONE open interval (the
    * NULL-valid_to row of the batch result); an arriving event with a
    * different type closes it (emitted downstream) and opens the next.
    * The served dimension is the closed-row stream UNION the state
    * snapshot — what a warehouse MERGE INTO does nightly, kept
    * continuously instead.
    *
    * State is O(users) — one small case class each, hash-partitioned by
    * user, exactly how a 1000-executor stateful job shards; no timeout,
    * because an open current row is the semantics, not a leak. Within a
    * micro-batch events sort by (t_us, event_id) — the batch query's
    * total order; arrival ACROSS batches must respect event time (the
    * same in-order contract incremental SCD merges assume), and since
    * round 12 that contract is ENFORCED, not assumed: state carries the
    * per-user `(t_us, event_id)` high-water mark, and an event sorting
    * strictly below it in that lexicographic order fails the batch
    * loudly (`IllegalStateException` → the stream dies with the
    * offending user/time in the message) instead of silently fabricating
    * an interval that never existed. Loudly late beats silently wrong —
    * the parity specs stage in-order files by construction, so only this
    * runtime guard can catch a mis-ordered producer; StreamingSpec
    * stages an out-of-order second batch and asserts the failure.
    */
  def scd2(events: Dataset[TypedEvent]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Open, Scd2Closed](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout(),
      ) { (user: Long, rows: Iterator[TypedEvent], state: GroupState[Scd2Open]) =>
        val sorted = rows.toSeq.sortBy(e => (e.t_us, e.event_id))
        val closed = Seq.newBuilder[Scd2Closed]
        var cur = state.getOption
        sorted.foreach { e =>
          cur.foreach { o =>
            if (e.t_us < o.max_seen_us ||
              (e.t_us == o.max_seen_us && e.event_id < o.max_seen_id))
              throw new IllegalStateException(
                s"scd2: out-of-order arrival for user $user — event ${e.event_id} at " +
                  s"t_us=${e.t_us} sorts below already-absorbed state " +
                  s"(max_seen_us=${o.max_seen_us}, max_seen_id=${o.max_seen_id}) in the " +
                  "(t_us, event_id) total order; an incremental SCD-2 merge cannot " +
                  "retract emitted intervals, so this batch is rejected rather than " +
                  "fabricating history. Re-stage the producer in event-time order.",
              )
          }
          cur match {
            case Some(o) if o.event_type != e.event_type =>
              closed += Scd2Closed(user, o.event_type, o.valid_from_us, e.t_us)
              cur = Some(Scd2Open(e.event_type, e.t_us, e.t_us, e.event_id))
            case Some(o) => // same type: the open run simply extends
              cur = Some(o.copy(max_seen_us = e.t_us, max_seen_id = e.event_id))
            case None => cur = Some(Scd2Open(e.event_type, e.t_us, e.t_us, e.event_id))
          }
        }
        cur.foreach(state.update)
        closed.result().iterator
      }
  }

  /** The typed projection [[scd2]] consumes, from a raw events frame. */
  def typedEvents(events: DataFrame): Dataset[TypedEvent] = {
    import events.sparkSession.implicits._
    events
      .select(
        col("user_id"),
        unix_micros(col("ts")).as("t_us"),
        col("event_id"),
        col("event_type"),
      )
      .as[TypedEvent]
  }

  def sessionize(
      events: org.apache.spark.sql.Dataset[SessionEvent],
      gap: java.time.Duration,
  ): org.apache.spark.sql.Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gap.toMillis
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout(),
      ) { (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
        def toSession(s0: SessionState): UserSession =
          UserSession(user, new java.sql.Timestamp(s0.start), new java.sql.Timestamp(s0.end), s0.n)
        if (state.hasTimedOut) {
          val out = state.getOption.map(toSession).toSeq
          state.remove()
          out.iterator
        } else {
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          val closed = Seq.newBuilder[UserSession]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(s0) if e.ts.getTime - s0.end <= gapMs =>
                cur = Some(SessionState(s0.start, e.ts.getTime, s0.n + 1))
              case Some(s0) =>
                closed += toSession(s0)
                cur = Some(SessionState(e.ts.getTime, e.ts.getTime, 1))
              case None =>
                cur = Some(SessionState(e.ts.getTime, e.ts.getTime, 1))
            }
          }
          cur.foreach { s0 =>
            state.update(s0)
            state.setTimeoutTimestamp(s0.end + gapMs)
          }
          closed.result().iterator
        }
      }
  }
}
