package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Ivf

/** Continuous maintenance of the durable IVF cell layout — the ANN
  * counterpart of `EventStream.writePartitionedByDay`: new embedding
  * batches land on a file stream, each batch is assigned to its nearest
  * cell under the STANDING centroid table (read-only — batches are
  * embarrassingly independent, the assignment is a per-row argmax
  * against a broadcast k-row table), and the rows append to the
  * `partitionBy(cid)` layout that `Ivf.searchCellLayout` prunes at
  * planning time. The index is built BY ingest, not by nightly
  * rebuilds; and since round 13 centroid refresh is ALSO continuous —
  * [[startCentroidPartials]] accumulates a full Lloyd update as
  * mergeable per-batch partials, so "re-run Lloyd when drift
  * accumulates" becomes "flip to [[refreshedCentroids]]" with no
  * corpus rescan.
  *
  * CRASH-REPLAY IDEMPOTENCE: each batch writes under its own `b=<id>`
  * partition with dynamic partition overwrite, so a replayed batch
  * rewrites its own partitions and never duplicates rows. `cid` stays a
  * partition column beneath `b`, so cell pruning still prunes
  * directories across every batch generation.
  *
  * Both this loop and the one-shot [[graft.operators.Ivf.writeCellLayout]]
  * route through [[graft.operators.Ivf.assign]], so the assignment
  * definition cannot drift; StreamingSpec proves the streamed layout
  * serves identical search results to a one-shot build.
  */
object EmbedIngest {

  /** File-stream an embeddings table layout, one file per micro-batch. */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Run the ingest loop until no files remain, appending each batch's
    * assigned vectors to the durable cell layout at `layoutDir`.
    * `centroids` is the standing (cid, cvec) table.
    *
    * LIFETIME CONTRACT: `checkpointDir` and `layoutDir` are coupled for
    * the layout's whole life. Idempotence rests on the dynamic partition
    * overwrite being keyed by `b=<batchId>`, and batch ids are assigned
    * by the CHECKPOINT — a restart against the same checkpoint replays
    * the same ids onto the same partitions (safe), but starting a FRESH
    * checkpoint over an existing layout restarts ids at 0 and silently
    * overwrites the earlier generation's `b=0,1,…` partitions, dropping
    * their vectors. To re-ingest from scratch, clear BOTH directories;
    * to resume, keep both. (StreamingSpec's recovery test exercises the
    * same-checkpoint replay path.)
    */
  def startCellAppend(
      embeds: DataFrame,
      centroids: DataFrame,
      layoutDir: String,
      checkpointDir: String,
  ): StreamingQuery = {
    val spark = embeds.sparkSession
    BatchDirs.drive(embeds, checkpointDir) { (batch, batchId) =>
      val e = batch.select(
        col("vec_id"),
        expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("dvec"),
      )
      Ivf
        .assign(spark, e, centroids) // schema-preserving: dvec rides through, no per-batch self-join
        .select(lit(batchId).as("b"), col("cid"), col("vec_id"), col("dvec"))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("b", "cid")
        .parquet(layoutDir)
    }
  }

  // ---- continuous k-means centroid refresh --------------------------------

  /** Continuous centroid REFRESH for the k-means family: per
    * micro-batch, reduce the slice to its per-cluster `(Σq, n)` Lloyd
    * partials under the STANDING centroids (the SHARED
    * [[graft.operators.KMeansOps.centroidPartials]] — the same
    * assignment projection and the same `VecSumAggregator`) and land
    * them as a [[BatchDirs]] store. Σq and n are ADDITIVE, so the
    * store's exact partition of the stream is what keeps the merge exact.
    *
    * This is the production "drift refresh" shape: serving keeps the
    * standing centroids; the refresh loop accumulates one FULL Lloyd
    * update across arbitrary micro-batching, and flipping the
    * dimension to the served table is one bounded read
    * ([[refreshedCentroids]]) — no corpus rescan, no downtime.
    */
  def startCentroidPartials(
      embeds: DataFrame,
      standing: Seq[Array[Long]],
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(embeds, stateDir, checkpointDir) { batch =>
      graft.operators.KMeansOps.centroidPartials(graft.operators.KMeansOps.quantizeFrame(batch), standing)
    }

  /** Merge the landed partials into the refreshed centroids —
    * byte-identical to ONE batch Lloyd update over the full stream
    * ([[graft.operators.KMeansOps.updateRound]]) because the merge IS
    * that update's driver half
    * ([[graft.operators.KMeansOps.mergeCentroidPartials]]); the read
    * is ≤ k rows per batch dir, corpus never moves.
    */
  def refreshedCentroids(
      spark: SparkSession,
      stateDir: String,
      standing: Seq[Array[Long]],
  ): Seq[Array[Long]] =
    // a cold store has no partials ⇒ every cluster keeps its standing centroid
    graft.operators.KMeansOps.mergeCentroidPartials(
      BatchDirs
        .read(spark, stateDir, "cluster BIGINT, s ARRAY<BIGINT>, n BIGINT")
        .collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Long](1), r.getLong(2)))
        .toSeq,
      standing,
    )

  // ---- continuous covariance/PCA moment refresh ---------------------------

  /** Continuous covariance-moment refresh for the PCA family: per
    * micro-batch, reduce the slice to its exact (Σq, Σqᵢqⱼ, n) moment
    * partials (the SHARED [[graft.operators.KMeansOps.momentPartials]] —
    * the same `CovMomentsAggregator` as the batch queries) and land the
    * 1-row frame as a [[BatchDirs]] store (the moments are ADDITIVE,
    * like the centroid partials). Serving the refreshed principal
    * direction ([[refreshedPrincipal]]) is then pure driver arithmetic
    * over ≤ one ~17 KB row per batch — no corpus rescan, closing the
    * last un-twinned driver-value family (centroids, checksums, grains,
    * and now moments all stream).
    */
  def startMomentPartials(
      embeds: DataFrame,
      stateDir: String,
      checkpointDir: String,
  ): StreamingQuery =
    BatchDirs.store(embeds, stateDir, checkpointDir) { batch =>
      graft.operators.KMeansOps.momentPartials(graft.operators.KMeansOps.quantizeFrame(batch))
    }

  /** Merge the landed moment partials — byte-identical to the one-shot
    * corpus moment pass because addition is the only operation on
    * either path. `None` when no partial has landed (there is no
    * "standing" moment to fall back on — the caller decides).
    */
  def refreshedMoments(
      spark: SparkSession,
      stateDir: String,
  ): Option[(Seq[BigInt], Seq[BigInt], Long)] = {
    val rows = BatchDirs.read(spark, stateDir, "s ARRAY<BIGINT>, p ARRAY<BIGINT>, n BIGINT").collect()
    if (rows.isEmpty) None
    else
      Some(graft.operators.KMeansOps.mergeMomentPartials(
        rows.map(r => (r.getSeq[Long](0), r.getSeq[Long](1), r.getLong(2))).toSeq))
  }

  /** The refreshed principal direction: merged streamed moments → the
    * SAME 64×64 BigInt power iteration as the batch `pca_power_iter`
    * ([[graft.operators.KMeansOps.principalFromMoments]]) — bit-identical
    * to a batch run over the full stream, at the cost of reading ≤ one
    * moment row per batch.
    */
  def refreshedPrincipal(spark: SparkSession, stateDir: String): Option[Array[Long]] =
    refreshedMoments(spark, stateDir).map { case (s, p, n) =>
      graft.operators.KMeansOps.principalFromMoments(s, p, n)
    }
}
