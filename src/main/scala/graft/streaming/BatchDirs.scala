package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one micro-batch driver and the one batch-dir store behind every
  * streaming twin in this package.
  *
  * DRIVER ([[drive]]): `foreachBatch` under the caller's checkpoint with
  * the `AvailableNow` trigger — process every file available at start, then
  * stop. foreachBatch is at-least-once: a crash replays a batch under its
  * original id.
  *
  * STORE ([[store]]): batch `bid` lands its partial under
  * `<stateDir>/batch_<bid>` with Overwrite, so a replayed batch rewrites
  * its own dir and never duplicates it. Batch 0 first deletes `stateDir`:
  * a checkpoint lineage starts at batch 0 and can re-enter it only while
  * no later batch has committed, so whatever the dir holds then belongs to
  * a PRIOR lineage with its own batching. Additive partials (counts, sums,
  * moments) would double-count it; union- and min/max-merged grains would
  * serve rows the current stream never delivered. Resuming the same
  * checkpoint never re-enters batch 0 once batch 1 committed, so live
  * state is never dropped. The rule is the same for every store, with no
  * per-store opt-out. Consequently the batch dirs are always an exact
  * partition of the stream, and compaction (the merge written back as one
  * batch dir) is the reader's merge. Stores whose dirs hold anything else
  * — seed signatures, IVF layout generations — use [[drive]] alone; a
  * wipe there would drop state no batch rewrites.
  *
  * COLD READ ([[read]]): the committed `batch_*` dirs, or — when there are
  * none, because the dir was never created or holds no batch yet — an
  * empty frame of the reader's schema. Every serve over a cold store is
  * therefore the batch pipeline run over zero events, never a
  * path-not-found error.
  */
private[streaming] object BatchDirs {

  def drive(stream: DataFrame, checkpointDir: String)(
      f: (DataFrame, Long) => Unit,
  ): StreamingQuery =
    stream.writeStream
      .foreachBatch((batch: Dataset[Row], bid: Long) => f(batch.toDF(), bid))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Land `partial(batch)` as `<stateDir>/batch_<bid>`. */
  def store(stream: DataFrame, stateDir: String, checkpointDir: String)(
      partial: DataFrame => DataFrame,
  ): StreamingQuery =
    storeSubdirs(stream, stateDir, checkpointDir)(b => Seq("" -> partial(b)))

  /** Land each `(sub, frame)` of `parts(batch)` as `<stateDir>/batch_<bid><sub>` —
    * one store whose batch dirs hold several frames (the transition grain).
    */
  def storeSubdirs(stream: DataFrame, stateDir: String, checkpointDir: String)(
      parts: DataFrame => Seq[(String, DataFrame)],
  ): StreamingQuery =
    drive(stream, checkpointDir) { (batch, bid) =>
      if (bid == 0L) {
        val p = new Path(stateDir)
        p.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
      }
      parts(batch).foreach { case (sub, df) =>
        df.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/batch_$bid$sub")
      }
    }

  /** The committed `batch_*` dirs under `dir` (empty when it does not exist). */
  def listBatchDirs(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else
      fs.listStatus(p)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch_"))
        .map(_.getPath.toString)
        .toSeq
  }

  /** Every batch dir's `sub` frame unioned, or an empty frame of `schema`
    * (a DDL string) on a cold store.
    */
  def read(spark: SparkSession, stateDir: String, schema: String, sub: String = ""): DataFrame =
    listBatchDirs(spark, stateDir) match {
      case Seq() => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(schema))
      case dirs => spark.read.parquet(dirs.map(_ + sub): _*)
    }
}
