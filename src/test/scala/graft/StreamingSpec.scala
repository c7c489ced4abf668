package graft

import java.nio.file.Files
import graft.streaming.{DocIngest, EmbedIngest, EventStream}

/** Streaming/batch parity: the AvailableNow streaming run over the same
  * parquet files must produce exactly the DuckDB-verified batch result of
  * time_bucket_agg, and watermarked dedup must be a no-op on unique ids.
  */
class StreamingSpec extends SparkSpec {

  /** File stream sources read directories; stage the single-file testdata
    * parquet into one (production events land as a directory of files).
    */
  private lazy val eventsDir: String = {
    val dir = Files.createTempDirectory("events-stream")
    Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("part-000.parquet"),
    )
    dir.toString
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory(s"ck-$name").toString)
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
  }

  test("streaming hourly agg equals the batch time_bucket_agg oracle query") {
    val stream = EventStream.readEvents(spark, eventsDir)
    runToMemory(EventStream.hourlyAgg(stream), "hourly")
    val streamed = spark
      .table("hourly")
      .orderBy("hour")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val batch = SparkEntry
      .queries("time_bucket_agg")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming windowed counts + sink-side rank equal the DECLARED mg_heavy_hitters") {
    import org.apache.spark.sql.functions._
    val stream = EventStream.readEvents(spark, eventsDir)
    runToMemory(EventStream.typeCountsWindowed(stream), "type_counts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("hour")
      .orderBy(col("n").desc, col("event_type"))
    val streamed = spark
      .table("type_counts")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy("hour", "rk")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3).toLong))
    // the oracle-checked batch twin: same ranked cut, computed through the
    // mergeable Misra–Gries sketch instead of exact windowed counts
    val batch = SparkEntry
      .queries("mg_heavy_hitters")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("stream-stream funnel join equals the batch event_pair_join") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val q = EventStream
      .funnelPairs(stream)
      .writeStream
      .format("memory")
      .queryName("funnel")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ck-funnel").toString)
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    def canon(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val streamed = spark
      .table("funnel")
      .select("click_id", "purchase_id", "user_id", "gap_us")
      .orderBy("click_id", "purchase_id")
      .collect()
      .map(canon)
    val batch = SparkEntry
      .queries("event_pair_join")(spark, sfDir)
      .select("click_id", "purchase_id", "user_id", "gap_us")
      .collect()
      .map(canon)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("funnelPairs drops pairs beyond the disorder bound; a wider bound keeps them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the documented watermark semantics of the disorderSeconds parameter:
    // a purchase arriving more than that out of event-time order is late
    // past the join watermark and silently dropped — widening the bound
    // (not the gap) is what restores batch parity under disorder
    def run(disorder: Long): Set[(Long, Long)] = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
      val events = mem.toDF().toDF("event_id", "user_id", "ts", "event_type")
      val name = s"funnel_disorder_$disorder"
      val q = EventStream
        .funnelPairs(events, gapSeconds = 21600L, disorderSeconds = disorder)
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", Files.createTempDirectory(s"ck-$name").toString)
        .start()
      def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // batch 1 advances the watermark to 17:30 − disorder; with the 1 h
      // bound that crosses 16:00 = click₁ + gap, so click₁'s join state is
      // eligible for eviction
      mem.addData((1L, 1L, t(10, 0), "click"), (2L, 2L, t(17, 30), "click"))
      q.processAllAvailable()
      // batch 2 (fresh purchase) runs under that watermark — its close is
      // when the expired click state is actually swept
      mem.addData((4L, 2L, t(17, 45), "purchase"))
      q.processAllAvailable()
      // batch 3: the 7 h-out-of-order purchase for click₁
      mem.addData((3L, 1L, t(10, 30), "purchase"))
      q.processAllAvailable()
      q.stop()
      spark
        .table(name)
        .select("click_id", "purchase_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
    }
    // 1 h bound: the watermark (16:30) passed click₁ + gap, so its state is
    // swept and the 10:30 purchase is late-filtered — the pair is lost
    assert(run(3600L) == Set((2L, 4L)))
    // 8 h bound covers the 7 h disorder: watermark 9:30 < the purchase's
    // event time, click₁ still in state → both pairs, batch parity
    assert(run(28800L) == Set((1L, 3L), (2L, 4L)))
  }

  test("streaming ingest builds the date-partitioned serving layout") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("byday-stream").toString
    val q = EventStream
      .writePartitionedByDay(EventStream.readEvents(spark, eventsDir), out)
      .option("checkpointLocation", Files.createTempDirectory("ck-byday").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    // one directory per day — the prunable layout
    val days = new java.io.File(out).listFiles.map(_.getName).filter(_.startsWith("day="))
    assert(days.length >= 25, s"expected ~30 day dirs, got ${days.toSeq.sorted}")
    // the streamed layout serves the same pruned week aggregate as the
    // batch-built layout behind the declared query
    def canon(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1), r.getDouble(2))
    val streamed = spark.read
      .parquet(out)
      .filter(col("day") >= "2024-01-08" && col("day") <= "2024-01-14")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
      )
      .orderBy("event_type")
      .collect()
      .map(canon)
    val batch = SparkEntry
      .queries("partitioned_scan_prune")(spark, sfDir)
      .collect()
      .map(canon)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("watermarked dedup preserves unique event_ids") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val deduped = EventStream.dedupedEvents(stream).groupBy().count()
    runToMemory(deduped, "deduped_count")
    val n = spark.table("deduped_count").collect().head.getLong(0)
    val expected = Tables.events(spark, sfDir).count()
    assert(n == expected)
  }

  test("streaming sessionize parity with the batch sessionize oracle query") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val stream = EventStream
      .readEvents(spark, eventsDir)
      .select(col("user_id"), col("ts"))
      .as[EventStream.SessionEvent]
    val sess = EventStream.sessionize(stream, java.time.Duration.ofHours(4))
    val q = sess.writeStream
      .format("memory")
      .queryName("sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ck-sess").toString)
      .start()
    q.awaitTermination(120000)
    // streaming state keeps ms precision; batch keeps µs — compare at ms
    val streamed = spark
      .table("sessions")
      .collect()
      .map(r =>
        (
          r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("session_start").getTime,
          r.getAs[java.sql.Timestamp]("session_end").getTime,
          r.getAs[Int]("n_events").toLong,
        ),
      )
      .toSet
    val batchRows = SparkEntry.queries("sessionize")(spark, sfDir).collect()
    val batch = batchRows
      .map(r =>
        (
          r.getAs[Long]("user_id"),
          r.getAs[Long]("start_us") / 1000,
          r.getAs[Long]("end_us") / 1000,
          r.getAs[Long]("n_events"),
        ),
      )
      .toSet
    assert(streamed.subsetOf(batch), "every closed streaming session must be a batch session")
    // a user's final session may remain open (unemitted) at stream end
    val nUsers = batchRows.map(_.getAs[Long]("user_id")).distinct.length
    assert(
      streamed.size >= batch.size - nUsers,
      s"at most one open session per user may be withheld: ${streamed.size} vs ${batch.size} - $nUsers",
    )
  }

  test("streaming ingest near-dup equals the batch incremental check") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01" // 500 docs; the suite default is too small to pair
    val split = 400L
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter(col("doc_id") < split)
    val incoming = docs.filter(col("doc_id") >= split)

    // stage the new docs as TWO parquet files so maxFilesPerTrigger=1
    // yields two micro-batches — cross-batch pairs must still appear,
    // via the standing-state append between batches
    val streamDir = Files.createTempDirectory("doc-ingest").toString
    incoming.filter(col("doc_id") < split + 50).coalesce(1).write.mode("append").parquet(streamDir)
    incoming.filter(col("doc_id") >= split + 50).coalesce(1).write.mode("append").parquet(streamDir)

    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    var batches = 0
    val ingest = graft.streaming.DocIngest.start(
      graft.streaming.DocIngest.readDocs(spark, streamDir),
      graft.operators.DedupOps.corpusGramRows(spark, d).filter(col("doc_id") < split),
      minJ = 0.3,
      checkpointDir = Files.createTempDirectory("ck-ingest").toString,
    ) { pairs =>
      collected.synchronized {
        batches += 1
        collected ++= pairs
          .collect()
          .map(r =>
            (
              r.getAs[Long]("new_id"),
              r.getAs[Long]("other_id"),
              r.getAs[Long]("shared"),
              r.getAs[Double]("j"),
            ),
          )
      }
    }
    ingest.query.awaitTermination(180000)
    assert(!ingest.query.isActive)
    ingest.close()
    assert(batches >= 2, s"expected one micro-batch per staged file, got $batches")

    // canonical unordered-pair form: a cross-batch pair streams as
    // (later new doc, earlier doc) while the one-shot batch check
    // orients new-new pairs da < db
    def canon(t: (Long, Long, Long, Double)) =
      (math.min(t._1, t._2), math.max(t._1, t._2), t._3, math.round(t._4 * 1000))
    val streamed = collected.map(canon).toSet
    val batch = graft.operators.DedupOps
      .nearDupsAgainst(corpus, incoming, 0.3)
      .collect()
      .map(r =>
        canon(
          (
            r.getAs[Long]("new_id"),
            r.getAs[Long]("other_id"),
            r.getAs[Long]("shared"),
            r.getAs[Double]("j"),
          ),
        ),
      )
      .toSet
    assert(batch.nonEmpty, "fixture must contain near-dup pairs across the split")
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
  }

  test("incremental CC labels across micro-batches equal the full recompute; keeper reads the maintained table") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val split = 400L
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter(col("doc_id") < split)
    val incoming = docs.filter(col("doc_id") >= split)

    // two staged files → two micro-batches, so labels must survive a
    // batch-over-batch rewrite (merges can span batches)
    val streamDir = Files.createTempDirectory("doc-ingest-lbl").toString
    incoming.filter(col("doc_id") < split + 50).coalesce(1).write.mode("append").parquet(streamDir)
    incoming.filter(col("doc_id") >= split + 50).coalesce(1).write.mode("append").parquet(streamDir)

    val base = Files.createTempDirectory("lbl-store").toString
    val sigDir = base + "/grams"
    val labelsDir = base + "/labels"
    graft.streaming.DocIngest.seedSignatures(corpus, sigDir)
    // bootstrap = batch 0 against an empty corpus, through the same pair
    // definition the loop runs
    val corpusPairs = graft.operators.DedupOps
      .nearDupsAgainstGrams(graft.operators.DedupOps.gramRowsOf(corpus.limit(0)), corpus, 0.3)
      .select(col("new_id").as("da"), col("other_id").as("db"))
    graft.streaming.DocIngest.seedLabels(corpus, corpusPairs, labelsDir)

    val q = graft.streaming.DocIngest.startDurableLabeled(
      graft.streaming.DocIngest.readDocs(spark, streamDir),
      sigDir,
      labelsDir,
      minJ = 0.3,
      checkpointDir = Files.createTempDirectory("ck-ingest-lbl").toString,
    )((_, _) => ())
    q.awaitTermination(180000)
    assert(!q.isActive)

    val maintained = spark.read.parquet(labelsDir)
    assert(maintained.count() == docs.count(), "every doc must carry a label")

    // full recompute over the SAME pair definition (df-cap is a no-op on
    // this fixture: max shingle df = 7 << 100), one-shot star contraction
    val allPairs = graft.operators.DedupOps
      .nearDupsAgainstGrams(graft.operators.DedupOps.gramRowsOf(docs.limit(0)), docs, 0.3)
      .select(col("new_id").as("da"), col("other_id").as("db"))
    val (full, _) = graft.operators.DedupOps
      .starContract(docs.select(col("doc_id").as("node")), allPairs, 20)
    val fullSet = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    SubstrateCache.release(full)
    val maintainedSet = maintained.collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("lbl"))).toSet
    assert(maintainedSet == fullSet, "incremental labels must equal the full fixpoint")

    // the keeper policy served off the MAINTAINED table equals the
    // declared oracle-checked query (which reads the cc substrate)
    val keeperInc = graft.operators.DedupOps
      .keeperTable(
        maintained.select(col("node").as("doc_id"), col("lbl").as("cluster_id")),
        docs,
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val keeperDecl = SparkEntry
      .queries("cluster_keeper")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(keeperInc.toSeq == keeperDecl.toSeq)
  }

  test("durable labeled ingest resumes from a mid-stream kill and replays an uncommitted batch idempotently") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val split = 400L
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter(col("doc_id") < split)
    val fileA = docs.filter(col("doc_id") >= split && col("doc_id") < split + 50)
    val fileB = docs.filter(col("doc_id") >= split + 50)

    // only file A staged before run 1: AvailableNow drains what exists and
    // terminates — the "kill between batches" (batch 0 committed, nothing
    // else started)
    val streamDir = Files.createTempDirectory("doc-ingest-crash").toString
    fileA.coalesce(1).write.mode("append").parquet(streamDir)

    val base = Files.createTempDirectory("lbl-store-crash").toString
    val sigDir = base + "/grams"
    val labelsDir = base + "/labels"
    graft.streaming.DocIngest.seedSignatures(corpus, sigDir)
    val corpusPairs = graft.operators.DedupOps
      .nearDupsAgainstGrams(graft.operators.DedupOps.gramRowsOf(corpus.limit(0)), corpus, 0.3)
      .select(col("new_id").as("da"), col("other_id").as("db"))
    graft.streaming.DocIngest.seedLabels(corpus, corpusPairs, labelsDir)

    val ck = Files.createTempDirectory("ck-ingest-crash").toString
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def canon(r: org.apache.spark.sql.Row) = (
      math.min(r.getAs[Long]("new_id"), r.getAs[Long]("other_id")),
      math.max(r.getAs[Long]("new_id"), r.getAs[Long]("other_id")),
      r.getAs[Long]("shared"),
      math.round(r.getAs[Double]("j") * 1000),
    )
    val delivered = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Long, Long)]]
    def run(): Unit = {
      val q = graft.streaming.DocIngest.startDurableLabeled(
        graft.streaming.DocIngest.readDocs(spark, streamDir),
        sigDir,
        labelsDir,
        minJ = 0.3,
        checkpointDir = ck,
      ) { (pairs, id) =>
        seen.synchronized {
          seen += id
          delivered(id) = pairs.collect().map(canon).toSet
        }
      }
      q.awaitTermination(180000)
      assert(!q.isActive)
    }
    run()
    assert(seen.toSeq == Seq(0L), s"run 1 must commit exactly batch 0, saw $seen")

    // stage file B, then simulate a crashed second attempt that completed
    // EVERY durable write (grams in batch_1, labels merged) but died
    // before the checkpoint commit — the state the replay must be
    // idempotent over, built through the same public ops the loop runs
    fileB.coalesce(1).write.mode("append").parquet(streamDir)
    def sigPaths(excludeDir: String): Seq[String] = {
      val entries = Option(new java.io.File(sigDir).listFiles()).getOrElse(Array.empty)
      entries.collect {
        case f if f.isDirectory && f.getName != excludeDir => f.toString
        case f if f.isFile && f.getName.endsWith(".parquet") => f.toString
      }.toIndexedSeq
    }
    val crashPairs = graft.operators.DedupOps
      .nearDupsAgainstGrams(spark.read.parquet(sigPaths("batch_1"): _*), fileB, 0.3)
      .localCheckpoint()
    val crashSet = crashPairs.collect().map(canon).toSet
    val merged = graft.operators.DedupOps.incrementalCcLabels(
      spark.read.parquet(labelsDir),
      fileB.select(col("doc_id").as("node")),
      crashPairs.select(col("new_id").as("da"), col("other_id").as("db")),
      20,
    )
    merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(labelsDir)
    graft.operators.DedupOps
      .gramRowsOf(fileB)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$sigDir/batch_1")

    // run 2: restart from the SAME checkpoint — batch 1 runs over the
    // already-written state (its own gram dir is excluded from the corpus,
    // the label merge is a fixpoint)
    run()
    assert(seen.toSeq == Seq(0L, 1L), s"restart must replay exactly batch 1, saw $seen")
    assert(
      delivered(1L) == crashSet,
      "replayed batch must recompute the identical pair set over the half-written state",
    )

    // resumed durable state equals the one-shot full recompute
    val maintained = spark.read.parquet(labelsDir)
    assert(maintained.count() == docs.count(), "exactly one label per doc after replay")
    val allPairs = graft.operators.DedupOps
      .nearDupsAgainstGrams(graft.operators.DedupOps.gramRowsOf(docs.limit(0)), docs, 0.3)
      .select(col("new_id").as("da"), col("other_id").as("db"))
    val (full, _) = graft.operators.DedupOps
      .starContract(docs.select(col("doc_id").as("node")), allPairs, 20)
    val fullSet = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    SubstrateCache.release(full)
    val maintainedSet =
      maintained.collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("lbl"))).toSet
    assert(maintainedSet == fullSet, "resumed incremental labels must equal the full fixpoint")

    // gram store carries each doc's rows exactly once (Overwrite, never
    // Append, under replay)
    val gramTotal = spark.read.parquet(sigPaths(""): _*).count()
    assert(gramTotal == graft.operators.DedupOps.gramRowsOf(docs).count())
  }

  test("streamed IVF cell layout equals a one-shot build; replayed batches rewrite, not append") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, d)

    // two files → two micro-batches of new embeddings
    val streamDir = Files.createTempDirectory("embed-ingest").toString
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    emb.filter(col("vec_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)

    val cents = graft.operators.Ivf.refinedCentroids(spark, d)
    val layoutStream = Files.createTempDirectory("cell-layout-stream").toString + "/idx"
    val q = graft.streaming.EmbedIngest.startCellAppend(
      graft.streaming.EmbedIngest.readEmbeddings(spark, streamDir),
      cents,
      layoutStream,
      Files.createTempDirectory("ck-embed").toString,
    )
    q.awaitTermination(180000)
    assert(!q.isActive)

    // assignment parity: the streamed layout carries exactly the batch
    // assignment (both route through Ivf.assign under the same centroids)
    val e = emb.select(
      col("vec_id"),
      expr("transform(embedding, v -> CAST(v AS DOUBLE))").as("dvec"),
    )
    val streamed = spark.read
      .parquet(layoutStream)
      .select("vec_id", "cid")
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cid"))
      .toMap
    val batchAsg = graft.operators.Ivf
      .assign(spark, e, cents)
      .select("vec_id", "cid")
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cid"))
      .toMap
    assert(streamed == batchAsg, "streamed assignments must equal the one-shot assignment")

    // search parity: probing the streamed layout returns the identical
    // top-k as probing a one-shot writeCellLayout build
    val layoutOnce = Files.createTempDirectory("cell-layout-once").toString + "/idx"
    graft.operators.Ivf.writeCellLayout(spark, e, cents, layoutOnce)
    val queries = e
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("dvec").as("qvec"))
    def hits(dir: String) = graft.operators.Ivf
      .searchCellLayout(spark, dir, cents, queries, nprobe = 2, topk = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(hits(layoutStream) == hits(layoutOnce))

    // replay idempotence: re-running a batch's dynamic-partition
    // overwrite rewrites its own b=<id> partitions instead of appending
    val total = spark.read.parquet(layoutStream).count()
    val rows1 = spark.read.parquet(layoutStream).filter(col("b") === 1)
    assert(rows1.count() > 0, "second micro-batch must have written a b=1 generation")
    rows1
      .select(col("b"), col("cid"), col("vec_id"), col("dvec"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("b", "cid")
      .parquet(layoutStream)
    assert(spark.read.parquet(layoutStream).count() == total, "replay must rewrite, never duplicate")
  }

  test("streaming repeated-span screen equals the one-shot batch span check") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val split = 400L
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter(col("doc_id") < split)
    val incoming = docs.filter(col("doc_id") >= split)

    // two files → two micro-batches; the standing gram set is read-only,
    // so the union of per-batch spans must equal the one-shot check
    val streamDir = Files.createTempDirectory("doc-span-screen").toString
    incoming.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    incoming.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)

    val ghs = graft.operators.DedupOps
      .gramRowsOf(corpus)
      .select("gh")
      .distinct()
      .persist()
    ghs.count()
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var batches = 0
    val q = graft.streaming.DocIngest.startSpanScreen(
      graft.streaming.DocIngest.readDocs(spark, streamDir),
      ghs,
      checkpointDir = Files.createTempDirectory("ck-span-screen").toString,
    ) { spans =>
      collected.synchronized {
        batches += 1
        collected ++= spans
          .collect()
          .map(r =>
            (
              r.getAs[Long]("doc_id"),
              r.getAs[Long]("span_start"),
              r.getAs[Long]("span_words"),
              r.getAs[Long]("n_grams"),
            ),
          )
      }
    }
    q.awaitTermination(180000)
    assert(!q.isActive)
    assert(batches >= 2, s"expected one micro-batch per staged file, got $batches")

    val batch = graft.operators.DedupOps
      .spansAgainst(ghs, incoming)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    ghs.unpersist()
    assert(batch.nonEmpty, "fixture must contain corpus-duplicated spans in the incoming slice")
    assert(collected.toSet == batch, s"streamed=${collected.size} batch=${batch.size}")
  }

  test("streaming quality screen equals the batch quality_score threshold filter") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    // median quality as the threshold so both kept and cut docs exist
    val qs = graft.operators.TextOps.qualityScored(docs).select("quality").collect()
      .map(_.getDouble(0)).sorted
    val thr = qs(qs.length / 2)

    val streamDir = Files.createTempDirectory("doc-quality-screen").toString
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)

    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    var batches = 0
    val q = graft.streaming.DocIngest.startQualityScreen(
      graft.streaming.DocIngest.readDocs(spark, streamDir),
      minQuality = thr,
      checkpointDir = Files.createTempDirectory("ck-quality-screen").toString,
    ) { kept =>
      collected.synchronized {
        batches += 1
        collected ++= kept.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality")))
      }
    }
    q.awaitTermination(180000)
    assert(!q.isActive)
    assert(batches >= 2, s"expected one micro-batch per staged file, got $batches")

    val batch = graft.operators.TextOps
      .qualityScored(docs)
      .filter(col("quality") >= thr)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality")))
      .toSet
    assert(batch.nonEmpty && batch.size < qs.length, "threshold must separate the corpus")
    assert(collected.toSet == batch, s"streamed=${collected.size} batch=${batch.size}")
  }

  test("streaming rule screen equals the batch gopher_rules keep set") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)

    val streamDir = Files.createTempDirectory("doc-rule-screen").toString
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)

    val collected = scala.collection.mutable.ArrayBuffer.empty[Long]
    var batches = 0
    val q = graft.streaming.DocIngest.startRuleScreen(
      graft.streaming.DocIngest.readDocs(spark, streamDir),
      checkpointDir = Files.createTempDirectory("ck-rule-screen").toString,
    ) { kept =>
      collected.synchronized {
        batches += 1
        // every admitted row passed the conjunction (audit columns ride)
        val rows = kept.collect()
        assert(rows.forall(_.getAs[Boolean]("keep")))
        collected ++= rows.map(_.getAs[Long]("doc_id"))
      }
    }
    q.awaitTermination(180000)
    assert(!q.isActive)
    assert(batches >= 2, s"expected one micro-batch per staged file, got $batches")

    val batch = SparkEntry
      .queries("gopher_rules")(spark, d)
      .filter(col("keep"))
      .collect()
      .map(_.getAs[Long]("doc_id"))
      .toSet
    assert(batch.nonEmpty && batch.size < docs.count(), "rules must separate the corpus")
    assert(collected.toSet == batch, s"streamed=${collected.size} batch=${batch.size}")
  }

  test("streaming decontamination screen equals the batch contamination check") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    val incoming = docs.filter(col("source") =!= graft.operators.RetrievalOps.BenchmarkSource)

    // two parquet files → two micro-batches; the screen is stateless per
    // batch (the benchmark set is read-only), so their union must equal
    // the one-shot batch query exactly
    val streamDir = Files.createTempDirectory("doc-screen").toString
    incoming.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    incoming.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)

    val bench = graft.operators.RetrievalOps.benchmarkGrams(spark, d).persist()
    bench.count()
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var batches = 0
    val q = graft.streaming.DocIngest.startScreen(
      graft.streaming.DocIngest.readDocs(spark, streamDir),
      bench,
      checkpointDir = Files.createTempDirectory("ck-screen").toString,
    ) { flags =>
      collected.synchronized {
        batches += 1
        collected ++= flags
          .collect()
          .map(r =>
            (
              r.getAs[Long]("doc_id"),
              r.getAs[Long]("n_grams"),
              r.getAs[Long]("n_leaked"),
              math.round(r.getAs[Double]("contamination") * 1e6),
            ),
          )
      }
    }
    q.awaitTermination(180000)
    assert(!q.isActive)
    bench.unpersist()
    assert(batches >= 2, s"expected one micro-batch per staged file, got $batches")

    val batch = SparkEntry
      .queries("contamination_check")(spark, d)
      .collect()
      .map(r =>
        (
          r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_grams"),
          r.getAs[Long]("n_leaked"),
          math.round(r.getAs[Double]("contamination") * 1e6),
        ),
      )
      .toSet
    assert(batch.nonEmpty, "fixture must contain contaminated documents")
    assert(collected.toSet == batch, s"streamed screen must equal the batch check")
  }

  test("durable ingest: parquet signature table equals the in-session twin") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val split = 400L
    val docs = Tables.documents(spark, d)
    val corpus = docs.filter(col("doc_id") < split)
    val incoming = docs.filter(col("doc_id") >= split)

    val streamDir = Files.createTempDirectory("doc-ingest-dur").toString
    incoming.filter(col("doc_id") < split + 50).coalesce(1).write.mode("append").parquet(streamDir)
    incoming.filter(col("doc_id") >= split + 50).coalesce(1).write.mode("append").parquet(streamDir)

    val sigDir = Files.createTempDirectory("sig-store").toString + "/grams"
    graft.streaming.DocIngest.seedSignatures(corpus, sigDir)
    val seededRows = spark.read.parquet(sigDir).count()

    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = graft.streaming.DocIngest.startDurable(
      graft.streaming.DocIngest.readDocs(spark, streamDir),
      sigDir,
      minJ = 0.3,
      checkpointDir = Files.createTempDirectory("ck-ingest-dur").toString,
    ) { pairs =>
      collected.synchronized {
        collected ++= pairs
          .collect()
          .map(r =>
            (
              r.getAs[Long]("new_id"),
              r.getAs[Long]("other_id"),
              r.getAs[Long]("shared"),
              r.getAs[Double]("j"),
            ),
          )
      }
    }
    q.awaitTermination(180000)
    assert(!q.isActive)

    def canon(t: (Long, Long, Long, Double)) =
      (math.min(t._1, t._2), math.max(t._1, t._2), t._3, math.round(t._4 * 1000))
    val batch = graft.operators.DedupOps
      .nearDupsAgainst(corpus, incoming, 0.3)
      .collect()
      .map(r =>
        canon(
          (
            r.getAs[Long]("new_id"),
            r.getAs[Long]("other_id"),
            r.getAs[Long]("shared"),
            r.getAs[Double]("j"),
          ),
        ),
      )
      .toSet
    assert(collected.map(canon).toSet == batch, "durable ingest must equal the batch check")

    // the signature store grew by exactly the ingested docs' gram rows —
    // the state a NEXT run (or another pipeline stage) would start from
    val finalRows = spark.read.parquet(sigDir).count()
    val incomingGramRows = graft.operators.DedupOps.gramRowsOf(incoming).count()
    assert(finalRows == seededRows + incomingGramRows, s"$seededRows + $incomingGramRows != $finalRows")
  }

  test("watermarked hourly agg is a valid streaming plan") {
    val stream = EventStream.readEvents(spark, eventsDir)
    // analysis-time validation: watermark + window agg resolves in append mode
    val q = EventStream
      .hourlyAggWatermarked(stream)
      .writeStream
      .format("memory")
      .queryName("hourly_wm")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ck-wm").toString)
      .start()
    q.awaitTermination(120000)
    // append mode withholds the last open window; everything emitted must
    // match the batch result for its hour.
    val batch = SparkEntry
      .queries("time_bucket_agg")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val emitted = spark.table("hourly_wm").collect()
    assert(emitted.forall { r =>
      batch.get(r.getString(0)).contains((r.getLong(1), r.getDouble(2)))
    })
  }

  test("streaming windowed dedup flags equal the batch event_dedup_window lag flags") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val stream = EventStream
      .readEvents(spark, eventsDir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .as[EventStream.DedupEvent]
    val flagged = EventStream.dedupWindowed(stream, 60000000L)
    val q = flagged.writeStream
      .format("memory")
      .queryName("dedup_flags")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ck-dedupw").toString)
      .start()
    q.awaitTermination(120000)
    val streamed = spark
      .table("dedup_flags")
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Boolean]("dup")))
      .toMap
    // batch reference: the exact lag formulation of the declared query
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("us"), col("event_id"))
    val batch = Tables
      .events(spark, sfDir)
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn(
        "dup",
        col("prev_us").isNotNull && col("us") - col("prev_us") < lit(60000000L),
      )
      .select("event_id", "dup")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
      .toMap
    assert(streamed.size == batch.size, s"${streamed.size} streamed vs ${batch.size} batch")
    assert(streamed == batch, "per-event dup flags must agree between stream and batch")
  }

  test("durable streaming rollup states merge to the batch aggregation; replay rewrites") {
    import org.apache.spark.sql.functions._
    // stage events as TWO files so maxFilesPerTrigger=1 gives two batches
    val streamDir = Files.createTempDirectory("rollup-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("rollup-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(EventStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
        .withColumn("ts", col("ts").cast("timestamp"))
      val q = EventStream.startStateMerge(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-rollup").toString)
    // two batches → two state dirs
    val dirs = new java.io.File(stateDir).listFiles().filter(_.getName.startsWith("batch_"))
    assert(dirs.length == 2, s"expected 2 batch state dirs, got ${dirs.length}")
    def mergedRows() = EventStream
      .mergedState(spark, stateDir)
      .select(
        col("user_id"),
        col("n"),
        col("total").cast("double"),
        col("first_us"),
        col("last_us"),
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
      .toSeq
    val direct = ev
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("total"),
        min(expr("unix_micros(ts)")).as("first_us"),
        max(expr("unix_micros(ts)")).as("last_us"),
      )
      .select(
        col("user_id"),
        col("n"),
        col("total").cast("double"),
        col("first_us"),
        col("last_us"),
      )
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
      .toSeq
    val first = mergedRows()
    assert(first == direct, "merged streaming states must equal the from-scratch aggregation")
    // full replay from a FRESH checkpoint: every batch rewrites its own
    // dir with identical content — the merged view must not change
    runLoop(Files.createTempDirectory("ck-rollup2").toString)
    assert(mergedRows() == direct, "a replayed run must rewrite, never double-count")
    // compaction: the merge written back as ONE batch state replaces the
    // originals and re-merges to the identical view — allowed precisely
    // because the state algebra is associative (the agg_state_merge gate)
    val compacted = EventStream
      .mergedState(spark, stateDir)
      .select(
        col("user_id"),
        col("n").as("pn"),
        col("total").as("pv"),
        col("first_us").as("pmin"),
        col("last_us").as("pmax"),
      )
      .collect()
    val compactDir = Files.createTempDirectory("rollup-compact").toString
    import scala.jdk.CollectionConverters._
    spark
      .createDataFrame(
        compacted.toSeq.asJava,
        EventStream.mergedState(spark, stateDir)
          .select(
            col("user_id"),
            col("n").as("pn"),
            col("total").as("pv"),
            col("first_us").as("pmin"),
            col("last_us").as("pmax"),
          )
          .schema,
      )
      .write
      .parquet(s"$compactDir/batch_0")
    assert(
      EventStream
        .mergedState(spark, compactDir)
        .select(
          col("user_id"),
          col("n"),
          col("total").cast("double"),
          col("first_us"),
          col("last_us"),
        )
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
        .toSeq == direct,
      "compacted states must re-merge to the identical view",
    )
  }

  test("streaming SCD-2 state emits exactly the batch query's closed intervals") {
    import org.apache.spark.sql.functions._
    // stage TWO TIME-SPLIT files (not the id-parity split the associative
    // rollup tests use): SCD-2 runs are order-sensitive, so cross-batch
    // arrival must respect event time — the in-order contract incremental
    // SCD merges assume. mtimes are spaced so the file source replays
    // them oldest-first.
    val streamDir = Files.createTempDirectory("scd2-stream")
    val ev = Tables.events(spark, sfDir)
    val cutUs = ev
      .select(expr("percentile(unix_micros(ts), 0.5)"))
      .collect()(0)
      .getDouble(0)
      .toLong
    val early = streamDir.resolve("f0")
    val late = streamDir.resolve("f1")
    ev.filter(expr(s"unix_micros(ts) < ${cutUs}L")).coalesce(1)
      .write.parquet(early.toString)
    ev.filter(expr(s"unix_micros(ts) >= ${cutUs}L")).coalesce(1)
      .write.parquet(late.toString)
    val dir = Files.createTempDirectory("scd2-in")
    def stage(src: java.nio.file.Path, name: String, mtime: Long): Unit = {
      val part = Files.list(src).iterator()
      val files = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
      while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) files += p }
      assert(files.size == 1)
      val dst = dir.resolve(name)
      Files.copy(files.head, dst)
      dst.toFile.setLastModified(mtime)
      ()
    }
    stage(early, "a.parquet", 1000000L)
    stage(late, "b.parquet", 2000000L)
    val stream = spark.readStream
      .schema(EventStream.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStream
      .scd2(EventStream.typedEvents(stream))
      .toDF()
      .writeStream
      .format("memory")
      .queryName("scd2_closed")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ck-scd2").toString)
      .start()
    q.awaitTermination(120000)
    assert(!q.isActive)
    val streamed = spark
      .table("scd2_closed")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = SparkEntry
      .queries("scd2_intervals")(spark, sfDir)
      .filter(col("valid_to").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(batch.nonEmpty && streamed == batch,
      "streaming closed SCD-2 rows must equal the batch query's non-open intervals")
    // the open rows the state still holds are one per user, by invariant
    val openRows = SparkEntry
      .queries("scd2_intervals")(spark, sfDir)
      .filter(col("valid_to").isNull)
      .count()
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(openRows == users, "exactly one open interval per user")
  }

  test("SCD-2 state survives a restart: stop, ingest more, resume from checkpoint") {
    import org.apache.spark.sql.functions._
    // Phase 1 processes only the early half; the query then STOPS (the
    // crash stand-in). Phase 2 adds the late half and restarts from the
    // SAME checkpoint — the state store must hand back every open
    // interval, so the closed rows accumulated across both lives equal
    // exactly the batch result, and the cross-cut runs (opened in life
    // 1, closed in life 2) can only be right if the open intervals came
    // from the recovered state. The parquet sink's write-ahead log
    // carries exactly-once across the restart.
    val ev = Tables.events(spark, sfDir)
    val cutUs = ev
      .select(expr("percentile(unix_micros(ts), 0.5)"))
      .collect()(0)
      .getDouble(0)
      .toLong
    val dir = Files.createTempDirectory("scd2-restart-in")
    val ck = Files.createTempDirectory("ck-scd2-restart").toString
    def land(pred: String, name: String): Unit = {
      val tmp = Files.createTempDirectory(s"scd2-$name")
      ev.filter(expr(pred)).coalesce(1).write.parquet(tmp.resolve("d").toString)
      val part = Files
        .list(tmp.resolve("d"))
        .iterator()
      var src: java.nio.file.Path = null
      while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) src = p }
      Files.copy(src, dir.resolve(name))
      ()
    }
    val outDir = Files.createTempDirectory("scd2-restart-out").toString
    def runLife(): Set[(Long, String, Long, Long)] = {
      val stream = spark.readStream
        .schema(EventStream.rawSchema)
        .parquet(dir.toString)
        .withColumn("ts", col("ts").cast("timestamp"))
      val q = EventStream
        .scd2(EventStream.typedEvents(stream))
        .toDF()
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive)
      spark.read
        .parquet(outDir)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    }
    land(s"unix_micros(ts) < ${cutUs}L", "a.parquet")
    val life1 = runLife()
    land(s"unix_micros(ts) >= ${cutUs}L", "b.parquet")
    val life2 = runLife()
    val batch = SparkEntry
      .queries("scd2_intervals")(spark, sfDir)
      .filter(col("valid_to").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert((life2 -- life1).nonEmpty, "the resumed life must emit the cross-cut closed rows")
    assert(life2 == batch,
      "closed rows accumulated across both lives must equal the batch result")
    assert(life1.subsetOf(life2) && life2.size == life1.size + (life2 -- life1).size,
      "the restart must append, never replay — exactly-once via the sink's write-ahead log")
  }

  test("streaming (day,user) grain serves the exact rolling_active_users counts") {
    import org.apache.spark.sql.functions._
    // two files → two micro-batches; splitting by event_id parity puts
    // the SAME (day, user) pair into both batches for active users, so
    // the serve's re-distinct over appended grain slices is exercised
    val streamDir = Files.createTempDirectory("rau-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val grainDir = Files.createTempDirectory("rau-grain").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(EventStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
        .withColumn("ts", col("ts").cast("timestamp"))
      val q = EventStream.startDayUserGrain(stream, grainDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-rau").toString)
    val dirs = new java.io.File(grainDir).listFiles().filter(_.getName.startsWith("batch_"))
    assert(dirs.length == 2, s"expected 2 grain batch dirs, got ${dirs.length}")
    def served() = EventStream
      .rollingActiveFromGrain(spark, grainDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    val batch = SparkEntry
      .queries("rolling_active_users")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    assert(batch.nonEmpty && served() == batch,
      "grain-served rolling counts must equal the declared batch query")
    // replay from a fresh checkpoint rewrites identical grain slices
    runLoop(Files.createTempDirectory("ck-rau2").toString)
    assert(served() == batch, "a replayed grain run must not change the serve")
    // compaction IS set union written back — the mergeable half of a
    // question whose count is not mergeable
    val compactDir = Files.createTempDirectory("rau-compact").toString
    spark.read
      .parquet(s"$grainDir/batch_*")
      .distinct()
      .write
      .parquet(s"$compactDir/batch_0")
    assert(
      EventStream
        .rollingActiveFromGrain(spark, compactDir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .toSeq == batch,
      "compacted grain must serve the identical counts",
    )
  }

  test("the SAME grain store serves the exact cumulative_unique_users curve") {
    import org.apache.spark.sql.functions._
    // id-parity split again: a user's true first-seen day can land in
    // either (or both) batches, so the min-merge over overlapping grain
    // slices — the algebra the serve depends on — is really exercised.
    val streamDir = Files.createTempDirectory("cuu-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val grainDir = Files.createTempDirectory("cuu-grain").toString
    val stream = spark.readStream
      .schema(EventStream.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStream.startDayUserGrain(
      stream, grainDir, Files.createTempDirectory("ck-cuu").toString)
    q.awaitTermination(120000)
    assert(!q.isActive)
    def canon(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1), r.getLong(2))
    val served = EventStream.cumulativeFromGrain(spark, grainDir).collect().map(canon).toSeq
    val batch = SparkEntry
      .queries("cumulative_unique_users")(spark, sfDir)
      .collect()
      .map(canon)
      .toSeq
    assert(batch.nonEmpty && served == batch,
      "grain-served cumulative uniques must equal the declared batch query")
  }

  test("sketch grain store serves BOTH approximate dashboards exactly (mergeable registers)") {
    import org.apache.spark.sql.functions._
    // id-parity split: the same (day, register) can land in both batch
    // slices, exercising the union-merge the sketch tier exists for.
    val streamDir = Files.createTempDirectory("skg-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val bktDir = Files.createTempDirectory("skg-bkt").toString
    val userDir = Files.createTempDirectory("skg-user").toString
    def ingest(start: (org.apache.spark.sql.DataFrame, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery, dir: String): Unit = {
      val stream = spark.readStream
        .schema(EventStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
        .withColumn("ts", col("ts").cast("timestamp"))
      val q = start(stream, dir, Files.createTempDirectory("ck-skg").toString)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    ingest(EventStream.startDayBktGrain, bktDir)
    ingest(EventStream.startDayUserGrain, userDir)
    def canon(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val servedRolling = EventStream
      .rollingSketchFromGrains(spark, bktDir, userDir).collect().map(canon).toSeq
    val batchRolling = SparkEntry
      .queries("rolling_active_sketch")(spark, sfDir).collect().map(canon).toSeq
    assert(batchRolling.nonEmpty && servedRolling == batchRolling,
      "grain-served rolling sketch must equal the declared batch query")
    val servedCum = EventStream
      .cumulativeSketchFromGrains(spark, bktDir, userDir).collect().map(canon).toSeq
    val batchCum = SparkEntry
      .queries("cumulative_unique_sketch")(spark, sfDir).collect().map(canon).toSeq
    assert(batchCum.nonEmpty && servedCum == batchCum,
      "grain-served cumulative sketch must equal the declared batch query")
  }

  test("first-touch grain store serves the exact attribution dashboard") {
    import org.apache.spark.sql.functions._
    // id-parity split: a user's true first event and their purchase can
    // land in DIFFERENT batches, so the serve's struct-min re-merge and
    // the OR-merge of the purchased flag are both really exercised —
    // per-batch grains alone would misattribute.
    val streamDir = Files.createTempDirectory("ft-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val grainDir = Files.createTempDirectory("ft-grain").toString
    val stream = spark.readStream
      .schema(EventStream.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStream.startFirstTouchGrain(
      stream, grainDir, Files.createTempDirectory("ck-ft").toString)
    q.awaitTermination(120000)
    assert(!q.isActive)
    def canon(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val served = EventStream.attributionFromGrain(spark, grainDir).collect().map(canon).toSeq
    val batch = SparkEntry
      .queries("first_touch_attribution")(spark, sfDir)
      .collect()
      .map(canon)
      .toSeq
    assert(batch.nonEmpty && served == batch,
      "grain-served attribution must equal the declared batch query")
  }

  test("last-touch grain store serves the exact last-touch dashboard") {
    import org.apache.spark.sql.functions._
    // same adversarial split as first-touch: a user's true LAST
    // non-purchase touch and their purchase land in different batches,
    // so the struct-max re-merge (nulls skipped for purchase-only
    // users) and the OR-merge are both exercised across slices.
    val streamDir = Files.createTempDirectory("lt-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val grainDir = Files.createTempDirectory("lt-grain").toString
    val stream = spark.readStream
      .schema(EventStream.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStream.startLastTouchGrain(
      stream, grainDir, Files.createTempDirectory("ck-lt").toString)
    q.awaitTermination(120000)
    assert(!q.isActive)
    def canon(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val served = EventStream.lastTouchFromGrain(spark, grainDir).collect().map(canon).toSeq
    val batch = SparkEntry
      .queries("last_touch_attribution")(spark, sfDir)
      .collect()
      .map(canon)
      .toSeq
    assert(batch.nonEmpty && served == batch,
      "grain-served last-touch must equal the declared batch query")
  }

  test("continuous checksum state merges to the exact events_checksum digests") {
    import org.apache.spark.sql.functions._
    val streamDir = Files.createTempDirectory("cks-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("cks-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(EventStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
        .withColumn("ts", col("ts").cast("timestamp"))
      val q = EventStream.startChecksumState(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-cks").toString)
    // checksum_sum declares as BIGINT since round 16 ("BIGINT means out");
    // the wide DECIMAL partials live only inside the state store
    def canon(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    def served() = EventStream.checksumFromState(spark, stateDir).collect().map(canon).toSeq
    val batch = SparkEntry.queries("events_checksum")(spark, sfDir).collect().map(canon).toSeq
    assert(batch.nonEmpty && served() == batch,
      "merged streaming digests must equal the declared batch checksum")
    // replay from a fresh checkpoint rewrites identical partials
    runLoop(Files.createTempDirectory("ck-cks2").toString)
    assert(served() == batch, "a replayed run must not change the digests")
    // compaction = the merge written back as one part (pn/psum/pxor names)
    val compactDir = Files.createTempDirectory("cks-compact").toString
    EventStream
      .checksumFromState(spark, stateDir)
      .select(col("event_type"), col("n").as("pn"),
        col("checksum_sum").as("psum"), col("checksum_xor").as("pxor"))
      .write
      .parquet(s"$compactDir/batch_0")
    assert(EventStream.checksumFromState(spark, compactDir).collect().map(canon).toSeq == batch,
      "compacted digest state must serve identically")
    // the anti-entropy diff itself: a replica missing ONE row diverges
    val replicaDir = Files.createTempDirectory("cks-replica").toString
    graft.operators.ScalePatterns
      .eventsChecksumParts(ev.filter(col("event_id") =!= 0))
      .write
      .parquet(s"$replicaDir/batch_0")
    val replica = EventStream.checksumFromState(spark, replicaDir).collect().map(canon).toSeq
    assert(replica != batch, "a replica missing one row must produce different digests")
  }

  test("continuous centroid partials merge to exactly one batch Lloyd update") {
    import org.apache.spark.sql.functions._
    // id-parity split: every cluster's members straddle both batches,
    // so the additive (Σq, n) merge is really exercised — a per-batch
    // division instead of a partial merge would produce different
    // centroids (means of means ≠ mean).
    val standing = operators.KMeansOps.lloydCentroids(spark, sfDir)
    val streamDir = Files.createTempDirectory("ckm-stream").toString
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    emb.filter(col("vec_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("ckm-state").toString
    val stream = spark.readStream
      .schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
    val q = EmbedIngest.startCentroidPartials(
      stream, standing, stateDir, Files.createTempDirectory("ck-ckm").toString)
    q.awaitTermination(120000)
    assert(!q.isActive)
    val served = EmbedIngest.refreshedCentroids(spark, stateDir, standing)
    val batch = operators.KMeansOps.updateRound(
      operators.KMeansOps.quantizeFrame(emb), standing)
    assert(served.length == batch.length &&
      served.zip(batch).forall { case (a, b) => a.sameElements(b) },
      "streamed partial-merge must equal the one-shot Lloyd update")
    // and the refresh genuinely moved the dimension (standing ≠ refreshed
    // on this corpus — the drift the loop exists to absorb)
    assert(served.zip(standing).exists { case (a, b) => !a.sameElements(b) },
      "refresh should differ from the standing centroids on real data")
  }

  test("continuous vocab partials merge to the exact batch vocabulary (and retrain equally)") {
    import org.apache.spark.sql.functions._
    // id-parity split: common words appear in BOTH batches, so the
    // additive (w, wc) merge is really exercised — serving either
    // batch's partial alone (or a last-batch-wins overwrite) would
    // produce different counts for every shared word.
    val streamDir = Files.createTempDirectory("vocab-stream").toString
    val docs = Tables.documents(spark, sfDir)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("vocab-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = DocIngest.startVocabPartials(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-vocab").toString)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val servedVocab = DocIngest.refreshedVocab(spark, stateDir)
    val batchVocab = operators.BpeOps.vocabOf(docs)
    assert(canon(servedVocab) == canon(batchVocab),
      "merged streamed vocab partials must equal the one-shot corpus vocabulary")
    // the merge itself is distributed (vocabulary-cardinality state):
    // the served plan is a parquet scan + hash agg, no collect boundary
    assert(servedVocab.queryExecution.executedPlan.toString.contains("HashAggregate"))
    // retraining on the refreshed vocab = batch training on the full
    // stream, merge-for-merge (same counts => same argmax chain)
    val servedMerges = operators.BpeOps.bpeTrain(servedVocab.filter(col("w") =!= ""), 3)
    val batchMerges = operators.BpeOps.bpeTrain(batchVocab.filter(col("w") =!= ""), 3)
    assert(servedMerges == batchMerges && servedMerges.size == 3,
      "BPE retrained from streamed vocab state must equal batch training")
    // crash-replay: a fresh checkpoint lineage re-enters at batch 0 —
    // the wipe discipline rewrites identical partials, no double count
    runLoop(Files.createTempDirectory("ck-vocab2").toString)
    assert(canon(DocIngest.refreshedVocab(spark, stateDir)) == canon(batchVocab),
      "a replayed lineage must not double-count word frequencies")
    // zero-batch state serves the empty vocabulary, not an exception
    val empty = Files.createTempDirectory("vocab-empty").toString
    val none = DocIngest.refreshedVocab(spark, s"$empty/never")
    assert(none.columns.toSeq == Seq("w", "wc") && none.count() == 0)
  }

  test("continuous DSIR partials serve the exact batch model (and survive replay)") {
    import org.apache.spark.sql.functions._
    // id-parity split: every hash bucket receives features from BOTH
    // batches, so the additive (b, tc, rc) merge is really exercised —
    // per-batch log-ratios instead of merged counts would differ (the
    // log of a sum is not the sum of logs).
    val streamDir = Files.createTempDirectory("dsir-stream").toString
    val docs = Tables.documents(spark, sfDir)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("dsir-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = DocIngest.startDsirPartials(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-dsir").toString)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    val served = DocIngest.dsirModelFromState(spark, stateDir)
    val batch = operators.PipelineOps.dsirLamFrom(
      spark, operators.PipelineOps.dsirBucketCounts(docs))
    assert(canon(served) == canon(batch) && served.count() > 0,
      "merged streamed DSIR counts must derive the exact batch log-ratio model")
    // crash-replay: a fresh checkpoint lineage re-enters at batch 0 —
    // the wipe discipline rewrites identical partials, no double count
    runLoop(Files.createTempDirectory("ck-dsir2").toString)
    assert(canon(DocIngest.dsirModelFromState(spark, stateDir)) == canon(batch),
      "a replayed lineage must not double-count bucket frequencies")
    // zero-batch state serves the DEFINED empty-corpus model (every
    // bucket present, the batch derivation's own empty-input value) —
    // a cold serving path never throws
    val empty = Files.createTempDirectory("dsir-empty").toString
    val none = DocIngest.dsirModelFromState(spark, s"$empty/never")
    assert(none.columns.toSeq == Seq("b", "lam"))
    assert(none.count() == batch.count(), "the empty model still enumerates every bucket")
  }

  test("continuous source partials serve the exact batch reputation report (and survive replay)") {
    import org.apache.spark.sql.functions._
    // id-parity split: every source receives documents from BOTH
    // batches, so the additive (n_docs, sum_chars, sum_uniq) merge is
    // really exercised — and the blocked flag depends on the CORPUS
    // mean, which only exists after the merge (per-batch flags would
    // differ).
    val streamDir = Files.createTempDirectory("rep-stream").toString
    val docs = Tables.documents(spark, sfDir)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("rep-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = DocIngest.startSourcePartials(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-rep").toString)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .toSet
    val served = DocIngest.sourceReputationFromState(spark, stateDir)
    val batch = operators.CurationOps.reputationFrom(operators.CurationOps.sourcePartials(docs))
    assert(canon(served) == canon(batch) && served.count() > 0,
      "merged streamed source partials must equal the one-shot reputation report")
    // the SAME landed partials serve the diversity dashboard too —
    // byte-identical to the declared one-shot query
    def canonAll(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq.toSet
    val divBatch = SparkEntry.queries("source_diversity")(spark, sfDir)
    assert(canonAll(DocIngest.sourceDiversityFromState(spark, stateDir)) == canonAll(divBatch),
      "source_diversity served from the reputation partials must equal the declared batch query")
    // crash-replay: a fresh checkpoint lineage re-enters at batch 0 —
    // the wipe discipline rewrites identical partials, no double count
    runLoop(Files.createTempDirectory("ck-rep2").toString)
    assert(canon(DocIngest.sourceReputationFromState(spark, stateDir)) == canon(batch),
      "a replayed lineage must not double-count source sums")
    // zero-batch state serves the empty report, not an exception
    val empty = Files.createTempDirectory("rep-empty").toString
    val none = DocIngest.sourceReputationFromState(spark, s"$empty/never")
    assert(none.columns.toSeq == Seq("source", "n_docs", "sum_chars", "sum_uniq", "blocked"))
    assert(none.count() == 0)
  }

  test("continuous PSI partials serve the exact batch drift report (and survive replay)") {
    import org.apache.spark.sql.functions._
    // block-parity split ((doc_id DIV 20) % 2 — NOT doc_id parity: the
    // fixture's source IS doc_id % 20, so a plain parity split would
    // separate the sources entirely and never exercise the merge):
    // every source's length bins receive documents from BOTH batches,
    // and the smoothing denominators (bin-grid size, corpus size) only
    // exist after the merge — per-batch PSI would score each slice
    // against its own half-corpus null.
    val streamDir = Files.createTempDirectory("psi-stream").toString
    val docs = Tables.documents(spark, sfDir)
    docs.filter((col("doc_id") / 20).cast("long") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(streamDir)
    docs.filter((col("doc_id") / 20).cast("long") % 2 =!= 0)
      .coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("psi-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = DocIngest.startPsiPartials(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-psi").toString)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = canon(SparkEntry.queries("psi_drift")(spark, sfDir))
    assert(batch.nonEmpty)
    assert(canon(DocIngest.psiDriftFromState(spark, stateDir)) == batch,
      "PSI served from merged partials must equal the declared batch report")
    // the grain really is sliced: (source, bin) cells straddle batches
    val parts = spark.read.parquet(s"$stateDir/batch_*")
    assert(parts.groupBy("source", "bin").count().filter(col("count") > 1).count() > 0,
      "no (source, bin) cell straddles a slice — the additive merge was not exercised")
    // crash-replay: the bid-0 wipe rewrites identical partials
    runLoop(Files.createTempDirectory("ck-psi2").toString)
    assert(canon(DocIngest.psiDriftFromState(spark, stateDir)) == batch,
      "a replayed lineage must not double-count bin counts")
    // zero-batch state serves the defined empty report
    val empty = Files.createTempDirectory("psi-empty").toString
    val none = DocIngest.psiDriftFromState(spark, s"$empty/never")
    assert(none.columns.toSeq == Seq("source", "s_n", "n_bins", "psi_e9"))
    assert(none.count() == 0)
  }

  test("continuous QI grain serves the exact batch privacy audits (and survives replay)") {
    import org.apache.spark.sql.functions._
    // id-parity split: every QI class receives events from BOTH batches
    // and users appear on both sides, so BOTH merge algebras are really
    // exercised — additive class sizes (sum across slices) AND the
    // distinct-sensitive dedup (a user seen in two slices must count
    // once).
    val streamDir = Files.createTempDirectory("qi-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("qi-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = EventStream.startQiGrain(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-qi").toString)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    val ka = EventStream.kAnonymityFromState(spark, stateDir)
    val ld = EventStream.lDiversityFromState(spark, stateDir)
    val kaBatch = SparkEntry.queries("k_anonymity")(spark, sfDir)
    val ldBatch = SparkEntry.queries("l_diversity")(spark, sfDir)
    assert(canon(ka) == canon(kaBatch) && ka.count() == 3,
      "k-anonymity served from grain must equal the declared batch audit")
    assert(canon(ld) == canon(ldBatch) && ld.count() == 3,
      "l-diversity served from grain must equal the declared batch audit")
    val tc = EventStream.tClosenessFromState(spark, stateDir)
    val tcBatch = SparkEntry.queries("t_closeness")(spark, sfDir)
    assert(canon(tc) == canon(tcBatch) && tc.count() == 3,
      "t-closeness served from grain must equal the declared batch audit")
    // crash-replay: a fresh checkpoint lineage re-enters at batch 0 —
    // the wipe discipline rewrites identical partials; without it the
    // ADDITIVE class sizes would double (unlike the dedup day-user
    // grain, counts are not replay-safe by construction)
    runLoop(Files.createTempDirectory("ck-qi2").toString)
    assert(canon(EventStream.kAnonymityFromState(spark, stateDir)) == canon(kaBatch),
      "a replayed lineage must not double-count class sizes")
    // zero-batch state serves the empty (defined) audit, not an exception
    val empty = Files.createTempDirectory("qi-empty").toString
    val none = EventStream.kAnonymityFromState(spark, s"$empty/never")
    assert(none.columns.toSeq == Seq("k", "n_classes", "n_small", "rows_at_risk", "risk_ppm"))
    assert(none.count() == 0)
  }

  test("continuous type-day grain serves the exact anomaly queue and dow envelope") {
    import org.apache.spark.sql.functions._
    // id-parity split: every (type, day) cell receives events from both
    // batches, so the additive count merge is really exercised — the
    // envelope and the deviation queue both depend on MERGED day totals
    // (per-batch queues would rank against half-day baselines).
    val streamDir = Files.createTempDirectory("tday-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("tday-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = EventStream.startTypeDayGrain(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-tday").toString)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq.toSet
    val anomBatch = SparkEntry.queries("traffic_anomaly")(spark, sfDir)
    val dowBatch = SparkEntry.queries("dow_seasonality")(spark, sfDir)
    assert(canon(EventStream.trafficAnomalyFromState(spark, stateDir)) == canon(anomBatch),
      "anomaly queue served from grain must equal the declared batch queue")
    assert(canon(EventStream.dowSeasonalityFromState(spark, stateDir)) == canon(dowBatch),
      "dow envelope served from grain must equal the declared batch envelope")
    val cusumBatch = SparkEntry.queries("cusum_changepoint")(spark, sfDir)
    assert(canon(EventStream.cusumChangepointFromState(spark, stateDir)) == canon(cusumBatch),
      "CUSUM change-point served from grain must equal the declared batch report")
    val sesBatch = SparkEntry.queries("exp_smooth_forecast")(spark, sfDir)
    assert(canon(EventStream.expSmoothFromState(spark, stateDir)) == canon(sesBatch),
      "SES level served from grain must equal the declared batch forecast")
    val fbBatch = SparkEntry.queries("forecast_baselines")(spark, sfDir)
    assert(canon(EventStream.forecastBaselinesFromState(spark, stateDir)) == canon(fbBatch),
      "baseline MAE pair served from grain must equal the declared batch report")
    val maseBatch = SparkEntry.queries("mase_ses")(spark, sfDir)
    assert(canon(EventStream.maseSesFromState(spark, stateDir)) == canon(maseBatch),
      "SES MASE quotient served from grain must equal the declared batch report")
    val holtBatch = SparkEntry.queries("holt_forecast")(spark, sfDir)
    assert(canon(EventStream.holtFromState(spark, stateDir)) == canon(holtBatch),
      "Holt forecast served from grain must equal the declared batch report")
    val seaBatch = SparkEntry.queries("seasonal_forecast")(spark, sfDir)
    assert(canon(EventStream.seasonalForecastFromState(spark, stateDir)) == canon(seaBatch),
      "seasonal forecast served from grain must equal the declared batch report")
    val mkBatch = SparkEntry.queries("mann_kendall")(spark, sfDir)
    assert(canon(EventStream.mannKendallFromState(spark, stateDir)) == canon(mkBatch),
      "Mann-Kendall trend test served from grain must equal the declared batch report")
    val tsBatch = SparkEntry.queries("theil_sen")(spark, sfDir)
    assert(canon(EventStream.theilSenFromState(spark, stateDir)) == canon(tsBatch),
      "Theil-Sen slope served from grain must equal the declared batch report")
    val acfBatch = SparkEntry.queries("acf_lag7")(spark, sfDir)
    assert(canon(EventStream.acfLag7FromState(spark, stateDir)) == canon(acfBatch),
      "lag-7 autocorrelation served from grain must equal the declared batch report")
    val petBatch = SparkEntry.queries("pettitt_changepoint")(spark, sfDir)
    assert(canon(EventStream.pettittFromState(spark, stateDir)) == canon(petBatch),
      "Pettitt change-point served from grain must equal the declared batch report")
    // crash-replay: additive counts need the bid-0 wipe — a replayed
    // lineage must not double day totals
    runLoop(Files.createTempDirectory("ck-tday2").toString)
    assert(canon(EventStream.trafficAnomalyFromState(spark, stateDir)) == canon(anomBatch),
      "a replayed lineage must not double-count day totals")
    // zero-batch state serves the defined empty reports
    val empty = Files.createTempDirectory("tday-empty").toString
    assert(EventStream.trafficAnomalyFromState(spark, s"$empty/never").count() == 0)
    assert(EventStream.dowSeasonalityFromState(spark, s"$empty/never").count() == 0)
  }

  test("continuous gap-moment grain serves the exact burstiness histogram") {
    import org.apache.spark.sql.functions._
    // TIME-contiguous slices — the grain's documented precondition (an
    // id-parity split interleaves series and is exactly what the
    // boundary correction cannot repair): each cut point severs ONE gap
    // per straddling user, so the boundary-restoring merge is really
    // exercised — per-slice Σg/Σg² alone would lose those terms and the
    // histogram would drift.
    val streamDir = Files.createTempDirectory("gap-stream").toString
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(
      min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"),
    ).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    ev.filter(unix_micros(col("ts")) <= c1)
      .coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(unix_micros(col("ts")) > c1 && unix_micros(col("ts")) <= c2)
      .coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(unix_micros(col("ts")) > c2)
      .coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("gap-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = EventStream.startGapGrain(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-gap").toString)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq.toSet
    val batch = SparkEntry.queries("gap_burstiness")(spark, sfDir)
    val batchC = canon(batch)
    assert(batchC.nonEmpty && canon(EventStream.burstinessFromState(spark, stateDir)) == batchC,
      "burstiness histogram served from the gap grain must equal the declared batch query")
    // the state really is sliced: >1 batch dir, and every straddling
    // user's totals need the boundary correction (dropping it must NOT
    // reproduce the batch result — guards against a vacuous split)
    val parts = spark.read.parquet(s"$stateDir/batch_*")
    assert(parts.groupBy("user_id").count().filter(col("count") > 1).count() > 0,
      "no user straddles a slice boundary — the merge was not exercised")
    // moment-level exactness: the sliced merge equals the one-part merge
    // (= the batch per-user moments), while dropping the boundary terms
    // provably differs — every straddling user loses one gap per cut
    val merged = canon(operators.TemporalOps.mergeGapGrain(parts))
    val onePart = canon(operators.TemporalOps.mergeGapGrain(
      operators.TemporalOps.gapGrainParts(ev)))
    assert(merged == onePart,
      "boundary-corrected merge must reproduce the full-series per-user moments exactly")
    val uncorrected = canon(
      parts.groupBy("user_id").agg(
        sum(col("n_gaps")).as("n"),
        sum(col("sg")).as("sg"),
        sum(col("sgg")).cast("decimal(38,0)").as("sgg"),
      ))
    assert(uncorrected != merged,
      "dropping the boundary terms must change the per-user moments on this split")
    // crash-replay: moment partials are additive — a replayed lineage
    // must not double any user's gap sums (bid-0 wipe discipline)
    runLoop(Files.createTempDirectory("ck-gap2").toString)
    assert(canon(EventStream.burstinessFromState(spark, stateDir)) == batchC,
      "a replayed lineage must not double-count gap moments")
    // zero-batch state serves the defined empty histogram
    val empty = Files.createTempDirectory("gap-empty").toString
    val none = EventStream.burstinessFromState(spark, s"$empty/never")
    assert(none.columns.toSeq == Seq("bucket", "n_users", "n_gaps", "min_b_e3", "max_b_e3"))
    assert(none.count() == 0)
  }

  test("continuous session grain serves the exact session_stats report") {
    import org.apache.spark.sql.functions._
    // TIME-contiguous slices (the fragment merge's documented
    // precondition): each cut point severs sessions mid-flight for every
    // straddling user, so the fragment-grain merge — rejoining a
    // trailing fragment of slice k with the leading fragment of slice
    // k+1 when the severed gap is within the session gap — is really
    // exercised; naive per-slice sessions alone would overcount
    // sessions and undercount their sizes.
    val streamDir = Files.createTempDirectory("sess-stream").toString
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(
      min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"),
    ).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    ev.filter(unix_micros(col("ts")) <= c1)
      .coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(unix_micros(col("ts")) > c1 && unix_micros(col("ts")) <= c2)
      .coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(unix_micros(col("ts")) > c2)
      .coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("sess-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = EventStream.startSessionGrain(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-sess").toString)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq.toSet
    val batchStats = canon(SparkEntry.queries("session_stats")(spark, sfDir))
    assert(batchStats.nonEmpty &&
      canon(EventStream.sessionStatsFromState(spark, stateDir)) == batchStats,
      "session_stats served from the session grain must equal the declared batch query")
    // session-level exactness too: the merged fragments ARE the batch
    // session table (sessionize's frame), not just its histogram
    val batchSessions = canon(SparkEntry.queries("sessionize")(spark, sfDir))
    assert(canon(EventStream.sessionsFromState(spark, stateDir)) == batchSessions,
      "merged fragments must reproduce the batch session table row-for-row")
    // the split is non-vacuous: some session really straddles a cut —
    // the naive fragment count must EXCEED the true session count
    val frags = spark.read.parquet(s"$stateDir/batch_*")
    assert(frags.count() > batchSessions.size,
      "no session straddled a slice boundary — the merge was not exercised")
    // crash-replay: a fresh checkpoint lineage re-enters at batch 0 —
    // the bid-0 wipe rewrites identical fragments, no double count
    runLoop(Files.createTempDirectory("ck-sess2").toString)
    assert(canon(EventStream.sessionStatsFromState(spark, stateDir)) == batchStats,
      "a replayed lineage must not duplicate session fragments")
    // zero-batch state serves the defined empty report
    val empty = Files.createTempDirectory("sess-empty").toString
    val none = EventStream.sessionStatsFromState(spark, s"$empty/never")
    assert(none.columns.toSeq == Seq("n_events", "n_sessions", "n_users", "sum_duration_us"))
    assert(none.count() == 0)
  }

  test("continuous transition grain serves the exact Markov matrix and entropy") {
    import org.apache.spark.sql.functions._
    // TIME-contiguous slices (the boundary merge's documented
    // precondition): each cut severs one (prev → next) transition per
    // straddling user, so the boundary-grain correction is really
    // exercised — per-slice internal counts alone would undercount.
    val streamDir = Files.createTempDirectory("trans-stream").toString
    val ev = Tables.events(spark, sfDir)
    val bounds = ev.agg(
      min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"),
    ).collect()(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    ev.filter(unix_micros(col("ts")) <= c1)
      .coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(unix_micros(col("ts")) > c1 && unix_micros(col("ts")) <= c2)
      .coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(unix_micros(col("ts")) > c2)
      .coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("trans-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = EventStream.startTransitionGrain(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-trans").toString)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq.toSet
    val batchMatrix = canon(SparkEntry.queries("event_transitions")(spark, sfDir))
    assert(batchMatrix.nonEmpty &&
      canon(EventStream.eventTransitionsFromState(spark, stateDir)) == batchMatrix,
      "event_transitions served from the grain must equal the declared batch query")
    val batchEntropy = canon(SparkEntry.queries("transition_entropy")(spark, sfDir))
    assert(canon(EventStream.transitionEntropyFromState(spark, stateDir)) == batchEntropy,
      "transition_entropy served from the grain must equal the declared batch query")
    // non-vacuous: the cuts really severed transitions — internal
    // counts alone are strictly short of the batch total
    val internal = spark.read.parquet(s"$stateDir/batch_*/cnt")
      .agg(coalesce(sum("n"), lit(0L))).collect()(0).getLong(0)
    val total = SparkEntry.queries("event_transitions")(spark, sfDir)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(internal < total,
      "no transition straddled a slice boundary — the merge was not exercised")
    // crash-replay: a fresh checkpoint lineage re-enters at batch 0 —
    // the bid-0 wipe rewrites identical parts, no double count
    runLoop(Files.createTempDirectory("ck-trans2").toString)
    assert(canon(EventStream.eventTransitionsFromState(spark, stateDir)) == batchMatrix,
      "a replayed lineage must not duplicate transition counts")
    // zero-batch state serves the defined empty report
    val empty = Files.createTempDirectory("trans-empty").toString
    val none = EventStream.transitionEntropyFromState(spark, s"$empty/never")
    assert(none.columns.toSeq == Seq("prev", "n_out", "k_next", "entropy_e6"))
    assert(none.count() == 0)
  }

  test("continuous moment partials serve the exact batch principal direction") {
    import org.apache.spark.sql.functions._
    // id-parity split: both batches contribute to every moment cell, so
    // the additive (Σq, Σqq′, n) merge is really exercised (per-batch
    // covariance instead of merged raw moments would differ — means of
    // slices don't compose, raw sums do).
    val streamDir = Files.createTempDirectory("pca-stream").toString
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    emb.filter(col("vec_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("pca-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = EmbedIngest.startMomentPartials(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-pca").toString)
    // merged streamed moments ≡ the one-shot corpus moment pass
    val (ms, mp, mn) = EmbedIngest.refreshedMoments(spark, stateDir).get
    val batchRow = operators.KMeansOps
      .momentPartials(operators.KMeansOps.quantizeFrame(emb))
      .collect()(0)
    assert(mn == batchRow.getLong(2))
    assert(ms == batchRow.getSeq[Long](0))
    assert(mp == batchRow.getSeq[Long](1))
    // and the served principal direction is the declared pca_power_iter
    // value bit-for-bit (same moments → same BigInt iteration)
    val served = EmbedIngest.refreshedPrincipal(spark, stateDir).get
    val declared = operators.KMeansOps.principalE6(spark, sfDir)
    assert(served.sameElements(declared),
      "streamed principal must equal the batch power iteration exactly")
    // crash-replay: a fresh checkpoint lineage re-enters at batch 0 —
    // the wipe discipline rewrites identical partials, no double count
    runLoop(Files.createTempDirectory("ck-pca2").toString)
    val (_, _, n2) = EmbedIngest.refreshedMoments(spark, stateDir).get
    assert(n2 == mn, "a replayed lineage must not double-count moments")
    assert(EmbedIngest.refreshedPrincipal(spark, stateDir).get.sameElements(declared))
    // zero-batch state serves None, not an exception
    val empty = Files.createTempDirectory("pca-empty").toString
    assert(EmbedIngest.refreshedMoments(spark, s"$empty/never").isEmpty)
  }

  test("SCD-2 rejects an out-of-order second batch loudly (no fabricated history)") {
    import org.apache.spark.sql.functions._
    // The inverse of the parity test's staging: the LATE half lands
    // FIRST, so batch 2 delivers events older than state already
    // absorbed. Before the round-12 guard this silently produced
    // intervals that never existed (the batch twin can't catch it — its
    // global sort is immune); now the run must die with the guard's
    // message, not complete.
    val streamDir = Files.createTempDirectory("scd2-ooo-stream")
    val ev = Tables.events(spark, sfDir)
    val cutUs = ev
      .select(expr("percentile(unix_micros(ts), 0.5)"))
      .collect()(0)
      .getDouble(0)
      .toLong
    val early = streamDir.resolve("f0")
    val late = streamDir.resolve("f1")
    ev.filter(expr(s"unix_micros(ts) < ${cutUs}L")).coalesce(1)
      .write.parquet(early.toString)
    ev.filter(expr(s"unix_micros(ts) >= ${cutUs}L")).coalesce(1)
      .write.parquet(late.toString)
    val dir = Files.createTempDirectory("scd2-ooo-in")
    def stage(src: java.nio.file.Path, name: String, mtime: Long): Unit = {
      val part = Files.list(src).iterator()
      val files = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
      while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) files += p }
      assert(files.size == 1)
      val dst = dir.resolve(name)
      Files.copy(files.head, dst)
      dst.toFile.setLastModified(mtime)
      ()
    }
    stage(late, "a.parquet", 1000000L) // newest half arrives FIRST
    stage(early, "b.parquet", 2000000L)
    val stream = spark.readStream
      .schema(EventStream.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStream
      .scd2(EventStream.typedEvents(stream))
      .toDF()
      .writeStream
      .format("memory")
      .queryName("scd2_ooo")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ck-scd2-ooo").toString)
      .start()
    val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(failure).exists(_.getMessage != null)
      && chain(failure).exists(t =>
        t.getMessage != null && t.getMessage.contains("out-of-order arrival")),
      s"expected the scd2 guard's message in the failure chain, got: $failure")
  }

  test("SCD-2 rejects an equal-time, smaller-id arrival (tie-broken total order)") {
    import org.apache.spark.sql.functions._
    // The high-water mark is the (t_us, event_id) PAIR: a later batch
    // delivering an event at the exact high-water time but a smaller id
    // violates the tie-broken total order the batch twin sorts by, so it
    // must fail just as loudly as a plainly-late event — a time-only
    // guard would let it through and the interval boundaries could
    // diverge from batch without the promised loud failure.
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
    def oneEvent(id: Long, typ: String): org.apache.spark.sql.DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(id, t0, 1L, typ, 0.0, "{}")),
        EventStream.rawSchema)
    val dir = Files.createTempDirectory("scd2-tie-in")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val src = Files.createTempDirectory(s"scd2-tie-$name")
      df.coalesce(1).write.mode("overwrite").parquet(src.toString)
      val part = Files.list(src).iterator()
      var staged = false
      while (part.hasNext) {
        val p = part.next()
        if (p.toString.endsWith(".parquet")) {
          val dst = dir.resolve(name)
          Files.copy(p, dst)
          dst.toFile.setLastModified(mtime)
          staged = true
        }
      }
      assert(staged)
    }
    stage(oneEvent(5L, "click"), "a.parquet", 1000000L) // id 5 absorbed first
    stage(oneEvent(3L, "purchase"), "b.parquet", 2000000L) // equal time, smaller id
    val stream = spark.readStream
      .schema(EventStream.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStream
      .scd2(EventStream.typedEvents(stream))
      .toDF()
      .writeStream
      .format("memory")
      .queryName("scd2_tie")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ck-scd2-tie").toString)
      .start()
    val failure = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(120000)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(failure).exists(t =>
      t.getMessage != null && t.getMessage.contains("out-of-order arrival")),
      s"expected the scd2 guard to reject the equal-time smaller-id event, got: $failure")
  }

  test("a fresh checksum lineage wipes stale partials instead of double-counting them") {
    import org.apache.spark.sql.functions._
    // count/Σ/XOR partials are ADDITIVE, not union-mergeable: leftover
    // batch dirs from a prior, differently-batched run are not absorbed
    // the way the distinct-merged grains absorb overlap — they would
    // silently double-count, the exact corruption an anti-entropy tool
    // exists to detect. Batch 0 of a fresh checkpoint can only run while
    // no later batch has committed, so the writer wipes the state dir
    // there; this stages a stale high-numbered partial and proves the
    // served digest still equals the batch truth.
    val streamDir = Files.createTempDirectory("cks-stale-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("cks-stale-state").toString
    graft.operators.ScalePatterns
      .eventsChecksumParts(ev.limit(100)) // a prior lineage's partial slice
      .write
      .parquet(s"$stateDir/batch_7")
    val stream = spark.readStream
      .schema(EventStream.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStream.startChecksumState(
      stream, stateDir, Files.createTempDirectory("ck-cks-stale").toString)
    q.awaitTermination(120000)
    assert(!q.isActive)
    // checksum_sum declares as BIGINT since round 16 ("BIGINT means out");
    // the wide DECIMAL partials live only inside the state store
    def canon(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val served = EventStream.checksumFromState(spark, stateDir).collect().map(canon).toSeq
    val batch = SparkEntry.queries("events_checksum")(spark, sfDir).collect().map(canon).toSeq
    assert(batch.nonEmpty && served == batch,
      "stale partials from a prior lineage must not survive into a fresh run's digest")
  }

  test("streamed histogram partials serve the exact fixed-extent batch quantiles") {
    import org.apache.spark.sql.functions._
    // id-parity split: both batches land counts in the SAME bins, so the
    // additive merge is really exercised (disjoint-extent slices would
    // pass even with a broken merge).
    val streamDir = Files.createTempDirectory("hist-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    // the pinned bucket layout — production fixes it up front; the test
    // pins it to the corpus extent so every value lands in range
    val extRow = ev.agg(min("value"), max("value")).collect()(0)
    val (lo, hi) = (extRow.getDouble(0), extRow.getDouble(1))
    val stateDir = Files.createTempDirectory("hist-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(EventStream.rawSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
        .withColumn("ts", col("ts").cast("timestamp"))
      val q = EventStream.startHistogramParts(stream, lo, hi, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-hist").toString)
    val dirs = new java.io.File(stateDir).listFiles().filter(_.getName.startsWith("batch_"))
    assert(dirs.length == 2, s"expected 2 batch state dirs, got ${dirs.length}")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
        .toSeq
    val served = canon(EventStream.quantilesFromState(spark, stateDir))
    // the batch walk under the SAME pinned extent, via the shared helpers
    val batch = canon(
      operators.RelationalOps.quantilesFromHistogram(
        operators.RelationalOps.histogramParts(
          ev.select(col("event_type").as("pri"), col("value").as("x")),
          spark.range(1).select(lit(lo).as("lo"), lit(hi).as("hi")),
        ),
      ),
    )
    assert(served.nonEmpty && served == batch,
      "merged streamed bin partials must serve the exact batch quantile walk")
    // crash-replay: a fresh checkpoint lineage re-enters at batch 0 —
    // the wipe discipline rewrites identical partials, no double count
    runLoop(Files.createTempDirectory("ck-hist2").toString)
    assert(canon(EventStream.quantilesFromState(spark, stateDir)) == batch,
      "a replayed lineage must not double-count bin counters")
    // zero-batch state serves the empty frame, not an exception
    val none = EventStream.quantilesFromState(
      spark, Files.createTempDirectory("hist-empty").toString + "/never")
    assert(none.columns.toSeq == Seq("pri", "ql", "est") && none.count() == 0)
  }

  test("stale histogram partials from a prior lineage are wiped at batch 0") {
    import org.apache.spark.sql.functions._
    // additive counters have the checksum store's precondition: the batch
    // dirs must be an exact partition of the stream. Stage a stale
    // high-numbered partial (a prior lineage's batching) and prove a
    // fresh run's serve still equals the batch truth — the bid-0 wipe,
    // not luck.
    val streamDir = Files.createTempDirectory("hist-stale-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.coalesce(1).write.mode("append").parquet(streamDir)
    val extRow = ev.agg(min("value"), max("value")).collect()(0)
    val (lo, hi) = (extRow.getDouble(0), extRow.getDouble(1))
    val stateDir = Files.createTempDirectory("hist-stale-state").toString
    operators.RelationalOps
      .histogramParts(
        ev.limit(100).select(col("event_type").as("pri"), col("value").as("x")),
        spark.range(1).select(lit(lo).as("lo"), lit(hi).as("hi")),
      )
      .write
      .parquet(s"$stateDir/batch_7") // the stale prior-lineage partial
    val stream = spark.readStream
      .schema(EventStream.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStream.startHistogramParts(
      stream, lo, hi, stateDir, Files.createTempDirectory("ck-hist-stale").toString)
    q.awaitTermination(120000)
    assert(!q.isActive)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
        .toSeq
    val batch = canon(
      operators.RelationalOps.quantilesFromHistogram(
        operators.RelationalOps.histogramParts(
          ev.select(col("event_type").as("pri"), col("value").as("x")),
          spark.range(1).select(lit(lo).as("lo"), lit(hi).as("hi")),
        ),
      ),
    )
    assert(batch.nonEmpty && canon(EventStream.quantilesFromState(spark, stateDir)) == batch,
      "stale partials from a prior lineage must not survive into a fresh run's quantiles")
  }

  test("continuous conversion grain serves the exact batch Kaplan-Meier curve") {
    import org.apache.spark.sql.functions._
    // id-parity split: users appear in BOTH batches (events interleave),
    // so the min/min merge is really exercised — a user's first event
    // and first purchase can land in different slices, and per-slice
    // curves would mis-censor them. No contiguity requirement: both
    // columns are conditional MINs (fully associative, unlike the gap
    // grain's boundary-corrected moments).
    val streamDir = Files.createTempDirectory("km-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(streamDir)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("km-state").toString
    def runLoop(ck: String): Unit = {
      val stream = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir)
      val q = EventStream.startKmGrain(stream, stateDir, ck)
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    runLoop(Files.createTempDirectory("ck-km").toString)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = canon(SparkEntry.queries("kaplan_meier")(spark, sfDir))
    assert(batch.nonEmpty)
    val naBatch = canon(SparkEntry.queries("nelson_aalen")(spark, sfDir))
    assert(canon(EventStream.nelsonAalenFromState(spark, stateDir)) == naBatch,
      "Nelson-Aalen hazard served from the grain must equal the declared batch query")
    assert(canon(EventStream.kaplanMeierFromState(spark, stateDir)) == batch,
      "KM curve served from the grain must equal the declared batch query")
    // the merge is non-vacuous: users really straddle the slices
    val parts = spark.read.parquet(s"$stateDir/batch_*")
    assert(parts.groupBy("user_id").count().filter(col("count") > 1).count() > 0,
      "no user straddles a slice boundary — the min/min merge was not exercised")
    // crash-replay: a fresh checkpoint lineage re-enters at batch 0 and
    // rewrites identical grains (min/min is also idempotent, but the
    // wipe discipline is what guarantees no stale-lineage leftovers)
    runLoop(Files.createTempDirectory("ck-km2").toString)
    assert(canon(EventStream.kaplanMeierFromState(spark, stateDir)) == batch,
      "a replayed lineage must reproduce the curve")
    // zero-batch state serves the defined empty curve
    val empty = Files.createTempDirectory("km-empty").toString
    val none = EventStream.kaplanMeierFromState(spark, s"$empty/never")
    assert(none.columns.toSeq == Seq("t", "n_risk", "n_events", "surv_e6"))
    assert(none.count() == 0)
  }

  test("a fresh rollup lineage wipes stale partials instead of double-counting them") {
    import org.apache.spark.sql.functions._
    // the rollup's (count, sum, min, max) partials hold the same additive
    // counts as the checksum store: a stale high-numbered batch dir from a
    // prior lineage must not survive into a fresh run's merged view
    val streamDir = Files.createTempDirectory("rollup-stale-stream").toString
    val ev = Tables.events(spark, sfDir)
    ev.coalesce(1).write.mode("append").parquet(streamDir)
    val stateDir = Files.createTempDirectory("rollup-stale-state").toString
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.select(
          col("user_id"),
          col("value").cast("decimal(18,2)").as("v"),
          unix_micros(col("ts")).as("tus"),
        )
        .groupBy("user_id")
        .agg(count(lit(1)).as("pn"), sum("v").as("pv"), min("tus").as("pmin"), max("tus").as("pmax"))
    partials(ev.limit(100)).write.parquet(s"$stateDir/batch_7") // a prior lineage's slice
    val stream = spark.readStream
      .schema(EventStream.rawSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStream.startStateMerge(
      stream, stateDir, Files.createTempDirectory("ck-rollup-stale").toString)
    q.awaitTermination(120000)
    assert(!q.isActive)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("n"), col("total").cast("double"), col("first_us"), col("last_us"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
        .toSeq
    val direct = canon(
      partials(ev).select(
        col("user_id"),
        col("pn").as("n"),
        col("pv").as("total"),
        col("pmin").as("first_us"),
        col("pmax").as("last_us"),
      ),
    )
    val served = canon(EventStream.mergedState(spark, stateDir))
    assert(direct.nonEmpty)
    assert(served.map(_._2).sum == ev.count(), "every event is counted exactly once")
    assert(served == direct,
      "stale partials from a prior lineage must not survive into a fresh run's merged state")
  }

  test("every batch-dir reader serves a never-created or empty store without throwing") {
    val root = Files.createTempDirectory("cold-stores").toString
    val empty = Files.createTempDirectory("cold-empty").toString
    val standing = Seq(Array.fill(64)(1000000L), Array.fill(64)(2000000L))
    val readers: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      "mergedState" -> (EventStream.mergedState(spark, _)),
      "rollingActiveFromGrain" -> (EventStream.rollingActiveFromGrain(spark, _)),
      "cumulativeFromGrain" -> (EventStream.cumulativeFromGrain(spark, _)),
      "rollingSketchFromGrains" -> (d => EventStream.rollingSketchFromGrains(spark, d, d)),
      "cumulativeSketchFromGrains" -> (d => EventStream.cumulativeSketchFromGrains(spark, d, d)),
      "attributionFromGrain" -> (EventStream.attributionFromGrain(spark, _)),
      "lastTouchFromGrain" -> (EventStream.lastTouchFromGrain(spark, _)),
      "checksumFromState" -> (EventStream.checksumFromState(spark, _)),
      "kAnonymityFromState" -> (EventStream.kAnonymityFromState(spark, _)),
      "lDiversityFromState" -> (EventStream.lDiversityFromState(spark, _)),
      "tClosenessFromState" -> (EventStream.tClosenessFromState(spark, _)),
      "trafficAnomalyFromState" -> (EventStream.trafficAnomalyFromState(spark, _)),
      "dowSeasonalityFromState" -> (EventStream.dowSeasonalityFromState(spark, _)),
      "cusumChangepointFromState" -> (EventStream.cusumChangepointFromState(spark, _)),
      "expSmoothFromState" -> (EventStream.expSmoothFromState(spark, _)),
      "forecastBaselinesFromState" -> (EventStream.forecastBaselinesFromState(spark, _)),
      "maseSesFromState" -> (EventStream.maseSesFromState(spark, _)),
      "holtFromState" -> (EventStream.holtFromState(spark, _)),
      "seasonalForecastFromState" -> (EventStream.seasonalForecastFromState(spark, _)),
      "mannKendallFromState" -> (EventStream.mannKendallFromState(spark, _)),
      "theilSenFromState" -> (EventStream.theilSenFromState(spark, _)),
      "acfLag7FromState" -> (EventStream.acfLag7FromState(spark, _)),
      "pettittFromState" -> (EventStream.pettittFromState(spark, _)),
      "burstinessFromState" -> (EventStream.burstinessFromState(spark, _)),
      "eventTransitionsFromState" -> (EventStream.eventTransitionsFromState(spark, _)),
      "transitionEntropyFromState" -> (EventStream.transitionEntropyFromState(spark, _)),
      "sessionsFromState" -> (EventStream.sessionsFromState(spark, _)),
      "sessionStatsFromState" -> (EventStream.sessionStatsFromState(spark, _)),
      "kaplanMeierFromState" -> (EventStream.kaplanMeierFromState(spark, _)),
      "nelsonAalenFromState" -> (EventStream.nelsonAalenFromState(spark, _)),
      "quantilesFromState" -> (EventStream.quantilesFromState(spark, _)),
      "dsirModelFromState" -> (DocIngest.dsirModelFromState(spark, _)),
      "sourceReputationFromState" -> (DocIngest.sourceReputationFromState(spark, _)),
      "sourceDiversityFromState" -> (DocIngest.sourceDiversityFromState(spark, _)),
      "psiDriftFromState" -> (DocIngest.psiDriftFromState(spark, _)),
      "refreshedVocab" -> (DocIngest.refreshedVocab(spark, _)),
    )
    for (dir <- Seq(s"$root/never", empty)) {
      readers.foreach { case (name, read) =>
        val failure = scala.util.Try(read(dir).collect()).failed.toOption
        assert(failure.isEmpty, s"$name on the cold store $dir threw ${failure.getOrElse("")}")
      }
      assert(EmbedIngest.refreshedCentroids(spark, dir, standing).map(_.toSeq) == standing.map(_.toSeq))
      assert(EmbedIngest.refreshedMoments(spark, dir).isEmpty)
      assert(EmbedIngest.refreshedPrincipal(spark, dir).isEmpty)
    }
  }
}
