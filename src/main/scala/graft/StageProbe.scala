package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Diagnostic stage profiler (guide §1.1): runs one declared query with a
  * listener and prints, per completed stage, the summed task wall time,
  * executor run/CPU time, shuffle bytes, spill, and task count — the
  * local-mode stand-in for the Spark UI stage page (the UI is disabled in
  * this sandbox). Substrates are warmed by an untimed pass first, exactly
  * like Bench's rep-0, so the probe sees the steady-state per-rep cost.
  *
  * Usage: [SPARK_GRAFT_CPUS=n] sbt "runMain graft.StageProbe <sfDir> name[,name] [reps]"
  */
object StageProbe {
  private val Usage = "usage: graft.StageProbe <sfDir> name[,name] [reps]"

  /** (sfDir, query names, reps), or the message to print before exiting 2. */
  private[graft] def parseArgs(args: Array[String]): Either[String, (String, Seq[String], Int)] =
    args match {
      case Array(sfDir, list, rest @ _*) if rest.size <= 1 =>
        val names = list.split(",").toSeq.filter(_.nonEmpty)
        val unknown = names.filterNot(SparkEntry.queries.contains)
        val reps = rest.headOption.fold(Option(1))(_.toIntOption).filter(_ > 0)
        if (names.isEmpty) Left(Usage)
        else if (unknown.nonEmpty) Left(s"unknown query: ${unknown.mkString(",")}\n$Usage")
        else reps.toRight(s"reps must be a positive integer\n$Usage").map((sfDir, names, _))
      case _ => Left(Usage)
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, names, reps) = parseArgs(args).fold({ msg => System.err.println(msg); sys.exit(2) }, identity)
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM warm like Bench
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().write.format("noop").mode("overwrite").save()
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm substrates + codegen
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long, Long, Long, Long, Long, Int)]
      val listener = new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
          rows += ((si.stageId, si.name.takeWhile(_ != '\n').take(60), wall,
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled, si.numTasks))
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      for (_ <- 1 to reps) fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n===== $name%s: $reps reps, ${secs}%.3f s wall (${secs / reps}%.3f s/rep) =====")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s ${"shR_kB"}%8s ${"shW_kB"}%8s ${"spill"}%8s ${"tasks"}%6s  name")
      rows.sortBy(-_._4).foreach { case (id, nm, wall, run, cpu, sr, sw, sp, nt) =>
        println(f"$id%6d $wall%8d $run%8d $cpu%8d ${sr / 1024}%8d ${sw / 1024}%8d $sp%8d $nt%6d  $nm")
      }
      val nStages = rows.size
      val sumRun = rows.map(_._4).sum
      println(f"stages=$nStages sum(run_ms)=$sumRun")
    }
    spark.stop()
  }
}
