package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import graft.ops.{ModelStore, Similarity}

/** Scratch profiler for the streaming SERVE path's per-micro-batch
  * fixed cost (round-11 item #1): loads the IVF-PQ model, pins the
  * served corpus, then times repeated single-batch
  * [[Similarity.sim6ServeQueries]] rankings over a materialized
  * 125-query batch — the exact body AnnServeStream's foreachBatch
  * runs — with a job listener breaking each rep into (#jobs, #tasks,
  * task-time sum, driver gap). Not part of the driver contract.
  * Usage: runMain graft.ProfServe <sfDir> <modelDir> [reps=N]
  */
object ProfServe {
  final case class JobRec(jobId: Int, start: Long, var end: Long = 0L,
      var tasks: Int = 0, var stageWallMs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val modelDir = args(1)
    val reps = args.drop(2).collectFirst {
      case a if a.startsWith("reps=") => a.stripPrefix("reps=").toInt
    }.getOrElse(5)
    val spark = Harness.session()
    Harness.confOverrides(spark, "profserve")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.put(js.jobId, JobRec(js.jobId, js.time)); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        // attribute the stage to the most recent open job (local mode,
        // serial batches — good enough for profiling)
        val rec = jobs.values().toArray(Array.empty[JobRec])
          .filter(j => j.start <= si.submissionTime.getOrElse(Long.MaxValue))
          .sortBy(-_.start).headOption
        rec.foreach { r =>
          r.tasks += si.numTasks
          // stage wall (completion − submission), NOT summed task time
          r.stageWallMs += (for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s).getOrElse(0L)
        }
      }
    })

    Similarity.resetModelRegistry()
    ModelStore.loadIvfPq(spark, sfDir, modelDir)
    val t0p = System.nanoTime()
    Similarity.pinServedCorpus(spark, sfDir)
    println(f"[profserve] pin: ${(System.nanoTime() - t0p) / 1e9}%.2f s")

    // a LOCAL 125-row query batch — what AnnServeStream.serve now
    // hands the ranking after collecting the micro-batch — under the
    // serve-session confs it sets on the streaming clone
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions",
      graft.streaming.AnnServeStream.ShufflePartitions.default.toLong)
    val qRows = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 125)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("v")).collect().toSeq
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows, 1),
      org.apache.spark.sql.types.StructType.fromDDL("qid LONG, v ARRAY<DOUBLE>"))

    for (i <- 1 to reps) {
      jobs.clear()
      val t0 = System.nanoTime()
      val plan = Similarity.sim6ServeQueries(spark, sfDir, batch, 10,
        excludeSelf = false)
      val tPlan = System.nanoTime()
      val n = plan.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val derive = (tPlan - t0) / 1e9
      // the listener bus is ASYNC: give late job/stage events time to
      // land before reading the map (the bus's waitUntilEmpty is
      // private[spark]; a bounded settle sleep is the profiling-grade
      // substitute — reps are seconds, 200 ms cannot hide a rep's work)
      Thread.sleep(200)
      val js = jobs.values().toArray(Array.empty[JobRec]).sortBy(_.start)
      val jobWall = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      val tasks = js.map(_.tasks).sum
      println(f"[profserve] rep$i wall=$wall%.3f s derive=$derive%.3f s " +
        f"jobs=${js.length} jobWall=$jobWall%.3f s tasks=$tasks rows=$n")
      js.foreach { j =>
        println(f"[profserve]   job${j.jobId} ${math.max(0L, j.end - j.start) / 1e3}%.3f s " +
          s"tasks=${j.tasks} stageWallMs=${j.stageWallMs}")
      }
    }
    spark.stop()
  }
}
