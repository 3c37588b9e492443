package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ModelStore, Similarity}
import graft.streaming.AnnServeStream

/** The streaming ANN-serving leg must answer a live query stream with
  * EXACTLY the lists batch sim6/knn2 rank for the same queries — the
  * serve body IS the batch body (sim6ServeQueries), and the model
  * comes from ModelStore, so this spec pins the full offline-train /
  * online-serve cycle: train → persist → load into a "fresh" serving
  * session → answer a stream → bit-equal to batch. */
class AnnServeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private type Hit = (Long, Long, Double, Int)

  private def hitSet(rows: Seq[org.apache.spark.sql.Row]): Set[Hit] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  /** the corpus vectors with vec_id < nq — knn2's query set, as the
    * external (qid, v) relation a serving client would send */
  private def queryVecs(nq: Int): Seq[(Long, Seq[Double])] =
    Tables.embeddings(spark, sf)
      .filter(col("vec_id") < nq)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)

  test("served stream == batch sim6 lists and knn2 votes, model loaded from ModelStore") {
    // offline: train + persist; then wipe the registries — the serving
    // session must get everything from the store
    val store = java.nio.file.Files.createTempDirectory("graft_ann_store_").toString
    Similarity.resetModelRegistry()
    ModelStore.saveIvfPq(spark, sf, store)
    val batchLists = hitSet(Similarity.sim6IvfPqTopK(spark, sf).collect().toIndexedSeq)
    val batchVotes = graft.ops.Similarity.knn2LabelKnnIvfpq(spark, sf)
      .select(col("qid"), col("pred_label"), col("votes")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Similarity.resetModelRegistry()
    ModelStore.loadIvfPq(spark, sf, store)

    val input = MemoryStream[(Long, Seq[Double])](
      implicitly[org.apache.spark.sql.Encoder[(Long, Seq[Double])]], spark)
    val served = scala.collection.mutable.ArrayBuffer.empty[Hit]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ann_ckpt_").toString
    val q = AnnServeStream.serve(
      input.toDF().withColumnRenamed("_1", "qid").withColumnRenamed("_2", "v"),
      sf, 5, ckpt, excludeSelf = true) { (_, hits) =>
      served.synchronized { served ++= hitSet(hits.collect().toIndexedSeq); () }
    }
    try {
      // two micro-batches: the service answers whatever arrives, and
      // per-batch results must still union to the batch sweep
      val (a, b) = queryVecs(10).splitAt(4)
      input.addData(a)
      q.processAllAvailable()
      val afterFirst = served.synchronized { served.toSet }
      assert(afterFirst.nonEmpty && afterFirst.map(_._1) == a.map(_._1).toSet,
        "first micro-batch must answer exactly its own queries")
      input.addData(b)
      q.processAllAvailable()
    } finally q.stop()

    val servedSet = served.synchronized { served.toSet }
    assert(servedSet == batchLists,
      s"served-only: ${servedSet -- batchLists}; batch-only: ${batchLists -- servedSet}")

    // knn2's majority vote derived from the served lists must equal
    // the batch knn2 verdicts (votes DESC, then smallest label)
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    val servedVotes = servedSet.groupBy(_._1).map { case (qid, hits) =>
      val byLabel = hits.toSeq.map(h => labels(h._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      val (label, votes) = byLabel.minBy { case (l, n) => (-n, l) }
      (qid, label, votes)
    }.toSet
    assert(servedVotes == batchVotes,
      s"vote drift — served: $servedVotes vs batch: $batchVotes")
  }

  test("serving survives a checkpointed restart without loss or duplication") {
    // file source -> parquet sink, both recoverable (the
    // StreamingDedupSpec shape); the parquet sink is idempotent by
    // batch id (one overwritten subdir per batch)
    val base = java.nio.file.Files.createTempDirectory("graft_ann_restart_").toFile
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val outDir = new java.io.File(base, "out").getAbsolutePath
    val ckptDir = new java.io.File(base, "ckpt").getAbsolutePath
    val (a, b) = queryVecs(10).splitAt(5)
    def writeBatch(name: String, rows: Seq[(Long, Seq[Double])]): Unit =
      rows.toDF("qid", "v").coalesce(1)
        .write.parquet(s"${srcDir.getAbsolutePath}/$name")

    def start() = AnnServeStream.serveToParquet(
      spark.readStream
        .schema("qid LONG, v ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.getAbsolutePath + "/*"),
      sf, 5, ckptDir, outDir, excludeSelf = true)

    writeBatch("b0", a)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // NEW query instance, same checkpoint: only the unseen file is
    // served; committed batches must not replay (no duplicate qids)
    writeBatch("b1", b)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir)
    val servedSet = hitSet(out.select("qid", "vec_id", "cos", "rank").collect().toIndexedSeq)
    val batchLists = hitSet(Similarity.sim6IvfPqTopK(spark, sf).collect().toIndexedSeq)
    assert(servedSet == batchLists,
      s"post-restart drift — served-only: ${servedSet -- batchLists}; " +
        s"batch-only: ${batchLists -- servedSet}")
    // loss OR duplication would break the per-qid list length
    val perQid = out.groupBy("qid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perQid.values.forall(_ == 5), s"per-qid list sizes: $perQid")
  }

  test("TWO-LEVEL model loaded from the store serves in-stream without retraining") {
    // foreachBatch hands the sink a CLONED session
    // (sparkSessionForStream): a session-identity guard on the cached
    // fine matrix would silently re-run the full coarse Lloyd + fine
    // refinement inside the first micro-batch — in the regime that is
    // the only one at 100 TB. This pins both the reuse (job count) and
    // the results under the forced two-level sizing confs.
    val lowCaps = Seq(Similarity.TargetCell.key -> "4",
      Similarity.MaxK.key -> "4")
    val saved = lowCaps.map { case (k, _) => k -> spark.conf.getOption(k) }
    lowCaps.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val store = java.nio.file.Files.createTempDirectory("graft_ann2l_store_").toString
      Similarity.resetModelRegistry()
      ModelStore.saveIvfPq(spark, sf, store)
      val batchLists = hitSet(Similarity.sim6IvfPqTopK(spark, sf).collect().toIndexedSeq)
      assert(Similarity.ivfAssigned(spark, sf).fine.isDefined,
        "two-level did not engage under the forced confs")
      Similarity.resetModelRegistry()
      ModelStore.loadIvfPq(spark, sf, store)

      val input = MemoryStream[(Long, Seq[Double])](
        implicitly[org.apache.spark.sql.Encoder[(Long, Seq[Double])]], spark)
      val served = scala.collection.mutable.ArrayBuffer.empty[Hit]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ann2l_ckpt_").toString
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      val q = AnnServeStream.serve(
        input.toDF().withColumnRenamed("_1", "qid").withColumnRenamed("_2", "v"),
        sf, 5, ckpt, excludeSelf = true) { (_, hits) =>
        served.synchronized { served ++= hitSet(hits.collect().toIndexedSeq); () }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        input.addData(queryVecs(10))
        q.processAllAvailable()
      } finally {
        q.stop()
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(served.synchronized(served.toSet) == batchLists,
        "two-level in-stream serve drifted from batch")
      // served-from-store two-level search is ~10 jobs (+ a couple of
      // micro-batch bookkeeping jobs); an in-stream retrain re-runs
      // the coarse Lloyd loop + fine refinement (~30 jobs cold, see
      // ModelStoreSpec) on top — the ceiling distinguishes cleanly
      assert(jobs.get() <= 20,
        s"in-stream two-level serve ran ${jobs.get()} jobs — retraining leaked into the micro-batch")
      Similarity.resetModelRegistry()
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("external qid colliding with a corpus vec_id keeps that corpus vector (excludeSelf=false)") {
    // an external client's request id is NOT a corpus id: a query
    // whose qid collides with corpus vec_id j, sent with j's own
    // vector, must still see j at rank 1 (cos = 1) rather than
    // silently losing it to the knn2-contract self-exclusion
    val j = 3L
    val v = Tables.embeddings(spark, sf).filter(col("vec_id") === j)
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].head()
    val hits = graft.ops.Similarity.sim6ServeQueries(
      spark, sf, Seq((j, v)).toDF("qid", "v"), 5, excludeSelf = false)
      .orderBy(col("rank")).collect()
    assert(hits.head.getLong(1) == j && hits.head.getDouble(2) >= 0.999999,
      s"rank-1 must be the colliding corpus vector itself: ${hits.toSeq}")
    // and under the knn2 contract the same call drops it
    val excl = graft.ops.Similarity.sim6ServeQueries(
      spark, sf, Seq((j, v)).toDF("qid", "v"), 5, excludeSelf = true)
      .collect()
    assert(!excl.exists(_.getLong(1) == j),
      s"excludeSelf=true must suppress vec_id == qid: ${excl.toSeq}")
  }
}
