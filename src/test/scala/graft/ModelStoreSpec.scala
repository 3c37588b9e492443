package graft

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ModelStore, Similarity, TextOps}

/** ModelStore round-trips: save a trained model, wipe the in-process
  * registries (a new serving session), load, and serve — results must
  * be bit-identical to training in-process (training is deterministic,
  * the artifacts are exact integers/strings in parquet), and the
  * serving queries must run WITHOUT the training jobs (the entire
  * point of the store). */
class ModelStoreSpec extends AnyFunSuite {
  import TestSpark._

  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1; var cur = n.get(); var spins = 0
      while (cur != prev && spins < 50) {
        Thread.sleep(200); prev = cur; cur = n.get(); spins += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("BPE model round-trips: load serves tok4 identically, no retraining") {
    val store = Files.createTempDirectory("graft_models_").toString
    TextOps.resetModelRegistry()
    val trained = rows(TextOps.tok4BpeEncode(spark, sf))
    graft.ops.Model.release()
    ModelStore.saveBpe(spark, sf, store)

    TextOps.resetModelRegistry() // a fresh serving session
    ModelStore.loadBpe(spark, sf, store)
    var served: Seq[String] = null
    val serveJobs = jobsDuring { served = rows(TextOps.tok4BpeEncode(spark, sf)) }
    graft.ops.Model.release()
    assert(served === trained)
    // a cold tok4 runs 1 (word count) + 8x2-ish training jobs before
    // the encode; served-from-store must be encode-only
    assert(serveJobs <= 4,
      s"expected a stored model to serve without training jobs, ran $serveJobs")
  }

  test("IVF/PQ models round-trip: load serves sim6 identically, no retraining") {
    val store = Files.createTempDirectory("graft_models_").toString
    Similarity.resetModelRegistry()
    val trained = rows(Similarity.sim6IvfPqTopK(spark, sf))
    ModelStore.saveIvfPq(spark, sf, store)

    Similarity.resetModelRegistry() // a fresh serving session
    ModelStore.loadIvfPq(spark, sf, store)
    var served: Seq[String] = null
    val serveJobs = jobsDuring { served = rows(Similarity.sim6IvfPqTopK(spark, sf)) }
    Similarity.resetModelRegistry()
    assert(served === trained)
    // in-process cold sim6 ran ~10+ training jobs (Lloyd + PQ iters +
    // sample counts) before the search's own handful (7 since the
    // shortlist re-attaches query vectors via a dedicated broadcast —
    // one extra tiny job that slims the candidate shuffle)
    assert(serveJobs <= 7,
      s"expected stored models to serve without training jobs, ran $serveJobs")
  }

  private val lowCaps = Seq(
    Similarity.TargetCell.key -> "4",
    Similarity.MaxK.key -> "4")

  private def withConfs[A](confs: Seq[(String, String)])(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("TWO-LEVEL IVF round-trips: the fine model persists distributed and serves identically") {
    // the only regime that exists at 100 TB: force the sizing confs low
    // (TwoLevelIvfSpec's threshold — trainN 125, target 4, maxK 4 →
    // K1=4, K2=8) so sf0.001 trains the hierarchy, then round-trip
    val store = Files.createTempDirectory("graft_models_").toString
    withConfs(lowCaps) {
      Similarity.resetModelRegistry()
      var trained: Seq[String] = null
      val trainJobs = jobsDuring { trained = rows(Similarity.sim6IvfPqTopK(spark, sf)) }
      // the trained model must actually BE two-level, or this test
      // silently degrades to the flat round-trip
      assert(Similarity.ivfAssigned(spark, sf).fine.isDefined,
        "two-level did not engage under the forced confs")
      ModelStore.saveIvfPq(spark, sf, store)
      // the fine matrix is a distributed parquet table, not a refusal
      val fine = spark.read.parquet(s"$store/ivf_fine")
      assert(fine.columns.toSeq == Seq("cell1", "mat"))
      assert(fine.count() <= 4, "fine model must be K1 rows")

      Similarity.resetModelRegistry() // a fresh serving session
      ModelStore.loadIvfPq(spark, sf, store)
      var served: Seq[String] = null
      val serveJobs = jobsDuring { served = rows(Similarity.sim6IvfPqTopK(spark, sf)) }
      Similarity.resetModelRegistry()
      assert(served === trained)
      // in-process two-level training runs the coarse Lloyd loop PLUS
      // IVF_ITERS fine-refinement joins before the search (measured
      // ~30 jobs cold); served-from-store pays only the search's own
      // handful (measured 10: the two-level probe joins the persisted
      // fine matrix, which broadcasts per stage). The claim is
      // RELATIVE — serving must skip the training bulk — plus a loose
      // absolute ceiling so both numbers can't drift up together.
      assert(serveJobs * 2 <= trainJobs,
        s"expected the stored two-level model to skip training: served in $serveJobs jobs vs $trainJobs trained")
      assert(serveJobs <= 14,
        s"two-level serving should be a handful of search jobs, ran $serveJobs")
    }
  }

  test("loadIvfPq fails loudly when the serving session's confs differ from training") {
    val store = Files.createTempDirectory("graft_models_").toString
    withConfs(lowCaps) {
      Similarity.resetModelRegistry()
      ModelStore.saveIvfPq(spark, sf, store)
    }
    Similarity.resetModelRegistry()
    // serving session runs DEFAULT confs — the exact silent-drift case
    // the metadata exists to refuse
    val e = intercept[IllegalStateException] { ModelStore.loadIvfPq(spark, sf, store) }
    assert(e.getMessage.contains("sizing confs"), e.getMessage)
  }

  test("loadIvfPq fails loudly when pointed at a different corpus") {
    val store = Files.createTempDirectory("graft_models_").toString
    Similarity.resetModelRegistry()
    ModelStore.saveIvfPq(spark, sf, store)
    // a corpus with a different embedding count: the fingerprint must
    // refuse before any model is installed
    val other = Files.createTempDirectory("graft_other_corpus_").toString
    spark.read.parquet(s"$sf/embeddings.parquet").limit(100)
      .write.mode("overwrite").parquet(s"$other/embeddings.parquet")
    val e = intercept[IllegalStateException] {
      ModelStore.loadIvfPq(spark, other, store)
    }
    assert(e.getMessage.contains("different corpus"), e.getMessage)
    Similarity.resetModelRegistry()
  }

  test("loadIvfPq refuses a same-count corpus whose content changed") {
    import org.apache.spark.sql.functions._
    val store = Files.createTempDirectory("graft_models_").toString
    Similarity.resetModelRegistry()
    ModelStore.saveIvfPq(spark, sf, store)
    // same cardinality, same vec_id range — only the CONTENT of a
    // sampled row differs (vec_id 0 is in the 1-in-997 sample): the
    // count-only fingerprint served this silently; the sampled hash
    // must refuse
    val other = Files.createTempDirectory("graft_regen_corpus_").toString
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("embedding",
        when(col("vec_id") === 0, reverse(col("embedding")))
          .otherwise(col("embedding")))
      .write.mode("overwrite").parquet(s"$other/embeddings.parquet")
    val e = intercept[IllegalStateException] {
      ModelStore.loadIvfPq(spark, other, store)
    }
    assert(e.getMessage.contains("fingerprint"), e.getMessage)
    Similarity.resetModelRegistry()
  }
}
