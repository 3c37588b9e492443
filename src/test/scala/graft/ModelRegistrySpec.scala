package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Similarity, TextOps}

/** The model registries (TextOps' BPE tokenizer, Similarity's IVF/PQ
  * quantizer) must behave like a production model store: training runs
  * once per corpus, consumers reuse the artifact, and reuse is
  * invisible in results — only in work. Results are deterministic
  * either way (the DuckDB oracles prove cross-engine equality; this
  * spec proves the REUSE), so the observable here is the Spark job
  * count: a registry hit must skip the training jobs (Lloyd/PQ/BPE
  * iteration aggregates + collects) and run only the query-side scan
  * jobs. Conf-keying is pinned too: forcing the IVF sizing confs must
  * retrain rather than serve a model trained under defaults. */
class ModelRegistrySpec extends AnyFunSuite {
  import TestSpark._

  /** count Spark jobs started while `body` runs; listener delivery is
    * async, so poll until the count stabilizes */
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
      var prev = -1
      var cur = n.get()
      var spins = 0
      while (cur != prev && spins < 50) {
        Thread.sleep(200); prev = cur; cur = n.get(); spins += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("sim6 registry hit: identical result, training jobs skipped") {
    Similarity.resetModelRegistry()
    var first: Seq[String] = null
    var second: Seq[String] = null
    val coldJobs = jobsDuring { first = rows(Similarity.sim6IvfPqTopK(spark, sf)) }
    val warmJobs = jobsDuring { second = rows(Similarity.sim6IvfPqTopK(spark, sf)) }
    assert(second === first)
    // cold = IVF train (sample count + Lloyd collects) + PQ train
    // (sample count + init + iteration collects) + the query; warm =
    // the query only. Demand a decisive gap, not an exact count.
    assert(warmJobs <= coldJobs - 3,
      s"expected a registry hit to skip training jobs (cold=$coldJobs warm=$warmJobs)")

    // ir3 then sim6, the benchmark sweep's order: ir3's dense leg
    // trains the IVF and PQ models sim6 reads, so sim6 trains nothing
    Similarity.resetModelRegistry()
    Similarity.ir3HybridRrfIvfpq(spark, sf).collect()
    graft.ops.Model.release()
    val builds = (Similarity.ivfCache.misses, Similarity.pqCache.misses)
    var afterIr3: Seq[String] = null
    val afterIr3Jobs = jobsDuring { afterIr3 = rows(Similarity.sim6IvfPqTopK(spark, sf)) }
    assert(afterIr3 === first)
    assert((Similarity.ivfCache.misses, Similarity.pqCache.misses) === builds,
      "sim6 after ir3 retrained a model")
    assert(afterIr3Jobs <= coldJobs - 3,
      s"expected sim6 after ir3 to skip training jobs (cold=$coldJobs after ir3=$afterIr3Jobs)")
  }

  test("tok4 reuses the model tok3 registered: identical result, fewer jobs") {
    TextOps.resetModelRegistry()
    var cold: Seq[String] = null
    val coldJobs = jobsDuring { cold = rows(TextOps.tok4BpeEncode(spark, sf)) }
    graft.ops.Model.release()
    TextOps.resetModelRegistry()
    // production order: train (tok3), then encode (tok4)
    TextOps.tok3BpeTrain(spark, sf).collect()
    var viaRegistry: Seq[String] = null
    val warmJobs = jobsDuring { viaRegistry = rows(TextOps.tok4BpeEncode(spark, sf)) }
    graft.ops.Model.release()
    assert(viaRegistry === cold)
    assert(warmJobs <= coldJobs - 3,
      s"expected tok4 after tok3 to skip BPE training jobs (cold=$coldJobs warm=$warmJobs)")
  }

  test("IVF registry is conf-keyed: forcing the sizing confs retrains") {
    Similarity.resetModelRegistry()
    val defaultK = Similarity.ivfAssigned(spark, sf).k
    spark.conf.set(Similarity.TargetCell.key, "4")
    try {
      val forcedK = Similarity.ivfAssigned(spark, sf).k
      // target 4 rows/cell instead of 32 → ~8x the cells; a stale
      // registry hit would have returned defaultK unchanged
      assert(forcedK > defaultK,
        s"conf-keyed registry must retrain (default k=$defaultK forced k=$forcedK)")
    } finally {
      spark.conf.unset(Similarity.TargetCell.key)
      Similarity.resetModelRegistry()
    }
  }
}
