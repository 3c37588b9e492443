package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Similarity

/** The scale tier for dense ranking: knn2 and ir3 replace knn1/ir2's
  * exact-cosine corpus scan with the sim6 IVF-PQ read path. Correctness
  * of each variant is the DuckDB oracle's job; THIS spec pins the
  * recall relationship between the tiers — the numbers below are
  * deterministic constants of the fixed corpus + all-integer training,
  * so the floors sit safely under the measured values (sf0.001, with
  * the 10×k shortlist: ir3∩ir2 0.80, knn agreement 0.70; the fixed
  * 50-row shortlist measured dense recall@20 0.47 and motivated
  * sim6Rerank) without being vacuous. */
class KnnIvfpqSpec extends AnyFunSuite {
  import TestSpark._

  private def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
    df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("sim6 (5,20) dense leg reaches >=55% recall@20 of exact cosine") {
    val ev = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val q = ev.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    def dot(a: String, b: String) =
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    val brute = ev.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("cos", dot("v", "qv") / (sqrt(dot("v", "v")) * sqrt(dot("qv", "qv"))))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("r") <= 20)
    val exact = pairs(brute, "qid", "vec_id")
    val ann = pairs(Similarity.sim6TopK(spark, sf, 5, 20), "qid", "vec_id")
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.55, s"ir3 dense-leg recall@20 = $recall")
  }

  test("ir3's fused top-10 keeps >=70% of ir2's (exact-dense) top-10") {
    val a = pairs(Similarity.ir2HybridRrf(spark, sf), "qid", "id")
    val b = pairs(Similarity.ir3HybridRrfIvfpq(spark, sf), "qid", "id")
    assert(a.size == b.size && a.nonEmpty)
    val overlap = (a & b).size.toDouble / a.size
    assert(overlap >= 0.7, s"ir3/ir2 fused overlap = $overlap")
  }

  test("knn2's IVF-PQ vote matches knn1's exact vote on >=60% of queries") {
    def preds(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "pred_label").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p1 = preds(Similarity.knn1LabelKnn(spark, sf))
    val p2 = preds(Similarity.knn2LabelKnnIvfpq(spark, sf))
    assert(p1.keySet == p2.keySet && p1.size == 10,
      s"both variants must predict for all 10 queries (${p1.size}/${p2.size})")
    val agree = p1.count { case (q, l) => p2(q) == l }
    // a 5-neighbor majority flips on a single differing neighbor, so
    // agreement is looser than neighbor recall — but on this corpus it
    // is a deterministic 7/10
    assert(agree >= 6, s"knn2 agrees with knn1 on only $agree/10 queries")
  }

  test("graft.ivf.rerank: default == unset (oracle twin intact), wider only improves") {
    // the rerank knob (SCALE.md round 13: the decade corpus where ADC
    // cannot order near-ties needs shortlist, not probes) follows the
    // probes contract — the DEFAULT multiplier is what the oracle
    // bakes, so rerank=10 must be byte-identical to unset; a WIDER
    // shortlist feeds the exact rerank a SUPERSET of candidates, so
    // per query the exact-cosine mass of the final top-k can only
    // hold or rise (a displaced row is displaced by a strictly better
    // one — this is exactly why the knob recovers recall at 2M
    // vectors where raising probes lowers it)
    def run(conf: Option[String]) = {
      conf.foreach(v => spark.conf.set(Similarity.Rerank.key, v))
      try Similarity.sim6IvfPqTopK(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      finally spark.conf.unset(Similarity.Rerank.key)
    }
    val unset = run(None)
    assert(run(Some("10")).toSeq.sorted == unset.toSeq.sorted)
    val wide = run(Some("40"))
    def mass(rows: Array[(Long, Long, Double)]) =
      rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val (mNarrow, mWide) = (mass(unset), mass(wide))
    assert(mNarrow.keySet == mWide.keySet)
    mNarrow.foreach { case (qid, m) =>
      assert(mWide(qid) >= m - 1e-9,
        s"qid $qid: wider shortlist lost cosine mass ($m -> ${mWide(qid)})")
    }
    // and it genuinely engages on this corpus: at least one query improves
    assert(mNarrow.exists { case (qid, m) => mWide(qid) > m + 1e-9 })
  }

  test("graft.ivf.probes=0 and graft.ivf.targetCell=0 are refused, naming the key") {
    // probes=0 used to probe no cell (sim3 and sim6 returned no rows)
    // and targetCell=0 to fail inside training with "/ by zero"
    for ((setting, query) <- Seq[(Setting[_], () => Any)](
        Similarity.Probes -> (() => Similarity.sim3AnnIvf(spark, sf)),
        Similarity.Probes -> (() => Similarity.sim6IvfPqTopK(spark, sf)),
        Similarity.TargetCell -> (() => Similarity.sim3AnnIvf(spark, sf)))) {
      spark.conf.set(setting.key, "0")
      try {
        val e = intercept[IllegalArgumentException](query())
        assert(e.getMessage.contains(setting.key), e.getMessage)
      } finally spark.conf.unset(setting.key)
    }
  }
}
