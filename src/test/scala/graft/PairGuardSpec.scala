package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.PairGuard

/** The pair-expansion guard (ops/PairGuard.scala): the quadratic
  * family's routing-as-a-mechanism. Pins (1) the estimator is EXACT at
  * sampleFraction=1 for both the self-join (Σ C(c,2)) and two-sided
  * (Σ l·r) forms, (2) `fail` refuses with the linear counterpart named
  * BEFORE execution, (3) `warn` (the default) never changes results,
  * (4) the stats floor skips small inputs entirely, and (5) the real
  * call sites (dd4/dd5/rj1) stay green at test SF — where the floor
  * keeps them probe-free. */
class PairGuardSpec extends AnyFunSuite {
  import TestSpark._

  private def withConfs[A](confs: Seq[(String, String)])(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // keys: a×3, b×2, c×1 → self expansion C(3,2)+C(2,2)+C(1,2) = 3+1+0
  private def selfDf = {
    import spark.implicits._
    Seq("a", "a", "a", "b", "b", "c").toDF("k")
  }

  test("self-join estimator is exact at sampleFraction=1") {
    withConfs(Seq(
        PairGuard.SampleFraction.key -> "1.0",
        PairGuard.MinBytes.key -> "0",
        PairGuard.MaxExpandRows.key -> "0")) {
      PairGuard.guardSelf("pgspec_self_exact", "none", selfDf, selfDf, "k")
      assert(PairGuard.lastEstimate("pgspec_self_exact").contains(4L))
    }
  }

  test("two-sided estimator is exact at sampleFraction=1; nulls never pair") {
    import spark.implicits._
    // l: a×2, b×1, null×5  r: a×3, b×4 → 2·3 + 1·4 = 10
    val l = (Seq("a", "a", "b") ++ Seq.fill(5)(null: String)).toDF("k")
    val r = Seq("a", "a", "a", "b", "b", "b", "b").toDF("k")
    withConfs(Seq(
        PairGuard.SampleFraction.key -> "1.0",
        PairGuard.MinBytes.key -> "0",
        PairGuard.MaxExpandRows.key -> "0")) {
      PairGuard.guardCross("pgspec_cross_exact", "none", l, l, r, "k")
      assert(PairGuard.lastEstimate("pgspec_cross_exact").contains(10L))
    }
  }

  test("fail mode refuses before execution and names the counterpart") {
    withConfs(Seq(
        PairGuard.Guard.key -> "fail",
        PairGuard.SampleFraction.key -> "1.0",
        PairGuard.MinBytes.key -> "0",
        PairGuard.MaxExpandRows.key -> "2")) {
      val e = intercept[IllegalStateException] {
        PairGuard.guardSelf("pgspec_fail", "the_linear_counterpart",
          selfDf, selfDf, "k")
      }
      assert(e.getMessage.contains("the_linear_counterpart"))
      assert(e.getMessage.contains("pgspec_fail"))
    }
  }

  test("stats floor skips the probe entirely") {
    withConfs(Seq(
        PairGuard.Guard.key -> "fail", // would throw if it probed
        PairGuard.SampleFraction.key -> "1.0",
        PairGuard.MinBytes.key -> (1L << 40).toString,
        PairGuard.MaxExpandRows.key -> "0")) {
      PairGuard.guardSelf("pgspec_floor", "none", selfDf, selfDf, "k")
      assert(PairGuard.lastEstimate("pgspec_floor").isEmpty)
    }
  }

  test("warn (default) and off both proceed; results unchanged at call sites") {
    // the real quadratic queries at test SF: under the 16 MB floor they
    // never probe, and their results are byte-identical to a guard-off
    // run (the guard is advisory by construction — this pins it)
    def sorted(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toString).sorted.toSeq
    val dd5 = sorted(SparkEntry.queries("dd5_embedding_cosine")(spark, sf).collect())
    val rj1 = sorted(SparkEntry.queries("rj1_range_join")(spark, sf).collect())
    withConfs(Seq(PairGuard.Guard.key -> "off")) {
      assert(sorted(SparkEntry.queries("dd5_embedding_cosine")(spark, sf)
        .collect()) == dd5)
      assert(sorted(SparkEntry.queries("rj1_range_join")(spark, sf)
        .collect()) == rj1)
    }
  }

  test("derived-key (banded) estimator is exact at sampleFraction=1") {
    import spark.implicits._
    // base rows fan out to 2 "bands" each; bucket = (band, k): per
    // band, a×2 and b×1 → Σ C(c,2) = 2 bands × (C(2,2)+C(1,2)) = 2
    val base = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "id")
    withConfs(Seq(
        PairGuard.SampleFraction.key -> "1.0",
        PairGuard.MinBytes.key -> "0",
        PairGuard.MaxExpandRows.key -> "0")) {
      PairGuard.guardSelfOf("pgspec_banded_exact", "none", base, base, "bk") {
        d => d.select(explode(typedLit(Seq(0, 1))).as("band"), col("k"))
          .select(concat_ws(":", col("band"), col("k")).as("bk"))
      }
      assert(PairGuard.lastEstimate("pgspec_banded_exact").contains(2L))
    }
  }

  test("dd2/dd3 banded call sites probe when forced; results unchanged") {
    // force the probe (floor 0, f=1) on the real sf0.001 corpus: both
    // banded operators must price their candidate expansion, and the
    // guard must stay advisory (identical results vs guard=off)
    def sorted(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toString).sorted.toSeq
    val offDd2 = withConfs(Seq(PairGuard.Guard.key -> "off")) {
      sorted(SparkEntry.queries("dd2_minhash_lsh")(spark, sf).collect())
    }
    val offDd3 = withConfs(Seq(PairGuard.Guard.key -> "off")) {
      sorted(SparkEntry.queries("dd3_simhash")(spark, sf).collect())
    }
    val offDd12 = withConfs(Seq(PairGuard.Guard.key -> "off")) {
      sorted(SparkEntry.queries("dd12_simhash_scale")(spark, sf).collect())
    }
    withConfs(Seq(
        PairGuard.SampleFraction.key -> "1.0",
        PairGuard.MinBytes.key -> "0",
        PairGuard.MaxExpandRows.key -> "1")) {
      assert(sorted(SparkEntry.queries("dd2_minhash_lsh")(spark, sf)
        .collect()) == offDd2)
      assert(sorted(SparkEntry.queries("dd3_simhash")(spark, sf)
        .collect()) == offDd3)
      assert(sorted(SparkEntry.queries("dd12_simhash_scale")(spark, sf)
        .collect()) == offDd12)
      val dd2Est = PairGuard.lastEstimate(
        "dd2_minhash_lsh (banded candidate stage; cc2 consumes these pairs)")
      val dd3Est = PairGuard.lastEstimate("dd3_simhash (banded candidate stage)")
      val dd12Est = PairGuard.lastEstimate(
        "dd12_simhash_scale (block-combination candidate stage)")
      // the corpus plants near-dups, so all candidate sets are non-empty
      assert(dd2Est.nonEmpty && dd2Est.get > 0L, s"dd2 estimate: $dd2Est")
      assert(dd3Est.nonEmpty && dd3Est.get > 0L, s"dd3 estimate: $dd3Est")
      assert(dd12Est.nonEmpty && dd12Est.get > 0L, s"dd12 estimate: $dd12Est")
      // the wide-key index never merges distinct fingerprints into one
      // bucket, so dd12's candidate expansion is bounded by dd3's (the
      // 7-bit chunks are a strictly coarser partition of the same docs
      // per table; 20 tables vs 9 cannot make up an 1152-bucket space)
      assert(dd12Est.get <= dd3Est.get * 3,
        s"dd12=$dd12Est should not exceed dd3=$dd3Est materially")
    }
  }

  test("fail mode refuses the banded dd3 shape naming the counterpart") {
    withConfs(Seq(
        PairGuard.Guard.key -> "fail",
        PairGuard.SampleFraction.key -> "1.0",
        PairGuard.MinBytes.key -> "0",
        PairGuard.MaxExpandRows.key -> "1")) {
      val e = intercept[IllegalStateException] {
        SparkEntry.queries("dd3_simhash")(spark, sf).collect()
      }
      // the refusal routes in-family first: dd12 keeps SimHash semantics
      // (same fingerprints, radius 3) on a saturation-free index
      assert(e.getMessage.contains("dd12_simhash_scale"), e.getMessage)
      assert(e.getMessage.contains("dd7_semantic_dedup"), e.getMessage)
    }
  }

  test("conf validation names the key: bad fraction, malformed floor") {
    withConfs(Seq(PairGuard.SampleFraction.key -> "1.5",
        PairGuard.MinBytes.key -> "0")) {
      val e = intercept[IllegalArgumentException] {
        PairGuard.guardSelf("pgspec_badf", "none", selfDf, selfDf, "k")
      }
      assert(e.getMessage.contains(PairGuard.SampleFraction.key), e.getMessage)
    }
    withConfs(Seq(PairGuard.MinBytes.key -> "lots")) {
      val e = intercept[IllegalArgumentException] {
        PairGuard.guardSelf("pgspec_badfloor", "none", selfDf, selfDf, "k")
      }
      assert(e.getMessage.contains(PairGuard.MinBytes.key), e.getMessage)
    }
  }

  test("a forced probe on the real dd5 shape fires warn without failing") {
    // drop the floor so the sf0.001 embeddings table actually probes:
    // 30 vectors → C(30,2) = 435 > cap 10 → warn path runs end to end
    withConfs(Seq(
        PairGuard.SampleFraction.key -> "1.0",
        PairGuard.MinBytes.key -> "0",
        PairGuard.MaxExpandRows.key -> "10")) {
      val out = SparkEntry.queries("dd5_embedding_cosine")(spark, sf)
      assert(out.count() > 0)
      val est = PairGuard.lastEstimate("dd5_embedding_cosine")
      assert(est.nonEmpty && est.get > 10L)
    }
  }
}
