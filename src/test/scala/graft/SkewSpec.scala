package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Extended

/** Skew hardening for the join family (the ScaleGen `skew` knob's
  * in-process twin): a hot key holding ~20-30% of rows must not
  * one-task a shuffle stage.
  *  - aj1's equi-join must be AQE-skew-splittable ON ITS REAL PLAN —
  *    the downstream grouping is by the event PK (event_id) ALONE, a
  *    distribution the join's user_id hash partitioning does NOT
  *    satisfy, so AQE is free to split the hot user's partition. The
  *    trap runs the other way: ADDING user_id to the grouping would
  *    let hashpartitioning(user_id) satisfy it via the subset rule,
  *    re-pin the join output, and forbid the skew split (the landed
  *    fix is precisely grouping by event_id alone — user_id/ts ride
  *    as min()).
  *  - rj2's prefix-sum must stay correct AND balanced under TIME
  *    skew: a same-instant burst collapses to ONE weighted window row
  *    (the pre-aggregate is pinned in the plan), and correctness at a
  *    hot instant is checked against rj1 — the pair-form oracle twin —
  *    on the same corpus.
  * The measured leg lives in SCALE.md: isolated sf1 pairs on the
  * ScaleGen `skew` fixture land within 1.1-1.5× of uniform for
  * aj1/aj2/rj2 (bar: 2×). */
class SkewSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def withConfs[A](confs: Seq[(String, String)])(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** a miniature ScaleGen-skew corpus: events with a hot user holding
    * ~30% of rows (plus a same-instant burst for rj2), orders for
    * every user including the hot one */
  private def skewedDir(): String = {
    val dir = Files.createTempDirectory("graft_skew_").toString
    import spark.implicits._
    val n = 60000
    val events = spark.range(n).select(
      col("id").as("event_id"),
      // 70% spread over 3 days; 30% (every id%10<3) in one hot hour,
      // and a third of THOSE at one literal instant
      when(pmod(col("id"), lit(10)) < 1,
        lit("2024-01-15 12:00:00").cast("timestamp"))
        .when(pmod(col("id"), lit(10)) < 3,
          expr("timestamp'2024-01-15 12:00:00' + make_interval(0,0,0,0,0,0, id % 3600)"))
        .otherwise(
          expr("timestamp'2024-01-14 00:00:00' + make_interval(0,0,0,0,0,0, id % 259200)"))
        .as("ts"),
      when(pmod(col("id"), lit(10)) < 3, lit(1L))
        .otherwise(pmod(col("id"), lit(500))).as("user_id"),
      when(pmod(col("id"), lit(4)) === 0, lit("purchase"))
        .otherwise(lit("view")).as("event_type"),
      (col("id") % 100).cast("double").as("value"),
      lit("""{"k":1}""").as("props"))
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.range(2000).select(
      col("id").as("o_orderkey"),
      pmod(col("id"), lit(500)).as("o_custkey"),
      (col("id") % 997).cast("double").as("o_totalprice"),
      (to_date(lit("2024-01-10")) + (col("id") % 7).cast("int")).as("o_orderdate"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("aj1 on a hot-key corpus: AQE splits the skewed join partition on the REAL plan") {
    val dir = skewedDir()
    withConfs(Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // force the shuffle join — at test SF the orders side would
      // broadcast and the skew question would not arise
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      // grouping by event_id ALONE unpins the join output (a grouping
      // that contains user_id is satisfied by the join partitioning —
      // partition keys ⊆ grouping keys — and OptimizeSkewedJoin then
      // REFUSES; reproduced in round 10 before the fix landed): the
      // hot user's partition must split
      val p = plan(Extended.aj1AsOfJoin(spark, dir))
      assert(p.contains("skew=true"),
        "aj1's hot-user join partition must AQE-split:\n" + p)
      // correctness of the PK-grouped form: aj2 (the custom as-of
      // exec, sharing aj1's DuckDB oracle) is the in-engine twin
      val a1 = Extended.aj1AsOfJoin(spark, dir).collect().map(_.toString).sorted
      val a2 = Extended.aj2AsofCustom(spark, dir).collect().map(_.toString).sorted
      assert(a1.length > 0 && a1.sameElements(a2),
        s"aj1 drifted from aj2: ${a1.length} vs ${a2.length} rows")
    }
  }

  /** a uniform twin of [[skewedDir]] — same schema, no hot key —
    * large enough that the dispatch probe's sample clears its
    * minSampleRows floor, so it measures the real distribution */
  private def uniformDir(): String = {
    val dir = Files.createTempDirectory("graft_uniform_").toString
    spark.range(30000).select(
      col("id").as("event_id"),
      expr("timestamp'2024-01-14 00:00:00' + make_interval(0,0,0,0,0,0, id % 259200)")
        .as("ts"),
      pmod(col("id"), lit(500)).as("user_id"),
      when(pmod(col("id"), lit(4)) === 0, lit("purchase"))
        .otherwise(lit("view")).as("event_type"),
      (col("id") % 100).cast("double").as("value"),
      lit("""{"k":1}""").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.range(2000).select(
      col("id").as("o_orderkey"),
      pmod(col("id"), lit(500)).as("o_custkey"),
      (col("id") % 997).cast("double").as("o_totalprice"),
      (to_date(lit("2024-01-10")) + (col("id") % 7).cast("int")).as("o_orderdate"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  test("as-of DEFAULT dispatch on a hot-key corpus: salted exec planned, hot key spreads, results ≡ exec") {
    // the round-11 gap made a mechanism: NO manual routing here — aj2
    // goes through AsofJoin.join's default `auto` dispatch, whose
    // sampled probe must detect the 30%-hot key and plan the SALTED
    // exec (salt as an extra join key: the hot key's left rows spread
    // across sub-partitions, its right history replicates into each —
    // the straggler mitigation a custom exec cannot get from AQE,
    // which only skew-splits built-in join nodes)
    val dir = skewedDir()
    // the spec fixture is megabytes; drop the production stats floor
    // (64 MB — below it the probe costs more than the skew it guards)
    // so the probe actually runs and the MECHANISM is what's pinned
    withConfs(Seq(graft.plans.AsofJoin.MinBytes.key -> "0")) {
      val auto = Extended.aj2AsofCustom(spark, dir)
      val p = plan(auto)
      // (a) still the O(1)-memory exec...
      assert(p.contains("AsofJoin"),
        "auto dispatch must keep the custom exec (salted):\n" + p)
      // (b) ...but clustered on (key, salt), so the hot key cannot
      // serialize into one task
      assert(p.contains("__graft_asof_salt_l"),
        "auto dispatch must salt the hot key:\n" + p)
      // (c) dispatch cannot change answers: forced-plain-exec is the twin
      val a = auto.collect().map(_.toString).sorted
      val m = withConfs(Seq(graft.plans.AsofJoin.Dispatch.key -> "merge")) {
        Extended.aj2AsofCustom(spark, dir).collect().map(_.toString).sorted
      }
      assert(a.length > 0 && a.sameElements(m),
        s"dispatch drifted from exec: ${a.length} vs ${m.length} rows")
    }
  }

  test("as-of DEFAULT dispatch on a uniform corpus: the plain exec stays, unsalted") {
    val dir = uniformDir()
    // floor dropped here too: this pins the probe's uniform verdict,
    // not the size gate
    withConfs(Seq(graft.plans.AsofJoin.MinBytes.key -> "0")) {
      val p = plan(Extended.aj2AsofCustom(spark, dir))
      assert(p.contains("AsofJoin"),
        "uniform keys must keep the custom sort-merge exec:\n" + p)
      assert(!p.contains("__graft_asof_salt_l"),
        "uniform keys must not pay salting:\n" + p)
    }
  }

  test("as-of dispatch stats floor: tiny inputs skip the probe and stay on the plain exec") {
    // the same hot-key corpus UNDER the production floor: no probe,
    // no salt — a hot key in a megabytes-sized table cannot straggle
    // longer than the probe scan that would detect it
    val dir = skewedDir()
    val p = plan(Extended.aj2AsofCustom(spark, dir))
    assert(p.contains("AsofJoin") && !p.contains("__graft_asof_salt_l"),
      "sub-floor inputs must not pay the probe or the salt:\n" + p)
  }

  test("rj2 under time skew: same-instant burst collapses, results match rj1 exactly") {
    val dir = skewedDir()
    val p = plan(Extended.rj2RangeCount(spark, dir))
    // (a) the same-instant collapse is IN the plan: event points
    // pre-aggregate per t_us before the bucket window — a 6000-row
    // burst at one instant reaches the window as ONE weighted row
    assert("HashAggregate\\(keys=\\[t_us".r.findAllIn(p).nonEmpty, p)
    // (b) no global-order funnel
    assert(!p.contains("Exchange SinglePartition"), p)
    // (c) exactness at the hot instant: rj1 (the pair form) is the
    // in-engine oracle twin — identical answers required, and the
    // burst exercises the weighted strictly-less rank at a tie point
    val rj2 = Extended.rj2RangeCount(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rj1 = Extended.rj1RangeJoin(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rj2.size == rj1.size, s"${rj2.size} vs ${rj1.size} markers")
    val drift = rj1.collect {
      case (m, n) if rj2.getOrElse(m, -1L) != n => (m, n, rj2.get(m))
    }
    assert(drift.isEmpty, s"rj2 drifted from rj1 on ${drift.take(5)}")
  }
}
