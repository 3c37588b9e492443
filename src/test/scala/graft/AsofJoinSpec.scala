package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Extended
import graft.plans.AsofJoin

/** The as-of join behind [[AsofJoin.join]]: agreement between its TWO
  * physical forms (the custom sort-merge exec and the compositional
  * expansion the skew dispatcher falls back to), boundary/tie/null
  * semantics on adversarial synthetic inputs UNDER BOTH FORMS,
  * left-outer padding, and the physical plan shape of each. The
  * dispatch mechanism itself (sampled-skew auto routing) is pinned in
  * [[SkewSpec]]. */
class AsofJoinSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** all three physical forms — every semantic case must hold under
    * each, or the auto dispatcher could change answers by re-planning
    * (salt = the forced everything-salted stress form auto uses for
    * probed hot keys) */
  private val Modes = Seq("merge", "expand", "salt")

  private def lefts(rows: (Long, Long, String)*): DataFrame =
    rows.toDF("id", "k", "t").withColumn("t", col("t").cast("timestamp"))
  private def rights(rows: (Long, Long, String, Double)*): DataFrame =
    rows.toDF("rk", "tb", "rt", "payload")
      .withColumn("rt", col("rt").cast("timestamp"))

  private def join(l: DataFrame, r: DataFrame, mode: String,
      outer: Boolean = false) = {
    spark.conf.set(AsofJoin.Dispatch.key, mode)
    try AsofJoin.join(l, r, "k", "rk", "t", "rt",
      rightTieBreak = Seq("tb"), leftOuter = outer)
    finally spark.conf.unset(AsofJoin.Dispatch.key)
  }

  test("aj2 (custom exec) agrees with aj1 (compositional) bit-for-bit") {
    val got = Extended.aj2AsofCustom(spark, sf).collect().map(_.toString).sorted
    val want = Extended.aj1AsOfJoin(spark, sf).collect().map(_.toString).sorted
    assert(got.length > 0 && got.sameElements(want))
  }

  test("boundary, tie-break, and cross-key isolation (both forms)") {
    val l = lefts((1L, 10L, "2024-01-05 00:00:00"), // equal-time boundary
      (2L, 10L, "2024-01-02 00:00:00"), // before any right row
      (3L, 20L, "2024-01-09 00:00:00"), // other key
      (4L, 30L, "2024-01-09 00:00:00")) // key with no right rows
    val r = rights(
      (10L, 1L, "2024-01-05 00:00:00", 1.0), // ties on time with tb=2
      (10L, 2L, "2024-01-05 00:00:00", 2.0),
      (20L, 1L, "2024-01-08 00:00:00", 3.0),
      (20L, 2L, "2024-01-10 00:00:00", 4.0)) // after left row 3
    for (mode <- Modes) {
      val got = join(l, r, mode).select("id", "payload").as[(Long, Double)]
        .collect().toMap
      // row 1: rightTime == leftTime is INCLUDED; greatest tb wins the tie
      // row 2: no row at-or-before -> dropped (inner)
      // row 3: only the 01-08 row qualifies; 01-10 is in the future
      assert(got == Map(1L -> 2.0, 3L -> 3.0), s"$mode: $got")
    }
  }

  test("left outer pads unmatched rows with nulls (both forms)") {
    val l = lefts((1L, 10L, "2024-01-05 00:00:00"), (2L, 99L, "2024-01-05 00:00:00"))
    val r = rights((10L, 1L, "2024-01-01 00:00:00", 7.0))
    for (mode <- Modes) {
      val rows = join(l, r, mode, outer = true).collect()
      assert(rows.length == 2, s"$mode: ${rows.length}")
      val byId = rows.map(x => x.getLong(0) -> x).toMap
      assert(byId(1L).getDouble(6) == 7.0, mode)
      assert(byId(2L).isNullAt(3) && byId(2L).isNullAt(6), mode)
    }
  }

  test("null keys and null times never match (both forms)") {
    val l = Seq((1L, Some(10L), Some("2024-01-05 00:00:00")),
      (2L, None, Some("2024-01-05 00:00:00")), // null key
      (3L, Some(10L), None)) // null time
      .toDF("id", "k", "t").withColumn("t", col("t").cast("timestamp"))
    val r = Seq((Some(10L), 1L, Some("2024-01-01 00:00:00"), 7.0),
      (Some(10L), 2L, None, 9.0), // null right time: never a match
      (None, 3L, Some("2024-01-01 00:00:00"), 8.0)) // null right key
      .toDF("rk", "tb", "rt", "payload")
      .withColumn("rt", col("rt").cast("timestamp"))
    for (mode <- Modes) {
      val got = join(l, r, mode).select("id", "payload").as[(Long, Double)]
        .collect().toMap
      assert(got == Map(1L -> 7.0), s"$mode: $got")
    }
  }

  test("plan: AsofJoinExec with key exchanges, no expansion machinery") {
    val df = Extended.aj2AsofCustom(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("AsofJoin"), p)
    // the whole point: no join-expansion + ranking-aggregate pipeline
    assert(!p.contains("Window") && !p.contains("HashAggregate"), p)
    assert("Exchange hashpartitioning\\((user_id|o_custkey)".r.findAllIn(p).size == 2, p)
  }

  test("plan: the expanded form has NO custom exec (AQE's split can reach it)") {
    val l = lefts((1L, 10L, "2024-01-05 00:00:00"))
    val r = rights((10L, 1L, "2024-01-01 00:00:00", 7.0))
    val df = join(l, r, "expand")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("AsofJoin"), p)
    assert(p.contains("max_by"), p) // the ranking aggregate, not a window sort
  }

  test("plan: the salted form keeps the exec, clustered on (key, salt)") {
    val l = lefts((1L, 10L, "2024-01-05 00:00:00"))
    val r = rights((10L, 1L, "2024-01-01 00:00:00", 7.0))
    val df = join(l, r, "salt")
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("AsofJoin"), p)
    assert(p.contains("__graft_asof_salt_l"), p)
    // salt columns must not leak into the output
    assert(df.columns.sameElements(l.columns ++ r.columns), df.columns.mkString(","))
  }

  test("many left rows per key advance the single right cursor correctly (both forms)") {
    // left times interleave around right times within one key, plus a
    // second key whose rows arrive after the first key is exhausted
    val l = lefts((1L, 5L, "2024-01-01 10:00:00"), (2L, 5L, "2024-01-03 10:00:00"),
      (3L, 5L, "2024-01-05 10:00:00"), (4L, 5L, "2024-01-07 10:00:00"),
      (5L, 6L, "2024-01-02 10:00:00"))
    val r = rights((5L, 1L, "2024-01-02 00:00:00", 1.0),
      (5L, 2L, "2024-01-04 00:00:00", 2.0), (5L, 3L, "2024-01-06 00:00:00", 3.0),
      (6L, 4L, "2024-01-01 00:00:00", 6.0))
    for (mode <- Modes) {
      val got = join(l, r, mode).select("id", "payload").as[(Long, Double)]
        .collect().toMap
      assert(got == Map(2L -> 1.0, 3L -> 2.0, 4L -> 3.0, 5L -> 6.0), s"$mode: $got")
    }
  }
}
