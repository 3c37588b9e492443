package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.MovingAverage

/** The stats-derived pane-shuffle width (ops/MovingAverage.scala
  * paneShuffleWidth): the decade probe caught w2 spilling when a
  * stale spark.sql.shuffle.partitions lagged the data 10× (SCALE.md
  * round 12: 247 s → 101 s at 32 → 128) — the width is now derived
  * from the scan's optimizer stats instead of documented as a knob.
  * Pins (1) the derivation arithmetic (floor at the session conf,
  * stats/target scaling, 4096 clamp, conf override), (2) the WIDE
  * plan carries the derived width on both exchanges with no extra
  * shuffle, and (3) wide and legacy shapes produce identical rows. */
class W2WidthSpec extends AnyFunSuite {
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

  private def events = Tables.events(spark, sf)

  test("width floors at the session conf and scales with stats/target") {
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // huge target → byStats rounds to 0 → the session conf wins
    withConfs(Seq(MovingAverage.PaneTargetBytes.key -> (1L << 60).toString)) {
      assert(MovingAverage.paneShuffleWidth(events) == base)
    }
    // 1-byte target → byStats = stats bytes, clamped at 4096
    withConfs(Seq(MovingAverage.PaneTargetBytes.key -> "1")) {
      assert(MovingAverage.paneShuffleWidth(events) == 4096)
    }
    // explicit override beats everything, including the conf floor
    withConfs(Seq(MovingAverage.PaneWidth.key -> "7")) {
      assert(MovingAverage.paneShuffleWidth(events) == 7)
    }
    // a malformed value names its key
    for (key <- Seq(MovingAverage.PaneWidth.key, MovingAverage.PaneTargetBytes.key)) {
      withConfs(Seq(key -> "wide")) {
        val e = intercept[IllegalArgumentException] {
          MovingAverage.paneShuffleWidth(events)
        }
        assert(e.getMessage.contains(key), e.getMessage)
      }
    }
  }

  test("wide shape: derived width on both exchanges, no extra shuffle") {
    withConfs(Seq(MovingAverage.PaneWidth.key -> "64")) {
      val df = MovingAverage.w2Hopping(spark, sf)
      val optimized = df.queryExecution.optimizedPlan.toString
      // both repartitions survive optimization at the derived width
      assert("RepartitionByExpression".r.findAllIn(optimized).size == 2,
        optimized)
      // physical: exactly the 2 derived-width exchanges — the
      // aggregates' required distribution is satisfied by them, so no
      // conf-width exchange appears anywhere
      val physical = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(physical).size
      assert(exchanges == 2, s"expected 2 exchanges, got $exchanges\n$physical")
      val derived = physical.sliding(5).count(_ == ", 64)")
      assert(derived >= 2, s"expected both exchanges at width 64\n$physical")
    }
  }

  test("wide and legacy shapes produce identical rows") {
    val legacy = MovingAverage.w2Hopping(spark, sf).collect()
      .map(_.toString).sorted.toSeq
    val wide = withConfs(Seq(MovingAverage.PaneWidth.key -> "64")) {
      MovingAverage.w2Hopping(spark, sf).collect().map(_.toString).sorted.toSeq
    }
    assert(legacy == wide)
  }
}
