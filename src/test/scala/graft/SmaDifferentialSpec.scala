package graft

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.MaPipeline

/** `MaPipeline.windowedSma` against the plan it replaced, kept here as the
  * oracle: `window()` + `groupBy` + `agg` with the same gate and output
  * projection. Both forms read the same seeded batches, and every
  * trigger's emitted rows must agree on every column but `current_time`
  * (doubles to 1e-9 relative: both sum in arrival order, but the
  * aggregate's partial sums may group the additions differently). */
class SmaDifferentialSpec extends AnyFunSuite {
  import TestSpark._

  /** The replaced formulation, verbatim but for its name. */
  private def oracle(parsed: DataFrame, size: String, slide: String, watermark: String,
      gate: Option[Int]): DataFrame = {
    def isoMicro(ts: Column): Column =
      when(date_format(ts, "SSSSSS") === "000000",
        date_format(ts, "yyyy-MM-dd'T'HH:mm:ssXXX"))
        .otherwise(date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))
    val windowed = parsed
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide), col("symbol"), col("type"))
      .agg(
        coalesce(sum(when(col("size_per_sec") =!= 0, col("vwap_price_per_sec"))), lit(0.0))
          .as("sum_of_vwap"),
        count(when(col("size_per_sec") =!= 0, lit(1))).as("count_of_vwap"),
        count(when(col("real_or_filled") === "real", lit(1))).as("real_data_count"),
        count(when(col("real_or_filled") =!= "real", lit(1))).as("filled_data_count"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
        count(lit(1)).as("window_data_count"))
    val gated = gate.fold(windowed)(g => windowed.filter(col("window_data_count") === g))
    gated.select(
      col("symbol"), col("type"),
      lit("5_MA_data").as("MA_type"),
      isoMicro(col("min_ts")).as("start"),
      isoMicro(col("max_ts")).as("end"),
      date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").as("current_time"),
      when(col("count_of_vwap") > 0, col("sum_of_vwap") / col("count_of_vwap"))
        .otherwise(0.0).as("sma_value"),
      col("sum_of_vwap"), col("count_of_vwap"), col("window_data_count"),
      col("real_data_count"), col("filled_data_count"))
  }

  private val base = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
  private val symbols = Seq("A" -> "stock", "B" -> "stock", "C" -> "crypto", "D" -> "stock",
    "E" -> "stock", "F" -> "crypto", "G" -> "stock", "H" -> "stock")

  private def iso(us: Long): String =
    Instant.ofEpochSecond(us / 1000000L, us % 1000000L * 1000L).toString.replace("Z", "+00:00")

  private def tick(symbol: String, typ: String, us: Long, vwap: Option[Double],
      size: Option[Long], flag: Option[String]): String = {
    def js[T](o: Option[T], q: Boolean = false) =
      o.fold("null")(v => if (q) "\"" + v + "\"" else v.toString)
    s"""{"symbol":"$symbol","type":"$typ","start":"","end":"","current_time":"${iso(us)}",""" +
      s""""last_data_time":"","real_data_count":1,"filled_data_count":0,""" +
      s""""real_or_filled":${js(flag, q = true)},"vwap_price_per_sec":${js(vwap)},""" +
      s""""size_per_sec":${js(size)},"volume_till_now":0,"yesterday_price":0,""" +
      s""""price_change_percentage":0}"""
  }

  /** Seeded tick batches: event time advances 3 s a batch; each batch
    * holds in-order ticks, ticks 1-5 s out of order (inside the
    * watermark), ticks 20-30 s behind (late: every window they fall in
    * has closed), repeated and sub-second event times, zero sizes, nulls
    * in the three nullable value columns, and a malformed line. Ticks
    * late by less than a window are where the two forms differ, by
    * design; the last test pins that. */
  private def batches(seed: Long, n: Int = 12): Seq[Seq[String]] = {
    val r = new Random(seed)
    def maybe[T](p: Double)(v: => T): Option[T] = if (r.nextDouble() < p) None else Some(v)
    (0 until n).map { b =>
      val now = base + (10 + 3 * b) * 1000000L
      val lines = symbols.flatMap { case (s, typ) =>
        (0 until 2 + r.nextInt(4)).map { _ =>
          val u = r.nextDouble()
          val behindMs =
            if (u < 0.55) r.nextInt(3000)
            else if (u < 0.8) 1000 + r.nextInt(4000)
            else 20000 + r.nextInt(10000)
          val us0 = now - behindMs * 1000L
          // whole seconds mostly, so repeats and several ticks per window are common
          val us = if (r.nextDouble() < 0.7) us0 - Math.floorMod(us0, 1000000L) else us0
          tick(s, typ, us, maybe(0.1)(r.nextInt(10000) / 100.0),
            maybe(0.1)(if (r.nextDouble() < 0.15) 0L else 1L + r.nextInt(50)),
            maybe(0.1)(if (r.nextDouble() < 0.7) "real" else "filled"))
        }
      }
      if (b % 5 == 2) lines :+ "not json" else lines
    }
  }

  /** One tick per symbol at each edge of the `start`/`end` format: whole
    * seconds, a microsecond either side of one, a half second, and the
    * same before 1970, where the epoch micros are negative. */
  private val edges: Seq[String] = Seq(base + 60000000L, base + 61000001L, base + 61999999L,
      base + 62500000L, 0L, -1L, -1000000L, -999999L, -1500000L, -31536000000000L + 250000L)
    .zipWithIndex.map { case (us, i) =>
      tick(s"E$i", "stock", us, Some(1.0), Some(1L), Some("real"))
    }

  private type Out = Seq[(Long, Seq[Row])]

  /** Runs `build` over `input` in `mode`, one data trigger per batch, and
    * returns each trigger's non-empty output without `current_time`.
    * `backToBack` turns off the no-data triggers Spark runs when the
    * watermark moves, so data triggers follow each other as under a
    * steady feed, and the late-event watermark (the previous trigger's)
    * trails the eviction watermark by one trigger's advance. */
  private def run(input: Seq[Seq[String]], mode: OutputMode, backToBack: Boolean)(
      build: DataFrame => DataFrame): Out =
    CodegenPaths.withConf(
        "spark.sql.streaming.noDataMicroBatches.enabled" -> (!backToBack).toString) {
      val stream = MemoryStream[String](Encoders.STRING, spark)
      val seen = new ConcurrentLinkedQueue[(Long, Seq[Row])]()
      val sink: (DataFrame, Long) => Unit =
        (df, id) => seen.add(id -> df.drop("current_time").collect().toSeq)
      val q: StreamingQuery = build(MaPipeline.parse(stream.toDF().select(col("value"))))
        .writeStream.outputMode(mode).foreachBatch(sink).start()
      try input.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      seen.asScala.toSeq.filter(_._2.nonEmpty).sortBy(_._1)
    }

  private def key(r: Row): String =
    (0 until r.length).filterNot(i => r.schema(i).dataType.typeName == "double")
      .map(r.get).mkString("|")

  private def assertSame(got: Out, want: Out, what: String): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"$what: triggers with output")
    got.zip(want).foreach { case ((id, g), (_, w)) =>
      val (gs, ws) = (g.sortBy(key), w.sortBy(key))
      assert(gs.map(key) == ws.map(key), s"$what, trigger $id")
      gs.zip(ws).foreach { case (a, b) =>
        (0 until a.length).filter(i => a.schema(i).dataType.typeName == "double").foreach { i =>
          val (x, y) = (a.getDouble(i), b.getDouble(i))
          assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
            s"$what, trigger $id, ${a.schema(i).name}: $x vs $y in ${key(a)}")
        }
      }
    }
  }

  private val cases = Seq(
    ("update, gate 5", OutputMode.Update(), Some(5)),
    ("update, no gate", OutputMode.Update(), None),
    ("append, gate 5", OutputMode.Append(), Some(5)),
    ("append, no gate", OutputMode.Append(), None))

  for ((size, slide) <- Seq(("5 seconds", "1 second"), ("5 seconds", "5 seconds"));
       ((name, mode, gate), seed) <- cases.zipWithIndex.map { case (c, i) => (c, 31L + i) }) {
    test(s"$size/$slide, $name: every trigger emits what the replaced plan emitted") {
      val input = batches(seed)
      for (backToBack <- Seq(false, true)) {
        val what = s"$size/$slide $name${if (backToBack) ", back to back" else ""}"
        val want = run(input, mode, backToBack)(oracle(_, size, slide, "5 seconds", gate))
        val got = run(input, mode, backToBack)(
          MaPipeline.windowedSma(_, size, slide, "5 seconds", gate, mode))
        assert(want.map(_._2.length).sum >= 5, s"$what: too few rows to compare: $want")
        assertSame(got, want, what)
      }
    }
  }

  for ((size, slide) <- Seq(("5 seconds", "1 second"), ("5 seconds", "5 seconds"))) {
    test(s"$size/$slide, batch input: every window equals the replaced plan's") {
      val parsed = MaPipeline.parse(
        spark.createDataset(batches(41).flatten ++ edges)(Encoders.STRING).toDF("value"))
      val got = MaPipeline.windowedSma(parsed, size, slide, gate = None).drop("current_time")
      val want = oracle(parsed, size, slide, "5 seconds", None).drop("current_time")
      assertSame(Seq(0L -> got.collect().toSeq), Seq(0L -> want.collect().toSeq), "batch")
      val starts = got.select("start").collect().map(_.getString(0)).toSet
      assert(Set("2024-01-01T00:01:00Z", "2024-01-01T00:01:01.000001Z", "1969-12-31T23:59:59Z",
        "1969-12-31T23:59:59.999999Z", "1969-12-31T23:59:58.500000Z").subsetOf(starts), starts)
    }
  }

  test("a tick at or before the watermark is dropped whole; the replaced plan kept it in later windows") {
    def at(symbol: String, sec: Int) =
      tick(symbol, "stock", base + sec * 1000000L, Some(1.0), Some(1L), Some("real"))
    // after the first trigger the watermark is 35 s: K@31 trails it, but
    // its window [31 s, 36 s) ends after it
    val input = Seq(Seq(at("K", 10), at("Z", 40)), Seq(at("K", 31)))
    val mode = OutputMode.Update()
    val want = run(input, mode, backToBack = false)(
      oracle(_, "5 seconds", "1 second", "5 seconds", None))
    val got = run(input, mode, backToBack = false)(MaPipeline.windowedSma(_, gate = None))
    assertSame(got, want.init, "before the late tick")
    assert(want.last._2.map(r => (r.getString(0), r.getString(3), r.getLong(8))) ==
      Seq(("K", "2024-01-01T00:00:31Z", 1L)))
  }
}
