package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{MaPipeline, StockTick, V1StateProcessor}

/** Drives the streaming layer through real StreamingQuery executions
  * (MemoryStream source → memory sink) — watermark semantics, append/
  * update emission policies, the V3 partial merge, and the bit-exact V1
  * state processor with its processing-time timer. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** JSON wire records, one per second per symbol, reference shape. */
  private def wire(symbol: String, sec: Int, vwap: Double, size: Long,
      flag: String = "real", base: String = "2024-01-01T00:00:"): String =
    s"""{"symbol":"$symbol","type":"stock","start":"","end":"",
       |"current_time":"$base${"%02d".format(sec)}+00:00","last_data_time":"",
       |"real_data_count":1,"filled_data_count":0,"real_or_filled":"$flag",
       |"vwap_price_per_sec":$vwap,"size_per_sec":$size,"volume_till_now":0,
       |"yesterday_price":0,"price_change_percentage":0}""".stripMargin.replace("\n", "")

  test("windowed SMA append mode: exactly-5 gate + watermark close (V2 semantics)") {
    val input = MemoryStream[String](Encoders.STRING, spark)
    val parsed = MaPipeline.parse(input.toDF().select(col("value")))
    val out = MaPipeline.windowedSma(parsed, emit = OutputMode.Append()) // 5s/1s, gate=5
    val q = out.writeStream.format("memory").queryName("sma_append")
      .outputMode("append").start()
    try {
      // symbol A: seconds 10..14 (complete), one zero-volume, one filled
      input.addData(
        wire("A", 10, 10.0, 1), wire("A", 11, 20.0, 2),
        wire("A", 12, 30.0, 0), wire("A", 13, 40.0, 1, "filled"),
        wire("A", 14, 50.0, 3))
      q.processAllAvailable()
      // push the watermark far past all windows
      input.addData(wire("Z", 59, 1.0, 1))
      q.processAllAvailable()
      val rows = spark.table("sma_append")
        .filter($"symbol" === "A" && $"window_data_count" === 5).collect()
      assert(rows.length == 1, "exactly one complete 5s window for A")
      val r = rows.head
      assert(r.getAs[Double]("sum_of_vwap") == 120.0) // 30.0 excluded (size=0)
      assert(r.getAs[Long]("count_of_vwap") == 4L)
      assert(r.getAs[Double]("sma_value") == 30.0)
      assert(r.getAs[Long]("real_data_count") == 4L)
      assert(r.getAs[Long]("filled_data_count") == 1L)
      assert(r.getAs[String]("start") == "2024-01-01T00:00:10Z")
      assert(r.getAs[String]("end") == "2024-01-01T00:00:14Z")
    } finally q.stop()
  }

  test("windowed SMA: incomplete window never emits (ma_agg.py:57)") {
    val input = MemoryStream[String](Encoders.STRING, spark)
    val out = MaPipeline.windowedSma(MaPipeline.parse(input.toDF().select(col("value"))),
      emit = OutputMode.Append())
    val q = out.writeStream.format("memory").queryName("sma_gate")
      .outputMode("append").start()
    try {
      input.addData(wire("B", 10, 1.0, 1), wire("B", 11, 2.0, 1), wire("B", 12, 3.0, 1))
      q.processAllAvailable()
      input.addData(wire("Z", 59, 1.0, 1))
      q.processAllAvailable()
      assert(spark.table("sma_gate").filter($"symbol" === "B").isEmpty)
    } finally q.stop()
  }

  test("V3 tumbling merge of partials equals additive combine (ma_agg.py:284-300)") {
    val input = MemoryStream[String](Encoders.STRING, spark)
    val parsed = MaPipeline.parse(input.toDF().select(col("value")))
    // stage 1: 5s tumbling partials (append on close), stage 2 merges 35s
    val partials = MaPipeline.windowedSma(parsed, size = "5 seconds",
      slide = "5 seconds", gate = None, emit = OutputMode.Append())
    val q1 = partials.writeStream.format("memory").queryName("v3_partials")
      .outputMode("append").start()
    try {
      input.addData((0 until 10).map(i => wire("C", i, 10.0 * (i + 1), 1)): _*)
      q1.processAllAvailable()
      input.addData(wire("Z", 59, 1.0, 1))
      q1.processAllAvailable()
      val p = spark.table("v3_partials").filter($"symbol" === "C")
      assert(p.count() == 2) // two closed 5s windows
      // batch-merge the partials (same code path as the streaming stage 2)
      val merged = MaPipeline.tumblingMerge(p, size = "35 seconds")
        .filter($"symbol" === "C").collect()
      assert(merged.length == 1)
      val m = merged.head
      assert(m.getAs[Double]("sum_of_vwap") == (1 to 10).map(_ * 10.0).sum)
      assert(m.getAs[Long]("count_of_vwap") == 10L)
      assert(m.getAs[Double]("sma_value") == 55.0)
    } finally q1.stop()
  }

  test("V1 state processor: timer-driven emission with eviction and gate") {
    val input = MemoryStream[StockTick](Encoders.product[StockTick], spark)
    // short first fire; 3s re-arm so we can also observe the V1
    // re-emission cadence (a complete window re-emits every fire)
    val out = V1StateProcessor(input.toDS(), windowMs = 60000L,
      timerIntervalMs = 3000L, gateCount = 5, firstTimerDelayMs = 50L)
    val q = out.writeStream.format("memory").queryName("v1_state")
      .outputMode("update").start()
    try {
      val nowUs = System.currentTimeMillis() * 1000L
      // 5 ticks within the window + 1 ancient tick that must be evicted
      input.addData(
        StockTick("A", nowUs - 4000000L, "stock", 10.0, 1, "real"),
        StockTick("A", nowUs - 3000000L, "stock", 20.0, 2, "real"),
        StockTick("A", nowUs - 2000000L, "stock", 30.0, 0, "real"),
        StockTick("A", nowUs - 1000000L, "stock", 40.0, 1, "filled"),
        StockTick("A", nowUs, "stock", 50.0, 3, "real"),
        StockTick("A", nowUs - 300000000L, "stock", 999.0, 9, "real"))
      // with processing-time timers armed the engine keeps triggering
      // micro-batches, so processAllAvailable never reaches quiescence —
      // poll the sink instead (the timer fires on its own, exactly like
      // the reference's data-independent @app.timer)
      val deadline = System.currentTimeMillis() + 120000L
      var rows = Array.empty[org.apache.spark.sql.Row]
      var nudged = false
      while (rows.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        if (!nudged && System.currentTimeMillis() > deadline - 110000L) {
          // in case the engine only triggers on data, nudge one batch
          input.addData(StockTick("Z", nowUs, "stock", 1.0, 1, "real"))
          nudged = true
        }
        rows = spark.table("v1_state").filter($"symbol" === "A").collect()
      }
      assert(rows.nonEmpty, "timer should have fired and emitted for A")
      val r = rows.head
      assert(r.getAs[Long]("window_data_count") == 5L) // ancient tick evicted
      assert(r.getAs[Double]("sum_of_vwap") == 120.0)
      assert(r.getAs[Long]("count_of_vwap") == 4L)
      assert(r.getAs[Double]("sma_value") == 30.0)
      assert(r.getAs[Long]("filled_data_count") == 1L)
      // W6/V1 duplicate-emission policy: the still-complete window
      // re-emits on the next fire (`ma_agg.py:57,78`)
      val deadline2 = System.currentTimeMillis() + 90000L
      var n = rows.length
      while (n < 2 && System.currentTimeMillis() < deadline2) {
        Thread.sleep(1000)
        n = spark.table("v1_state").filter($"symbol" === "A").collect().length
      }
      assert(n >= 2, "complete window must re-emit on subsequent timer fires")
    } finally q.stop()
  }

  test("file source end-to-end: JSON-lines dir -> parse -> window -> sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toFile
    try {
      val lines = (10 to 14).map(s => wire("F", s, 100.0, 1)) :+ wire("Z", 59, 1.0, 1)
      java.nio.file.Files.write(new java.io.File(dir, "batch1.json").toPath,
        String.join("\n", lines: _*).getBytes)
      val out = MaPipeline.windowedSma(MaPipeline.parse(
        MaPipeline.fromJsonFiles(spark, dir.getAbsolutePath)))
      val q = out.writeStream.format("memory").queryName("sma_file")
        .outputMode("update").start()
      try {
        q.processAllAvailable()
        val rows = spark.table("sma_file")
          .filter($"symbol" === "F" && $"window_data_count" === 5).collect()
        assert(rows.length == 1)
        assert(rows.head.getAs[Double]("sma_value") == 100.0)
      } finally q.stop()
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("windowed SMA update mode: complete window emits without watermark close (V1 cadence)") {
    val input = MemoryStream[String](Encoders.STRING, spark)
    val out = MaPipeline.windowedSma(MaPipeline.parse(input.toDF().select(col("value"))))
    val q = out.writeStream.format("memory").queryName("sma_update")
      .outputMode("update").start()
    try {
      input.addData(
        wire("D", 20, 10.0, 1), wire("D", 21, 20.0, 1), wire("D", 22, 30.0, 1),
        wire("D", 23, 40.0, 1), wire("D", 24, 50.0, 1))
      q.processAllAvailable()
      // update mode: the complete window is visible NOW — no watermark
      // advance needed (the reference's every-second re-emission model)
      val rows = spark.table("sma_update")
        .filter($"symbol" === "D" && $"window_data_count" === 5).collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Double]("sma_value") == 30.0)
    } finally q.stop()
  }

  test("current_time is the emitting trigger's batch time; a batch carries one current_time") {
    val fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    for (mode <- Seq(OutputMode.Update(), OutputMode.Append())) {
      val input = MemoryStream[String](Encoders.STRING, spark)
      val out = MaPipeline.windowedSma(MaPipeline.parse(input.toDF().select(col("value"))),
          gate = None, emit = mode)
        .withColumn("batch_time", date_format(current_timestamp(), fmt))
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Array[Row])]()
      val sink: (DataFrame, Long) => Unit =
        (df, id) => seen.add(id -> df.select("current_time", "batch_time").collect())
      val q = out.writeStream.outputMode(mode).foreachBatch(sink).start()
      try {
        // N's five ticks complete a window; P@30 and P@40 move the
        // watermark to 25 s and 35 s, so append mode closes N's windows
        // from their timers, in the no-data triggers that follow
        for (b <- Seq((10 to 14).map(s => wire("N", s, 1.0, 1)),
                      Seq(wire("P", 30, 1.0, 1)), Seq(wire("P", 40, 1.0, 1)))) {
          Thread.sleep(5) // a new batch timestamp
          input.addData(b: _*)
          q.processAllAvailable()
        }
        val byBatch = seen.asScala.toSeq.filter(_._2.nonEmpty)
        val rows = byBatch.flatMap(_._2)
        assert(rows.nonEmpty, s"$mode: no rows")
        rows.foreach(r => assert(r.getString(0) == r.getString(1), s"$mode: $r"))
        assert(rows.map(_.getString(0)).distinct.length >= 2, s"$mode: one batch time for all")
        if (mode == OutputMode.Append()) {
          val noData = q.recentProgress.filter(_.numInputRows == 0).map(_.batchId).toSet
          assert(byBatch.exists { case (id, _) => noData(id) },
            s"append: no rows from a no-data trigger: ${byBatch.map(_._1)} vs $noData")
        }
      } finally q.stop()
    }
    val batch = MaPipeline.windowedSma(MaPipeline.parse(
      Seq(10, 11, 12, 13, 14, 30).map(s => wire("N", s, 1.0, 1)).toDF("value")), gate = None)
    val times = batch.select("current_time").distinct().collect()
    assert(times.length == 1 && times.head.getString(0) != null, times.toSeq)
  }

  test("watermark lateness: data older than the watermark is dropped (W4)") {
    val input = MemoryStream[String](Encoders.STRING, spark)
    val out = MaPipeline.windowedSma(MaPipeline.parse(input.toDF().select(col("value"))),
      size = "5 seconds", slide = "5 seconds", watermark = "5 seconds", gate = None,
      emit = OutputMode.Append())
    val q = out.writeStream.format("memory").queryName("sma_late")
      .outputMode("append").start()
    try {
      input.addData(wire("H", 10, 1.0, 1), wire("H", 11, 2.0, 1))
      q.processAllAvailable()
      input.addData(wire("Z", 50, 1.0, 1)) // watermark -> ~45s, closes 10..14
      q.processAllAvailable()
      // this event is far behind the watermark: its window already
      // closed and emitted, so the row must be DROPPED, not re-emitted
      input.addData(wire("H", 12, 99.0, 1))
      q.processAllAvailable()
      input.addData(wire("Z", 59, 1.0, 1))
      q.processAllAvailable()
      val rows = spark.table("sma_late").filter($"symbol" === "H").collect()
      assert(rows.length == 1, "exactly one emission for the closed window")
      assert(rows.head.getAs[Long]("window_data_count") == 2L,
        "the late row must not appear in the emitted window")
    } finally q.stop()
  }

  test("malformed and late ticks give no row, stop nothing, and late ones are counted") {
    val input = MemoryStream[String](Encoders.STRING, spark)
    val out = MaPipeline.windowedSma(MaPipeline.parse(input.toDF().select(col("value"))),
      gate = None)
    val q = out.writeStream.format("memory").queryName("sma_bad")
      .outputMode("update").start()
    try {
      // a non-JSON line, and a tick whose current_time does not parse
      input.addData("not json", wire("M", 10, 1.0, 1).replace("2024-01-01T00:00:10", "yesterday"),
        wire("K", 10, 1.0, 1))
      q.processAllAvailable()
      input.addData(wire("K", 40, 1.0, 1)) // the next trigger's watermark is 35 s
      q.processAllAvailable()
      input.addData(wire("K", 41, 1.0, 1)) // late ticks are judged by the previous trigger's
      q.processAllAvailable()
      // three ticks at or before that watermark, one after it
      input.addData(wire("L", 12, 9.0, 1), wire("L", 20, 9.0, 1), wire("K", 33, 9.0, 1),
        wire("K", 38, 2.0, 1))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
      val rows = spark.table("sma_bad")
      assert(rows.filter($"symbol".isNull || $"symbol" === "M" || $"symbol" === "L").isEmpty)
      assert(rows.filter($"symbol" === "K" && $"sum_of_vwap" >= 9.0).isEmpty)
      assert(rows.filter($"symbol" === "K" && $"start" === "2024-01-01T00:00:38Z").count() > 0)
      val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 3L, q.recentProgress.map(_.json).mkString("\n"))
    } finally q.stop()
  }

  test("streaming exact dedup: duplicates within the watermark are dropped across batches") {
    val input = MemoryStream[String](Encoders.STRING, spark)
    val deduped = MaPipeline.parse(input.toDF().select(col("value")))
      .withWatermark("ts", "10 seconds")
      .dropDuplicates("symbol", "current_time")
      .select(col("symbol"), col("current_time"))
    val q = deduped.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try {
      input.addData(wire("E", 30, 1.0, 1), wire("E", 30, 1.0, 1), wire("E", 31, 2.0, 1))
      q.processAllAvailable()
      input.addData(wire("E", 30, 1.0, 1)) // duplicate arriving in a later batch
      q.processAllAvailable()
      val n = spark.table("stream_dedup").filter($"symbol" === "E").count()
      assert(n == 2, s"expected 2 unique (symbol,ts) rows, got $n")
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted query resumes without reprocessing (S4)") {
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val outDir = new java.io.File(base, "out").getAbsolutePath
    val ckptDir = new java.io.File(base, "ckpt").getAbsolutePath
    def startQuery() = MaPipeline
      .windowedSma(MaPipeline.parse(MaPipeline.fromJsonFiles(spark, srcDir.getAbsolutePath)),
        size = "5 seconds", slide = "5 seconds", gate = None, emit = OutputMode.Append())
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckptDir)
      .outputMode("append").start()
    try {
      // run 1: window 10..14 completes once Z@30 pushes the watermark
      java.nio.file.Files.write(new java.io.File(srcDir, "f1.json").toPath,
        ((10 to 14).map(s => wire("G", s, 10.0, 1)) :+ wire("Z", 30, 1.0, 1))
          .mkString("\n").getBytes)
      val q1 = startQuery()
      q1.processAllAvailable(); q1.stop()
      // run 2: fresh query instance, same checkpoint — must resume, not
      // reprocess f1; Z@59 closes the 30..34 window holding run-2 data
      java.nio.file.Files.write(new java.io.File(srcDir, "f2.json").toPath,
        ((30 to 32).map(s => wire("G", s, 20.0, 1)) :+ wire("Z", 59, 1.0, 1))
          .mkString("\n").getBytes)
      val q2 = startQuery()
      q2.processAllAvailable(); q2.stop()
      val out = spark.read.parquet(outDir).filter($"symbol" === "G")
      val windows = out.select("start", "window_data_count").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      // exactly one complete 10..14 window (no duplicate from restart)
      // and one 30..32 partial from run 2
      assert(windows == Set(("2024-01-01T00:00:10Z", 5L), ("2024-01-01T00:00:30Z", 3L)),
        windows.toString)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(base)
    }
  }

  test("serde round-trip: to_json ∘ from_json = id on the wire schema") {
    val js = wire("A", 7, 12.5, 3)
    val df = Seq(js).toDF("value")
    val parsed = MaPipeline.parse(df).drop("ts")
    val back = graft.model.Schemas.toWireJson(parsed)
    val reparsed = MaPipeline.parse(back).drop("ts")
    assert(parsed.collect().head == reparsed.collect().head)
  }
}
