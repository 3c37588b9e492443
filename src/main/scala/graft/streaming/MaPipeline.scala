package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, TimeMode,
  Trigger}
import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Schemas

/** The streaming replacement for the reference job
  * (`faust_app/ma_agg.py`): Kafka JSON in → per-symbol windowed moving
  * average → Kafka JSON out, expressed as Structured Streaming.
  *
  * Topology parity (SURVEY §3):
  *  - S1 source topic        → `fromKafka` (readStream kafka)
  *  - S2 JSON deserialization→ `parse` (from_json, explicit schema)
  *  - S5 group_by repartition→ the Exchange Spark inserts for groupBy
  *  - W1/W2 windows + gate   → `windowedSma`: [[SmaProcessor]] folds each
  *                             (symbol, type)'s open windows, then the gate
  *  - S3 sink topic          → `toKafka` (to_json → writeStream kafka)
  *  - S4 changelog durability→ checkpointLocation (state store)
  *  - W5 1s timer            → Trigger.ProcessingTime("1 second")
  *  - W6 emission policy     → `windowedSma(emit = …)`: update (V1
  *                             re-emit cadence) vs append (V2/V3
  *                             close-of-window); the query's output mode.
  *                             `current_time` is the emitting trigger's
  *                             batch time, which [[SmaProcessor]] takes
  *                             from `TimerValues`, so the stream's plan
  *                             compiles once per query
  *
  * The watermark is event-time (idiomatic Spark) where the reference
  * evicts by wall clock (`ma_agg.py:51-54`); bit-exact V1 timer behavior
  * lives in [[V1StateProcessor]].
  *
  * Scale notes: the windows' state is ONE row per (symbol, type), holding
  * that key's open windows, so state rows are keys, not keys × windows:
  * a trigger writes each key it touches once, and a quiet key is cleared
  * by its own event-time timer, with no scan of the store. The state
  * store is partitioned by the groupBy exchange, so 1000 executors each
  * own a key range; nothing is driver-resident. `transformWithState`
  * needs the RocksDB provider (`spark.sql.streaming.stateStore
  * .providerClass`), which every session in this repository sets.
  * Checkpoints written by the earlier `window()` + `groupBy` + `agg`
  * plan hold that plan's state and cannot be resumed by this one: start
  * such a query from a fresh checkpoint.
  */
object MaPipeline {

  /** S1 — Kafka source. The wiring mirrors
    * `app.topic('kafka_per_sec_data')` (`ma_agg.py:40`). Requires the
    * spark-sql-kafka connector on the classpath (not shipped in this
    * build environment — exercised via [[fromJsonFiles]]/MemoryStream,
    * which feed the identical downstream pipeline through `parse`). */
  def fromKafka(spark: SparkSession, servers: String,
      topic: String = "kafka_per_sec_data"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()

  /** S1 alternative runnable anywhere: stream JSON-lines files. Emits
    * the same single `value: string` column as the Kafka source, so the
    * downstream pipeline is byte-identical. */
  def fromJsonFiles(spark: SparkSession, path: String): DataFrame =
    spark.readStream.text(path)

  /** S2 — JSON bytes → typed columns with event-time `ts` parsed from
    * the ISO-8601 `current_time` (F1, `ma_agg.py:87`) and normalized to
    * UTC (F3, `ma_agg.py:46-47`; session TZ is pinned UTC). A line that
    * is not JSON, or whose `current_time` does not parse, gets a null
    * `ts`, and the windows drop it; under ANSI casts a throwing parse
    * would stop the query. */
  def parse(raw: DataFrame): DataFrame =
    raw.select(Schemas.parseStockJson(col("value").cast("string")).as("v"))
      .select(col("v.*"))
      .withColumn("ts", try_to_timestamp(col("current_time")))

  /** ISO-8601 with Python-`isoformat()` fractional behavior: whole
    * seconds print without a fractional part, sub-second timestamps keep
    * full microseconds — matching the reference's output wire and
    * [[V1StateProcessor]]'s formatter (the round-1 seconds-only pattern
    * silently truncated sub-second tick timestamps on this path). */
  private def isoMicro(ts: Column): Column =
    when(unix_micros(ts) % 1000000 === 0, date_format(ts, "yyyy-MM-dd'T'HH:mm:ssXXX"))
      .otherwise(date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"))

  /** A `window()` duration ("5 seconds") in micros, as `window()` reads it. */
  private def durationUs(d: String): Long = {
    val i = IntervalUtils.stringToInterval(UTF8String.fromString(d))
    require(i.months == 0, s"window durations cannot hold months: $d")
    i.days * 86400000000L + i.microseconds
  }

  /** W1/W2 — the windowed moving average over a parsed stream or batch
    * DataFrame. `gate = Some(5)` reproduces the exactly-5 emission gate
    * (`ma_agg.py:57`); `emit` is W6, the emission policy, and must be the
    * output mode the query is started with.
    *
    * Both input kinds run the same per-key fold, [[SmaFold]], over the
    * six columns the windows read, grouped by (symbol, type). The
    * reference's type is constant per symbol (`ma_agg.py:30`), so that
    * grouping is the symbol's. A stream runs it in [[SmaProcessor]] on
    * `transformWithState` in event time; a batch runs it in
    * `flatMapGroups`, with no watermark and no state. The fold emits one
    * numeric row per window, and the gate and projection below turn it
    * into the wire record.
    *
    * A stream stamps `current_time` from the processor's `emit_ts`, the
    * trigger's batch time: `current_timestamp()` holds the same value but
    * reaches generated code as a literal, a new class on every trigger.
    *
    * A tick is late when its event time is at or before the watermark the
    * operator filters with, the previous trigger's: it is dropped whole
    * and counted in the operator's `numRowsDroppedByWatermark`. The
    * replaced aggregate filtered each window copy of a tick instead, so
    * it still added a late tick to those of its windows that end after
    * that watermark. */
  def windowedSma(parsed: DataFrame, size: String = "5 seconds",
      slide: String = "1 second", watermark: String = "5 seconds",
      gate: Option[Int] = Some(5), emit: OutputMode = OutputMode.Update()): DataFrame = {
    require(emit == OutputMode.Update() || emit == OutputMode.Append(),
      s"windowedSma emits in update or append mode, not $emit")
    import parsed.sparkSession.implicits._
    val (sizeUs, slideUs) = (durationUs(size), durationUs(slide))
    val ticks = (if (parsed.isStreaming) parsed.withWatermark("ts", watermark) else parsed)
      .filter(col("ts").isNotNull)
      .select("symbol", "type", "ts", "vwap_price_per_sec", "size_per_sec", "real_or_filled")
      .groupBy(col("symbol"), col("type")).as[SmaKey, SmaTick]
    val windows =
      if (parsed.isStreaming)
        ticks.transformWithState(new SmaProcessor(sizeUs, slideUs), TimeMode.EventTime(), emit)
      else ticks.flatMapGroups(SmaFold.windows(sizeUs, slideUs) _)
    val rows = windows.toDF()
    val gated = gate.fold(rows)(g => rows.filter(col("window_data_count") === g))
    gated.select(
      col("symbol"), col("type"),
      lit("5_MA_data").as("MA_type"),
      isoMicro(col("min_ts")).as("start"),
      isoMicro(col("max_ts")).as("end"),
      date_format(if (parsed.isStreaming) col("emit_ts") else current_timestamp(),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").as("current_time"),
      when(col("count_of_vwap") > 0, col("sum_of_vwap") / col("count_of_vwap"))
        .otherwise(0.0).as("sma_value"),
      col("sum_of_vwap"), col("count_of_vwap"), col("window_data_count"),
      col("real_data_count"), col("filled_data_count"))
  }

  /** W3/V3 — tumbling-window merge of pre-aggregated partials
    * (`ma_agg.py:261-304`): consumes AggregatedData-shaped partials and
    * combines them additively, recomputing the SMA from merged sums. */
  def tumblingMerge(partials: DataFrame, size: String = "35 seconds",
      watermark: String = "35 seconds"): DataFrame =
    partials
      .withColumn("ts", to_timestamp(col("start")))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size), col("symbol"), col("type"), col("MA_type"))
      .agg(
        sum(col("sum_of_vwap")).as("sum_of_vwap"),
        sum(col("count_of_vwap")).as("count_of_vwap"),
        sum(col("window_data_count")).as("window_data_count"),
        sum(col("real_data_count")).as("real_data_count"),
        sum(col("filled_data_count")).as("filled_data_count"))
      .select(
        col("symbol"), col("type"), col("MA_type"),
        date_format(col("window.start"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("start"),
        date_format(col("window.end"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("end"),
        when(col("count_of_vwap") > 0, col("sum_of_vwap") / col("count_of_vwap"))
          .otherwise(0.0).as("sma_value"),
        col("sum_of_vwap"), col("count_of_vwap"), col("window_data_count"),
        col("real_data_count"), col("filled_data_count"))

  /** S3 — JSON-serialize every column into `value` and write to the
    * sink topic (`ma_agg.py:44,78`). Checkpointing supplies the
    * durability the reference gets from its changelog topic (S4). */
  def toKafka(result: DataFrame, servers: String, checkpoint: String,
      topic: String = "kafka_MA_data_aggregated",
      mode: OutputMode = OutputMode.Update()): DataStreamWriter[Row] =
    Schemas.toWireJson(result).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .outputMode(mode)
      .trigger(Trigger.ProcessingTime("1 second"))

  /** Full job wiring, V1/V2 shape: source → parse → window → sink.
    * `mode` is "update" or "append"; the one output mode it names is both
    * the windows' emission policy and the writer's. */
  def run(spark: SparkSession, servers: String, checkpoint: String,
      mode: String = "update"): StreamingQuery = {
    val emit = mode match {
      case "update" => OutputMode.Update()
      case "append" => OutputMode.Append()
      case other => throw new IllegalArgumentException(s"mode must be update or append: $other")
    }
    val gate = if (mode == "update") Some(5) else None
    toKafka(windowedSma(parse(fromKafka(spark, servers)), gate = gate, emit = emit),
      servers, checkpoint, mode = emit).start()
  }
}
