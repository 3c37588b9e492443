package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's core capability — the per-key windowed moving average
  * of `faust_app/ma_agg.py` — re-expressed as declarative Spark windowed
  * aggregations, plus one focused query per SURVEY.md §2 operator row
  * (S2, P1–P6, A1–A12, F1–F10, W1–W3).
  *
  * Column mapping onto the driver's `events` table (FIXTURES.md §2):
  * `user_id` plays `symbol`, `value` plays `vwap_price_per_sec`,
  * `props.$.k` plays `size_per_sec` (zero ⇒ excluded from the mean,
  * `ma_agg.py:58-59`), `event_type == "purchase"` plays
  * `real_or_filled == "real"` (`ma_agg.py:60-61`).
  *
  * The reference's 5-second/1-second windows (`ma_agg.py:54,57,144`)
  * are rescaled on this dataset (events arrive minutes apart;
  * second-scale windows would never satisfy the exactly-5 gate):
  * 24-hour/6-hour for the exactly-5-gated queries (w1, p5 — the gate
  * needs that much data per window to fire) and 4-hour/1-hour for the
  * ungated hopping queries (w2, p6). The literal 5s/1s semantics are
  * exercised bit-for-bit in the streaming layer and its tests
  * (graft.streaming) over per-second synthetic data.
  *
  * Scale notes (100 TB posture): every query below is a single
  * partial-agg → shuffle-by-key → final-agg pipeline (one exchange,
  * map-side combine free from Catalyst); no driver-side loops, no UDFs —
  * all whole-stage-codegen'd built-ins. The hopping-window expansion
  * multiplies rows by (size/slide)=4 *after* column pruning at the scan.
  */
object MovingAverage {
  import Fmt._

  /** events + the `size_per_sec` analog parsed out of the JSON props
    * column (S2: JSON deserialization, `ma_agg.py:40`). */
  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))

  /** W1/V1: hopping (sliding) window + exactly-N gate + guarded mean —
    * the flagship. `ma_agg.py:49-81` semantics (§1.3.1-5): conditional
    * sum/count exclude zero-volume rows, safe division yields 0 not
    * NULL, emit only complete (count==5) windows, bounds = min/max of
    * member event-times, `first`-member type — rendered deterministic
    * as min(event_type) over the WINDOW's members (`ma_agg.py:65` takes
    * an arbitrary member of the fired window, so a window-scoped
    * aggregate is the faithful reading; round 2 used a per-user global
    * min, which also cost a second scan of the fact table).
    *
    * PANE-BASED two-phase shape (stream slicing — the w2 plan,
    * upgraded to carry w1's full buffer set): phase 1 aggregates
    * events into NON-OVERLAPPING 6-hour panes keyed by (pane,
    * user_id); phase 2 explodes each PANE into the 4 hopping windows
    * containing it and merges field-wise — the A9 additive
    * partial→final protocol the reference itself defines for V3
    * (`ma_agg.py:284-300`; `154-155` is the same window arithmetic).
    * Critically, NO window expansion touches an event: the naive
    * `window(ts, 24h, 6h)` groupBy copies every event into its 4
    * overlapping windows BEFORE the map-side partial aggregate —
    * 4× the scan-side hash work and 4× the first exchange's payload
    * on the engine's single hottest query.
    *
    * The A7 `type` column (min(event_type) over window members) is
    * the one non-additive-looking buffer, and a string agg buffer
    * would demote every aggregate it touches to SortAggregate — at
    * event volume, two corpus-sized SORTS (measured 2-3× slower than
    * the naive plan at sf10, where the r9 string-keyed two-phase
    * formulation held 19.5 s). So event_type goes through a
    * DRIVER-HELD CATEGORICAL DICTIONARY: the distinct types (a
    * CATEGORICAL column — the reference's real_or_filled has exactly
    * two values, `ma_agg.py:60-61`; this corpus has 5) collect sorted
    * to the driver (bounded model state, the tok2-vocab precedent),
    * min aggregates the integer code, and the final projection
    * decodes via element_at on the literal array. Every buffer in
    * BOTH phases is then numeric ⇒ HashAggregate end-to-end, zero
    * sorts, and the per-type key expansion disappears (the merge key
    * space halves: (ws,user), not (ws,user,type)). A corpus whose
    * type cardinality exceeds the cap falls back to riding the string
    * as a grouping key ([[w1PanesStringKeyed]]) — same results,
    * SortAggregate merge.
    *
    * At 100 TB: one fact scan (plus the one-column distinct for the
    * dictionary — dictionary-encoded parquet, a metadata-ish read),
    * first exchange carries PANE aggregates, second carries merged
    * windows, both hash-combined map-side. The exactly-5 gate filters
    * after the merge, same as the reference fires only complete
    * windows. */
  def w1SlidingSma(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    // UTF-8 byte order, NOT Scala's default UTF-16 `.sorted`: the
    // integer-code min must decode to the same string the fallback's
    // (and the oracle's) min(string) picks — see Exact.utf8Order
    val dict = e.select(col("event_type")).filter(col("event_type").isNotNull)
      .distinct().limit(W1_TYPE_DICT_CAP + 1)
      .collect().map(_.getString(0)).sorted(Exact.utf8Order).toSeq
    if (dict.length > W1_TYPE_DICT_CAP) w1PanesStringKeyed(e)
    else {
      val merged = w1Panes(
        e.withColumn("tc", array_position(typedLit(dict), col("event_type"))))
        .groupBy(col("ws"), col("user_id"))
        .agg(
          sum(col("s_cents")).as("s_cents"),
          sum(col("cv")).as("count_of_value"),
          sum(col("p_real")).as("real_count"),
          sum(col("p_filled")).as("filled_count"),
          min(col("min_ts")).as("min_ts"),
          max(col("max_ts")).as("max_ts"),
          sum(col("cnt")).as("window_data_count"),
          min(col("tc_min")).as("tc"))
      w1Finish(merged.withColumn("type",
        element_at(typedLit(dict), col("tc").cast("int"))))
    }
  }

  /** pane cardinality cap for the categorical-dictionary plan — far
    * above any real event-type vocabulary, small enough that the
    * decode literal and the when-free array_position stay trivial */
  private val W1_TYPE_DICT_CAP = 64

  /** Phase 1 + the pane→window explode, shared by both w1 plans: 6h
    * pane partials per (pane, user_id [, event_type in the fallback]),
    * each pane copied to the 4 24h/6h hopping windows containing it —
    * the same 6h-aligned grid `window(ts, 24h, 6h)` generates. Expects
    * an optional integer `tc` column (dictionary code; the fallback
    * passes none and keys the string instead). */
  private def w1Panes(e: DataFrame): DataFrame = {
    val hasTc = e.columns.contains("tc")
    val extraKey = if (hasTc) Nil else Seq(col("event_type"))
    // sums aggregate as exact integer cents and the mean truncates in
    // scaled-integer space (Exact.*) — bit-stable across engines at any
    // SF, where float sums + round() are not
    val aggs = Seq(
      coalesce(sum(when(col("k") =!= 0, Exact.cents(col("value")))), lit(0L)).as("s_cents"),
      count(when(col("k") =!= 0, lit(1))).as("cv"),
      count(when(col("event_type") === "purchase", lit(1))).as("p_real"),
      count(when(col("event_type") =!= "purchase", lit(1))).as("p_filled"),
      min(col("ts")).as("min_ts"),
      max(col("ts")).as("max_ts"),
      count(lit(1)).as("cnt")) ++
      (if (hasTc) Seq(min(col("tc")).as("tc_min")) else Nil)
    e.groupBy(window(col("ts"), "6 hours").as("pane") +: col("user_id") +: extraKey: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("*"),
        explode(expr(
          "transform(sequence(0, 3), i -> pane.start - i * INTERVAL 6 HOUR)")).as("ws"))
      .drop("pane")
  }

  /** the >cap-cardinality fallback: event_type rides as a pane
    * GROUPING KEY (UnsafeRow keys take strings; buffers stay numeric,
    * phase 1 stays a HashAggregate) and the merge pays a
    * SortAggregate for the min(event_type) string buffer */
  private[graft] def w1PanesStringKeyed(e: DataFrame): DataFrame =
    w1Finish(w1Panes(e)
      .groupBy(col("ws"), col("user_id"))
      .agg(
        sum(col("s_cents")).as("s_cents"),
        sum(col("cv")).as("count_of_value"),
        sum(col("p_real")).as("real_count"),
        sum(col("p_filled")).as("filled_count"),
        min(col("min_ts")).as("min_ts"),
        max(col("max_ts")).as("max_ts"),
        sum(col("cnt")).as("window_data_count"),
        min(col("event_type")).as("type")))

  /** the exactly-5 gate + output projection, shared by both plans */
  private def w1Finish(merged: DataFrame): DataFrame =
    merged
      .filter(col("window_data_count") === 5)
      .select(
        date_format(col("ws"), SEC).as("window_start"),
        col("user_id"),
        lit("5_MA_data").as("ma_type"),
        col("type"),
        date_format(col("min_ts"), MICRO).as("start"),
        date_format(col("max_ts"), MICRO).as("end"),
        Exact.fromCents(col("s_cents")).as("sum_of_value"),
        col("count_of_value"),
        Exact.centsMean(col("s_cents"), col("count_of_value")).as("sma_value"),
        col("window_data_count"), col("real_count"), col("filled_count"))

  private val w1Oracle: String =
    s"""WITH ex AS (
       |  SELECT e.*, CAST(json_extract(props, '$$.k') AS BIGINT) AS k,
       |         make_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600000000
       |                        - h.h * 21600000000) AS ws
       |  FROM events e CROSS JOIN range(4) h(h)
       |), agg AS (
       |  SELECT ws, user_id,
       |         coalesce(sum(CASE WHEN k <> 0 THEN CAST(round(value * 100) AS BIGINT) END), 0) AS s_cents,
       |         count(CASE WHEN k <> 0 THEN 1 END) AS count_of_value,
       |         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS real_count,
       |         count(CASE WHEN event_type <> 'purchase' THEN 1 END) AS filled_count,
       |         min(event_type) AS "type",
       |         strftime(min(ts), '$DUCK_MICRO') AS "start",
       |         strftime(max(ts), '$DUCK_MICRO') AS "end",
       |         count(*) AS window_data_count
       |  FROM ex GROUP BY ws, user_id HAVING count(*) = 5
       |)
       |SELECT strftime(ws, '$DUCK_SEC') AS window_start, user_id,
       |       '5_MA_data' AS ma_type, "type", "start", "end",
       |       CAST(s_cents AS DOUBLE) / 100 AS sum_of_value, count_of_value,
       |       CASE WHEN count_of_value > 0
       |            THEN floor(s_cents * 10000 / count_of_value) / 1000000 ELSE 0 END AS sma_value,
       |       window_data_count, real_count, filled_count
       |FROM agg""".stripMargin

  /** explicit pane-shuffle width override (int). Unset (default) =
    * derive from the scan's optimizer stats. */
  private[graft] val PaneWidth = graft.Setting.int("graft.panes.width", None)
  /** stats bytes one pane-shuffle task should own — sized from the
    * measured spill boundary, with the ×4 hopping explode priced in:
    * the merge exchange carries ~4 rows per scanned event at real
    * event sparsity (~1 event per pane), the decade probe spilled near
    * 12M merge rows/task, and scan stats ≈ 25 B/event on this schema —
    * so 16 MB of scan bytes ≈ 2.6M merge rows/task, a ~4× safety
    * margin. Measured at sf100e (SCALE.md round 13): 64 MB derived
    * width 38 → 120 s warm; 16 MB derives ~150, in the 128-width
    * regime the round-12 probe measured at 101 s. */
  private[graft] val PaneTargetBytes =
    graft.Setting.long("graft.panes.targetBytes", Some(16L << 20), min = 1)

  /** Stats-derived hopping-pane shuffle width: scan stats bytes /
    * target bytes, floored at the session's shuffle width (never
    * NARROWER than the deployment asked for) and clamped at 4096
    * (past which task-launch overhead beats spill risk on any
    * executor profile this engine targets — a 100 TB input arrives
    * pre-partitioned by source files anyway). Conf-overridable
    * ([[PaneWidth]]); pure plan-time arithmetic on already-cached
    * optimizer stats, nothing executes. */
  private[graft] def paneShuffleWidth(e: DataFrame): Int = {
    val spark = e.sparkSession
    PaneWidth.get(spark).getOrElse {
      val target = PaneTargetBytes(spark)
      val bytes = e.queryExecution.optimizedPlan.stats.sizeInBytes
      val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val byStats = (bytes / BigInt(math.max(1L, target))).min(BigInt(4096)).toInt
      math.max(base, byStats)
    }
  }

  /** W2/V2: hopping window, incremental aggregation, derived window
    * bounds `[start, start+size)` (`ma_agg.py:144,154-155`) — no
    * completeness gate, every window emits.
    *
    * Implementation is PANE-BASED (stream slicing): events first
    * aggregate into non-overlapping 1-hour panes — one row per
    * (key, pane), a massive reduction at event rates worth having —
    * and each pane then merges into the 4 hopping windows it belongs
    * to. The naive `window(ts, 4h, 1h)` groupBy expands every EVENT
    * ×4 before aggregating (see w1, kept native as the idiomatic
    * formulation); here only the already-aggregated panes expand.
    * Merge correctness is the A9 additive protocol. */
  def w2Hopping(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    // pane-shuffle width DERIVED from the scan's stats, not left to
    // whatever spark.sql.shuffle.partitions the deployment happens to
    // pin: the sf100e decade probe (SCALE.md round 12) measured this
    // exact plan spilling at ~12M pane-merge rows/partition when the
    // conf lagged the data 10× (247 s → 101 s at 32 → 128). Dispatch:
    //  - width ≤ session conf (every driver SF): the round-12 shape —
    //    pane partials map-side combine, exchanges at the conf width
    //    (grouping key is now the scalar epoch-hour floor instead of
    //    the window() struct; same panes, cheaper key);
    //  - width > conf (data outgrew the conf): hash-repartition the
    //    raw rows at the derived width on exactly the grouping keys —
    //    the aggregates' required distribution is satisfied, so BOTH
    //    exchanges carry the derived width and no extra shuffle
    //    appears. This trades the map-side pane combine for width; on
    //    event streams at real sparsity (the decade fixture: ~1 event
    //    per (user, hour) pane, so panes ≈ events and ×4 exploded
    //    panes DOMINATE the shuffle volume) the combine saves nothing
    //    while the width is the difference between spilling and not.
    //    A deployment with DENSE panes (many events per pane) can
    //    force the combine shape back with graft.panes.width=<conf>.
    // `ps` is the epoch-hour floor `window(ts, "1 hour").start`
    // computes (session tz is UTC repo-wide; Tables.events enforces
    // it); both shapes produce identical rows (W2WidthSpec pins it).
    val width = paneShuffleWidth(e)
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val wide = width > sessionParts
    val paned = e.withColumn("ps", date_trunc("hour", col("ts")))
    val panes = (if (wide) paned.repartition(width, col("ps"), col("user_id"))
                 else paned)
      .groupBy(col("ps"), col("user_id"))
      .agg(
        coalesce(sum(when(col("k") =!= 0, Exact.cents(col("value")))), lit(0L)).as("p_cents"),
        count(when(col("k") =!= 0, lit(1))).as("p_cnt"),
        count(lit(1)).as("p_n"))
    val exploded = panes
      .select(col("user_id"), col("p_cents"), col("p_cnt"), col("p_n"),
        explode(expr(
          "transform(sequence(0, 3), i -> ps - i * INTERVAL 1 HOUR)")).as("ws"))
    (if (wide) exploded.repartition(width, col("ws"), col("user_id"))
     else exploded)
      .groupBy(col("ws"), col("user_id"))
      .agg(
        sum(col("p_cents")).as("s_cents"),
        sum(col("p_cnt")).as("count_of_value"),
        sum(col("p_n")).as("n"))
      .select(
        date_format(col("ws"), SEC).as("window_start"),
        date_format(col("ws") + expr("INTERVAL 4 HOURS"), SEC).as("window_end"),
        col("user_id"), Exact.fromCents(col("s_cents")).as("sum_of_value"),
        col("count_of_value"), col("n"))
  }

  private val w2Oracle: String =
    s"""SELECT strftime(ws, '$DUCK_SEC') AS window_start,
       |       strftime(ws + INTERVAL 4 HOUR, '$DUCK_SEC') AS window_end,
       |       user_id,
       |       CAST(coalesce(sum(CASE WHEN k <> 0 THEN CAST(round(value * 100) AS BIGINT) END), 0) AS DOUBLE) / 100 AS sum_of_value,
       |       count(CASE WHEN k <> 0 THEN 1 END) AS count_of_value,
       |       count(*) AS n
       |FROM (SELECT e.*, CAST(json_extract(props, '$$.k') AS BIGINT) AS k,
       |             date_trunc('hour', ts) - h.h * INTERVAL 1 HOUR AS ws
       |      FROM events e CROSS JOIN range(4) h(h))
       |GROUP BY ws, user_id""".stripMargin

  /** W3/V3 + A8/A9: tumbling window assembled by MERGING pre-aggregated
    * partials — the two-phase partial→final protocol of
    * `ma_agg.py:284-300`. Phase 1 aggregates 4-hour sub-buckets; phase 2
    * merges them field-wise additively into the 24-hour tumbling window
    * and recomputes the mean from merged sums (never averages averages).
    * The oracle is the equivalent single-phase aggregation — merge
    * associativity is exactly what's being checked. */
  def w3TumblingMerge(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val partials = e
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("sub", expr("timestamp_micros((unix_micros(ts) div 14400000000) * 14400000000)"))
      .groupBy(col("user_id"), col("day"), col("sub"))
      .agg(
        sum(when(col("k") =!= 0, Exact.cents(col("value")))).as("p_cents"),
        count(when(col("k") =!= 0, lit(1))).as("p_cnt"),
        count(when(col("event_type") === "purchase", lit(1))).as("p_real"),
        count(when(col("event_type") =!= "purchase", lit(1))).as("p_filled"),
        count(lit(1)).as("p_n"))
    partials
      .groupBy(col("user_id"), col("day"))
      .agg(
        coalesce(sum(col("p_cents")), lit(0L)).as("s_cents"),
        sum(col("p_cnt")).as("count_of_value"),
        sum(col("p_real")).as("real_count"),
        sum(col("p_filled")).as("filled_count"),
        sum(col("p_n")).as("window_data_count"))
      .select(
        date_format(col("day"), SEC).as("window_start"),
        col("user_id"), Exact.fromCents(col("s_cents")).as("sum_of_value"),
        col("count_of_value"),
        Exact.centsMean(col("s_cents"), col("count_of_value")).as("sma_value"),
        col("real_count"), col("filled_count"), col("window_data_count"))
  }

  private val w3Oracle: String =
    s"""WITH agg AS (
       |  SELECT date_trunc('day', ts) AS day, user_id,
       |         coalesce(sum(CASE WHEN CAST(json_extract(props, '$$.k') AS BIGINT) <> 0 THEN CAST(round(value * 100) AS BIGINT) END), 0) AS s_cents,
       |         count(CASE WHEN CAST(json_extract(props, '$$.k') AS BIGINT) <> 0 THEN 1 END) AS count_of_value,
       |         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS real_count,
       |         count(CASE WHEN event_type <> 'purchase' THEN 1 END) AS filled_count,
       |         count(*) AS window_data_count
       |  FROM events GROUP BY 1, 2
       |)
       |SELECT strftime(day, '$DUCK_SEC') AS window_start, user_id,
       |       CAST(s_cents AS DOUBLE) / 100 AS sum_of_value, count_of_value,
       |       CASE WHEN count_of_value > 0
       |            THEN floor(s_cents * 10000 / count_of_value) / 1000000 ELSE 0 END AS sma_value,
       |       real_count, filled_count, window_data_count
       |FROM agg""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("w1_sliding_sma", w1SlidingSma, Some(w1Oracle)),
    Q("w2_hopping", w2Hopping, Some(w2Oracle)),
    Q("w3_tumbling_merge", w3TumblingMerge, Some(w3Oracle)),

    // S2 — JSON value deserialization (`ma_agg.py:40`, value_type=StockData)
    Q("s2_json_extract",
      (s, d) => ev(s, d).select(col("event_id"), col("k")),
      Some("SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events")),

    // P1 — field projection (`ma_agg.py:58-61,65`)
    Q("p1_project",
      (s, d) => Tables.events(s, d).select(col("event_id"), col("user_id"), col("value")),
      Some("SELECT event_id, user_id, value FROM events")),

    // P2 — non-zero-volume predicate (`ma_agg.py:58-59`)
    Q("p2_filter_nonzero",
      (s, d) => ev(s, d).filter(col("k") =!= 0).select(col("event_id"), col("k")),
      Some("SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events " +
        "WHERE CAST(json_extract(props, '$.k') AS BIGINT) <> 0")),

    // P3 — flag equality predicate (`ma_agg.py:60-61`)
    Q("p3_filter_flag",
      (s, d) => Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("event_type")),
      Some("SELECT event_id, event_type FROM events WHERE event_type = 'purchase'")),

    // P4 — time-range predicate (retain recent; `ma_agg.py:54-55`)
    Q("p4_time_range",
      (s, d) => Tables.events(s, d).filter(col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp"))
        .select(col("event_id"), date_format(col("ts"), MICRO).as("ts_s")),
      Some(s"SELECT event_id, strftime(ts, '$DUCK_MICRO') AS ts_s FROM events " +
        "WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'")),

    // P5 — exact-cardinality gate (`ma_agg.py:57`)
    Q("p5_exact_gate",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "24 hours", "6 hours"), col("user_id"))
        .agg(count(lit(1)).as("n")).filter(col("n") === 5)
        .select(date_format(col("window.start"), SEC).as("window_start"), col("user_id"), col("n")),
      Some(s"""SELECT strftime(ws, '$DUCK_SEC') AS window_start, user_id, count(*) AS n
              |FROM (SELECT ts, user_id,
              |             make_timestamp(CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600000000
              |                            - h.h * 21600000000) AS ws
              |      FROM events CROSS JOIN range(4) h(h))
              |GROUP BY ws, user_id HAVING count(*) = 5""".stripMargin)),

    // P6 — window-close gate: only windows whose end precedes the max
    // observed event time, the batch analog of `ma_agg.py:203`
    Q("p6_window_close",
      (s, d) => {
        val e = Tables.events(s, d)
        val maxTs = e.agg(max(col("ts")).as("max_ts"))
        e.groupBy(window(col("ts"), "4 hours", "1 hour"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(maxTs))
          .filter(col("window.end") <= col("max_ts"))
          .select(date_format(col("window.start"), SEC).as("window_start"), col("user_id"), col("n"))
      },
      Some(s"""SELECT strftime(ws, '$DUCK_SEC') AS window_start, user_id, count(*) AS n
              |FROM (SELECT ts, user_id, date_trunc('hour', ts) - h.h * INTERVAL 1 HOUR AS ws
              |      FROM events CROSS JOIN range(4) h(h))
              |GROUP BY ws, user_id
              |HAVING ws + INTERVAL 4 HOUR <= (SELECT max(ts) FROM events)""".stripMargin)),

    // A1 — conditional SUM (`ma_agg.py:58`); Python sum([])==0 ⇒ coalesce
    Q("a1_cond_sum",
      (s, d) => ev(s, d).groupBy(col("user_id"))
        .agg(Exact.fromCents(coalesce(sum(when(col("k") =!= 0, Exact.cents(col("value")))), lit(0L)))
          .as("sum_of_value")),
      Some("SELECT user_id, CAST(coalesce(sum(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) <> 0 " +
        "THEN CAST(round(value * 100) AS BIGINT) END), 0) AS DOUBLE) / 100 AS sum_of_value FROM events GROUP BY user_id")),

    // A2 — conditional COUNT (`ma_agg.py:59`)
    Q("a2_cond_count",
      (s, d) => ev(s, d).groupBy(col("user_id"))
        .agg(count(when(col("k") =!= 0, lit(1))).as("count_of_value")),
      Some("SELECT user_id, count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) <> 0 THEN 1 END) " +
        "AS count_of_value FROM events GROUP BY user_id")),

    // A3 — predicate-bucketed counts (`ma_agg.py:60-61`)
    Q("a3_bucket_counts",
      (s, d) => Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "purchase", lit(1))).as("real_count"),
          count(when(col("event_type") =!= "purchase", lit(1))).as("filled_count")),
      Some("SELECT user_id, count(CASE WHEN event_type = 'purchase' THEN 1 END) AS real_count, " +
        "count(CASE WHEN event_type <> 'purchase' THEN 1 END) AS filled_count FROM events GROUP BY user_id")),

    // A4 — MIN/MAX over timestamps (`ma_agg.py:67-68`)
    Q("a4_minmax_ts",
      (s, d) => Tables.events(s, d).groupBy(col("user_id"))
        .agg(date_format(min(col("ts")), MICRO).as("first_ts"),
          date_format(max(col("ts")), MICRO).as("last_ts")),
      Some(s"SELECT user_id, strftime(min(ts), '$DUCK_MICRO') AS first_ts, " +
        s"strftime(max(ts), '$DUCK_MICRO') AS last_ts FROM events GROUP BY user_id")),

    // A5/A10 — COUNT(*) under keyed grouping (`ma_agg.py:73,85`)
    Q("a5_count_by_key",
      (s, d) => Tables.events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("n")),
      Some("SELECT user_id, count(*) AS n FROM events GROUP BY user_id")),

    // A6 — guarded mean: sum/count if count>0 else 0 (`ma_agg.py:70`)
    Q("a6_guarded_mean",
      (s, d) => ev(s, d).groupBy(col("user_id"), col("event_type"))
        .agg(coalesce(sum(when(col("k") =!= 0, Exact.cents(col("value")))), lit(0L)).as("s_cents"),
          count(when(col("k") =!= 0, lit(1))).as("c"))
        .select(col("user_id"), col("event_type"),
          Exact.centsMean(col("s_cents"), col("c")).as("sma_value")),
      Some("""WITH a AS (
             |  SELECT user_id, event_type,
             |         coalesce(sum(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) <> 0 THEN CAST(round(value * 100) AS BIGINT) END), 0) AS s_cents,
             |         count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) <> 0 THEN 1 END) AS c
             |  FROM events GROUP BY 1, 2)
             |SELECT user_id, event_type,
             |       CASE WHEN c > 0 THEN floor(s_cents * 10000 / c) / 1000000 ELSE 0 END AS sma_value
             |FROM a""".stripMargin)),

    // A7 — FIRST (arbitrary member)'s deterministic stand-in: the
    // reference takes `next(iter(window))` (`ma_agg.py:65`), constant per
    // key in practice; min() is the oracle-stable equivalent.
    Q("a7_first_type",
      (s, d) => Tables.events(s, d).groupBy(col("user_id")).agg(min(col("event_type")).as("type")),
      Some("SELECT user_id, min(event_type) AS \"type\" FROM events GROUP BY user_id")),

    // A11 — composite-key grouping (`ma_agg.py:265`)
    Q("a11_composite_key",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          Exact.fromCents(sum(Exact.cents(col("value")))).as("sum_value"))
        .select(col("user_id"), col("event_type"), date_format(col("day"), SEC).as("day"),
          col("n"), col("sum_value")),
      Some(s"SELECT user_id, event_type, strftime(date_trunc('day', ts), '$DUCK_SEC') AS day, " +
        "count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value " +
        "FROM events GROUP BY 1, 2, 3")),

    // A12/F6 — grouping by derived concatenated key (`ma_agg.py:263`)
    Q("a12_derived_key",
      (s, d) => Tables.events(s, d)
        .groupBy(concat_ws("_", col("user_id"), col("event_type")).as("gkey"))
        .agg(count(lit(1)).as("n")),
      Some("SELECT user_id || '_' || event_type AS gkey, count(*) AS n FROM events GROUP BY 1")),

    // F1/F2 — ISO-8601 parse + format round-trip (`ma_agg.py:87`, `.isoformat()`)
    Q("f1_iso_roundtrip",
      (s, d) => Tables.events(s, d).select(col("event_id"),
        date_format(to_timestamp(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")), MICRO).as("ts_rt")),
      Some(s"SELECT event_id, strftime(strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'), " +
        s"'%Y-%m-%dT%H:%M:%S.%f'), '$DUCK_MICRO') AS ts_rt FROM events")),

    // F3 — UTC normalization from a fixed-offset zone (`ma_agg.py:46-47`;
    // container ran TZ=Asia/Taipei, docker-compose.yml:13)
    Q("f3_utc_normalize",
      (s, d) => Tables.events(s, d).select(col("event_id"),
        date_format(to_utc_timestamp(col("ts"), "Asia/Taipei"), MICRO).as("ts_utc")),
      Some(s"SELECT event_id, strftime(ts - INTERVAL 8 HOUR, '$DUCK_MICRO') AS ts_utc FROM events")),

    // F5 — timestamp ± interval (`ma_agg.py:54,154-155`)
    Q("f5_interval_arith",
      (s, d) => Tables.events(s, d).select(col("event_id"),
        date_format(col("ts") - expr("INTERVAL 5 SECONDS"), MICRO).as("ts_minus_5s")),
      Some(s"SELECT event_id, strftime(ts - INTERVAL 5 SECOND, '$DUCK_MICRO') AS ts_minus_5s FROM events")),

    // A8/A9 (typed form) — the reference's zero/reduce/merge/finish
    // protocol as an Aggregator registered via udaf; the oracle is the
    // equivalent direct SQL, so Spark's partial-aggregation execution of
    // the Aggregator (map-side reduce, shuffle, merge, finish) is what
    // gets hash-checked.
    Q("a9_typed_udaf",
      (s, d) => {
        val ma = udaf(new graft.functions.MaAggregator)
        ev(s, d)
          .withColumn("flag", when(col("event_type") === "purchase", "real").otherwise("filled"))
          .groupBy(col("user_id"))
          // the UDAF receives integer-valued cents as its double input:
          // integer doubles < 2^53 sum EXACTLY in any order, so the
          // recovered cents stay exact for any group size (a raw-double
          // sum drifts past the 0.5-cent budget around 1e6 rows/group).
          // null k (missing/unparseable props) maps to 0 ⇒ excluded from
          // the mean, same as the SQL CASE-expression queries — and the
          // MaIn encoder's primitive Long field would crash on null.
          .agg(ma(Exact.cents(col("value")).cast("double"),
            coalesce(col("k"), lit(0L)), col("flag")).as("m"))
          .select(col("user_id"),
            Exact.fromCents(col("m.sum_of_value").cast("long")).as("sum_of_value"),
            col("m.count_of_value").as("count_of_value"),
            Exact.centsMean(col("m.sum_of_value").cast("long"), col("m.count_of_value"))
              .as("sma_value"),
            col("m.real_count").as("real_count"),
            col("m.filled_count").as("filled_count"),
            col("m.n").as("n"))
      },
      Some("""WITH a AS (
             |  SELECT user_id,
             |         coalesce(sum(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) <> 0 THEN CAST(round(value * 100) AS BIGINT) END), 0) AS s_cents,
             |         count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) <> 0 THEN 1 END) AS count_of_value,
             |         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS real_count,
             |         count(CASE WHEN event_type <> 'purchase' THEN 1 END) AS filled_count,
             |         count(*) AS n
             |  FROM events GROUP BY user_id)
             |SELECT user_id, CAST(s_cents AS DOUBLE) / 100 AS sum_of_value, count_of_value,
             |       CASE WHEN count_of_value > 0
             |            THEN floor(s_cents * 10000 / count_of_value) / 1000000 ELSE 0 END AS sma_value,
             |       real_count, filled_count, n FROM a""".stripMargin)),

    // F10 — lexicographic comparison of ISO-formatted timestamps (`ma_agg.py:203`)
    Q("f10_string_ts_compare",
      (s, d) => Tables.events(s, d)
        .filter(date_format(col("ts"), SEC) >= "2024-01-25 00:00:00")
        .select(col("event_id")),
      Some(s"SELECT event_id FROM events WHERE strftime(ts, '$DUCK_SEC') >= '2024-01-25 00:00:00'")))
}
