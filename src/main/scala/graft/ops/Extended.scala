package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.RkLsh

/** Operators beyond the reference's surface that a production engine at
  * this seat needs: session windows, as-of (temporal) joins, and
  * one-to-many generation — each expressed with built-ins per the
  * preference order (no custom plan nodes required).
  */
object Extended {
  import Fmt._

  /** WS1 — session windows (gap-based): runs of per-user events with
    * < 2h gaps. Spark's native `session_window` merges state in the
    * aggregation layer — at scale this is one shuffle on the key, state
    * merged incrementally (works identically under Structured
    * Streaming). The lag-based oracle breaks sessions at gap >= 2h,
    * matching Spark's convention that an event at exactly gap distance
    * starts a new session. */
  def ws1SessionWindow(spark: SparkSession, dir: String): DataFrame =
    sessionAgg(Tables.events(spark, dir))

  /** The ws1 aggregation body, shared verbatim by the streaming leg
    * ([[graft.streaming.SessionStream]]) so the two tiers cannot
    * drift: takes any (user_id, ts, value) frame — batch, or a
    * watermarked stream — and `session_window` does the gap-merge in
    * the aggregation layer in both modes. */
  private[graft] def sessionAgg(events: DataFrame,
      gap: String = "2 hours"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"),
        Exact.fromCents(sum(Exact.cents(col("value")))).as("sum_value"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"),
        date_format(col("first_ts"), MICRO).as("session_start"),
        date_format(col("last_ts"), MICRO).as("session_end"),
        col("n"), col("sum_value"))

  private val ws1Oracle =
    s"""WITH o AS (
       |  SELECT user_id, ts, value,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR ts - lag(ts) OVER w >= INTERVAL 2 HOUR THEN 1 ELSE 0 END AS brk
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       |), s AS (
       |  SELECT user_id, ts, value,
       |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
       |                        ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM o)
       |SELECT user_id,
       |       strftime(min(ts), '$DUCK_MICRO') AS session_start,
       |       strftime(max(ts), '$DUCK_MICRO') AS session_end,
       |       count(*) AS n,
       |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
       |FROM s GROUP BY user_id, sid""".stripMargin

  /** AJ1 — as-of join: each event paired with the user's most recent
    * order at event time (inner semantics; ties broken on orderkey).
    * Composition path (a): equi-join on the key + time predicate, then
    * keep the latest order per event with `max_by` HASH aggregation:
    * the (o_orderdate DESC, o_orderkey DESC) tie-break packs into one
    * numeric ordering key (days·2^44 + orderkey, unique per order, no
    * overflow until year ~3400; 2^44 because sf10's replica offsets
    * push orderkey past the original 2^36 — the guard below caught
    * exactly that, 69 000 142 092, in the r8 sf10 sweep), so each
    * max_by has a primitive
    * buffer and the whole aggregate stays a HashAggregate with map-side
    * partials — the shuffle carries one buffer per event per task, not
    * the full per-event order history, and nothing sorts. (A struct
    * ordering, like the window/row_number formulation it replaces,
    * demotes to SortAggregate: measured no faster than the window.)
    * Scale note: the join expansion factor is bounded by
    * orders-per-key; for unbounded history the union-sort-merge
    * formulation (tag both sides, sort by (key, time), carry last
    * order forward) avoids the expansion — at this cardinality the
    * join form is cheaper.
    *
    * Skew (round 10): "AQE handles skew" was FALSE for this plan —
    * the (event_id, user_id, ts) grouping's required distribution is
    * satisfied by the join's user_id partitioning (subset rule), so
    * Catalyst reused it, the join output acquired a required
    * distribution, and OptimizeSkewedJoin refuses to split a join
    * whose output partitioning is required — a hot user's partition
    * was structurally one-task-bound at ANY scale. Two fixes were
    * measured: a static salt (events salt = hash(event_id) mod 8,
    * orders ×8) spreads by construction but taxes the UNIFORM case
    * with the small side's replication — fine at sf1 (1.4×) but 14×
    * at sf10, where orders are 15M rows and ×8 of them dominate. The
    * landed fix is ADAPTIVE: group by `event_id` ALONE (the event
    * primary key — user_id and ts are constant per event and ride as
    * min() aggregates), so the aggregate's ClusteredDistribution no
    * longer contains the join key and the join partitioning cannot
    * satisfy it. That unpins the join output, and AQE's skew split is
    * free to act exactly when a partition is actually hot
    * (replicating only the matching blocks, only then); the uniform
    * case pays one exchange of map-side-combined partial buffers
    * (~one per event), on the UNIFORM event_id key. SkewSpec pins the
    * skew=true split on the real plan under forced-low thresholds,
    * and the measured pairs live in SCALE.md. */
  def aj1AsOfJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val o = Tables.orders(spark, dir)
    // the packing needs o_orderkey ∈ [0, 2^44); out of range would
    // silently corrupt the (date, key) tie-break, so fail LOUDLY
    // instead (advice r2) — the guard folds into the packed key, costs
    // one branch per row, and raise_error aborts the job on violation
    val okGuarded = when(col("o_orderkey") >= 0L && col("o_orderkey") < (1L << 44),
        col("o_orderkey"))
      .otherwise(raise_error(concat(
        lit("aj1: o_orderkey out of packable range [0, 2^44): "),
        col("o_orderkey").cast("string"))).cast("long"))
    val ordKey = unix_date(col("o_orderdate").cast("date")).cast("long") *
      (1L << 44) + okGuarded
    e.join(o, e("user_id") === o("o_custkey") && e("ts") >= o("o_orderdate"))
      // event_id ALONE is the grouping key (it is the event PK;
      // user_id/ts are constant per event and ride as min()) — the
      // point is that the grouping's distribution must NOT contain
      // the join key, which unpins the join output for AQE's skew
      // split (see scaladoc)
      .groupBy(col("event_id"))
      .agg(
        min(col("user_id")).as("user_id"),
        min(col("ts")).as("ts"),
        max_by(col("o_orderkey"), ordKey).as("o_orderkey"),
        max_by(col("o_totalprice"), ordKey).as("o_totalprice"),
        max_by(col("o_orderdate"), ordKey).as("best_date"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), MICRO).as("ts_s"),
        col("o_orderkey"), col("o_totalprice"),
        date_format(col("best_date"), SEC).as("order_date"))
  }

  private val aj1Oracle =
    s"""SELECT event_id, user_id, ts_s, o_orderkey, o_totalprice, order_date FROM (
       |  SELECT e.event_id, e.user_id,
       |         strftime(e.ts, '$DUCK_MICRO') AS ts_s,
       |         o.o_orderkey, o.o_totalprice,
       |         strftime(o.o_orderdate, '$DUCK_SEC') AS order_date,
       |         row_number() OVER (PARTITION BY e.event_id
       |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
       |  FROM events e JOIN orders o
       |    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
       |WHERE rn = 1""".stripMargin

  /** AJ2 — the same as-of semantics as aj1 through the CUSTOM
    * whole-operator path ([[graft.plans.AsofJoin]] logical node →
    * AsofJoinStrategy → sort-merge AsofJoinExec): one forward merge
    * pass over co-partitioned co-sorted children, O(1) buffered rows,
    * no join expansion, no ranking aggregate. Shares aj1's DuckDB
    * oracle verbatim — the two formulations must agree bit-for-bit. */
  def aj2AsofCustom(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("timestamp").as("o_orderdate"))
    graft.plans.AsofJoin.join(e, o,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightTieBreak = Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), MICRO).as("ts_s"),
        col("o_orderkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), SEC).as("order_date"))
  }

  private val RJ_WINDOW_US = 1800000000L // 30min interval = bucket width

  /** RJ1 — range (interval) join WITHOUT an equi-key: every 'purchase'
    * event opens a 30-minute window; count the events (all users, all
    * types) inside each window — the "activity around a marker event"
    * density query. A bare range predicate gives Spark only
    * BroadcastNestedLoopJoin — O(N·M) compares and a broadcast
    * ceiling. The scale form BUCKETS the time axis (width = interval
    * length, so each interval spans ≤ 2 buckets): intervals explode to
    * their buckets, probe events map to exactly one, and the join
    * becomes an EQUI-join on the bucket with the range check as a
    * residual — a pair can only meet in the probe's own bucket, so no
    * post-join dedup. Cost drops from N·M to matches +
    * bucket-collisions; both sides shuffle on an 8-byte bucket id, and
    * AQE splits hot buckets (dense time regions) like any skewed
    * equi-key. (The compose-first answer to interval joins — no custom
    * operator needed.) */
  def rj1RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("t_us"))
    // integer `div`, not floor(double /): epoch-microsecond buckets
    // must not depend on float rounding at bucket boundaries
    val probe = base
      .select(col("t_us"), expr(s"t_us div $RJ_WINDOW_US").as("bkt"))
    val marker = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("marker_id"), col("t_us").as("s_us"),
        (col("t_us") + RJ_WINDOW_US).as("e_us"))
      .withColumn("bkt",
        explode(sequence(expr(s"s_us div $RJ_WINDOW_US"),
          expr(s"(e_us - 1) div $RJ_WINDOW_US"))))
    // quadratic in time density by role (the output is the general
    // pair-carrying join): within-bucket pairs grow with probes×markers
    // per bucket. The guard prices that expansion mechanically —
    // sampled Σ_bkt l·r behind the 16 MB floor — naming rj2 instead of
    // leaving the routing to this scaladoc.
    PairGuard.guardCross("rj1_range_join", "rj2_range_count (rank lookups)",
      Tables.events(spark, dir),
      probe.select(col("bkt")), marker.select(col("bkt")), "bkt")
    probe.join(marker,
        probe("bkt") === marker("bkt") &&
          col("t_us") >= col("s_us") && col("t_us") < col("e_us"))
      .groupBy(col("marker_id"))
      .agg(count(lit(1)).as("n_nearby"))
  }

  private val rj1Oracle =
    """SELECT m.event_id AS marker_id, CAST(count(*) AS BIGINT) AS n_nearby
      |FROM events m JOIN events e
      |  ON e.ts >= m.ts AND e.ts < m.ts + INTERVAL 30 MINUTE
      |WHERE m.event_type = 'purchase'
      |GROUP BY 1""".stripMargin

  /** RJ2 — rj1's range COUNT as distributed rank lookups, the scale
    * path when the aggregate is all you want: rj1's bucketed equi-join
    * is the right GENERAL interval join (it carries payload columns
    * from both sides, and its output IS the pair set), but for a pure
    * count its intermediate pair stream is quadratic in TIME DENSITY —
    * at a fixed clock range, 10× the rows puts 10× events AND 10×
    * markers in every bucket, so within-bucket pairs grow 100×
    * (measured: isolated warm 2.5 s at sf1 → 54 s at sf10). The count
    * form needs no pairs at all: with R(x) = #events with t < x,
    * n_nearby(m) = R(m.t + W) − R(m.t) — two rank lookups per marker.
    *
    * Ranks are computed with the pk1/shf1 two-phase distributed
    * prefix-sum recipe, never a global-order window: union the event
    * points with each marker's two query points (s and e), bucket by a
    * sub-window grid (bucket COUNT is clock-bounded — the pk1
    * argument for the driver-held offset table), run ONE
    * within-bucket running sum ordered (t, weight) — query points
    * sort before events at the same instant, which is exactly the
    * strictly-less rank both endpoints need: events AT m.t belong to
    * the window (oracle's >=), events AT m.t + W do not (<) — and add
    * per-bucket offsets joined back from the broadcast cumulative
    * table. One shuffle on the bucket id; cost is linear in rows at
    * any density, and the marker's own event makes both ranks exist,
    * so no marker is lost. Same oracle as rj1 — identical answers,
    * different plan class.
    *
    * Skew hardening (round 10): a TIME-hot corpus (a flash burst
    * putting ~20% of events in one window span) would one-task the
    * within-bucket window — AQE cannot split a window partition. Two
    * structural moves keep the plan balanced at any density profile:
    * (a) event points PRE-AGGREGATE per distinct instant (weight =
    * count, map-side combinable) so a same-instant burst collapses to
    * ONE window row, and (b) the prefix-sum grid is a 16× SUB-WINDOW
    * grid — the construction is grid-agnostic (ranks come from the
    * cumulative offsets), so a finer grid just spreads a dense span
    * across 16× more partitions. Offset rows stay clock-bounded
    * (~25k/month at W/16). */
  def rj2RangeCount(spark: SparkSession, dir: String): DataFrame = {
    val sub = RJ_WINDOW_US / 16
    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("t_us"))
    // (a) same-instant collapse: one weighted point per distinct t_us
    val eventPts = base.groupBy(col("t_us")).agg(count(lit(1)).as("w_event"))
      .select(col("t_us"), col("w_event"),
        lit(0L).as("marker_id"), lit(0).as("side"))
    val markers = base.filter(col("event_type") === "purchase")
    // both query points of a marker from ONE events pass (optimization
    // r13): the previous union of two marker projections re-planned the
    // filtered scan twice; exploding a 2-array of structs emits (s, e)
    // from a single scan
    val qPts = markers.select(explode(array(
        struct(col("t_us"),
          lit(0L).as("w_event"), col("event_id").as("marker_id"),
          lit(0).as("side")),
        struct((col("t_us") + RJ_WINDOW_US).as("t_us"),
          lit(0L).as("w_event"), col("event_id").as("marker_id"),
          lit(1).as("side")))).as("s"))
      .select(col("s.t_us").as("t_us"), col("s.w_event").as("w_event"),
        col("s.marker_id").as("marker_id"), col("s.side").as("side"))
    // pin: phase 2's per-bucket totals are their own ACTION over pts —
    // unpinned, that action re-paid the event aggregation and the
    // marker scan before the ranked pass paid them again (optimization
    // r13; one narrow persisted point set vs two full events passes)
    val pts = Model.pin(eventPts.union(qPts)
      .withColumn("bkt", expr(s"t_us div $sub")))
    // phase 1: within-bucket running event weight; query points order
    // before events at the same t (w_event ASC: 0 < any count), so a
    // query point's running sum is the strictly-less count inside its
    // bucket. The (marker_id, side) tail makes the order total; it
    // cannot change any sum — ties there are all query points (+0).
    val w = Window.partitionBy(col("bkt"))
      .orderBy(col("t_us"), col("w_event"), col("marker_id"), col("side"))
    val ranked = pts.withColumn("run", sum(col("w_event")).over(w))
      .filter(col("w_event") === 0L)
    // phase 2: per-bucket event totals -> driver (clock-bounded rows of
    // model state, the PACK_BUCKETS argument) -> cumulative offsets
    val totals = pts.groupBy(col("bkt"))
      .agg(sum(col("w_event")).as("n"))
      .orderBy(col("bkt")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var acc = 0L
    val offRows = totals.map { case (bkt, n) =>
      val off = acc; acc += n; (bkt, off)
    }
    import spark.implicits._
    val offDf = broadcast(offRows.toSeq.toDF("bkt", "off"))
    ranked.join(offDf, "bkt")
      .select(col("marker_id"), col("side"), (col("off") + col("run")).as("r"))
      .groupBy(col("marker_id"))
      .agg(sum(when(col("side") === 1, col("r")).otherwise(-col("r")))
        .cast("long").as("n_nearby"))
  }

  /** MM3 — one-to-many generation (the UDTF shape): sample one "frame"
    * per 64-byte block of the opaque media payload. The generator is
    * `explode(sequence(...))` — codegen'd, no UDTF class needed; a real
    * decoder would replace the arithmetic with frame timestamps. */
  def mm3FrameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.withBinary(spark, dir)
      .withColumn("n_frames", ceil(length(col("media")) / lit(64.0)).cast("long"))
      // empty media ⇒ 0 frames ⇒ no rows — without the guard,
      // sequence(0, -1) would infer step -1 and emit [0, -1]
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * 64).as("byte_offset"), col("n_frames"))

  private val mm3Oracle =
    // DuckDB 1.0 lacks lateral range(); expand via the scalar list form
    """WITH f AS (
      |  SELECT doc_id,
      |         CAST(ceil(octet_length(text::BLOB) / 64.0) AS BIGINT) AS n_frames,
      |         unnest(range(CAST(ceil(octet_length(text::BLOB) / 64.0) AS BIGINT))) AS frame_idx
      |  FROM documents)
      |SELECT doc_id, frame_idx, frame_idx * 64 AS byte_offset, n_frames FROM f""".stripMargin

  /** A13 — salted two-phase aggregation: the standard remedy when one
    * key dominates (a hot symbol at 100 TB would bottleneck a single
    * reducer). Phase 1 aggregates on (key, salt) — hot keys spread over
    * 16 reducers; phase 2 merges the 16 partials per key. Merge
    * correctness is the A9 protocol; the oracle is the direct
    * single-phase aggregation, so the rewrite is verified equivalent. */
  def a13SaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
      .groupBy(col("user_id"), col("salt"))
      .agg(sum(Exact.cents(col("value"))).as("p_cents"), count(lit(1)).as("pn"))
      .groupBy(col("user_id"))
      .agg(Exact.fromCents(sum(col("p_cents"))).as("sum_value"), sum(col("pn")).as("n"))
  }

  private val a13Oracle =
    """SELECT user_id,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value,
      |       count(*) AS n
      |FROM events GROUP BY user_id""".stripMargin

  /** SQL1 — the SQL-text interface (inherited surface, §2.12): the W2
    * aggregation written as plain SQL over a registered view, including
    * a library function (`ma_agg` UDAF) called from SQL. */
  def sql1SqlInterface(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    Tables.events(spark, dir)
      .withColumn("k", coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L)))
      .withColumn("flag", when(col("event_type") === "purchase", "real").otherwise("filled"))
      .createOrReplaceTempView("events_v")
    spark.sql(
      // exact-cents convention (see graft.ops.Exact and a9_typed_udaf):
      // the UDAF sums integer-valued cents — exact at any group size
      s"""SELECT user_id,
         |       CAST(CAST(m.sum_of_value AS BIGINT) AS DOUBLE) / 100 AS sum_of_value,
         |       m.count_of_value AS count_of_value,
         |       CASE WHEN m.count_of_value > 0
         |            THEN floor(CAST(m.sum_of_value AS BIGINT) * 10000 / m.count_of_value) / 1000000
         |            ELSE 0.0 END AS sma_value,
         |       m.n AS n
         |FROM (SELECT user_id, ma_agg(CAST(round(value * 100) AS DOUBLE), k, flag) AS m
         |      FROM events_v GROUP BY user_id)""".stripMargin)
  }

  private val sql1Oracle =
    """WITH a AS (
      |  SELECT user_id,
      |         coalesce(sum(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) <> 0 THEN CAST(round(value * 100) AS BIGINT) END), 0) AS s_cents,
      |         count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) <> 0 THEN 1 END) AS count_of_value,
      |         count(*) AS n
      |  FROM events GROUP BY user_id)
      |SELECT user_id, CAST(s_cents AS DOUBLE) / 100 AS sum_of_value, count_of_value,
      |       CASE WHEN count_of_value > 0
      |            THEN floor(s_cents * 10000 / count_of_value) / 1000000 ELSE 0 END AS sma_value,
      |       n FROM a""".stripMargin

  /** APX1 — approximate distinct counting per group: the sketch path
    * for COUNT(DISTINCT) at 100 TB, where exact distinct forces a
    * second shuffle on the distinct key. Since round 3 this is
    * [[graft.functions.HllSketch]] — our own HyperLogLog whose
    * integer-only register arithmetic a DuckDB oracle replays verbatim,
    * flipping apx1 from rows-only to full hash-check (Spark's built-in
    * HLL++ hashes with engine-local xxhash64; ApproxSpec still pins the
    * realized error vs the exact count AND vs approx_count_distinct).
    * Same scale shape as the built-in: one ObjectHashAggregate, m-byte
    * mergeable states map-side-combined before the shuffle. */
  def apx1HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(call_function("hll_sketch", col("l_partkey")).as("h"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("h.approx_distinct").as("approx_parts"),
        col("h.zero_regs").as("zero_regs"),
        col("h.harmonic_s").as("harmonic_s"),
        col("n"))
  }

  private val apx1Oracle: String = {
    import graft.functions.HllSketch
    val (bucket, rho) = HllSketch.bucketRhoSql("l_partkey")
    val (est, zeros, s) = HllSketch.estimateSql("present", "s_present")
    s"""WITH r AS (
       |  SELECT l_returnflag, $bucket AS bucket, max($rho) AS rho
       |  FROM lineitem GROUP BY 1, 2),
       |a AS (
       |  SELECT l_returnflag, count(*) AS present,
       |         CAST(sum(${1L << HllSketch.MAX_RHO} >> rho) AS BIGINT) AS s_present
       |  FROM r GROUP BY 1),
       |n AS (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1)
       |SELECT a.l_returnflag, $est AS approx_parts, CAST($zeros AS BIGINT) AS zero_regs,
       |       CAST($s AS BIGINT) AS harmonic_s, n.n AS n
       |FROM a JOIN n USING (l_returnflag)""".stripMargin
  }

  /** APX2 — approximate percentiles (one pass, mergeable buffers) of
    * the price distribution per group. Since round 3 this is
    * [[graft.functions.HistSketch]] — a fixed-boundary log-scaled
    * histogram (HdrHistogram shape) over exact integer cents, whose
    * bucket arithmetic and rank selection are pure integers ⇒ fully
    * hash-checked (the round-2 `percentile_approx` interpolated with
    * engine-local compaction ⇒ rows-only). Estimates are bucket lower
    * bounds, within 2^-5 ≈ 3.1% relative of the true order statistic;
    * ApproxSpec pins the realized error vs exact percentiles. */
  def apx2Percentile(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(call_function("hist_sketch", Exact.cents(col("l_extendedprice"))).as("h"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("h.p50").as("p50_cents"),
        col("h.p95").as("p95_cents"),
        col("n"))
  }

  private val apx2Oracle: String = {
    import graft.functions.HistSketch
    val bucket = HistSketch.bucketSql("CAST(round(l_extendedprice * 100) AS BIGINT)")
    val lb = HistSketch.lowerBoundSql("bucket")
    s"""WITH b AS (
       |  SELECT l_returnflag, $bucket AS bucket, count(*) AS c
       |  FROM lineitem GROUP BY 1, 2),
       |cum AS (
       |  SELECT l_returnflag, bucket, c,
       |         sum(c) OVER (PARTITION BY l_returnflag ORDER BY bucket
       |                      ROWS UNBOUNDED PRECEDING) AS cc,
       |         sum(c) OVER (PARTITION BY l_returnflag) AS n
       |  FROM b)
       |SELECT l_returnflag,
       |       CAST(min(CASE WHEN cc >= (n * 50 + 99) // 100 THEN $lb END) AS BIGINT) AS p50_cents,
       |       CAST(min(CASE WHEN cc >= (n * 95 + 99) // 100 THEN $lb END) AS BIGINT) AS p95_cents,
       |       CAST(max(n) AS BIGINT) AS n
       |FROM cum GROUP BY 1""".stripMargin
  }

  /** EXT1 — the [[graft.plans.RewriteDotProduct]] optimizer rule end to
    * end: the query is WRITTEN as the natural HOF dot product (each
    * embedding dotted with its own reversal — a nontrivial per-row
    * scalar; the plain squared norm is ~1.0 everywhere on these
    * unit-normalized vectors) and the injected rule rewrites it to the
    * codegen'd DoubleDot — the oracle checks values, the ExtensionsSpec
    * checks the optimized plan actually contains `double_dot`. */
  def ext1DotRewrite(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(spark)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("r", reverse(col("v")))
      .select(col("vec_id"), Exact.floorE6(
        expr("aggregate(zip_with(v, r, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"))
        .as("rev_dot"))
  }

  private val ext1Oracle =
    """SELECT vec_id,
      |       floor(list_dot_product(embedding::DOUBLE[],
      |                              list_reverse(embedding::DOUBLE[]))
      |             * 1000000) / 1000000 AS rev_dot
      |FROM embeddings""".stripMargin

  /** bits per dimension of the Z-order curve (16 → a 32-bit z-value) */
  private val ZBITS = 16

  /** keep the top 6 interleaved bits → 64 layout buckets, each
    * constraining BOTH dimensions to one of 8 slabs (2^13 wide) */
  private val ZSHIFT = 2 * ZBITS - 6

  /** Z1 — Z-order (Morton-curve) layout clustering: interleave the low
    * 16 bits of two query dimensions (customer key, order day) and
    * bucket rows by the top interleaved bits. This is the multi-column
    * data-layout technique behind file skipping in modern lakehouse
    * tables: sorting by the z-value makes file-level min/max ranges
    * TIGHT IN BOTH dimensions at once (each of the 64 buckets here
    * spans ≤ 1/8 of the key range AND ≤ 1/8 of the date range —
    * ZorderSpec pins that), so a predicate on either column prunes
    * ~7/8 of the files, where a lexicographic sort prunes only its
    * leading column. The emitted per-bucket min/max stats are exactly
    * the footer stats a scan would prune on.
    *
    * Shape (100 TB): the z-value is a 16-term codegen'd bit-arithmetic
    * expression (no UDF); the stats roll up in one hash aggregate.
    * The production write path is `repartitionByRange($"z")` +
    * `sortWithinPartitions($"z")` before the parquet write — the
    * stats query itself is how you VERIFY the layout. */
  def z1ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir).select(
      col("o_custkey").as("x0"),
      datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long")
        .as("y0"))
    // dimension ranges: 4 longs of driver state (in production these
    // come free from the table's column statistics — no extra scan)
    val s = base.agg(min(col("x0")), max(col("x0")),
      min(col("y0")), max(col("y0"))).head()
    val (minX, maxX, minY, maxY) = (s.getLong(0), s.getLong(1),
      s.getLong(2), s.getLong(3))
    // scale each dimension to the 16-bit grid with INTEGER division
    // (both operands nonnegative, so div == floor; doubles would lose
    // exactness once range*65535 passes 2^53)
    val scaled = base.select(
      expr(s"((x0 - $minX) * 65535) div greatest($maxX - $minX, 1)").as("x"),
      expr(s"((y0 - $minY) * 65535) div greatest($maxY - $minY, 1)").as("y"),
      col("x0"), col("y0"))
    val z = (0 until ZBITS).map { b =>
      shiftleft(shiftright(col("x"), b).bitwiseAND(lit(1L)), 2 * b)
        .plus(shiftleft(shiftright(col("y"), b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_ + _)
    scaled.select(col("x0"), col("y0"), z.as("z"))
      .groupBy(shiftright(col("z"), ZSHIFT).as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x0")).as("min_key"), max(col("x0")).as("max_key"),
        min(col("y0")).as("min_day"), max(col("y0")).as("max_day"))
  }

  private val z1Terms = (0 until ZBITS).map(b =>
    s"(((x >> $b) & 1) << ${2 * b}) + (((y >> $b) & 1) << ${2 * b + 1})")
    .mkString(" + ")

  private val z1Oracle =
    s"""WITH b0 AS (SELECT CAST(o_custkey AS BIGINT) AS x0,
       |              CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS y0
       |            FROM orders),
       |st AS (SELECT min(x0) AS minx, max(x0) AS maxx,
       |              min(y0) AS miny, max(y0) AS maxy FROM b0),
       |b AS (SELECT x0, y0,
       |        ((x0 - minx) * 65535) // greatest(maxx - minx, 1) AS x,
       |        ((y0 - miny) * 65535) // greatest(maxy - miny, 1) AS y
       |      FROM b0, st),
       |z AS (SELECT x0, y0, ($z1Terms) AS z FROM b)
       |SELECT z >> $ZSHIFT AS zbucket, count(*) AS n_rows,
       |       min(x0) AS min_key, max(x0) AS max_key,
       |       min(y0) AS min_day, max(y0) AS max_day
       |FROM z GROUP BY 1""".stripMargin

  /** Count-min geometry: 4 rows × 1024 buckets. The sketch counts word
    * BIGRAMS (the synthetic corpus's unigram lexicon is only ~31 words
    * — 1024 buckets would never collide and the min() would never
    * select; the ~950-bigram vocabulary loads the rows to ~1 entry per
    * bucket, so collisions exist and estimates genuinely exceed truth
    * for some probes while staying inside the ε = e/W bound). */
  private val CM_D = 4
  private val CM_W = 1024

  /** APX3 — count-min heavy-hitter counts (Cormode & Muthukrishnan
    * 2005): a 4×1024 integer sketch of the corpus bigram-frequency
    * vector, probed for the exact top-100 bigrams (ng1's list) —
    * (bigram, true count, sketch estimate). The sketch never
    * underestimates; ApproxSpec pins est ≥ cnt and the realized error
    * against the ε·N bound.
    *
    * Shape (100 TB): THE mergeable fixed-size answer when the n-gram
    * vocabulary doesn't fit anywhere — the sketch build is one
    * aggregation keyed by (row, bucket) with AT MOST 4×1024 distinct
    * keys (map-side partials reduce each task's gram stream to ≤4096
    * counters before the shuffle; contrast tok1's full-vocab rank),
    * and the finished sketch is 32 KB of model state, broadcast-joined
    * back to the probe side. The exact top-100 probe list exists to
    * make the estimates oracle-checkable; a production reader keeps
    * only the sketch and probes ad hoc. Bucketing is the two-round
    * avalanche over the engine-neutral RK char fold of the bigram
    * string (chains 40-47), so sketch contents AND estimates replay
    * verbatim in DuckDB. */
  def apx3CountMin(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    // ng1's bigram recipe verbatim (inlined — bigramsW is TextOps-private):
    // word_pairs(w, 2) is the codegen'd one-pass form of the former
    // when/transform/concat_ws HOF chain (optimization r14 — the r13 swap
    // was logged but not committed; ADVICE item closed this round).
    // n<2 → empty array is built into the expression.
    val bigrams = call_function("word_pairs", col("w"), lit(2))
    // pinned (optimization r13): the bigram-count table feeds both the
    // sketch aggregate and the exact top-100 probe — unpinned, each ran
    // its own full corpus bigram pass
    val counts = graft.ops.Model.pin(Tables.documents(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .select(explode(bigrams).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("cnt"))
      .withColumn("h40", call_function("rk_word_hash", col("wd"))))
    // two-round avalanche: a raw RK word hash is low-entropy in its low
    // bits, which would pile the vocabulary into few buckets and break
    // the ε = e/W error bound
    def bucket(d: Int) =
      pmod(RkLsh.mix2Col(RkLsh.cmA(d), RkLsh.cmB(d), col("h40")), lit(CM_W.toLong))
    def buckets(c: DataFrame, keep: org.apache.spark.sql.Column*): DataFrame =
      c.select(keep :+ explode(array((0 until CM_D).map(d =>
          struct(lit(d).as("d"), bucket(d).as("bkt"))): _*))
        .as("e"): _*)
        .select(keep :+ col("e.d") :+ col("e.bkt"): _*)
    // the sketch: Σ count per (row, bucket) — ≤ 4096 rows by construction
    val cm = buckets(counts, col("cnt"))
      .groupBy(col("d"), col("bkt")).agg(sum(col("cnt")).as("bc"))
    // probe the exact top-100 (deterministic (cnt desc, word) order)
    val top = counts.orderBy(col("cnt").desc, col("wd")).limit(100)
    buckets(top, col("wd"), col("cnt"))
      .join(broadcast(cm), Seq("d", "bkt"))
      .groupBy(col("wd"), col("cnt")).agg(min(col("bc")).as("est"))
  }

  private val apx3Oracle: String = {
    def arms(src: String): String = (0 until CM_D).map { d =>
      s"""SELECT wd, cnt,
         |       $d AS d, (${RkLsh.mix2Sql(RkLsh.cmA(d), RkLsh.cmB(d), "h40")}) % $CM_W AS bkt
         |FROM $src""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tw3 AS (SELECT string_split(text, ' ') AS w FROM documents),
       |tk3 AS (SELECT unnest(list_transform(range(1, len(w)),
       |                i -> array_to_string(w[i:i+1], ' '))) AS wd
       |        FROM tw3 WHERE len(w) >= 2),
       |wc3 AS (SELECT wd, CAST(count(*) AS BIGINT) AS cnt FROM tk3 GROUP BY wd),
       |wh3 AS (SELECT wd, cnt, ${RkLsh.wordSql} AS h40 FROM wc3),
       |bk3 AS (${arms("wh3")}),
       |cm3 AS (SELECT d, bkt, CAST(sum(cnt) AS BIGINT) AS bc FROM bk3 GROUP BY d, bkt),
       |tp3 AS (SELECT wd, cnt, h40 FROM wh3 ORDER BY cnt DESC, wd LIMIT 100),
       |pe3 AS (${arms("tp3")})
       |SELECT p.wd, p.cnt, min(c.bc) AS est
       |FROM pe3 p JOIN cm3 c USING (d, bkt)
       |GROUP BY p.wd, p.cnt""".stripMargin
  }

  /** GAP1 — time-series GAP FILL (forward fill onto a dense grid): per
    * user, an hourly grid spanning that user's event range, each grid
    * point carrying the latest event value at or before it — the
    * resample/align pass every time-series feature pipeline runs
    * before modeling, and the one windowing shape the w-series
    * (aggregate per window) does not cover: here windows with NO data
    * must still emit, carrying state forward.
    *
    * Shape: the grid generates from per-user (min, max) BOUNDS — one
    * output-sized aggregate — so grid volume is (time range ÷ step) ×
    * users, bounded by the CLOCK and the key cardinality, not by event
    * count; the fill is one union + one per-user window pass
    * (`last(value, ignoreNulls)` over rows-unbounded-preceding), with
    * partition size = events/user + grid/user — at 100 TB keys
    * partition across executors like any keyed window, and a per-key
    * partition is range-bounded (ScaleGen mirrors production: replicas
    * add USERS, not per-user density). Events order before the grid
    * point at identical ts (is_grid tie-break), ties among events
    * resolve by event_id — both mirrored in the oracle's ORDER BY.
    * Value doubles are CARRIED, never computed on, so the hash compare
    * is bit-exact; leading grid hours before a user's first event stay
    * NULL on both engines. */
  def gap1ForwardFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))
    val grid = ev.groupBy(col("user_id"))
      .agg(date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("ts"))
    val unioned = ev
      .select(col("user_id"), col("ts"), col("value"),
        lit(0).as("is_grid"), col("event_id"))
      .union(grid.select(col("user_id"), col("ts"),
        lit(null).cast("double").as("value"),
        lit(1).as("is_grid"), lit(Long.MaxValue).as("event_id")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_grid"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the per-hour event count rides a SECOND window over the SAME
    // unioned stream instead of a separate groupBy + left join
    // (optimization r13): HashPartitioning(user_id) from the fill
    // window satisfies ClusteredDistribution(user_id, hour), so this
    // adds only a local re-sort — no exchange — while the join form
    // paid a third events scan, its aggregation exchange, and the
    // (user_id, ts) join exchange. A grid row's ts IS its hour, so
    // counting is_grid=0 rows in its (user_id, hour) frame is exactly
    // the hour's event count (0 when the hour is empty — sum of the
    // grid row's own 0 indicator, matching the join form's coalesce).
    val wh = Window.partitionBy(col("user_id"), date_trunc("hour", col("ts")))
    val filled = unioned
      .withColumn("value_filled", last(col("value"), ignoreNulls = true).over(w))
      .withColumn("n_events",
        sum(lit(1L) - col("is_grid")).over(wh))
      .filter(col("is_grid") === 1)
    filled.select(col("user_id"),
      date_format(col("ts"), SEC).as("grid_ts"),
      col("value_filled"),
      col("n_events"))
  }

  private val gap1Oracle: String =
    s"""WITH ev AS (SELECT user_id, ts, value, event_id FROM events),
       |b AS (SELECT user_id, date_trunc('hour', min(ts)) AS h0,
       |             date_trunc('hour', max(ts)) AS h1
       |      FROM ev GROUP BY user_id),
       |g AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS ts
       |      FROM b),
       |u AS (SELECT user_id, ts, value, 0 AS is_grid, event_id FROM ev
       |      UNION ALL
       |      SELECT user_id, ts, NULL, 1, 9223372036854775807 FROM g),
       |f AS (SELECT user_id, ts, is_grid,
       |        last_value(value IGNORE NULLS) OVER (
       |          PARTITION BY user_id ORDER BY ts, is_grid, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
       |      FROM u),
       |hc AS (SELECT user_id, date_trunc('hour', ts) AS h,
       |              CAST(count(*) AS BIGINT) AS n_events
       |       FROM ev GROUP BY 1, 2)
       |SELECT f.user_id, strftime(f.ts, '$DUCK_SEC') AS grid_ts,
       |       f.value_filled, coalesce(hc.n_events, CAST(0 AS BIGINT)) AS n_events
       |FROM f LEFT JOIN hc ON hc.user_id = f.user_id AND hc.h = f.ts
       |WHERE f.is_grid = 1""".stripMargin

  /** AN1 — per-user z-score ANOMALY flags in EXACT integer arithmetic:
    * an event is anomalous when |value − μ_user| > 2σ_user (population
    * σ). Computing that with float mean/stddev is not
    * cross-engine-stable (Welford vs naive summation disagree in the
    * last ulps, and a boundary event flips); instead the test squares
    * out to pure integers on cents c with per-user (n, S=Σc, Q=Σc²) —
    * the common n² denominator of (c−S/n)² and σ² cancels:
    *
    *     (c·n − S)² > 4·(n·Q − S²)
    *
    * — both sides exact in DECIMAL(38,0) (Spark) ↔ HUGEINT (DuckDB),
    * the q1 widening precedent. At the test SFs longs would actually
    * suffice (ScaleGen adds USERS, not per-user density, so n stays
    * ~10²-10³ per key), but the widening is the production contract: a
    * power-user key with n ~ 1e7 events at ~1e6 cents pushes (cn−S)²
    * past 1e26 — silent-wrap territory where a long test flags
    * garbage. σ = 0 degenerates correctly (lhs = 0 — no flags); k is a
    * tunable of the squared form (k²·(nQ−S²), integer for rational
    * k).
    *
    * Shape (100 TB): ONE exchange on user_id — the stats are window
    * aggregates over the user partition (bounded by per-user activity,
    * the gap1 argument), flags are a narrow map, and the final per-user
    * rollup reuses the window's hash partitioning (no second
    * exchange). */
  def an1ZscoreAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(col("user_id"))
    val st = Tables.events(spark, dir)
      .select(col("user_id"), Exact.cents(col("value")).as("c"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("c")).over(w))
      .withColumn("q", sum(col("c").cast(dec) * col("c")).over(w))
    val cd = col("c").cast(dec); val nd = col("n").cast(dec)
    val sd = col("s").cast(dec)
    val dev = cd * nd - sd
    val lhs = dev * dev
    val rhs = lit(4).cast(dec) * (nd * col("q") - sd * sd)
    st.withColumn("anom", (lhs > rhs).cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("anom")).as("n_anomalies"))
  }

  private val an1Oracle =
    s"""WITH e AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS c
       |           FROM events),
       |st AS (SELECT user_id, c,
       |         count(*) OVER w AS n,
       |         sum(c) OVER w AS s,
       |         sum(CAST(c AS HUGEINT) * c) OVER w AS q
       |       FROM e WINDOW w AS (PARTITION BY user_id)),
       |fl AS (SELECT user_id,
       |         CASE WHEN (CAST(c AS HUGEINT) * n - s) * (CAST(c AS HUGEINT) * n - s)
       |                > 4 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
       |              THEN 1 ELSE 0 END AS anom
       |       FROM st)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(sum(anom) AS BIGINT) AS n_anomalies
       |FROM fl GROUP BY user_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("ext1_dot_rewrite", ext1DotRewrite, Some(ext1Oracle)),
    Q("an1_zscore_anomaly", an1ZscoreAnomaly, Some(an1Oracle)),
    Q("gap1_forward_fill", gap1ForwardFill, Some(gap1Oracle)),
    Q("apx1_hll_distinct", apx1HllDistinct, Some(apx1Oracle)),
    Q("apx2_percentile", apx2Percentile, Some(apx2Oracle)),
    Q("apx3_count_min", apx3CountMin, Some(apx3Oracle)),
    Q("ws1_session_window", ws1SessionWindow, Some(ws1Oracle)),
    Q("aj1_asof_join", aj1AsOfJoin, Some(aj1Oracle)),
    Q("aj2_asof_custom", aj2AsofCustom, Some(aj1Oracle)),
    Q("rj1_range_join", rj1RangeJoin, Some(rj1Oracle)),
    Q("rj2_range_count", rj2RangeCount, Some(rj1Oracle)),
    Q("mm3_frame_sample", mm3FrameSample, Some(mm3Oracle)),
    Q("a13_salted_agg", a13SaltedAgg, Some(a13Oracle)),
    Q("sql1_sql_interface", sql1SqlInterface, Some(sql1Oracle)),
    Q("z1_zorder_layout", z1ZorderLayout, Some(z1Oracle)))
}
