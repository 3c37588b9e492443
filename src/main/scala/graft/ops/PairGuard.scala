package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stats-driven guard for the pair-expansion operators: the declared
  * quadratics (dd4 exact-Jaccard pairs, dd5 all-pairs cosine, rj1
  * interval-join pairs — and cc1, which consumes dd4's pair stage) AND
  * the banded candidate family (dd2 MinHash-LSH, dd3 SimHash — and
  * cc2, which consumes dd2's pairs), whose SCAN is linear but whose
  * candidate expansion is Σ|bucket|² over band buckets: a
  * boilerplate-heavy corpus produces dense buckets without any
  * adversarial input, and the detonation class is identical.
  *
  * The declared operators are quadratic BY DECLARED ROLE — their
  * output (or intermediate pair stream) is the pair set itself, and
  * each has a registered linear counterpart (dd2/cc2, dd7/sim6, rj2).
  * Until round 12 that routing was a documentation convention; the
  * as-of join's skew dispatch (plans/AsofJoin.scala) set the repo's
  * bar that routing must be a MECHANISM. Results here differ across
  * forms (pairs vs clusters vs counts), so the guard cannot re-plan
  * the way the as-of dispatch does — what it CAN do mechanically is
  * estimate the pair expansion before the plan detonates and warn
  * (default) or refuse (`fail`), naming the linear (or bucket-capped)
  * counterpart. The estimate comes from a sampled per-key frequency
  * scan with the same cost bounds as the as-of probe:
  *
  *  - STATS FLOOR (`graft.pairs.minBytes`, 16 MB): inputs whose
  *    pre-expansion scan is smaller skip the probe entirely — a pair
  *    join over megabytes cannot hurt more than the probe that would
  *    measure it, so driver SFs pay exactly nothing;
  *  - SAMPLED ESTIMATE (`graft.pairs.sampleFraction`, 0.05): each row
  *    survives independently with probability f, so a pair of rows
  *    survives with f² — `E[c'(c'−1)] = f²·c(c−1)` per key and
  *    `E[l'·r'] = f²·l·r` across sides make `Σ c'(c'−1)/(2f²)` and
  *    `Σ l'r'/f²` UNBIASED estimators of the self-join and two-sided
  *    expansions (at f=1 they are exact, which is what the spec pins);
  *  - MEMO on the keyed plans' semantic hashes + confs: warm bench
  *    reps and serving loops rebuild the same plan and reuse the
  *    estimate — the decision is advisory, so staleness is harmless.
  *
  * The guard never changes results: `warn` logs and proceeds, `off`
  * skips, and `fail` throws BEFORE execution with the counterpart in
  * the message. Reference scope note: the reference app has no pair
  * operators at all (faust_app/ma_agg.py is a windowed aggregator);
  * this family and its guard exist for the training-data-pipeline
  * surface, where "report all near-dup pairs" on a dense key is the
  * classic 100 TB detonation.
  */
object PairGuard {

  /** `warn` (default) — estimate past the floor, log when over the
    * cap, proceed; `fail` — throw instead of proceeding; `off` — never
    * probe. */
  val Guard = graft.Setting.choice("graft.pairs.guard", "warn", "fail", "off")
  /** expansion-row cap the estimate is compared against; ~2e9 pair
    * rows is ~50 GB of narrow pair stream — past the point the linear
    * counterpart is unambiguously the right plan */
  val MaxExpandRows = graft.Setting.long("graft.pairs.maxExpandRows", Some(2_000_000_000L))
  /** probe sample fraction (rows survive independently — see the
    * unbiasedness note above); 1.0 makes the estimate exact, ≤ 0 never probes */
  val SampleFraction =
    graft.Setting.double("graft.pairs.sampleFraction", Some(0.05), max = 1.0)
  /** pre-expansion inputs under this many bytes (optimizer stats)
    * never probe. 16 MB — deliberately LOWER than the as-of probe's
    * 64 MB floor, because a pair operator's damage is not proportional
    * to its input bytes the way a join straggler's is: the sf10
    * fixture's 57 MB documents table detonates dd4 to ~456 s (measured,
    * guard=fail dry run with the old 64 MB floor silently skipping),
    * while the probe on the same input is a single shingle scan. The
    * driver's oracle SFs stay under 16 MB (sf1 documents = 5.9 MB), so
    * the correctness gates still never probe. */
  val MinBytes = graft.Setting.long("graft.pairs.minBytes", Some(16L << 20))

  private val log = org.slf4j.LoggerFactory.getLogger("graft.PairGuard")

  /** estimate memo: semantic plan hashes + confs → estimated rows.
    * Bounded LRU, same shape as the as-of probe memo. */
  private val memo = new KeyedCache[Long](64)

  /** Saturating Double→Long for the estimate: the per-key products are
    * summed as DOUBLE (a LongType sum wraps silently in non-ANSI mode —
    * a single hot key past ~3e9 sampled rows would turn the estimate
    * NEGATIVE and silently approve exactly the worst-case plan; advice
    * r12). Precision loss is irrelevant for an advisory estimate, and
    * a double beyond Long range saturates to MaxValue, which is
    * over any cap. A negative value (impossible from sums of
    * non-negative doubles, kept as defense) saturates the same way. */
  private def toEstimate(d: Double): Long =
    if (d < 0 || d > Long.MaxValue.toDouble) Long.MaxValue else d.toLong

  /** Guard a self-join expansion: `keyed` must expose column `key`;
    * the plan being guarded joins rows sharing a key value with an
    * `id_a < id_b` (or equivalent half-matrix) condition, i.e. exactly
    * Σ_k C(c_k, 2) expanded rows. `floorOn` is the PRE-expansion
    * input (the table scan the probe would re-read) for the stats
    * floor. */
  def guardSelf(query: String, counterpart: String,
      floorOn: DataFrame, keyed: DataFrame, key: String): Unit =
    guardSelfOf(query, counterpart, floorOn, keyed, key)(identity)

  /** Guard a self-join expansion whose bucket key is DERIVED from the
    * base rows by a non-trivial pipeline (the banded family: dd2's
    * MinHash banding, dd3's SimHash chunking). The probe samples the
    * BASE rows first and builds the bucket keys only for the sample,
    * so a 5% probe pays 5% of the signature scan — sampling the built
    * keyed frame instead would pay the full pipeline just to measure
    * it.
    *
    * Estimator contract: `buildKeyed(base)` must emit AT MOST ONE row
    * per (base row, bucket) — true for banding, where a doc emits one
    * row per band and a bucket key includes the band index. Then two
    * distinct rows of one bucket always come from distinct base rows,
    * each surviving independently with probability f, so
    * `E[c'(c'−1)] = f²·c(c−1)` per bucket and `Σ c'(c'−1)/(2f²)` stays
    * the unbiased estimator `guardSelf` uses (exact at f=1). */
  def guardSelfOf(query: String, counterpart: String, floorOn: DataFrame,
      base: DataFrame, key: String)(buildKeyed: DataFrame => DataFrame): Unit =
    guard(query, counterpart, floorOn,
        // fold the (unsampled) keyed plan's semantic hash into the memo
        // key: the memo must not survive a changed key derivation under
        // the same base (advice r12) — analysis only, nothing executes
        extraMemo = buildKeyed(base).queryExecution.analyzed
          .semanticHash().toString) { (f, seed) =>
      val sampled =
        if (f >= 1.0) base
        else base.sample(withReplacement = false, f, seed)
      val p2 = buildKeyed(sampled).select(col(key).as("k"))
        .filter(col("k").isNotNull)
        .groupBy(col("k")).count()
        .agg(sum(col("count").cast("double") * (col("count") - 1)).as("p2"))
        .collect()(0)
      if (p2.isNullAt(0)) 0L
      else toEstimate(p2.getDouble(0) / (2.0 * f * f))
    }

  /** Guard a two-sided keyed-join expansion (Σ_k l_k·r_k): both frames
    * must expose column `key`. */
  def guardCross(query: String, counterpart: String, floorOn: DataFrame,
      leftKeyed: DataFrame, rightKeyed: DataFrame, key: String): Unit =
    guard(query, counterpart, floorOn,
        extraMemo = leftKeyed.queryExecution.analyzed.semanticHash().toString +
          ":" + rightKeyed.queryExecution.analyzed.semanticHash().toString) {
      (f, seed) =>
        def counts(df: DataFrame, seed: Long) = df.select(col(key).as("k"))
          .filter(col("k").isNotNull)
          .sample(withReplacement = false, f, seed)
          .groupBy(col("k")).count()
        val prod = counts(leftKeyed, seed).as("l")
          .join(counts(rightKeyed, seed + 1).as("r"), "k")
          .agg(sum(col("l.count").cast("double") * col("r.count")).as("p"))
          .collect()(0)
        if (prod.isNullAt(0)) 0L
        else toEstimate(prod.getDouble(0) / (f * f))
    }

  private def guard(query: String, counterpart: String, floorOn: DataFrame,
      extraMemo: String = "")(estimate: (Double, Long) => Long): Unit = {
    val spark = floorOn.sparkSession
    val mode = Guard(spark)
    if (mode == "off") return
    val f = SampleFraction(spark)
    if (f <= 0) return
    val minBytes = MinBytes(spark)
    if (floorOn.queryExecution.optimizedPlan.stats.sizeInBytes <
        BigInt(minBytes)) return
    val cap = MaxExpandRows(spark)
    val memoKey = Seq(query,
      floorOn.queryExecution.analyzed.semanticHash(), extraMemo, f, cap)
      .mkString("|")
    val est = memo.getOrBuild(floorOn.sparkSession, memoKey)(estimate(f, 421L))
    if (est > cap) {
      val msg = s"pair-expansion guard: $query estimates ~$est expanded " +
        s"pair rows (> ${MaxExpandRows.key}=$cap). This operator enumerates " +
        s"pairs by declared role; at this scale the linear counterpart is " +
        s"$counterpart. Set ${Guard.key}=off to silence, =fail to refuse."
      if (mode == "fail") throw new IllegalStateException(s"[graft] $msg")
      log.warn(msg)
      System.err.println(s"[graft] WARN $msg")
    }
  }

  /** test seam: the memoized estimate for a query, if one was computed */
  private[graft] def lastEstimate(query: String): Option[Long] =
    memo.snapshot.collectFirst {
      case (k, v) if k.startsWith(query + "|") => v
    }
}
