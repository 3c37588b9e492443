package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark query plus (when SQL-expressible) a
  * DuckDB oracle over the same tables. Conventions that keep the driver's
  * column-sorted value-hash compare stable across engines:
  *   - every computed double is `round(x, 6)` on BOTH sides;
  *   - every timestamp output column is formatted to a string on BOTH
  *     sides (`Fmt.SEC`/`Fmt.MICRO` vs strftime `%Y-%m-%d %H:%M:%S[.%f]`);
  *   - DuckDB integer SUMs are cast to BIGINT (DuckDB widens to HUGEINT);
  *   - identical output column names on both sides.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Fmt {
  val SEC = "yyyy-MM-dd HH:mm:ss"
  val MICRO = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  val DUCK_SEC = "%Y-%m-%d %H:%M:%S"
  val DUCK_MICRO = "%Y-%m-%d %H:%M:%S.%f"
}

/** Broadcast guard for CORPUS-DERIVED model tables (bigram/unigram
  * counts, vocabularies, boilerplate chunk sets). These grow with the
  * corpus, so an unconditional `broadcast()` hint is an
  * OOM-by-construction at a 100-TB vocabulary (the 8 GB broadcast hard
  * cap, hit at build time) — but leaving the join entirely to the
  * planner is not free either: static estimates at scale pick
  * SortMergeJoin and AQE was MEASURED not converting back (lm1 at
  * sf10: two full sorts of the 30M-row pair stream). The guard is the
  * middle path the round-3 advice proposed: ONE count job on the
  * already-aggregated table (map-side partials; the driver sees a
  * single long) decides — provably small tables broadcast (zero
  * probe-side shuffle), anything past the threshold falls back to the
  * planner's shuffle join. `graft.model.broadcast.maxEntries` sets the
  * threshold; 0 disables broadcasting entirely (PlanSpec uses this to
  * pin the fallback shape and result-equality). */
object Model {
  val MaxEntries = graft.Setting.long("graft.model.broadcast.maxEntries", Some(4000000L))

  /** Model tables the guard has persisted for the query being built.
    * The guard's count() is an ACTION, so without caching the
    * corpus-derived aggregate it guards would execute twice — once for
    * the count job and again inside the real join (measured round 4:
    * lm1 built its bigram AND unigram tables twice, tok1/cooc1/dd6 one
    * extra corpus pass each — 1-2 redundant full-corpus passes per
    * guarded query at 100 TB). Persisting before the count makes the
    * count job the ONE materialization and the join a cache read.
    * persist (recompute-on-executor-loss) rather than localCheckpoint
    * (which is fail-on-loss, wrong default for a 1000-executor run).
    *
    * Pins are query-owned: every [[pin]]/[[fits]] records a reference
    * for the calling thread (the thread that builds and consumes a
    * query), and [[release]] drops only that thread's references. A
    * plan is unpersisted when its last reference goes, so one query's
    * release never evicts a table another query running in the same
    * session still reads. A plan some other owner cached (a model
    * registry's table) is not referenced here and never unpersisted. */
  private val live = scala.collection.mutable.ArrayBuffer.empty[(Thread, DataFrame)]

  private def sharesPlan(a: DataFrame, b: DataFrame): Boolean =
    a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)

  /** persist `df` unless Spark already caches its plan, and record a
    * reference for the calling thread when this call persisted it or
    * a query's pin already holds the plan; true when it persisted */
  private def hold(df: DataFrame): Boolean = synchronized {
    // storageLevel does a semantic CacheManager lookup: back-to-back
    // reps of the same query (Bench's warm medians run with no
    // release between reps, by design — the later reps measure the
    // serve path) rebuild a semantically-equal plan, and re-persisting
    // it would only log "Asked to cache already cached data"
    val fresh = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (fresh) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (fresh || live.exists { case (_, d) => sharesPlan(d, df) })
      live += (Thread.currentThread -> df)
    fresh
  }

  /** true when the model table is provably broadcast-safe; as a side
    * effect the table is persisted (and referenced until [[release]])
    * so the deciding count job doubles as its only materialization */
  def fits(df: DataFrame): Boolean = {
    val max = MaxEntries(df.sparkSession)
    max > 0 && { hold(df); df.count() <= max }
  }

  def guardedBroadcast(df: DataFrame): DataFrame =
    if (fits(df)) org.apache.spark.sql.functions.broadcast(df) else df

  /** the broadcast-or-shuffle decision for a table whose cardinality
    * the caller ALREADY knows (a registry-held model table counted at
    * training time) — no persist, no count job, and crucially no
    * registration with [[release]], which would evict a long-lived
    * registry table after the first query that used it */
  def guardedBroadcastKnown(df: DataFrame, rows: Long): DataFrame = {
    val max = MaxEntries(df.sparkSession)
    if (max > 0 && rows <= max) org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Pin a WITHIN-QUERY shared intermediate: persist + register for
    * [[release]] + one eager count as the single deterministic
    * materialization. For frames a query references more than once
    * (cur2's winners/banded), Catalyst re-plans each reference as its
    * own subtree — column pruning makes the copies non-identical, so
    * exchange reuse cannot always dedupe them, and each extra copy is
    * a full corpus pass at scale (measured in cur2's plan: the
    * gate→dedup→decontaminate chain three times, 11 documents scans).
    * Unlike [[fits]] this makes no broadcast decision — the planner
    * reads the cached relation's ACCURATE size stats and picks
    * broadcast sides better than the static estimates it replaces.
    * The count runs at query-construction time, inside the bench's
    * timed window, and warm reps reuse the pinned table exactly like
    * every registry model table (the serve path). */
  def pin(df: DataFrame): DataFrame = {
    if (hold(df)) df.count()
    df
  }

  /** drop the calling thread's references and unpersist each plan
    * whose last reference that was — the harness invokes this between
    * queries, after the terminal action that consumed the cached
    * table */
  def release(): Unit = synchronized {
    val (mine, others) = live.partition(_._1 eq Thread.currentThread)
    live.clear()
    live ++= others
    for ((_, df) <- mine if !others.exists { case (_, d) => sharesPlan(d, df) })
      try df.unpersist(false) catch { case _: Throwable => () }
  }
}

/** Exact cross-engine arithmetic for compared columns.
  *
  * Floating aggregation is bit-identical across engines only by luck:
  * summation order differs (≈1e-12 relative error — fatal once |sum|
  * passes 1e9 where the double ulp crosses the round-6 step), and even
  * on IDENTICAL inputs the two engines' round() implementations can
  * disagree when a quotient's exact decimal terminates at the boundary
  * digit (systematic for power-of-two counts). Three rules fix every
  * case:
  *
  *  1. sums of ≤2-decimal inputs aggregate as integer CENTS — exact,
  *     order-independent, bit-identical;
  *  2. mean-type columns divide in scaled integer space and truncate
  *     (`floor`), never `round` — floor of identical doubles is
  *     unambiguous;
  *  3. irrational-valued scores (cosines) floor-scale at 1e-6 instead
  *     of rounding, for the same reason.
  *
  * DuckDB mirrors: `CAST(round(x*100) AS BIGINT)`,
  * `floor(sum_cents * 10000 / c) / 1000000`, `floor(x*1000000)/1000000`.
  */
object Exact {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** exact integer cents of an (at most) 2-decimal double column */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** cents sum back to a value column (exact multiples of 0.01) */
  def fromCents(sumCents: Column): Column = sumCents.cast("double") / 100

  /** truncating mean of a cents sum over a count, at 1e-6 granularity */
  def centsMean(sumCents: Column, cnt: Column): Column =
    when(cnt > 0, floor(sumCents * 10000 / cnt) / 1e6).otherwise(0.0)

  /** truncating ratio of two integer columns at 1e-6 granularity */
  def intRatio(num: Column, den: Column): Column =
    when(den > 0, floor(num * 1000000L / den) / 1e6).otherwise(0.0)

  /** floor-scale an already-identical double (e.g. a cosine) at 1e-6 */
  def floorE6(c: Column): Column = floor(c * 1000000L) / 1e6

  /** Spark/DuckDB-compatible STRING order for driver-side model
    * state: both engines compare strings as UTF-8 bytes, but Scala's
    * `.sorted` compares UTF-16 code units — for supplementary-plane
    * characters (surrogate pairs 0xD800-0xDFFF sort below 0xE000+ in
    * UTF-16, above in UTF-8) the two orders DISAGREE, so a collected
    * dictionary sorted with the default Ordering can assign integer
    * codes whose min() decodes to a different string than the
    * engines' min(string). Every driver-held string ranking that
    * must agree with an engine-side ORDER BY goes through this. */
  val utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    var r = 0
    while (r == 0 && i < n) {
      r = (x(i) & 0xff) - (y(i) & 0xff)
      i += 1
    }
    if (r != 0) r else x.length - y.length
  }
}
