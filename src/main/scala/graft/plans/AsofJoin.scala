package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}

/** Logical as-of (temporal backward) join — the whole-operator custom
  * plan node of this library (design-preference rung (c): a semantics
  * Spark's built-ins can only approximate by expansion).
  *
  * Semantics: for every left row, the single right row with equal keys
  * and the greatest `rightTime <= leftTime`, ties broken by the
  * greatest `rightTieBreak`; unmatched left rows drop (or null-pad
  * with `leftOuter`). Null keys/times never match, consistent with SQL
  * equi-joins. This is the reference aj1 semantics (latest order
  * at-or-before each event) as ONE operator: the compositional form
  * joins every event to its ENTIRE order history and ranks it away
  * (`row_number`/`max_by` over an O(orders-per-key) expansion);
  * [[AsofJoinExec]] never materializes the expansion at all.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    leftOuter: Boolean) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

object AsofJoin {

  /** dispatch mode: `auto` (default — sampled skew probe picks the
    * plan), `merge` (force plain [[AsofJoinExec]]), `salt` (force the
    * hot-key-salted exec on EVERY key — the stress/test form), `expand`
    * (force the compositional splittable form) */
  val Dispatch = graft.Setting.choice("graft.asof.dispatch", "auto", "merge", "salt", "expand")
  /** auto mode's sample fraction for the key-frequency probe; `0`
    * disables the probe (auto then behaves like `merge`) */
  val SampleFraction = graft.Setting.double(
    "graft.asof.skew.sampleFraction", Some(0.05), max = 1.0)
  /** auto mode's routing threshold: a key holding at least this
    * fraction of EITHER side's sampled rows is treated as hot and
    * salted across [[Salts]] sub-partitions */
  val MaxKeyFraction = graft.Setting.double("graft.asof.skew.maxKeyFraction", Some(0.1))
  /** a side whose sample is smaller than this is treated as not skewed
    * — a few dozen sampled rows make max/sum pure noise, and an input
    * that small cannot produce a straggler worth re-planning for */
  val MinSampleRows = graft.Setting.long("graft.asof.skew.minSampleRows", Some(1000L))
  /** how many sub-partitions a hot key's left rows spread over (its
    * right history is replicated into each); default = the session's
    * default parallelism at plan time */
  val Salts = graft.Setting.int("graft.asof.skew.salts", None, min = 1)
  /** inputs whose larger side is under this many bytes (optimizer
    * stats) skip the probe entirely: a hot key in a table this small
    * costs at most ~a second of straggle — less than the probe scan
    * that would detect it. 64 MB default; the sf10 fixture (205 MB
    * events) where the straggler measurably doubles the query still
    * probes. */
  val MinBytes = graft.Setting.long("graft.asof.skew.minBytes", Some(64L << 20))
  private val MaxHotKeys = 16 // isin() list bound; top-N by sampled count

  /** probe memo: (semantic plan hashes, keys, confs) → hot keys. A
    * serving loop or a warm bench rep rebuilds the SAME plan every
    * call and would re-pay the probe scan each time (measured: +1.4 s
    * on sf10's 10M-row events per build). Staleness (same plan, new
    * files underneath) only re-uses a salt DECISION — results are
    * salt-invariant — so a bounded memo is safe. */
  private val probeCache = new graft.ops.KeyedCache[Seq[Any]](64)

  /** Column-name builder: resolves against the inputs' analyzed plans,
    * so the node enters the analyzer fully resolved. Key and time
    * columns must be pairwise type-identical (cast beforehand) — the
    * merge compares them with one natural ordering per pair.
    *
    * SKEW DISPATCH (the round-11 finding made a mechanism): the
    * sort-merge [[AsofJoinExec]] is the O(1)-memory fast path, but a
    * custom exec is INVISIBLE to AQE's OptimizeSkewedJoin — it matches
    * only the built-in join nodes — so a hot key serializes that key's
    * whole merge into one task. Routing by documentation is not a
    * mechanism, so `join()` (mode `auto`, the default) probes BOTH
    * sides' sampled key frequency (one narrow side-tagged union scan
    * at [[SampleFraction]], fixed seed) and, when hot keys emerge,
    * plans the SALTED exec: a salt column becomes an extra join key —
    * a hot key's LEFT rows spread round-robin over [[Salts]]
    * sub-partitions while its RIGHT history (one key's history — small
    * by nature) is replicated into each, so every sub-partition runs
    * the exact per-key merge on a time-slice of probes against the
    * full history. Same O(1)-memory exec, no straggler, no expansion:
    * measured on the factor-300 60%-hot-key fixture the salted exec
    * runs at uniform speed while the plain exec pays the straggler
    * (SCALE.md round 12). The compositional [[expanded]] form (AQE-
    * splittable but SortAggregate-bound — its generic max_by buffers
    * are struct-typed, which forfeits hash aggregation) remains as the
    * forced `expand` mode. Every form shares one oracle and emits
    * identical columns, so dispatch can never change results — only
    * the straggler profile. Deployments that know their key
    * distribution skip the probe with [[Dispatch]]=merge|salt|expand. */
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String] = Nil,
      leftOuter: Boolean = false): DataFrame = {
    requireCompatible(left, right, leftKey, rightKey, leftTime, rightTime)
    val spark = SparkSession.active
    Dispatch(spark) match {
      case "merge" =>
        mergePlan(spark, left, right, leftKey, rightKey, leftTime,
          rightTime, rightTieBreak, leftOuter)
      case "expand" =>
        expanded(left, right, leftKey, rightKey, leftTime, rightTime,
          rightTieBreak, leftOuter)
      case "salt" =>
        salted(spark, left, right, leftKey, rightKey, leftTime, rightTime,
          rightTieBreak, leftOuter, hotOnly = None)
      case "auto" =>
        val hot = sampledHotKeys(spark, left, leftKey, right, rightKey)
        if (hot.isEmpty)
          mergePlan(spark, left, right, leftKey, rightKey, leftTime,
            rightTime, rightTieBreak, leftOuter)
        else
          salted(spark, left, right, leftKey, rightKey, leftTime, rightTime,
            rightTieBreak, leftOuter, hotOnly = Some(hot))
    }
  }

  private def requireCompatible(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): Unit = {
    val (lk, rk) = (resolve(left, leftKey), resolve(right, rightKey))
    val (lt, rt) = (resolve(left, leftTime), resolve(right, rightTime))
    require(lk.dataType == rk.dataType,
      s"asof join: key types differ: ${lk.dataType} vs ${rk.dataType}")
    require(lt.dataType == rt.dataType,
      s"asof join: time types differ: ${lt.dataType} vs ${rt.dataType}")
  }

  private def resolve(df: DataFrame, n: String): Attribute =
    df.queryExecution.analyzed.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"asof join: no column '$n' in [${df.columns.mkString(", ")}]"))

  /** the plain custom-exec plan on the given frames, keys possibly
    * composite (the salted path adds its salt column to both sides) */
  private def mergePlan(spark: SparkSession, left: DataFrame,
      right: DataFrame, leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String], leftOuter: Boolean,
      extraLeftKeys: Seq[String] = Nil,
      extraRightKeys: Seq[String] = Nil): DataFrame = {
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def res(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asof join: no column '$n' in [${p.output.map(_.name).mkString(", ")}]"))
    GraftExtensions.install(spark)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      AsofJoin(lp, rp,
        (leftKey +: extraLeftKeys).map(res(lp, _)),
        (rightKey +: extraRightKeys).map(res(rp, _)),
        res(lp, leftTime), res(rp, rightTime),
        rightTieBreak.map(res(rp, _)), leftOuter))
  }

  /** The hot-key-salted exec plan — in-exec skew mitigation in the
    * composition layer: `salt` joins as an EXTRA key, so the exec's
    * required clustering spreads a hot key's left rows over `salts`
    * sub-partitions while `explode` replicates that key's right
    * history into each (a single key's history is small by nature —
    * the replication is `salts × |history|` rows, not a join
    * expansion). Each sub-partition then runs the exact per-key merge
    * on a time-slice of left rows against the FULL history, so
    * results are bit-identical to the plain exec for ANY salt
    * assignment — which is why the nondeterministic
    * monotonically_increasing_id is a safe round-robin source.
    * `hotOnly = None` salts every key (the forced stress form);
    * `Some(keys)` salts just the probed hot keys and leaves cold keys
    * on salt 0 (no replication for them at all). */
  private def salted(spark: SparkSession, lhs: DataFrame, rhs: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String], leftOuter: Boolean,
      hotOnly: Option[Seq[Any]]): DataFrame = {
    import org.apache.spark.sql.functions._
    val salts = Salts.get(spark).getOrElse(spark.sparkContext.defaultParallelism)
    val saltL = "__graft_asof_salt_l"
    val saltR = "__graft_asof_salt_r"
    def isHot(c: org.apache.spark.sql.Column) =
      hotOnly.fold(lit(true))(ks => c.isin(ks: _*))
    val l2 = lhs.withColumn(saltL,
      when(isHot(col(leftKey)),
        pmod(monotonically_increasing_id(), lit(salts.toLong)))
        .otherwise(lit(0L)))
    val r2 = rhs.withColumn(saltR, explode(
      when(isHot(col(rightKey)), sequence(lit(0L), lit(salts - 1L)))
        .otherwise(array(lit(0L)))))
    mergePlan(spark, l2, r2, leftKey, rightKey, leftTime, rightTime,
      rightTieBreak, leftOuter,
      extraLeftKeys = Seq(saltL), extraRightKeys = Seq(saltR))
      .drop(saltL, saltR)
  }

  /** auto-dispatch probe: the keys holding at least
    * [[MaxKeyFraction]] of either side's sampled rows (top
    * [[MaxHotKeys]] by sampled count — an isin() list, so it must stay
    * small; anything past the top 16 is not "a hot key", it is a flat
    * distribution). One job — a union of the two key columns
    * (side-tagged), fixed-seed sample, map-side-combined count. The
    * scan reads ONE column per side with pushdown; at 100 TB that cost
    * is real but bounded and paid once per plan build — callers that
    * already know the answer set [[Dispatch]] and never probe.
    * Sides whose sample is under [[MinSampleRows]] report no hot
    * keys (noise guard); null keys are never hot (they never match). */
  private def sampledHotKeys(spark: SparkSession,
      lhs: DataFrame, leftKey: String,
      rhs: DataFrame, rightKey: String): Seq[Any] = {
    val f = SampleFraction(spark)
    if (f <= 0) return Nil
    val (minRows, thr, minBytes) =
      (MinSampleRows(spark), MaxKeyFraction(spark), MinBytes(spark))
    // stats floor: both sides too small for a straggler to matter →
    // the probe scan would cost more than the skew it guards against
    val lStats = lhs.queryExecution.optimizedPlan.stats.sizeInBytes
    val rStats = rhs.queryExecution.optimizedPlan.stats.sizeInBytes
    if (lStats.max(rStats) < BigInt(minBytes)) return Nil
    val memoKey = Seq(lhs.queryExecution.analyzed.semanticHash(),
      rhs.queryExecution.analyzed.semanticHash(),
      leftKey, rightKey, f, thr, minRows).mkString("|")
    probeCache.getOrBuild(lhs.sparkSession, memoKey) {
      import org.apache.spark.sql.functions._
      val bySide = org.apache.spark.sql.expressions.Window.partitionBy(col("side"))
      val hot = lhs.select(col(leftKey).as("k"), lit(0).as("side"))
        .unionAll(rhs.select(col(rightKey).as("k"), lit(1).as("side")))
        .sample(withReplacement = false, f, seed = 421)
        .groupBy(col("side"), col("k")).count()
        .withColumn("tot", sum(col("count")).over(bySide))
        .filter(col("k").isNotNull && col("tot") >= minRows &&
          col("count") >= col("tot") * thr)
        .orderBy(col("count").desc)
        .select(col("k")).limit(MaxHotKeys)
        .collect().map(_.get(0)).toSeq.distinct
      hot
    }
  }

  /** The compositional as-of form — equi-join expansion ranked away by
    * a per-left-row max_by — with EXACTLY [[AsofJoinExec]]'s semantics
    * and output columns (left ++ right, null-padded under `leftOuter`,
    * greatest (rightTime, tieBreak) wins, null keys/times never
    * match). Slower on uniform keys (it materializes the per-key
    * history expansion through a shuffle), but the aggregation keys on
    * a synthetic per-left-row id, NOT the join key, so the join output
    * partitioning is unpinned and AQE's OptimizeSkewedJoin splits a
    * hot key's partition — the mechanism the custom exec can never
    * reach (it is not a built-in join node). Mirrors the aj1 plan
    * shape (ops/Extended.scala) generalized to arbitrary schemas. */
  private def expanded(lhs: DataFrame, rhs: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String], leftOuter: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val rowId = "__graft_asof_rowid"
    // uniquify right-side names so the join/agg below never hit an
    // ambiguous reference, then restore them on the agg aliases
    val rNames = rhs.columns.toSeq
    val rTmp = rNames.map(n => s"__graft_asof_r_$n")
    def rc(n: String) = col(s"__graft_asof_r_$n")
    val l2 = lhs.withColumn(rowId, monotonically_increasing_id())
    val joined = l2.join(rhs.toDF(rTmp: _*),
      l2(leftKey) === rc(rightKey) && rc(rightTime) <= l2(leftTime),
      if (leftOuter) "left" else "inner")
    // greatest-(time, tie-break) via one struct ordering: null fields
    // sort first (lose), matching the exec's ascending merge order
    val ord = struct((rightTime +: rightTieBreak).map(rc): _*)
    // ONE max_by carrying the whole right row as a struct value, not
    // one max_by per right column: N struct-ordered max_by's paid N
    // ordering comparisons per joined row and ran ~3× slower than this
    // form on the factor-300 fixture. Left columns are constant per
    // rowId group — first() just carries them (any datatype) without a
    // second join back.
    val packed = "__graft_asof_r"
    val aggs = lhs.columns.toSeq.map(n => first(col(n)).as(n)) :+
      max_by(struct(rTmp.map(col): _*), ord).as(packed)
    joined.groupBy(col(rowId))
      .agg(aggs.head, aggs.tail: _*)
      .select(lhs.columns.toSeq.map(col) ++
        rNames.zip(rTmp).map { case (n, t) => col(packed).getField(t).as(n) }: _*)
  }
}
