package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic N× upscaling of a testdata sf directory, for scale
  * benchmarking beyond the largest driver-provided SF (the round-1
  * verdict asked for a sf1-class bench to expose the dd4/dd2 crossover
  * empirically — there is no /root/testdata/sf1, so we derive one).
  *
  * Replication strategy (replica `r` of `factor`):
  *  - every surrogate/foreign key is offset by r·10^9 on BOTH sides of
  *    each relationship, so per-replica join cardinalities exactly
  *    mirror the source and replicas never cross-join;
  *  - `nation`/`region` stay fixed (real dimension tables; customer and
  *    supplier keep pointing at them, like a production star schema);
  *  - `documents` text gets a one-word replica suffix (letters only,
  *    preserving the corpus charset) so replicas are near-duplicates of
  *    their source, NOT exact duplicates — replicating text verbatim
  *    would multiply every dedup group by `factor` and quadratically
  *    detonate pair queries in a way no real corpus does;
  *  - `embeddings` components get a small deterministic per-(id, dim,
  *    replica) perturbation for the same reason (replica 0 is pristine,
  *    so the `vec_id < 10` query vectors are unchanged);
  *  - `events.ts` keeps the SOURCE dir's physical shape on disk
  *    (int64-nanos or native timestamp micros, depending on testdata
  *    generation; replicas add users, not time — matching how the
  *    driver's generator scales event density), readable by the same
  *    schema-dispatching `Tables.events` loader either way.
  *
  * Usage: `runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10`
  * (optional flags: `uniquedocs`, `dupcap=K`, `skew`, `only=t1,t2` —
  * see below)
  *
  * A 4th argument `uniquedocs` switches the DOCUMENT replication to
  * grow UNIQUE content at FIXED replica-group size: every word of a
  * replica-r>0 document carries the replica tag, so replicas share no
  * word shingles with their source (cross-replica near-dup groups
  * don't form) while the SOURCE's planted near-dup structure is
  * preserved within each replica (both members of a planted pair get
  * the same per-word tag). Dedup/cluster group sizes therefore stay
  * the source corpus's as the factor grows — the fixture that
  * separates OUTPUT-BOUND growth (the default near-dup mode multiplies
  * each dedup group by `factor`, so emitted pair sets grow
  * C(factor·g, 2) per group) from SCAN-BOUND growth (this mode: pair
  * sets grow linearly with the corpus). SCALE.md's dd2/dd3/cc2/cur2
  * sweep uses both modes to prove the sf10 blow-up is the fixture's
  * pair-output combinatorics, not the operators' scan path.
  */
object ScaleGen {

  private val KEY_OFFSET = 1000000000L

  def main(args: Array[String]): Unit = {
    val (srcDir, outDir, factorS) = (args(0), args(1), args(2))
    val flags = args.drop(3).toSet
    val uniqueDocs = flags("uniquedocs")
    val skew = flags("skew") || flags.exists(_.startsWith("skewpct="))
    // skewpct=NN: the hot key's share of all events (default 20) —
    // the knob that finds WHERE the as-of exec's straggler bound
    // actually bites (20% barely moves it at factor 300; the dispatch
    // threshold is set from the measured crossing, SCALE.md round 12)
    val skewPct = flags.collectFirst {
      case f if f.startsWith("skewpct=") => f.stripPrefix("skewpct=").toInt
    }.getOrElse(20)
    // only=events,orders — write just the named tables (fixture-
    // targeted scale probes at factors where a full-corpus write
    // would blow the disk budget, e.g. the factor-300 skew fixture
    // that only the as-of/range join pairs read)
    val only = flags.collectFirst {
      case f if f.startsWith("only=") =>
        f.stripPrefix("only=").split(",").toSet
    }
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val factor = factorS.toInt
    val spark = Harness.session()

    def replicate(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(sequence(lit(0L), lit(factor - 1L))))

    def off(c: String): Column = col(c) + col("rep") * KEY_OFFSET

    // repartition, NOT coalesce: the source sf dirs are single-file,
    // single-ROW-GROUP parquet, which reads as ONE scan task no matter
    // what spark.sql.files.maxPartitionBytes says (byte-range splits
    // can't divide a row group), and coalesce can only REDUCE the
    // count — so round 2's coalesce(8) silently wrote every table back
    // as one row group and serialized the scan stage of every sf1
    // query (measured: a1's 1M-row scan+JSON-parse stage ran 1-task,
    // 4.6 s warm). 32 output files ≈ one row group per local core,
    // the shape a real corpus has anyway (100 TB is millions of files).
    def write(df: DataFrame, name: String): Unit =
      if (wanted(name))
        df.drop("rep").repartition(32).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")

    // fixed dimensions: straight copy
    for (t <- Seq("region", "nation") if wanted(t))
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    write(replicate(Tables.customer(spark, srcDir))
      .withColumn("c_custkey", off("c_custkey")), "customer")
    write(replicate(Tables.supplier(spark, srcDir))
      .withColumn("s_suppkey", off("s_suppkey")), "supplier")
    write(replicate(Tables.part(spark, srcDir))
      .withColumn("p_partkey", off("p_partkey")), "part")
    write(replicate(Tables.orders(spark, srcDir))
      .withColumn("o_orderkey", off("o_orderkey"))
      .withColumn("o_custkey", off("o_custkey")), "orders")
    write(replicate(Tables.lineitem(spark, srcDir))
      .withColumn("l_orderkey", off("l_orderkey"))
      .withColumn("l_partkey", off("l_partkey"))
      .withColumn("l_suppkey", off("l_suppkey")), "lineitem")

    // events: keep ts in the source dir's physical shape (read WITHOUT
    // the Tables conversion so the written file round-trips through the
    // same schema-dispatching loader)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evReplicated = replicate(spark.read.parquet(s"$srcDir/events.parquet"))
      .withColumn("event_id", off("event_id"))
      .withColumn("user_id", off("user_id"))
    // skew mode: ONE hot user holds ~20% of all events (every 5th
    // event_id remaps to source user 1, which keeps its orders) — the
    // hot-partition fixture for the join family's skew probes. Numbers
    // from this fixture are PERF-ONLY (remapping changes per-user
    // results, so the oracle gate doesn't apply); deterministic, so
    // pairs are reproducible.
    val evOut =
      if (skew) evReplicated.withColumn("user_id",
        when(pmod(col("event_id"), lit(100)) < lit(skewPct), lit(1L))
          .otherwise(col("user_id")))
      else evReplicated
    write(evOut, "events")

    // documents: replica suffix word keeps replicas near-dup, not exact.
    // Base-26 letter encoding — the round-2 ('a' + i % 26) cycled after
    // 26 and made replicas r and r+26 EXACT duplicates (precisely the
    // quadratic dedup-pair detonation the suffix exists to prevent;
    // advice r2). Two letters to 676, a third past that (17576 cap) —
    // factor-1000 document fixtures exist since the dupcap mode below.
    // Only the DOCUMENT replica tag needs this cap (embeddings perturb
    // numerically, no suffix) — an only=events,orders run at factor
    // 1000 (the decade fixture for the windowed/join family) must not
    // die on a table it never writes.
    require(factor <= 17576 || !wanted("documents"),
      s"replica tag encoding supports <= 17576 replicas, got $factor")
    val repWord = typedLit((0 until factor).map(i =>
      if (factor <= 676) "" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
      else "" + ('a' + i / 676).toChar + ('a' + (i / 26) % 26).toChar +
        ('a' + i % 26).toChar))
    val repTag = element_at(repWord, (col("rep") + 1).cast("int"))
    // dupcap=K: BOUNDED dup-group growth — the realistic-duplication
    // fixture (advice r12 #2). The default near-dup suffix grows every
    // source dup group by `factor`, so emitted pair sets grow
    // C(factor·g, 2) per group: 100× pair output for 10× data, a shape
    // no real crawl has. With dupcap=K, replicas r < K stay near-dups
    // of their source (groups grow to K and STOP — the sf1 level for
    // K=10) and replicas r >= K take the per-word unique tag (new
    // unique volume), so past factor K the corpus grows linearly with
    // dup-group sizes FIXED — the fixture that lets the banded family
    // (dd2/dd3/cc2/cur2) prove its scan path (sub)linear at the decade.
    val dupCap = flags.collectFirst {
      case f if f.startsWith("dupcap=") => f.stripPrefix("dupcap=").toInt
    }
    def uniqueText = array_join(transform(split(col("text"), " "),
      w => concat(w, lit("q"), repTag)), " ")
    def nearDupText = concat(col("text"), lit(" xq"), repTag)
    val suffixed =
      if (uniqueDocs)
        // fixed-replica-group mode: tag EVERY word, so replica text
        // shares no shingles with its source (corpus charset [a-z ]
        // is preserved; within-replica planted near-dups stay near-dup
        // because both members carry the same tag)
        when(col("rep") === 0, col("text")).otherwise(uniqueText)
      else dupCap match {
        case Some(k) =>
          when(col("rep") === 0, col("text"))
            .when(col("rep") < k, nearDupText)
            .otherwise(uniqueText)
        case None =>
          when(col("rep") === 0, col("text")).otherwise(nearDupText)
      }
    write(replicate(Tables.documents(spark, srcDir))
      .withColumn("doc_id", off("doc_id"))
      .withColumn("text", suffixed), "documents")

    // embeddings: deterministic tiny perturbation off replica 0. TWO
    // mod-prime terms: the rep contribution of each term is constant
    // across components (the i-term is shared), so a single mod-17
    // term made replicas r and r+17 EXACT duplicates — fatal for the
    // factor-1000 ANN fixture (2M vectors, ~58 exact copies each, ties
    // everywhere). With moduli 17 and 59 the perturbation pattern
    // repeats only at lcm(17, 59) = 1003 > the decade factor. (Changes
    // sf1/sf10 embedding fixtures vs r12 by ≤ 0.009 per component —
    // recall legs re-measure against exact brute force on the SAME
    // fixture, so the comparison stays self-consistent.)
    val perturbed = when(col("rep") === 0, col("embedding"))
      .otherwise(zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => (x
          + (pmod(col("vec_id") * 31 + i * 7 + col("rep") * 13, lit(17)) - 8)
            .cast("float") * lit(0.002f)
          + (pmod(col("vec_id") * 17 + i * 11 + col("rep") * 31, lit(59)) - 29)
            .cast("float") * lit(0.0003f)).cast("float")))
    write(replicate(Tables.embeddings(spark, srcDir))
      .withColumn("vec_id", off("vec_id"))
      .withColumn("embedding", perturbed), "embeddings")

    println(s"""{"scalegen":"done","out":"$outDir","factor":$factor,"uniquedocs":$uniqueDocs,"skew":$skew}""")
    spark.stop()
  }
}
