package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, MovingAverage, Relational, Similarity}

/** Physical-plan assertions — the 100 TB posture, pinned so refactors
  * can't silently regress it: filters and projections reach the parquet
  * scan, dimension joins broadcast (no fact-table shuffle), single-pass
  * aggregation, and the custom dot product stays inside codegen. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    // collect() runs THIS Dataset's queryExecution (count() would build
    // a new one), finalizing the AQE plan so codegen spans are visible;
    // keep only the final-plan section (toString repeats the initial one)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("q1: ship-date filter is pushed into the parquet scan") {
    val p = plan(Relational.q1Pricing(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("p1: scan reads only the projected columns") {
    val p = plan(Tables.events(spark, sf).select("event_id", "user_id", "value"))
    assert(p.contains("ReadSchema: struct<event_id:bigint"), p)
    assert(!p.contains("props"), "props must be pruned from the scan:\n" + p)
  }

  test("j1: both dimension joins are broadcast — no shuffle of the fact side") {
    val p = plan(Relational.j1RevenuePerNation(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("a5: keyed count is one partial-agg -> exchange -> final-agg pass") {
    val p = plan(MovingAverage.queries.find(_.name == "a5_count_by_key").get
      .fn(spark, sf))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("w1: pane-based — partial agg before the exchange, no event-level window expansion") {
    val p = plan(MovingAverage.w1SlidingSma(spark, sf))
    // ONE scan of the fact table (round 2 paid a second 2-column scan
    // for the per-user type side-aggregate)
    assert("FileScan parquet|Scan parquet".r.findAllIn(p).size == 1, p)
    // the hot, event-volume aggregation groups by (pane, user_id) —
    // event_type is dictionary-coded to an integer, so EVERY buffer in
    // both phases is numeric: two HashAggregate pairs (partial+final
    // print for each phase; the TimeWindowing rule names the pane
    // struct `window` internally) and NO SortAggregate anywhere (the
    // r9 string-keyed merge sorted ~4×-the-corpus wide rows at sf10:
    // measured 16.6 s warm vs 8.5 s for this plan)
    assert("HashAggregate\\(keys=\\[window".r.findAllIn(p).size == 2, p)
    assert("HashAggregate\\(keys=\\[ws".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortAggregate"), p)
    // the ×4 sliding-window copy must touch PANES, not events: a
    // naive window(ts, 24h, 6h) groupBy plans an Expand over the scan
    // (4 rows per event before the partial agg); the pane plan has NO
    // Expand anywhere, and its Generate explode sits between the two
    // aggregations — printed ABOVE the pane aggregate in the tree
    assert(!p.contains("Expand"), p)
    assert(p.indexOf("Generate explode") >= 0 &&
      p.indexOf("Generate explode") < p.indexOf("HashAggregate(keys=[window"), p)
    // the dictionary decode is a literal-array element_at, not a join
    assert(!p.contains("Join"), p)
    assert(p.contains("*("), p) // *(n) = whole-stage-codegen span
  }

  test("smp2: per-stratum top-N is a bounded sketch aggregate — no corpus-wide Window") {
    val p = plan(graft.ops.Pipeline.smp2Stratified(spark, sf))
    // the round-2 row_number() formulation funneled the whole corpus
    // through one Window reducer per language; the TopNByKey sketch
    // aggregates with bounded per-task buffers instead
    assert(!p.contains("Window"), "corpus-wide window survived:\n" + p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("topn_by_key"), p)
  }

  test("sim1: query side broadcasts; candidates scan without shuffle") {
    val p = plan(Similarity.sim1BruteTopK(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dd5: custom double_dot expression participates in codegen") {
    val df = Dedup.dd5EmbeddingCosine(spark, sf)
    val p = plan(df)
    assert(p.contains("double_dot") || p.contains("DoubleDot"), p)
    assert(p.contains("*("), p) // *(n) = whole-stage-codegen span
    // and the expression actually computes: known self-dot
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val r = spark.range(1).select(
      VectorFunctions.dot(array(lit(1.0), lit(2.0), lit(3.0)),
        array(lit(4.0), lit(5.0), lit(6.0))).as("d")).head().getDouble(0)
    assert(r == 32.0)
  }

  test("partitioned layout: partition pruning reaches the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toFile.getAbsolutePath
    Tables.events(spark, sf).write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select("event_id", "value")
    val p = plan(df)
    assert(p.contains("PartitionFilters: [isnotnull(event_type"), p)
    // pruning means the non-matching partitions never appear as input
    assert(df.count() ==
      Tables.events(spark, sf)
        .filter(org.apache.spark.sql.functions.col("event_type") === "purchase").count())
  }

  test("srt1: top-k is TakeOrdered (per-partition heaps), not a global sort") {
    val p = plan(Relational.srt1TopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("w2: hopping agg is pane-based — panes expand, not events") {
    val p = plan(MovingAverage.w2Hopping(spark, sf))
    // two aggregations (pane, then window) and the ×4 generate sits
    // between them, operating on pane rows
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // 2 aggs × partial/final
    assert(p.contains("Generate explode"), p)
  }

  test("bucketed tables join with ZERO exchanges (co-located join)") {
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    Tables.lineitem(spark, sf).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_bucketed")
    // disable auto-broadcast so the plan must rely on bucket
    // co-location rather than broadcasting the small test table
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).count()
      val p = plan(j)
      // both sides pre-partitioned on the join key: the join (and even
      // the downstream groupBy on the same key) needs no shuffle at all
      assert(!p.contains("Exchange"), "bucketed join must not shuffle:\n" + p)
      assert(p.contains("SelectedBucketsCount"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("streaming SMA: one transformWithState, no window expansion or aggregate") {
    // one state row per (symbol, type) replaced window() + groupBy + agg:
    // no Expand copies each tick into its windows, no partial/merge/final
    // aggregate runs, and the one exchange carries only the six columns
    // the windows read
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import org.apache.spark.sql.functions._
    import graft.streaming.MaPipeline
    val input = MemoryStream[String](Encoders.STRING, spark)
    val q = MaPipeline.windowedSma(MaPipeline.parse(input.toDF().select(col("value"))))
      .writeStream.format("memory").queryName("sma_plan").outputMode("update").start()
    try {
      input.addData("""{"symbol":"TSM","type":"stock",""" +
        """"current_time":"2024-01-01T00:00:10+00:00","real_or_filled":"real",""" +
        """"vwap_price_per_sec":10.0,"size_per_sec":3}""")
      q.processAllAvailable()
      val p = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(p.collect { case s: StatefulOperator => s.nodeName } == Seq("TransformWithState"),
        p.toString)
      assert(p.collect { case e: ExpandExec => e }.isEmpty, p.toString)
      assert(p.collect { case a: BaseAggregateExec => a }.isEmpty, p.toString)
      val exchanges = p.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.map(_.child.output.map(_.name)) == Seq(Seq("symbol", "type", "ts",
        "vwap_price_per_sec", "size_per_sec", "real_or_filled")), p.toString)
    } finally q.stop()
  }

  test("streaming SMA: the output stage's generated code is the same on every trigger") {
    // a per-batch value inlined into a projection (current_timestamp()
    // becomes a literal after optimization) gives each trigger a new
    // source: a cache miss, a fresh compile and a cold class. What may
    // compile per data trigger is the operator's late-event predicate,
    // which holds the watermark. The first two triggers warm up: the
    // second is the first to read state and, in append mode, to emit,
    // and each of those compiles a decoder once per query. No-data
    // triggers are off so that each data trigger's compiles count alone.
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.MaPipeline
    def tick(sec: Int) = """{"symbol":"TSM","type":"stock",""" +
      f""""current_time":"2024-01-01T00:00:$sec%02d+00:00","real_or_filled":"real",""" +
      """"vwap_price_per_sec":10.0,"size_per_sec":3}"""
    CodegenPaths.withConf("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      for (mode <- Seq(OutputMode.Update(), OutputMode.Append())) {
        val input = MemoryStream[String](Encoders.STRING, spark)
        val q = MaPipeline.windowedSma(MaPipeline.parse(input.toDF().select(col("value"))),
            gate = None, emit = mode)
          .writeStream.format("memory").queryName(s"sma_codegen_$mode").outputMode(mode).start()
        try {
          // event time moves on 10 s a trigger, and so does the watermark;
          // the tick at 1 s closes windows in the second trigger
          val runs = Seq(1 +: (10 to 14), 20 to 24, 30 to 34, 40 to 44).map { secs =>
            Thread.sleep(5) // a new batch timestamp
            val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            input.addData(secs.map(tick): _*)
            q.processAllAvailable()
            val p = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
            (p.collect { case w: WholeStageCodegenExec => w.doCodeGen()._2.body },
              CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
          }
          val compiles = runs.map(_._2)
          assert(runs(1)._1.nonEmpty, s"$mode: no whole-stage codegen in the plan")
          val same = runs.drop(2).forall(_._1 == runs(1)._1)
          assert(same, s"$mode: the generated code changed between triggers; compiles $compiles")
          assert(compiles.drop(2).forall(_ <= 1), s"$mode: compiles per data trigger $compiles")
          assert(spark.table(s"sma_codegen_$mode").count() > 0, s"$mode: no rows")
        } finally q.stop()
      }
    }
  }

  test("pk1: distributed prefix sum — no single-partition funnel") {
    val p = plan(graft.ops.Pipeline.pk1PackSequences(spark, sf))
    // the two-phase form windows WITHIN range buckets; a global
    // Window.orderBy would show Exchange SinglePartition here
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("ng1: heavy-hitter top-k is TakeOrdered over a partial-agg pass") {
    val p = plan(graft.ops.TextOps.ng1NgramTopk(spark, sf))
    // per-partition heaps ship only their own top-100 to the driver
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), "global sort:\n" + p)
    // map-side partial aggregation precedes the one shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("rep1: repetition ratios are a pure narrow map — zero exchanges") {
    val p = plan(graft.ops.TextOps.rep1Repetition(spark, sf))
    assert(!p.contains("Exchange"), p)
  }

  test("dd11: single lineage — the corpus is scanned once, not once per join input") {
    // the first cut joined a duplicate-set aggregate back against the
    // chunk stream, recomputing the explode+window+fold subtree for
    // both join inputs plus the broadcast guard's count job (13.3 s
    // warm at sf1 vs 5.6 s one-pass); the rewrite's plan must read the
    // documents parquet exactly once
    val p = plan(graft.ops.Dedup.dd11CdcChunks(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"dd11 scanned the corpus $scans times:\n$p")
    assert(!p.contains("Join"), s"dd11 should have no join at all:\n$p")
  }

  test("an1: one exchange serves both the window stats and the per-user rollup") {
    // the rollup's ClusteredDistribution(user_id) is satisfied by the
    // window's HashPartitioning(user_id) — a second exchange would mean
    // the claim in an1's scaladoc regressed
    val p = plan(graft.ops.Extended.an1ZscoreAnomaly(spark, sf))
    val n = "Exchange".r.findAllIn(p).size
    assert(n == 1, s"an1 should shuffle exactly once, found $n:\n$p")
  }

  test("rj1: bucketed range join is an equi-join, not a nested loop") {
    val p = plan(graft.ops.Extended.rj1RangeJoin(spark, sf))
    // a bare interval predicate would plan as BroadcastNestedLoopJoin
    // (O(N*M) compares); bucketing makes it a hash equi-join on the
    // bucket id with the range check as a residual
    assert(!p.contains("NestedLoop"), p)
    assert(p.contains("HashJoin"), p)
  }

  test("dd12: past the stats floor the candidate join is a sort-free hash join, results unchanged") {
    // the candidate probe needs no ordering — SortMergeJoin's sorts of
    // the 20-rows-per-doc index are the disk-spill term the measured
    // 30M-doc boundary died on (SCALE.md round 13); past the floor the
    // plan must be a ShuffledHashJoin, and results must be identical
    val default = Dedup.dd12SimHashScale(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set(Dedup.D12HashJoinMinBytes.key, "0")
    spark.conf.set(Dedup.D12JoinWidth.key, "7")
    try {
      val df = Dedup.dd12SimHashScale(spark, sf)
      val p = plan(df)
      assert(p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
      // the pinned width IS the join exchange (no second shuffle for it)
      assert(p.contains(", 7)"), p)
      assert(df.collect().map(_.toString).sorted.toSeq == default)
    } finally {
      spark.conf.unset(Dedup.D12HashJoinMinBytes.key)
      spark.conf.unset(Dedup.D12JoinWidth.key)
    }
    // width arithmetic: floor at the session conf, scale with scan
    // bytes over the per-task target, clamp 4096 (the w2 discipline)
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(Dedup.d12JoinWidth(spark, BigInt(1)) == session)
    val big = BigInt(16L << 20) * (session + 50)
    assert(Dedup.d12JoinWidth(spark, big) == session + 51)
    assert(Dedup.d12JoinWidth(spark, BigInt(Long.MaxValue)) == 4096)
  }

  test("rj2: range count runs on rank lookups — no pair join at all") {
    val p = plan(graft.ops.Extended.rj2RangeCount(spark, sf))
    // rj1's pair stream is quadratic in time density; the count form
    // must join NOTHING except the driver-built bucket-offset table
    // (one broadcast) — no pair-producing join of any kind, and the
    // within-bucket window is partitioned (never a global sort)
    assert(!p.contains("NestedLoop"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the running count is per-bucket, never a global-order funnel
    assert(!p.contains("SinglePartition"), p)
  }

  test("ivf storage: write-time cell bucketing prunes probes at the SCAN") {
    // SCALE.md's sim3 claim made concrete: persist the corpus
    // partitioned by the k-means cell id, and a probe of 2 of 16 cells
    // must read 2 directories — partition pruning, not a post-filter
    val dir = java.nio.file.Files.createTempDirectory("ivf_cells").toString
    spark.range(1000)
      .selectExpr("id AS vec_id", "CAST(pmod(id, 16) AS INT) AS cell")
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    val probe = org.apache.spark.sql.functions.col("cell")
    val reader = spark.read.parquet(dir).filter(probe.isin(3, 7))
    assert(reader.count() == 126) // 63 + 63 rows in cells 3 and 7
    reader.collect()
    val exec = reader.queryExecution.executedPlan
    val scan = exec.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metrics.contains("numPartitions"), scan.metrics.keys)
    assert(scan.metrics("numPartitions").value == 2,
      s"partitions read: ${scan.metrics("numPartitions").value}")
    assert(exec.toString.split("== Initial Plan ==").head
      .contains("PartitionFilters"), exec.toString)
  }

  test("shf1: global rank is distributed — no single-partition funnel") {
    val p = plan(graft.ops.Pipeline.shf1Shuffle(spark, sf))
    // the two-phase rank windows WITHIN fixed-width hash buckets; a
    // naive Window.orderBy(h) would show Exchange SinglePartition
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("sc1: scrub is a pure narrow map — zero exchanges") {
    val p = plan(graft.ops.Pipeline.sc1PiiScrub(spark, sf))
    assert(!p.contains("Exchange"), p)
  }

  test("ta6: top-K vocabulary broadcasts — the corpus never shuffles for it") {
    val p = plan(graft.ops.TextOps.ta6CommonRatio(spark, sf))
    // the one-row vocab array reaches the per-document map as a
    // broadcast nested-loop (1-row cross join), never a corpus shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // vocab top-K, no global sort
  }

  test("dc2: benchmark signature side broadcasts — corpus never shuffles for the join") {
    val p = plan(graft.ops.Pipeline.dc2FuzzyDecontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("dd6: boilerplate set broadcasts at test SF (planner's choice); df-shuffle carries hashes") {
    val p = plan(Dedup.dd6ChunkDedup(spark, sf))
    // un-hinted since round 4 (the set is NOT bounded by construction —
    // see scaladoc); at this SF the planner still picks broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("xxhash64"), p)
  }

  test("cooc1: unigram sides hash-join broadcast at test SF; top-k is TakeOrdered") {
    val p = plan(graft.ops.TextOps.cooc1PairLift(spark, sf))
    // un-hinted since round 4: the planner broadcasts the vocab-sized
    // sides while they fit (the broadcast-cap test pins the fallback)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), "global sort:\n" + p)
  }

  test("idx1: posting heads are a bounded sketch aggregate, not a collected list") {
    val p = plan(graft.ops.TextOps.idx1InvertedIndex(spark, sf))
    assert(p.contains("topn_by_key"), p)
    assert(!p.contains("collect_list") && !p.contains("collect_set"), p)
  }

  test("lm1: count tables probe as hash joins at test SF (planner's choice, un-hinted)") {
    val p = plan(graft.ops.TextOps.lm1BigramCoherence(spark, sf))
    // at this SF the PLANNER (not a hint — see the broadcast-cap test
    // below) broadcasts the model-sized count tables: O(1) codegen'd
    // probes, never a sort-merge of the corpus-sized pair stream (and
    // never the O(|vocab|²)-per-pair map-lookup shape — see scaladoc)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("lm1/cooc1/dd6/tok1/dd8/dd10: model tables past the broadcast guard " +
      "degrade to a shuffle join instead of an OOM-by-construction") {
    // simulate "corpus-derived model table exceeds the broadcast
    // budget" (a 100-TB bigram vocabulary blows the 8 GB broadcast
    // hard cap): Model.guardedBroadcast's threshold drops to 0 (no
    // table fits) and the planner's own broadcasts are disabled —
    // every query must take the shuffle-join path AND return
    // identical rows
    def sig(df: org.apache.spark.sql.DataFrame): Long = Harness.consume(df)._1
    val fns: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      Seq(("lm1", graft.ops.TextOps.lm1BigramCoherence _),
        ("cooc1", graft.ops.TextOps.cooc1PairLift _),
        ("dd6", Dedup.dd6ChunkDedup _),
        ("tok1", graft.ops.TextOps.tok1VocabEncode _),
        // dd8/dd10's dup-gram table grows with corpus redundancy exactly
        // like dd6's boilerplate set — same degradation proof
        ("dd8", Dedup.dd8DupSpans _),
        ("dd10", Dedup.dd10SpanTrim _),
        // tok4's word→subtoken-count map is vocabulary-sized like tok1's
        ("tok4", graft.ops.TextOps.tok4BpeEncode _))
    val hinted = fns.map { case (n, fn) => n -> sig(fn(spark, sf)) }.toMap
    // drop the model tables the guard cached for the hinted runs, so
    // the cap-0 rebuild really replans the aggregates (a leftover
    // InMemoryRelation would be silently substituted into the plan)
    graft.ops.Model.release()
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      graft.ops.Model.MaxEntries.key -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try fns.foreach { case (n, fn) =>
      val df = fn(spark, sf)
      assert(sig(df) == hinted(n), s"$n rows changed under shuffle-join plan")
      val p = plan(df)
      // the model-table equi-joins must have replanned away from
      // broadcast (tok1's driver-built bucket-offset table is bucket-
      // count model state, not corpus-derived — it may still hash-join
      // broadcast, so assert on the heavier signal instead)
      if (n != "tok1")
        assert(!p.contains("BroadcastHashJoin"),
          s"$n still broadcast-builds with the cap exceeded:\n" + p)
      assert(!p.contains("CartesianProduct") || n == "cooc1", p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sim5/sim6: two-fetch rerank — raw vectors enter the plan only through a " +
      "broadcast equi-join of the ADC shortlist, never a corpus shuffle") {
    for ((name, df) <- Seq(
        "sim5" -> Similarity.sim5PqAdcTopK(spark, sf),
        "sim6" -> Similarity.sim6IvfPqTopK(spark, sf))) {
      val p = plan(df)
      // the ONLY equi-join in either query is the shortlist-side
      // vector fetch: it must build from the broadcast shortlist (the
      // candidate sweep's non-equi query join is a broadcast nested
      // loop, not a hash join)
      assert(p.contains("BroadcastHashJoin"), s"$name rerank not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name shuffles the vector store:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("apx3: the 32 KB sketch broadcasts to the probe side; no corpus sort or cartesian") {
    val p = plan(graft.ops.Extended.apx3CountMin(spark, sf))
    // the (d, bkt) probe join must build from the broadcast sketch —
    // 4096 rows of model state — never shuffle-join the probe stream
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // top-100 probe list is a TakeOrdered, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("cur2: near-dup leg stays an equi-join of winner band keys; no cartesian") {
    val p = plan(graft.ops.Pipeline.cur2CurationNearDup(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // winners restrict the banded index via a semi/hash join, and the
    // tombstone verdict rides joins, never a corpus window/global sort
    assert(!p.contains("Exchange rangepartitioning"), "global sort:\n" + p)
  }

  test("src1: the source-prior table broadcasts back; no sort-merge of the corpus") {
    val p = plan(graft.ops.Pipeline.src1SourcePrior(spark, sf))
    // the per-source prior is a model-sized artifact: it must come back
    // to the per-document decision map as a broadcast hash join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("cur1: one hash shuffle, flags broadcast-anti-joined, no window/sort of the corpus") {
    val p = plan(graft.ops.Pipeline.cur1CurationE2e(spark, sf))
    // dedup survivors ride min(struct) through the one hash aggregate
    // (no join-back); dc1's flag set and its bench side broadcast; the
    // corpus is never sort-merge-joined, windowed, or globally sorted
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ir1: corpus stats broadcast; top-K is TakeOrdered, never a global sort") {
    val p = plan(graft.ops.TextOps.ir1Bm25(spark, sf))
    // the 1-row (N, Σdl, df…) stats reach the per-document score map as
    // a broadcast nested-loop; tf needs no explode so the corpus never
    // shuffles, and the top-K is TakeOrdered
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("emb1: label centroids aggregate as one sketch and broadcast back") {
    val p = plan(graft.ops.Similarity.emb1LabelOutliers(spark, sf))
    assert(p.contains("vector_sum_long"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("tok1: vocab rank is two-phase distributed; encode is an ordinary equi-join") {
    val p = plan(graft.ops.TextOps.tok1VocabEncode(spark, sf))
    // the round-3 shape funneled the vocabulary through ONE reducer
    // (global Window.orderBy) and packed the word→id map into ONE
    // map-typed broadcast row (2 GB row limit, then the broadcast
    // cap); the shf1 two-phase rank windows WITHIN (cnt, sub) buckets
    // and encodes via a plain equi-join instead
    assert(!p.contains("Exchange SinglePartition"),
      "single-reducer vocabulary rank survived:\n" + p)
    assert(!p.contains("map_from_entries"), "one-row vocab map survived:\n" + p)
    assert(p.contains("Window"), p) // the within-bucket rank
  }

  test("tok2/mix1/dd7: new-op scale shapes — bounded broadcasts, bucketed pairs") {
    // tok2: the CAP-bounded vocab broadcasts (a constant-sized model,
    // legitimately hinted); the corpus side never sort-merges
    val p2 = plan(graft.ops.TextOps.tok2CappedEncode(spark, sf))
    assert(p2.contains("BroadcastHashJoin"), p2)
    assert(!p2.contains("SortMergeJoin"), p2)
    // the vocab itself is driver-held model state (ids assigned on the
    // collected ≤CAP table — its TakeOrdered heap job runs at build
    // time), so the encode plan joins a LocalTableScan broadcast
    assert(p2.contains("LocalTableScan"), p2)
    // the production-sized cap (32k) keeps the same shape: the vocab is
    // still a constant-bounded model — collected heaps + broadcast
    System.setProperty("graft.tok2.cap", "32768")
    try {
      val p2b = plan(graft.ops.TextOps.tok2CappedEncode(spark, sf))
      assert(p2b.contains("BroadcastHashJoin"), p2b)
      assert(!p2b.contains("SortMergeJoin"), p2b)
      assert(p2b.contains("LocalTableScan"), p2b)
    } finally System.clearProperty("graft.tok2.cap")
    // mix1: the per-source rate table broadcasts back; the corpus's
    // only shuffle is the narrow per-source token aggregate
    val p3 = plan(graft.ops.Pipeline.mix1MixtureSample(spark, sf))
    assert(p3.contains("BroadcastHashJoin"), p3)
    assert(!p3.contains("SortMergeJoin"), p3)
    // dd7: the within-cell pair comparison is an EQUI-join on the cell
    // id — never a cartesian/nested-loop all-pairs
    val p4 = plan(graft.ops.Similarity.dd7SemanticDedup(spark, sf))
    assert(!p4.contains("CartesianProduct"), p4)
    assert(!p4.contains("BroadcastNestedLoopJoin"), p4)
  }

  test("AQE splits a skewed join partition at runtime (SCALE.md's skew claim)") {
    import org.apache.spark.sql.functions._
    // 95% of the left side shares ONE key — the hot-partition shape that
    // melts a reducer at 100 TB; with skew-join enabled AQE must split it
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000)
        .select(when(col("id") < 190000, lit(7L)).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val right = spark.range(2000).select(col("id").as("k2"))
      // NOTE: no groupBy(k) downstream — a keyed agg on the join key pins
      // the join's output partitioning and AQE then refuses to split it
      // (splitting would violate the required distribution); a global agg
      // imposes no distribution on the join output
      val j = left.join(right, col("k") === col("k2"))
        .agg(sum(col("payload")).as("s"))
      val p = plan(j)
      assert(p.contains("skew=true"), "AQE did not mark the skewed join:\n" + p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dd1: shuffle key is the 8-byte hash, not the document text") {
    val p = plan(Dedup.dd1Exact(spark, sf))
    assert(p.contains("xxhash64"), p)
    // text feeds the hash pre-shuffle; the exchange partitions on the
    // hash value (named h or _groupingexpression depending on aliasing)
    assert("Exchange hashpartitioning\\((h|_groupingexpression)".r.findAllIn(p).nonEmpty, p)
  }

  test("w1 fallback (type cardinality > dict cap) matches the dictionary plan exactly") {
    import org.apache.spark.sql.functions._
    // the string-keyed pane fallback can't trigger on this corpus (5
    // event types << 64), so drive it directly: same input, same rows
    val dictPlan = MovingAverage.w1SlidingSma(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val fallback = MovingAverage.w1PanesStringKeyed(
      Tables.events(spark, sf)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long")))
      .collect().map(_.toString).sorted.toSeq
    assert(fallback == dictPlan,
      s"fallback drifted: ${fallback.diff(dictPlan).take(3)} vs ${dictPlan.diff(fallback).take(3)}")
  }
}
