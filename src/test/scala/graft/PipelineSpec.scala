package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Pipeline

/** Properties of the corpus-curation operators that the DuckDB oracle
  * can't express: the content-stability contract of hash splits and
  * the broadcast shape of decontamination. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("smp1: split assignment is a pure function of content") {
    // identical text ⇒ identical bucket/split, whatever the doc_id —
    // the property that keeps held-out sets leak-free when a pipeline
    // re-ingests or re-shards a corpus
    val out = Pipeline.smp1HashSample(spark, sf)
      .join(Tables.documents(spark, sf), "doc_id")
      .groupBy(col("text"))
      .agg(countDistinct(col("split")).as("n_splits"),
        countDistinct(col("bucket")).as("n_buckets"))
      .filter(col("n_splits") > 1 || col("n_buckets") > 1)
    assert(out.count() == 0, "same text must never land in two splits")
  }

  test("smp1: sampling decision survives repartitioning") {
    val a = Pipeline.smp1HashSample(spark, sf).collect().map(_.toString).sorted.toSeq
    val b = Pipeline.smp1HashSample(spark, sf.replace(sf, sf)) // same dir
      .repartition(7).collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("dc1: benchmark side broadcasts — the corpus side never shuffles for the join") {
    val df = Pipeline.dc1Decontaminate(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p)
    assert(df.count() > 0, "planted near-dups should trip the overlap flag")
  }

  test("cur2: the band-bucket anchor cap does not change verdicts (cap=2 ≡ uncapped ≡ default)") {
    // The cap keeps each bucket's MIN-ID members as anchors; any earlier
    // member at est ≥ 0.5 suffices to drop, and min-id members are the
    // drop rule's own anchors — so on a non-adversarial corpus verdicts
    // are cap-invariant. Forced to 2 (far below the default 64) the
    // rows must match both the uncapped and the default-cap runs.
    def rows(cap: Option[Int]): Seq[String] = {
      cap.foreach(c => spark.conf.set(Pipeline.BucketCap.key, c.toString))
      try Pipeline.cur2CurationNearDup(spark, sf).collect()
        .map(_.toString).sorted.toSeq
      finally spark.conf.unset(Pipeline.BucketCap.key)
    }
    val uncapped = rows(Some(1 << 30))
    assert(uncapped.nonEmpty)
    assert(rows(Some(2)) == uncapped, "cap=2 changed cur2 verdicts")
    assert(rows(None) == uncapped, "default cap changed cur2 verdicts")
  }

  test("dc2: fuzzy decontamination equals dd2's pairs crossing the benchmark boundary") {
    // bench ids are < 50 and corpus ids >= 50, so dc2's (bench_id,
    // doc_id) rows must be EXACTLY the dd2 near-dup pairs with
    // da < 50 <= db — same signatures, same banding, same threshold
    val dc2 = Pipeline.dc2FuzzyDecontaminate(spark, sf)
      .select(col("bench_id"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dd2cross = graft.ops.Dedup.dd2MinHashLsh(spark, sf)
      .filter(col("da") < 50 && col("db") >= 50)
      .select(col("da"), col("db")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dc2 == dd2cross, s"dc2 $dc2 != dd2 boundary pairs $dd2cross")
    assert(dc2.nonEmpty, "planted near-dups should cross the boundary")
  }

  test("shf1: positions are a dense permutation honoring the hash order") {
    val rows = Pipeline.shf1Shuffle(spark, sf).collect()
    val pos = rows.map(_.getLong(2)).sorted
    assert(pos.toSeq == (1L to rows.length).toSeq,
      "shuffle positions must be exactly 1..N with no gaps or dups")
    // the distributed two-phase rank must equal the global (h, doc_id) order
    val byPos = rows.sortBy(_.getLong(2)).map(r => (r.getLong(1), r.getLong(0))).toSeq
    assert(byPos == byPos.sorted, "bucketed rank diverged from the global order")
  }

  test("sc1: no denylist term survives scrubbing") {
    val leaked = Pipeline.sc1PiiScrub(spark, sf)
      .filter(col("clean_prefix").rlike("\\b(customer|supplier|order)\\b"))
    assert(leaked.count() == 0, "redaction left a denylist term in the output")
    val hits = Pipeline.sc1PiiScrub(spark, sf)
      .agg(org.apache.spark.sql.functions.sum(col("n_hits"))).head().getLong(0)
    assert(hits > 0, "denylist should fire on this corpus")
  }

  test("cur1: no bench doc, no duplicate content, no flagged doc survives curation") {
    val out = Pipeline.cur1CurationE2e(spark, sf).cache()
    try {
      assert(out.count() > 0, "curation must keep something at sf0.001")
      // the bench stand-in set (doc_id < 50, dc1's BENCH_DOCS) is input
      // to decontamination, never output training data
      assert(out.filter(col("doc_id") < 50).count() == 0)
      // exact-dedup keep-list: no two survivors share identical text
      val dupes = out.join(Tables.documents(spark, sf), "doc_id")
        .groupBy(col("text")).count().filter(col("count") > 1)
      assert(dupes.count() == 0, "two curated docs share identical content")
      // decontamination: no survivor is dc1-flagged
      val flagged = Pipeline.dc1Decontaminate(spark, sf)
        .select(col("doc_id")).distinct()
      assert(out.join(flagged, "doc_id").count() == 0,
        "a dc1-flagged doc survived curation")
    } finally out.unpersist()
  }

  test("dd6: boilerplate chunks are removed everywhere or nowhere") {
    // a chunk is either below the df threshold (kept in every doc) or
    // boilerplate (cut from every doc) — per-document totals must be
    // consistent with one global decision per chunk
    val out = graft.ops.Dedup.dd6ChunkDedup(spark, sf)
    val boilerTotal = out.agg(org.apache.spark.sql.functions.sum(col("n_boiler")))
      .head().getLong(0)
    assert(boilerTotal > 0, "corpus has df>=3 chunks; some must be flagged")
    // independent recount: occurrences of chunks whose df >= 3
    val w = split(col("text"), " ")
    val ch = Tables.documents(spark, sf).select(col("doc_id"),
      explode(org.apache.spark.sql.functions.transform(
        sequence(lit(0), ((org.apache.spark.sql.functions.size(w) + 7) / 8).cast("int") - 1),
        i => array_join(org.apache.spark.sql.functions.slice(w, (i * 8 + 1).cast("int"), lit(8)), " "))).as("chunk"))
    val expected = ch.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"), org.apache.spark.sql.functions.count(lit(1)).as("occ"))
      .filter(col("df") >= 3)
      .agg(org.apache.spark.sql.functions.sum(col("occ"))).head().getLong(0)
    assert(boilerTotal == expected,
      s"flagged-occurrence total $boilerTotal != independent recount $expected")
  }

  test("mix1: acceptance rates realize the weighted token budget") {
    val rows = Pipeline.mix1MixtureSample(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    // rates are valid probabilities (e6-scaled) and every source has one
    rows.foreach { case (src, _, rate, _) =>
      assert(rate > 0 && rate <= 1000000L, s"$src rate $rate out of range")
    }
    // heavier mixture weight ⇒ higher acceptance rate: the generator
    // gives each source a similar token mass, so the wnum=4 sources
    // must out-rate the wnum=1 sources on average
    val bySrc = rows.groupBy(_._1).map { case (s, rs) => s -> rs.head._3 }
    def wnum(s: String) = s.drop(3).toLong % 4 + 1
    val hi = bySrc.collect { case (s, r) if wnum(s) == 4 => r }
    val lo = bySrc.collect { case (s, r) if wnum(s) == 1 => r }
    assert(hi.nonEmpty && lo.nonEmpty)
    assert(hi.sum / hi.size > lo.sum / lo.size,
      s"weight-4 sources must out-rate weight-1: $bySrc")
    // the realized sample lands near the overall budget (1/4 of corpus
    // tokens); the hash is uniform but the corpus is finite, so allow
    // a wide band — the point is the BUDGET is what shapes the sample
    val total = rows.map(_._2).sum.toDouble
    val sampled = rows.collect { case (_, n, _, true) => n }.sum.toDouble
    assert(sampled / total > 0.12 && sampled / total < 0.40,
      s"sampled token share ${sampled / total} far from the 0.25 budget")
  }

  test("pk1: bins respect the running token budget semantics") {
    val rows = Pipeline.pk1PackSequences(spark, sf)
      .orderBy(col("doc_id")).collect()
    var prev = 0L
    rows.foreach { r =>
      val (n, cum, bin) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(cum == prev + n, s"prefix sum broken at ${r.getLong(0)}")
      assert(bin == (cum - 1) / 512, s"bin formula broken at ${r.getLong(0)}")
      prev = cum
    }
    assert(rows.nonEmpty)
  }
}
