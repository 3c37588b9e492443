package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CurationStream

/** The streaming curation chain must agree EXACTLY with batch cur1 on
  * the same corpus: identical gate expressions (shared code), identical
  * dedup winners (first-arrival == min doc_id when fed in id order),
  * identical contamination verdicts (dc1's rule against the static
  * bench index), identical split assignment. */
class StreamingCurationSpec extends AnyFunSuite {
  import TestSpark._

  private val tuple3Enc = org.apache.spark.sql.Encoders.tuple(
    org.apache.spark.sql.Encoders.scalaLong,
    org.apache.spark.sql.Encoders.STRING,
    org.apache.spark.sql.Encoders.STRING)

  private def corpus(): Seq[(Long, String, String)] =
    Tables.documents(spark, sf)
      .select(col("doc_id").cast("long"), col("source").cast("string"),
        col("text").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(_._1)

  private def batchRows(): Set[(Long, String, Long, Long, String)] =
    graft.ops.Pipeline.cur1CurationE2e(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet

  test("streaming curation equals batch cur1 on the same corpus") {
    val docs = corpus()
    val bench = CurationStream.benchIndex(spark, sf)
    assert(bench.nonEmpty, "benchmark index must not be empty")
    val input = MemoryStream[(Long, String, String)](tuple3Enc, spark)
    val stream = CurationStream.curated(
      input.toDF().withColumnRenamed("_1", "doc_id")
        .withColumnRenamed("_2", "source").withColumnRenamed("_3", "text"), bench)
    val q = stream.writeStream.format("memory").queryName("cur_stream")
      .outputMode("append").start()
    try {
      // two micro-batches in doc_id order: cross-batch duplicates must
      // be suppressed by persisted hash state
      val (first, second) = docs.splitAt(docs.length / 2)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()

      val streamed = spark.table("cur_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      val batch = batchRows()
      assert(streamed == batch,
        s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
      assert(streamed.nonEmpty, "curation must keep documents")
      // the corpus must actually exercise every stage: duplicates exist
      // (kept < gated) and at least one doc is contamination-flagged
      val gated = graft.ops.Pipeline.curGate(
        Tables.documents(spark, sf)).count()
      assert(streamed.size < gated, "corpus must contain duplicates")
    } finally q.stop()
  }

  /** Batch twin of the near-dup leg: the REGISTERED (oracle-checked)
    * `cur2_curation_neardup` query — cur1's winners with kept=false on
    * every winner that has an earlier-id winner at est-Jaccard ≥ 0.5
    * sharing ≥ 1 band bucket (dd2's threshold and banding; anchors
    * include docs that are themselves dropped — dd7's anchor rule).
    * Streaming ≡ cur2 makes the streaming path transitively
    * DuckDB-verified. Returns (cur1 rows, dropped ids). */
  private def batchNearDup(): (Set[(Long, String, Long, Long, String)], Set[Long]) = {
    val cur2 = graft.ops.Pipeline.cur2CurationNearDup(spark, sf).collect()
    val dropped = cur2.filter(!_.getBoolean(5)).map(_.getLong(0)).toSet
    (batchRows(), dropped)
  }

  test("near-dup leg: streaming curation equals batch cur1 + dd2 near-dup filter") {
    val docs = corpus()
    val bench = CurationStream.benchIndex(spark, sf)
    val (batch, dropped) = batchNearDup()
    assert(dropped.nonEmpty, "corpus must contain near-dup winners to exercise the leg")
    val expected = batch.map { case t @ (id, src, n, b, sp) =>
      (id, src, n, b, sp, !dropped.contains(id))
    }
    val input = MemoryStream[(Long, String, String)](tuple3Enc, spark)
    val stream = CurationStream.curatedNearDup(
      input.toDF().withColumnRenamed("_1", "doc_id")
        .withColumnRenamed("_2", "source").withColumnRenamed("_3", "text"), bench)
    val q = stream.writeStream.format("memory").queryName("cur_nd")
      .outputMode("append").start()
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      input.addData(first)
      q.processAllAvailable()
      input.addData(second)
      q.processAllAvailable()
      val streamed = spark.table("cur_nd").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getBoolean(5))).toSet
      assert(streamed == expected,
        s"stream-only: ${streamed -- expected}; batch-only: ${expected -- streamed}")
      // the verdict stream is exactly-once per winner: kept + tombstones
      assert(streamed.count(!_._6) == dropped.size)
    } finally q.stop()
  }

  test("bucket cap bounds an adversarial replica bucket without changing verdicts (batch ≡ streaming at cap=4)") {
    // The regime the cap exists for: a viral-boilerplate cluster — here
    // 40 near-identical docs (one mutated word each, so they survive
    // exact dedup but est-Jaccard ≈ 1 pairwise) all landing in the same
    // band buckets. Uncapped, that bucket does 40²/2 compares and the
    // streaming state holds 40 signatures; at cap=4 it does ≤ 4·40 and
    // holds 4 — and the verdicts must be IDENTICAL (min-id anchors
    // suffice: every replica matches the earliest one), batch and
    // streaming agreeing with each other and with the uncapped run.
    val base = ("the quick brown fox jumps over the lazy dog and then " +
      "the dog chases the fox around the yard while the sun sets over " +
      "the quiet hills and the birds sing in the old oak tree").split(" ").toSeq
    assert(base.length >= 30)
    val docs = (0 until 40).map { i =>
      val words = base.updated(7, s"variant$i")
      (1000L + i, "src_adv", words.mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("cur_adv").toFile.getAbsolutePath
    spark.createDataFrame(docs.map { case (id, s, t) =>
      (id, t, "en", s, t.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def batchRows(cap: Int): Set[(Long, String, Long, Long, String, Boolean)] = {
      spark.conf.set(graft.ops.Pipeline.BucketCap.key, cap.toString)
      try graft.ops.Pipeline.cur2CurationNearDup(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getBoolean(5))).toSet
      finally spark.conf.unset(graft.ops.Pipeline.BucketCap.key)
    }
    val uncapped = batchRows(1 << 30)
    val capped = batchRows(4)
    assert(capped == uncapped, "cap=4 changed batch verdicts on the replica cluster")
    // cap=0 would keep no anchors: the batch and the stream both refuse
    // it, naming the key
    spark.conf.set(graft.ops.Pipeline.BucketCap.key, "0")
    try Seq[() => Any](
      () => graft.ops.Pipeline.cur2CurationNearDup(spark, dir),
      () => CurationStream.curatedNearDup(
        MemoryStream[(Long, String, String)](tuple3Enc, spark).toDF()
          .withColumnRenamed("_1", "doc_id").withColumnRenamed("_2", "source")
          .withColumnRenamed("_3", "text"), Map.empty)).foreach { build =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains(graft.ops.Pipeline.BucketCap.key), e.getMessage)
    } finally spark.conf.unset(graft.ops.Pipeline.BucketCap.key)
    assert(uncapped.count(!_._6) == 39,
      s"all but the min-id replica must be tombstoned: $uncapped")
    // streaming under the same forced cap, fed in id order
    spark.conf.set(graft.ops.Pipeline.BucketCap.key, "4")
    try {
      val input = MemoryStream[(Long, String, String)](tuple3Enc, spark)
      val stream = CurationStream.curatedNearDup(
        input.toDF().withColumnRenamed("_1", "doc_id")
          .withColumnRenamed("_2", "source").withColumnRenamed("_3", "text"),
        Map.empty)
      val q = stream.writeStream.format("memory").queryName("cur_adv")
        .outputMode("append").start()
      try {
        val (first, second) = docs.splitAt(docs.length / 2)
        input.addData(first)
        q.processAllAvailable()
        input.addData(second)
        q.processAllAvailable()
        val streamed = spark.table("cur_adv").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
            r.getString(4), r.getBoolean(5))).toSet
        assert(streamed == capped,
          s"stream-only: ${streamed -- capped}; batch-only: ${capped -- streamed}")
      } finally q.stop()
    } finally spark.conf.unset(graft.ops.Pipeline.BucketCap.key)
  }

  test("near-dup leg: band index and hash state survive a checkpointed restart") {
    val docs = corpus()
    val bench = CurationStream.benchIndex(spark, sf)
    val (batch, dropped) = batchNearDup()
    val expected = batch.map { case (id, src, n, b, sp) =>
      (id, src, n, b, sp, !dropped.contains(id))
    }
    val (first, second) = docs.splitAt(docs.length / 2)
    val base = java.nio.file.Files.createTempDirectory("cur_nd_ckpt").toFile
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val outDir = new java.io.File(base, "out").getAbsolutePath
    val ckptDir = new java.io.File(base, "ckpt").getAbsolutePath
    def jsonl(rows: Seq[(Long, String, String)]): String =
      rows.map { case (id, src, tx) =>
        s"""{"doc_id":$id,"source":"$src","text":"$tx"}"""
      }.mkString("\n")
    def start() = {
      val src = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .json(srcDir.getAbsolutePath)
      CurationStream.curatedNearDup(src, bench)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }
    java.nio.file.Files.write(new java.io.File(srcDir, "f1.json").toPath,
      jsonl(first).getBytes)
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // NEW query, same checkpoint: run-2 near-dups of run-1 winners must
    // still be caught by the restored band index
    java.nio.file.Files.write(new java.io.File(srcDir, "f2.json").toPath,
      jsonl(second).getBytes)
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("bucket"),
        r.getAs[String]("split"), r.getAs[Boolean]("kept"))).toSet
    assert(streamed == expected,
      s"post-restart near-dup stream diverged (${streamed.size} rows)")
    // the restart boundary must actually exercise the restored index:
    // at least one run-2 doc dropped against a run-1 anchor
    val firstIds = first.map(_._1).toSet
    val crossRestart = streamed.filter(v => !v._6 && !firstIds.contains(v._1))
    assert(crossRestart.nonEmpty || dropped.forall(firstIds.contains),
      "no cross-restart near-dup was exercised")
  }

  test("TTL re-admits duplicates past the dedup horizon; suppresses inside it") {
    // ttlMs bounds hash state on an unbounded crawl: a content hash
    // cold for the TTL is forgotten, so a later duplicate is
    // re-admitted (finite dedup horizon, DedupStream's contract).
    // ProcessingTimeTimeout needs a real trigger + polling — an
    // untriggered query busy-loops (see DedupStream's scaladoc).
    val ttlMs = 8000L
    val textA = ("the quick brown fox jumps over the lazy dog " * 4).trim
    val textX = ("some completely unrelated words about the spark shuffle " * 4).trim
    val input = MemoryStream[(Long, String, String)](tuple3Enc, spark)
    val stream = CurationStream.curated(
      input.toDF().withColumnRenamed("_1", "doc_id")
        .withColumnRenamed("_2", "source").withColumnRenamed("_3", "text"),
      Map.empty, ttlMs = ttlMs)
    val q = stream.writeStream.format("memory").queryName("cur_ttl")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .outputMode("append").start()
    def pollUntil(what: String, deadlineMs: Long = 60000L)(cond: => Boolean): Unit = {
      val t0 = System.currentTimeMillis()
      while (!cond) {
        assert(System.currentTimeMillis() - t0 < deadlineMs, s"timed out waiting: $what")
        Thread.sleep(100)
      }
    }
    def kept(id: Long): Boolean =
      spark.table("cur_ttl").filter(s"doc_id = $id").count() > 0
    def rowsIn: Long = q.recentProgress.map(_.numInputRows).sum
    try {
      input.addData(Seq((100L, "src_1", textA)))
      pollUntil("doc 100 kept")(kept(100L))
      Thread.sleep(ttlMs + 2000) // hash goes cold past the horizon
      input.addData(Seq((150L, "src_1", textX))) // unrelated doc keeps the stream live
      pollUntil("doc 150 kept")(kept(150L))
      input.addData(Seq((200L, "src_1", textA))) // duplicate PAST the horizon
      pollUntil("doc 200 re-admitted")(kept(200L))
      input.addData(Seq((300L, "src_1", textA))) // duplicate INSIDE doc 200's horizon
      pollUntil("doc 300 ingested")(rowsIn >= 4)
      Thread.sleep(1500) // a few more triggers: 300 would surface if kept
      assert(!kept(300L), "in-horizon duplicate must stay suppressed")
    } finally q.stop()
  }

  test("curation hash state survives a checkpointed restart") {
    // memory sinks don't support recovery; file source -> parquet sink,
    // the same recoverable shape as StreamingDedupSpec's restart test
    val docs = corpus()
    val bench = CurationStream.benchIndex(spark, sf)
    val (first, second) = docs.splitAt(docs.length / 2)
    val base = java.nio.file.Files.createTempDirectory("cur_ckpt").toFile
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val outDir = new java.io.File(base, "out").getAbsolutePath
    val ckptDir = new java.io.File(base, "ckpt").getAbsolutePath

    def jsonl(rows: Seq[(Long, String, String)]): String =
      rows.map { case (id, src, tx) =>
        s"""{"doc_id":$id,"source":"$src","text":"$tx"}""" // [a-z ] corpus: no escaping
      }.mkString("\n")
    def start() = {
      val src = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .json(srcDir.getAbsolutePath)
      CurationStream.curated(src, bench)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }

    java.nio.file.Files.write(new java.io.File(srcDir, "f1.json").toPath,
      jsonl(first).getBytes)
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // NEW query instance, same checkpoint: hashes kept in run 1 must
    // stay occupied so run-2 duplicates of run-1 docs are suppressed
    java.nio.file.Files.write(new java.io.File(srcDir, "f2.json").toPath,
      jsonl(second).getBytes)
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()

    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("bucket"),
        r.getAs[String]("split"))).toSet
    assert(streamed == batchRows(),
      s"post-restart stream diverged from batch cur1 (${streamed.size} rows)")
  }
}
