package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.SemanticDedupStream
import graft.streaming.SemanticDedupStream.EmbRow

/** The streaming semantic-dedup leg must agree EXACTLY with batch dd7
  * on the same corpus and the same offline-trained model: identical
  * cell assignment (scalar-for-scalar arithmetic twin), identical
  * verdicts — n_near, max_cos and keep included — when fed id-monotone
  * with the cap disengaged. dd7 is DuckDB-oracle-checked, so this
  * equivalence makes the streaming path transitively oracle-verified
  * (the same argument as the CurationStream near-dup leg vs cur2). */
class StreamingSemanticDedupSpec extends AnyFunSuite {
  import TestSpark._

  private val embEnc = Encoders.product[EmbRow]

  private def corpus(): Seq[EmbRow] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => EmbRow(r.getLong(0), r.getSeq[Double](1)))
      .toSeq.sortBy(_.vec_id)

  /** Batch dd7 rows keyed for set comparison; max_cos via Option so
    * null (no near neighbor) compares cleanly. */
  private def batchRows(): Set[(Long, Long, Long, Option[Double], Boolean)] =
    graft.ops.Similarity.dd7SemanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
      .toSet

  private def streamedRows(table: String): Set[(Long, Long, Long, Option[Double], Boolean)] =
    spark.table(table).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
      .toSet

  test("streaming semantic dedup equals batch dd7 exactly (n_near, max_cos, keep)") {
    val embs = corpus()
    val cents = graft.ops.Similarity.flatCentroids(spark, sf)
    assert(cents.length > 1, "model must have multiple cells")
    val batch = batchRows()
    assert(batch.exists(!_._5), "corpus must contain semantic near-dups")
    val input = MemoryStream[EmbRow](embEnc, spark)
    val q = SemanticDedupStream.verdicts(input.toDF(), cents)
      .writeStream.format("memory").queryName("sem_stream")
      .outputMode("append").start()
    try {
      // three micro-batches in id order: cross-batch near-dups must be
      // caught by persisted cell state
      embs.grouped(math.max(1, embs.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = streamedRows("sem_stream")
      assert(streamed == batch,
        s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
    } finally q.stop()
  }

  test("cell state survives a checkpointed restart (cross-restart near-dups caught)") {
    val embs = corpus()
    val cents = graft.ops.Similarity.flatCentroids(spark, sf)
    val batch = batchRows()
    val (first, second) = embs.splitAt(embs.length / 2)
    // the restart must have near-dup work to do: some second-half
    // vector must be dropped against a first-half anchor
    val firstIds = first.map(_.vec_id).toSet
    assert(batch.exists(r => !r._5 && !firstIds.contains(r._1)),
      "second half must contain near-dups of first-half vectors")
    val base = java.nio.file.Files.createTempDirectory("sem_ckpt").toFile
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val outDir = new java.io.File(base, "out").getAbsolutePath
    val ckptDir = new java.io.File(base, "ckpt").getAbsolutePath
    def jsonl(rows: Seq[EmbRow]): String =
      rows.map(r => s"""{"vec_id":${r.vec_id},"v":[${r.v.mkString(",")}]}""")
        .mkString("\n")
    def start() = {
      val src = spark.readStream
        .schema("vec_id LONG, v ARRAY<DOUBLE>")
        .json(srcDir.getAbsolutePath)
      SemanticDedupStream.verdicts(src, cents)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }
    java.nio.file.Files.write(new java.io.File(srcDir, "f1.json").toPath,
      jsonl(first).getBytes)
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // NEW query instance, same checkpoint: second-half near-dups of
    // first-half vectors must still be caught by the restored cells
    java.nio.file.Files.write(new java.io.File(srcDir, "f2.json").toPath,
      jsonl(second).getBytes)
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
  }

  test("json round-trip of v preserves doubles exactly") {
    // the checkpoint test rides JSON — a lossy double rendering would
    // silently turn the exact-equivalence assertion into luck. Seq.toString
    // via mkString uses Java's shortest-round-trip Double.toString, so
    // parse-back must be the identical bits.
    val embs = corpus().take(20)
    embs.foreach { r =>
      r.v.foreach { d =>
        assert(java.lang.Double.parseDouble(d.toString) == d)
      }
    }
  }

  test("cell cap bounds an adversarial replica cell without changing verdicts (cap=4 ≡ uncapped)") {
    // The regime the cap exists for: 40 near-identical embeddings (one
    // component nudged per replica, cosine ≈ 1 pairwise) piling into
    // one cell. Uncapped state holds 40 vectors and does 40²/2
    // compares; at cap=4 it holds 4 and does ≤ 4·40 — and the keep
    // verdicts must be IDENTICAL (the min-id anchor suffices: every
    // replica matches the earliest one).
    val dim = 16
    val base = Seq.tabulate(dim)(j => math.sin(j + 1) + 2.0)
    val docs = (0 until 40).map { i =>
      EmbRow(1000L + i, base.updated(3, base(3) + i * 1e-7))
    }
    // model trained elsewhere (any centroids work — replicas co-locate
    // wherever they land); two arbitrary distinct cells
    val cents: Array[Seq[Long]] = Array(
      Seq.tabulate(dim)(j => (j % 7).toLong),
      Seq.tabulate(dim)(j => ((j + 3) % 5).toLong))
    def run(cap: Int, name: String): Set[(Long, Boolean)] = {
      spark.conf.set(SemanticDedupStream.CellCap.key, cap.toString)
      try {
        val input = MemoryStream[EmbRow](embEnc, spark)
        val q = SemanticDedupStream.verdicts(input.toDF(), cents)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val (a, b) = docs.splitAt(20)
          input.addData(a); q.processAllAvailable()
          input.addData(b); q.processAllAvailable()
          spark.table(name).collect().map(r => (r.getLong(0), r.getBoolean(4))).toSet
        } finally q.stop()
      } finally spark.conf.unset(SemanticDedupStream.CellCap.key)
    }
    val uncapped = run(1 << 30, "sem_adv_u")
    val capped = run(4, "sem_adv_c")
    assert(uncapped.count(!_._2) == 39,
      s"all but the min-id replica must be dropped: $uncapped")
    assert(capped == uncapped, "cap=4 changed verdicts on the replica cell")
  }
}
