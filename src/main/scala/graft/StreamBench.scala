package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.{ModelStore, Similarity}
import graft.streaming.{AnnServeStream, DedupStream, SemanticDedupStream}

/** Measures the streaming legs at scale on the RocksDB state store —
  * the three numbers the MemoryStream specs cannot give: sustained
  * ROWS/S over a replayed corpus, STATE SIZE (rows + bytes, RocksDB
  * SST footprint) after the corpus has streamed through, and
  * RECOVERY TIME across a checkpointed mid-stream restart (a fresh
  * query instance re-opening the same checkpoint, i.e. the
  * executor-loss / redeploy path).
  *
  * Protocol per leg: the input table is written as 16 parquet files
  * into a staging dir; 8 move into the watched source dir and stream
  * through (throughput + state measured there); the query STOPS
  * mid-stream; one more file moves in and a NEW query instance on the
  * same checkpoint times its first batch (recovery = state reload +
  * one steady-state batch — reported next to the pre-stop mean batch
  * for comparison); the remaining 7 then stream through the restarted
  * query (post-restart throughput, loss/duplication visible in row
  * counts). Output: one `[streambench]` line per measurement and a
  * final JSON artifact line.
  *
  * Legs:
  *  - `dedup`     [[DedupStream.nearDupPairs]] over documents —
  *                MinHash-banded keyed state (bucket member lists)
  *  - `semdedup`  [[SemanticDedupStream.verdicts]] over embeddings —
  *                per-cell member state under the offline flat model
  *  - `annserve`  [[AnnServeStream]] over query vectors vs the
  *                ModelStore-loaded IVF-PQ index — stateless
  *                foreachBatch (state = the index, in the registry),
  *                so its "state" numbers are ~0 by design and recovery
  *                is checkpoint batch-id replay only
  *
  * Usage: runMain graft.StreamBench <sfDir> <leg|all> [workDir]
  * (workDir holds staging/source/checkpoint dirs and the trained
  * models; reusing one skips the model training setup). */
object StreamBench {

  private final case class LegResult(
      leg: String, rows: Long, outRows: Long, wallS: Double,
      rowsPerS: Double, meanBatchS: Double, recoveryS: Double,
      stateRows: Long, providerMemBytes: Long, rocksdbSstBytes: Long,
      ckptStateBytes: Long) {
    /** durable bytes per state row — the number that scales to 100 TB
      * (provider memory is a bounded cache, not state size) */
    def sstBytesPerRow: Double =
      if (stateRows == 0) 0.0 else rocksdbSstBytes.toDouble / stateRows
    /** sst figure is a MAINTENANCE-THREAD snapshot — a leg that
      * finishes before the first snapshot cut reports 0 with non-empty
      * state, which is a timing artifact, not a size; emit null there
      * so automated consumers cannot mistake it (advice r11) */
    def sstIsStale: Boolean = rocksdbSstBytes == 0 && stateRows > 0
    def ckptBytesPerRow: Double =
      if (stateRows == 0) 0.0 else ckptStateBytes.toDouble / stateRows
  }

  /** recursive byte size of the checkpoint's state directory —
    * changelogs + uploaded snapshots, i.e. the ACTUAL durable
    * footprint a deployment pays for this state, counted from the
    * files themselves so it can never read 0 for non-empty state
    * (unlike the sst gauge, which waits on the maintenance thread) */
  private def ckptStateBytes(ckptDir: String): Long = {
    val root = Paths.get(ckptDir, "state")
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val leg = args(1)
    val work = if (args.length > 2) args(2)
      else Files.createTempDirectory("graft_streambench_").toString
    val spark = Harness.session()
    // state shards are sized to STATE VOLUME, not to the core count:
    // every shard pays a changelog-commit fsync per batch (measured
    // at sf1: ~340 ms summed PER SHARD per batch — 10.9 s across 32,
    // dwarfing the 2.5 s of actual update work), so over-sharding
    // 74k state rows across 32 RocksDB instances made every leg
    // commit-bound. 8 shards ≈ 9k rows each here; a 100 TB deployment
    // picks the shard count from projected state rows the same way
    // (state partitioning is fixed at first checkpoint — it is a
    // deliberate capacity decision, not a parallelism default).
    // SPARK_GRAFT_STREAM_SHARDS overrides for the shard-sizing
    // sweeps (state partitioning is fixed at first checkpoint, so
    // the knob must be set before a leg's first run)
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SHARDS", "8"))
    // cut snapshots every 15 s instead of the 60 s default so the
    // sst gauge has a chance to be fresh on legs longer than a
    // snapshot interval (shorter legs report null — see sstIsStale)
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "15s")
    // bound the provider's block-cache/memtable memory so the
    // reported in-memory figure is a configured design property, not
    // an unbounded cache high-water mark (round-10's 262 MB read as
    // "state size" when the durable state was 29.6 MB of SSTs)
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", "512")

    val legs =
      if (leg == "all")
        Seq("dedup", "dedup4", "semdedup", "semdedup4", "annserve", "annserve500")
      else Seq(leg)
    val results = legs.map {
      case "dedup" => runDedup(spark, sfDir, s"$work/dedup")
      // the dedup amortization leg (see annserve500): 4 files/trigger
      // spreads the per-trigger floor over 4× the documents
      case "dedup4" => runDedup(spark, sfDir, s"$work/dedup4", 4)
      case "semdedup" => runSemDedup(spark, sfDir, s"$work/semdedup")
      case "semdedup4" => runSemDedup(spark, sfDir, s"$work/semdedup4", 4)
      case "annserve" => runAnnServe(spark, sfDir, s"$work/annserve", 125)
      // the amortization leg: the per-trigger floor (offset/WAL commits
      // + job machinery, ~0.25-0.3 s) is a property of micro-batching,
      // not of the ranking — a serving deployment sizes its batches to
      // amortize it, so measure the SAME pipeline at 4× the batch size
      case "annserve500" => runAnnServe(spark, sfDir, s"$work/annserve500", 500)
      // further operating-curve points (batch-size → q/s + batch
      // latency frontier, SCALE.md): 1000 fits sf1's 20k vectors,
      // 2000 needs sf10's corpus (stage() limits to 16·perFile rows)
      case "annserve1000" => runAnnServe(spark, sfDir, s"$work/annserve1000", 1000)
      case "annserve2000" => runAnnServe(spark, sfDir, s"$work/annserve2000", 2000)
      case other =>
        sys.error(s"unknown leg '$other' (dedup|dedup4|semdedup|semdedup4|annserve|annserve500|annserve1000|annserve2000|all)")
    }
    // provider_mem_bytes is the RocksDB block-cache/memtable footprint
    // (BOUNDED by maxMemoryUsageMB above — a cache, not state);
    // durable state size is rocksdb_sst_bytes, legible per-row as
    // sst_bytes_per_row. Round 10 published the provider figure as
    // "state_mem_bytes" and it read as 3.5 KB/row of state; the
    // durable figure is ~400 B/row.
    val js = results.map { r =>
      // a 0-byte sst gauge with non-empty state is a snapshot-timing
      // artifact → null, never a misleading 0.0; ckpt_state_bytes (the
      // changelog+snapshot file bytes) is the always-valid durable
      // column
      val sstCols =
        if (r.sstIsStale) s""""rocksdb_sst_bytes":null,"sst_bytes_per_row":null,"""
        else s""""rocksdb_sst_bytes":${r.rocksdbSstBytes},""" +
          s""""sst_bytes_per_row":${f"${r.sstBytesPerRow}%.1f"},"""
      s"""{"leg":"${r.leg}","rows":${r.rows},"out_rows":${r.outRows},""" +
        s""""wall_s":${f"${r.wallS}%.2f"},"rows_per_s":${f"${r.rowsPerS}%.0f"},""" +
        s""""mean_batch_s":${f"${r.meanBatchS}%.3f"},"recovery_s":${f"${r.recoveryS}%.2f"},""" +
        s""""state_rows":${r.stateRows},"provider_mem_bytes":${r.providerMemBytes},""" +
        sstCols +
        s""""ckpt_state_bytes":${r.ckptStateBytes},""" +
        s""""ckpt_bytes_per_row":${f"${r.ckptBytesPerRow}%.1f"}}"""
    }.mkString("[", ",", "]")
    println(s"""{"streambench":"$sfDir","cpus":${Harness.cpus},"legs":$js}""")
    spark.stop()
  }

  // ---- shared replay machinery -------------------------------------

  /** write `df` as exactly 16 parquet files under staging/ and return
    * (staging file list, watched source dir) */
  private def stage(df: DataFrame, work: String): (Seq[Path], String) = {
    val staging = s"$work/staging"
    val src = s"$work/src"
    df.repartition(16).write.mode("overwrite").parquet(staging)
    Files.createDirectories(Paths.get(src))
    val files = java.nio.file.Files.list(Paths.get(staging)).toArray
      .map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sorted.toSeq
    (files, src)
  }

  private def moveIn(files: Seq[Path], src: String): Unit =
    files.foreach { f =>
      Files.move(f, Paths.get(src, f.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)
      ()
    }

  /** drain everything currently in the source, returning (wall s,
    * input rows, mean batch s) from the engine's own progress log */
  private def drain(q: StreamingQuery): (Double, Long, Double) = {
    val before = q.recentProgress.map(_.batchId).toSet
    val t0 = System.nanoTime()
    q.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    val newP = q.recentProgress.filterNot(p => before(p.batchId))
      .filter(_.numInputRows > 0)
    if (sys.env.contains("SPARK_GRAFT_STREAM_DEBUG")) newP.foreach { p =>
      println(s"[streambench-debug] batch ${p.batchId} rows=${p.numInputRows} " +
        s"durations=${p.durationMs}")
      if (sys.env.get("SPARK_GRAFT_STREAM_DEBUG").contains("full"))
        println(s"[streambench-debug-full] ${p.json}")
    }
    val rows = newP.map(_.numInputRows).sum
    val batchS =
      if (newP.isEmpty) 0.0
      else newP.map(_.durationMs.get("triggerExecution").toDouble).sum /
        newP.length / 1000.0
    (wall, rows, batchS)
  }

  /** final state-operator totals from the last progress that has any */
  private def stateOf(q: StreamingQuery): (Long, Long, Long) = {
    val ops = q.recentProgress.reverse.map(_.stateOperators)
      .find(_.nonEmpty).getOrElse(Array.empty)
    val rows = ops.map(_.numRowsTotal).sum
    val mem = ops.map(_.memoryUsedBytes).sum
    val sst = ops.map { op =>
      Option(op.customMetrics.get("rocksdbSstFileSize"))
        .map(_.longValue).getOrElse(0L)
    }.sum
    (rows, mem, sst)
  }

  /** the shared protocol: 8 files → measure → stop → +1 file under a
    * NEW query (recovery) → +7 files → totals */
  private def protocol(leg: String, files: Seq[Path], src: String,
      ckptDir: String, start: () => StreamingQuery,
      outRows: () => Long): LegResult = {
    moveIn(files.take(8), src)
    val q1 = start()
    val (wall1, rows1, batch1) = try drain(q1) finally ()
    val (sRows1, sMem1, sSst1) = stateOf(q1)
    q1.stop()
    println(f"[streambench] $leg first-half: $rows1 rows in $wall1%.2f s " +
      f"(${rows1 / math.max(wall1, 1e-9)}%.0f rows/s, mean batch $batch1%.3f s); " +
      s"state rows=$sRows1 mem=$sMem1 sst=$sSst1")

    moveIn(files.slice(8, 9), src)
    val q2 = start()
    val t0 = System.nanoTime()
    q2.processAllAvailable()
    val recovery = (System.nanoTime() - t0) / 1e9
    println(f"[streambench] $leg recovery (restart + 1-file batch): $recovery%.2f s " +
      f"vs pre-stop mean batch $batch1%.3f s")

    moveIn(files.drop(9), src)
    val (wall2, rows2, batch2) = drain(q2)
    val (sRows, sMem, sSst) = stateOf(q2)
    q2.stop()
    // rows accounting: q2's progress log covers the recovery batch AND
    // the second half — q1's covers the first half
    val total = rows1 + q2.recentProgress.filter(_.numInputRows > 0)
      .map(_.numInputRows).sum
    val wall = wall1 + recovery + wall2
    val res = LegResult(leg, total, outRows(), wall,
      total / math.max(wall, 1e-9), (batch1 + batch2) / 2, recovery,
      sRows, sMem, sSst, ckptStateBytes(ckptDir))
    println(f"[streambench] $leg TOTAL: ${res.rows} rows → ${res.outRows} out " +
      f"in ${res.wallS}%.2f s = ${res.rowsPerS}%.0f rows/s; " +
      s"final state rows=${res.stateRows} providerMem=${res.providerMemBytes} " +
      f"sst=${res.rocksdbSstBytes} (${res.sstBytesPerRow}%.1f B/row) " +
      f"ckptState=${res.ckptStateBytes} (${res.ckptBytesPerRow}%.1f B/row)")
    res
  }

  // ---- legs ---------------------------------------------------------

  private def runDedup(spark: SparkSession, sfDir: String, work: String,
      mfpt: Int = 1): LegResult = {
    val (files, src) = stage(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")), work)
    val out = new java.util.concurrent.atomic.AtomicLong(0)
    def start() = DedupStream.nearDupPairs(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", mfpt.toString).parquet(src))
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[DedupStream.DupPair], _: Long) =>
        out.addAndGet(b.count()); ()
      }
      .start()
    protocol(if (mfpt == 1) "dedup" else s"dedup$mfpt",
      files, src, s"$work/ckpt", () => start(), () => out.get())
  }

  private def runSemDedup(spark: SparkSession, sfDir: String, work: String,
      mfpt: Int = 1): LegResult = {
    // offline model (untimed setup — the deployment trains this once)
    val centroids = Similarity.flatCentroids(spark, sfDir)
    val (files, src) = stage(
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")), work)
    val out = new java.util.concurrent.atomic.AtomicLong(0)
    def start() = SemanticDedupStream.verdicts(
      spark.readStream.schema("vec_id LONG, v ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", mfpt.toString).parquet(src),
      centroids)
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[SemanticDedupStream.SemVerdict], _: Long) =>
        out.addAndGet(b.count()); ()
      }
      .start()
    protocol(if (mfpt == 1) "semdedup" else s"semdedup$mfpt",
      files, src, s"$work/ckpt", () => start(), () => out.get())
  }

  private def runAnnServe(spark: SparkSession, sfDir: String, work: String,
      perFile: Int): LegResult = {
    // offline: train + persist once per workDir, load into the registry
    val modelDir = s"$work/models"
    if (!Files.exists(Paths.get(modelDir, "ivf_meta"))) {
      Similarity.resetModelRegistry()
      ModelStore.saveIvfPq(spark, sfDir, modelDir)
    }
    Similarity.resetModelRegistry()
    ModelStore.loadIvfPq(spark, sfDir, modelDir)
    // query stream: the 16·perFile smallest-id corpus vectors as
    // external (qid, v) requests, ~perFile per micro-batch under
    // maxFilesPerTrigger=1 (an id-range filter silently under-selects
    // on ScaleGen fixtures, whose replica vec_ids are offset-sparse)
    val (files, src) = stage(
      Tables.embeddings(spark, sfDir).orderBy(col("vec_id")).limit(16 * perFile)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("v")), work)
    val out = new java.util.concurrent.atomic.AtomicLong(0)
    def start() = AnnServeStream.serve(
      spark.readStream.schema("qid LONG, v ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", "1").parquet(src),
      sfDir, 10, s"$work/ckpt") { (_, hits) =>
      out.addAndGet(hits.count()); ()
    }
    protocol(if (perFile == 125) "annserve" else s"annserve$perFile",
      files, src, s"$work/ckpt", () => start(), () => out.get())
  }
}
