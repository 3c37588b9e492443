package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Similarity

/** Streaming ANN SERVING: a live stream of query vectors answered
  * against the trained IVF-PQ index, top-k per query, one served
  * result set per micro-batch — the resident-service shape the
  * reference deploys as (`faust_app/ma_agg.py:83-91` is an always-on
  * job answering whatever arrives, not a batch sweep), applied to the
  * engine's ANN tier.
  *
  * Deployment shape (the 100 TB serving reality):
  *  - the MODEL is trained OFFLINE and loaded once per serving session
  *    ([[graft.ops.ModelStore.loadIvfPq]] — quantizer + codebooks +
  *    coarse/fine centroids); the serving job never pays the Lloyd/PQ
  *    loops. The corpus index (cell-assigned, PQ-coded) is the static
  *    side; query vectors are the stream.
  *  - each micro-batch of queries runs through
  *    [[Similarity.sim6ServeQueries]] — the SAME body batch knn2/ir3
  *    rank through, so the tiers cannot drift (the SessionStream
  *    move): probe selection against the driver-held centroid matrix,
  *    compressed-domain ADC shortlist over probed cells only, exact
  *    rerank on the shortlist. A query batch BROADCASTS onto the coded
  *    corpus; the corpus never shuffles per batch.
  *  - `foreachBatch` is the right Structured Streaming construct here,
  *    not `flatMapGroupsWithState`: serving is per-query-set ranking
  *    against a STATIC indexed corpus — there is no cross-batch
  *    keyed state to hold (the index IS the state, and it lives in
  *    the model registry + parquet, not in the stream) — and the
  *    micro-batch boundary is exactly the service's natural batching.
  *    Checkpointing gives exactly-once batch ids; a restart re-serves
  *    only the uncommitted batch (AnnServeSpec pins recovery).
  *
  * Determinism: [[Similarity.sim6ServeQueries]] derives each query's
  * grid/probe columns from its raw vector with the corpus assignment's
  * exact scalar sequence, so a query that is a corpus vector returns
  * the bit-identical top-k list batch [[Similarity.sim6TopK]] emits —
  * AnnServeSpec asserts list equality and the knn2 vote equality on
  * the same queries. */
object AnnServeStream {

  val ShufflePartitions = graft.Setting.int("graft.serve.shufflePartitions", Some(8), min = 1)
  /** `cap + 1` rows are collected to tell a batch over the cap, see [[serve]] */
  val MaxBatchRows =
    graft.Setting.int("graft.serve.maxBatchRows", Some(100000), min = 0, max = Int.MaxValue - 1)

  /** Start the serving query: `queries` is a STREAMING (qid, v)
    * relation; each micro-batch is answered with the top-`k` corpus
    * neighbors per query — (qid, vec_id, cos, rank) — and handed to
    * `sink` with its batch id (exactly-once under checkpointing when
    * the sink is idempotent by batch id, the standard foreachBatch
    * contract). The model for `corpusDir` must already be registered
    * in the serving session (ModelStore.loadIvfPq, or in-process
    * training on first use).
    *
    * `excludeSelf`: an external serving client owns its qid space, so
    * by DEFAULT a qid that happens to equal a corpus vec_id does NOT
    * suppress that corpus vector from the client's top-k. Pass
    * `excludeSelf = true` only when qids ARE corpus vec_ids and
    * reflexive hits are unwanted — the knn2/sim6 batch contract
    * (AnnServeSpec serves corpus vectors under that flag to pin
    * bit-equality with batch sim6TopK). */
  def serve(queries: DataFrame, corpusDir: String, k: Int,
      checkpointDir: String, excludeSelf: Boolean = false)
      (sink: (Long, DataFrame) => Unit): StreamingQuery = {
    // the corpus side (cell-assigned, PQ-coded) is STATIC for the life
    // of the serving query — pin it once so micro-batches pay only
    // their own ranking, not a per-batch corpus coding scan (measured
    // at sf1: 4.4 s/batch unpinned → the ranking fraction pinned)
    Similarity.pinServedCorpus(queries.sparkSession, corpusDir)
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // serve plans are small and fixed-shape with every broadcast
        // explicit: AQE's per-stage re-planning is pure driver latency
        // here (measured: no task-count win, extra materialization
        // jobs), and a session-wide shuffle width sized for batch
        // analytics is overkill for a per-batch candidate shuffle.
        // Both confs land on the STREAMING-clone session foreachBatch
        // hands us — the user's session is untouched.
        val ss = batch.sparkSession
        ss.conf.set("spark.sql.adaptive.enabled", "false")
        ss.conf.set("spark.sql.shuffle.partitions", ShufflePartitions(ss).toLong)
        // A query batch is tiny BY CONTRACT (it broadcasts onto the
        // corpus), so materialize it once on the driver: a foreachBatch
        // DataFrame re-executes its source plan on EVERY action (the
        // old persist+isEmpty dance), and a LocalRelation feeds the
        // ranking's query side with zero scan tasks per downstream job.
        // The contract is ENFORCED, not assumed: limit(cap+1) bounds
        // what the driver can ever hold, and a burst past the cap
        // degrades to the distributed persist path instead of an OOM.
        val cap = MaxBatchRows(ss)
        val rows = batch.limit(cap + 1).collect()
        // empty triggers happen (timer/startup batches) — skip them
        if (rows.length > cap) {
          // oversized batch (misconfigured source or a genuine burst):
          // serve it distributed — slower per query, but bounded driver
          // memory; the sink contract (consume within the call) makes
          // the unpersist safe
          val big = batch.persist()
          try sink(batchId, Similarity.sim6ServeQueries(
            ss, corpusDir, big, k, excludeSelf))
          finally { big.unpersist(false); () }
        } else if (rows.nonEmpty) {
          // ONE-partition RDD, not a LocalRelation: LocalTableScanExec
          // parallelizes to defaultParallelism, so each broadcast build
          // over the batch was a 32-task job for 125 rows
          val local = ss.createDataFrame(
            ss.sparkContext.parallelize(rows.toSeq, 1), batch.schema)
          sink(batchId, Similarity.sim6ServeQueries(
            ss, corpusDir, local, k, excludeSelf))
        }
      }
      .start()
  }

  /** Convenience for sinks that append to a parquet directory — the
    * idempotent-by-batch-id file layout (one subdirectory per batch,
    * overwritten on re-serve after a restart, so replays cannot
    * duplicate). */
  def serveToParquet(queries: DataFrame, corpusDir: String, k: Int,
      checkpointDir: String, outDir: String,
      excludeSelf: Boolean = false): StreamingQuery =
    serve(queries, corpusDir, k, checkpointDir, excludeSelf) { (batchId, hits) =>
      hits.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }
}
