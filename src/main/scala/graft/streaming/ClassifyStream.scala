package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.ops.Similarity

/** Streaming weak labeling: batch cls1's nearest-centroid (Rocchio)
  * assignment run on ingest — the classify-as-you-crawl leg that tags
  * every arriving embedding with its closest class the moment it
  * lands, feeding routing/quota decisions (per-class mixture budgets,
  * junk-class drops) without waiting for a batch pass.
  *
  * Deployment shape (TokenizeStream's argument, one size smaller): the
  * centroid model is trained OFFLINE over a corpus snapshot —
  * [[graft.ops.Similarity.cls1Train]], one label-keyed integer sketch
  * aggregate — and ships to executors as plan literals through the
  * codegen'd [[graft.functions.MatrixDots.compute]]
  * (label-cardinality × 64 doubles: the smallest closure-held model in
  * this repo; a 1000-class production model is still ~KBs). Online,
  * each arrival is ONE stateless narrow map —
  * quantize to the 512 grid, |labels| dots, argmax with
  * smallest-label ties — zero shuffle, zero state, so throughput is
  * scan-bound and scales with input partitions alone.
  * StreamingClassifySpec pins the no-state/no-Exchange plan and
  * streaming ≡ batch cls1 row equality (so the leg is transitively
  * DuckDB-verified through cls1's oracle).
  */
object ClassifyStream {

  /** Classify vectors (`vec_id`, `label`, `v: array<double>`) under an
    * offline-trained centroid model. Pure stateless projection: works
    * identically on a streaming or batch DataFrame. */
  def classified(vecs: DataFrame, model: Similarity.CentroidModel): DataFrame =
    Similarity.cls1Classify(vecs, model)
}
