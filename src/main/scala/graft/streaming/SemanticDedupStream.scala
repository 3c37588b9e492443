package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ops.Similarity

/** Streaming SEMANTIC dedup: batch dd7's SemDeDup rule (cluster the
  * embedding space, drop every vector with a smaller-id same-cell
  * neighbor at cosine ≥ τ) run INCREMENTALLY on ingest — the embedding
  * leg that completes the curate-on-ingest story next to
  * [[CurationStream]] (lexical near-dups) and [[DedupStream]] (banded
  * MinHash pairs): paraphrase-duplicates that share no shingles are
  * structurally invisible to both, and this leg catches them the
  * moment they arrive.
  *
  * Deployment shape (the SemDeDup reality at 100 TB): the k-means
  * quantizer is trained OFFLINE over a corpus snapshot
  * ([[Similarity.flatCentroids]] — the identical integer-grid Lloyd
  * loop as batch dd7, so the model IS dd7's model for any corpus in
  * the flat regime, i.e. desired cells ≤ min(flatMaxK, maxK); past
  * that boundary batch dd7 goes hierarchical while this closure-held
  * model clamps at the flat cap — a COARSER partition (more members
  * per cell, so more candidate comparisons per arrival; the two
  * models' cell boundaries differ, so verdicts past the boundary are
  * approximate-equivalent, not row-identical — the documented trade
  * for keeping the online assignment a closure-local argmax with no
  * per-arrival join) and shipped to
  * executors inside the plan's serialized closure (K×64 doubles — a
  * few MB at the flat cap, the same argument as the batch MatrixDots
  * reference object). Online, each arrival is:
  *  - a NARROW map: norm + integer-grid quantize + argmax cell against
  *    the closure-held centroid matrix — zero shuffle, the streaming
  *    twin of batch dd7's assignment scan, with the IDENTICAL scalar
  *    sequence (strict left-to-right double dot under one sqrt; floor
  *    per element; first-index argmax) so cell ids are bit-equal;
  *  - ONE keyed shuffle on the cell id into `flatMapGroupsWithState`,
  *    where per-cell state holds the cell's (id, v, nrm) members and
  *    the verdict compares the arrival against ONLY its cell — the
  *    whole SemDeDup point: candidate comparisons, never corpus
  *    comparisons. State partitions across executors by cell exactly
  *    like batch dd7's equi-join shuffle.
  *
  * Verdict semantics: `keep = false` iff some member with a SMALLER id
  * present at probe time scores floorE6-cosine ≥ τ (= 0.45, dd7's
  * threshold); `n_near`/`max_cos` count/maximize over those members —
  * the batch columns. Members anchor UNCONDITIONALLY (a dropped vector
  * still anchors later drops — batch dd7's rule, where every `da < db`
  * pair counts regardless of da's own verdict). Fed id-monotone (the
  * append-only ingest order) with the cap disengaged, the output is
  * EXACTLY batch [[Similarity.dd7SemanticDedup]] row for row —
  * n_near, max_cos and keep included — which is what
  * StreamingSemanticDedupSpec asserts; and since dd7 is DuckDB
  * oracle-checked, the streaming leg is transitively oracle-verified.
  * Under out-of-order arrival a vector is dropped only against
  * genuinely smaller-id members present at probe time (same contract
  * as [[CurationStream.curatedNearDup]]).
  *
  * State bounds: cells hold ≈ 4·target members BY CONSTRUCTION when
  * arrivals follow the training distribution (the K∝N trainer's
  * invariant), but a drifting or adversarial stream can pile into one
  * cell — so each cell's member list is capped at its `cellCap` MIN-ID
  * members ([[CellCap]], default 1024 ≫ the
  * ≈128 design occupancy; resolved once at plan-build time). Same
  * anchor-cap move as the cur2 band buckets: any smaller-id neighbor
  * at cos ≥ τ suffices to drop, and replica pile-ups match their
  * earliest member, so verdicts survive the cap on exactly the regime
  * that triggers it (spec'd: forced cap=4 ≡ uncapped on a 40-replica
  * cell). With the cap engaged, `n_near`/`max_cos` are computed over
  * the RETAINED anchors (keep is the robust column; the counts are
  * diagnostics). `ttlMs > 0` ages out cold cells wholesale — the same
  * finite-dedup-horizon contract as [[DedupStream]], and a TTL'd query
  * needs a real trigger interval (ProcessingTimeTimeout busy-loops an
  * untriggered query; see DedupStream's scaladoc).
  */
object SemanticDedupStream {

  final case class EmbRow(vec_id: Long, v: Seq[Double])
  final case class CellProbe(vec_id: Long, cell: Int, v: Seq[Double], nrm: Double)
  /** a cell's members flattened to primitive arrays, id-ASCENDING:
    * `vs` holds `dim` doubles per member in `ids` order. The obvious
    * `Seq[CellMember(id, v: Seq[Double], nrm)]` paid the nested-Seq
    * encoder (per-element boxing on every touched cell's full rewrite,
    * every batch — ~127 members × 64 doubles each here) plus an
    * O(m log m) re-sort per arrival; arrays ride UnsafeArrayData's
    * bulk copy and insert in place.
    *
    * STATE-FORMAT BREAK (round 11): this replaced `Seq[CellMember]`
    * (array<struct>) as the stored state schema — a pre-round-11
    * checkpoint fails Spark's StateSchemaCompatibilityChecker on
    * restart and must be discarded (replay into a fresh checkpoint);
    * see the identical note on [[graft.streaming.DedupStream.Bucket]]. */
  final case class Cell(ids: Array[Long], nrms: Array[Double],
      vs: Array[Double])
  final case class SemVerdict(vec_id: Long, cell: Long, n_near: Long,
      max_cos: Option[Double], keep: Boolean)

  val CellCap = graft.Setting.int("graft.semdedup.cellCap", Some(1024), min = 1)

  /** Strict left-to-right Σx² under one sqrt — [[graft.functions.DoubleDot]]
    * + `sqrt`'s scalar sequence (norm2), bit-identical doubles. */
  private[streaming] def norm(v: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    math.sqrt(acc)
  }

  /** Batch dd7's assignment arithmetic, scalar-for-scalar:
    * `uq[i] = floor(v[i]/‖v‖ · 512)` ([[graft.functions.QuantizeUnit.compute]]),
    * dots against the centroid matrix in doubles
    * ([[graft.functions.MatrixDots.compute]] — uq rides as exact whole-number
    * doubles, the cast the batch plan inserts), argmax with FIRST-index
    * tie-break (`array_position` returns the first occurrence). */
  private[streaming] def cellOf(v: Seq[Double], nrm: Double,
      cents: Array[Array[Double]]): Int = {
    val dim = v.length
    val uq = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      uq(j) = math.floor(v(j) / nrm * Similarity.IVF_Q).toLong.toDouble
      j += 1
    }
    var best = 0
    var bestD = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val row = cents(c)
      var acc = 0.0
      var k = 0
      while (k < dim) { acc += uq(k) * row(k); k += 1 }
      if (acc > bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  /** (vec_id, v: array<double>) stream → one [[SemVerdict]] per vector,
    * exactly once, append mode, checkpoint-recoverable. `centroids` is
    * the offline model from [[Similarity.flatCentroids]]. */
  def verdicts(embs: DataFrame, centroids: Array[Seq[Long]],
      ttlMs: Long = 0L): Dataset[SemVerdict] = {
    val spark = embs.sparkSession
    import spark.implicits._
    // both resolved ONCE at plan-build time and captured by the
    // closures — executors never read session confs
    val cents: Array[Array[Double]] = centroids.map(_.map(_.toDouble).toArray)
    val cellCap = CellCap(spark)
    val timeoutConf =
      if (ttlMs > 0L) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    embs
      .select(col("vec_id").cast("long"), col("v").cast("array<double>"))
      .as[EmbRow]
      .map { r =>
        val n = norm(r.v)
        CellProbe(r.vec_id, cellOf(r.v, n, cents), r.v, n)
      }
      .groupByKey(_.cell)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (cell: Int, rows: Iterator[CellProbe],
            state: GroupState[Cell]) => {
          if (state.hasTimedOut) {
            // cold cell past the dedup horizon: forget its members —
            // the next arrival re-creates the cell from scratch
            state.remove()
            Iterator.empty
          } else {
            // invariant: members are id-ascending and ≤ cellCap long —
            // the cell's min-id anchors among everything seen so far
            val c0 = state.getOption.getOrElse(Cell(Array.emptyLongArray,
              Array.emptyDoubleArray, Array.emptyDoubleArray))
            val ids = ArrayBuffer.empty[Long] ++= c0.ids
            val nrms = ArrayBuffer.empty[Double] ++= c0.nrms
            val vs = ArrayBuffer.empty[Double] ++= c0.vs
            // id order within the batch = batch dd7's da < db rule
            val out = rows.toSeq.sortBy(_.vec_id).map { p =>
              // every vector shares the corpus dim, so the probe's
              // length is the member stride (state-derived dim would
              // be 0 for a cell born this batch)
              val dim = p.v.length
              var nNear = 0L
              var maxCos = Double.NegativeInfinity
              // members are id-ascending: everything before the first
              // id ≥ vec_id is exactly the old `m.id < p.vec_id` set,
              // compared in the same (ascending-id) order
              var m = 0
              while (m < ids.length && ids(m) < p.vec_id) {
                var acc = 0.0
                var i = 0
                val off = m * dim
                while (i < dim) { acc += vs(off + i) * p.v(i); i += 1 }
                val c = math.floor(acc / (nrms(m) * p.nrm) * 1000000L) / 1e6
                if (c >= Similarity.DD7_TAU) {
                  nNear += 1
                  if (c > maxCos) maxCos = c
                }
                m += 1
              }
              val present = m < ids.length && ids(m) == p.vec_id
              // id-sorted insert keeps the cap MIN-ID (not first-seen):
              // a full cell admits a smaller id by evicting its max
              if (!present &&
                  (ids.lengthCompare(cellCap) < 0 || ids.last > p.vec_id)) {
                ids.insert(m, p.vec_id)
                nrms.insert(m, p.nrm)
                vs.insertAll(m * dim, p.v)
                if (ids.length > cellCap) {
                  ids.remove(cellCap)
                  nrms.remove(cellCap)
                  vs.remove(cellCap * dim, dim)
                }
              }
              SemVerdict(p.vec_id, cell.toLong, nNear,
                if (nNear > 0L) Some(maxCos) else None, keep = nNear == 0L)
            }
            if (ids.nonEmpty) {
              state.update(Cell(ids.toArray, nrms.toArray, vs.toArray))
              if (ttlMs > 0L) state.setTimeoutDuration(ttlMs)
            }
            out.iterator
          }
        })
  }
}
