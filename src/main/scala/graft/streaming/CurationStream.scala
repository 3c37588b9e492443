package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming curation: batch cur1's gate → exact-dedup → benchmark
  * decontamination → split assignment, run INCREMENTALLY on ingest —
  * the companion to [[DedupStream]] that completes the "curate as you
  * crawl" story: a document's keep/drop/split verdict is issued the
  * moment it arrives, instead of re-running batch curation over the
  * whole corpus per increment.
  *
  * Stage mapping (each reuses the batch-verified building block):
  *  - gate + content hash + shingles: [[graft.ops.Pipeline.curGate]],
  *    the IDENTICAL Column expressions as batch cur1 (shared code, so
  *    the two cannot drift) — stateless narrow maps, stream-safe as-is.
  *  - exact dedup: keyed state on the content hash `h`. Batch cur1
  *    keeps min(doc_id) per hash; the stream keeps the FIRST ARRIVAL
  *    (ingest rule), resolving within-micro-batch ties to min doc_id
  *    (batch rule). Fed in doc_id order — or any corpus in one batch —
  *    the two rules coincide exactly, which is what the spec asserts.
  *    State per hash is ONE boolean-sized record (contrast DedupStream,
  *    whose index holds signatures by design); it partitions by hash
  *    across executors like any streaming aggregation.
  *  - decontamination: dc1's rule — ≥ OVERLAP distinct shared 3-gram
  *    shingles with any single benchmark doc — evaluated per WINNER
  *    against a driver-built inverted index of the STATIC benchmark
  *    set (eval corpora are fixed, tiny-by-construction artifacts; at
  *    100 TB of training data the bench index is still a few MB that
  *    ships once per executor, the same argument as batch dc1's
  *    broadcast). Checking only dedup winners mirrors batch order:
  *    cur1 anti-joins the flagged set AFTER dedup, so a contaminated
  *    winner's duplicates are NOT resurrected — here, the winner
  *    occupies the hash state even when contamination then drops it.
  *  - split: smp1's pure content-hash bucketing — stateless.
  *
  * Emission is exactly-once per kept document (state dedups), append
  * mode, recoverable from a checkpoint (the spec proves a restart
  * preserves hash occupancy across runs).
  */
object CurationStream {

  final case class GatedDoc(doc_id: Long, source: String, n_tokens: Long,
      h: Long, sh: Seq[Long], rsh: Seq[Long])
  final case class Curated(doc_id: Long, source: String, n_tokens: Long,
      bucket: Long, split: String)
  /** A stage-A winner carrying its MinHash signature for the near-dup
    * leg (empty when the doc is too short to shingle). */
  final case class CuratedSig(doc_id: Long, source: String, n_tokens: Long,
      bucket: Long, split: String, sig: Seq[Long])
  /** One (band, bucket) probe of a winner against the incremental
    * banded index; `nBands` tells the verdict-assembly stage how many
    * probe verdicts to await (BANDS, or 1 for unshingleable docs). */
  final case class BandProbe(band: Int, bkey: Long, nBands: Int,
      doc: CuratedSig)
  final case class BandVerdict(nBands: Int, dup: Boolean, doc: Curated)
  /** The final per-document curation outcome: `kept = false` documents
    * are near-duplicates of an earlier-kept winner — emitted (not
    * silently dropped) so a downstream store can tombstone them; filter
    * on `kept` for the clean training stream. */
  final case class CurationVerdict(doc_id: Long, source: String,
      n_tokens: Long, bucket: Long, split: String, kept: Boolean)

  /** Inverted index of the static benchmark set: shingle hash → ids of
    * benchmark docs containing it (distinct by construction —
    * ShingleHashes dedups in place). Built once per query from the
    * batch tables; bounded by the benchmark corpus size. */
  def benchIndex(spark: SparkSession, dir: String): Map[Long, Seq[Long]] = {
    graft.functions.GraftFunctions.registerAll(spark)
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") < graft.ops.Pipeline.BENCH_DOCS)
      .select(col("doc_id"),
        explode(call_function("shingle_hashes", split(col("text"), " "), lit(3))).as("s"))
      .collect()
      .groupBy(_.getLong(1))
      .map { case (s, rows) => s -> rows.map(_.getLong(0)).toSeq }
  }

  /** dc1's verdict for one document against the inverted bench index:
    * true iff some single bench doc shares ≥ OVERLAP distinct shingles. */
  private def contaminated(sh: Seq[Long], bench: Map[Long, Seq[Long]]): Boolean = {
    val perBench = scala.collection.mutable.HashMap.empty[Long, Int]
    var hit = false
    val it = sh.iterator
    while (!hit && it.hasNext) {
      bench.getOrElse(it.next(), Nil).foreach { b =>
        val n = perBench.getOrElse(b, 0) + 1
        perBench.update(b, n)
        if (n >= graft.ops.Pipeline.OVERLAP) hit = true
      }
    }
    hit
  }

  /** (doc_id, source, text) stream → curated keep decisions. `bench` is
    * the static benchmark index from [[benchIndex]].
    *
    * `ttlMs > 0` bounds the hash state to a FINITE DEDUP HORIZON, the
    * same contract as [[DedupStream]]'s TTL: each arrival re-arms its
    * hash's processing-time timeout, a hash cold for `ttlMs` is
    * forgotten, and a duplicate arriving after the horizon is
    * re-admitted (by design — an unbounded crawl cannot hold every
    * content hash forever; the occupied state here is one boolean per
    * hash, ~16 bytes, so the horizon can be very long before this
    * matters). `ttlMs = 0` (default) keeps exact batch-cur1
    * equivalence. A TTL'd query needs a real trigger interval —
    * ProcessingTimeTimeout makes an untriggered query busy-loop (see
    * DedupStream's scaladoc). */
  def curated(docs: DataFrame, bench: Map[Long, Seq[Long]],
      ttlMs: Long = 0L): Dataset[Curated] = {
    val spark = docs.sparkSession
    import spark.implicits._
    winners(docs, bench, ttlMs)
      .map(w => Curated(w.doc_id, w.source, w.n_tokens, w.bucket, w.split))
  }

  /** Stage A — gate → exact dedup → contamination, emitting each
    * surviving winner exactly once WITH its MinHash signature (derived
    * from the gate's `rsh` column via [[DedupStream.signatureOf]] — the
    * same arithmetic as batch dd2, so the near-dup leg stays
    * batch-comparable). */
  private def winners(docs: DataFrame, bench: Map[Long, Seq[Long]],
      ttlMs: Long): Dataset[CuratedSig] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (ttlMs > 0L) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    graft.ops.Pipeline.curGate(docs)
      .as[GatedDoc]
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (h: Long, rows: Iterator[GatedDoc], state: GroupState[Boolean]) => {
          if (state.hasTimedOut) {
            // hash past the dedup horizon: forget it — the next
            // duplicate of this content is re-admitted as a new doc
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            // hash already kept (or kept-then-flagged); keep the
            // horizon rolling from the latest sighting
            if (ttlMs > 0L) state.setTimeoutDuration(ttlMs)
            Iterator.empty
          } else {
            // within-batch ties resolve to min doc_id — the batch rule
            val winner = rows.minBy(_.doc_id)
            state.update(true) // occupy the hash even if contamination drops it
            if (ttlMs > 0L) state.setTimeoutDuration(ttlMs)
            if (contaminated(winner.sh, bench)) Iterator.empty
            else {
              val bucket = java.lang.Math.floorMod(h, 100L)
              val split =
                if (bucket == 0L) "valid" else if (bucket == 1L) "test" else "train"
              Iterator.single(CuratedSig(winner.doc_id, winner.source,
                winner.n_tokens, bucket, split,
                DedupStream.signatureOf(winner.rsh)))
            }
          }
        })
  }

  /** The FULL streaming curation chain: [[curated]]'s gate → exact
    * dedup → contamination stage, plus the NEAR-DUP leg — DedupStream's
    * banded-MinHash index folded in, so the streaming path also drops
    * documents that are near-duplicates (est-Jaccard ≥ 0.5, dd2's
    * threshold) of an EARLIER-KEPT winner, the dc2/dd2 leg of the batch
    * curation story.
    *
    * Three chained `flatMapGroupsWithState` stages, all Append (the
    * combination Structured Streaming supports chaining):
    *  - stage A ([[winners]]): exact-dedup winners, exactly once, with
    *    signatures;
    *  - stage B: each winner fans out to its BANDS (band, bkey) probes
    *    ([[DedupStream.bandKeysOf]]); state per band bucket holds that
    *    bucket's (id, signature) members — identical index shape to
    *    [[DedupStream.nearDupPairs]], so candidate comparisons only,
    *    never corpus comparisons. Each probe emits a per-band verdict;
    *    rows inside one bucket process in doc_id order, so within-batch
    *    ties resolve to the batch rule (min id anchors). EVERY winner
    *    joins its buckets as a member — including near-dup-dropped ones
    *    — matching dd7's anchor semantics (a dropped doc still anchors
    *    later drops) and keeping the verdict independent of band
    *    evaluation order;
    *  - stage C: assembles the nBands per-band verdicts of each doc
    *    (keyed by doc_id; state is transient — removed on emission,
    *    which happens in the same micro-batch the probes arrive) into
    *    ONE [[CurationVerdict]]: kept=false iff ANY band matched an
    *    earlier member at est ≥ 0.5.
    *
    * Output is exactly-once per winner. `ttlMs` bounds BOTH stateful
    * indexes (content hashes and band buckets) to a finite dedup
    * horizon, same contract as [[DedupStream]]. At 100 TB the band
    * index partitions across executors by (band, bkey) exactly like
    * the batch LSH shuffle, and each document touches BANDS buckets —
    * candidate-sized state and candidate-sized compares on ingest.
    * Each bucket's member list is capped to its `bucketCap` MIN-ID
    * members (default [[graft.ops.Pipeline.BucketCap]], override
    * via the `graft.curation.bucketCap` session conf at plan-build
    * time) — the same anchor cap the batch twin applies — so one
    * viral-boilerplate bucket can neither grow state nor compare-cost
    * unboundedly: state is ≤ cap signatures per bucket and each probe
    * is ≤ cap estimates, at any corpus size.
    *
    * ARRIVAL-ORDER CONTRACT: the near-dup stage anchors on the MIN-ID
    * members seen SO FAR — i.e. it deduplicates on arrival. Equivalence
    * with the batch twin [[graft.ops.Pipeline.cur2CurationNearDup]]
    * (whose anchors are global min-id) therefore holds for id-monotone
    * ingestion (each micro-batch's ids ≥ every earlier batch's ids —
    * the natural order for an append-only ingest log, and what
    * StreamingCurationSpec feeds). Under out-of-order arrival the
    * stream still drops a doc only against genuinely earlier-id
    * members present at probe time (a smaller-id winner arriving LATER
    * cannot retroactively tombstone an already-emitted verdict), which
    * is the strictest contract an append-mode exactly-once stream can
    * honor. */
  def curatedNearDup(docs: DataFrame, bench: Map[Long, Seq[Long]],
      ttlMs: Long = 0L): Dataset[CurationVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (ttlMs > 0L) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    // resolved ONCE at plan-build time and captured by the state
    // closure — executors never read session confs
    val bucketCap = graft.ops.Pipeline.BucketCap(spark)
    val probes = winners(docs, bench, ttlMs).flatMap { w =>
      if (w.sig.isEmpty)
        // unshingleable doc: no signature, near-dups nothing — one
        // synthetic solo probe (unique key) so stage C still sees it
        Seq(BandProbe(-1, w.doc_id, 1, w))
      else DedupStream.bandKeysOf(w.sig).map { case (b, k) =>
        BandProbe(b, k, DedupStream.BANDS, w)
      }
    }
    val verdicts = probes
      .groupByKey(p => (p.band, p.bkey))
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (_: (Int, Long), rows: Iterator[BandProbe],
            state: GroupState[Seq[DedupStream.Member]]) => {
          if (state.hasTimedOut) {
            // cold bucket past the dedup horizon: forget its members
            state.remove()
            Iterator.empty
          } else {
            // invariant: members is id-ascending and ≤ bucketCap long —
            // the bucket's min-id anchors among everything seen so far
            var members = state.getOption.getOrElse(Seq.empty)
            // doc_id order = the batch min-id anchor rule within a batch
            val out = rows.toSeq.sortBy(_.doc.doc_id).map { p =>
              val dup = p.band >= 0 && members.exists(m =>
                m.id != p.doc.doc_id && DedupStream.est(m.sig, p.doc.sig) >= 0.5)
              if (p.band >= 0 && !members.exists(_.id == p.doc.doc_id) &&
                  // id-sorted insert keeps the cap MIN-ID (not first-seen):
                  // a full bucket admits a smaller id by evicting its max
                  (members.lengthCompare(bucketCap) < 0 ||
                    members.last.id > p.doc.doc_id))
                members = (members :+ DedupStream.Member(p.doc.doc_id, p.doc.sig))
                  .sortBy(_.id).take(bucketCap)
              BandVerdict(p.nBands, dup, Curated(p.doc.doc_id, p.doc.source,
                p.doc.n_tokens, p.doc.bucket, p.doc.split))
            }
            if (members.nonEmpty) {
              state.update(members)
              if (ttlMs > 0L) state.setTimeoutDuration(ttlMs)
            }
            out.iterator
          }
        })
    verdicts
      .groupByKey(_.doc.doc_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[BandVerdict], state: GroupState[(Int, Boolean)]) => {
          val rs = rows.toSeq
          val (seen0, dup0) = state.getOption.getOrElse((0, false))
          val seen = seen0 + rs.length
          val dup = dup0 || rs.exists(_.dup)
          val d = rs.head.doc
          if (seen >= rs.head.nBands) {
            // all band verdicts in: emit once, drop the transient state
            state.remove()
            Iterator.single(CurationVerdict(d.doc_id, d.source, d.n_tokens,
              d.bucket, d.split, kept = !dup))
          } else {
            // (cross-batch assembly is impossible in practice — probes
            // of one doc ride one micro-batch — but stay correct if an
            // engine ever splits them)
            state.update((seen, dup))
            Iterator.empty
          }
        })
  }
}
