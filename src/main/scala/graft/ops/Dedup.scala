package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.RkLsh

/** Deduplication operators over the `documents` (and `embeddings`)
  * tables: exact hash-dedup, MinHash+LSH, SimHash, exact n-gram
  * Jaccard, and embedding-cosine near-dup.
  *
  * Scale notes (100 TB posture):
  *  - exact dedup = one shuffle on a 64-bit content hash (never on the
  *    full text — the shuffle carries 8 bytes + doc_id per row);
  *  - MinHash/LSH and SimHash banding turn the O(N²) pair problem into
  *    an equi-join on (band, signature) — the only shuffle key is a
  *    16-byte band key, and candidate verification happens only inside
  *    buckets. This is the path that survives 1000 executors; the exact
  *    Jaccard / exact cosine queries exist as correctness oracles at
  *    test SF (their self-joins are O(N²) and deliberately NOT the
  *    scale path).
  *
  * Correctness: since round 3, dd2 and dd3 hash with the ENGINE-NEUTRAL
  * [[graft.functions.RkLsh]] arithmetic (mod-2^40 Rabin–Karp + affine
  * mod-prime permutations — the ta5 recipe), so both are fully
  * DuckDB-hash-checked; only their banding CONFIG is a tunable, not the
  * values. dd4/dd5 oracles join raw strings / exact doubles as before.
  */
object Dedup {
  import Fmt._

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)

  private val words: Column = split(col("text"), " ")

  /** DD1 — exact dedup: group on a content hash, keep the smallest
    * doc_id per group. The oracle groups on raw text (hash-free) —
    * agreement proves the hash grouping loses nothing at this SF. */
  def dd1Exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(xxhash64(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_doc_id"), col("n_dups"))

  private val dd1Oracle =
    "SELECT min(doc_id) AS keep_doc_id, count(*) AS n_dups FROM documents GROUP BY text"

  /** Word-3-gram shingle set per doc (deduplicated) as an `array<long>`
    * of 8-byte hashes, computed in one codegen-friendly pass by the
    * [[graft.functions.ShingleHashes]] expression — joins and shuffles
    * move the hash, never the shingle text (a 2^-64-per-pair collision
    * risk buys a ~3× smaller shuffle; the DuckDB oracle still joins on
    * raw strings, so a collision would surface as a hash-mismatch). */
  private def shingleArr(spark: SparkSession): Column = {
    graft.functions.GraftFunctions.registerAll(spark)
    call_function("shingle_hashes", words, lit(3))
  }

  /** ENGINE-NEUTRAL shingle variant ([[graft.functions.RkShingleHashes]]):
    * same windowing/dedup semantics, but the VALUES are the mod-2^40 RK
    * folds a DuckDB oracle replays — required wherever the hash itself
    * flows into compared output (dd2 signatures). */
  private def rkShingleArr(spark: SparkSession): Column = {
    graft.functions.GraftFunctions.registerAll(spark)
    call_function("rk_shingle_hashes", words, lit(3))
  }

  /** Stop-shingle document-frequency cutoff: shingles appearing in more
    * than max(64, 1% of docs) documents are dropped before any pair
    * join. A shingle in D docs contributes O(D²) join rows, so without
    * a bound one stop-shingle detonates the self-join at scale; with it
    * the join output is ≤ |shingles|·F². At the test SFs the cutoff is
    * deliberately a no-op (max observed df is 25 < 64), so the oracle
    * semantics are unchanged where they are hash-compared; it exists to
    * keep the same query survivable at sf1+ (both sides of the oracle
    * mirror the identical HAVING prefilter). */
  private def dfCutoff(nDocs: Long): Long = math.max(64L, math.ceil(0.01 * nDocs).toLong)

  /** Per-dir cache of (cutoff, stop-shingle list), shared by dd4 and
    * cc1 (which round 2 made recompute both eager actions per call).
    * Two actions feed it, neither a full data pass beyond the one
    * shingle-df aggregate:
    *  - the doc count is a zero-column parquet count (column pruning
    *    reduces it to row-group metadata);
    *  - the stop list is ONE explode→groupBy→collect aggregate, bounded
    *    small by construction (df > max(64, 1%·N) admits at most
    *    avg_shingles_per_doc/1% entries regardless of corpus size —
    *    model state, not data). */
  private val statsCache = new KeyedCache[(Long, Array[Long])](64)

  private def stopStats(spark: SparkSession, dir: String): (Long, Array[Long]) =
    statsCache.getOrBuild(spark, dir) {
      val cutoff = dfCutoff(docs(spark, dir).count())
      val stop = docs(spark, dir).select(explode(shingleArr(spark)).as("s"))
        .groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > cutoff)
        .collect().map(_.getLong(0))
      (cutoff, stop)
    }

  /** DD4 — exact n-gram Jaccard near-dup pairs (threshold 0.5): join on
    * common shingles, |A∩B| / (|A|+|B|−|A∩B|).
    *
    * Shape notes (the round-1 version cost 19.4 s = 26% of the whole
    * bench at sf0.1; see SCALE.md):
    *  - per-doc set sizes are `size(arr)` of the one-pass shingle array —
    *    no aggregation, no sizes join at all; they ride the self-join as
    *    grouping keys instead of two post-join sort-merge passes over the
    *    million-row pair table;
    *  - the stop-shingle list comes from the per-dir [[stopStats]] cache
    *    (one bounded aggregate, reused by cc1) and is applied as a
    *    broadcast `array_except`, keeping the no-stop path literally
    *    identical to an unfiltered run. */
  def dd4NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val (_, stop) = stopStats(spark, dir)
    val base = docs(spark, dir).select(col("doc_id"), shingleArr(spark).as("arr"))
    val kept = if (stop.isEmpty) col("arr")
      else array_except(col("arr"), typedLit(stop.toSeq))
    val shn = base.select(col("doc_id"), kept.as("arr"))
      .select(col("doc_id"), size(col("arr")).as("n"), explode(col("arr")).as("s"))
    // quadratic-by-role: the shingle self-join expands Σ_s C(docs_s, 2)
    // rows. The guard estimates that expansion mechanically (sampled,
    // behind a 16 MB stats floor) instead of leaving the dd2 routing to
    // documentation — cc1 consumes this pair stage and is covered here.
    PairGuard.guardSelf("dd4_ngram_jaccard (pair stage; also feeds cc1)",
      "dd2_minhash_lsh (banded LSH pairs; cc2_dedup_clusters_lsh for clusters)",
      docs(spark, dir), shn, "s")
    val a = shn.as("a"); val b = shn.as("b")
    a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("c"))
      // truncating integer ratio (graft.ops.Exact): c/(union) terminates
      // on round-half boundaries whenever the union size is 2^a·5^b
      .withColumn("jaccard", Exact.intRatio(col("c"), col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= 0.5)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** the dd4 pair pipeline as reusable CTE text ending in
    * `sel(da, db, jaccard)` — shared with graft.ops.Graph's cc1 oracle
    * so the clustering oracle closes over the EXACT same pair set */
  private[ops] val dd4PairCtes =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 1, 2)),
      |                 i -> array_to_string(w[i:i+2], ' '))) AS s FROM toks),
      |shd AS (SELECT DISTINCT doc_id, s FROM sh0),
      |stop AS (SELECT s FROM shd GROUP BY s
      |         HAVING count(*) > (SELECT greatest(64, ceil(0.01 * count(*))) FROM documents)),
      |sh AS (SELECT * FROM shd WHERE s NOT IN (SELECT s FROM stop)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |sel AS (SELECT da, db,
      |          floor(c * 1000000 / (sa.n + sb.n - c)) / 1000000 AS jaccard
      |        FROM pairs JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |        WHERE floor(c * 1000000 / (sa.n + sb.n - c)) / 1000000 >= 0.5)""".stripMargin

  private val dd4Oracle = s"WITH $dd4PairCtes SELECT da, db, jaccard FROM sel"

  private[ops] val NUM_PERM = 32
  private val BANDS = 8 // 8 bands x 4 rows
  private val ROWS = NUM_PERM / BANDS

  /** Engine-neutral MinHash signature + banding for every document:
    * (doc_id, sig[NUM_PERM], band, bkey) — one row per (doc, band).
    * Shared by dd2 (corpus self-join) and dc2 (benchmark-contamination
    * join); both sides of either join shuffle only the 16-byte
    * (band, bkey) and the signature, never text. */
  private[ops] def rkBanded(spark: SparkSession, dir: String): DataFrame =
    rkBandedOf(spark, docs(spark, dir))

  /** [[rkBanded]] with the SIGNATURE stage pinned (optimization r14):
    * one row per doc (doc_id, sig) persists — the banding explode is a
    * narrow codegen'd map recomputed per reference. For queries that
    * reference the banded frame more than once through subtrees that
    * can never share an exchange (dd2's broadcast side, dc2/dd9's
    * disjoint doc_id filters), this guarantees ONE shingle+minhash
    * corpus pass at every scale while caching 8× fewer bytes than
    * pinning the exploded frame (whose every band row carries the full
    * 32-long signature — measured: the banded-frame pin REGRESSED dd2
    * warm 2.7→3.2 s at sf1; this variant is the one that wins). */
  private[ops] def rkBandedPinned(spark: SparkSession, dir: String): DataFrame = {
    val sh = docs(spark, dir)
      .select(col("doc_id"), explode(rkShingleArr(spark)).as("s"))
    val sigs = Model.pin(sh.groupBy(col("doc_id"))
      .agg(call_function("minhash_sketch", col("s")).as("sig")))
    sigs.select(col("doc_id"), col("sig"),
      posexplode(call_function("band_keys", col("sig"), lit(BANDS), lit(ROWS))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
  }

  /** [[rkBanded]] over an arbitrary documents frame — the seam the
    * pair guard's sampled probe uses (signatures for a 5% doc sample
    * cost 5% of the signature scan). */
  private[ops] def rkBandedOf(spark: SparkSession, docsDf: DataFrame): DataFrame = {
    val sh = docsDf
      .select(col("doc_id"), explode(rkShingleArr(spark)).as("s"))
    // signature via the MinHashSketch TypedImperativeAggregate: one
    // expression with a primitive-array buffer (vs 32 generated min()
    // columns whose codegen alone took ~10 s to JIT); partial buffers
    // merge element-wise through ObjectHashAggregate before the single
    // shuffle on doc_id
    val sigs = sh.groupBy(col("doc_id"))
      .agg(call_function("minhash_sketch", col("s")).as("sig"))
    // band keys: engine-neutral fold of each ROWS-slice of the signature
    // (was xxhash64 — an engine-local value the oracle couldn't replay).
    // band_keys is the codegen'd one-pass form of the former
    // transform(sequence)+aggregate(slice) HOF pair, which ran
    // interpreted per BAND per document (optimization r14)
    sigs.select(col("doc_id"), col("sig"),
      posexplode(call_function("band_keys", col("sig"), lit(BANDS), lit(ROWS))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
  }

  /** signature-estimated Jaccard: matching permutations / NUM_PERM,
    * truncating (graft.ops.Exact) like every compared ratio. The match
    * count is the codegen'd `long_match_count` kernel
    * ([[graft.functions.LongMatchCount.compute]]) — the
    * zip_with+aggregate HOF pair it replaces ran interpreted on every
    * candidate PAIR (measured ~5.6 µs/pair: 8.2 s of cur2's 25 s at
    * sf1), the exact tax double_dot already removed from the cosine
    * family (optimization r13; guide §"eliminate non-codegen
    * expressions in the hot path"). */
  private[ops] def estJaccard(siga: Column, sigb: Column): Column =
    Exact.intRatio(
      call_function("long_match_count", siga, sigb),
      lit(NUM_PERM.toLong))

  /** DD2 — MinHash + LSH candidate pairs. Per doc: 32 min-hashes (one
    * per affine permutation of the RK shingle hashes), banded 8×4; docs
    * sharing any band bucket become candidates; candidates are kept
    * when the signature-estimated Jaccard ≥ 0.5.
    *
    * Every number here is engine-neutral ([[graft.functions.RkLsh]]):
    * shingle hashes, permutations, band-key folds, and the truncating
    * match ratio are the identical integer sequences the DuckDB oracle
    * computes, so the pair SET and the estimate VALUES hash-match —
    * the production dedup pipeline (cc2 = this + clustering) is fully
    * oracle-checked, not rows-only. */
  def dd2MinHashLsh(spark: SparkSession, dir: String): DataFrame = {
    // signature stage pinned (optimization r14, see [[rkBandedPinned]]):
    // the self-join references the signature pipeline twice, and the
    // broadcast side cannot reuse the shuffle side's exchange (a
    // BroadcastExchange is not a hash-partitioned Exchange), so below
    // the broadcast threshold the full shingle+minhash corpus pass ran
    // twice. The pin sits AFTER the guard (construction order) so a
    // refused query never pays the corpus pass.
    // banded-candidate guard: the scan is linear but the bucket join
    // expands Σ_b C(|bucket b|, 2) candidate rows — on a boilerplate-
    // heavy corpus (dense buckets) that is the same detonation class
    // the declared quadratics price. The probe samples DOCS (not bucket
    // rows) so it pays 5% of the signature scan; bucket key = band
    // (0..7) packed above the 40-bit band fold.
    PairGuard.guardSelfOf(
      "dd2_minhash_lsh (banded candidate stage; cc2 consumes these pairs)",
      "cur2_curation_neardup (bucket-capped anchors, graft.curation.bucketCap) " +
        "or dd7_semantic_dedup (IVF-bucketed)",
      docs(spark, dir), docs(spark, dir), "bk")(d =>
      rkBandedOf(spark, d)
        .select((col("band").cast("long") * lit(1L << 41) + col("bkey")).as("bk")))
    val banded = rkBandedPinned(spark, dir)
    val l = banded.as("l"); val r = banded.as("r")
    val cand = l.join(r,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db"),
        col("l.sig").as("siga"), col("r.sig").as("sigb"))
      .dropDuplicates("da", "db")
    cand
      .withColumn("est_jaccard", estJaccard(col("siga"), col("sigb")))
      .filter(col("est_jaccard") >= 0.5)
      .select(col("da"), col("db"), col("est_jaccard"))
  }

  /** one `list_min(list_transform(...))` signature entry per permutation,
    * interpolated from the SAME RkLsh constants the Spark side uses */
  private def dd2SigEntries: String = (0 until NUM_PERM)
    .map(j => s"list_min(list_transform(ss, x -> ${RkLsh.permSql(j, "x")}))")
    .mkString(",\n          ")

  /** the signature+banding pipeline as reusable CTE text ending in
    * `bnd2(doc_id, sig, band, bkey)` — the SQL twin of [[rkBanded]],
    * shared by the dd2/cc2 and dc2 oracles */
  private[ops] val dd2SigCtes: String = {
    val band = s"sig[CAST(b.b * $ROWS + 1 AS INT):CAST(b.b * $ROWS + $ROWS AS INT)]"
    s"""toks2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |wh2 AS (SELECT doc_id, list_transform(w, wd -> ${RkLsh.wordSql}) AS hs,
       |          len(w) AS nw FROM toks2),
       |sh2 AS (SELECT doc_id, unnest(${RkLsh.shinglesSql("hs", "nw", 3)}) AS s FROM wh2),
       |shd2 AS (SELECT DISTINCT doc_id, s FROM sh2),
       |shl2 AS (SELECT doc_id, list(s ORDER BY s) AS ss FROM shd2 GROUP BY doc_id),
       |sigs2 AS (SELECT doc_id,
       |          [$dd2SigEntries] AS sig FROM shl2),
       |bnd2 AS (SELECT doc_id, sig, b.b AS band, ${RkLsh.foldSql(band, RkLsh.MUL)} AS bkey
       |         FROM sigs2 CROSS JOIN range(0, $BANDS) b(b))""".stripMargin
  }

  /** SQL fragment: signature-match estimate over sig columns `$a`/`$b`
    * — the twin of [[estJaccard]] */
  private[ops] def estJaccardSql(a: String, b: String): String =
    s"""floor(len(list_filter(range(1, ${NUM_PERM + 1}),
       |  i -> $a[CAST(i AS INT)] = $b[CAST(i AS INT)])) * 1000000
       |  / $NUM_PERM) / 1000000""".stripMargin.replace("\n", " ")

  /** the dd2 pair pipeline as reusable CTE text ending in
    * `sel2(da, db, est_jaccard)` — shared with Graph's cc2 oracle */
  private[ops] val dd2PairCtes: String =
    s"""$dd2SigCtes,
       |cand2 AS (SELECT DISTINCT l.doc_id AS da, r.doc_id AS db,
       |            l.sig AS siga, r.sig AS sigb
       |          FROM bnd2 l JOIN bnd2 r
       |            ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id),
       |sel2 AS (SELECT da, db, est_jaccard FROM (
       |           SELECT da, db, ${estJaccardSql("siga", "sigb")} AS est_jaccard
       |           FROM cand2)
       |         WHERE est_jaccard >= 0.5)""".stripMargin

  private val dd2Oracle = s"WITH $dd2PairCtes SELECT da, db, est_jaccard FROM sel2"

  private val SIMHASH_BITS = 63
  private val HAMMING_MAX = 8
  private val CHUNKS = 9 // 9×7-bit chunks of the 63-bit hash
  // RkLsh pair indices: two 2-round mix chains derive the halves
  private val H1a = 32; private val H1b = 34
  private val H2a = 33; private val H2b = 35

  /** DD3 — SimHash near-dup pairs: 63-bit simhash from engine-neutral
    * word hashes (bit j of each word's hash votes ±1 weighted by its
    * count), banded into 9 chunks of 7 bits — by pigeonhole, any pair
    * within Hamming distance 8 shares at least one intact chunk, so
    * banding loses nothing up to the threshold. Docs sharing a chunk
    * are candidates; kept when Hamming ≤ 8 (short docs flip several
    * low-margin bits per edited word, so the radius is wider than the
    * classic 64-bit/3-bit setup).
    *
    * The 63-bit fingerprint is assembled from two [[RkLsh.mix2Col]] chains
    * over the mod-2^40 RK word hash — `(g1 mod 2^31)·2^32 + (g2 mod
    * 2^32)`, the widest packing that stays inside DuckDB's overflow-
    * checked BIGINT — so the whole query is oracle-hash-checked (was
    * rows-only with xxhash64 word hashes). Grouping by the 40-bit hash
    * rather than the word is vote-equivalent: colliding words
    * contribute identical ±1 vectors, so merged counts produce
    * identical votes. */
  def dd3SimHash(spark: SparkSession, dir: String): DataFrame = {
    val chunked = dd3ChunkedOf(spark, docs(spark, dir))
    // same banded-candidate guard as dd2: the chunk join probes
    // Σ C(|bucket|, 2) candidate pairs (the Hamming verify inside the
    // join condition bounds the OUTPUT, not the probe work) — a
    // low-entropy corpus packs whole clusters into one 7-bit chunk
    // bucket. Probe samples docs; bucket key = chunk (0..8) packed
    // above the 7-bit chunk value.
    PairGuard.guardSelfOf(
      "dd3_simhash (banded candidate stage)",
      "dd12_simhash_scale (same fingerprints, radius 3, saturation-free " +
        "index) or dd7_semantic_dedup (IVF-bucketed)",
      docs(spark, dir), docs(spark, dir), "bk")(d =>
      dd3ChunkedOf(spark, d)
        .select((col("chunk").cast("long") * 128L + col("ckey")).as("bk")))
    // MERGE hint: dd3's chunk key space is 1152 buckets BY CONSTRUCTION,
    // so past ~1e5 docs every key is a dense duplicate — a broadcast-hash
    // probe walks a bucket-sized collision chain per row (measured: the
    // AQE-picked BHJ at sf1 runs 26 s warm where the merge join runs
    // 4.0 s — sorted runs advance linearly over dense keys). There is no
    // corpus size where hash beats merge here except ones too small to
    // matter, so the hint is unconditional.
    val merged = chunked.hint("MERGE")
    val l = merged.as("l"); val r = merged.as("r")
    // verify the Hamming threshold INSIDE the join condition: candidates
    // failing it die during the join probe, so only true near-dups (a
    // tiny set) ever reach the dedup shuffle — without this, a
    // low-entropy corpus can make nearly every pair a band candidate
    l.join(r, col("l.chunk") === col("r.chunk") && col("l.ckey") === col("r.ckey") &&
        col("l.doc_id") < col("r.doc_id") &&
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))) <= HAMMING_MAX)
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .dropDuplicates("da", "db")
  }

  /** dd3's signature + chunk-banding pipeline over an arbitrary
    * documents frame — `(doc_id, simhash, chunk, ckey)`, one row per
    * (doc, chunk). Split out so the pair guard's sampled probe builds
    * chunk keys for a doc sample at sample cost.
    *
    * Collapses to (doc, word-hash, count) first — the vocabulary is
    * far smaller than the token stream — then folds the 63 weighted
    * bit votes in one SimHashSketch aggregate (primitive long[63]
    * buffer; replaces 63 generated sum(CASE…) columns and their JIT
    * cost). */
  private def dd3ChunkedOf(spark: SparkSession, docsDf: DataFrame): DataFrame =
    dd3SigOf(spark, docsDf)
      .select(col("doc_id"), col("simhash"),
        // constant-shift unroll of the former transform(sequence(...))
        // HOF (interpreted per chunk per doc) — the dd12BlocksOf shape:
        // a literal array of shift/mask expressions stays inside
        // whole-stage codegen (optimization r14)
        posexplode(array((0 until CHUNKS).map(i =>
          shiftright(col("simhash"), i * 7).bitwiseAND(lit(127L))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ckey")

  /** The `(doc_id, simhash)` signature stage shared by dd3's chunk
    * banding and dd12's block-combination index — the fingerprints are
    * identical by construction, so the two operators differ ONLY in
    * how they index the Hamming ball.
    *
    * Votes are per word INSTANCE (weight 1), not per distinct word
    * (weight = count): integer vote sums are order- and
    * grouping-invariant, so the fingerprints are bit-identical — but
    * the instance form needs NO (doc, word-hash) pre-count shuffle.
    * The count-collapse form this replaced shuffled one ~36-byte row
    * per distinct (doc, word) — ~40 GB at the 30M-doc fixture, the
    * single largest disk term in the whole plan (measured killing the
    * 65 GB box, SCALE.md round-13 boundary) — for almost no row
    * reduction, since natural text rarely repeats words within a doc.
    * Here the partial sketch aggregates directly on the SCAN
    * partitions: docs are contiguous in parquet, so the map side
    * emits ~one 504-byte long[63] buffer per doc and the only
    * signature shuffle is those buffers keyed by doc_id. A further
    * subtlety the old form hid: past
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * (default 128 keys!) the sketch aggregate falls back to
    * SORT-based aggregation — on a corpus-wide shuffle partition that
    * sort spills the token stream to disk; on a 64 MB scan partition
    * it sorts a few hundred thousand rows in memory. */
  private def dd3SigOf(spark: SparkSession, docsDf: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    docsDf
      .select(col("doc_id"), explode(words).as("w"))
      .select(col("doc_id"), call_function("rk_word_hash", col("w")).as("h40"))
      .withColumn("g1", RkLsh.mix2Col(H1a, H1b, col("h40")))
      .withColumn("g2", RkLsh.mix2Col(H2a, H2b, col("h40")))
      .withColumn("h63",
        (col("g1") % 2147483648L) * 4294967296L + (col("g2") % 4294967296L))
      .groupBy(col("doc_id"))
      .agg(call_function("simhash_sketch", col("h63"), lit(1L)).as("simhash"))
  }

  /** DuckDB CTE chain ending in `sim(doc_id, simhash)` — the oracle
    * mirror of [[dd3SigOf]], shared by dd3's and dd12's oracles. */
  private val dd3SimCtes: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |tok AS (SELECT doc_id, unnest(w) AS wd FROM toks),
       |wcnt AS (SELECT doc_id, wd, CAST(count(*) AS BIGINT) AS cnt
       |         FROM tok GROUP BY doc_id, wd),
       |wh AS (SELECT doc_id, cnt, ${RkLsh.wordSql} AS h40 FROM wcnt),
       |g AS (SELECT doc_id, cnt,
       |        ((${RkLsh.mix2Sql(H1a, H1b, "h40")}) % 2147483648) * 4294967296 +
       |        ((${RkLsh.mix2Sql(H2a, H2b, "h40")}) % 4294967296) AS h63
       |      FROM wh),
       |bits AS (SELECT doc_id, b.b AS b,
       |           sum(cnt * (CASE WHEN ((h63 >> CAST(b.b AS INT)) & 1) = 1
       |                           THEN 1 ELSE -1 END)) AS vote
       |         FROM g CROSS JOIN range(0, $SIMHASH_BITS) b(b) GROUP BY 1, 2),
       |sim AS (SELECT doc_id,
       |          CAST(coalesce(sum(CASE WHEN vote > 0
       |            THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END), 0) AS BIGINT)
       |            AS simhash
       |        FROM bits GROUP BY 1)""".stripMargin

  private val dd3Oracle: String = {
    s"""WITH $dd3SimCtes,
       |ch AS (SELECT doc_id, simhash, c.c AS chunk,
       |         (simhash >> CAST(c.c * 7 AS INT)) & 127 AS ckey
       |       FROM sim CROSS JOIN range(0, $CHUNKS) c(c))
       |SELECT DISTINCT l.doc_id AS da, r.doc_id AS db,
       |       CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
       |FROM ch l JOIN ch r
       |  ON l.chunk = r.chunk AND l.ckey = r.ckey AND l.doc_id < r.doc_id
       |WHERE bit_count(xor(l.simhash, r.simhash)) <= $HAMMING_MAX""".stripMargin
  }

  // dd12: block-combination SimHash index (the design of Manku/Jain/
  // Das Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07).
  // 6 blocks of the 63-bit fingerprint (11,11,11,10,10,10 bits low to
  // high), keyed on every 3-block combination: C(6,3) = 20 tables.
  private val D12_HAMMING = 3
  private val D12_LENS = Vector(11, 11, 11, 10, 10, 10)
  private val D12_OFFS = D12_LENS.scanLeft(0)(_ + _).init // 0,11,22,33,43,53
  private[ops] val D12_COMBOS: Seq[Seq[Int]] =
    (0 until D12_LENS.length).combinations(D12_LENS.length / 2).toSeq

  /** Pre-index scan bytes past which dd12's self-join hints
    * SHUFFLE_HASH instead of letting the planner sort-merge. The
    * candidate probe needs NO ordering, so SortMergeJoin's two sorts of
    * the 20-rows-per-doc index are pure waste — and their SPILL, not
    * the shuffle itself, is what exhausts local disk first: measured at
    * the 30M-doc fixture (4.3 GB scan), stock SMJ died on a 65 GB disk
    * budget where the hash join finishes in 126.8 s warm (SCALE.md
    * round-13 decade arc). Under the floor the planner keeps its
    * choice (broadcast at oracle SFs — the exploded index is tiny). */
  val D12HashJoinMinBytes =
    graft.Setting.long("graft.simhash.hashJoinMinBytes", Some(256L << 20))
  /** Scan bytes per join task for the stats-derived join width (the w2
    * pane-width discipline): a ShuffledHashJoin build map cannot spill,
    * so its per-partition row count must track the data, not a stale
    * `spark.sql.shuffle.partitions` — at the 30M-doc fixture the
    * session's 32 partitions put ~19M index rows (~1 GB map) in every
    * build task and the join aborts ("not enough memory to build hash
    * map"), while 128+ partitions run it comfortably. 16 MB of
    * pre-index scan bytes per task ≈ ~2M index rows ≈ ~100 MB build
    * map. Floor at the session conf, clamp 4096;
    * `graft.simhash.joinWidth` overrides. */
  val D12JoinTargetBytes =
    graft.Setting.long("graft.simhash.joinTargetBytes", Some(16L << 20), min = 1)
  val D12JoinWidth = graft.Setting.int("graft.simhash.joinWidth", None, min = 1)

  /** Stats-derived width for dd12's candidate join (only used past the
    * SHUFFLE_HASH floor). Exposed for the spec to pin the arithmetic. */
  private[graft] def d12JoinWidth(spark: SparkSession, scanBytes: BigInt): Int =
    D12JoinWidth.get(spark).getOrElse {
      val target = D12JoinTargetBytes(spark)
      val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // clamp in BigInt space — a huge scan must saturate to 4096, not
      // overflow toInt
      val derived = ((scanBytes / BigInt(math.max(1L, target))) + 1)
        .min(BigInt(4096)).toInt
      math.min(4096, math.max(session, derived))
    }

  /** DD12 — SimHash near-dup pairs AT SCALE (radius 3). dd3's 9×7-bit
    * chunk index has 1152 distinct buckets TOTAL, so past ~1e5 docs the
    * buckets saturate and the candidate set grows quadratically in
    * corpus size regardless of duplication — measured at the round-13
    * decade probe (est ×88 per ×10 docs), intrinsic to
    * radius-8-over-63-bits, and until now answered only by routing to
    * dd2/dd7. This operator is the in-family fix: key each fingerprint
    * on every 3-block combination of 6 blocks. By pigeonhole, ≤3
    * flipped bits touch ≤3 blocks, leaving ≥3 blocks intact — so some
    * 3-block key survives untouched and every pair within Hamming
    * distance 3 collides in ≥1 of the 20 tables (the exact-Hamming
    * verify inside the join keeps precision exact). Key width is 31-33
    * bits → ~2×10⁹ buckets PER table: the key space scales past any
    * corpus this engine will see, so bucket occupancy — and with it the
    * candidate count — is driven by real near-duplication, not by index
    * saturation. The cost of the wider key is a narrower radius (3 vs
    * dd3's 8) and a 20×-per-doc (vs 9×) index row expansion — radius 3
    * over 64 bits is the operating point the WWW'07 paper ran at
    * web scale (8B docs). Same fingerprints as dd3 ([[dd3SigOf]]), so
    * dd12 ≡ dd3 filtered to hamming ≤ 3 — which is exactly what
    * DedupSimilaritySpec pins. Reference scope note: the reference app
    * (faust_app/ma_agg.py) has no dedup surface; this family exists
    * for the training-data-pipeline brief. */
  def dd12SimHashScale(spark: SparkSession, dir: String): DataFrame = {
    val keyed = dd12BlocksOf(spark, docs(spark, dir))
    // same Σ C(|bucket|, 2) candidate probe as dd2/dd3 — the index
    // cannot saturate, but a genuinely replica-dense corpus still
    // packs clusters into single (t, bkey) buckets
    PairGuard.guardSelfOf(
      "dd12_simhash_scale (block-combination candidate stage)",
      "dd7_semantic_dedup (IVF-bucketed) or " +
        "cur2_curation_neardup (bucket-capped anchors)",
      docs(spark, dir), docs(spark, dir), "bk")(d =>
      dd12BlocksOf(spark, d)
        .select((col("t").cast("long") * (1L << 34) + col("bkey")).as("bk")))
    // stats-driven join-strategy dispatch (the AsofJoin discipline):
    // past the floor, hint the sort-free hash join — see the conf doc
    val minBytes = D12HashJoinMinBytes(spark)
    val scanBytes =
      docs(spark, dir).queryExecution.optimizedPlan.stats.sizeInBytes
    val hinted =
      if (scanBytes >= BigInt(minBytes))
        // the explicit repartition pins the join width (AQE never
        // coalesces a user repartition) and, being on exactly the join
        // keys, is THE join exchange — reused for both sides, so the
        // width costs no extra shuffle
        keyed.repartition(d12JoinWidth(spark, scanBytes),
          col("t"), col("bkey")).hint("SHUFFLE_HASH")
      else keyed
    val l = hinted.as("l"); val r = hinted.as("r")
    l.join(r, col("l.t") === col("r.t") && col("l.bkey") === col("r.bkey") &&
        col("l.doc_id") < col("r.doc_id") &&
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))) <= D12_HAMMING)
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .dropDuplicates("da", "db")
  }

  /** `(doc_id, simhash, t, bkey)` — one row per (doc, 3-block
    * combination); `bkey` packs the 3 block values low-block-last.
    * Constant-shift arithmetic only, so the whole index stage stays
    * inside whole-stage codegen. */
  private def dd12BlocksOf(spark: SparkSession, docsDf: DataFrame): DataFrame = {
    def blk(i: Int): Column =
      shiftright(col("simhash"), D12_OFFS(i))
        .bitwiseAND(lit((1L << D12_LENS(i)) - 1))
    val keyCols = D12_COMBOS.map(c =>
      c.foldLeft(lit(0L): Column)((acc, i) =>
        shiftleft(acc, D12_LENS(i)).bitwiseOR(blk(i))))
    dd3SigOf(spark, docsDf)
      .select(col("doc_id"), col("simhash"), posexplode(array(keyCols: _*)))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "bkey")
  }

  private val dd12Oracle: String = {
    val comboRows = D12_COMBOS.zipWithIndex.map { case (c, t) =>
      s"($t, ${D12_OFFS(c(0))}, ${D12_LENS(c(0))}, ${D12_OFFS(c(1))}, " +
        s"${D12_LENS(c(1))}, ${D12_OFFS(c(2))}, ${D12_LENS(c(2))})"
    }.mkString(", ")
    s"""WITH $dd3SimCtes,
       |combos(t, o1, l1, o2, l2, o3, l3) AS (VALUES $comboRows),
       |ch AS (SELECT doc_id, simhash, t,
       |         ((((simhash >> o1) & ((CAST(1 AS BIGINT) << l1) - 1)) << (l2 + l3))
       |        | (((simhash >> o2) & ((CAST(1 AS BIGINT) << l2) - 1)) << l3)
       |        |  ((simhash >> o3) & ((CAST(1 AS BIGINT) << l3) - 1))) AS bkey
       |       FROM sim CROSS JOIN combos)
       |SELECT DISTINCT l.doc_id AS da, r.doc_id AS db,
       |       CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
       |FROM ch l JOIN ch r
       |  ON l.t = r.t AND l.bkey = r.bkey AND l.doc_id < r.doc_id
       |WHERE bit_count(xor(l.simhash, r.simhash)) <= $D12_HAMMING""".stripMargin
  }

  /** DD5 — embedding-cosine near-dup pairs (exact, threshold 0.45):
    * the correctness oracle for the LSH-bucketed scale path (sim2). */
  def dd5EmbeddingCosine(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    // norms once per vector (2N sqrts), one codegen'd dot per pair —
    // same arithmetic order as the oracle's dot/(sqrt*sqrt)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    // quadratic-by-role: the half-matrix join is C(N, 2) — one constant
    // key makes the guard's Σ C(c_k, 2) estimator exactly that
    PairGuard.guardSelf("dd5_embedding_cosine",
      "dd7_semantic_dedup (IVF-bucketed) or sim6_ivfpq top-k",
      Tables.embeddings(spark, dir), e.select(lit(0L).as("one")), "one")
    val a = e.as("a"); val b = e.as("b")
    // floor-scaled score (graft.ops.Exact): the raw cosines are
    // bit-identical across engines, and floor of identical doubles is
    // unambiguous where round() implementations can disagree
    a.join(b, col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", graft.ops.Exact.floorE6(
        dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))))
      .filter(col("cos") >= 0.45)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), col("cos"))
  }

  private val dd5Oracle =
    """SELECT a.vec_id AS va, b.vec_id AS vb,
      |       floor(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |             (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |              sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) * 1000000) / 1000000 AS cos
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE floor(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |            (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |             sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) * 1000000) / 1000000 >= 0.45""".stripMargin

  private val CHUNK = 8
  private val BOILER_DF = 3

  /** DD6 — sub-document boilerplate removal (chunk-level dedup): the
    * dedup granularity between exact-document (dd1) and near-document
    * (dd2/dd4) — the "line dedup" pass web-corpus pipelines run to
    * strip headers/footers/navigation that repeat across documents.
    * This corpus has no newlines, so the unit is a fixed CHUNK-word
    * non-overlapping window; a chunk appearing in ≥ BOILER_DF distinct
    * documents is boilerplate and is removed from every document.
    *
    * Shape: one chunk explode → df-aggregate on an 8-byte chunk hash
    * (the shuffle carries hash + doc_id, never text; countDistinct
    * dedups map-side) → the boilerplate set joins back behind
    * [[Model.guardedBroadcast]]. It is the df≥3 tail of the chunk
    * distribution — NOT bounded by construction: unlike dc1's
    * fixed-size benchmark side it scales with corpus redundancy, and a
    * duplication-heavy crawl (exactly what dedup targets) can push it
    * toward the full distinct-chunk set. The guard broadcasts it while
    * it is provably small and degrades to the planner's shuffle join
    * past the threshold instead of OOMing at build time.
    * → one groupBy(doc_id) reassembles kept
    * chunks in position order. The reassembly shuffle carries the
    * corpus once — irreducible for a transform that rewrites every
    * document.
    *
    * The oracle joins raw chunk STRINGS (hash-free), so an xxhash64
    * collision merging two chunks' document-frequencies would surface
    * as a hash mismatch. */
  def dd6ChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark) // word_chunks
    // word_chunks: codegen'd one-pass chunking — the former
    // transform(sequence)+array_join(slice) HOF chain ran interpreted
    // per CHUNK with a slice array per chunk (optimization r14)
    val ch = docs(spark, dir).withColumn("w", words)
      .select(col("doc_id"),
        posexplode(call_function("word_chunks", col("w"), lit(CHUNK))))
      .withColumnRenamed("col", "chunk")
    val boiler = ch.groupBy(xxhash64(col("chunk")).as("h"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= BOILER_DF)
      .select(col("h"))
    val flagged = ch
      .join(Model.guardedBroadcast(boiler), xxhash64(col("chunk")) === col("h"), "left")
      .select(col("doc_id"), col("pos"), col("chunk"), col("h").isNotNull.as("boiler"))
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
        // collect_list skips the nulls the `when` leaves on boiler rows;
        // array_sort on (pos, chunk) structs restores document order
        sort_array(collect_list(when(!col("boiler"),
          struct(col("pos"), col("chunk"))))).as("kept"))
      .select(col("doc_id"), col("n_chunks"), col("n_boiler"),
        substring(array_join(col("kept").getField("chunk"), " "),
          1, 64).as("clean_prefix")) // codegen'd GetArrayStructFields (r14)
  }

  private val dd6Oracle =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |ch0 AS (SELECT doc_id,
       |          unnest(list_transform(range(0, CAST(ceil(len(w) / ${CHUNK}.0) AS BIGINT)),
       |            i -> {'pos': i,
       |                  'chunk': array_to_string(w[CAST(i * $CHUNK + 1 AS INT):CAST(i * $CHUNK + $CHUNK AS INT)], ' ')})) AS u
       |        FROM t),
       |ch AS (SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM ch0),
       |df AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1),
       |fl AS (SELECT c.doc_id, c.pos, c.chunk, d.df >= $BOILER_DF AS boiler
       |       FROM ch c JOIN df d USING (chunk))
       |SELECT doc_id, count(*) AS n_chunks,
       |       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |       substr(coalesce(array_to_string(
       |         list(chunk ORDER BY pos) FILTER (WHERE NOT boiler), ' '), ''), 1, 64)
       |         AS clean_prefix
       |FROM fl GROUP BY doc_id""".stripMargin

  /** dd8's span width, in words. 8 is a few times smaller than the
    * 50-token threshold the substring-dedup literature uses for exact
    * duplicated spans — at the test corpus's document lengths a wider
    * window would never fire; the machinery is width-independent. */
  private val SPAN_K = 8

  /** DD8 — duplicated-span detection (the substring-level half of
    * training-data dedup, cf. suffix-array substring dedup; this is the
    * scalable n-gram formulation): a token position is "duplicated"
    * when it is covered by any word-8-gram that occurs at least twice
    * in the corpus (across documents OR repeated within one). Output
    * per document: token count, duplicated-token count, and the
    * duplicated fraction — the signal used to drop or trim documents
    * whose content is mostly boilerplate shared with others.
    *
    * Shape (100 TB): positional gram hashes come from one codegen'd
    * pass ([[graft.functions.ShingleHashes.computePos]]); the duplicate-gram
    * table is a groupBy on the 8-byte hash (map-side partials, shuffle
    * carries hash+count) and joins back behind [[Model.guardedBroadcast]]
    * — broadcast while provably small, shuffle-equi-join on the hash
    * past the cap. Covered-token counts come from an INTERVAL-UNION
    * sweep over each document's sorted duplicated-gram positions (one
    * higher-order aggregate over a document-bounded list) instead of
    * exploding K positions per gram and countDistinct-ing them — on a
    * redundant corpus nearly every gram is duplicated, so the explode
    * was a K× row blowup of the whole gram stream (measured at sf1:
    * 17.4 → 4.8 s warm, 26.0 → 12.2 s cold, isolated Prof pairs). One shuffle on
    * doc_id either way; nothing ever shuffles gram text; the oracle
    * groups raw gram strings, so a hash collision (2^-64/pair) would
    * surface as a gate mismatch. */
  def dd8DupSpans(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val grams = docs(spark, dir).select(
      col("doc_id"), size(words).as("n_tokens"),
      posexplode(call_function("shingle_hashes_pos", words, lit(SPAN_K)))
        .as(Seq("pos", "h")))
    val dup = Model.guardedBroadcast(
      grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select(col("h")))
    // union length of [p, min(p+K, n)-1] over sorted positions ==
    // count of distinct covered tokens, without materializing them
    val cov = grams.join(dup, "h")
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).cast("long").as("nt"),
        sort_array(collect_list(col("pos").cast("long"))).as("ps"))
      // span_cover: codegen'd interval-union sweep — the former
      // aggregate HOF allocated a 2-field struct per position through
      // the interpreter, at token-stream cardinality on a replica-heavy
      // corpus (optimization r14)
      .select(col("doc_id"),
        call_function("span_cover", col("ps"), col("nt"), lit(SPAN_K))
          .as("dup_tokens"))
    docs(spark, dir).select(col("doc_id"), size(words).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        Exact.intRatio(coalesce(col("dup_tokens"), lit(0L)), col("n_tokens"))
          .as("dup_fraction"))
  }

  /** dd8's gram/duplicate/coverage CTE block (through `cov8(doc_id,
    * p)`, positions NOT yet distinct), shared with dd10's trim twin. */
  private val dd8Ctes =
    s"""t8 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g80 AS (SELECT doc_id, len(w) AS n_tokens,
       |          unnest(list_transform(range(0, greatest(len(w) - $SPAN_K, 0) + 1),
       |            i -> {'pos': i,
       |                  'gram': array_to_string(
       |                    w[CAST(i + 1 AS INT):CAST(least(i + $SPAN_K, len(w)) AS INT)],
       |                    ' ')})) AS u
       |        FROM t8),
       |g8 AS (SELECT doc_id, n_tokens, u.pos AS pos, u.gram AS gram FROM g80),
       |dup8 AS (SELECT gram FROM g8 GROUP BY gram HAVING count(*) >= 2),
       |cov8 AS (SELECT doc_id,
       |           unnest(range(pos, least(pos + $SPAN_K, n_tokens))) AS p
       |         FROM g8 WHERE gram IN (SELECT gram FROM dup8))""".stripMargin

  private val dd8Oracle =
    s"""WITH $dd8Ctes,
       |c8 AS (SELECT doc_id, count(DISTINCT p) AS dup_tokens FROM cov8 GROUP BY doc_id)
       |SELECT t.doc_id, len(t.w) AS n_tokens,
       |       CAST(coalesce(c8.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |       floor(coalesce(c8.dup_tokens, 0) * 1000000 / len(t.w)) / 1000000
       |         AS dup_fraction
       |FROM t8 t LEFT JOIN c8 ON t.doc_id = c8.doc_id""".stripMargin

  /** DD10 — duplicated-span REMOVAL, completing dd8's detect→remove
    * pair the way dd6 removes boilerplate chunks: every token position
    * covered by a corpus-duplicated word-8-gram is cut, and the
    * surviving tokens are reassembled in document order — the
    * substring-level cleanup (cf. ExactSubstr dedup, Lee et al. 2022,
    * which CUTS the duplicated substrings rather than dropping whole
    * documents). Output per document: original and kept token counts
    * and the 64-char prefix of the trimmed text (dd6's reassembly
    * convention, so results stay hash-comparable).
    *
    * Shape (100 TB): identical front half to dd8 (one codegen'd
    * positional-gram pass, dup-gram table behind the broadcast guard,
    * coverage explodes ONLY duplicated grams); the trim half anti-joins
    * the token stream against covered positions on (doc_id, p) — an
    * 8-byte-key equi-join carried by the same doc_id shuffle as the
    * reassembly aggregate, gram text never shuffles.
    *
    * On the K× position explode dd8 replaced with an interval-union
    * aggregate: dd10 keeps it DELIBERATELY. The trim consumes concrete
    * positions (the anti-join key), so some position materialization is
    * inherent; what dd8 eliminated was exploding K positions per gram
    * only to COUNT them, a pure-aggregation case the interval union
    * covers. Here the explode feeds the join the trim itself needs, the
    * exploded rows are 16-byte (doc_id, p) pairs bounded by K·dup-grams
    * and deduplicated before the join, and the measured scale profile
    * confirms it is not the dd8 failure mode: sf1 warm 4.6 s (at dd8's
    * post-rewrite level) and sf10 = 1.6× runtime for 10× data
    * (SCALE.md round-6 probes). Were a corpus to break that (dup-gram
    * density ≫ test corpora), the fallback is dd8's per-doc interval
    * union expanded once per document — same answer, one fewer
    * distinct — at the cost of a second higher-order aggregate. */
  def dd10SpanTrim(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val grams = docs(spark, dir).select(
      col("doc_id"), size(words).as("n_tokens"),
      posexplode(call_function("shingle_hashes_pos", words, lit(SPAN_K)))
        .as(Seq("pos", "h")))
    val dup = Model.guardedBroadcast(
      grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select(col("h")))
    val cov = grams.join(dup, "h")
      .select(col("doc_id"),
        explode(sequence(col("pos"),
          least(col("pos") + SPAN_K - 1, col("n_tokens") - 1))).as("p"))
      .distinct()
    val toks = docs(spark, dir).select(col("doc_id"),
      posexplode(words).as(Seq("p", "wd")))
    val kept = toks.join(cov, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        sort_array(collect_list(struct(col("p"), col("wd")))).as("ks"))
      .select(col("doc_id"), col("kept_tokens"),
        substring(array_join(col("ks").getField("wd"), " "),
          1, 64).as("clean_prefix")) // codegen'd GetArrayStructFields (r14)
    docs(spark, dir).select(col("doc_id"), size(words).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_prefix"), lit("")).as("clean_prefix"))
  }

  private val dd10Oracle =
    s"""WITH $dd8Ctes,
       |cv AS (SELECT DISTINCT doc_id, p FROM cov8),
       |tk0 AS (SELECT doc_id, unnest(list_transform(range(0, len(w)),
       |          i -> {'p': i, 'wd': w[CAST(i + 1 AS INT)]})) AS u FROM t8),
       |tkx AS (SELECT doc_id, CAST(u.p AS BIGINT) AS p, u.wd AS wd FROM tk0),
       |kp AS (SELECT t.doc_id, t.p, t.wd
       |       FROM tkx t LEFT JOIN cv c ON t.doc_id = c.doc_id AND t.p = c.p
       |       WHERE c.p IS NULL),
       |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
       |         substr(array_to_string(list(wd ORDER BY p), ' '), 1, 64) AS clean_prefix
       |       FROM kp GROUP BY doc_id)
       |SELECT t.doc_id, len(t.w) AS n_tokens,
       |       coalesce(ka.kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens,
       |       coalesce(ka.clean_prefix, '') AS clean_prefix
       |FROM t8 t LEFT JOIN ka ON t.doc_id = ka.doc_id""".stripMargin

  /** DD9 — incremental dedup: a "new batch" (odd doc_ids) deduplicated
    * against the "existing corpus" (even doc_ids) — the batch shape of
    * dedup-on-arrival (the streaming twin is
    * [[graft.streaming.DedupStream]]). A new document is flagged
    * `dropped_exact` when its text hash matches any existing document,
    * `dropped_near` when it shares an LSH band bucket with an existing
    * document AND the signature-estimated Jaccard ≥ 0.5 (identical
    * banding + estimate as dd2, so the same engine-neutral oracle
    * replays it).
    *
    * Shape (100 TB): in production the even side is a PRECOMPUTED
    * signature store (signatures persist from the previous batches;
    * only the new batch pays shingling), and both probes are
    * equi-joins on 8-byte keys: text-hash semi join + (band, bkey)
    * candidate join verified in place. Nothing quadratic, nothing
    * broadcast that grows with the corpus. */
  def dd9Incremental(spark: SparkSession, dir: String): DataFrame = {
    // pinned (optimization r14): the old/new snapshot sides are PARITY
    // FILTERS of the same two derived frames — the text-hash table and
    // the signature table — not independent reads, so unpinned the
    // plan paid 5 documents scans (hash pass ×2, signature pass ×2,
    // final id pass) that two pinned signature-sized frames serve
    // exactly. The operator still demonstrates dedup-on-arrival
    // against a standing corpus: in production the pinned signature
    // table IS the precomputed signature store (see the Shape note),
    // and both probes read it rather than re-shingling the corpus.
    val hashed = Model.pin(docs(spark, dir)
      .select(col("doc_id"), xxhash64(col("text")).as("h")))
    val exactIds = hashed.filter(col("doc_id") % 2 === 1)
      .join(hashed.filter(col("doc_id") % 2 === 0).select(col("h")),
        Seq("h"), "left_semi")
      .select(col("doc_id"))
    val banded = rkBandedPinned(spark, dir)
    val nearIds = banded.filter(col("doc_id") % 2 === 1).as("l")
      .join(banded.filter(col("doc_id") % 2 === 0).as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey"))
      .select(col("l.doc_id").as("doc_id"), col("l.sig").as("siga"),
        col("r.sig").as("sigb"))
      .withColumn("est", estJaccard(col("siga"), col("sigb")))
      .filter(col("est") >= 0.5)
      .select(col("doc_id")).distinct()
    hashed.filter(col("doc_id") % 2 === 1).select(col("doc_id"))
      .join(exactIds.withColumn("de", lit(1L)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("dn", lit(1L)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("de"), lit(0L)).as("dropped_exact"),
        coalesce(col("dn"), lit(0L)).as("dropped_near"),
        when(col("de").isNull && col("dn").isNull, lit(1L)).otherwise(lit(0L))
          .as("kept"))
  }

  private val dd9Oracle =
    s"""WITH $dd2SigCtes,
       |nw9 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
       |od9 AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
       |ex9 AS (SELECT DISTINCT n.doc_id FROM nw9 n JOIN od9 o ON n.text = o.text),
       |nr9 AS (SELECT DISTINCT l.doc_id
       |        FROM bnd2 l JOIN bnd2 r
       |          ON l.band = r.band AND l.bkey = r.bkey
       |         AND l.doc_id % 2 = 1 AND r.doc_id % 2 = 0
       |        WHERE ${estJaccardSql("l.sig", "r.sig")} >= 0.5)
       |SELECT n.doc_id,
       |  CAST(CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dropped_exact,
       |  CAST(CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dropped_near,
       |  CAST(CASE WHEN e.doc_id IS NULL AND r.doc_id IS NULL THEN 1 ELSE 0 END
       |    AS BIGINT) AS kept
       |FROM nw9 n LEFT JOIN ex9 e ON n.doc_id = e.doc_id
       |          LEFT JOIN nr9 r ON n.doc_id = r.doc_id""".stripMargin

  /** Expected CDC chunk length (words): a word anchors a boundary when
    * its avalanched hash ≡ 0 (mod ANCHOR_DIV). */
  private val ANCHOR_DIV = 8L

  /** DD11 — CONTENT-DEFINED chunking dedup (the FastCDC/rsync boundary
    * idea at word granularity): a chunk starts at every ANCHOR word —
    * one whose avalanched hash ≡ 0 mod ANCHOR_DIV — so boundaries are a
    * pure function of LOCAL content. That is the property dd6's
    * fixed-size grid lacks: inserting one word into a document shifts
    * every later fixed chunk's identity (nothing downstream dedups),
    * while here all chunks after the edit's enclosing chunk keep their
    * hashes and still match their copies in other documents. Output is
    * per-document chunk counts + the cross-document duplicate-chunk
    * ratio — the "how much of this doc is copied text" curation signal.
    *
    * Shape (100 TB): ONE linear lineage — posexplode → per-doc window
    * prefix-sum (the partition is one document, bounded by doc length)
    * → per-chunk fold into an 8-byte chunk hash (collect buffers are
    * chunk-sized, E[len] = ANCHOR_DIV words; the chunk groupBy reuses
    * the window's doc_id partitioning, so no extra exchange) → group to
    * (ch, doc_id) → document frequency as count-over-(partition ch)
    * [the per-ch partition is "docs containing this chunk" — the same
    * redundancy regime every df computation in the repo lives in] →
    * per-doc rollup. A first cut materialized a separate duplicate-set
    * table and joined it back behind the broadcast guard; that shape
    * recomputes the whole explode+window+fold subtree for BOTH join
    * inputs plus the guard's count job (measured 13.3 s warm at sf1 vs
    * 5.6 s for this one-pass form). Every shuffle after the explode
    * carries 8-byte hashes, never text. All hashes are the
    * engine-neutral RK/avalanche arithmetic, so chunking, chunk
    * identity, and the ratios replay verbatim in DuckDB. */
  def dd11CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    import org.apache.spark.sql.expressions.Window
    val pos = docs(spark, dir)
      .select(col("doc_id"), posexplode(words))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        call_function("rk_word_hash", col("col")).as("h"))
      .withColumn("anc",
        when(pmod(RkLsh.mix2Col(RkLsh.CDC_A, RkLsh.CDC_B, col("h")), lit(ANCHOR_DIV)) === 0, 1L)
          .otherwise(0L))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunks = pos.withColumn("cid", sum(col("anc")).over(w))
      .groupBy(col("doc_id"), col("cid"))
      .agg(sort_array(collect_list(struct(col("pos"), col("h")))).as("ph"))
      .select(col("doc_id"),
        // id_fold over the struct field array (GetArrayStructFields is
        // codegen'd): the same (a*MUL + h) % M40 arithmetic the former
        // interpreted aggregate/pmod fold computed — pmod == % here
        // because every operand is non-negative (optimization r14)
        call_function("id_fold", col("ph").getField("h")).as("ch"))
    val g = chunks.groupBy(col("ch"), col("doc_id")).agg(count(lit(1)).as("k"))
    g.withColumn("nd", count(lit(1)).over(Window.partitionBy(col("ch"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_chunks"),
        sum(when(col("nd") >= 2, col("k")).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_chunks"), 6).as("dup_ratio"))
  }

  private val dd11Oracle: String = {
    val mix = RkLsh.mix2Sql(RkLsh.CDC_A, RkLsh.CDC_B, "u.h")
    s"""WITH t11 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |w11 AS (SELECT doc_id, list_transform(w, wd -> ${RkLsh.wordSql}) AS hs FROM t11),
       |p11 AS (SELECT doc_id, unnest(list_transform(range(1, len(hs) + 1),
       |          i -> {'pos': i, 'h': hs[CAST(i AS INT)]})) AS u FROM w11),
       |e11 AS (SELECT doc_id, u.pos AS pos, u.h AS h,
       |          CASE WHEN ($mix) % $ANCHOR_DIV = 0 THEN 1 ELSE 0 END AS anc
       |        FROM p11),
       |c11 AS (SELECT doc_id, pos, h,
       |          sum(anc) OVER (PARTITION BY doc_id ORDER BY pos
       |                         ROWS UNBOUNDED PRECEDING) AS cid
       |        FROM e11),
       |ck11 AS (SELECT doc_id, cid,
       |          ${RkLsh.foldSql("list(h ORDER BY pos)", RkLsh.MUL)} AS ch
       |         FROM c11 GROUP BY doc_id, cid),
       |df11 AS (SELECT ch, count(DISTINCT doc_id) AS nd FROM ck11 GROUP BY ch)
       |SELECT k.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |       CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |       round(CAST(sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*), 6) AS dup_ratio
       |FROM ck11 k JOIN df11 d USING (ch)
       |GROUP BY k.doc_id""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("dd1_exact_dedup", dd1Exact, Some(dd1Oracle)),
    Q("dd2_minhash_lsh", dd2MinHashLsh, Some(dd2Oracle)),
    Q("dd3_simhash", dd3SimHash, Some(dd3Oracle)),
    Q("dd12_simhash_scale", dd12SimHashScale, Some(dd12Oracle)),
    Q("dd4_ngram_jaccard", dd4NgramJaccard, Some(dd4Oracle)),
    Q("dd5_embedding_cosine", dd5EmbeddingCosine, Some(dd5Oracle)),
    Q("dd6_chunk_dedup", dd6ChunkDedup, Some(dd6Oracle)),
    Q("dd11_cdc_chunks", dd11CdcChunks, Some(dd11Oracle)),
    Q("dd8_dup_spans", dd8DupSpans, Some(dd8Oracle)),
    Q("dd10_span_trim", dd10SpanTrim, Some(dd10Oracle)),
    Q("dd9_incremental", dd9Incremental, Some(dd9Oracle)))
}
