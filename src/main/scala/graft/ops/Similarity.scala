package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Two paths:
  *  - sim1: brute-force cosine top-k — the exactness baseline. The
  *    query side is tiny and explicitly broadcast, so the candidate
  *    scan is embarrassingly parallel (no shuffle of the big side);
  *    ranking shuffles only (query_id, candidate, score) tuples.
  *  - sim2: random-hyperplane LSH — the 100 TB path. Each vector gets a
  *    B-bit signature (sign of dot with B fixed pseudo-random planes);
  *    search probes the candidate's bucket plus all buckets within
  *    Hamming radius R of it (multi-probe), turning O(Q·N) into
  *    O(Q·N·Σ_{i≤R}C(B,i)/2^B) with an equi-join on the bucket key.
  *    The shipped configuration is B=4, R=2 (11/16 buckets probed) —
  *    sized for this corpus's weak clustering; see the tunables note.
  *
  * Scoring is double-precision with rank ties broken on rounded score
  * then vec_id, so results are deterministic across engines.
  */
object Similarity {

  private val K = 5
  private val NQ = 10 // vec_id < NQ are the query vectors

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** Per-query top-k by score with deterministic tie-break on id. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rank"))
  }

  /** Brute-force cosine top-k of any (vec_id, v: array<double>) corpus:
    * the exactness baseline. Queries broadcast; the corpus side never
    * shuffles before ranking. */
  def bruteTopK(data: DataFrame, nq: Int, k: Int): DataFrame = {
    val e = data.withColumn("nrm", norm2(col("v")))
    val q = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      // floor-scaled score: unambiguous on bit-identical doubles (see
      // graft.ops.Exact) — rank ties then break deterministically on id
      .withColumn("cos", graft.ops.Exact.floorE6(
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
    topK(scored, k)
  }

  /** SIM1 — brute-force cosine top-k per query vector. */
  def sim1BruteTopK(spark: SparkSession, dir: String): DataFrame =
    bruteTopK(vecs(spark, dir), NQ, K)

  private val sim1Oracle =
    s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < $NQ),
       |scored AS (
       |  SELECT q.qid, e.vec_id,
       |         floor(list_dot_product(q.qv, e.embedding::DOUBLE[]) /
       |               (sqrt(list_dot_product(q.qv, q.qv)) *
       |                sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) * 1000000) / 1000000 AS cos
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
       |SELECT qid, vec_id, cos, rank FROM (
       |  SELECT qid, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= $K""".stripMargin

  /** Plane count and probe radius are recall/cost tunables: more planes
    * = smaller buckets = cheaper but lower recall. On tightly clustered
    * production embeddings (neighbor cos ≳ 0.9) 8–16 planes with 1-bit
    * probes suffice; this synthetic corpus's neighbors sit near cos 0.5,
    * so we use 4 planes and probe out to Hamming radius 2. */
  private val PLANES = 4
  private val PROBE_RADIUS = 2

  private val DIM = 64

  /** SIM2 — LSH-bucketed ANN: signature join + exact rerank inside
    * buckets (multi-probe out to Hamming radius PROBE_RADIUS). Returns
    * top-k per query among probed candidates. Since round 3 the planes
    * are [[graft.functions.RkLshSignatures]]' engine-neutral ±1
    * Rademacher planes and the score floor-scales instead of rounding,
    * so the DuckDB oracle replays signatures, probe set, and rerank
    * verbatim — full hash-check (was rows-only). The spec still
    * measures recall against sim1. */
  def sim2LshTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    // single-table PLANES-bit signature: rk_lsh_signatures(v, 1, b)[0]
    val e = vecs(spark, dir)
      .withColumn("sig",
        element_at(call_function("rk_lsh_signatures", col("v"), lit(1), lit(PLANES)), 1))
      .withColumn("nrm", norm2(col("v")))
    // multi-probe masks: every signature perturbation within PROBE_RADIUS bits
    val masks = (0 until (1 << PLANES)).filter(m => Integer.bitCount(m) <= PROBE_RADIUS)
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("sig").as("qsig"),
        col("nrm").as("qnrm"))
      .select(col("qid"), col("qv"), col("qnrm"),
        explode(array(masks.map(m => col("qsig").bitwiseXOR(lit(m))): _*)).as("probe"))
    val cand = e.join(broadcast(q), col("sig") === col("probe") && col("vec_id") =!= col("qid"))
      .dropDuplicates("qid", "vec_id")
      .withColumn("cos", graft.ops.Exact.floorE6(
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
    topK(cand, K)
  }

  /** DuckDB planes CTE fragment shared by the sim2/sim4 oracles:
    * `nPlanes` rows of 64-element ±1 lists from the RADE_J parity
    * formula — the exact doubles [[graft.functions.RkLshSignatures]]
    * computes. */
  private def planesCte(nPlanes: Int): String = {
    val comp = graft.functions.RkLshSignatures.planeComponentSql("p.pid", DIM, "d")
    s"""planes AS (
       |  SELECT p.pid AS pid,
       |         list_transform(range(0, $DIM), d -> $comp) AS s
       |  FROM range(0, $nPlanes) p(pid))""".stripMargin
  }

  private val sim2Oracle: String = {
    val masks = (0 until (1 << PLANES)).filter(m => Integer.bitCount(m) <= PROBE_RADIUS)
      .map(m => s"($m)").mkString(", ")
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${planesCte(PLANES)},
       |sig AS (
       |  SELECT b.vec_id, CAST(sum(CASE WHEN list_dot_product(b.v, p.s) >= 0
       |                                 THEN 1 << p.pid ELSE 0 END) AS INT) AS sig
       |  FROM base b CROSS JOIN planes p GROUP BY 1),
       |nrm AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM base),
       |probes AS (
       |  SELECT s.vec_id AS qid, xor(s.sig, m.m) AS probe
       |  FROM sig s CROSS JOIN (VALUES $masks) m(m) WHERE s.vec_id < $NQ),
       |cand AS (
       |  SELECT DISTINCT p.qid, s.vec_id
       |  FROM sig s JOIN probes p ON s.sig = p.probe AND s.vec_id <> p.qid),
       |scored AS (
       |  SELECT c.qid, c.vec_id,
       |         floor(list_dot_product(qb.v, cb.v) / (qn.nrm * cn.nrm) * 1000000) / 1000000 AS cos
       |  FROM cand c
       |  JOIN base cb ON cb.vec_id = c.vec_id JOIN nrm cn ON cn.vec_id = c.vec_id
       |  JOIN base qb ON qb.vec_id = c.qid    JOIN nrm qn ON qn.vec_id = c.qid)
       |SELECT qid, vec_id, cos, rank FROM (
       |  SELECT qid, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= $K""".stripMargin
  }

  /** Multi-table banded LSH (AND-OR amplification) — the production
    * operating point for clustered embedding corpora. Each of `tables`
    * hash tables assigns a `bits`-bit signature from its own plane set;
    * a corpus vector is a candidate for a query iff they share a full
    * signature in at least one table (AND over bits within a table, OR
    * across tables). With b bits and L tables a pair agreeing on each
    * bit with probability p survives with 1−(1−p^b)^L — steeply
    * selective: near-neighbor recall stays high while the probed
    * fraction of the corpus is ~L/2^b for unrelated pairs.
    *
    * Contrast with [[sim2LshTopK]]'s 4-plane multiprobe, which this
    * synthetic corpus forces (no planted vector clusters, neighbor cos
    * ≈ 0.5 ⇒ per-bit agreement ≈ 0.67, so any selective configuration
    * has no recall). LshBandedSpec demonstrates THIS entry point at a
    * production-shaped point (8 tables × 10 bits) on a clustered
    * corpus: recall@5 ≥ 0.8 probing ≤ 10% of the corpus, both measured.
    *
    * Scale shape: the corpus side explodes to N×L bucket rows keyed by
    * (table, signature) — at 100 TB that bucket id is a write-time
    * partition column; queries broadcast, candidates dedup per (query,
    * candidate), and the exact rerank touches only bucket collisions. */
  def lshBandedCandidates(data: DataFrame, nq: Int, tables: Int, bits: Int): DataFrame = {
    require(bits <= 30 && tables * bits <= 512, s"implausible LSH shape: $tables x $bits")
    // ALL signatures in one compiled pass (RkLshSignatures): the
    // literal-Column formulation (tables×bits plane-literal dots)
    // generated more code than the JVM will JIT at the 8×10×64
    // production point, so the stage fell back to interpreted eval —
    // 10.4 s for sim4 at sf0.1 vs ~2 s compiled (one tight loop over a
    // cached plane matrix). Since round 3 the planes are the
    // engine-neutral ±1 Rademacher set, so oracles replay signatures.
    graft.functions.GraftFunctions.registerAll(data.sparkSession)
    val e = data.withColumn("nrm", norm2(col("v")))
    val buckets = e.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(call_function("rk_lsh_signatures", col("v"), lit(tables), lit(bits))))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "sig")
    val q = buckets.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        col("t").as("qt"), col("sig").as("qsig"))
    buckets.join(broadcast(q),
        col("t") === col("qt") && col("sig") === col("qsig") && col("vec_id") =!= col("qid"))
      .dropDuplicates("qid", "vec_id")
      .withColumn("cos", graft.ops.Exact.floorE6(
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
      .select(col("qid"), col("vec_id"), col("cos"))
  }

  /** Banded-LSH ANN top-k: candidates from [[lshBandedCandidates]],
    * exact cosine rerank inside buckets. */
  def lshBandedTopK(data: DataFrame, nq: Int, tables: Int, bits: Int, k: Int): DataFrame =
    topK(lshBandedCandidates(data, nq, tables, bits), k)

  // 6 replicas ⇒ every query has 5 planted in-cluster neighbors, so the
  // full brute-force top-K (K=5) is recoverable by a cluster-aware ANN —
  // with fewer replicas recall@5 is CAPPED below 1 by construction
  // (3 siblings / top-5 ceilinged the first cut at 0.6)
  private val SIM4_REPLICAS = 6
  private val SIM4_NQ = NQ * SIM4_REPLICAS // all replicas of the first NQ base vectors
  private val SIM4_TABLES = 8
  private val SIM4_BITS = 10

  /** Planted-cluster corpus derived DETERMINISTICALLY from the
    * embeddings table: every base vector gains SIM4_REPLICAS−1 replicas
    * perturbed by the ScaleGen formula (±0.016/dim), giving the
    * near-neighbor structure (in-cluster cos ≈ 1) that production
    * embedding corpora have and this synthetic table lacks (max
    * pairwise cos ≈ 0.51). New ids = old·R + rep, so `vec_id < nq`
    * still selects whole clusters as queries. Exposed for the spec's
    * brute-force ground truth. */
  private[graft] def sim4Corpus(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("vec_id").as("bid"), col("v"),
        explode(sequence(lit(0), lit(SIM4_REPLICAS - 1))).as("rep"))
      // new id materialized in its OWN projection before the lambda
      // references it: in the former single-select form the analyzer
      // resolved the lambda's `vec_id` to the new alias (lateral-style),
      // which round 3's oracle work surfaced — pin that semantics
      // explicitly so it can't drift across Spark versions
      .select((col("bid") * SIM4_REPLICAS + col("rep")).as("vec_id"),
        col("v"), col("rep"))
      .select(col("vec_id"),
        when(col("rep") === 0, col("v")).otherwise(
          zip_with(col("v"), sequence(lit(0), lit(DIM - 1)),
            (x, i) => x + (pmod(col("vec_id") * 31 + i * 7 + col("rep") * 13, lit(17)) - 8)
              .cast("double") * lit(0.002))).as("v"))

  /** SIM4 — the production banded-LSH operating point as a REGISTERED
    * query (round-2 verdict item 2): [[lshBandedTopK]] at 8 tables ×
    * 10 bits over the planted-cluster corpus, so the selective AND-OR
    * configuration appears in CORRECTNESS/BENCH like every other
    * operator instead of living only in LshBandedSpec. Since round 3
    * FULLY hash-checked: the DuckDB oracle re-derives the replica
    * corpus, all 80 Rademacher plane signatures, the banded candidate
    * join, and the floor-scaled rerank — approximate vs brute force,
    * exact vs the oracle. The spec additionally asserts recall@5 ≥ 0.8
    * AND probe fraction ≤ 10% on this exact corpus. */
  def sim4AnnBanded(spark: SparkSession, dir: String): DataFrame =
    lshBandedTopK(sim4Corpus(spark, dir), SIM4_NQ, SIM4_TABLES, SIM4_BITS, K)

  private val sim4Oracle: String = {
    val nPlanes = SIM4_TABLES * SIM4_BITS
    s"""WITH b0 AS (SELECT vec_id AS bid, embedding::DOUBLE[] AS bv FROM embeddings),
       |corpus AS (
       |  SELECT bid * $SIM4_REPLICAS + r.rep AS vec_id,
       |         CASE WHEN r.rep = 0 THEN bv
       |              ELSE list_transform(range(0, $DIM),
       |                     i -> bv[CAST(i + 1 AS INT)] +
       |                          CAST(((bid * $SIM4_REPLICAS + r.rep) * 31 + i * 7 + r.rep * 13) % 17 - 8 AS DOUBLE)
       |                          * 0.002::DOUBLE)
       |         END AS v
       |  FROM b0 CROSS JOIN range(0, $SIM4_REPLICAS) r(rep)),
       |${planesCte(nPlanes)},
       |sig AS (
       |  SELECT c.vec_id, p.pid // $SIM4_BITS AS t,
       |         CAST(sum(CASE WHEN list_dot_product(c.v, p.s) >= 0
       |                       THEN 1 << (p.pid % $SIM4_BITS) ELSE 0 END) AS INT) AS sig
       |  FROM corpus c CROSS JOIN planes p GROUP BY 1, 2),
       |nrm AS (SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM corpus),
       |q AS (SELECT vec_id AS qid, t, sig FROM sig WHERE vec_id < $SIM4_NQ),
       |cand AS (
       |  SELECT DISTINCT q.qid, s.vec_id
       |  FROM sig s JOIN q ON s.t = q.t AND s.sig = q.sig AND s.vec_id <> q.qid),
       |scored AS (
       |  SELECT c.qid, c.vec_id,
       |         floor(list_dot_product(qc.v, cc.v) / (qn.nrm * cn.nrm) * 1000000) / 1000000 AS cos
       |  FROM cand c
       |  JOIN corpus cc ON cc.vec_id = c.vec_id JOIN nrm cn ON cn.vec_id = c.vec_id
       |  JOIN corpus qc ON qc.vec_id = c.qid    JOIN nrm qn ON qn.vec_id = c.qid)
       |SELECT qid, vec_id, cos, rank FROM (
       |  SELECT qid, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= $K""".stripMargin
  }

  private val IVF_ITERS = 3
  /** probe-count override (`graft.ivf.probes`) — the recall/latency
    * knob of every IVF read path (sim3/sim6/knn2/ir3/serve): more
    * probed cells = more candidates = higher recall, linearly more ADC
    * work. The DEFAULT (4) is baked into the DuckDB oracle SQL texts,
    * so overriding forfeits the oracle twin exactly like
    * [[TargetCell]] — a deployment tuning move, measured on the
    * recall harness (ServeBench `recall`, SCALE.md). */
  val Probes = graft.Setting.int("graft.ivf.probes", Some(4), min = 1)
  private[graft] val IVF_Q = 512 // integer grid: uq[i] = floor(u[i] * 512)

  /** The cell count K is CORPUS-PROPORTIONAL: K = ceil(trainN / target),
    * target = sampled rows per cell. With K fixed (16 through round 4)
    * cells grow linearly with the corpus and dd7's within-cell pair
    * join — Σ|cell|² — grows quadratically (the sf10 probe measured 22×
    * cost for 10× data); with K ∝ N, |cell| stays ≈ 4·target rows and
    * Σ|cell|² ≈ N·4·target is linear. Both knobs are session confs; the
    * DuckDB oracle derives K from the SAME train count with the SAME
    * integer formula (defaults baked into the SQL text), so the query
    * stays hash-checkable at every SF — overriding the confs is a
    * deployment move that forfeits only the oracle twin. The maxK cap
    * bounds driver/model state (maxK × 64 longs ≈ 32 MB at the
    * default); the [[FlatMaxK]] cap bounds per-scan assignment
    * COST — at a corpus big enough that the desired K exceeds either,
    * the trainer goes HIERARCHICAL automatically: a flat coarse
    * quantizer of ≤ maxK
    * driver-held centroids, then per-coarse-cell fine sub-centroids
    * kept as a DISTRIBUTED table (never collected), so cell population
    * stays ≈ 4·target and driver/model state stays ≤ maxK rows at any
    * corpus size — the SemDeDup/IVF-PQ deployment reality at 100 TB.
    * See [[twoLevelTrained]]. */
  val TargetCell = graft.Setting.long("graft.ivf.targetCell", Some(32L), min = 1)
  val MaxK = graft.Setting.long("graft.ivf.maxK", Some(65536L), min = 1)

  /** The flat→two-level dispatch threshold — a COST bound, distinct
    * from [[MaxK]]'s driver-STATE bound. Flat assignment prices
    * every corpus row at K 64-dim dots per scan, so its per-scan work
    * is N·K ∝ N²/target at defaults — quadratic in the corpus — while
    * two-level prices it at K1+K2 ≈ 2√K. Dispatching on maxK alone
    * (the pre-round-13 rule) left a measured quadratic valley between
    * the last comfortable flat corpus and maxK·target: at 2M vectors
    * (desired K = 15 625, well under the 65 536 state cap) the flat
    * trainer ran 28 min and EVERY warm consumer re-paid a ~14 min
    * 2M×15 625-dot assignment scan per invocation, where the two-level
    * regime measures ~50 s / ~15 s on the same corpus (SCALE.md round
    * 13). The default (2048) keeps flat — the oracle-replayed regime —
    * through every driver SF and this repo's sf1/sf10 fixtures
    * (desired 157/1563), and is ≈1.3× the per-row work of the measured
    * 13.6 s sf10 point at worst. Like the sizing confs, the value is
    * part of the model identity: it keys the registry and is recorded
    * and checked by [[graft.ops.ModelStore]]. */
  val FlatMaxK = graft.Setting.long("graft.ivf.flatMaxK", Some(2048L))

  /** (desired uncapped cell count = ceil(trainN/target),
    * flat-regime cap = min(flatMaxK, maxK), maxK). */
  private def ivfParams(spark: SparkSession, trainN: Long): (Long, Long, Long) = {
    val (target, maxK) = (TargetCell(spark), MaxK(spark))
    (math.max(1L, (trainN + target - 1) / target), math.min(maxK, FlatMaxK(spark)), maxK)
  }

  /** SIM3 — IVF (inverted-file) ANN: k-means partitions the corpus into
    * K cells; a query probes only its `Probes` nearest cells and
    * reranks exactly inside them. Training is Lloyd's iterations over a
    * deterministic 1-in-4 sample with deterministic init (first K
    * sampled vectors by id); each iteration is one scan + one
    * `vector_sum_long` sketch aggregate per cell — only the K×64
    * centroid matrix ever reaches the driver, which is model state,
    * not data. At 100 TB the cell assignment is a write-time
    * bucketing column; probes then prune to `Probes`/K of the corpus.
    *
    * Since round 3 the whole training loop is ENGINE-NEUTRAL, flipping
    * the last no-oracle query to full hash-check. The blocker was float
    * centroid means: double sums across rows are partition-order-
    * dependent, so centroid low bits were nondeterministic even within
    * Spark. The fix quantizes each unit vector to an integer grid
    * (`floor(u·512)`) and keeps k-means in exact integer arithmetic —
    * integer sums are order-free, and a DuckDB oracle can replay all
    * three unrolled Lloyd iterations verbatim:
    *  - assignment: argmax over integer dots (exact as integer-valued
    *    doubles, |dot| ≤ 64·512² = 2^24), first-best-index tie-break;
    *  - update: per-cell integer component sums S (the member count
    *    cancels out of the renormalization, so only S matters);
    *  - renormalize to the grid: `floor(S[i]·512 / sqrt(ΣS[j]²))` —
    *    each float op is a fixed-order scalar on exact integer inputs,
    *    bit-identical across engines. ΣS² stays exact in a signed 64-bit
    *    to ~2e16 sampled rows per cell (bound documented in
    *    [[graft.functions.VectorSumLong]]); empty/degenerate cells keep
    *    their centroid on both engines.
    * Final rerank is the floor-scaled exact cosine over the original
    * doubles, as in sim1. */
  /** A query row's `probes` best cells, from its `dots` column:
    * indices of the largest dots — sort (−dot, idx) structs
    * lexicographically, take the head slice. Shared by sim3 and sim6. */
  private def probesCol(k: Int, probes: Int): Column = explode(expr(
    s"""transform(slice(array_sort(transform(sequence(0, ${k - 1}),
       |  i -> named_struct('d', -element_at(dots, CAST(i + 1 AS INT)), 'idx', i))),
       |  1, $probes), s -> s.idx)""".stripMargin))

  /** Adds an exploded `probe` column of candidate cell ids per query
    * row. Flat model: the `Probes` best cells by the row's `dots`
    * (unchanged — bit-identical to the oracle's probe CTE). Two-level:
    * the `Probes` best coarse cells by `dots`, each refined to its
    * `Probes` best fine sub-cells (an equi-join against the fine
    * matrix table + one column-matrix dots pass) — P² probed sub-cells
    * whose total population ≈ N·P²/(K1·K2), strictly finer pruning
    * than a maxK-capped flat model could reach. `vecCol` is the
    * unit-grid vector column (sim6 carries it renamed as qx). */
  private def withProbes(model: IvfModel, df: DataFrame, vecCol: Column): DataFrame = {
    val probes = Probes(df.sparkSession)
    model.fine match {
      case None => df.withColumn("probe", probesCol(model.k, probes))
      case Some(f) =>
        val topFine = expr(
          s"""transform(slice(array_sort(transform(sequence(0, size(fdots) - 1),
             |  i -> named_struct('d', -element_at(fdots, CAST(i + 1 AS INT)), 'idx', i))),
             |  1, $probes), s -> s.idx)""".stripMargin)
        df.withColumn("p1", probesCol(f.coarseK, probes))
          .join(f.centroids.withColumnRenamed("cell1", "p1"), Seq("p1"), "left")
          .withColumn("fdots", call_function("matrix_dots", vecCol, col("mat")))
          .withColumn("p2",
            explode(when(col("mat").isNull, array(lit(0L))).otherwise(topFine)))
          .withColumn("probe", col("p1") * f.fineK + col("p2"))
          .drop("p1", "p2", "mat", "fdots")
    }
  }

  def sim3AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val model = ivfAssigned(spark, dir)
    val assigned = model.assigned
    // queries probe their `Probes` best cells
    val q = withProbes(model, assigned.filter(col("vec_id") < NQ), col("uq"))
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        col("probe"))
    val cand = assigned.join(broadcast(q),
        col("cell") === col("probe") && col("vec_id") =!= col("qid"))
      .withColumn("cos", graft.ops.Exact.floorE6(
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
    topK(cand, K)
  }

  /** The sim3 trainer, shared with dd7: the FULL corpus with
    * (vec_id, v, nrm, uq, dots, cell) after IVF_ITERS engine-neutral
    * integer-grid Lloyd iterations (see [[sim3AnnIvf]]'s scaladoc for
    * the determinism argument; the oracle replay lives in
    * [[ivfOracleCtes]]). */
  /** The fine half of a two-level model: K1 coarse cells (driver-held,
    * ≤ maxK), each with ≤ K2 fine sub-centroids living in `centroids`
    * (cell1, mat: array<array<double>> sorted by sub-cell index) — a
    * DISTRIBUTED model table, joined on cell1, never collected. */
  private[graft] final case class IvfFine(coarseK: Int, fineK: Int, centroids: DataFrame)

  /** A trained IVF model: the assigned corpus plus the derived cell
    * count (callers need K for probe expressions and loop bounds);
    * `fine` is present only when the two-level trainer engaged. */
  private[graft] final case class IvfModel(assigned: DataFrame, k: Int,
    fine: Option[IvfFine] = None)

  /** Trained quantizer state held by the model registry: the flat
    * centroid matrix (driver arrays — pure values, session-free) or
    * the two-level pair of coarse arrays + the persisted fine matrix
    * table. Nothing corpus-sized lives here. */
  private[graft] sealed trait IvfTrained
  private[graft] final case class FlatTrained(
      k: Int, centroids: Array[Seq[Long]]) extends IvfTrained
  private[graft] final case class TwoLevelTrained(
      k1: Int, k2: Int, coarse: Array[Seq[Long]],
      mat: DataFrame) extends IvfTrained

  /** Quantizer-model registry, the ANN analogue of TextOps' BPE
    * registry: Lloyd/PQ training happens ONCE per corpus and every
    * consumer (sim3/sim6/dd7, knn2/ir3's dense tier) reuses the
    * artifact — the deployment shape [[flatCentroids]] already
    * documents for the streaming leg (train the quantizer OFFLINE over
    * a corpus snapshot, assign online). Training is fully
    * deterministic, so reuse cannot change any result — the oracles
    * replay the identical unrolled iterations either way; what a reuse
    * skips is only the redundant re-derivation of the same model. Keys
    * carry the session confs the trainer reads ([[TargetCell]],
    * [[MaxK]]) so a spec forcing the two-level path never sees a
    * flat model trained under defaults. A tiny LRU (per-entry state is
    * K×64 longs ≤ 32 MB at the default cap; PQ books are 8×16×8
    * longs) bounds a long-lived session; a two-level entry's fine
    * matrix table goes with it ([[KeyedCache]]). */
  private[graft] val ivfCache = new KeyedCache[IvfTrained](4, {
    case TwoLevelTrained(_, _, _, mat) => Seq(mat)
    case _ => Nil
  })
  private[graft] val pqCache = new KeyedCache[Array[Array[Array[Long]]]](4)

  private def ivfCacheKey(spark: SparkSession, dir: String): String =
    s"$dir|${TargetCell.raw(spark)}|${MaxK.raw(spark)}|${FlatMaxK.raw(spark)}"

  /** The persistable parts of a trained IVF quantizer — either
    * regime. Flat: the driver-held centroid matrix. Two-level: the
    * driver-held coarse matrix plus the DISTRIBUTED fine matrix table
    * (cell1, mat) — callers persist it as parquet (the `bpe_subs`
    * pattern), never collect it: at 100 TB two-level is the only
    * regime, and its fine model is exactly the artifact a serving
    * fleet must load without retraining. */
  private[graft] sealed trait IvfExport
  private[graft] final case class FlatIvfExport(
      centroids: Array[Seq[Long]]) extends IvfExport
  private[graft] final case class TwoLevelIvfExport(k1: Int, k2: Int,
      coarse: Array[Seq[Long]], mat: DataFrame) extends IvfExport

  /** the trained quantizer for `dir` under the CURRENT session confs —
    * [[graft.ops.ModelStore]]'s export surface. Trains on a registry
    * miss; returns whichever regime the corpus+confs select. */
  private[graft] def exportIvf(spark: SparkSession, dir: String): IvfExport =
    ivfTrained(spark, dir, unitVecs(spark, dir)) match {
      case FlatTrained(_, centroids) => FlatIvfExport(centroids)
      case TwoLevelTrained(k1, k2, coarse, mat) => TwoLevelIvfExport(k1, k2, coarse, mat)
    }

  /** install an externally-loaded flat quantizer under the current
    * session confs (the serve-side of [[graft.ops.ModelStore]]) */
  private[graft] def installFlatIvf(spark: SparkSession, dir: String,
      centroids: Array[Seq[Long]]): Unit =
    ivfCache.put(spark, ivfCacheKey(spark, dir),
      FlatTrained(centroids.length, centroids))

  /** install an externally-loaded two-level quantizer under the
    * current session confs: the fine matrix table is persisted +
    * materialized here (its lineage is just a parquet scan, but the
    * registry's reuse contract expects a pinned table, and eviction
    * unpersists it like a trained one). */
  private[graft] def installTwoLevelIvf(spark: SparkSession, dir: String,
      k1: Int, k2: Int, coarse: Array[Seq[Long]], mat: DataFrame): Unit = {
    val m = mat.persist()
    m.count()
    ivfCache.put(spark, ivfCacheKey(spark, dir), TwoLevelTrained(k1, k2, coarse, m))
  }

  /** the trained unit-grid PQ codebooks riding the IVF model (sim6's
    * domain) — trains on a registry miss */
  private[graft] def exportUnitPqBooks(spark: SparkSession, dir: String)
      : Array[Array[Array[Long]]] = {
    val model = ivfAssigned(spark, dir)
    pqModelOn(spark, model.assigned.select(
      col("vec_id"), col("uq").as("qx"), col("cell"), col("v"),
      col("nrm"), col("dots")), s"$dir|unit")._1
  }

  /** install externally-loaded unit-grid PQ codebooks */
  private[graft] def installUnitPqBooks(spark: SparkSession, dir: String,
      books: Array[Array[Array[Long]]]): Unit =
    pqCache.put(spark, s"$dir|unit", books)

  /** test hook: drop every registered quantizer model (unpersisting
    * two-level matrix tables and served corpora), forcing the next
    * call to retrain */
  private[graft] def resetModelRegistry(): Unit = {
    ivfCache.clear()
    pqCache.clear()
    servedCorpusCache.clear()
  }

  /** the corpus on the integer grid: (vec_id, v, nrm, uq) */
  private def unitVecs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    // unit-normalize + integer-grid quantize in ONE codegen'd pass
    // (QuantizeUnit.compute; the HOF transform chain evaluated its lambdas
    // interpreted on every corpus row) — the exact scalar sequence of
    // the oracle's list_transform(v, x -> floor((x / nrm) * 512)), so
    // hashes are unchanged; cell dots then go through the codegen'd
    // MatrixDots.compute, exact (products ≤ 2^18, 64-term sums ≤ 2^24 —
    // order- and engine-free)
    vecs(spark, dir).withColumn("nrm", norm2(col("v")))
      .withColumn("uq", call_function("quantize_unit", col("v"), lit(IVF_Q)))
      .select(col("vec_id"), col("v"), col("nrm"), col("uq"))
  }

  /** Lloyd's iterations see a deterministic 1-in-4 sample (k-means
    * needs representative cluster shapes, not every point; at 100 TB
    * the training scan is the dominant cost and subsampling is the
    * standard fix). Only the sample is cached — a few MB here, and at
    * scale a bounded fraction of the corpus. The count that sizes K
    * doubles as the cache materialization (the Model.fits pattern — no
    * second corpus pass). */
  private def trainSample(e: DataFrame): DataFrame =
    e.filter(pmod(col("vec_id"), lit(4)) === 0)
      .select(col("vec_id"), col("uq")).cache()

  /** the registered quantizer for `dir` under the current session
    * confs, trained from `e` ([[unitVecs]]) on a miss; a hit never
    * evaluates `e` (each evaluation reads the corpus schema, a job) */
  private def ivfTrained(spark: SparkSession, dir: String,
      e: => DataFrame): IvfTrained = {
    graft.functions.GraftFunctions.registerAll(spark)
    ivfCache.getOrBuild(spark, ivfCacheKey(spark, dir)) {
      val train = trainSample(e)
      val (desired, flatCap, maxK) = ivfParams(spark, train.count())
      if (desired <= flatCap) {
        val k = desired.toInt
        val centroids = lloydFlat(train, k)
        // training is done: release the cached sample (the downstream
        // query scans the full corpus once; keeping the cache would pin
        // storage for the rest of the session)
        train.unpersist()
        FlatTrained(k, centroids)
      } else twoLevelTrained(train, desired, maxK)
    }
  }

  private[graft] def ivfAssigned(spark: SparkSession, dir: String): IvfModel = {
    val e = unitVecs(spark, dir)
    ivfTrained(spark, dir, e) match {
      case FlatTrained(k, centroids) => IvfModel(withCellFlat(e, centroids), k)
      case TwoLevelTrained(k1, k2, coarse, mat) =>
        IvfModel(assignTwoLevel(e, coarse, mat, k2), k1 * k2,
          Some(IvfFine(k1, k2, mat)))
    }
  }

  /** The flat-trainer centroids for `dir` — the OFFLINE model the
    * streaming semantic-dedup leg
    * ([[graft.streaming.SemanticDedupStream]]) applies on ingest: the
    * SemDeDup deployment shape trains the quantizer offline over a
    * corpus snapshot and assigns online. Identical sample prep, params
    * and Lloyd loop as [[ivfTrained]]'s flat branch (K clamped to
    * the flat cap), so for any corpus where the flat path engages this IS
    * dd7's model — which is what lets StreamingSemanticDedupSpec
    * assert streaming ≡ batch dd7 exactly. */
  private[graft] def flatCentroids(spark: SparkSession, dir: String): Array[Seq[Long]] = {
    val key = ivfCacheKey(spark, dir)
    ivfCache.get(spark, key) match {
      case Some(FlatTrained(_, centroids)) => centroids
      case _ =>
        val train = trainSample(unitVecs(spark, dir))
        try {
          val (desired, flatCap, _) = ivfParams(spark, train.count())
          val centroids = lloydFlat(train, math.min(desired, flatCap).toInt)
          // registry-share ONLY in the flat regime: past the flat cap
          // this clamped model is NOT what ivfAssigned would train (it
          // goes two-level), so registering it would poison the shared
          // key
          if (desired <= flatCap) ivfCache.put(spark, key, FlatTrained(desired.toInt, centroids))
          centroids
        } finally { train.unpersist(); () }
    }
  }

  /** Driver-held flat Lloyd trainer — the engine-neutral integer-grid
    * loop the oracle replays (see [[sim3AnnIvf]]'s scaladoc). Also the
    * coarse-level trainer of the two-level path. */
  private def lloydFlat(train: DataFrame, k: Int): Array[Seq[Long]] = {
    // deterministic init: the first K training vectors by id (a
    // distributed TakeOrdered over the cached sample — rank-based, so
    // no density assumption on vec_id; the oracle ranks identically)
    var centroids: Array[Seq[Long]] = train
      .orderBy(col("vec_id")).limit(k).select(col("uq")).collect()
      .map(_.getSeq[Long](0))

    for (_ <- 1 to IVF_ITERS) {
      // one scan per iteration: assign to the best cell, then ONE
      // vector_sum_long sketch aggregate per cell (primitive dim+1
      // buffer, ObjectHashAggregate merge) — only the K×64 integer sum
      // matrix reaches the driver (model state).
      val sums = withCellFlat(train, centroids)
        .groupBy(col("cell"))
        .agg(call_function("vector_sum_long", col("uq")).as("sn"))
        .select(col("cell"), col("sn.s").as("s"))
        .collect()
      val byCell = sums.map(r => r.getLong(0).toInt -> r.getSeq[Long](1)).toMap
      centroids = (0 until k).map { c =>
        byCell.get(c) match {
          case Some(s) =>
            val r2 = s.map(x => x * x).sum // exact: |S| ≤ n·512, ΣS² ≤ 64·(n·512)²
            if (r2 == 0L) centroids(c)
            // mean cancels: floor((S/n)·512 / (‖S‖/n)) = floor(S·512/‖S‖).
            // S·512 ≤ 2^53 exact in double; one divide + floor — the
            // identical scalar sequence the oracle runs.
            else s.map(x => math.floor(x * 512.0 / math.sqrt(r2.toDouble)).toLong)
          case None => centroids(c) // empty cell keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /** dots against the whole centroid matrix via ONE kernel call
    * carrying the model as one flat literal — plan size and generated
    * code are O(1) in K (the unrolled per-centroid literal form
    * detonates past K≈500; see [[graft.functions.MatrixDots]]); argmax with
    * FIRST-index tie-break (array_position returns the first
    * occurrence) — mirrored by the oracle's ORDER BY d DESC, pid. */
  private def withCellFlat(df: DataFrame, centroids: Array[Seq[Long]]): DataFrame = df
    .withColumn("dots", call_function("matrix_dots", col("uq"),
      typedLit(centroids.map(_.map(_.toDouble)).toSeq)))
    .withColumn("cell", expr("array_position(dots, array_max(dots)) - 1"))

  /** The per-coarse-cell fine-centroid table pivoted to one matrix row
    * per coarse cell: (cell1, mat sorted by sub-cell index) — the shape
    * [[graft.functions.MatrixDots.dotsWithMatrix]] consumes. */
  private def fineMat(fine: DataFrame): DataFrame = fine
    .groupBy(col("cell1"))
    .agg(sort_array(collect_list(struct(col("fidx"), col("c")))).as("fc"))
    .select(col("cell1"),
      transform(col("fc"), x =>
        transform(x.getField("c"), y => y.cast("double"))).as("mat"))

  /** The TWO-LEVEL (coarse+fine) trainer — engages when the corpus-
    * proportional cell count exceeds min(flatMaxK, maxK): past maxK a
    * flat driver-held model would blow driver memory or let cells
    * resume growing with the corpus (the measured failure mode the
    * K∝N fix removed at smaller scales); past flatMaxK its per-scan
    * N·K assignment cost detonates first (the measured 2M-vector
    * quadratic valley — see [[FlatMaxK]]). Level 1 is [[lloydFlat]] with
    * K1 = min(maxK, ceil(√desired)) driver-held centroids; level 2
    * trains ≤ K2 = ceil(desired/K1) sub-centroids INSIDE each coarse
    * cell with the same integer-grid Lloyd arithmetic, but the fine
    * model lives as a distributed (cell1, fidx, c) table: init is the
    * first K2 training members per cell (window rank — one shuffle on
    * cell1), each iteration is one equi-join of the training sample
    * against the K1-row matrix table + a (cell1, fcell) integer-sum
    * aggregate, and renormalization runs as a distributed expression
    * with the EXACT scalar sequence of the flat trainer's driver loop
    * (floor(S·512/‖S‖), empty cells keep their centroid). Total
    * effective cells = K1·K2 ≥ desired — K1 alone is capped at maxK
    * (it IS driver state), K2 is not (the fine model is a distributed
    * table) — so |cell| stays ≈ 4·target at any corpus size while
    * nothing larger than K1 centroid rows is ever collected. The
    * combined id is cell1·K2 + cell2.
    *
    * Not oracle-twinned: with default confs this path engages at
    * trainN > flatMaxK·target = 65 536 sampled vectors (≈ 262k corpus
    * vectors) — still past every driver SF and this repo's sf1/sf10
    * fixtures — and forcing it on via the confs forfeits the oracle
    * by declaration (see [[TargetCell]]). Correctness is spec'd
    * instead (TwoLevelIvfSpec): structural invariants + sim3/dd7
    * output contracts with the confs forced low. */
  /** coarse-assign: the two-level analogue of [[withCellFlat]] —
    * `dots` + argmax against the driver-held coarse matrix. */
  private def withC1(df: DataFrame, coarse: Array[Seq[Long]]): DataFrame = df
    .withColumn("dots", call_function("matrix_dots", col("uq"),
      typedLit(coarse.map(_.map(_.toDouble)).toSeq)))
    .withColumn("cell1", expr("array_position(dots, array_max(dots)) - 1"))

  /** full-corpus assignment under an already-trained two-level model:
    * coarse via the broadcast-sized driver matrix, fine via ONE
    * equi-join against the K1-row matrix table (broadcast while
    * small, shuffle join at scale — planner's call). A coarse cell
    * with no training members has no fine row: its corpus rows keep
    * sub-cell 0. */
  private def assignTwoLevel(e: DataFrame, coarse: Array[Seq[Long]],
      mat: DataFrame, k2: Int): DataFrame =
    withC1(e, coarse).join(mat, Seq("cell1"), "left")
      .withColumn("fdots", call_function("matrix_dots", col("uq"), col("mat")))
      .withColumn("cell2", when(col("mat").isNull, lit(0L))
        .otherwise(expr("array_position(fdots, array_max(fdots)) - 1")))
      .withColumn("cell", col("cell1") * k2 + col("cell2"))
      .select(col("vec_id"), col("v"), col("nrm"), col("uq"), col("dots"), col("cell"))

  private def twoLevelTrained(train: DataFrame, desired: Long,
      maxK: Long): TwoLevelTrained = {
    val k1 = math.min(maxK, math.ceil(math.sqrt(desired.toDouble)).toLong).toInt
    // k2 is deliberately NOT capped at maxK: the fine model is a
    // distributed (cell1, fidx, c) table, never collected, so maxK (a
    // DRIVER-memory bound) doesn't apply. Capping it would make
    // K1·K2 < desired once desired > maxK², and cell populations would
    // resume growing with the corpus — the exact failure the two-level
    // split exists to remove. The per-coarse-cell matrix row is
    // K2×64 doubles (≈ ½ MB at K2 = 1000), paid per assignment join row,
    // not per driver.
    val k2 = ((desired + k1 - 1) / k1).toInt
    val coarse = lloydFlat(train, k1)
    val trainC = withC1(train, coarse).select(col("vec_id"), col("uq"), col("cell1"))

    // fine init: the first K2 training members of each coarse cell by
    // id (rank within cell — the within-cell analogue of flat init)
    val wInit = Window.partitionBy(col("cell1")).orderBy(col("vec_id"))
    var fine = trainC
      .withColumn("fidx", (row_number().over(wInit) - 1).cast("long"))
      .filter(col("fidx") < k2)
      .select(col("cell1"), col("fidx"), col("uq").as("c"))

    for (_ <- 1 to IVF_ITERS) {
      val sums = trainC.join(fineMat(fine), Seq("cell1"))
        .withColumn("fdots", call_function("matrix_dots", col("uq"), col("mat")))
        .withColumn("fcell", expr("array_position(fdots, array_max(fdots)) - 1"))
        .groupBy(col("cell1"), col("fcell"))
        .agg(call_function("vector_sum_long", col("uq")).as("sn"))
        .select(col("cell1"), col("fcell").as("fidx"), col("sn.s").as("sv"))
      // distributed renormalization — no collect; the r2 aggregate and
      // the floor(S·512/‖S‖) transform run over the model TABLE
      fine = fine.join(sums, Seq("cell1", "fidx"), "left")
        .withColumn("r2", aggregate(col("sv"), lit(0L), (a, x) => a + x * x))
        .select(col("cell1"), col("fidx"),
          when(col("sv").isNull || col("r2") === 0L, col("c"))
            .otherwise(transform(col("sv"), x =>
              floor(x * lit(IVF_Q.toDouble) / sqrt(col("r2").cast("double")))
                .cast("long")))
            .as("c"))
    }

    // materialize the fine model ONCE (its lineage is the whole
    // IVF_ITERS training chain — unpersisted, every downstream action
    // and every registry reuse would replay the training): K1 rows of
    // K2×64 matrices, model-sized.
    val mat = fineMat(fine).persist()
    mat.count()
    train.unpersist()
    TwoLevelTrained(k1, k2, coarse, mat)
  }

  /** DuckDB replay of [[sim3AnnIvf]]: quantize to the integer grid,
    * unroll the IVF_ITERS Lloyd iterations (assignment by windowed
    * argmax, per-cell integer sums via a dim cross join, grid
    * renormalization with the count-cancelling formula), then the same
    * probe + floor-scaled rerank. Every arithmetic step is the exact
    * integer (or fixed-order scalar double) sequence the Spark side
    * runs — see the sim3 scaladoc for why this is bit-stable. */
  /** The sim3 trainer's CTE block, shared with dd7's oracle: quantize
    * to the grid, unroll the IVF_ITERS Lloyd iterations, assign the
    * FULL corpus — leaves `af(vec_id, uq, cell)` and `e(vec_id, v,
    * nrm)` in scope for the caller's continuation. */
  private val ivfOracleCtes: String = {
    def assign(src: String, cents: String): String =
      s"""SELECT vec_id, uq, cell FROM (
         |  SELECT t.vec_id, t.uq, c.pid AS cell,
         |         row_number() OVER (PARTITION BY t.vec_id
         |           ORDER BY list_dot_product(t.uq, c.c) DESC, c.pid) AS rn
         |  FROM $src t CROSS JOIN $cents c) WHERE rn = 1""".stripMargin
    val iters = (1 to IVF_ITERS).map { i =>
      val prev = s"c${i - 1}"
      s"""a$i AS (${assign("tr", prev)}),
         |s$i AS (
         |  SELECT cell, d, CAST(sum(CAST(uq[CAST(d AS INT)] AS BIGINT)) AS BIGINT) AS s
         |  FROM a$i CROSS JOIN range(1, ${DIM + 1}) r(d) GROUP BY cell, d),
         |m$i AS (
         |  SELECT cell, list(s ORDER BY d) AS sv, CAST(sum(s * s) AS BIGINT) AS r2
         |  FROM s$i GROUP BY cell),
         |c$i AS (
         |  SELECT p.pid,
         |         CASE WHEN m.r2 IS NULL OR m.r2 = 0 THEN p.c
         |              ELSE list_transform(m.sv,
         |                     s -> floor((s * $IVF_Q)::DOUBLE / sqrt(m.r2::DOUBLE)))
         |         END AS c
         |  FROM $prev p LEFT JOIN m$i m ON m.cell = p.pid)""".stripMargin
    }.mkString(",\n")
    s"""base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
       |uqt AS (SELECT vec_id,
       |          list_transform(v, x -> floor((x / nrm) * $IVF_Q)) AS uq FROM e),
       |tr AS (SELECT vec_id, uq FROM uqt WHERE vec_id % 4 = 0),
       |kk AS (SELECT LEAST(${MaxK.default},
       |         GREATEST(1, (count(*) + ${TargetCell.default - 1}) // ${TargetCell.default})) AS k
       |       FROM tr),
       |c0 AS (SELECT CAST(rn - 1 AS INT) AS pid, uq AS c FROM (
       |         SELECT row_number() OVER (ORDER BY vec_id) AS rn, uq FROM tr)
       |       WHERE rn <= (SELECT k FROM kk)),
       |$iters,
       |af AS (${assign("uqt", s"c$IVF_ITERS")})""".stripMargin
  }

  private val sim3Oracle: String =
    s"""WITH $ivfOracleCtes,
       |qp AS (
       |  SELECT vec_id AS qid, pid AS probe FROM (
       |    SELECT u.vec_id, c.pid,
       |           row_number() OVER (PARTITION BY u.vec_id
       |             ORDER BY list_dot_product(u.uq, c.c) DESC, c.pid) AS rn
       |    FROM uqt u CROSS JOIN c$IVF_ITERS c WHERE u.vec_id < $NQ)
       |  WHERE rn <= ${Probes.default}),
       |scored AS (
       |  SELECT q.qid, a.vec_id,
       |         floor(list_dot_product(qe.v, ce.v) / (qe.nrm * ce.nrm) * 1000000) / 1000000 AS cos
       |  FROM af a JOIN qp q ON a.cell = q.probe AND a.vec_id <> q.qid
       |  JOIN e ce ON ce.vec_id = a.vec_id
       |  JOIN e qe ON qe.vec_id = q.qid)
       |SELECT qid, vec_id, cos, rank FROM (
       |  SELECT qid, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= $K""".stripMargin

  private[graft] val DD7_TAU = 0.45 // same near-dup threshold as dd5

  /** DD7 — SEMANTIC dedup (the SemDeDup move, Abbas et al. 2023):
    * cluster the embedding corpus with the sim3 k-means trainer
    * (identical engine-neutral integer-grid Lloyd iterations), then
    * compare vectors ONLY within their cell and drop every vector that
    * has a same-cell neighbor with a smaller id and cosine ≥ τ —
    * near-duplicate MEANING, not near-duplicate text, which is what
    * dd2/dd3 (lexical) structurally cannot catch for paraphrases.
    *
    * Scale shape vs dd5 (the exact all-pairs oracle twin): the pair
    * join is an EQUI-join on the cell id, so the comparison count is
    * Σ|cell|² — and since round 5 K scales with the corpus
    * (K = ceil(trainN / targetCell), see [[TargetCell]]), so cells
    * stay ≈ 4·target rows and Σ|cell|² ≈ 4·target·N is LINEAR in the
    * corpus; the join stays bucketed, never all-pairs. Per-vector
    * verdicts are one aggregate over the dup edges + a left join back;
    * cosine is the floor-scaled exact form and the oracle derives K
    * from the same train count, so the whole pipeline — training
    * included — hash-checks at every SF. */
  def dd7SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    // pinned (optimization r13): the registry caches the MODEL
    // (centroids), not the assignment — and this query references the
    // assigned corpus three times (both pair-join sides + the final
    // keep join), so each reference re-paid quantize_unit + the K×DIM
    // cell-assignment dots over every corpus row. One assignment pass,
    // two cache reads.
    val a = graft.ops.Model.pin(ivfAssigned(spark, dir).assigned
      .select(col("vec_id"), col("cell"), col("v"), col("nrm")))
    val dups = a.select(col("cell"), col("vec_id").as("da"),
        col("v").as("va"), col("nrm").as("na"))
      .join(a.select(col("cell"), col("vec_id").as("db"),
        col("v").as("vb"), col("nrm").as("nb")), Seq("cell"))
      .filter(col("da") < col("db"))
      .withColumn("cos", graft.ops.Exact.floorE6(
        dot(col("va"), col("vb")) / (col("na") * col("nb"))))
      .filter(col("cos") >= DD7_TAU)
      .groupBy(col("db"))
      .agg(count(lit(1)).as("n_near"), max(col("cos")).as("max_cos"))
      .withColumnRenamed("db", "vec_id")
    a.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("max_cos"),
        col("n_near").isNull.as("keep"))
  }

  private val dd7Oracle: String =
    s"""WITH $ivfOracleCtes,
       |p AS (
       |  SELECT y.vec_id AS db,
       |         floor(list_dot_product(ex.v, ey.v) / (ex.nrm * ey.nrm) * 1000000) / 1000000 AS cos
       |  FROM af x JOIN af y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  JOIN e ex ON ex.vec_id = x.vec_id
       |  JOIN e ey ON ey.vec_id = y.vec_id),
       |d AS (SELECT db AS vec_id, CAST(count(*) AS BIGINT) AS n_near, max(cos) AS max_cos
       |      FROM p WHERE cos >= $DD7_TAU GROUP BY db)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |       coalesce(d.n_near, CAST(0 AS BIGINT)) AS n_near,
       |       d.max_cos, d.n_near IS NULL AS keep
       |FROM af a LEFT JOIN d USING (vec_id)""".stripMargin

  /** QT1 — scalar int8 quantization of the embedding column: per-vector
    * max-abs scale, symmetric round-half-up to [-127, 127], plus the
    * reconstruction l2 error. The 4× (fp32) / 8× (fp64) shrink is what
    * makes a 100 TB embedding corpus fit hot storage for ANN serving;
    * this is the assignment pass (a narrow map, zero shuffle).
    * `floor(x/s + 0.5)` is used instead of `round()` on BOTH engines —
    * round() implementations disagree on exact halves, floor of
    * bit-identical doubles cannot. Fully oracle-checked: scale, the
    * integer checksum of the quantized vector, and the floor-scaled
    * reconstruction error. */
  def qt1Quantize(spark: SparkSession, dir: String): DataFrame = {
    // quantize_stats: the whole scale/quantize/checksum/l2 measurement
    // in ONE codegen'd pass (optimization r14) — the previous form
    // chained four HOF passes (array_max(transform(abs)),
    // transform(floor), aggregate cast-sum, zip_with+aggregate err²),
    // each interpreted per ELEMENT with two intermediate arrays per
    // row. Same arithmetic in the same order, so every double is
    // bit-identical (ArrayFoldsSpec pins it against the HOF chain).
    graft.functions.GraftFunctions.registerAll(spark)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("qs", call_function("quantize_stats", col("v")))
      .select(
        col("vec_id"),
        graft.ops.Exact.floorE6(col("qs.s")).as("scale"),
        col("qs.checksum").as("q_checksum"),
        graft.ops.Exact.floorE6(col("qs.l2")).as("l2_err"))
  }

  private val qt1Oracle =
    """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |sc AS (SELECT vec_id, v,
      |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS s FROM t),
      |q AS (SELECT vec_id, v, s,
      |        list_transform(v, x -> CASE WHEN s = 0 THEN 0.0
      |                                    ELSE floor(x / s + 0.5) END) AS qv
      |      FROM sc)
      |SELECT vec_id,
      |       floor(s * 1000000) / 1000000 AS scale,
      |       CAST(list_sum(list_transform(qv, x -> CAST(x AS BIGINT))) AS BIGINT) AS q_checksum,
      |       floor(list_sum(list_transform(range(1, len(v) + 1),
      |         i -> (v[CAST(i AS INT)] - qv[CAST(i AS INT)] * s) *
      |              (v[CAST(i AS INT)] - qv[CAST(i AS INT)] * s))) * 1000000) / 1000000 AS l2_err
      |FROM q""".stripMargin

  private val RP_D = 16 // projected dimensionality (64 -> 16)

  /** Deterministic ±1 Rademacher sign matrix for the JL projection:
    * sign(k,j) from bit 16 of the 32-bit Knuth-multiplicative mix of
    * the flat index k·DIM+j — engine-neutral integer arithmetic the
    * oracle reproduces with `%`/`//`, no RNG state to ship. Doubles
    * (±1.0) so [[graft.functions.MatrixDots.compute]] consumes it directly. */
  private def rpSigns: Seq[Seq[Double]] =
    Seq.tabulate(RP_D)(k => Seq.tabulate(DIM) { j =>
      val h = ((k.toLong * DIM + j) * 2654435761L) & 0xFFFFFFFFL
      if (((h >> 16) & 1L) == 1L) 1.0 else -1.0
    })

  /** RP1 — RANDOM PROJECTION (Johnson–Lindenstrauss with a Rademacher
    * ±1 matrix, Achlioptas 2003): project each embedding from DIM=64
    * to RP_D=16 dims — the cheap dimensionality-reduction pass a 100 TB
    * embedding corpus runs before clustering/ANN when even int8
    * vectors (qt1) are too wide for the working set. A ±1 matrix needs
    * no floats in the model and preserves pairwise distances within
    * (1±ε) at ε ≈ √(ln N / RP_D).
    *
    * Engine-neutral by the sim3 trick: project the 512-grid QUANTIZED
    * vector, so every p[k] = Σ_j ±uq[j] is an exact whole number
    * (|p[k]| ≤ 64·512 — order-free integer sums), computed by ONE
    * codegen'd [[graft.functions.MatrixDots.compute]] against the 16×64 sign
    * matrix — a narrow map, zero shuffle, O(1) plan size. Output per
    * vector: the first component, an index-weighted checksum of all 16
    * (so the oracle pins every component, not just a sum), the
    * projected/source squared norms, and the JL distortion ratio
    * ‖p‖²/(RP_D·‖uq‖²) (expectation 1 under ±1 projections — the spec
    * bounds its corpus mean). */
  def rp1RandomProjection(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val e = vecs(spark, dir)
      .withColumn("uq", call_function("quantize_unit", col("v"), lit(IVF_Q)))
      .withColumn("p", transform(
        call_function("matrix_dots", col("uq"), typedLit(rpSigns)),
        x => x.cast("long")))
    e.select(
      col("vec_id"),
      element_at(col("p"), 1).as("p0"),
      aggregate(zip_with(col("p"), sequence(lit(1L), lit(RP_D.toLong)),
        (x, k) => x * k), lit(0L), (a, x) => a + x).as("pchk"),
      aggregate(col("p"), lit(0L), (a, x) => a + x * x).as("pnorm2"),
      aggregate(col("uq"), lit(0L), (a, x) => a + x * x).as("unorm2"))
      .withColumn("distortion", graft.ops.Exact.floorE6(
        col("pnorm2") / (col("unorm2") * lit(RP_D.toDouble))))
  }

  private val rp1Oracle: String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
       |uqt AS (SELECT vec_id,
       |          list_transform(v, x -> floor((x / nrm) * $IVF_Q)) AS uq FROM e),
       |sg AS (SELECT k, list(CASE WHEN ((((k * $DIM + j) * 2654435761) % 4294967296)
       |                             // 65536) % 2 = 1 THEN 1.0 ELSE -1.0 END
       |                      ORDER BY j) AS s
       |       FROM range(0, $RP_D) r(k) CROSS JOIN range(0, $DIM) c(j) GROUP BY k),
       |p AS (SELECT u.vec_id, g.k, CAST(list_dot_product(u.uq, g.s) AS BIGINT) AS pk
       |      FROM uqt u CROSS JOIN sg g),
       |un AS (SELECT vec_id, CAST(list_dot_product(uq, uq) AS BIGINT) AS unorm2
       |       FROM uqt),
       |agg AS (SELECT vec_id,
       |          CAST(sum(CASE WHEN k = 0 THEN pk END) AS BIGINT) AS p0,
       |          CAST(sum((k + 1) * pk) AS BIGINT) AS pchk,
       |          CAST(sum(pk * pk) AS BIGINT) AS pnorm2
       |        FROM p GROUP BY vec_id)
       |SELECT a.vec_id, a.p0, a.pchk, a.pnorm2, un.unorm2,
       |       floor(a.pnorm2 / (un.unorm2 * ${RP_D.toDouble}) * 1000000) / 1000000
       |         AS distortion
       |FROM agg a JOIN un USING (vec_id)""".stripMargin

  private val BENCH_VECS = 25 // vec_id < BENCH_VECS form the benchmark embedding set
  private val DC3_TAU = DD7_TAU // semantic-leakage threshold, dd5/dd7's near-dup bar

  /** DC3 — SEMANTIC decontamination: the embedding leg of the dc1/dc2
    * story. dc1 catches exact benchmark overlap, dc2 catches
    * paraphrased overlap that still shares shingles — but an eval item
    * rewritten far enough shares NO shingles and only its MEANING
    * leaks; this pass scores every training vector against the
    * benchmark embedding set (vec_id < BENCH_VECS — a fixed, bounded
    * eval artifact, exactly dc1's bench-side argument) and flags
    * cosine ≥ τ (= dd7's near-dup bar).
    *
    * Scale shape: the bench matrix is model-sized BY CONSTRUCTION
    * (eval suites are small artifacts; they do not grow with the
    * training corpus — at sf1/sf10 ScaleGen's replicas all land on the
    * corpus side) and ships as a plan literal through the O(1)-plan
    * codegen'd [[graft.functions.MatrixDots.compute]]; scoring is ONE narrow
    * pass over the corpus — per row, |bench| dots + an argmax — with
    * ZERO shuffle and zero join (PlanSpec-class no-Exchange pin in
    * DedupSimilaritySpec). Contrast dd5's O(N²) all-pairs: here one
    * side is bounded, so the "pair join" degenerates to a map.
    * Tie-break: first index at the max = smallest bench id (the bench
    * rows ride id-ascending), mirrored by the oracle's
    * `ORDER BY cos DESC, bid`. */
  def dc3SemanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val e = vecs(spark, dir).withColumn("nrm", norm2(col("v")))
    val bench = e.filter(col("vec_id") < BENCH_VECS)
      .select(col("vec_id"), col("v"), col("nrm"))
      .collect().sortBy(_.getLong(0))
    val bmat: Seq[Seq[Double]] = bench.map(_.getSeq[Double](1).toSeq).toSeq
    val bnrm: Seq[Double] = bench.map(_.getDouble(2)).toSeq
    val bids: Seq[Long] = bench.map(_.getLong(0)).toSeq
    e.filter(col("vec_id") >= BENCH_VECS)
      // scaled_cos: codegen'd — see cls1Classify (optimization r14)
      .withColumn("cos", call_function("scaled_cos",
        call_function("matrix_dots", col("v"), typedLit(bmat)),
        col("nrm"), typedLit(bnrm)))
      .withColumn("max_cos", array_max(col("cos")))
      .select(
        col("vec_id"),
        element_at(typedLit(bids),
          (array_position(col("cos"), col("max_cos"))).cast("int"))
          .as("best_bench"),
        col("max_cos"),
        (col("max_cos") >= DC3_TAU).as("contaminated"))
  }

  private val dc3Oracle: String =
    s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM base),
       |b AS (SELECT vec_id AS bid, v AS bv, nrm AS bnrm FROM e
       |      WHERE vec_id < $BENCH_VECS),
       |c AS (SELECT e.vec_id, b.bid,
       |        floor(list_dot_product(e.v, b.bv) / (e.nrm * b.bnrm) * 1000000)
       |          / 1000000 AS cos
       |      FROM e CROSS JOIN b WHERE e.vec_id >= $BENCH_VECS)
       |SELECT vec_id, CAST(bid AS BIGINT) AS best_bench, cos AS max_cos,
       |       cos >= $DC3_TAU AS contaminated
       |FROM (SELECT vec_id, bid, cos,
       |        row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cos DESC, bid) AS rn
       |      FROM c) WHERE rn = 1""".stripMargin

  private val EMB_Q = 512 // integer grid (the sim3 trick): exact, order-free sums

  /** EMB1 — per-label centroid cohesion / outlier scoring: the
    * embedding-QA pass that flags vectors far from their own label's
    * centroid (mislabeled or junk embeddings before training). Uses the
    * `label` column the other similarity ops don't touch.
    *
    * Arithmetic is engine-neutral end to end via the sim3 integer-grid
    * trick: unit vectors floor-scale onto a 512-grid (exact in
    * doubles), per-label sums run through ONE `vector_sum_long` sketch
    * per label (order-free integer addition — a float sum would differ
    * between engines by summation order), and cos(u, centroid) is
    * computed against the raw SUM vector (cosine is scale-invariant,
    * so the count never needs to divide). Products ≤ 512·(512·N) with
    * 64-dim sums stay ≪ 2^53 — exact in both engines' doubles.
    *
    * Shape: one label-keyed sketch aggregate (10 rows out), centroids
    * BROADCAST back, narrow per-vector score map. */
  def emb1LabelOutliers(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      // quantize_unit: the codegen'd one-pass form of
      // transform(v, x => floor(x / norm2(v) * q)) — identical scalar
      // sequence (QuantizeUnit.compute scaladoc; the cls1Train swap from r13,
      // applied to the site it missed — optimization r14)
      .withColumn("uq", call_function("quantize_unit", col("v"), lit(EMB_Q)))
      .select(col("vec_id"), col("label"), col("uq"))
    val ctr = e.groupBy(col("label"))
      .agg(call_function("vector_sum_long", col("uq")).as("sn"))
      .select(col("label"), col("sn.s").as("sl"))
    e.join(broadcast(ctr), "label")
      // plain array Casts (codegen), not per-element transform lambdas
      .withColumn("uqd", col("uq").cast("array<double>"))
      .withColumn("sld", col("sl").cast("array<double>"))
      .withColumn("cos_c", graft.ops.Exact.floorE6(
        dot(col("uqd"), col("sld")) / (norm2(col("uqd")) * norm2(col("sld")))))
      .select(col("vec_id"), col("label"), col("cos_c"),
        (col("cos_c") < 0.0).as("outlier"))
  }

  private val emb1Oracle =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, label,
       |        list_transform(v, x -> CAST(floor(x / sqrt(list_dot_product(v, v)) * $EMB_Q) AS BIGINT)) AS uq
       |      FROM e),
       |d AS (SELECT label, g.i AS dim, sum(uq[CAST(g.i AS INT)]) AS s
       |      FROM n CROSS JOIN range(1, 65) g(i) GROUP BY 1, 2),
       |ctr AS (SELECT label, list(CAST(s AS DOUBLE) ORDER BY dim) AS sld FROM d GROUP BY label),
       |sc AS (SELECT vec_id, n.label AS label,
       |         floor(list_dot_product(list_transform(uq, x -> CAST(x AS DOUBLE)), sld)
       |           / (sqrt(list_dot_product(list_transform(uq, x -> CAST(x AS DOUBLE)),
       |                                    list_transform(uq, x -> CAST(x AS DOUBLE))))
       |              * sqrt(list_dot_product(sld, sld))) * 1000000) / 1000000 AS cos_c
       |       FROM n JOIN ctr ON n.label = ctr.label)
       |SELECT vec_id, label, cos_c, cos_c < 0.0 AS outlier FROM sc""".stripMargin

  /** KNN1 — k-NN majority-label classification: each query vector takes
    * the majority label of its K nearest neighbors (ties broken votes
    * DESC, then smallest label), reported against its own label — the
    * label-propagation / weak-labeling step semi-supervised curation
    * pipelines run over an embedded corpus (classify-by-neighborhood
    * without training a model).
    *
    * Shape (100 TB): the neighbor lists are the expensive half and they
    * come from whatever ANN tier fits the corpus (sim1 here for
    * exactness; sim6's IVF-PQ at scale — the list shape is identical).
    * THIS op's own cost is the vote: the NQ·K neighbor list is bounded
    * model-side state, so it BROADCASTS onto the label column — the
    * corpus never shuffles — and the vote aggregate is output-sized
    * (≤ NQ·K rows). Labels ride as integers; everything replays in
    * DuckDB including the sim1 neighbor ranking. */
  def knn1LabelKnn(spark: SparkSession, dir: String): DataFrame =
    knnVote(spark, dir, sim1BruteTopK(spark, dir).select(col("qid"), col("vec_id")))

  /** KNN2 — knn1's vote over the SIM6 IVF-PQ neighbor lists instead of
    * sim1's exact corpus scan: the production tier at 100 TB, where a
    * per-query exact cosine ranking is the scale-killer (the corpus
    * is probed-cells-only, read 4 bytes/vector in the compressed
    * domain, and only the rerank shortlist touches raw vectors). Same
    * vote, same output shape; the neighbor lists differ only where ANN
    * recall differs, and KnnIvfpqSpec pins that agreement. */
  def knn2LabelKnnIvfpq(spark: SparkSession, dir: String): DataFrame =
    knnVote(spark, dir, sim6TopK(spark, dir, NQ, K).select(col("qid"), col("vec_id")))

  /** Shared k-NN majority vote over a (qid, vec_id) neighbor list. */
  private def knnVote(spark: SparkSession, dir: String, nbrs: DataFrame): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = labels.join(broadcast(nbrs), "vec_id")
      .groupBy(col("qid"), col("label")).agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("label"))
    val pred = votes.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
    val truth = labels.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("label").as("true_label"))
    pred.join(broadcast(truth), "qid")
      .select(col("qid"), col("pred_label"), col("votes"), col("true_label"),
        (col("pred_label") === col("true_label")).cast("long").as("correct"))
  }

  private def knnVoteOracle(rankSql: String): String =
    s"""WITH knn AS (SELECT * FROM ($rankSql) t),
       |votes AS (SELECT k.qid, CAST(e.label AS BIGINT) AS label,
       |            count(*) AS votes
       |          FROM knn k JOIN embeddings e ON e.vec_id = k.vec_id
       |          GROUP BY 1, 2),
       |pred AS (SELECT qid, label AS pred_label, votes FROM (
       |           SELECT qid, label, votes,
       |             row_number() OVER (PARTITION BY qid
       |               ORDER BY votes DESC, label) AS r
       |           FROM votes) WHERE r = 1)
       |SELECT p.qid, p.pred_label, p.votes,
       |       CAST(e.label AS BIGINT) AS true_label,
       |       CAST(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END
       |         AS BIGINT) AS correct
       |FROM pred p JOIN embeddings e ON e.vec_id = p.qid""".stripMargin

  private val knn1Oracle = knnVoteOracle(sim1Oracle)
  // lazy: sim6OracleFor reads PQ_S/PQ_ITERS vals declared further down
  // the file; forcing this at declaration position would interpolate
  // their pre-init zeros (the PGM_W lesson). The registry's `queries`
  // val at the end of the object forces it after everything is live.
  private lazy val knn2Oracle = knnVoteOracle(sim6OracleFor(NQ, K))

  private val RRF_NQ = 5 // fused queries: doc/vec ids < RRF_NQ
  private val RRF_L = 20 // per-modality candidate list length
  private val RRF_K = 60 // the standard RRF dampening constant
  private val RRF_TOP = 10

  /** IR2 — HYBRID retrieval via RECIPROCAL-RANK FUSION (Cormack et al.
    * SIGIR'09, the fusion rule hybrid search engines ship): for each
    * query id q < RRF_NQ, a LEXICAL more-like-this ranking (docs by
    * shared distinct 3-gram shingles with document q) and a DENSE
    * ranking (vectors by cosine with embedding q — the sim1 machinery)
    * fuse as Σ 1/(RRF_K + rank), an item missing from a list
    * contributing 0. Ranks are deterministic integers (count DESC /
    * floorE6-cosine DESC, id tie-break) and the fused score
    * floor-scales each reciprocal at 1e-6 BEFORE the sum, so fusion is
    * order-free exact integer arithmetic the oracle replays.
    *
    * Shape (100 TB): the two retrieval halves are the proven shapes —
    * the lexical leg is dc1's broadcast-query-shingles equi-join (the
    * corpus side never shuffles for it), and its top-L rank is the
    * smp2 recipe — a bounded [[graft.functions.TopNByKey]] sketch over
    * a packed (overlap DESC, id ASC) order key, NOT a row_number
    * window: a query's candidate set is every doc sharing ≥ 1 shingle,
    * which on a redundant corpus approaches the corpus itself, and a
    * per-query window would funnel all of it through NQ reducers
    * (measured before the rewrite: sf10 warm 19.5 s with one 500k-row
    * sort per query; after: every map task keeps ≤ L candidates per
    * query). The dense leg is sim1's broadcast-query scan (at scale
    * sim6's IVF-PQ tier produces the same (qid, id, rank) list). The
    * fusion itself touches only 2·NQ·L ranked rows — model-sized — so
    * the full-outer merge is output-bound. */
  def ir2HybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrf(spark, dir,
      bruteTopK(vecs(spark, dir), RRF_NQ, RRF_L)
        .select(col("qid"), col("vec_id").as("id"), col("rank").as("rd")))

  /** IR3 — ir2's fusion with the dense leg served by the SIM6 IVF-PQ
    * tier instead of the exact corpus scan: the production hybrid at
    * 100 TB (ir2's own scaladoc names this substitution; ir3 registers
    * it as a first-class, oracle-checked query). The lexical leg and
    * the RRF arithmetic are shared code; only the (qid, id, rank)
    * dense list changes, by exactly ANN-vs-exact recall, which
    * KnnIvfpqSpec bounds. */
  def ir3HybridRrfIvfpq(spark: SparkSession, dir: String): DataFrame =
    hybridRrf(spark, dir,
      sim6TopK(spark, dir, RRF_NQ, RRF_L)
        .select(col("qid"), col("vec_id").as("id"), col("rank").as("rd")))

  /** Shared RRF fusion: lexical more-like-this leg + a caller-supplied
    * dense ranking (qid, id, rd). */
  private def hybridRrf(spark: SparkSession, dir: String,
      dense: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(spark)
    val sh = Tables.documents(spark, dir).select(col("doc_id"),
      explode(call_function("rk_shingle_hashes", split(col("text"), " "), lit(3))).as("s"))
    val qsh = sh.filter(col("doc_id") < RRF_NQ)
      .select(col("doc_id").as("qid"), col("s"))
    // packed order key: (2^20 − overlap)·2^40 + id sorts exactly as
    // (overlap DESC, id ASC); overlap < 2^20 (≤ shingles per doc),
    // id < 2^40 (ScaleGen replica offsets stay ≤ ~2^34). A violation
    // raises instead of silently corrupting the lexical ranking.
    val okey = when(
      col("overlap") >= lit(1L << 20) || col("doc_id") >= lit(1L << 40),
      raise_error(lit("ir2 order-key overflow: overlap >= 2^20 or doc_id >= 2^40")))
      .otherwise((lit(1L << 20) - col("overlap")) * lit(1L << 40) + col("doc_id"))
    val lex = sh.join(broadcast(qsh), "s")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
      .select(col("qid"), okey.as("k"), col("doc_id"))
      .groupBy(col("qid"))
      .agg(call_function("topn_by_key", col("k"), col("doc_id"), lit(RRF_L)).as("ids"))
      .select(col("qid"), posexplode(col("ids")))
      .select(col("qid"), col("col").as("id"), (col("pos") + 1).as("rl"))
    val rec = (r: Column) => floor(lit(1000000L) / (lit(RRF_K) + r)).cast("long")
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("score_e6").desc, col("id"))
    lex.join(dense, Seq("qid", "id"), "full_outer")
      .withColumn("score_e6",
        coalesce(rec(col("rl")), lit(0L)) + coalesce(rec(col("rd")), lit(0L)))
      .withColumn("fused_rank", row_number().over(wf))
      .filter(col("fused_rank") <= RRF_TOP)
      .select(col("qid"), col("id"), col("score_e6"), col("fused_rank"))
  }

  /** Shared RRF-fusion oracle: `denseSql` supplies the (qid, id, rd)
    * dense ranking CTE body — ir2 plugs the exact-cosine scan, ir3 the
    * sim6 IVF-PQ replay. */
  private def irRrfOracleFor(denseSql: String): String = {
    import graft.functions.RkLsh
    s"""WITH tkr AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |whr AS (SELECT doc_id, list_transform(w, wd -> ${RkLsh.wordSql}) AS hs,
       |          len(w) AS nw FROM tkr),
       |shr AS (SELECT DISTINCT doc_id, s FROM (
       |  SELECT doc_id, unnest(${RkLsh.shinglesSql("hs", "nw", 3)}) AS s FROM whr)),
       |lex AS (SELECT qid, id, rl FROM (
       |  SELECT q.doc_id AS qid, c.doc_id AS id,
       |         row_number() OVER (PARTITION BY q.doc_id
       |           ORDER BY count(*) DESC, c.doc_id) AS rl
       |  FROM shr q JOIN shr c ON q.s = c.s AND q.doc_id <> c.doc_id
       |  WHERE q.doc_id < $RRF_NQ
       |  GROUP BY q.doc_id, c.doc_id) WHERE rl <= $RRF_L),
       |den AS ($denseSql),
       |fus AS (SELECT coalesce(l.qid, d.qid) AS qid, coalesce(l.id, d.id) AS id,
       |          coalesce(CAST(floor(1000000 / ($RRF_K + l.rl)) AS BIGINT), 0)
       |          + coalesce(CAST(floor(1000000 / ($RRF_K + d.rd)) AS BIGINT), 0)
       |            AS score_e6
       |        FROM lex l FULL OUTER JOIN den d
       |          ON l.qid = d.qid AND l.id = d.id)
       |SELECT qid, id, score_e6, fused_rank FROM (
       |  SELECT qid, id, score_e6,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY score_e6 DESC, id) AS fused_rank
       |  FROM fus) WHERE fused_rank <= $RRF_TOP""".stripMargin
  }

  private val ir2Oracle: String = irRrfOracleFor(
    s"""SELECT qid, id, rd FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, id) AS rd FROM (
       |    SELECT q.qid, e.vec_id AS id,
       |           floor(list_dot_product(q.qv, e.embedding::DOUBLE[]) /
       |             (sqrt(list_dot_product(q.qv, q.qv)) *
       |              sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
       |             * 1000000) / 1000000 AS cos
       |    FROM embeddings e CROSS JOIN (
       |      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
       |      WHERE vec_id < $RRF_NQ) q
       |    WHERE e.vec_id <> q.qid)) WHERE rd <= $RRF_L""".stripMargin)

  // lazy for the same init-order reason as knn2Oracle
  private lazy val ir3Oracle: String = irRrfOracleFor(
    s"SELECT qid, vec_id AS id, rank AS rd FROM (${sim6OracleFor(RRF_NQ, RRF_L)})")

  private val PQ_S = 8 // subspaces
  private val PQ_D = DIM / PQ_S // dims per subspace
  private val PQ_K = 16 // codes per subspace → 4 bits/code
  private val PQ_ITERS = 3

  /** PQ1 — PRODUCT QUANTIZATION (Jégou et al., TPAMI'11): the
    * billion-scale ANN compression standard (IVF-PQ). The 64-dim
    * vector splits into PQ_S=8 subvectors; each subspace trains its own
    * PQ_K=16-entry codebook by k-means, and a vector is stored as 8
    * 4-bit codes — 4 bytes instead of 512, the 128× shrink that lets a
    * 100 TB embedding corpus serve ANN from RAM (qt1's scalar int8 is
    * the 8× step; PQ is the production end of that axis).
    *
    * ENGINE-NEUTRAL throughout, like sim3's trainer but simpler — PQ
    * k-means needs no unit sphere, so the whole pipeline is INTEGER
    * arithmetic with zero floating-point: inputs quantize to the
    * IVF_Q grid (floor(x·512), |q| ≤ 2^10); assignment minimizes the
    * exact integer L2 distance (ties → smallest code, both engines);
    * the update is a componentwise floor-division mean (Math.floorDiv
    * ↔ the oracle's (x − floorMod)/n — NOT `/` or `//`, whose
    * negative-operand truncation differs); empty cells keep their
    * centroid. Spark evaluates argmin via [[graft.functions.MatrixDots.compute]] on the
    * identity ‖s−c‖² = ‖s‖² + (‖c‖² − 2·s·c): the bracket is an exact
    * integer-valued double (|terms| ≤ 2^21), ‖s‖² is constant per row,
    * so the argmin and its ties match the oracle's direct-distance
    * ORDER BY dist, pid exactly.
    *
    * Scale shape: training is PQ_ITERS jobs over the cached 1-in-4
    * sample (all 8 subspaces assign in one pass, melt to (s, cell)
    * rows, ONE aggregate); driver state is 8×16×8 longs. Encoding is a
    * narrow map — the corpus never shuffles; the output is
    * (vec_id, packed code, exact reconstruction error). */
  private[graft] def pqSubCol(s: Int): Column =
    expr(s"slice(qx, ${s * PQ_D + 1}, $PQ_D)")

  /** The trained PQ model: per-subspace codebooks plus the corpus with
    * per-subspace score arrays (`sc0..7`: ‖c_p‖² − 2·sub·c_p) and code
    * columns (`cell0..7`) attached. Shared by pq1 (storage) and sim5
    * (ADC search). */
  private def pqModel(spark: SparkSession, dir: String)
      : (Array[Array[Array[Long]]], DataFrame) = {
    // raw-grid quantize in one codegen'd pass (quantize_grid replaces
    // `transform(v, x -> floor(x * q))` — the HOF evaluated its lambda
    // interpreted on every corpus row; optimization r14)
    graft.functions.GraftFunctions.registerAll(spark)
    pqModelOn(spark, vecs(spark, dir)
      .withColumn("qx", call_function("quantize_grid", col("v"), lit(IVF_Q)))
      .select(col("vec_id"), col("qx")), s"$dir|raw")
  }

  /** scores[p] = ‖c_p‖² − 2·sub·c_p per subspace; argmin with
    * first-index (smallest code) tie-break — the same order as the
    * oracle's exact distance. One codegen'd pass (PqScores): the
    * zip_with tail next to the codegen'd matrix_dots evaluated its
    * lambda interpreted per codebook entry per corpus row, in every
    * consumer of the coded frame AND every training iteration
    * (optimization r14; arithmetic bit-identical, ArrayFoldsSpec). */
  private def pqScoresCol(books: Array[Array[Array[Long]]], s: Int): Column = {
    val mat = books(s).map(_.map(_.toDouble).toSeq).toSeq
    val c2 = books(s).map(c => c.map(x => x * x).sum.toDouble).toSeq
    call_function("pq_scores", pqSubCol(s), typedLit(mat), typedLit(c2))
  }

  /** per-subspace code assignment under a trained codebook set — the
    * coding pass, one narrow codegen'd map over (vec_id, qx). */
  private def pqWithCells(books: Array[Array[Array[Long]]],
      df: DataFrame): DataFrame =
    // two withColumns passes (scores, then the argmins that reference
    // them) instead of a 16-step withColumn chain: same columns, 2
    // analyzer rounds instead of 16
    df.withColumns((0 until PQ_S).map(s =>
        s"sc$s" -> pqScoresCol(books, s)).toMap)
      .withColumns((0 until PQ_S).map(s =>
        s"cell$s" -> expr(s"array_position(sc$s, array_min(sc$s)) - 1")).toMap)

  /** The PQ trainer on ANY integer-grid corpus: `e` must carry
    * (vec_id, qx: array<long>); extra columns ride through to the coded
    * output untouched (sim6 threads the IVF cell and the raw vector
    * through for the probe join and the rerank). Training semantics are
    * identical for every caller — the 1-in-4 sample, first-PQ_K init,
    * and floor-division means are all keyed on vec_id/qx only —
    * so the learned books are cached per `cacheKey` (corpus dir +
    * grid domain; see [[ivfCache]]'s scaladoc for the registry
    * argument) and a hit skips straight to the coding pass. */
  /** the trained codebooks alone — the serve pin wants them without
    * paying the coding-plan derivation [[pqModelOn]] adds */
  private def pqBooks(spark: SparkSession, e: DataFrame, cacheKey: String)
      : Array[Array[Array[Long]]] = {
    graft.functions.GraftFunctions.registerAll(spark)
    pqCache.getOrBuild(spark, cacheKey)(pqTrainOn(e))
  }

  private def pqModelOn(spark: SparkSession, e: DataFrame, cacheKey: String)
      : (Array[Array[Array[Long]]], DataFrame) = {
    val books = pqBooks(spark, e, cacheKey)
    (books, pqWithCells(books, e))
  }

  private def pqTrainOn(e: DataFrame): Array[Array[Array[Long]]] = {
    val train = e.select(col("vec_id"), col("qx"))
      .filter(pmod(col("vec_id"), lit(4)) === 0)
    train.cache()
    train.count() // materialize the cache (the Model.fits pattern)

    // init: subvectors of the first PQ_K training vectors by id
    val initRows: Array[Seq[Long]] = train.orderBy(col("vec_id")).limit(PQ_K)
      .select(col("qx")).collect().map(_.getSeq[Long](0))
    var books: Array[Array[Array[Long]]] = Array.tabulate(PQ_S, PQ_K)((s, p) =>
      initRows(p).slice(s * PQ_D, (s + 1) * PQ_D).toArray)

    for (_ <- 1 to PQ_ITERS) {
      // ONE job: assign every subspace, melt to (s, cell, sub) rows,
      // aggregate integer sums + counts per (subspace, cell)
      val melted = pqWithCells(books, train).select(explode(array((0 until PQ_S).map(s =>
        struct(lit(s).as("s"), col(s"cell$s").as("cell"), pqSubCol(s).as("sub"))): _*)).as("m"))
        .select(col("m.s"), col("m.cell"), col("m.sub"))
      val sums = melted.groupBy(col("s"), col("cell"))
        .agg(call_function("vector_sum_long", col("sub")).as("sn"), count(lit(1)).as("n"))
        .select(col("s"), col("cell"), col("sn.s").as("sv"), col("n"))
        .collect()
      val byKey = sums.map(r =>
        (r.getInt(0), r.getLong(1).toInt) -> (r.getSeq[Long](2), r.getLong(3))).toMap
      books = Array.tabulate(PQ_S, PQ_K) { (s, p) =>
        byKey.get((s, p)) match {
          // floor-division mean: exact, order-free, engine-identical
          case Some((sv, n)) => sv.map(x => Math.floorDiv(x, n)).toArray
          case None => books(s)(p) // empty cell keeps its centroid
        }
      }
    }
    train.unpersist()
    books
  }

  def pq1ProductQuantize(spark: SparkSession, dir: String): DataFrame = {
    val (_, coded) = pqModel(spark, dir)
    // encode the full corpus: 8 codes pack into one BIGINT nibble per
    // subspace; reconstruction error is the exact integer Σ‖sub−c‖²
    val code = (0 until PQ_S).map(s =>
      col(s"cell$s") * lit(1L << (4 * s))).reduce(_ + _)
    val err = (0 until PQ_S).map(s =>
      element_at(col(s"sc$s"), (col(s"cell$s") + 1).cast("int")) +
        dot(pqSubCol(s), pqSubCol(s))).reduce(_ + _)
    coded.select(col("vec_id"), code.cast("long").as("code"),
      err.cast("long").as("l2_err"))
  }

  private val PQ_RERANK = 50 // ADC shortlist size fed to the exact rerank

  /** SIM5 — ADC search over the PQ codes + exact rerank, the search
    * half of IVF-PQ (Jégou et al. TPAMI'11): the candidate sweep reads
    * ONLY each vector's 8 4-bit codes — per query and subspace, a
    * 16-entry table of exact integer distances to the codebook is
    * precomputed, and scoring a candidate is 8 table lookups instead of
    * 64 multiplies. The ADC top-PQ_RERANK shortlist is then reranked
    * with the EXACT grid distance (production PQ always reranks: with
    * 4-bit codes the quantization error swamps the tiny gaps between
    * near-equidistant neighbors — measured here as raw-ADC recall@5 of
    * only ~0.2 on this weakly-clustered corpus, vs ≥0.6 after rerank).
    * At 100 TB this is the compressed-domain TWO-FETCH read path:
    * stage 1 (the candidate sweep) reads ONLY vec_id + the 8 codes —
    * 4 bytes of payload per vector, 128× less IO than raw fp64 — with
    * the query tables on a tiny broadcast, and the per-query ranking
    * shuffles (qid, vec_id, adc) tuples, never vectors; stage 2
    * fetches raw (grid) vectors for ONLY the PQ_RERANK shortlist rows
    * per query, as an equi-join of the BROADCAST shortlist against the
    * vector store — the store never shuffles and is never swept a
    * second time (PlanSpec pins the broadcast-hash-join shape). The
    * corpus-side scan carrying raw vectors through the ADC ranking
    * window (the one-fetch shape) would drag 512 bytes/vector through
    * the sort — exactly the IO the codes exist to avoid. All-integer
    * like pq1, so shortlist, rerank, and ties (distance, then vec_id)
    * replay exactly in the oracle. */
  def sim5PqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val (_, coded) = pqModel(spark, dir)
    // per-query per-subspace lookup tables: tbl_s[p] = ‖q_s − c_p‖² =
    // ‖q_s‖² + (‖c_p‖² − 2·q_s·c_p) — sc_s already holds the bracket
    val q = (0 until PQ_S).foldLeft(coded.filter(col("vec_id") < NQ)) { (d, s) =>
      d.withColumn(s"tbl$s",
        transform(col(s"sc$s"), x => x + dot(pqSubCol(s), pqSubCol(s))))
    }.select(col("vec_id").as("qid") +: col("qx").as("qqx") +:
      (0 until PQ_S).map(s => col(s"tbl$s")): _*)
    val adc = (0 until PQ_S).map(s =>
      element_at(col(s"tbl$s"), (col(s"cell$s") + 1).cast("int"))).reduce(_ + _)
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
    // fetch 1 — codes only: the ADC sweep and ranking never see qx
    val shortlist = coded
      .select(col("vec_id") +: (0 until PQ_S).map(s => col(s"cell$s")): _*)
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("adc", adc.cast("long"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= PQ_RERANK)
      .select(col("qid"), col("vec_id"), col("qqx"))
    // fetch 2 — exact rerank on the grid vectors (‖x‖² + ‖q‖² − 2x·q,
    // exact integer-valued doubles through the codegen'd DoubleDot):
    // raw vectors reach the plan ONLY via this equi-join against the
    // broadcast shortlist (50 rows/query)
    val raw = coded.select(col("vec_id"), col("qx"))
    val d2 = (dot(col("qx"), col("qx")) + dot(col("qqx"), col("qqx"))
      - lit(2.0) * dot(col("qx"), col("qqx"))).cast("long")
    val wExact = Window.partitionBy(col("qid")).orderBy(col("l2"), col("vec_id"))
    raw.join(broadcast(shortlist), "vec_id")
      .withColumn("l2", d2)
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= K)
      .select(col("qid"), col("vec_id"), col("l2"), col("rank"))
  }

  /** SIM6 — IVF-PQ END TO END (Jégou et al. TPAMI'11, the billion-scale
    * ANN architecture: FAISS's IVFPQ index): sim3's IVF coarse
    * quantizer prunes WHICH vectors to look at (a query probes its
    * `Probes` nearest cells — candidates fall from N to
    * ≈ N·probes/K), and sim5's PQ codes shrink WHAT is read per
    * candidate (8 nibble lookups instead of a 64-double dot). Both
    * quantizers operate on ONE domain — the unit-grid vectors `uq` the
    * IVF trainer already produces — so the PQ trainer runs verbatim on
    * the IVF model's corpus and the ADC tables are inner-product tables
    * (cosine on unit vectors ≡ dot), not sim5's L2: per query and
    * subspace, a 16-entry table of exact integer dots to the codebook;
    * candidate score = Σ of 8 lookups; top-PQ_RERANK rerank with the
    * exact floor-scaled cosine over the raw doubles (sim1's form), so
    * the output shape and semantics match sim3's.
    *
    * At 100 TB this is the full production read path: the probed cells
    * are partition directories (sim3's write-time bucketing, PlanSpec
    * scan-metrics-proven), the compressed-domain scan inside them reads
    * 4 bytes/vector with the query tables on a tiny broadcast, and only
    * PQ_RERANK rows per query ever touch the raw vector store (here: an
    * equi-join of the broadcast shortlist against the corpus — no
    * shuffle of the big side). All-integer training and scoring, so
    * cells, codes, shortlist, rerank, and every tie replay exactly in
    * the oracle — training loops of BOTH quantizers included. */
  def sim6IvfPqTopK(spark: SparkSession, dir: String): DataFrame =
    sim6TopK(spark, dir, NQ, K)

  /** rerank-shortlist multiplier override (`graft.ivf.rerank`) — the
    * SECOND recall/latency knob of the IVF-PQ read path, orthogonal to
    * [[Probes]]: more probes ADD candidates, a bigger shortlist
    * lets more of them survive the ADC cut into the exact rerank. The
    * knob that matters when 4-bit ADC cannot ORDER the candidates —
    * on a corpus dense with near-ties (the decade fixture: ~1000
    * near-replicas per source vector, cosine margins ≪ quantization
    * error) raising probes alone LOWERS recall (more ADC-noise
    * candidates displace true neighbors from a fixed shortlist,
    * measured: 0.73 → 0.63 recall@50 from probes 4 → 16 at 2M
    * vectors) while raising the shortlist recovers it (SCALE.md round
    * 13). The DEFAULT (10) is baked into the DuckDB oracle SQL, so
    * overriding forfeits the oracle twin exactly like [[Probes]]. */
  val Rerank = graft.Setting.int("graft.ivf.rerank", Some(10))

  /** ADC shortlist size scales with the requested list length (10×k
    * floor-ed at the classic PQ_RERANK): a fixed 50-candidate
    * shortlist feeding a top-20 rerank is only 2.5× the output and
    * measured recall@20 0.47 at sf0.001 — at 10× it recovers the
    * shortlist-to-output ratio sim6's own k=5 search has. `k=K` keeps
    * the historical 50, so sim6_ivfpq hashes are unchanged. The
    * ORACLE takes the default multiplier; a session passes [[Rerank]]'s. */
  private def sim6Rerank(k: Int, mult: Int = Rerank.default): Int =
    math.max(PQ_RERANK, mult * k)

  /** [[sim6IvfPqTopK]] parameterized on (queries, list length) so the
    * consumers that need a DENSE RANKING AT SCALE — knn2's neighbor
    * lists, ir3's retrieval leg — ride the IVF-PQ tier instead of
    * sim1's exact corpus scan. */
  private[graft] def sim6TopK(spark: SparkSession, dir: String,
      nq: Int, k: Int): DataFrame =
    sim6Rank(spark, dir, k, (_, coded) => coded.filter(col("vec_id") < nq),
      excludeSelf = true)

  /** The driver-held top-level centroid matrix of the trained model —
    * flat centroids, or the two-level COARSE matrix — the matrix an
    * EXTERNAL query's `dots` column is computed against for probe
    * selection (the corpus side gets the same column from its
    * assignment scan). */
  private def topMatrix(spark: SparkSession, dir: String): Array[Seq[Long]] =
    ivfTrained(spark, dir, unitVecs(spark, dir)) match {
      case FlatTrained(_, c) => c
      case TwoLevelTrained(_, _, coarse, _) => coarse
    }

  /** [[sim6TopK]] over EXTERNAL query vectors — the serve surface the
    * streaming ANN leg ([[graft.streaming.AnnServeStream]]) shares
    * with batch, so the tiers cannot drift: `queries` is a (qid,
    * v: array<float|double>) relation, and each query's uq/dots
    * columns are derived from its RAW vector by the corpus
    * assignment's exact scalar sequence ([[graft.functions.QuantizeUnit.compute]],
    * [[graft.functions.MatrixDots.compute]]) — a query that IS a corpus vector
    * (knn2's contract: qid = vec_id < NQ) therefore gets bit-identical
    * probe lists and scores to [[sim6TopK]].
    *
    * Self-exclusion is an EXPLICIT flag, not inherited: `excludeSelf =
    * true` is the knn2/sim6 contract (qids ARE corpus vec_ids; a
    * vector must not vote for itself), but an external serving client
    * owns its qid space — with the exclusion baked in, a client whose
    * request id happened to equal a corpus vec_id would silently lose
    * that corpus vector from its top-k. Callers whose qids are not
    * corpus ids pass `excludeSelf = false` (the
    * [[graft.streaming.AnnServeStream]] default). */
  private[graft] def sim6ServeQueries(spark: SparkSession, dir: String,
      queries: DataFrame, k: Int, excludeSelf: Boolean): DataFrame =
    sim6Rank(spark, dir, k, (_, _) => {
      // a serving session reads the pin-time centroid snapshot; batch
      // callers fall back to the registry (identical values)
      val cents = typedLit(served(spark, dir).map(_.cents).getOrElse(
        topMatrix(spark, dir).map(_.map(_.toDouble).toSeq).toSeq))
      queries
        .select(col("qid").cast("long").as("vec_id"), asDouble(col("v")).as("v"))
        .withColumns(Map(
          "nrm" -> norm2(col("v")),
          "qx" -> call_function("quantize_unit", col("v"), lit(IVF_Q))))
        .withColumn("dots", call_function("matrix_dots", col("qx"), cents))
    }, excludeSelf)

  /** Everything the serve path needs per micro-batch, snapshotted at
    * pin time so a batch pays ZERO model-plan re-derivation: the
    * persisted coded corpus plus its two pre-analyzed projections (the
    * ADC scan side `slim`, the rerank side `raw`), the PQ codebooks,
    * the driver-held top-level centroid matrix, and the IvfModel whose
    * k/fine drive probe selection. Measured before this existed
    * (ProfServe, sf1, 125-query batch): ~0.5 s/batch of driver plan
    * building — ivfAssigned ran twice and the 16-column coding plan
    * was rebuilt every batch — against ~1 s of actual ranking work. */
  private[graft] final case class ServedModel(model: IvfModel,
      coded: DataFrame, slim: DataFrame, raw: DataFrame,
      books: Array[Array[Array[Long]]], cents: Seq[Seq[Double]])

  /** The registry for RESIDENT SERVING ([[ServedModel]]): the corpus
    * side of the IVF-PQ ranking is STATIC per (corpus, confs), but a
    * batch query derives it lazily, so a streaming serve loop
    * ([[graft.streaming.AnnServeStream]]) re-ran the full corpus
    * coding scan on EVERY micro-batch (measured at sf1: ~4 s/batch of
    * which the 125-query ranking itself is a fraction).
    * [[pinServedCorpus]] persists it once per serving session, keyed
    * like the model registry; the coded corpus goes with its entry.
    * Derivation is deterministic, so a hit cannot change any result —
    * only skip the rebuild. */
  private val servedCorpusCache = new KeyedCache[ServedModel](4, sm => Seq(sm.coded))

  /** unset or ≤ 0: derived from the coded row count, see [[pinServedCorpus]] */
  val ServeSlices = graft.Setting.int("graft.serve.slices", None)

  /** persist + register the coded corpus and its serve-time plan
    * snapshot for a serving session. The multi-second build (training
    * fallback, coding scan, persist + count) runs inside the key's
    * build latch only, so a concurrent served()/sim6Rank reader never
    * blocks on a pin, two sessions pinning different corpora do not
    * serialize, and two concurrent serve() starts of the same corpus
    * persist it once. */
  private[graft] def pinServedCorpus(spark: SparkSession, dir: String): Unit = {
    servedCorpusCache.getOrBuild(spark, ivfCacheKey(spark, dir)) {
      val model = ivfAssigned(spark, dir)
      val eSel = model.assigned.select(
        col("vec_id"), col("uq").as("qx"), col("cell"), col("v"),
        col("nrm"), col("dots"))
      val books = pqBooks(spark, eSel, s"$dir|unit")
      val codedPlan = pqWithCells(books, eSel)
      // serve-time slicing: the parquet-scan partitioning (sized for
      // batch scans under files.maxPartitionBytes) is the wrong
      // granularity for a resident corpus that is re-scanned every
      // micro-batch — at sf1 it left 600-row cached partitions whose
      // per-task scheduling cost dwarfed the ADC work. Target a row
      // density where task launch is amortized (~8k coded rows per
      // slice, capped at the core count); `graft.serve.slices`
      // overrides for corpora whose row width is unusual.
      val n0 = codedPlan.count()
      val slices = ServeSlices.get(spark).filter(_ > 0).getOrElse {
          val byRows = math.ceil(n0 / 8192.0).toInt
          math.min(math.max(byRows, 1),
            spark.sparkContext.defaultParallelism)
        }
      val coded = codedPlan.coalesce(slices)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      coded.count()
      val slim = coded.select(col("vec_id") +: col("cell") +:
        (0 until PQ_S).map(s => col(s"cell$s")): _*)
      val raw = coded.select(col("vec_id"), col("v"), col("nrm"))
      val cents = topMatrix(spark, dir).map(_.map(_.toDouble).toSeq).toSeq
      ServedModel(model, coded, slim, raw, books, cents)
    }
    ()
  }

  /** the serving session's pinned snapshot, if one is registered for
    * this (corpus, confs) on this SparkContext */
  private def served(spark: SparkSession, dir: String): Option[ServedModel] =
    servedCorpusCache.get(spark, ivfCacheKey(spark, dir))

  /** The shared IVF-PQ ranking body: `querySide` supplies the query
    * relation — (vec_id, v, nrm, qx, dots) — either filtered out of
    * the coded corpus ([[sim6TopK]]) or derived from external raw
    * vectors ([[sim6ServeQueries]]); everything downstream (probe
    * selection, ADC shortlist, exact rerank) is one code path. */
  private def sim6Rank(spark: SparkSession, dir: String, k: Int,
      querySide: (IvfModel, DataFrame) => DataFrame,
      excludeSelf: Boolean): DataFrame = {
    // a serving session reads its PINNED snapshot — corpus plans,
    // codebooks and probe model derived once at pin time; a batch
    // session derives them here. The derivations are identical and
    // deterministic, so the regimes cannot differ in results
    // (AnnServeSpec pins serve ≡ batch bit-equality).
    val (model, books, coded, slim, raw) = served(spark, dir) match {
      case Some(sm) => (sm.model, sm.books, sm.coded, sm.slim, sm.raw)
      case None =>
        // PQ codebooks trained on the SAME unit-grid vectors the IVF
        // cells partition (extra columns ride through pqModelOn
        // untouched)
        val model = ivfAssigned(spark, dir)
        val (books, coded) = pqModelOn(spark, model.assigned.select(
          col("vec_id"), col("uq").as("qx"), col("cell"), col("v"),
          col("nrm"), col("dots")), s"$dir|unit")
        val slim = coded.select(col("vec_id") +: col("cell") +:
          (0 until PQ_S).map(s => col(s"cell$s")): _*)
        (model, books, coded, slim,
          model.assigned.select(col("vec_id"), col("v"), col("nrm")))
    }
    // query side: IVF probe list + per-subspace inner-product tables
    // (ONE withColumns pass — a per-subspace withColumn chain re-ran
    // the analyzer 8 times per serve micro-batch)
    val qRel = querySide(model, coded)
    val qTbl = qRel.withColumns(
      (0 until PQ_S).map(s => s"tbl$s" -> call_function("matrix_dots",
        pqSubCol(s), typedLit(books(s).map(_.map(_.toDouble).toSeq).toSeq))).toMap)
    val q = withProbes(model, qTbl, col("qx"))
      .select(col("vec_id").as("qid") +: col("probe") +:
        (0 until PQ_S).map(s => col(s"tbl$s")): _*)
    // compressed-domain scan: probed cells only, codes only — the ADC
    // score is an exact integer-valued double (8 int-dot lookups,
    // |Σ| ≤ 2^24), ties break on vec_id on both engines
    val ip = (0 until PQ_S).map(s =>
      element_at(col(s"tbl$s"), (col(s"cell$s") + 1).cast("int"))).reduce(_ + _)
    val wIp = Window.partitionBy(col("qid")).orderBy(col("ip").desc, col("vec_id"))
    val joinCond =
      if (excludeSelf) col("cell") === col("probe") && col("vec_id") =!= col("qid")
      else col("cell") === col("probe")
    // the candidate rows carry ONLY (qid, vec_id, ip) through the
    // ranking shuffle — the query's raw 64-double vector re-attaches
    // AFTER the top-sim6Rerank cut, as a join of two tiny relations
    // inside the broadcast subtree. Carrying qv/qnrm on every
    // candidate row shuffled ~40× the bytes for the same result.
    val qVec = qRel.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qnrm"))
    val shortlist = slim
      .join(broadcast(q), joinCond)
      .withColumn("ip", ip.cast("long"))
      .withColumn("arank", row_number().over(wIp))
      .filter(col("arank") <= sim6Rerank(k, Rerank(spark)))
      .select(col("qid"), col("vec_id"))
      .join(broadcast(qVec), "qid")
    // exact rerank: fetch raw vectors for the shortlist only (the
    // shortlist broadcasts; the raw store never shuffles). A serving
    // session's `raw` rides the pinned coded relation — no per-batch
    // re-assignment anywhere; a batch session's is the leaner
    // assignment scan.
    val scored = raw.join(broadcast(shortlist), "vec_id")
      .withColumn("cos", graft.ops.Exact.floorE6(
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
    topK(scored, k)
  }

  /** exact integer subspace distance between `t.sub` and `c.c` */
  private val pqDistSql =
    s"""list_sum(list_transform(range(1, ${PQ_D + 1}),
       |  j -> (t.sub[CAST(j AS INT)] - c.c[CAST(j AS INT)])
       |     * (t.sub[CAST(j AS INT)] - c.c[CAST(j AS INT)])))""".stripMargin

  /** The PQ trainer's CTE block, shared by the pq1 and sim5 oracles:
    * grid-quantize, melt to subvectors, unroll the PQ_ITERS all-integer
    * k-means iterations, and assign the FULL corpus — leaves
    * `enc(vec_id, s, sub, cell, dist)`, `melt`, and `cb$PQ_ITERS` in
    * scope for the caller's continuation. */
  /** The default PQ input: raw vectors on the integer grid (pq1/sim5's
    * storage domain — floor(x·512), no unit normalization). */
  private val pqRawGridBase: String =
    s"""SELECT vec_id,
       |         list_transform(embedding::DOUBLE[],
       |           x -> CAST(floor(x * $IVF_Q) AS BIGINT)) AS qx
       |  FROM embeddings""".stripMargin

  /** The PQ trainer's CTE block, parameterized like [[pqModelOn]]:
    * `baseSel` supplies the (vec_id, qx) corpus and `px` prefixes every
    * internal CTE name so the block can coexist with [[ivfOracleCtes]]
    * (whose a1/s1/m1 iteration names would otherwise collide) in one
    * WITH clause. pq1/sim5 use the empty prefix over the raw grid;
    * sim6 uses "p" over the IVF unit grid. Leaves `${px}enc(vec_id, s,
    * sub, cell, dist)`, `${px}melt`, and `${px}cb$PQ_ITERS` in scope
    * for the caller's continuation. */
  private def pqOracleCtes(px: String, baseSel: String): String = {
    def assign(src: String, cents: String): String =
      s"""SELECT vec_id, s, sub, cell, dist FROM (
         |  SELECT t.vec_id, t.s, t.sub, c.pid AS cell, $pqDistSql AS dist,
         |         row_number() OVER (PARTITION BY t.vec_id, t.s
         |           ORDER BY $pqDistSql, c.pid) AS rn
         |  FROM $src t JOIN $cents c ON c.s = t.s) WHERE rn = 1""".stripMargin
    val iters = (1 to PQ_ITERS).map { i =>
      val prev = s"${px}cb${i - 1}"
      s"""${px}a$i AS (${assign(s"${px}trs", prev)}),
         |${px}s$i AS (
         |  SELECT s, cell, d, CAST(sum(sub[CAST(d AS INT)]) AS BIGINT) AS sm,
         |         count(*) AS n
         |  FROM ${px}a$i CROSS JOIN range(1, ${PQ_D + 1}) r(d) GROUP BY s, cell, d),
         |${px}m$i AS (
         |  SELECT s, cell, list(sm ORDER BY d) AS sv, min(n) AS n
         |  FROM ${px}s$i GROUP BY s, cell),
         |${px}cb$i AS (
         |  SELECT p.s, p.pid,
         |         CASE WHEN m.n IS NULL THEN p.c
         |              -- floor division via floorMod, matching Math.floorDiv
         |              ELSE list_transform(m.sv,
         |                     x -> (x - ((x % m.n) + m.n) % m.n) // m.n)
         |         END AS c
         |  FROM $prev p LEFT JOIN ${px}m$i m ON m.s = p.s AND m.cell = p.pid)""".stripMargin
    }.mkString(",\n")
    s"""${px}base AS (
       |  $baseSel),
       |${px}melt AS (
       |  SELECT vec_id, CAST(s AS INT) AS s,
       |         qx[CAST(s * $PQ_D + 1 AS INT) : CAST((s + 1) * $PQ_D AS INT)] AS sub
       |  FROM ${px}base CROSS JOIN range(0, $PQ_S) r(s)),
       |${px}trs AS (SELECT * FROM ${px}melt WHERE vec_id % 4 = 0),
       |${px}ini AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS pid
       |        FROM ${px}base WHERE vec_id % 4 = 0 QUALIFY pid < $PQ_K),
       |${px}cb0 AS (SELECT t.s, i.pid, t.sub AS c
       |        FROM ${px}trs t JOIN ${px}ini i ON t.vec_id = i.vec_id),
       |$iters,
       |${px}enc AS (${assign(s"${px}melt", s"${px}cb$PQ_ITERS")})""".stripMargin
  }

  private val pq1Oracle: String =
    s"""WITH ${pqOracleCtes("", pqRawGridBase)}
       |SELECT vec_id,
       |       CAST(sum(cell * (CAST(1 AS BIGINT) << (4 * s))) AS BIGINT) AS code,
       |       CAST(sum(dist) AS BIGINT) AS l2_err
       |FROM enc GROUP BY vec_id""".stripMargin

  private val sim5Oracle: String =
    s"""WITH ${pqOracleCtes("", pqRawGridBase)},
       |qd AS (
       |  SELECT t.vec_id AS qid, t.s, c.pid, $pqDistSql AS dq
       |  FROM melt t JOIN cb$PQ_ITERS c ON c.s = t.s WHERE t.vec_id < $NQ),
       |adc AS (
       |  SELECT q.qid, e.vec_id, CAST(sum(q.dq) AS BIGINT) AS adc
       |  FROM enc e JOIN qd q ON q.s = e.s AND q.pid = e.cell AND e.vec_id <> q.qid
       |  GROUP BY q.qid, e.vec_id),
       |short AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS arank
       |    FROM adc) WHERE arank <= $PQ_RERANK),
       |rr AS (
       |  SELECT s.qid, s.vec_id,
       |         CAST(list_sum(list_transform(range(1, ${DIM + 1}),
       |           j -> (x.qx[CAST(j AS INT)] - q.qx[CAST(j AS INT)])
       |              * (x.qx[CAST(j AS INT)] - q.qx[CAST(j AS INT)]))) AS BIGINT) AS l2
       |  FROM short s JOIN base x ON x.vec_id = s.vec_id
       |  JOIN base q ON q.vec_id = s.qid)
       |SELECT qid, vec_id, l2, rank FROM (
       |  SELECT qid, vec_id, l2,
       |         row_number() OVER (PARTITION BY qid ORDER BY l2, vec_id) AS rank
       |  FROM rr) WHERE rank <= $K""".stripMargin

  /** DuckDB replay of [[sim6IvfPqTopK]]: the IVF trainer CTEs (cells +
    * unit grid) feed the prefixed PQ trainer CTEs run over `uqt`; the
    * probe CTE is sim3's, the ADC join restricts to probed cells and
    * sums per-subspace integer dots, and the rerank is sim1's exact
    * floor-scaled cosine. */
  private def sim6OracleFor(nq: Int, k: Int): String =
    s"""WITH $ivfOracleCtes,
       |${pqOracleCtes("p", "SELECT vec_id, uq AS qx FROM uqt")},
       |qp6 AS (
       |  SELECT vec_id AS qid, pid AS probe FROM (
       |    SELECT u.vec_id, c.pid,
       |           row_number() OVER (PARTITION BY u.vec_id
       |             ORDER BY list_dot_product(u.uq, c.c) DESC, c.pid) AS rn
       |    FROM uqt u CROSS JOIN c$IVF_ITERS c WHERE u.vec_id < $nq)
       |  WHERE rn <= ${Probes.default}),
       |qd6 AS (
       |  SELECT t.vec_id AS qid, t.s, c.pid,
       |         list_dot_product(t.sub, c.c) AS ipd
       |  FROM pmelt t JOIN pcb$PQ_ITERS c ON c.s = t.s WHERE t.vec_id < $nq),
       |adc6 AS (
       |  SELECT qp.qid, pe.vec_id, CAST(sum(qd.ipd) AS BIGINT) AS ip
       |  FROM penc pe
       |  JOIN af a ON a.vec_id = pe.vec_id
       |  JOIN qp6 qp ON qp.probe = a.cell AND pe.vec_id <> qp.qid
       |  JOIN qd6 qd ON qd.qid = qp.qid AND qd.s = pe.s AND qd.pid = pe.cell
       |  GROUP BY qp.qid, pe.vec_id),
       |short6 AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY ip DESC, vec_id) AS arank
       |    FROM adc6) WHERE arank <= ${sim6Rerank(k)}),
       |rr6 AS (
       |  SELECT s.qid, s.vec_id,
       |         floor(list_dot_product(qe.v, ce.v) / (qe.nrm * ce.nrm) * 1000000) / 1000000 AS cos
       |  FROM short6 s JOIN e ce ON ce.vec_id = s.vec_id
       |  JOIN e qe ON qe.vec_id = s.qid)
       |SELECT qid, vec_id, cos, rank FROM (
       |  SELECT qid, vec_id, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |  FROM rr6) WHERE rank <= $k""".stripMargin

  private val sim6Oracle: String = sim6OracleFor(NQ, K)

  /** CLS1 — nearest-centroid (Rocchio) classification: assign every
    * vector to the label whose centroid it is closest to by cosine, and
    * report the prediction against the vector's own label — the CHEAP
    * weak-labeling tier below knn1/knn2 (one dot per class per vector
    * instead of a neighbor search; the classify-10-billion-docs pass a
    * curation pipeline runs when even ANN per-item is too expensive).
    *
    * Arithmetic is emb1's engine-neutral recipe end to end: unit
    * vectors floor-scale onto the 512 integer grid, per-label centroid
    * SUMS come from one `vector_sum_long` sketch per label (exact,
    * order-free), and cos(u, centroid) is computed against the raw sum
    * (cosine is scale-invariant — the count never divides). Argmax ties
    * break to the SMALLEST label: the centroid matrix rides
    * label-ascending and `array_position` returns the first maximum,
    * mirrored by the oracle's `ORDER BY cos DESC, clabel`.
    *
    * Scale shape (100 TB): training is ONE label-keyed sketch aggregate
    * (map-side partials; label cardinality is schema-bounded model
    * state, the categorical-dictionary class — NOT corpus-sized), and
    * the trained centroids ship as a plan literal through the
    * O(1)-plan-size codegen'd [[graft.functions.MatrixDots.compute]], so
    * classification is ONE narrow pass — zero join, zero shuffle
    * (spec-pinned no-Exchange in the scoring plan). Contrast knn1,
    * whose per-item cost is a corpus-wide neighbor ranking. */
  /** Trained nearest-centroid model: labels ascending, each label's
    * grid-sum centroid row (exact integer sums as doubles), and the
    * centroid norms in DoubleDot's left-to-right accumulation order —
    * bit-identical to what `norm2(sld)` (and DuckDB's
    * `sqrt(list_dot_product(sld, sld))`) would compute. */
  private[graft] case class CentroidModel(labels: Seq[Int],
      lmat: Seq[Seq[Double]], lnrm: Seq[Double])

  /** cls1's TRAINING half: one label-keyed `vector_sum_long` sketch
    * aggregate (map-side partials; label cardinality is schema-bounded
    * model state) collected to the driver. */
  private[graft] def cls1Train(spark: SparkSession, dir: String): CentroidModel = {
    graft.functions.GraftFunctions.registerAll(spark)
    val ctr = Tables.embeddings(spark, dir)
      .select(col("label"), asDouble(col("embedding")).as("v"))
      // codegen'd quantization (QuantizeUnit.compute — identical scalar sequence
      // to the HOF transform chain, which evaluates interpreted and was
      // measured ASCENDING 18→107 s/rep at 2M vectors from GC pressure)
      .withColumn("uq", call_function("quantize_unit", col("v"), lit(EMB_Q)))
      .groupBy(col("label"))
      .agg(call_function("vector_sum_long", col("uq")).as("sn"))
      .select(col("label"), col("sn.s").as("sl"))
      .collect().sortBy(_.getInt(0))
    val lmat: Seq[Seq[Double]] = ctr.map(_.getSeq[Long](1).map(_.toDouble).toSeq).toSeq
    val lnrm: Seq[Double] = lmat.map { s =>
      var acc = 0.0; s.foreach(d => acc += d * d); math.sqrt(acc)
    }
    CentroidModel(ctr.map(_.getInt(0)).toSeq, lmat, lnrm)
  }

  /** cls1's SCORING half over a (vec_id, label, v: array<double>)
    * relation: a PURE narrow projection — the model rides as plan
    * literals through the codegen'd MatrixDots.compute, so the same code
    * classifies a batch corpus and a live stream
    * ([[graft.streaming.ClassifyStream]] delegates here verbatim; the
    * streaming spec's equality assertion IS this polymorphism). */
  private[graft] def cls1Classify(e: DataFrame, m: CentroidModel): DataFrame = {
    graft.functions.GraftFunctions.registerAll(e.sparkSession)
    e.withColumn("uq", call_function("quantize_unit", col("v"), lit(EMB_Q)))
      // array<long> → array<double> as a plain Cast (codegen'd), not a
      // per-element transform() lambda (interpreted)
      .withColumn("uqd", col("uq").cast("array<double>"))
      .withColumn("unrm", norm2(col("uqd")))
      // scaled_cos: codegen'd — the zip_with score lambda ran
      // interpreted per centroid per row next to the codegen'd
      // matrix_dots (optimization r14); identical floorE6 arithmetic
      .withColumn("cs", call_function("scaled_cos",
        call_function("matrix_dots", col("uqd"), typedLit(m.lmat)),
        col("unrm"), typedLit(m.lnrm)))
      .withColumn("max_cos", array_max(col("cs")))
      .withColumn("pred_label", element_at(typedLit(m.labels),
        array_position(col("cs"), col("max_cos")).cast("int")))
      .select(col("vec_id"), col("label"), col("pred_label"), col("max_cos"),
        (col("label") === col("pred_label")).as("correct"))
  }

  def cls1CentroidClassify(spark: SparkSession, dir: String): DataFrame =
    cls1Classify(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v")),
      cls1Train(spark, dir))

  private val cls1Oracle: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |n AS (SELECT vec_id, label,
       |        list_transform(v, x -> CAST(floor(x / sqrt(list_dot_product(v, v)) * $EMB_Q) AS BIGINT)) AS uq
       |      FROM e),
       |d AS (SELECT label, g.i AS dim, sum(uq[CAST(g.i AS INT)]) AS s
       |      FROM n CROSS JOIN range(1, 65) g(i) GROUP BY 1, 2),
       |ctr AS (SELECT label, list(CAST(s AS DOUBLE) ORDER BY dim) AS sld FROM d GROUP BY label),
       |sc AS (SELECT n.vec_id, n.label AS label, ctr.label AS clabel,
       |         floor(list_dot_product(list_transform(uq, x -> CAST(x AS DOUBLE)), sld)
       |           / (sqrt(list_dot_product(list_transform(uq, x -> CAST(x AS DOUBLE)),
       |                                    list_transform(uq, x -> CAST(x AS DOUBLE))))
       |              * sqrt(list_dot_product(sld, sld))) * 1000000) / 1000000 AS cos
       |       FROM n CROSS JOIN ctr)
       |SELECT vec_id, label, pred_label, max_cos, label = pred_label AS correct
       |FROM (SELECT vec_id, label, clabel AS pred_label, cos AS max_cos,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
       |      FROM sc) WHERE rn = 1""".stripMargin

  private val HN_K = 5 // hard negatives mined per anchor
  private val HN_SHORT = 25 // hn2's ANN shortlist per anchor (≥ HN_K negatives with 10 labels)

  /** HN1 — contrastive hard-negative mining, exact tier: for each
    * anchor vector (vec_id < NQ, the bounded query-set convention), the
    * HN_K highest-cosine vectors whose label DIFFERS from the anchor's —
    * the "closest wrong answers" an embedding-model trainer pairs with
    * each anchor so the contrastive loss has gradient (easy random
    * negatives teach nothing; InfoNCE/triplet training lives on hard
    * ones).
    *
    * Shape is sim1's: the anchor side is bounded and BROADCASTS (with
    * its labels riding along), the corpus never shuffles before
    * ranking, and ranking shuffles only (qid, candidate, score) tuples.
    * The label-mismatch predicate rides the broadcast join, so
    * same-label candidates are dropped at the scan, not post-ranked. */
  def hn1HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm2(col("v")))
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("label").as("anchor_label"),
        col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("qid") && col("label") =!= col("anchor_label"))
      .withColumn("cos", graft.ops.Exact.floorE6(
        dot(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= HN_K)
      .select(col("qid"), col("anchor_label"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("cos"), col("rank"))
  }

  private val hn1Oracle: String =
    s"""WITH q AS (SELECT vec_id AS qid, label AS anchor_label, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < $NQ),
       |scored AS (
       |  SELECT q.qid, q.anchor_label, e.vec_id, e.label AS neg_label,
       |         floor(list_dot_product(q.qv, e.embedding::DOUBLE[]) /
       |               (sqrt(list_dot_product(q.qv, q.qv)) *
       |                sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) * 1000000) / 1000000 AS cos
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id <> q.qid AND e.label <> q.anchor_label)
       |SELECT qid, anchor_label, vec_id AS neg_id, neg_label, cos, rank FROM (
       |  SELECT qid, anchor_label, vec_id, neg_label, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |  FROM scored) WHERE rank <= $HN_K""".stripMargin

  /** HN2 — hn1's mining over the SIM6 IVF-PQ tier: the production form
    * at 100 TB, where an exact per-anchor corpus scan is the
    * scale-killer. Each anchor takes its HN_SHORT-deep ANN shortlist
    * (probed-cells-only candidates, compressed-domain ADC scan, exact
    * rerank — sim6TopK verbatim, so the model is trained once and
    * shared with sim6/knn2/ir3), labels join on (the shortlist is
    * bounded NQ·HN_SHORT model-side state, so it BROADCASTS onto the
    * label column — the corpus never shuffles for the label check),
    * same-label entries drop, and the top HN_K survivors per anchor are
    * the mined negatives. Shortlist depth is the recall knob: with L
    * labels roughly (L-1)/L of the shortlist survives the filter, so
    * HN_SHORT = 5·HN_K leaves ~4.5× headroom here. Fully oracle-checked
    * — the oracle nests sim6's complete two-trainer replay as its
    * shortlist CTE (knn2's pattern). */
  def hn2HardNegativesIvfpq(spark: SparkSession, dir: String): DataFrame = {
    val lab = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val anchors = lab.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("label").as("anchor_label"))
    val short = sim6TopK(spark, dir, NQ, HN_SHORT)
      .select(col("qid"), col("vec_id"), col("cos"))
      .join(broadcast(anchors), "qid")
    val neg = lab.join(broadcast(short), "vec_id")
      .filter(col("label") =!= col("anchor_label"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    neg.withColumn("rank", row_number().over(w)).filter(col("rank") <= HN_K)
      .select(col("qid"), col("anchor_label"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("cos"), col("rank"))
  }

  private lazy val hn2Oracle: String =
    s"""WITH lab AS (SELECT vec_id, label FROM embeddings),
       |neg AS (
       |  SELECT r.qid, a.label AS anchor_label, r.vec_id, l.label AS neg_label, r.cos
       |  FROM (${sim6OracleFor(NQ, HN_SHORT)}) r
       |  JOIN lab a ON a.vec_id = r.qid
       |  JOIN lab l ON l.vec_id = r.vec_id
       |  WHERE l.label <> a.label)
       |SELECT qid, anchor_label, vec_id AS neg_id, neg_label, cos, rank FROM (
       |  SELECT qid, anchor_label, vec_id, neg_label, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |  FROM neg) WHERE rank <= $HN_K""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("pq1_product_quantize", pq1ProductQuantize, Some(pq1Oracle)),
    Q("sim5_pq_adc", sim5PqAdcTopK, Some(sim5Oracle)),
    Q("sim6_ivfpq", sim6IvfPqTopK, Some(sim6Oracle)),
    Q("emb1_label_outliers", emb1LabelOutliers, Some(emb1Oracle)),
    Q("knn1_label_knn", knn1LabelKnn, Some(knn1Oracle)),
    Q("knn2_label_knn_ivfpq", knn2LabelKnnIvfpq, Some(knn2Oracle)),
    Q("ir2_hybrid_rrf", ir2HybridRrf, Some(ir2Oracle)),
    Q("ir3_hybrid_rrf_ivfpq", ir3HybridRrfIvfpq, Some(ir3Oracle)),
    Q("sim1_cosine_topk", sim1BruteTopK, Some(sim1Oracle)),
    Q("sim2_ann_lsh", sim2LshTopK, Some(sim2Oracle)),
    Q("sim3_ann_ivf", sim3AnnIvf, Some(sim3Oracle)),
    Q("sim4_ann_banded", sim4AnnBanded, Some(sim4Oracle)),
    Q("qt1_embedding_quantize", qt1Quantize, Some(qt1Oracle)),
    Q("rp1_random_projection", rp1RandomProjection, Some(rp1Oracle)),
    Q("dc3_semantic_decontaminate", dc3SemanticDecontaminate, Some(dc3Oracle)),
    Q("dd7_semantic_dedup", dd7SemanticDedup, Some(dd7Oracle)),
    Q("cls1_centroid_classify", cls1CentroidClassify, Some(cls1Oracle)),
    Q("hn1_hard_negatives", hn1HardNegatives, Some(hn1Oracle)),
    Q("hn2_hard_negatives_ivfpq", hn2HardNegativesIvfpq, Some(hn2Oracle)))
}
