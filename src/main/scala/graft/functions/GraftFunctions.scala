package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Registers every custom function this library ships into a session's
  * function registry, making them available to both the Column API
  * (`call_function`) and plain SQL text.
  *
  * Kernel functions — a `StaticInvoke` of a static method that already
  * holds the whole computation. Spark generates the static call inside
  * whole-stage codegen, evaluates it reflectively when interpreted, and
  * returns null for a null argument without calling; each kernel's
  * scaladoc carries its semantics:
  *
  *  - `id_fold(array<bigint>)` / `array_sum_long(array<bigint>)` /
  *    `sum_strlen(array<string>)` / `long_count_eq(array<bigint>, k)` —
  *    array folds (token-id wire fold, element sum, word-length sum,
  *    constant-equality count), [[ArrayFolds]]
  *  - `band_keys(array<bigint>, bands, rows)` — LSH band keys (RK fold
  *    per signature slice), [[BandKeys]]
  *  - `bloom_hits(array<bigint>, sketch, bits)` — Bloom-sketch hit
  *    count (dc4), [[BloomHits]]
  *  - `bpe_merge(array<string>, l, r)` — one greedy non-overlapping BPE
  *    merge in a single pass, [[BpeMerge]]
  *  - `span_cover(array<bigint>, nt, k)` — interval-union coverage of
  *    sorted k-gram positions (dd8's duplicated-token count), [[SpanCover]]
  *  - `quantize_stats(array<double>)` — qt1's int8 scale/checksum/l2
  *    measurement in one pass, [[QuantizeStats]]
  *  - `quantize_grid(array<double>, q)` — raw integer grid floor(x·q)
  *    (pq1/sim5's codebook domain; no normalization), [[PqCoding]]
  *  - `word_chunks(array<string>, k)` — non-overlapping k-word chunk
  *    strings (dd6's chunking unit), [[WordChunks]]
  *  - `scaled_cos(array<double>, unrm, norms)` — floor-scaled cosine
  *    vector against fixed centroid norms (cls1/dc3), [[ScaledCos]]
  *  - `word_pairs(array<string>, mode)` — adjacent word pairs (0 ordered
  *    structs, 1 canonical structs, 2 joined strings), [[WordPairs]]
  *  - `shingle_hashes(array<string>, k)` / `shingle_hashes_pos(...)` —
  *    distinct / positional word-k-gram hashes (engine-LOCAL values;
  *    oracles re-join raw strings), [[ShingleHashes]]
  *  - `rk_shingle_hashes(array<string>, k)` / `rk_word_hash(string)` —
  *    engine-NEUTRAL RK shingle and word hashes, [[RkShingleHashes]]
  *  - `rk_lsh_signatures(array<double>, tables, bits)` — ±1 Rademacher
  *    hyperplane LSH signatures, [[RkLshSignatures]]
  *  - `rolling_hash(array<string>, k)` — Rabin–Karp [min, full]
  *    fingerprint, [[RollingHashFp]]
  *  - `long_match_count(array<bigint>, array<bigint>)` — count of equal
  *    positions (MinHash signature match), [[LongMatchCount]]
  *  - `count_in(array<string>, array<string>)` — membership hit count
  *    (stopword/marker/top-vocab scoring), [[CountIn]]
  *  - `quantize_unit(array<double>, q)` — unit-normalized integer grid,
  *    [[QuantizeUnit]]
  *  - `matrix_dots(array<double>, array<array<double>>)` — one dot per
  *    matrix row; a constant matrix is passed as one flat literal,
  *    a matrix column row by row, [[MatrixDots]]
  *
  * STANDING RULE (paid for three times before it was written down —
  * dc4's Bloom probe in r8, dsir1's bucket fold and cls1's quantize
  * chain in r13, the latter measured ASCENDING 18→107 s/rep at 2M
  * vectors from interpreted-eval GC pressure): a per-element lambda on
  * a hot column does not belong in `transform`/`aggregate`/`zip_with`.
  * Move the scalar work AFTER an `explode` (plain expressions stay in
  * codegen), use a plain `Cast` for elementwise casts, or write a
  * kernel — a static method over `ArrayData` plus one registration
  * below, as [[QuantizeUnit]] is.
  *
  * Expressions — classes whose evaluation is their own:
  *
  *  - `double_dot(array<double>, array<double>)` — dot product, the one
  *    expression whose generated code inlines its own loop: as a static
  *    kernel, dd5 ran ~40% slower at sf0.1 when other queries had run
  *    in the JVM before it (~9% alone); also what
  *    [[graft.plans.RewriteDotProduct]] rewrites to
  *  - `pq_scores(array<double>, mat, c2)` — per-subspace PQ assignment
  *    scores ‖c_p‖² − 2·sub·c_p (a deliberate `CodegenFallback`)
  *  - aggregates: `minhash_sketch(bigint)`, `simhash_sketch(bigint,
  *    bigint)`, `topn_by_key(bigint, bigint, n)`, `hll_sketch(bigint)`,
  *    `hist_sketch(bigint)`, `vector_avg(array<double>)`,
  *    `vector_sum_long(array<bigint>)`, and `ma_agg(double, bigint,
  *    string)` — the reference's moving-average aggregation protocol
  *
  * The builders validate arity, constant arguments and input types, and
  * insert casts to the expected input types — kernels and expressions
  * read primitive slots and would otherwise silently misread (or crash
  * on) e.g. an array<float> column passed from SQL. A constant argument
  * becomes a literal child, so plans built from equal constants compare
  * equal. Idempotent; safe to call per query. This is the single
  * registration point — VectorFunctions delegates here.
  */
object GraftFunctions {

  private val LongArray = ArrayType(LongType)
  private val DoubleArray = ArrayType(DoubleType)
  private val StringArray = ArrayType(StringType)

  /** One call's arguments, with the function name its errors carry. */
  private final class Args(name: String, exprs: Seq[Expression]) {

    def apply(i: Int): Expression = exprs(i)

    def cast(i: Int, dt: DataType): Expression = Cast(exprs(i), dt)

    /** Argument `i` as-is, rejected unless it already has type `dt`
      * (element nullability aside) — for inputs that are never cast. */
    def typed(i: Int, dt: DataType): Expression = {
      val ok = (exprs(i).dataType, dt) match {
        case (ArrayType(got, _), ArrayType(want, _)) => got == want
        case (got, want) => got == want
      }
      if (!ok) throw new IllegalArgumentException(
        s"$name expects ${dt.catalogString}, got ${exprs(i).dataType.catalogString}")
      exprs(i)
    }

    /** A constant argument (a shingle width that shapes the output, a
      * model's sketch or norms). Checking `foldable` FIRST matters:
      * eval() on a non-foldable (unbound attribute) expression surfaces
      * as an obscure analyzer-time UnsupportedOperationException instead
      * of this message. A value `read` does not take (null included) is
      * rejected. */
    def foldable[T](i: Int, what: String)(read: PartialFunction[Any, T]): T = {
      val e = exprs(i)
      if (!e.foldable) throw new IllegalArgumentException(
        s"$name: argument must be a foldable (constant) $what, got ${e.sql}")
      val v = e.eval()
      read.applyOrElse(v, (_: Any) => throw new IllegalArgumentException(
        s"$name: argument must be a foldable $what, got $v"))
    }

    def int(i: Int): Int = foldable(i, "integer") { case n: Number => n.intValue() }

    /** A constant array as a literal over primitive-backed
      * UnsafeArrayData: `typedLit` builds a boxed GenericArrayData,
      * which the kernel would unbox on every read. */
    def longArray(i: Int): Literal = foldable(i, "array<bigint>") { case a: ArrayData =>
      Literal(UnsafeArrayData.fromPrimitiveArray(a.toLongArray()), ArrayType(LongType, false))
    }

    def doubleArray(i: Int): Literal = foldable(i, "array<double>") { case a: ArrayData =>
      Literal(UnsafeArrayData.fromPrimitiveArray(a.toDoubleArray()), ArrayType(DoubleType, false))
    }

    /** A constant matrix as one row-major [[doubleArray]]-style literal
      * with its row count and width. Its rows must be non-null, free of
      * null elements and equally long. */
    def doubleMatrix(i: Int): (Literal, Int, Int) = {
      val m = Cast(exprs(i), ArrayType(DoubleArray)).eval() match {
        case m: ArrayData => m
        case v => throw new IllegalArgumentException(
          s"$name: argument must be a foldable array<array<double>>, got $v")
      }
      val rows = Seq.tabulate(m.numElements()) { c =>
        require(!m.isNullAt(c), s"$name: null matrix row $c")
        val row = m.getArray(c)
        require(!(0 until row.numElements()).exists(row.isNullAt),
          s"$name: null element in matrix row $c")
        row.toDoubleArray()
      }
      val dim = rows.headOption.fold(0)(_.length)
      require(rows.forall(_.length == dim), s"$name: ragged matrix")
      (Literal(UnsafeArrayData.fromPrimitiveArray(rows.flatten.toArray),
        ArrayType(DoubleType, false)), rows.length, dim)
    }
  }

  /** `kernel.method(args)`: `nullable` says whether the kernel itself
    * can return null (a boxed result); null arguments always give null. */
  private def invoke(kernel: AnyRef, method: String, dt: DataType,
      nullable: Boolean = false)(args: Expression*): Expression =
    StaticInvoke(kernel.getClass, dt, method, args, returnNullable = nullable)

  /** Sessions already registered, keyed weakly on their function
    * registry: every query entry point calls [[registerAll]]
    * defensively, and re-registering 33 functions per query floods
    * stderr with "function X replaced" registry warnings — hundreds of
    * lines per bench sweep burying any real warning. Registration is
    * idempotent either way; this guard only makes it once-per-session.
    * Weak keys: a dropped session must not be pinned by the guard. */
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // fast path without the lock — the map is a synchronizedMap, and
    // a TRUE entry is only ever published AFTER registerInto succeeded
    if (registered.get(reg) != null) return
    // registration runs under a lock and the flag publishes after it
    // completes: a putIfAbsent-then-register would let a concurrent
    // first caller (e.g. VectorFunctions.dot racing a training thread)
    // return early and fail with "undefined function double_dot"
    registered.synchronized {
      if (registered.get(reg) == null) {
        registerInto(spark, reg)
        registered.put(reg, java.lang.Boolean.TRUE)
      }
    }
  }

  private def registerInto(spark: SparkSession, reg: FunctionRegistry): Unit = {
    def fn(name: String, arity: Int)(build: Args => Expression): Unit =
      reg.createOrReplaceTempFunction(name, exprs => {
        require(exprs.length == arity, s"$name expects $arity arguments, got ${exprs.length}")
        build(new Args(name, exprs))
      }, "scala_udf")
    def shingleWidth(a: Args): Literal = {
      val k = a.int(1)
      require(k >= 1, s"shingle size must be >= 1, got $k")
      Literal(k)
    }

    // kernels
    fn("id_fold", 1) { a =>
      invoke(ArrayFolds, "idFold", LongType, nullable = true)(a.cast(0, LongArray))
    }
    fn("array_sum_long", 1) { a =>
      invoke(ArrayFolds, "sumLong", LongType, nullable = true)(a.cast(0, LongArray))
    }
    fn("sum_strlen", 1) { a =>
      invoke(ArrayFolds, "sumStrLen", LongType, nullable = true)(a.cast(0, StringArray))
    }
    fn("long_count_eq", 2) { a =>
      val k = a.foldable(1, "integer") { case n: Number => n.longValue() }
      invoke(ArrayFolds, "countEq", LongType)(a.cast(0, LongArray), Literal(k))
    }
    fn("band_keys", 3) { a =>
      val (bands, rows) = (a.int(1), a.int(2))
      require(bands > 0 && rows > 0, s"band_keys needs bands>0, rows>0, got $bands/$rows")
      invoke(BandKeys, "compute", ArrayType(LongType))(
        a.cast(0, LongArray), Literal(bands), Literal(rows))
    }
    fn("bloom_hits", 3) { a =>
      a(0).dataType match {
        case ArrayType(LongType, false) =>
        case ArrayType(LongType, true) => throw new IllegalArgumentException(
          "bloom_hits expects array<bigint> without null elements " +
            "(containsNull = true would read garbage via getLong)")
        case other => throw new IllegalArgumentException(
          s"bloom_hits expects array<bigint>, got ${other.catalogString}")
      }
      invoke(BloomHits, "compute", LongType)(a(0), a.longArray(1), Literal(a.int(2).toLong))
    }
    fn("bpe_merge", 3) { a =>
      def sym(i: Int) = a.foldable(i, "string") { case s: UTF8String => s.toString }
      val (l, r) = (sym(1), sym(2))
      invoke(BpeMerge, "compute", ArrayType(StringType))(
        a.cast(0, StringArray), Literal(l), Literal(r), Literal(l + r))
    }
    fn("span_cover", 3) { a =>
      val k = a.int(2)
      require(k > 0, s"span_cover needs k > 0, got $k")
      invoke(SpanCover, "compute", LongType, nullable = true)(
        a.cast(0, LongArray), a.cast(1, LongType), Literal(k))
    }
    fn("quantize_stats", 1) { a =>
      invoke(QuantizeStats, "compute", QuantizeStats.resultType)(a.cast(0, DoubleArray))
    }
    fn("quantize_grid", 2) { a =>
      invoke(PqCoding, "quantizeGrid", ArrayType(LongType), nullable = true)(
        a.cast(0, DoubleArray), Literal(a.int(1)))
    }
    fn("word_chunks", 2) { a =>
      val k = a.int(1)
      require(k > 0, s"word_chunks needs k > 0, got $k")
      invoke(WordChunks, "compute", ArrayType(StringType, containsNull = false))(
        a.cast(0, StringArray), Literal(k))
    }
    fn("scaled_cos", 3) { a =>
      invoke(ScaledCos, "compute", ArrayType(DoubleType))(
        a.cast(0, DoubleArray), a.cast(1, DoubleType), a.doubleArray(2))
    }
    fn("word_pairs", 2) { a =>
      val mode = a.int(1)
      require(mode >= 0 && mode <= 2, s"word_pairs mode must be 0|1|2, got $mode")
      invoke(WordPairs, "compute", WordPairs.resultType(mode))(
        a.cast(0, StringArray), Literal(mode))
    }
    fn("shingle_hashes", 2) { a =>
      invoke(ShingleHashes, "compute", ArrayType(LongType, containsNull = false))(
        a.typed(0, StringArray), shingleWidth(a))
    }
    fn("shingle_hashes_pos", 2) { a =>
      invoke(ShingleHashes, "computePos", ArrayType(LongType, containsNull = false))(
        a.typed(0, StringArray), shingleWidth(a))
    }
    fn("rk_shingle_hashes", 2) { a =>
      invoke(RkShingleHashes, "compute", ArrayType(LongType, containsNull = false))(
        a.typed(0, StringArray), shingleWidth(a))
    }
    fn("rk_word_hash", 1) { a =>
      invoke(RkShingleHashes, "wordHash", LongType)(a.typed(0, StringType))
    }
    fn("rk_lsh_signatures", 3) { a =>
      val (tables, bits) = (a.int(1), a.int(2))
      require(tables >= 1 && bits >= 1 && bits <= 30 && tables * bits <= 512,
        s"implausible LSH shape: $tables x $bits")
      invoke(RkLshSignatures, "compute", ArrayType(IntegerType, containsNull = false))(
        a.cast(0, DoubleArray), Literal(tables), Literal(bits))
    }
    fn("rolling_hash", 2) { a =>
      invoke(RollingHashFp, "compute", ArrayType(LongType, containsNull = false))(
        a.typed(0, StringArray), shingleWidth(a))
    }

    fn("long_match_count", 2) { a =>
      invoke(LongMatchCount, "compute", LongType)(a.cast(0, LongArray), a.cast(1, LongArray))
    }
    fn("count_in", 2) { a =>
      invoke(CountIn, "compute", LongType)(a.cast(0, StringArray), a.cast(1, StringArray))
    }
    fn("quantize_unit", 2) { a =>
      invoke(QuantizeUnit, "compute", ArrayType(LongType))(
        a.cast(0, DoubleArray), Literal(a.int(1)))
    }
    fn("matrix_dots", 2) { a =>
      if (a(1).foldable) {
        val (flat, k, dim) = a.doubleMatrix(1)
        invoke(MatrixDots, "compute", ArrayType(DoubleType))(
          a.cast(0, DoubleArray), flat, Literal(k), Literal(dim))
      } else {
        invoke(MatrixDots, "dotsWithMatrix", ArrayType(DoubleType))(
          a.cast(0, DoubleArray), a.cast(1, ArrayType(DoubleArray)))
      }
    }

    // expressions
    fn("double_dot", 2) { a => DoubleDot(a.cast(0, DoubleArray), a.cast(1, DoubleArray)) }
    fn("pq_scores", 3) { a =>
      // codebook/norms stay literal CHILDREN (value-equal under plan
      // canonicalization), never constructor arrays — see PqScores
      PqScores(a.cast(0, DoubleArray), a.cast(1, ArrayType(DoubleArray)),
        a.cast(2, DoubleArray))
    }
    fn("minhash_sketch", 1) { a => MinHashSketch(a.cast(0, LongType)) }
    fn("simhash_sketch", 2) { a => SimHashSketch(a.cast(0, LongType), a.cast(1, LongType)) }
    fn("topn_by_key", 3) { a => TopNByKey(a.cast(0, LongType), a.cast(1, LongType), a.int(2)) }
    fn("hll_sketch", 1) { a => HllSketch(a.cast(0, LongType)) }
    fn("hist_sketch", 1) { a => HistSketch(a.cast(0, LongType)) }
    fn("vector_avg", 1) { a => VectorAvg(a.cast(0, DoubleArray)) }
    fn("vector_sum_long", 1) { a => VectorSumLong(a.cast(0, LongArray)) }
    spark.udf.register("ma_agg", udaf(new MaAggregator))
  }
}
