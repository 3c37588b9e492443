package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The registry's builders: the argument checks they make before a
  * kernel call is planned, the literal form their constant arguments
  * take, and the evaluation paths [[CodegenPaths]] drives. */
class GraftFunctionsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  graft.functions.GraftFunctions.registerAll(spark)

  private val rows: DataFrame = Seq(
    (Seq(1L, 2L, 3L), Seq("a", "b", "c"), Seq(1.0, 2.0), 3L, "a")
  ).toDF("ids", "w", "v", "n", "s")

  /** One valid call of each kernel function, over `rows`. */
  private val valid: Seq[(String, Seq[Column])] = Seq(
    "id_fold" -> Seq(col("ids")),
    "array_sum_long" -> Seq(col("ids")),
    "sum_strlen" -> Seq(col("w")),
    "long_count_eq" -> Seq(col("ids"), lit(2L)),
    "band_keys" -> Seq(col("ids"), lit(2), lit(2)),
    "bloom_hits" -> Seq(col("ids"), typedLit(Seq(-1L)), lit(64)),
    "bpe_merge" -> Seq(col("w"), lit("a"), lit("b")),
    "quantize_grid" -> Seq(col("v"), lit(4)),
    "quantize_stats" -> Seq(col("v")),
    "rk_shingle_hashes" -> Seq(col("w"), lit(2)),
    "rk_word_hash" -> Seq(col("s")),
    "rk_lsh_signatures" -> Seq(col("v"), lit(2), lit(4)),
    "rolling_hash" -> Seq(col("w"), lit(2)),
    "scaled_cos" -> Seq(col("v"), lit(1.0), typedLit(Seq(1.0, 2.0))),
    "shingle_hashes" -> Seq(col("w"), lit(2)),
    "shingle_hashes_pos" -> Seq(col("w"), lit(2)),
    "span_cover" -> Seq(col("ids"), col("n"), lit(2)),
    "word_chunks" -> Seq(col("w"), lit(2)),
    "word_pairs" -> Seq(col("w"), lit(2)),
    "long_match_count" -> Seq(col("ids"), col("ids")),
    "count_in" -> Seq(col("w"), col("w")),
    "quantize_unit" -> Seq(col("v"), lit(4)),
    "matrix_dots" -> Seq(col("v"), typedLit(Seq(Seq(1.0, 2.0)))))

  /** Planning `args` as a call of `name` over `df` fails with `msg`
    * somewhere in the exception's cause chain. */
  private def rejects(name: String, args: Seq[Column], msg: String,
      df: DataFrame = rows): Unit = {
    val e = intercept[Throwable](df.select(call_function(name, args: _*)).schema)
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toList
    assert(msgs.exists(m => m != null && m.contains(msg)), s"$name: expected '$msg' in $msgs")
  }

  test("every kernel function plans and runs on both evaluation paths") {
    for ((name, args) <- valid) {
      CodegenPaths.onBothPaths {
        rows.select(call_function(name, args: _*)).collect().toSeq
      }
    }
  }

  test("wrong arity is rejected with the function's name and expected count") {
    for ((name, args) <- valid) {
      rejects(name, args :+ lit(0), s"$name expects ${args.length} arguments, got ${args.length + 1}")
    }
  }

  test("a non-foldable constant argument is rejected") {
    val constant: Seq[(String, Int, String)] = Seq(
      ("long_count_eq", 1, "integer"), ("band_keys", 1, "integer"), ("band_keys", 2, "integer"),
      ("bloom_hits", 1, "array<bigint>"), ("bloom_hits", 2, "integer"),
      ("bpe_merge", 1, "string"), ("bpe_merge", 2, "string"), ("quantize_grid", 1, "integer"),
      ("rk_shingle_hashes", 1, "integer"), ("rk_lsh_signatures", 1, "integer"),
      ("rk_lsh_signatures", 2, "integer"), ("rolling_hash", 1, "integer"),
      ("scaled_cos", 2, "array<double>"), ("shingle_hashes", 1, "integer"),
      ("shingle_hashes_pos", 1, "integer"), ("span_cover", 2, "integer"),
      ("word_chunks", 1, "integer"), ("word_pairs", 1, "integer"),
      ("quantize_unit", 1, "integer"))
    val column = Map("integer" -> col("n"), "string" -> col("s"),
      "array<bigint>" -> col("ids"), "array<double>" -> col("v"))
    for ((name, i, what) <- constant) {
      val args = valid.toMap.apply(name).updated(i, column(what))
      rejects(name, args, s"$name: argument must be a foldable (constant) $what")
    }
  }

  test("a foldable constant of the wrong kind is rejected") {
    rejects("band_keys", Seq(col("ids"), lit("x"), lit(2)),
      "band_keys: argument must be a foldable integer, got x")
    rejects("bpe_merge", Seq(col("w"), lit(null).cast("string"), lit("b")),
      "bpe_merge: argument must be a foldable string, got null")
  }

  test("bloom_hits rejects array<bigint> with containsNull = true") {
    val nullable = Seq(Tuple1(Seq[java.lang.Long](1L, null))).toDF("ids")
    assert(nullable.schema("ids").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, true))
    rejects("bloom_hits", Seq(col("ids"), typedLit(Seq(-1L)), lit(64)),
      "bloom_hits expects array<bigint> without null elements", nullable)
  }

  test("input types a builder does not cast are checked") {
    rejects("bloom_hits", Seq(col("w"), typedLit(Seq(-1L)), lit(64)),
      "bloom_hits expects array<bigint>, got array<string>")
    for (name <- Seq("rk_shingle_hashes", "rolling_hash", "shingle_hashes", "shingle_hashes_pos"))
      rejects(name, Seq(col("ids"), lit(2)), s"$name expects array<string>, got array<bigint>")
    rejects("rk_word_hash", Seq(col("n")), "rk_word_hash expects string, got bigint")
  }

  test("rk_lsh_signatures rejects shapes outside its bounds") {
    for ((t, b) <- Seq((0, 4), (2, 0), (1, 31), (20, 30)))
      rejects("rk_lsh_signatures", Seq(col("v"), lit(t), lit(b)), s"implausible LSH shape: $t x $b")
  }

  test("width and mode arguments are range-checked") {
    rejects("band_keys", Seq(col("ids"), lit(0), lit(4)), "band_keys needs bands>0, rows>0, got 0/4")
    for (name <- Seq("rk_shingle_hashes", "rolling_hash", "shingle_hashes", "shingle_hashes_pos"))
      rejects(name, Seq(col("w"), lit(0)), "shingle size must be >= 1, got 0")
    rejects("span_cover", Seq(col("ids"), col("n"), lit(0)), "span_cover needs k > 0, got 0")
    rejects("word_chunks", Seq(col("w"), lit(0)), "word_chunks needs k > 0, got 0")
    rejects("word_pairs", Seq(col("w"), lit(3)), "word_pairs mode must be 0|1|2, got 3")
    rejects("matrix_dots", Seq(col("v"), typedLit(Seq(Seq(1.0, 2.0), Seq(1.0)))),
      "matrix_dots: ragged matrix")
    rejects("matrix_dots", Seq(col("v"), typedLit(Seq(Seq[java.lang.Double](1.0, null)))),
      "matrix_dots: null element in matrix row 0")
  }

  test("bloom_hits and scaled_cos plans from value-equal constant arrays have the same result") {
    val sketch = Seq(0x0F0FL, -1L, 7L)
    val norms = Seq(1.5, 2.0)
    def bloom(sk: Seq[Long]) = rows.select(
      call_function("bloom_hits", col("ids"), typedLit(sk), lit(192)).as("h"))
    def cos(ns: Seq[Double]) = rows.select(
      call_function("scaled_cos", col("v"), lit(2.0), typedLit(ns)).as("c"))
    // distinct but equal collections, as two plan builds would make
    assert(bloom(sketch).sameSemantics(bloom(sketch.toVector)))
    assert(cos(norms).sameSemantics(cos(norms.toVector)))
    assert(!bloom(sketch).sameSemantics(bloom(sketch.updated(0, 0L))))
    assert(!cos(norms).sameSemantics(cos(norms.updated(0, 3.0))))
  }

  test("constant arrays reach the kernel as primitive-backed literals") {
    val plan = rows.select(call_function("bloom_hits", col("ids"), typedLit(Seq(-1L)), lit(64)))
      .queryExecution.analyzed
    val lits = plan.expressions.flatMap(_.collect { case s: StaticInvoke => s.arguments })
      .flatten.collect { case Literal(a: UnsafeArrayData, _) => a.toLongArray().toSeq }
    assert(lits == Seq(Seq(-1L)))
    // a constant matrix becomes one row-major literal, whatever its row count
    val dots = rows.select(call_function("matrix_dots", col("v"),
      typedLit(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(5.0, 6.0))))).queryExecution.analyzed
    val flat = dots.expressions.flatMap(_.collect { case s: StaticInvoke => s.arguments })
      .flatten.collect { case Literal(a: UnsafeArrayData, _) => a.toDoubleArray().toSeq }
    assert(flat == Seq(Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)))
  }

  test("the compiled path runs the kernel inside whole-stage codegen; the interpreted path does not") {
    def plan = {
      val df = Seq(Tuple1(Seq(1L, 2L))).toDF("ids")
        .select(call_function("id_fold", col("ids")).as("f"))
      df.collect()
      df.queryExecution.executedPlan
    }
    def fused(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case w: WholeStageCodegenExec => w.collect { case pr: ProjectExec => pr }
    }.flatten.flatMap(_.projectList).exists(_.exists(_.isInstanceOf[StaticInvoke]))
    assert(fused(CodegenPaths.compiled(plan)))
    val interpreted = CodegenPaths.interpreted(plan)
    assert(!fused(interpreted) && interpreted.exists(_.isInstanceOf[ProjectExec]))
  }
}
