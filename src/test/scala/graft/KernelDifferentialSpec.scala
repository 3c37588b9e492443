package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.RkLsh
import graft.plans.RewriteDotProduct

/** The vector and array kernels against the built-in forms they
  * replaced, on seeded generated rows: lengths 0..6, null arrays, null
  * elements, ragged pairs and repeated strings. The Column form of the
  * engine-neutral hash ([[RkLsh.mix2Col]]) is checked the same way
  * against its scalar JVM form. Each side runs on both
  * evaluation paths ([[CodegenPaths.onBothPaths]]) and the two must
  * agree row by row, bit for bit.
  *
  * The generated vectors are Gaussian, so none has a zero norm: there
  * `quantize_unit` follows IEEE division (as the DuckDB oracle does),
  * while Spark's `/` yields null or raises, so the two forms differ by
  * design. */
class KernelDifferentialSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  graft.functions.GraftFunctions.registerAll(spark)

  private val Rows = 300
  private val Dim = 4
  private val rnd = new scala.util.Random(1019)

  private def chance(oneIn: Int): Boolean = rnd.nextInt(oneIn) == 0

  /** `len` elements from `gen`, each null with probability 1/12 */
  private def elems[T >: Null](len: Int, gen: => T): Seq[T] =
    Seq.fill(len)(if (chance(12)) null else gen)

  /** `x`, or None with probability 1/15 */
  private def opt[T](x: => T): Option[T] = if (chance(15)) None else Some(x)

  private def gauss: java.lang.Double = rnd.nextGaussian()

  /** a length for the second side of a pair: ragged one time in four */
  private def pairLen(n: Int): Int = if (chance(4)) rnd.nextInt(7) else n

  /** a vector length: the matrix width two times in three */
  private def vecLen: Int = if (chance(3)) rnd.nextInt(7) else Dim

  private val vocab = Seq("the", "of", "cat", "dog", "The", "", "a")
  private def word: String = vocab(rnd.nextInt(vocab.length))

  private val doubles: DataFrame = Seq.tabulate(Rows) { id =>
    val n = rnd.nextInt(7)
    (id, opt(elems(n, gauss)), opt(elems(pairLen(n), gauss)))
  }.toDF("id", "a", "b")

  private val longs: DataFrame = Seq.tabulate(Rows) { id =>
    val n = rnd.nextInt(7)
    def long: java.lang.Long = rnd.nextInt(3).toLong
    (id, opt(elems(n, long)), opt(elems(pairLen(n), long)))
  }.toDF("id", "a", "b")

  private val strings: DataFrame = Seq.tabulate(Rows) { id =>
    (id, opt(elems(rnd.nextInt(7), word)), opt(elems(rnd.nextInt(4), word)))
  }.toDF("id", "w", "m")

  private val matrix: Seq[Seq[Double]] = Seq.fill(3)(Seq.fill(Dim)(rnd.nextGaussian()))

  private val vectors: DataFrame = Seq.tabulate(Rows) { id =>
    def row = opt(elems(if (chance(6)) rnd.nextInt(7) else Dim, gauss)).orNull
    val m = opt(Seq.fill(rnd.nextInt(4))(row))
    (id, opt(elems(vecLen, gauss)), m)
  }.toDF("id", "v", "m")

  /** `body` without [[RewriteDotProduct]], which another suite may have
    * installed in the shared session and which would turn the built-in
    * dot product into the kernel it is checked against. */
  private def builtIn[T](body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(_ == RewriteDotProduct)
    try body finally spark.experimental.extraOptimizations = saved
  }

  /** `kernel` and `reference` over `df` give equal rows on both paths. */
  private def agree(df: DataFrame, kernel: Column, reference: Column): Unit = {
    def run(c: Column): Seq[Row] = CodegenPaths.onBothPaths {
      df.select(col("id"), c.as("r")).collect().toSeq.sortBy(_.getInt(0))
    }
    val got = run(kernel)
    val want = builtIn(run(reference))
    assert(got.length == Rows && want.length == Rows)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"kernel $g, built-in $w") }
  }

  private def dot(a: Column, b: Column): Column = call_function("double_dot", a, b)

  test("double_dot agrees with aggregate(zip_with(_ * _))") {
    agree(doubles, dot(col("a"), col("b")),
      aggregate(zip_with(col("a"), col("b"), _ * _), lit(0.0), _ + _))
  }

  test("long_match_count agrees with aggregate(zip_with(when(x === y, 1)))") {
    agree(longs, call_function("long_match_count", col("a"), col("b")),
      aggregate(zip_with(col("a"), col("b"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), _ + _))
  }

  test("count_in agrees with size(filter(isin)) and filter(array_contains)") {
    val markers = Seq("the", "", "dog")
    agree(strings, call_function("count_in", col("w"), typedLit(markers)),
      when(col("w").isNotNull,
        size(filter(col("w"), _.isin(markers: _*))).cast("long")))
    agree(strings, call_function("count_in", col("w"), col("m")),
      when(col("w").isNotNull && col("m").isNotNull,
        size(filter(col("w"), x => array_contains(col("m"), x))).cast("long")))
  }

  test("quantize_unit agrees with the transform/floor chain") {
    val nrm = sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x))
    agree(doubles, call_function("quantize_unit", col("a"), lit(512)),
      transform(transform(col("a"), _ / nrm), x => floor(x * 512)))
  }

  test("matrix_dots over a constant matrix agrees with an array of double_dot") {
    agree(vectors, call_function("matrix_dots", col("v"), typedLit(matrix)),
      when(col("v").isNotNull, array(matrix.map(c => dot(col("v"), typedLit(c))): _*)))
  }

  test("matrix_dots over a matrix column agrees with an array of double_dot, all or nothing") {
    val dots = transform(col("m"), r => dot(col("v"), r))
    agree(vectors, call_function("matrix_dots", col("v"), col("m")),
      when(col("v").isNotNull,
        when(exists(dots, _.isNull), transform(dots, _ => lit(null).cast("double")))
          .otherwise(dots)))
  }

  /** seeded values across [0, 2^40), with both ends */
  private val hashInputs: DataFrame = {
    val m40 = RkLsh.M40
    def x: Long = if (chance(4)) rnd.nextInt(1 << 20).toLong else (rnd.nextLong() >>> 1) % m40
    val xs = Seq(0L, 1L, m40 - 1) ++ Seq.fill(Rows - 3)(x)
    xs.zipWithIndex.map { case (x, id) => (id, x) }.toDF("id", "x")
  }

  test("RkLsh.mix2Col agrees with the scalar RkLsh.mix2 on every chain pair the callers use") {
    val chains = (0 until 4).flatMap(i =>
        Seq(RkLsh.blA(i) -> RkLsh.blB(i), RkLsh.cmA(i) -> RkLsh.cmB(i))) ++
      Seq(RkLsh.CDC_A -> RkLsh.CDC_B, 32 -> 34, 33 -> 35) // the last two: dd3's H1/H2
    val got = CodegenPaths.onBothPaths {
      val mixed = chains.map { case (a, b) => RkLsh.mix2Col(a, b, col("x")) }
      hashInputs.select(col("x") +: mixed: _*).collect().toSeq
    }
    assert(got.length == Rows)
    got.foreach { r =>
      val x = r.getLong(0)
      chains.zipWithIndex.foreach { case ((a, b), j) =>
        assert(r.getLong(j + 1) == RkLsh.mix2(a, b, x), s"chain $a/$b at x = $x")
      }
    }
  }

  test("matrix_dots plans from value-equal constant matrices have the same result") {
    def plan(m: Seq[Seq[Double]]) =
      vectors.select(call_function("matrix_dots", col("v"), typedLit(m)).as("d"))
    // distinct but equal collections, as two plan builds would make
    assert(plan(matrix).sameSemantics(plan(matrix.map(_.toVector).toVector)))
    assert(!plan(matrix).sameSemantics(plan(matrix.updated(0, matrix(0).map(_ + 1.0)))))
  }
}
