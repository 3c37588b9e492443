package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions

/** Edge cases of the `matrix_dots` kernels (all centroid dots in one
  * pass, a constant matrix as one flat literal) and `quantize_unit`
  * (unit-normalize + integer-grid quantize in one pass). Each check
  * runs on both evaluation paths ([[CodegenPaths.onBothPaths]]): the
  * kernel call inside whole-stage generated code and the interpreted
  * `StaticInvoke`. */
class MatrixQuantizeSpec extends AnyFunSuite {
  import TestSpark._
  import CodegenPaths.onBothPaths
  import spark.implicits._

  graft.functions.GraftFunctions.registerAll(spark)

  private val m22 = typedLit(Seq(Seq(1.0, 2.0), Seq(-1.0, 0.5)))

  test("matrix_dots: basic dots against every row, both execution paths") {
    def run = Seq(Seq(3.0, 4.0)).toDF("v")
      .select(call_function("matrix_dots", col("v"), m22).as("d"))
      .head().getSeq[java.lang.Double](0)
    onBothPaths(assert(run == Seq(11.0, -1.0)))
  }

  test("matrix_dots: width mismatch and null element null every dot") {
    def runMismatch = Seq(Seq(3.0, 4.0, 5.0)).toDF("v")
      .select(call_function("matrix_dots", col("v"), m22).as("d"))
      .head().getSeq[java.lang.Double](0)
    def runNullElem = Seq(1).toDF("x")
      .select(call_function("matrix_dots",
        array(lit(1.0), lit(null).cast("double")), m22).as("d"))
      .head().getSeq[java.lang.Double](0)
    onBothPaths(assert(Seq(runMismatch, runNullElem).forall(_ == Seq(null, null))))
  }

  test("matrix_dots: null input array yields null, not a crash") {
    def run = Seq(Option.empty[Seq[Double]]).toDF("v")
      .select(call_function("matrix_dots", col("v"), m22).as("d"))
      .head().isNullAt(0)
    onBothPaths(assert(run))
  }

  test("matrix_dots agrees with per-centroid double_dot bit-for-bit") {
    val cents = Seq(Seq(0.5, -1.5, 2.0), Seq(1.0, 1.0, 1.0), Seq(-3.0, 0.0, 0.25))
    val data = Seq(Seq(1.1, 2.2, -3.3), Seq(0.0, 0.0, 0.0), Seq(5.0, -5.0, 5.0))
    val df = data.toDF("v")
    val viaMatrix = df.select(call_function("matrix_dots", col("v"),
      typedLit(cents)).as("d")).collect().map(_.getSeq[Double](0))
    val viaDots = df.select(array(cents.map(c =>
      VectorFunctions.dot(col("v"), typedLit(c))): _*).as("d"))
      .collect().map(_.getSeq[Double](0))
    assert(viaMatrix.toSeq == viaDots.toSeq)
  }

  test("quantize_unit agrees with the HOF normalize+floor chain bit-for-bit") {
    val df = Tables.embeddings(spark, sf).limit(50)
      .select(col("embedding").cast("array<double>").as("v"))
    def viaExpr = df
      .select(call_function("quantize_unit", col("v"), lit(512)).as("uq"))
      .collect().map(_.getSeq[Long](0))
    val viaHof = df
      .withColumn("nrm", VectorFunctions.norm2(col("v")))
      .select(transform(transform(col("v"), x => x / col("nrm")),
        x => floor(x * 512)).as("uq"))
      .collect().map(_.getSeq[Long](0))
    onBothPaths(assert(viaExpr.map(_.toList).toSeq == viaHof.map(_.toList).toSeq))
  }

  test("quantize_unit: null element nulls the whole output; null array is null") {
    def runNullElem = Seq(1).toDF("x")
      .select(call_function("quantize_unit",
        array(lit(1.0), lit(null).cast("double")), lit(512)).as("uq"))
      .head().getSeq[java.lang.Long](0)
    onBothPaths(assert(runNullElem == Seq(null, null)))
    def runNullArr = Seq(Option.empty[Seq[Double]]).toDF("v")
      .select(call_function("quantize_unit", col("v"), lit(512)).as("uq"))
      .head().isNullAt(0)
    onBothPaths(assert(runNullArr))
  }
}
