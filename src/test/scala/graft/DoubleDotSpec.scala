package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions

/** Edge cases of the custom codegen'd DoubleDot expression — both the
  * interpreted (nullSafeEval) and generated (doGenCode) paths run in
  * these plans ([[CodegenPaths.onBothPaths]]). */
class DoubleDotSpec extends AnyFunSuite {
  import TestSpark._
  import CodegenPaths.onBothPaths
  import spark.implicits._

  private def dotOf(a: Seq[Double], b: Seq[Double]): java.lang.Double = onBothPaths {
    val r = Seq((a, b)).toDF("a", "b")
      .select(VectorFunctions.dot(col("a"), col("b")).as("d")).head()
    if (r.isNullAt(0)) null else r.getDouble(0)
  }

  test("basic dot product") { assert(dotOf(Seq(1, 2, 3), Seq(4, 5, 6)) == 32.0) }

  test("empty arrays yield 0.0") { assert(dotOf(Seq.empty, Seq.empty) == 0.0) }

  test("length mismatch yields null, like zip_with's null padding") {
    assert(dotOf(Seq(1, 2, 3), Seq(10, 10)) == null)
    assert(dotOf(Seq(10, 10), Seq(1, 2, 3)) == null)
  }

  test("a null ELEMENT nullifies the product, matching the HOF formulation") {
    onBothPaths {
      val r = Seq(1).toDF("x").select(
        VectorFunctions.dot(
          array(lit(1.0), lit(null).cast("double")),
          array(lit(2.0), lit(3.0))).as("d")).head()
      assert(r.isNullAt(0))
    }
  }

  test("null input yields null, not a crash") {
    onBothPaths {
      val r = Seq((Some(Seq(1.0)), Option.empty[Seq[Double]])).toDF("a", "b")
        .select(VectorFunctions.dot(col("a"), col("b")).as("d")).head()
      assert(r.isNullAt(0))
    }
  }

  test("float input is cast up and accumulated in double") {
    val r = Tables.embeddings(spark, sf)
      .limit(1)
      .select(VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
      .head().getDouble(0)
    assert(r > 0.0 && !r.isNaN)
  }

  test("agrees with the interpreted HOF formulation bit-for-bit") {
    val hof = Tables.embeddings(spark, sf).limit(50)
      .select(aggregate(zip_with(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d")).collect().map(_.getDouble(0))
    val native = Tables.embeddings(spark, sf).limit(50)
      .select(VectorFunctions.dot(col("embedding"), col("embedding")).as("d"))
      .collect().map(_.getDouble(0))
    assert(hof.sameElements(native))
  }
}
