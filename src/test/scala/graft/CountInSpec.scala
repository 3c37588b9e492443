package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge cases of the `count_in` kernel (optimization r13:
  * replaces the interpreted size(filter(isin))/array_contains HOFs in
  * ta1/ta2/ta6 and the curation gate) — must agree with both built-in
  * formulations it replaced. */
class CountInSpec extends AnyFunSuite {
  import TestSpark._
  import CodegenPaths.onBothPaths
  import spark.implicits._

  graft.functions.GraftFunctions.registerAll(spark)

  private def countOf(w: Seq[String], m: Seq[String]): Long = onBothPaths {
    Seq((w, m)).toDF("w", "m")
      .select(call_function("count_in", col("w"), col("m")).as("c"))
      .head().getLong(0)
  }

  test("counts occurrences, not distinct hits") {
    assert(countOf(Seq("the", "cat", "the", "dog"), Seq("the", "dog")) == 3L)
  }

  test("empty inputs count 0") {
    assert(countOf(Seq.empty, Seq("x")) == 0L)
    assert(countOf(Seq("x"), Seq.empty) == 0L)
  }

  test("null elements never count, matching filter(isin)'s null drop") {
    onBothPaths {
      val r = Seq(1).toDF("x").select(call_function("count_in",
        array(lit("a"), lit(null).cast("string"), lit("b")),
        array(lit("a"), lit(null).cast("string"))).as("c")).head().getLong(0)
      assert(r == 1L)
    }
  }

  test("null array yields null") {
    onBothPaths {
      val r = Seq((Some(Seq("a")), Option.empty[Seq[String]])).toDF("w", "m")
        .select(call_function("count_in", col("w"), col("m")).as("c")).head()
      assert(r.isNullAt(0))
    }
  }

  test("agrees with size(filter(isin)) and filter(array_contains) on real docs") {
    val markers = Seq("the", "and", "of", "to", "in")
    val t = Tables.documents(spark, sf).limit(50)
      .withColumn("w", split(col("text"), " "))
    val hof = t.select(size(filter(col("w"),
        x => x.isin(markers.map(m => m: Any): _*))).cast("long").as("c"))
      .collect().map(_.getLong(0))
    val hof2 = t.select(size(filter(col("w"),
        x => array_contains(typedLit(markers), x))).cast("long").as("c"))
      .collect().map(_.getLong(0))
    val native = t.select(call_function("count_in", col("w"),
        typedLit(markers)).as("c"))
      .collect().map(_.getLong(0))
    assert(hof.sameElements(native))
    assert(hof2.sameElements(native))
  }
}
