package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd WordPairs expression (optimization r13) must agree
  * with the three built-in bigram formulations it replaced — ordered
  * structs (lm1's zip_with-of-slices), canonically ordered structs
  * (cooc1's least/greatest transform), and joined strings
  * (ng1/rep1/apx3's concat_ws transform) — on real documents and on
  * the short-input edge cases. */
class WordPairsSpec extends AnyFunSuite {
  import TestSpark._
  import CodegenPaths.onBothPaths
  import spark.implicits._

  graft.functions.GraftFunctions.registerAll(spark)

  private def docsW = Tables.documents(spark, sf).limit(60)
    .withColumn("w", split(col("text"), " "))

  test("mode 0 ≡ zip_with(slice, slice, struct) on real documents") {
    val t = docsW.filter(size(col("w")) >= 2)
    val hof = t.select(explode(zip_with(
      slice(col("w"), lit(1), size(col("w")) - 1),
      slice(col("w"), lit(2), size(col("w")) - 1),
      (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .select(col("p.l"), col("p.r")).collect().map(r => (r.getString(0), r.getString(1)))
    val native = t.select(explode(call_function("word_pairs", col("w"), lit(0))).as("p"))
      .select(col("p.l"), col("p.r")).collect().map(r => (r.getString(0), r.getString(1)))
    assert(hof.sameElements(native))
  }

  test("mode 1 ≡ transform with least/greatest on real documents") {
    val t = docsW.filter(size(col("w")) >= 2)
    val hof = t.select(explode(transform(sequence(lit(1), size(col("w")) - 1),
      i => struct(
        least(element_at(col("w"), i), element_at(col("w"), i + 1)).as("x"),
        greatest(element_at(col("w"), i), element_at(col("w"), i + 1)).as("y")))).as("u"))
      .select(col("u.x"), col("u.y")).collect().map(r => (r.getString(0), r.getString(1)))
    val native = t.select(explode(call_function("word_pairs", col("w"), lit(1))).as("u"))
      .select(col("u.x"), col("u.y")).collect().map(r => (r.getString(0), r.getString(1)))
    assert(hof.sameElements(native))
  }

  test("mode 2 ≡ when/transform/concat_ws on real documents incl. short ones") {
    val hof = docsW.select(explode(when(size(col("w")) >= 2,
      transform(sequence(lit(0), size(col("w")) - 2),
        i => concat_ws(" ", element_at(col("w"), i + 1), element_at(col("w"), i + 2))))
      .otherwise(array().cast("array<string>"))).as("ng"))
      .collect().map(_.getString(0))
    val native = docsW.select(
      explode(call_function("word_pairs", col("w"), lit(2))).as("ng"))
      .collect().map(_.getString(0))
    assert(hof.sameElements(native))
  }

  test("n < 2 words yields an empty array in every mode") {
    onBothPaths {
      for (m <- 0 to 2) {
        val r = Seq(Seq("one")).toDF("w")
          .select(size(call_function("word_pairs", col("w"), lit(m))).as("n")).head()
        assert(r.getInt(0) == 0, s"mode $m")
      }
    }
  }

  test("null array yields null (explode drops it)") {
    onBothPaths {
      val r = Seq(Option.empty[Seq[String]]).toDF("w")
        .select(call_function("word_pairs", col("w"), lit(2)).as("p")).head()
      assert(r.isNullAt(0))
    }
  }

  test("documents.text is never null, so the null-array case stays unreachable " +
      "(rep1 consumes word_pairs via size(), which would see null where the old " +
      "when/otherwise form gave an empty array — ADVICE r13)") {
    // the fixture property every word_pairs/size consumer relies on;
    // ScaleGen only rewrites existing text, so it holds at every SF
    assert(Tables.documents(spark, sf).filter(col("text").isNull).count() == 0L)
  }
}
