package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge cases of the `long_match_count` kernel (optimization
  * r13: replaces the interpreted zip_with+aggregate pair in
  * Dedup.estJaccard) — must agree with the HOF formulation it replaced
  * on every input shape the signature path can produce. */
class LongMatchCountSpec extends AnyFunSuite {
  import TestSpark._
  import CodegenPaths.onBothPaths
  import spark.implicits._

  graft.functions.GraftFunctions.registerAll(spark)

  private def countOf(a: Seq[java.lang.Long], b: Seq[java.lang.Long]): java.lang.Long =
    onBothPaths {
      val r = Seq((a, b)).toDF("a", "b")
        .select(call_function("long_match_count", col("a"), col("b")).as("c")).head()
      if (r.isNullAt(0)) null else r.getLong(0)
    }

  test("counts equal positions") {
    assert(countOf(Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)) == 3L)
  }

  test("empty arrays count 0") { assert(countOf(Seq.empty, Seq.empty) == 0L) }

  test("ragged arrays count over the common prefix, like zip_with's null padding") {
    assert(countOf(Seq(1L, 2L, 3L), Seq(1L, 2L)) == 2L)
    assert(countOf(Seq(1L, 2L), Seq(1L, 2L, 3L)) == 2L)
  }

  test("null elements never match, matching when(null === x).otherwise(0)") {
    assert(countOf(Seq(1L, null, 3L), Seq(1L, null, 3L)) == 2L)
  }

  test("null input yields null, not a crash") {
    onBothPaths {
      val r = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
        .select(call_function("long_match_count", col("a"), col("b")).as("c")).head()
      assert(r.isNullAt(0))
    }
  }

  test("agrees with the interpreted HOF formulation on real signatures") {
    val sigs = Tables.documents(spark, sf).limit(40)
      .select(col("doc_id"),
        explode(call_function("rk_shingle_hashes", split(col("text"), " "), lit(3))).as("s"))
      .groupBy(col("doc_id"))
      .agg(call_function("minhash_sketch", col("s")).as("sig"))
    // self-join a few rows into pairs and compare both formulations
    val pairs = sigs.as("l").crossJoin(sigs.as("r")).limit(200)
      .select(col("l.sig").as("a"), col("r.sig").as("b"))
    val hof = pairs.select(
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, x) => acc + x).as("c"))
      .collect().map(_.getLong(0))
    val native = pairs.select(
      call_function("long_match_count", col("a"), col("b")).as("c"))
      .collect().map(_.getLong(0))
    assert(hof.sameElements(native))
  }
}
