package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge cases of the codegen'd BandKeys expression (optimization r14:
  * replaces the interpreted transform(sequence)+aggregate(slice) HOF
  * pair in Dedup.rkBandedOf) — must agree with the HOF formulation it
  * replaced on every input shape the signature path can produce, and
  * on the unreachable-by-construction edges. */
class BandKeysSpec extends AnyFunSuite {
  import TestSpark._
  import CodegenPaths.onBothPaths
  import spark.implicits._

  graft.functions.GraftFunctions.registerAll(spark)

  private val BANDS = 8
  private val ROWS = 4

  /** the exact built-in formulation rkBandedOf used before r14 */
  private def hofKeys(sig: org.apache.spark.sql.Column) = {
    import graft.functions.RkLsh
    transform(sequence(lit(0), lit(BANDS - 1)),
      b => aggregate(slice(sig, b * ROWS + 1, lit(ROWS)),
        lit(0L), (acc, x) => (acc * RkLsh.MUL + x) % RkLsh.M40))
  }

  private def both(sig: Seq[java.lang.Long]): (Seq[Any], Seq[Any]) = {
    val df = Seq(Tuple1(sig)).toDF("sig")
    val h = df.select(hofKeys(col("sig")).as("k")).head().getSeq[Any](0)
    val n = df.select(call_function("band_keys", col("sig"), lit(BANDS), lit(ROWS))
      .as("k")).head().getSeq[Any](0)
    (h, n)
  }

  test("agrees with the HOF formulation on real MinHash signatures") {
    val sigs = Tables.documents(spark, sf).limit(60)
      .select(col("doc_id"),
        explode(call_function("rk_shingle_hashes", split(col("text"), " "), lit(3))).as("s"))
      .groupBy(col("doc_id"))
      .agg(call_function("minhash_sketch", col("s")).as("sig"))
    val hof = sigs.select(col("doc_id"), hofKeys(col("sig")).as("k"))
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1))).toMap
    val native = sigs.select(col("doc_id"),
        call_function("band_keys", col("sig"), lit(BANDS), lit(ROWS)).as("k"))
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1))).toMap
    assert(hof.nonEmpty && hof == native)
  }

  test("short signature: missing bands fold to the seed 0, partial band folds its prefix") {
    onBothPaths {
      val (h, n) = both(Seq(5L, 6L, 7L)) // < one full band
      assert(h == n)
      assert(n.drop(1).forall(_ == 0L)) // bands 1..7 see empty slices
    }
  }

  test("empty signature: every band is the seed 0, like aggregate over an empty slice") {
    onBothPaths {
      val (h, n) = both(Seq.empty)
      assert(h == n && n.forall(_ == 0L))
    }
  }

  test("null element nulls that band's key from its position onward, like the HOF accumulator") {
    onBothPaths {
      val sig = Seq[java.lang.Long](1L, null, 3L, 4L, 9L, 9L, 9L, 9L)
      val (h, n) = both(sig)
      assert(h == n)
      assert(n.head == null && n(1) != null)
    }
  }

  test("null ARRAY yields null (deliberate difference from the HOF's 8 nulls — unreachable: minhash_sketch never emits null)") {
    val df = Seq(Tuple1(Option.empty[Seq[Long]])).toDF("sig")
    onBothPaths {
      assert(df.select(call_function("band_keys", col("sig"), lit(BANDS), lit(ROWS)))
        .head().isNullAt(0))
    }
    // and the unreachability claim: every sig the sketch emits is non-null
    val sigs = Tables.documents(spark, sf).limit(60)
      .select(col("doc_id"),
        explode(call_function("rk_shingle_hashes", split(col("text"), " "), lit(3))).as("s"))
      .groupBy(col("doc_id"))
      .agg(call_function("minhash_sketch", col("s")).as("sig"))
    assert(sigs.filter(col("sig").isNull).count() == 0L)
  }

}
