package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  /** One session for the whole test run; intentionally does NOT set the
    * nanosAsLong conf so tests prove Tables.events self-configures (the
    * driver's own session won't have it either). */
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // transformWithState requires the RocksDB state store provider —
      // also the provider we'd run with on a real cluster
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class EntrySmokeSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows on sf0.001 with a fresh (unconfigured) session") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // queries whose predicates legitimately eliminate the sparse sf0.001
  // fixture — everything else must return rows, so a filter bug that
  // silently empties a result set fails here (the only guard the
  // oracle-less hash-based queries have against that)
  private val mayBeEmpty = Set("set3_except")

  // Every output column is consumed, as Bench's hash does: count()
  // alone lets column pruning drop the projected expressions. With
  // codegen fallback off, generated code that fails to compile throws
  // here instead of silently running interpreted.
  test("every query runs, oracle keys ⊆ queries, and results are non-trivial") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    CodegenPaths.withConf("spark.sql.codegen.fallback" -> "false") {
      qs.foreach { case (name, fn) =>
        val df = fn(spark, sf)
        val n = df.select(count(lit(1)), bit_xor(xxhash64(struct(df.columns.map(col): _*))))
          .head().getLong(0) // allowlisted queries run for the not-throwing check only
        if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows on the smoke fixture")
      }
    }
  }
}
