package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  /** One session for the whole test run; intentionally does NOT set the
    * nanosAsLong conf so tests prove Tables.events self-configures (the
    * driver's own session won't have it either). */
  lazy val spark: SparkSession = Harness.session()
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

  // Every output column is consumed (Harness.consume): count() alone
  // lets column pruning drop the projected expressions. With
  // codegen fallback off, generated code that fails to compile throws
  // here instead of silently running interpreted.
  test("every query runs, oracle keys ⊆ queries, and results are non-trivial") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    CodegenPaths.withConf("spark.sql.codegen.fallback" -> "false") {
      qs.foreach { case (name, fn) =>
        // allowlisted queries run for the not-throwing check only
        val (_, n, _) = Harness.consume(fn(spark, sf))
        if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows on the smoke fixture")
      }
    }
  }
}
