package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  import TestSpark._

  test("the test session carries the harness profile") {
    val c = spark.conf
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(c.get("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
    assert(c.get("spark.sql.files.maxPartitionBytes") == "256k")
    assert(c.get("spark.sql.files.openCostInBytes") == "64k")
    val cores = """local\[(\d+)\]""".r
    val cores(n) = spark.sparkContext.master
    assert(n.toInt == Harness.cpus)
    assert(c.get("spark.sql.shuffle.partitions") == n)
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  private val rows = spark.range(0, 1000)
    .selectExpr("id", "cast(id % 13 as string) s", "id * 0.5 d")

  test("consume: the same rows give the same fingerprint and count at 1 and 7 partitions") {
    val (fp1, n1, _) = Harness.consume(rows.repartition(1))
    val (fp7, n7, _) = Harness.consume(rows.repartition(7))
    assert(n1 == 1000 && n7 == 1000)
    assert(fp1 == fp7)
    assert(fp1 != 0L)
  }

  test("consume: one changed cell moves the fingerprint; null cells and empty frames") {
    val (fp, _, _) = Harness.consume(rows)
    val (fpCell, nCell, _) = Harness.consume(rows.selectExpr("id", "if(id = 42, 'x', s) s", "d"))
    assert(nCell == 1000 && fpCell != fp)
    val (fpNull, nNull, _) = Harness.consume(rows.selectExpr("id", "if(id = 42, null, s) s", "d"))
    assert(nNull == 1000 && fpNull != fp && fpNull != fpCell)
    val (fpAllNull, nAllNull, _) = Harness.consume(rows.selectExpr("id", "cast(null as string) s"))
    assert(nAllNull == 1000)
    assert(Harness.consume(rows.selectExpr("id", "cast(null as string) s").repartition(3))._1 == fpAllNull)
    val (fpEmpty, nEmpty, _) = Harness.consume(rows.filter("id < 0"))
    assert(fpEmpty == 0L && nEmpty == 0L)
  }

  test("confOverrides sets k=v segments, skips a segment without '=' loudly, ignores empty ones") {
    val s = spark.newSession()
    val err = new ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new PrintStream(err, true))
    try Harness.confOverrides(s, "spec", "a=1;;b=x=y;c")
    finally System.setErr(saved)
    assert(s.conf.get("a") == "1")
    assert(s.conf.get("b") == "x=y")
    assert(s.conf.getOption("c").isEmpty)
    val logged = err.toString.linesIterator.filter(_.startsWith("[spec]")).toSeq
    assert(logged == Seq("[spec] conf a=1", "[spec] conf b=x=y",
      "[spec] ignoring malformed SPARK_GRAFT_CONF segment 'c' (expected k=v)"))
  }
}
