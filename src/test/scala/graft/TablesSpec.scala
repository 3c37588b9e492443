package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  import TestSpark._

  /** The jobs `body` starts on this thread, in order: each job's
    * `Tag` property, read by a listener. A marker job run after `body`
    * shows that the listener has seen every job `body` started. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val Tag = "graft.tablesSpec"
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, "body")
      body
      sc.setLocalProperty(Tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .takeWhile(t => t != null && t != "marker").toList
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a table's second read starts no schema job and plans the same relation") {
    val first = Tables.embeddings(spark, sf)
    assert(jobsOf(Tables.embeddings(spark, sf)).isEmpty)
    val second = Tables.embeddings(spark, sf)
    assert(second.schema == first.schema && second.sameSemantics(first))
  }

  test("events sets nanosAsLong before every read, also with its schema known") {
    val Nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val first = Tables.events(spark, sf).collect()
    spark.conf.unset(Nanos)
    assert(jobsOf(Tables.events(spark, sf)).isEmpty)
    assert(spark.conf.get(Nanos) == "true")
    assert(Tables.events(spark, sf).collect().toSeq == first.toSeq)
  }
}
