package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{KeyedCache, Model, Similarity, TextOps}

/** The shared model state under concurrency: [[KeyedCache]]'s per-key
  * build latches, its table hook and its reuse rule, and
  * [[Model]]'s query-owned pins. */
class ModelCacheSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  private def resetAll(): Unit = {
    Similarity.resetModelRegistry()
    TextOps.resetModelRegistry()
  }

  /** run each body on its own thread, all released at once */
  private def concurrently[T](bodies: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(bodies.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val go = new CountDownLatch(1)
    try {
      val fs = bodies.map(b => Future { go.await(); b() })
      go.countDown()
      Await.result(Future.sequence(fs), 5.minutes)
    } finally pool.shutdown()
  }

  private val queries: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] = Seq(
    "sim6" -> Similarity.sim6IvfPqTopK,
    "ir3" -> Similarity.ir3HybridRrfIvfpq,
    "tok4" -> TextOps.tok4BpeEncode,
    "lm1" -> TextOps.lm1BigramCoherence)

  test("sim6, ir3, tok4 and lm1 at once on a cleared registry: serial rows, IVF, PQ and BPE built once") {
    resetAll()
    val serial = queries.map { case (n, q) =>
      try n -> rows(q(spark, sf)) finally Model.release()
    }
    resetAll()
    val before = (Similarity.ivfCache.misses, Similarity.pqCache.misses, TextOps.bpeCache.misses)
    val parallel = concurrently(queries.map { case (n, q) =>
      () => try n -> rows(q(spark, sf)) finally Model.release()
    })
    val after = (Similarity.ivfCache.misses, Similarity.pqCache.misses, TextOps.bpeCache.misses)
    for (((n, s), (_, p)) <- serial.zip(parallel)) assert(p === s, s"$n rows differ")
    assert(after._1 - before._1 === 1, "IVF builds")
    assert(after._2 - before._2 === 1, "PQ builds")
    assert(after._3 - before._3 === 1, "BPE builds")
  }

  test("one query's release keeps the pins another query still holds") {
    val shared = spark.range(0, 1013).toDF("x")
    val own = spark.range(0, 1019).toDF("x")
    val gate = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val holder = new Thread(() => {
      Model.pin(shared)
      gate.countDown()
      done.await()
      Model.release()
    })
    holder.start()
    try {
      assert(gate.await(60, TimeUnit.SECONDS))
      // the plan is already cached: this pin still takes a reference
      Model.pin(spark.range(0, 1013).toDF("x"))
      Model.pin(own)
      Model.release()
      assert(cached(shared), "another query's pin was unpersisted")
      assert(!cached(own), "this query's own pin survived its release")
      // a release from a thread that holds nothing drops nothing
      concurrently(Seq(() => Model.release()))
      assert(cached(shared))
    } finally {
      done.countDown()
      holder.join(60000)
    }
    assert(!cached(shared), "the last reference's release must unpersist")
  }

  test("a build blocked on one key blocks neither another key nor a hit") {
    val cache = new KeyedCache[Int](4)
    cache.put(spark, "hit", 1)
    val entered = new CountDownLatch(1)
    val unblock = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val slow = Future(cache.getOrBuild(spark, "slow") { entered.countDown(); unblock.await(); 2 })
      assert(entered.await(60, TimeUnit.SECONDS))
      val same = Future(cache.getOrBuild(spark, "slow")(99))
      // while "slow" builds: another key builds and a hit is served
      assert(Await.result(Future(cache.getOrBuild(spark, "other")(3)), 10.seconds) === 3)
      assert(Await.result(Future(cache.getOrBuild(spark, "hit")(-1)), 10.seconds) === 1)
      assert(!same.isCompleted, "a second caller of a building key must wait for it")
      unblock.countDown()
      assert(Await.result(slow, 10.seconds) === 2)
      assert(Await.result(same, 10.seconds) === 2, "the waiter must reuse the first build")
      assert(cache.misses === 2) // "slow" and "other"
    } finally { unblock.countDown(); pool.shutdown() }
  }

  test("eviction, a displacing put and clear each unpersist the old entry's tables") {
    def table(n: Int) = { val d = spark.range(0, n).toDF("x").persist(); d.count(); d }
    val cache = new KeyedCache[DataFrame](2, d => Seq(d))
    val Seq(a, b, c, d) = Seq(2011, 2017, 2027, 2029).map(table)
    cache.put(spark, "a", a); cache.put(spark, "b", b)
    cache.put(spark, "c", c) // over the bound of 2: evicts a
    assert(!cached(a) && cached(b) && cached(c))
    cache.put(spark, "b", d) // displaces b
    assert(!cached(b) && cached(d))
    cache.clear()
    assert(!cached(c) && !cached(d))

    // the two-level IVF fine matrix: an install over an existing key
    // drops the displaced matrix, and reset drops the last one
    val key = "/model-cache-spec/two-level"
    val coarse = Array(Seq(1L, 0L))
    val m1 = spark.range(0, 3).selectExpr("id AS cell1", "array(array(1.0D)) AS mat")
    val m2 = spark.range(0, 4).selectExpr("id AS cell1", "array(array(1.0D)) AS mat")
    try {
      Similarity.installTwoLevelIvf(spark, key, 1, 1, coarse, m1)
      assert(cached(m1))
      Similarity.installTwoLevelIvf(spark, key, 1, 1, coarse, m2)
      assert(!cached(m1), "a displacing install leaked the old fine matrix")
      assert(cached(m2))
    } finally Similarity.resetModelRegistry()
    assert(!cached(m2))
  }

  test("a displacing put whose plan sameResults the old one keeps the table") {
    val cache = new KeyedCache[DataFrame](4, d => Seq(d))
    val first = spark.range(0, 2039).toDF("x").persist()
    first.count()
    val again = spark.range(0, 2039).toDF("x") // the same plan, rebuilt
    cache.put(spark, "k", first)
    cache.put(spark, "k", again)
    assert(cached(again))
    cache.clear()
    assert(!cached(again))

    // tok3 retrains deterministically over the registered model
    TextOps.resetModelRegistry()
    TextOps.tok3BpeTrain(spark, sf).collect()
    TextOps.tok3BpeTrain(spark, sf).collect()
    val subs = TextOps.exportBpeModel(spark, sf)._2
    assert(cached(subs), "tok3's retrain unpersisted the table it re-registered")
  }

  test("an entry is valid in every session of its context") {
    TextOps.resetModelRegistry()
    val built = rows(TextOps.tok4BpeEncode(spark, sf))
    Model.release()
    val misses = TextOps.bpeCache.misses
    val clone = spark.newSession()
    val reused = try rows(TextOps.tok4BpeEncode(clone, sf)) finally Model.release()
    assert(reused === built)
    assert(TextOps.bpeCache.misses === misses, "a new session of the same context retrained BPE")
  }
}
