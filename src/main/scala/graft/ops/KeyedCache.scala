package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The one shape every model registry and probe memo in the engine
  * takes: a bounded LRU map from a string key to a value built by a
  * Spark job or two (trained quantizers and tokenizers, the served
  * corpus snapshot, skew-probe and pair-estimate memos).
  *
  * Three rules hold for every instance:
  *  - '''Build once per key.''' [[getOrBuild]] runs a miss's build
  *    outside the map lock, inside a per-key latch, and re-checks the
  *    map inside that latch: concurrent callers of the same key share
  *    one build, while a build blocks neither another key nor a hit.
  *  - '''Tables go with their entry.''' `tables` names the persisted
  *    frames an entry holds. When an entry leaves the map (LRU
  *    eviction past `max`, a displacing [[put]], [[clear]]) each of
  *    its tables is unpersisted, unless an entry still in the map holds
  *    a table whose plan `sameResult`s it (a deterministic retrain
  *    rebuilds the same plan, and Spark's cache holds one entry per
  *    plan).
  *  - '''One reuse rule.''' An entry is valid in every session of the
  *    SparkContext that built it: cached data lives in the context's
  *    shared state, and `foreachBatch` hands sinks a cloned session.
  *    An entry from another context reads as a miss, and the rebuild
  *    displaces it. */
private[graft] final class KeyedCache[V](max: Int,
    tables: V => Seq[DataFrame] = (_: V) => Nil) {
  private final class Entry(val sc: SparkContext, val value: V)
  private val entries = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
  /** per-key build latches with the number of threads holding or
    * waiting on each; a latch leaves the map with its last user */
  private val latches = scala.collection.mutable.HashMap.empty[String, (AnyRef, Int)]
  private val missCount = new java.util.concurrent.atomic.AtomicLong

  /** builds run by [[getOrBuild]] since this instance was created */
  def misses: Long = missCount.get

  def get(spark: SparkSession, key: String): Option[V] = synchronized {
    Option(entries.get(key)).filter(_.sc eq spark.sparkContext).map(_.value)
  }

  def getOrBuild(spark: SparkSession, key: String)(build: => V): V =
    get(spark, key).getOrElse(latched(key) {
      get(spark, key).getOrElse {
        missCount.incrementAndGet()
        val v = build
        put(spark, key, v)
        v
      }
    })

  /** build and install unconditionally (an explicit retrain), holding
    * the key's latch so a concurrent [[getOrBuild]] serves this build */
  def rebuild(spark: SparkSession, key: String)(build: => V): V =
    latched(key) { val v = build; put(spark, key, v); v }

  def put(spark: SparkSession, key: String, value: V): Unit = synchronized {
    val dropped = Option(entries.put(key, new Entry(spark.sparkContext, value))).toSeq ++
      (if (entries.size > max) {
        val eldest = entries.entrySet.iterator
        val e = eldest.next().getValue
        eldest.remove()
        Seq(e)
      } else Nil)
    unpersist(dropped)
  }

  def clear(): Unit = synchronized {
    val all = entries.values.asScala.toList
    entries.clear()
    unpersist(all)
  }

  /** a snapshot of the entries, least recently used first */
  def snapshot: Seq[(String, V)] = synchronized {
    entries.asScala.toList.map { case (k, e) => k -> e.value }
  }

  private def unpersist(dropped: Seq[Entry]): Unit = {
    val live = entries.values.asScala.toList.flatMap(e => tables(e.value))
    for (e <- dropped; t <- tables(e.value)) {
      try {
        val plan = t.queryExecution.analyzed
        if (!live.exists(_.queryExecution.analyzed.sameResult(plan))) t.unpersist(false)
      } catch { case _: Throwable => () } // a dead context's table
    }
  }

  private def latched[T](key: String)(body: => T): T = {
    val latch = synchronized {
      val (l, n) = latches.getOrElse(key, (new AnyRef, 0))
      latches(key) = (l, n + 1)
      l
    }
    try latch.synchronized(body)
    finally synchronized {
      val (l, n) = latches(key)
      if (n == 1) latches -= key else latches(key) = (l, n - 1)
    }
  }
}
