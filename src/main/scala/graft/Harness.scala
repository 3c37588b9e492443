package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}

/** The one place the entry-point mains and the test session get their
  * SparkSession, their result consume, their `SPARK_GRAFT_CONF`
  * overrides and their timing from. A main sets after [[session]] only
  * what it alone needs. */
object Harness {

  /** Cores of the local master: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees. Artifacts record it: cross-artifact reads are only valid
    * at matched parallelism (SCALE.md, "core count is part of the
    * artifact's identity"). Lazy, so a bad value throws where it is
    * read, not in this object's initializer. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(
    Runtime.getRuntime.availableProcessors)(parseCpus)

  private[graft] def parseCpus(v: String): Int = v.toIntOption.filter(_ >= 1)
    .getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be an int >= 1, got '$v'"))

  /** The session every entry point runs with: `local[cpus]`, one shuffle
    * partition per core, UTC, no UI, the RocksDB state store with
    * changelog checkpointing; warmed up so the first measured query does
    * not absorb session startup. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // scan-partition sizing for THIS environment (the knob SCALE.md's
      // cluster template sets to 128-256m for TB inputs): the test SFs
      // are ~10 MB/table, so the defaults (128m + 4m open cost) pack
      // every file into 1-2 scan tasks and serialize the scan stage of
      // every query regardless of core count. Sized so a 32-file sf1
      // table fans out to ~one task per core. (Single-file driver SFs
      // are 1 row group and cannot fan out either way.)
      .config("spark.sql.files.maxPartitionBytes", "256k")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // transformWithState requires the RocksDB state store provider —
      // also the provider we'd run with on a real cluster
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing: commit the batch's delta to the
      // checkpoint instead of a full SST snapshot per partition per
      // batch — the production RocksDB deployment shape (snapshots
      // still happen, in the background maintenance thread)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up the JVM/codegen caches so the first timed query doesn't
    // absorb session startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark
  }

  /** Consume a query result in a way that forces EVERY output column to
    * be computed: hash the full row struct and fold the hashes. A bare
    * `count()` lets Catalyst prune unreferenced columns, so
    * projection-only queries (p1, f11, f12, ta3, …) would be timed with
    * the very expressions they exercise optimized away. bit_xor (not
    * sum) folds the hashes: ANSI mode makes a sum of 64-bit hashes
    * overflow. Returns the fingerprint (0 for no rows), the row count
    * and the executed plan, whose AQE choices are final after the run. */
  def consume(df: DataFrame): (Long, Long, SparkPlan) = {
    val c = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(bit_xor(col("h")), count(lit(1)))
    val r = c.collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1), c.queryExecution.executedPlan)
  }

  /** Sets the session confs of `SPARK_GRAFT_CONF="k=v;k=v"` (e.g.
    * graft.ivf.maxK to force the two-level IVF regime), logging each
    * under `[tag]`. */
  def confOverrides(spark: SparkSession, tag: String,
      spec: String = sys.env.getOrElse("SPARK_GRAFT_CONF", "")): Unit =
    spec.split(";").filter(_.nonEmpty).foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          System.err.println(s"[$tag] conf $k=$v")
          spark.conf.set(k, v)
        case _ =>
          // a segment without '=' (e.g. a trailing "k1=v1;k2") must not
          // kill the run, nor vanish unseen — skip loudly
          System.err.println(s"[$tag] ignoring malformed SPARK_GRAFT_CONF segment '$kv' (expected k=v)")
      }
    }

  /** Runs `body` `reps` times back to back after one settle, returning
    * each run's result and seconds. The settle (a full GC, then 200 ms)
    * is not counted: a large join's garbage + deoptimization churn
    * otherwise bleeds into the NEXT measurement — at sf1 a post-dd3
    * p2_filter_nonzero measured 280 s cold vs 6 s after a GC+settle, a
    * 40x phantom. Standard harness hygiene (JMH does the same between
    * iterations). */
  def timed[A](reps: Int)(body: => A): Seq[(A, Double)] = {
    System.gc()
    Thread.sleep(200)
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
  }
}
