package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables at /root/testdata/sf*.
  *
  * Scale posture: these are plain parquet scans — Catalyst pushes filters
  * and prunes columns into the scan, so every query built on top of them
  * keeps `PushedFilters`/`ReadSchema` tight. On a real cluster the same
  * code reads a partitioned table; nothing here is local-mode-specific.
  *
  * A table's parquet schema is inferred on its path's first read in the
  * JVM and reused after that: inference is a one-task Spark job, which
  * every query would otherwise pay once per table it reads. A table
  * read through here must therefore not be rewritten under the same
  * path within one JVM.
  */
object Tables {
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** `path` read with its memoized schema. A missing entry is inferred
    * outside any lock, so no Spark job runs under one; two first reads
    * of a path may both infer it, and both get the same schema. */
  private def parquet(spark: SparkSession, path: String): DataFrame =
    Option(schemas.get(path)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.putIfAbsent(path, df.schema)
        df
    }

  /** The events table's `ts` has shipped in two physical shapes across
    * driver testdata generations: INT64 TIMESTAMP(NANOS) (which Spark's
    * parquet reader rejects by default — read as raw nanos via the
    * legacy conf and truncate to micros ourselves, the exact truncation
    * DuckDB applies to the same file) and plain TIMESTAMP micros (read
    * as TIMESTAMP_NTZ — cast to session-TZ TimestampType, a micros
    * identity under the UTC sessions every entrypoint pins, so all
    * downstream window/compare code sees one type). Dispatch on the
    * actual file schema so both generations load identically; DuckDB's
    * side is the same conditional in tools/oracle_check.py.
    * The conf is a runtime SQLConf, set here so any session (including
    * the driver's own) can load the table.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→TimestampType cast below is a micros identity ONLY under a
    // UTC session. Repo entrypoints already pin UTC, but this loader is
    // documented as callable from any session (including the driver's),
    // so pin it here too — same self-configuring pattern as nanosAsLong.
    // The pin is a SESSION-wide side effect: warn when it actually
    // overrides a caller's non-UTC choice instead of silently replacing
    // it, so a session intentionally running in another zone can see why
    // its timestamp rendering changed after loading events.
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    if (prevTz != "UTC")
      System.err.println(s"[graft] Tables.events: overriding session timeZone '$prevTz' -> UTC (required for the NTZ ts cast)")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = parquet(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** Scale-frontier testing seam for the DECLARED-QUADRATIC oracle
    * twins (cc1/dd4/dd5): when set, documents and embeddings are
    * truncated to ids below the cap. The quadratic twins are O(N²) by
    * role, so an uncapped sf1 oracle run never terminates in DuckDB;
    * capping the corpus on BOTH engines (oracle_check.py --id-cap
    * builds identically filtered views) gives them a real correctness
    * check at the scale frontier instead of an exclusion. The filter is
    * an id predicate on the scan (pushed down), so capped runs still
    * exercise sf1's multi-file layout and wide-id space. NEVER set in
    * production paths — Verify wires it from SPARK_GRAFT_ID_CAP only. */
  val IdCap = Setting.long("graft.tables.idCap", None, min = 1)

  private def capped(spark: SparkSession, df: DataFrame, idCol: String): DataFrame =
    IdCap.get(spark).fold(df)(cap => df.filter(col(idCol) < cap))

  def documents(spark: SparkSession, dir: String): DataFrame =
    capped(spark, table(spark, dir, "documents"), "doc_id")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    capped(spark, table(spark, dir, "embeddings"), "vec_id")
}
