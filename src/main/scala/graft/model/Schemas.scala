package graft.model

import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Wire schemas of the reference's Kafka topics, re-expressed as Spark
  * case classes + StructTypes.
  *
  * Reference: `faust_app/ma_agg.py:6-20` (StockData, input topic
  * `kafka_per_sec_data`) and `ma_agg.py:22-34` (AggregatedData, output
  * topic `kafka_MA_data_aggregated`). All timestamps travel as ISO-8601
  * strings on the wire (`ma_agg.py:9-12`) and are parsed at use sites
  * (`ma_agg.py:87`); we parse once at ingest to TimestampType and
  * re-serialize at egress, with the session pinned to UTC (mirrors
  * `to_utc`, `ma_agg.py:46-47`).
  */
final case class StockData(
    symbol: String,
    `type`: String,
    start: String,
    end: String,
    current_time: String,
    last_data_time: String,
    real_data_count: Long,
    filled_data_count: Long,
    real_or_filled: String,
    vwap_price_per_sec: Double,
    size_per_sec: Long,
    volume_till_now: Double,
    yesterday_price: Double,
    price_change_percentage: Double)

/** Output record of the moving-average job (`ma_agg.py:22-34`). */
final case class AggregatedData(
    symbol: String,
    `type`: String,
    MA_type: String,
    start: String,
    end: String,
    current_time: String,
    sma_value: Double,
    sum_of_vwap: Double,
    count_of_vwap: Long,
    window_data_count: Long,
    real_data_count: Long,
    filled_data_count: Long)

object Schemas {
  /** Explicit wire schema for `from_json` — never infer on a stream. */
  val stockData: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("type", StringType),
    StructField("start", StringType),
    StructField("end", StringType),
    StructField("current_time", StringType),
    StructField("last_data_time", StringType),
    StructField("real_data_count", LongType),
    StructField("filled_data_count", LongType),
    StructField("real_or_filled", StringType),
    StructField("vwap_price_per_sec", DoubleType),
    StructField("size_per_sec", LongType),
    StructField("volume_till_now", DoubleType),
    StructField("yesterday_price", DoubleType),
    StructField("price_change_percentage", DoubleType)))

  /** JSON bytes/string -> typed columns (S2, `ma_agg.py:40`). */
  def parseStockJson(jsonCol: Column): Column = from_json(jsonCol, stockData)

  /** Typed row -> JSON string for the Kafka sink (S3, `ma_agg.py:78`). */
  def toWireJson(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col).toSeq: _*)).as("value"))
}
