package graft

import org.apache.spark.sql.SparkSession

/** One `graft.*` session setting: its key, its static default (if it
  * has one) and the values it accepts. Each key is declared once, in
  * the module that reads it, and read only through it: on the driver,
  * at plan-build time, so closures capture the value. A malformed or
  * out-of-range value throws `IllegalArgumentException` naming the key,
  * the value and what the key accepts. The `SPARK_GRAFT_*` environment
  * variables and the Spark confs the engine sets are not settings. */
final class Setting[T] private (val key: String, defaultValue: Option[T],
    accepts: String, parse: String => Option[T]) {

  /** the static default (the value the oracle SQL bakes) */
  def default: T = defaultValue.getOrElse(
    throw new NoSuchElementException(s"$key has no static default"))

  /** the validated value, if the key is set */
  def get(spark: SparkSession): Option[T] =
    spark.conf.getOption(key).map(v => parse(v).getOrElse(
      throw new IllegalArgumentException(s"$key must be $accepts, got '$v'")))

  def apply(spark: SparkSession): T = get(spark).getOrElse(default)

  /** the validated value's text as set, `""` when unset: for callers
    * that use the unparsed text as identity (model keys and metadata) */
  def raw(spark: SparkSession): String = get(spark).fold("")(_ => spark.conf.get(key))
}

object Setting {

  def int(key: String, default: Option[Int], min: Int = Int.MinValue,
      max: Int = Int.MaxValue): Setting[Int] =
    numeric(key, default, "an int", _.toIntOption, min, max, Int.MinValue, Int.MaxValue)

  def long(key: String, default: Option[Long], min: Long = Long.MinValue,
      max: Long = Long.MaxValue): Setting[Long] =
    numeric(key, default, "a long", _.toLongOption, min, max, Long.MinValue, Long.MaxValue)

  def double(key: String, default: Option[Double], min: Double = Double.NegativeInfinity,
      max: Double = Double.PositiveInfinity): Setting[Double] =
    numeric(key, default, "a double", _.toDoubleOption, min, max,
      Double.NegativeInfinity, Double.PositiveInfinity)(Ordering.Double.IeeeOrdering)

  /** one of `values`; the first is the default */
  def choice(key: String, values: String*): Setting[String] =
    new Setting(key, values.headOption, values.mkString("one of ", "|", ""),
      Some(_).filter(values.contains))

  /** `lo`/`hi` are the type's extremes: a bound left at one is no bound,
    * so an unbounded double accepts every parseable value, NaN too */
  private def numeric[T](key: String, default: Option[T], kind: String,
      parse: String => Option[T], min: T, max: T, lo: T, hi: T)(
      implicit ord: Ordering[T]): Setting[T] = {
    val range = (min != lo, max != hi) match {
      case (true, true) => s" in [$min, $max]"
      case (true, false) => s" >= $min"
      case (false, true) => s" <= $max"
      case _ => ""
    }
    new Setting(key, default, kind + range, parse(_).filter(v =>
      range.isEmpty || ord.gteq(v, min) && ord.lteq(v, max)))
  }
}
