package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Setting]]'s contract, one row per constructor: unset reads the
  * default, a valid value parses, and a malformed or out-of-range value
  * throws `IllegalArgumentException` naming the key (and, out of range,
  * the range). Each row runs in its own child session, so no key leaks
  * into other suites. */
class SettingSpec extends AnyFunSuite {
  import TestSpark._

  private case class Row(setting: Setting[_], default: Any, valid: String,
      parsed: Any, malformed: String, outOfRange: String, range: String)

  private val rows = Seq(
    Row(Setting.int("graft.spec.int", Some(4), min = 1), 4, "7", 7, "seven", "0", ">= 1"),
    Row(Setting.long("graft.spec.long", Some(1L << 40), max = 1L << 50), 1L << 40,
      "123456789012", 123456789012L, "12k", (1L << 51).toString, s"<= ${1L << 50}"),
    Row(Setting.double("graft.spec.double", Some(0.05), min = 0.0, max = 1.0), 0.05,
      "0.5", 0.5, "half", "1.5", "in [0.0, 1.0]"),
    Row(Setting.choice("graft.spec.choice", "warn", "fail", "off"), "warn",
      "off", "off", "", "loud", "one of warn|fail|off"))

  private def rejects(row: Row, value: String): String = {
    val s = spark.newSession()
    s.conf.set(row.setting.key, value)
    val e = intercept[IllegalArgumentException](row.setting(s))
    assert(e.getMessage.contains(row.setting.key), e.getMessage)
    assert(e.getMessage.contains(s"'$value'"), e.getMessage)
    e.getMessage
  }

  for (row <- rows) test(s"${row.setting.key}: default, valid, malformed, out of range") {
    val s = spark.newSession()
    assert(row.setting(s) == row.default)
    assert(row.setting.get(s).isEmpty)
    assert(row.setting.raw(s) == "")
    s.conf.set(row.setting.key, row.valid)
    assert(row.setting(s) == row.parsed)
    assert(row.setting.get(s).contains(row.parsed))
    assert(row.setting.raw(s) == row.valid)
    rejects(row, row.malformed)
    val msg = rejects(row, row.outOfRange)
    assert(msg.contains(row.range), msg)
  }

  test("a bound left at the type's extreme is no bound; a key without a default has none") {
    val s = spark.newSession()
    val free = Setting.double("graft.spec.free", Some(0.1))
    s.conf.set(free.key, "NaN")
    assert(free(s).isNaN)
    s.conf.set(free.key, "-1e300")
    assert(free(s) == -1e300)
    val noDefault = Setting.int("graft.spec.nodefault", None, min = 1)
    assert(noDefault.get(s).isEmpty)
    intercept[NoSuchElementException](noDefault(s))
    s.conf.set(noDefault.key, "3")
    assert(noDefault(s) == 3)
    // a bounded double refuses NaN: it compares false with every bound
    val bounded = Setting.double("graft.spec.bounded", Some(0.1), max = 1.0)
    s.conf.set(bounded.key, "NaN")
    intercept[IllegalArgumentException](bounded(s))
  }
}
