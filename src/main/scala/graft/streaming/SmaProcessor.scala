package graft.streaming

import java.time.Instant
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.streaming._

/** One tick as the fold reads it: of the six columns the windows read,
  * the four the grouping key does not carry. The value fields are boxed
  * so SQL nulls reach the fold as nulls. */
final case class SmaTick(
    ts: Instant,
    vwap_price_per_sec: java.lang.Double,
    size_per_sec: java.lang.Long,
    real_or_filled: String)

/** The SMA's grouping key. */
final case class SmaKey(symbol: String, `type`: String)

/** One window's aggregate, all numeric: the columns `MaPipeline`'s gate
  * filter and output projection read. `emit_ts` is the emitting trigger's
  * batch time in a stream and null in a batch. */
final case class SmaWindow(
    symbol: String,
    `type`: String,
    sum_of_vwap: Double,
    count_of_vwap: Long,
    real_data_count: Long,
    filled_data_count: Long,
    min_ts: Instant,
    max_ts: Instant,
    window_data_count: Long,
    emit_ts: Instant)

/** A key's open windows as ONE state row, in window-start order: `longs`
  * holds [[SmaFold.Acc.Longs]] values per window (start, vwap count,
  * real, filled, min ts, max ts, row count; times in epoch micros),
  * `sums` its `sum_of_vwap`, and `timerMs` the key's event-time timer
  * ([[SmaFold.NoTimer]] when none is registered). */
final case class SmaPanes(longs: Array[Long], sums: Array[Double], timerMs: Long)

/** The per-key fold both input kinds share, with the semantics of the
  * `window()` + `groupBy` + `agg` plan it replaces:
  *
  *  - window assignment is Spark's `window()` formula: the last start is
  *    `ts - floorMod(ts, slide)`, earlier starts step back by `slide`, and
  *    a window keeps the tick when `start <= ts < start + size`;
  *  - `sum_of_vwap` adds the non-null `vwap_price_per_sec` of rows whose
  *    `size_per_sec` is non-null and non-zero, and `count_of_vwap` counts
  *    those rows (a null vwap still counts);
  *  - a null `real_or_filled` is neither real nor filled;
  *  - `window_data_count` counts every row. */
final class SmaFold(sizeUs: Long, slideUs: Long) {
  import SmaFold.Acc

  /** Open windows in start order; a tick's windows are almost always at
    * the end, so lookups scan from there. */
  private val open = ArrayBuffer.empty[Acc]

  def isEmpty: Boolean = open.isEmpty

  def load(p: SmaPanes): this.type = {
    for (i <- p.sums.indices)
      open += Acc(p.longs.slice(i * Acc.Longs, (i + 1) * Acc.Longs), p.sums(i))
    this
  }

  def panes(timerMs: Long): SmaPanes =
    SmaPanes(open.flatMap(_.longs).toArray, open.map(_.sum).toArray, timerMs)

  private def find(start: Long): Int = {
    var i = open.length - 1
    while (i >= 0 && open(i).start > start) i -= 1
    i
  }

  /** Adds `t` to each of its windows. */
  def add(t: SmaTick): Unit = {
    val ts = DateTimeUtils.instantToMicros(t.ts)
    var s = ts - Math.floorMod(ts, slideUs)
    while (s > ts - sizeUs) {
      val i = find(s)
      val a =
        if (i >= 0 && open(i).start == s) open(i)
        else { val n = new Acc(s); open.insert(i + 1, n); n }
      a.add(t, ts)
      s -= slideUs
    }
  }

  /** Removes and returns the windows whose end is at or before `wmUs`. */
  def close(wmUs: Long): Seq[Acc] = {
    val n = open.segmentLength(_.start + sizeUs <= wmUs)
    val closed = open.take(n).toSeq
    open.remove(0, n)
    closed
  }

  /** Windows a tick was added to since this fold was built or loaded. */
  def touched: Seq[Acc] = open.filter(_.touched).toSeq

  def all: Seq[Acc] = open.toSeq

  def minEnd: Long = open.head.start + sizeUs
  def maxEnd: Long = open.last.start + sizeUs
}

object SmaFold {
  val NoTimer: Long = Long.MinValue

  final class Acc(val start: Long) {
    var sum = 0.0
    var vwapCount = 0L
    var real = 0L
    var filled = 0L
    var minTs = Long.MaxValue
    var maxTs = Long.MinValue
    var count = 0L
    var touched = false

    def add(t: SmaTick, ts: Long): Unit = {
      val size = t.size_per_sec
      if (size != null && size.longValue != 0L) {
        vwapCount += 1
        if (t.vwap_price_per_sec != null) sum += t.vwap_price_per_sec.doubleValue
      }
      val rf = t.real_or_filled
      if (rf != null) { if (rf == "real") real += 1 else filled += 1 }
      if (ts < minTs) minTs = ts
      if (ts > maxTs) maxTs = ts
      count += 1
      touched = true
    }

    def row(key: SmaKey, emitTs: Instant): SmaWindow = SmaWindow(key.symbol, key.`type`, sum,
      vwapCount, real, filled, DateTimeUtils.microsToInstant(minTs),
      DateTimeUtils.microsToInstant(maxTs), count, emitTs)

    /** This window's values in the [[SmaPanes]] layout, but for its sum. */
    def longs: Array[Long] = Array(start, vwapCount, real, filled, minTs, maxTs, count)
  }

  object Acc {
    /** Values per window in [[SmaPanes]]'s `longs`. */
    val Longs = 7

    def apply(longs: Array[Long], sum: Double): Acc = {
      val a = new Acc(longs(0))
      a.vwapCount = longs(1); a.real = longs(2); a.filled = longs(3)
      a.minTs = longs(4); a.maxTs = longs(5); a.count = longs(6); a.sum = sum
      a
    }
  }

  /** A watermark passes a window end `endUs` once it reaches this many ms. */
  def timerFor(endUs: Long): Long = Math.floorDiv(endUs + 999L, 1000L)

  /** The batch form: every window of one key's ticks, each once. */
  def windows(sizeUs: Long, slideUs: Long)(key: SmaKey,
      ticks: Iterator[SmaTick]): Iterator[SmaWindow] = {
    val fold = new SmaFold(sizeUs, slideUs)
    ticks.foreach(fold.add)
    fold.all.iterator.map(_.row(key, null))
  }
}

/** The streaming form of [[SmaFold]] on `transformWithState` in event
  * time: one state row per (symbol, type) holds that key's open windows.
  *
  * The operator drops the ticks at or before the previous trigger's
  * watermark before this processor sees them; every window of a tick it
  * keeps ends after that watermark, so the tick joins all of them, as in
  * the replaced aggregate. Emission follows the query's output mode:
  * update emits the windows this trigger touched, then forgets those
  * this trigger's watermark has passed; append emits each window once,
  * in the trigger whose watermark passes its end.
  *
  * Each key has at most one event-time timer, registered when absent: at
  * the last open window end in update mode, where it only clears state,
  * and at the first in append mode, moved earlier when an out-of-order
  * tick opens an earlier window. When it fires it closes what the
  * watermark passed and is re-armed, or, once no window is open, clears
  * the key. A key whose timer the watermark has passed by the time its
  * next ticks arrive re-arms it then, so it does not also fire. */
class SmaProcessor(sizeUs: Long, slideUs: Long)
  extends StatefulProcessor[SmaKey, SmaTick, SmaWindow] {
  import SmaFold.{NoTimer, timerFor}
  import SmaProcessor.emitTs

  @transient private var state: ValueState[SmaPanes] = _
  @transient private var append = false

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    state = getHandle.getValueState[SmaPanes]("windows", SmaProcessor.panes, TTLConfig.NONE)
    append = outputMode == OutputMode.Append()
  }

  private def loaded(): (SmaFold, Long) = {
    val fold = new SmaFold(sizeUs, slideUs)
    Option(state.get()).fold((fold, NoTimer))(p => (fold.load(p), p.timerMs))
  }

  /** Stores `fold` with the key's timer, or clears the key once no window
    * is open. `timerMs` is the registered timer, kept unless it is absent,
    * already passed by the watermark `wmMs`, or, in append mode, later
    * than the first open window end. */
  private def store(fold: SmaFold, timerMs: Long, wmMs: Long): Unit =
    if (fold.isEmpty) {
      if (timerMs != NoTimer) getHandle.deleteTimer(timerMs)
      state.clear()
    } else {
      val want = timerFor(if (append) fold.minEnd else fold.maxEnd)
      val t =
        if (timerMs != NoTimer && timerMs > wmMs && !(append && want < timerMs)) timerMs
        else {
          if (timerMs != NoTimer) getHandle.deleteTimer(timerMs)
          getHandle.registerTimer(want)
          want
        }
      state.update(fold.panes(t))
    }

  override def handleInputRows(key: SmaKey, rows: Iterator[SmaTick],
      timerValues: TimerValues): Iterator[SmaWindow] = {
    val wmMs = timerValues.getCurrentWatermarkInMs()
    val (fold, timerMs) = loaded()
    rows.foreach(fold.add)
    val touched = fold.touched
    val closed = fold.close(wmMs * 1000L)
    store(fold, timerMs, wmMs)
    (if (append) closed else touched).iterator.map(_.row(key, emitTs(timerValues)))
  }

  override def handleExpiredTimer(key: SmaKey, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SmaWindow] = {
    val wmMs = timerValues.getCurrentWatermarkInMs()
    val (fold, _) = loaded()
    val closed = fold.close(wmMs * 1000L)
    store(fold, NoTimer, wmMs) // the fired timer is gone
    if (append) closed.iterator.map(_.row(key, emitTs(timerValues))) else Iterator.empty
  }
}

object SmaProcessor {
  /** The trigger's batch time, the value `current_timestamp()` takes in
    * that micro-batch: `transformWithState` passes it in every mode. */
  private def emitTs(t: TimerValues): Instant =
    Instant.ofEpochMilli(t.getCurrentProcessingTimeInMs())

  /** Built once per JVM: `Encoders.product` reflects on the class. */
  private lazy val panes = Encoders.product[SmaPanes]
}
