package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

object SpanCover {

  /** Union length of the intervals `[p, min(p + k, nt))` over a SORTED
    * position array (`span_cover`) — dd8's duplicated-token coverage
    * count, in one pass.
    *
    * The HOF formulation it replaces —
    * {{{aggregate(ps, struct(cov 0L, cur 0L), (a, p) -> struct(
    *    a.cov + greatest(0, least(p+k, nt) - greatest(p, a.cur)),
    *    greatest(a.cur, least(p+k, nt))), a -> a.cov)}}}
    * — allocated a fresh 2-field struct per POSITION through the
    * higher-order-function interpreter; on the replica-heavy fixture
    * nearly every position of a duplicated document is in `ps`, so the
    * fold runs at token-stream cardinality (optimization r14, the same
    * class as LongMatchCount/BandKeys).
    *
    * Sweep arithmetic is identical: cov += max(0, min(p+k, nt) −
    * max(p, cur)); cur = max(cur, min(p+k, nt)). Null inputs (array or
    * nt) are null by standard propagation; a null ELEMENT returns null —
    * unreachable at the call site because `ps` is
    * `array_sort(collect_list(...))` and collect_list never emits nulls
    * (the HOF's behavior on that input is a greatest/least null-skip
    * accident nobody should preserve; ArrayFoldsSpec pins agreement on
    * every reachable input). */
  def compute(ps: ArrayData, nt: Long, k: Int): java.lang.Long = {
    val n = ps.numElements()
    var cov = 0L
    var cur = 0L
    var i = 0
    while (i < n) {
      if (ps.isNullAt(i)) return null
      val p = ps.getLong(i)
      val end = math.min(p + k, nt)
      val start = math.max(p, cur)
      if (end > start) cov += end - start
      if (end > cur) cur = end
      i += 1
    }
    java.lang.Long.valueOf(cov)
  }
}
