package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

object CountIn {

  /** Count of elements of `w` (array<string>) that appear in `m`
    * (array<string>) (`count_in`) — the stopword/marker/top-vocab hit
    * counter.
    *
    * The built-in formulation (`size(filter(w, x => x.isin(markers)))`
    * in ta1/ta2/the curation gate, `size(filter(w, x =>
    * array_contains(tl, x)))` in ta6) evaluates the filter lambda
    * through the higher-order-function interpreter — per TOKEN, times
    * the member list's length (ta6: 64 comparisons per token,
    * interpreted). This kernel is the same nested loop in one call:
    * for the short marker lists, a handful of UTF8String compares per
    * token.
    *
    * Semantics match both built-in forms exactly: a null ELEMENT of
    * `w` never counts (isin/array_contains yield null → filter
    * drops); null elements of `m` match nothing; a null ARRAY on
    * either side yields null (standard null propagation). Occurrences
    * count per position — no dedup. */
  def compute(w: ArrayData, m: ArrayData): Long = {
    val n = w.numElements()
    val k = m.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!w.isNullAt(i)) {
        val x = w.getUTF8String(i)
        var j = 0
        var hit = false
        while (!hit && j < k) {
          if (!m.isNullAt(j) && x.equals(m.getUTF8String(j))) hit = true
          j += 1
        }
        if (hit) acc += 1L
      }
      i += 1
    }
    acc
  }
}
