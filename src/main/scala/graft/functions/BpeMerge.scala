package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

object BpeMerge {

  /** One BPE merge `(l, r) → merged` (`merged` = l+r, built once when
    * the call is planned) applied to a symbol array in a single pass
    * (`bpe_merge`) — greedy left-to-right NON-OVERLAPPING merging with
    * the restart rule (`[a,a,a,a]` merging `(a,a)` → `[aa,aa]`), exactly
    * the semantics of `TextOps.bpeMergeFold`'s `aggregate` formulation,
    * which this replaces (tok3's training iterations and the streaming
    * encode leg's per-word merge chains).
    *
    * The HOF fold it replaces is interpreted AND quadratic in symbol
    * count: every step allocates `concat(acc, array(x))` — a fresh
    * accumulator array per element — so one merge over an L-symbol word
    * costs O(L²) allocations, and the streaming encoder chains 8 merges
    * per word inside a per-word `transform`. This kernel is one linear
    * scan with a single output allocation.
    *
    * Equivalence argument (BpeSpec pins it against the imperative
    * reference, ArrayFoldsSpec against the HOF form itself): the fold
    * appends each symbol unless the accumulator's LAST symbol equals `l`
    * and the incoming one equals `r`, in which case the tail is
    * rewritten to `l+r`; this loop performs the identical comparison on
    * the identical values, including the case `merged == l` (possible
    * only for empty `r`, which real merge tables never produce — and
    * handled identically anyway since both forms compare the rewritten
    * tail). A null ELEMENT never matches (`null === l` is null, the HOF
    * takes the otherwise-branch and appends) — reproduced here by
    * treating null as non-matching; a null ARRAY yields null on both
    * forms. */
  def compute(syms: ArrayData, l: UTF8String, r: UTF8String,
      merged: UTF8String): ArrayData = {
    val n = syms.numElements()
    val out = new Array[Any](n)
    var k = 0
    var i = 0
    while (i < n) {
      val x: UTF8String = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      if (k > 0 && x != null && x.equals(r) &&
          out(k - 1) != null && out(k - 1).asInstanceOf[UTF8String].equals(l)) {
        out(k - 1) = merged
      } else {
        out(k) = x
        k += 1
      }
      i += 1
    }
    new GenericArrayData(if (k == n) out else out.take(k))
  }
}
