package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

object WordChunks {

  private val SEP = UTF8String.fromString(" ")

  /** Non-overlapping fixed-`k`-word chunk strings of a tokenized
    * document in one pass (`word_chunks`) — dd6's chunking unit.
    *
    * The built-in formulation
    * (`transform(sequence(0, nc-1), i -> array_join(slice(w, i*k+1, k), " "))`)
    * evaluates its lambda through the higher-order-function interpreter
    * per CHUNK, allocating a sequence and one slice array per chunk per
    * document (optimization r14 — the WordPairs class). This kernel
    * emits the ceil(n/k) chunk strings in one linear pass with no
    * intermediate arrays.
    *
    * Semantics match the HOF chain exactly on every reachable input:
    * the last chunk joins the remaining < k words; null ELEMENTS are
    * skipped with no separator (array_join's contract — unreachable,
    * split() emits none); a null ARRAY yields null. The HOF's nc
    * arithmetic never sees n = 0 (split of a non-null string returns at
    * least [""]), so chunk count is always ≥ 1 — reproduced as
    * ceil(n/k) with the same floor-division arithmetic.
    */
  def compute(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    val nc = (n + k - 1) / k
    val out = new Array[Any](nc)
    var c = 0
    while (c < nc) {
      val start = c * k
      val end = math.min(n, start + k)
      var joined: UTF8String = null
      var i = start
      while (i < end) {
        if (!words.isNullAt(i)) {
          val w = words.getUTF8String(i)
          joined = if (joined == null) w else UTF8String.concat(joined, SEP, w)
        }
        i += 1
      }
      out(c) = if (joined == null) UTF8String.EMPTY_UTF8 else joined
      c += 1
    }
    new GenericArrayData(out)
  }
}
