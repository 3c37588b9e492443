package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Rabin–Karp rolling-hash fingerprint of a tokenized document:
  * returns `[min_hash, full_hash]` (`rolling_hash`) where
  *
  *  - word hash  = fold over the word's char codes: (h·31 + c) mod 2^40
  *  - shingle    = fold over a k-word window's word hashes:
  *                 (h·1000003 + wh) mod 2^40, windows i ∈ [0, max(n−k, 0)]
  *                 with the final windows clamped at the array end
  *  - min_hash   = min over shingle folds (winnowing anchor)
  *  - full_hash  = the same fold over ALL word hashes
  *
  * This is arithmetic-identical to the `transform`/`aggregate` Column
  * formulation it replaces (and to the DuckDB oracle's
  * list_reduce/list_transform mirror — ta5 stays fully oracle-checked);
  * the point of the kernel is evaluation cost: higher-order
  * functions run their lambdas interpreted, and the per-character inner
  * fold made ta5 one of the most expensive linear scans in the suite
  * (6.9 s at sf1). Here the same folds run as one compiled pass.
  *
  * Chars hash by Java char code — identical to `ascii()` for the
  * single-byte text this corpus guarantees; documents with astral-plane
  * code points would need code-point iteration on both engines.
  */
object RollingHashFp {
  import RkLsh.{M40, MUL}

  def compute(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    val wh = new Array[Long](n)
    var i = 0
    while (i < n) { wh(i) = RkShingleHashes.wordHash(words.getUTF8String(i)); i += 1 }
    var full = 0L
    i = 0
    while (i < n) { full = (full * MUL + wh(i)) % M40; i += 1 }
    val m = math.max(n - k, 0) // windows 0..m inclusive
    var minH = Long.MaxValue
    i = 0
    while (i <= m) {
      var h = 0L
      var j = i
      val e = math.min(i + k, n) // slice clamps at the array end
      while (j < e) { h = (h * MUL + wh(j)) % M40; j += 1 }
      if (h < minH) minH = h
      i += 1
    }
    if (n == 0) minH = 0L // fold of an empty slice is the init value
    new GenericArrayData(Array(minH, full))
  }
}
