package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

object BandKeys {

  /** LSH band keys of a MinHash signature in one pass (`band_keys`):
    * the RK fold `(acc * MUL + x) % M40` of each `rows`-slice of the
    * signature, one key per band — the banding step of
    * `Dedup.rkBanded` (dd2/dd9/dc2/cur2, and cc2 through dd2's pairs).
    *
    * The built-in formulation
    * (`transform(sequence(0, bands-1), b => aggregate(slice(sig,
    * b*rows+1, rows), 0L, fold))`) evaluates BOTH lambdas through the
    * higher-order-function interpreter per BAND per document —
    * allocating a sequence, `bands` slices and `bands` fold closures
    * per row, the same per-row tax `long_match_count` removed from the
    * pair side (optimization r13/r14; guide §"eliminate non-codegen
    * expressions in the hot path"). This kernel emits the `bands`
    * keys in one linear pass over the signature.
    *
    * Semantics match the HOF formulation exactly on every reachable
    * input: fold order is low index first, a band whose slice starts
    * past the end of the signature folds nothing (key 0L — `slice`
    * returns an empty array and `aggregate` returns the seed), a short
    * final band folds the available prefix, and a null ELEMENT nulls
    * that band's key from its position onward (the HOF accumulator
    * goes null and stays null). The one deliberate difference: a null
    * signature ARRAY yields null (standard null propagation) where the
    * HOF form yields `bands` null keys — unreachable at every call
    * site because `minhash_sketch` emits a non-null array for every
    * group (BandKeysSpec pins both facts).
    */
  def compute(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val start = b * rows
      val end = math.min(n, start + rows)
      var acc = 0L
      var isNull = false
      var i = start
      while (i < end && !isNull) {
        if (sig.isNullAt(i)) isNull = true
        else acc = (acc * RkLsh.MUL + sig.getLong(i)) % RkLsh.M40
        i += 1
      }
      out(b) = if (isNull) null else java.lang.Long.valueOf(acc)
      b += 1
    }
    new GenericArrayData(out)
  }
}
