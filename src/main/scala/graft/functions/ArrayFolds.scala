package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Small array folds replacing interpreted
  * `aggregate`/`transform`/`filter` HOF chains on corpus-sized streams
  * (optimization r14 — the LongMatchCount/CountIn/WordPairs pattern,
  * guide §"eliminate non-codegen expressions in the hot path"):
  *
  *  - [[idFold]] `id_fold(array<bigint>)` — the token-id wire fold
  *    `(acc * 1000003 + x) % 2^40` (seed 0) of tok1/tok2/tok4 and the
  *    streaming encode leg. Replaces `aggregate(ids, 0L, fold)`.
  *  - [[sumLong]] `array_sum_long(array<bigint>)` — Σ elements
  *    (seed 0). Replaces `aggregate(ns, 0L, _+_)` (tok4's token count).
  *  - [[sumStrLen]] `sum_strlen(array<string>)` — Σ character lengths.
  *    Replaces `aggregate(transform(words, length), 0L, _+_)` (ta2's
  *    word-length sum) without materializing the lengths array.
  *  - [[countEq]] `long_count_eq(array<bigint>, k)` — count of
  *    elements equal to a constant. Replaces
  *    `size(filter(ids, x => x === k))` (tok2's OOV count).
  *
  * Null semantics match the HOF forms they replace exactly: a null
  * ARRAY yields null (standard null propagation); for the folds a null
  * ELEMENT nulls the accumulator from its position onward (so the
  * result is null iff any element is null — `length(null)`, `acc +
  * null` and `(acc * m + null) % p` are all null and a null
  * accumulator stays null) — hence their boxed `java.lang.Long`
  * results; for the filter-count a null element simply doesn't count
  * (the HOF's predicate is null, the element is dropped). ArrayFoldsSpec
  * pins agreement with each built-in form on real corpus rows plus the
  * null/empty edges.
  */
object ArrayFolds {

  /** `(acc * MUL + x) % M40` left fold, seed 0; null means SQL NULL. */
  def idFold(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      acc = (acc * RkLsh.MUL + arr.getLong(i)) % RkLsh.M40
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  def sumLong(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      acc += arr.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Σ `length(w)` — `UTF8String.numChars`, the same code-point count
    * the built-in `length` returns for strings. */
  def sumStrLen(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      acc += arr.getUTF8String(i).numChars()
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  def countEq(arr: ArrayData, k: Long): Long = {
    val n = arr.numElements()
    var cnt = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && arr.getLong(i) == k) cnt += 1
      i += 1
    }
    cnt
  }
}
