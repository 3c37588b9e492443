package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

object ShingleHashes {

  private final val MIX1 = 0xFF51AFD7ED558CCDL
  private final val MIX2 = 0xC4CEB9FE1A85EC53L
  private final val GOLDEN = 0x9E3779B97F4A7C15L

  private def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= MIX1; x ^= x >>> 33; x *= MIX2; x ^= x >>> 33
    x
  }

  /** 64-bit FNV-1a over the word's UTF-8 bytes, finalized with an
    * avalanche mix (FNV alone is weak in the high bits). */
  private def wordHash(s: UTF8String): Long = {
    val b = s.getBytes
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xFF).toLong; h *= 0x100000001B3L; i += 1 }
    mix(h)
  }

  /** Distinct word-`k`-gram shingle hashes of a tokenized document, in
    * one pass (`shingle_hashes`).
    *
    * The built-in formulation
    * `array_distinct(transform(sequence(1, greatest(n-k+1, 1)), i ->
    * xxhash64(concat_ws(" ", slice(words, i, k)))))` evaluates its lambda
    * interpreted (higher-order functions sit outside whole-stage codegen)
    * and re-hashes every word k times through string concatenation; on the
    * dedup corpus that interpretation was the single largest cost of the
    * shingle self-join pipeline, paid 3× per query (both self-join sides
    * plus the document-frequency scan). This kernel hashes each word
    * once, mixes word hashes into shingle hashes, and dedups in place.
    *
    * Shingle identity matches the oracle's string identity exactly: words
    * contain no separator characters, so (w_i..w_{i+k-1}) tuples collide
    * iff their space-joined strings collide. The hash VALUE is deliberately
    * engine-local (a 64-bit FNV/avalanche mix, not Spark's xxhash64) — the
    * DuckDB oracle joins on raw shingle strings, so only injectivity
    * matters, and a 2^-64-per-pair collision would surface as a hash
    * mismatch in the correctness gate.
    *
    * Windowing semantics mirror `sequence(1, greatest(n-k+1, 1))` +
    * clamped `slice`: documents shorter than k words yield exactly one
    * truncated shingle.
    */
  def compute(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    val m = math.max(n - k + 1, 1)
    val wh = new Array[Long](n)
    var i = 0
    while (i < n) { wh(i) = wordHash(words.getUTF8String(i)); i += 1 }
    val seen = new java.util.HashSet[java.lang.Long](m * 2)
    val out = new Array[Long](m)
    var cnt = 0
    i = 0
    while (i < m) {
      var h = GOLDEN
      var j = i
      val e = math.min(i + k, n) // slice clamps at the array end
      while (j < e) { h = mix(h ^ wh(j)) + GOLDEN * (j - i + 1); j += 1 }
      h = mix(h)
      if (seen.add(h)) { out(cnt) = h; cnt += 1 }
      i += 1
    }
    new GenericArrayData(if (cnt == m) out else java.util.Arrays.copyOf(out, cnt))
  }

  /** Positional variant of [[compute]] (`shingle_hashes_pos`): the same
    * word-`k`-gram hashes, position-ordered and NOT deduplicated — element `i` of the
    * output is the hash of the shingle starting at token `i`, so
    * `posexplode` recovers (position, shingle) pairs. Duplicated-span
    * detection (dd8) needs every occurrence: a gram repeated WITHIN one
    * document is a duplicate too, and each occurrence covers a different
    * token span. Windowing matches [[compute]] exactly (documents
    * shorter than k words yield one clamped shingle at position 0). */
  def computePos(words: ArrayData, k: Int): ArrayData = {
    val n = words.numElements()
    val m = math.max(n - k + 1, 1)
    val wh = new Array[Long](n)
    var i = 0
    while (i < n) { wh(i) = wordHash(words.getUTF8String(i)); i += 1 }
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = GOLDEN
      var j = i
      val e = math.min(i + k, n)
      while (j < e) { h = mix(h ^ wh(j)) + GOLDEN * (j - i + 1); j += 1 }
      out(i) = mix(h)
      i += 1
    }
    new GenericArrayData(out)
  }
}
