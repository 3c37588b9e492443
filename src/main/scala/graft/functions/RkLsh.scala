package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, shiftright}
import org.apache.spark.unsafe.types.UTF8String

/** Shared constants for ENGINE-NEUTRAL LSH hashing (MinHash + SimHash).
  *
  * The round-2 sketches hashed with engine-local arithmetic (xxhash64,
  * rotate-XOR permutations), so dd2/dd3/cc2 could only get rows-only
  * driver checks. This object is the ta5 recipe generalized: every
  * number below is produced by arithmetic a DuckDB oracle can replay
  * verbatim —
  *
  *   - word hash    = Rabin–Karp char fold `(h·31 + c) mod 2^40`
  *     (identical to [[RollingHashFp]]; `ascii()`-expressible);
  *   - shingle hash = fold `(h·1000003 + wh) mod 2^40` over a k-word
  *     window of word hashes;
  *   - permutations = affine `(a_j·x + b_j) mod P` with `P` the first
  *     prime above 2^40 and fixed (a_j, b_j) generated once from a
  *     splitmix64 stream (hard constants, interpolated into BOTH the
  *     Spark expressions and the oracle SQL from this one array).
  *
  * Overflow audit (must hold in DuckDB's checked BIGINT as well as the
  * JVM): x < 2^40, a_j < 2^22 ⇒ a_j·x < 2^62; b_j < 2^40 ⇒ sum < 2^63.
  * Band folds: acc < 2^40, acc·1000003 < 2^60, + x(< 2^41) < 2^61. ✓
  *
  * Each piece of arithmetic has its forms here and nowhere else: the
  * JVM form for kernels, the Spark Column form ([[mix2Col]]) and the
  * DuckDB SQL text ([[mix2Sql]], [[permSql]], [[foldSql]],
  * [[shinglesSql]], [[wordSql]]) the oracles assemble their queries
  * from. The two engines still evaluate independently; only the
  * spelling of each side is shared.
  */
object RkLsh {

  /** 2^40 — the RK modulus (matches [[RollingHashFp]] / ta5). */
  final val M40 = 1099511627776L

  /** first prime above 2^40 — the affine-permutation modulus. */
  final val P = 1099511627791L

  /** second fold multiplier (shingles, band keys) — matches ta5. */
  final val MUL = 1000003L

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
    x ^= x >>> 27; x *= 0x94D049BB133111EBL
    x ^= x >>> 31
    x
  }

  /** 48 affine pairs: [0,32) drive the 32 MinHash permutations; 32/34
    * and 33/35 are the two-round mix chains deriving SimHash's 31/32-bit
    * halves; 36/37 chain the HyperLogLog bucketing hash ([[HllSketch]]);
    * 38/39 chain the ±1 Rademacher hyperplane parities of
    * [[RkLshSignatures]]; [40,48) chain the four count-min bucketing
    * hashes (apx3: row d uses 40+2d / 41+2d); [48,56) chain the four
    * Bloom-filter probe hashes (dc4: probe i uses 48+2i / 49+2i);
    * 56/57 chain the content-defined-chunking anchor hash (dd11).
    * a_j odd in [1, 2^22), b_j in [0, 2^40). (Values are index-stable:
    * extending NUM never changes earlier constants, so dd2/dd3 oracles
    * are unaffected.) */
  final val NUM: Int = 58

  /** two-round chain indices for the HLL bucketing hash. */
  final val HLL_A = 36; final val HLL_B = 37

  /** two-round chain indices for the Rademacher plane parities. */
  final val RADE_A = 38; final val RADE_B = 39

  /** two-round chain indices for count-min row d ∈ [0, 4). */
  def cmA(d: Int): Int = 40 + 2 * d
  def cmB(d: Int): Int = 41 + 2 * d

  /** two-round chain indices for Bloom probe i ∈ [0, 4) (dc4). */
  def blA(i: Int): Int = 48 + 2 * i
  def blB(i: Int): Int = 49 + 2 * i

  /** two-round chain indices for the CDC anchor hash (dd11). */
  final val CDC_A = 56; final val CDC_B = 57

  /** Two-round engine-neutral avalanche (the dd3 recipe): affine mod
    * P, fold the top 20 bits down with an xor-shift, twice. A SINGLE
    * affine of a small or sequential input barely wraps the modulus, so
    * low bits stay structured — parity of `(a·x+b) mod P` over
    * sequential x with odd `a` simply ALTERNATES, which round 3
    * measured as banded-LSH planes collapsing to two effective buckets
    * (probe fraction 0.50) and HLL trailing-zero registers losing all
    * entropy. dd3's SimHash showed the same: on sf0.01 the one-round
    * form produced 1930 Hamming-≤7 "near-dup" pairs where the
    * avalanched xxhash64 baseline produced 444 (bit correlation, not
    * real similarity); two rounds restore 408 at equal recall.
    * Overflow audit: x < 2^40 ⇒ s1 < P, s1x < 2^40+2^21,
    * a·s1x < 2^62+2^44 < 2^63 — safe in DuckDB's checked BIGINT. */
  def mix2(ia: Int, ib: Int, x: Long): Long = {
    val s1 = (A(ia) * (x & (M40 - 1)) + B(ia)) % P
    val s1x = s1 ^ (s1 >> 20)
    val s2 = (A(ib) * s1x + B(ib)) % P
    s2 ^ (s2 >> 20)
  }

  /** DuckDB mirror of [[mix2]] (callers guarantee x in [0, 2^40)). */
  def mix2Sql(ia: Int, ib: Int, x: String): String = {
    val s1 = s"((${A(ia)} * $x + ${B(ia)}) % $P)"
    val s1x = s"xor($s1, $s1 >> 20)"
    val s2 = s"((${A(ib)} * $s1x + ${B(ib)}) % $P)"
    s"xor($s2, $s2 >> 20)"
  }

  /** Spark Column mirror of [[mix2]] (callers guarantee h in [0, 2^40),
    * so the mask is left out, as on the SQL side). */
  def mix2Col(ia: Int, ib: Int, h: Column): Column = {
    val s1 = (lit(A(ia)) * h + lit(B(ia))) % P
    val s1x = s1.bitwiseXOR(shiftright(s1, 20))
    val s2 = (lit(A(ib)) * s1x + lit(B(ib))) % P
    s2.bitwiseXOR(shiftright(s2, 20))
  }

  final val A: Array[Long] = Array.tabulate(NUM)(i => (mix(2L * i) & 0x3FFFFFL) | 1L)
  final val B: Array[Long] = Array.tabulate(NUM)(i => mix(2L * i + 1) & 0xFFFFFFFFFFL)

  @inline def perm(j: Int, x: Long): Long = (A(j) * (x & (M40 - 1)) + B(j)) % P

  /** DuckDB mirror of [[perm]] over SQL fragment `x` (callers guarantee
    * x < 2^40, so no mask is needed on the SQL side). */
  def permSql(j: Int, x: String): String = s"(${A(j)} * $x + ${B(j)}) % $P"

  /** DuckDB form of the RK fold `(a·mul + x) mod 2^40`, seed 0, over
    * the SQL list `list` (elements < 2^41, see the overflow audit). */
  def foldSql(list: String, mul: Long): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $list), (a, x) -> (a * $mul + x) % $M40)"

  /** DuckDB mirror of [[RkShingleHashes.compute]]'s k-word windows
    * before the dedup: the [[MUL]] fold of `hs[i+1 .. i+k]` for every
    * i in [0, max(nw − k, 0)], slices clamped at the list end. */
  def shinglesSql(hs: String, nw: String, k: Int): String =
    s"list_transform(range(0, greatest($nw - $k, 0) + 1), i -> ${foldSql(s"$hs[i + 1:i + $k]", MUL)})"

  /** DuckDB mirror of the RK word-char fold over a word column `wd`. */
  val wordSql: String = foldSql(
    "list_transform(range(1, length(wd) + 1), j -> CAST(ascii(substr(wd, CAST(j AS INT), 1)) AS BIGINT))",
    31)
}

object RkShingleHashes {
  import RkLsh.{M40, MUL}

  /** Engine-neutral RK word hash of a single string (`rk_word_hash`):
    * `(h·31 + c) mod 2^40` over the chars — the scalar building block
    * dd3's SimHash derives its 63-bit fingerprints from. DuckDB mirror:
    * [[RkLsh.wordSql]]. */
  def wordHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var j = 0
    while (j < str.length) { h = (h * 31 + str.charAt(j)) % M40; j += 1 }
    h
  }

  /** Distinct word-k-gram shingle hashes with ENGINE-NEUTRAL values
    * (`rk_shingle_hashes`): the same windowing/dedup semantics as
    * [[ShingleHashes.compute]], but the hash is the RK construction
    * from [[RkLsh]] — word hash
    * `(h·31 + char) mod 2^40` folded `(h·1000003 + wh) mod 2^40` over the
    * window — so a DuckDB oracle reproduces the VALUES, not just the set
    * identity. Feeds dd2's MinHash signatures (which must hash-match the
    * oracle end to end, unlike dd4 whose oracle re-joins raw strings).
    *
    * Chars hash by Java char code — identical to `ascii()` for this
    * corpus's single-byte text (same caveat as [[RollingHashFp]]).
    * Windows `i ∈ [0, max(n−k, 0)]` with the final windows clamped at
    * the array end: documents shorter than k yield one truncated shingle.
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
      var h = 0L
      var j = i
      val e = math.min(i + k, n) // slice clamps at the array end
      while (j < e) { h = (h * MUL + wh(j)) % M40; j += 1 }
      if (seen.add(h)) { out(cnt) = h; cnt += 1 }
      i += 1
    }
    new GenericArrayData(if (cnt == m) out else java.util.Arrays.copyOf(out, cnt))
  }
}
