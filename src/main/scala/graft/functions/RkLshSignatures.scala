package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Random-hyperplane LSH signatures with ENGINE-NEUTRAL ±1 Rademacher
  * planes — the oracle-checkable replacement for the round-2 float
  * planes (splitmix-double components, whose 64-bit unsigned multiplies
  * SQL BIGINT cannot express).
  *
  * Plane entry (pid, d) is `+1` when the two-round [[RkLsh.mix2]]
  * avalanche of index `pid·dim + d` is even, `−1` otherwise —
  * arithmetic a DuckDB oracle replays verbatim. (Parity of a SINGLE
  * affine map over sequential indices alternates — see the
  * [[RkLsh.mix2]] note; the one-round form collapsed every plane to
  * the same alternating pattern, measured as a 0.50 probe fraction.)
  * Sign-random-projection LSH is insensitive to the component
  * distribution (Charikar STOC'02 uses Gaussians; ±1 planes preserve
  * the collision-probability ∝ angle property — Achlioptas JCSS'03),
  * so recall characteristics match the float planes; LshBandedSpec
  * re-measures them on the planted corpus.
  *
  * The dot `Σ_d s_d·v_d` accumulates left-to-right — ±1 products are
  * exact sign flips and IEEE addition in a fixed order is bit-identical
  * across engines (the sim1 precedent: DuckDB `list_dot_product`
  * hash-matches [[DoubleDot]]) — so signature BITS, not just their
  * distribution, agree with the oracle's.
  *
  * [[compute]] (`rk_lsh_signatures`) is one compiled loop over a cached
  * plane matrix instead of tables×bits×dim inlined literals; the
  * registry rejects shapes outside 1 ≤ bits ≤ 30, tables·bits ≤ 512.
  */
object RkLshSignatures {

  /** ±1.0 from the parity of the two-round mix over pid·dim + d. */
  def planeComponent(pid: Int, dim: Int, d: Int): Double =
    if ((RkLsh.mix2(RkLsh.RADE_A, RkLsh.RADE_B, pid.toLong * dim + d) & 1L) == 0L) 1.0 else -1.0

  /** DuckDB mirror over SQL fragments for pid and d (dim literal). */
  def planeComponentSql(pid: String, dim: Int, d: String): String = {
    val mixed = RkLsh.mix2Sql(RkLsh.RADE_A, RkLsh.RADE_B, s"($pid * $dim + $d)")
    s"(CASE WHEN $mixed % 2 = 0 THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)"
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def planes(n: Int, dim: Int): Array[Array[Double]] =
    cache.computeIfAbsent((n, dim), _ =>
      Array.tabulate(n, dim)((p, d) => planeComponent(p, dim, d)))

  /** One `bits`-bit signature per table: bit j is set when the dot
    * with plane `t·bits + j` is ≥ 0. */
  def compute(v: ArrayData, tables: Int, bits: Int): ArrayData = {
    val dim = v.numElements()
    val vec = new Array[Double](dim)
    var d = 0
    while (d < dim) { vec(d) = v.getDouble(d); d += 1 }
    val pl = planes(tables * bits, dim)
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var sig = 0
      var j = 0
      while (j < bits) {
        val p = pl(t * bits + j)
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += vec(i) * p(i); i += 1 }
        if (dot >= 0) sig |= (1 << j)
        j += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }
}
