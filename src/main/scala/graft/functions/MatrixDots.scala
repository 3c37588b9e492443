package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Dot products of one `array<double>` vector against a K×dim matrix
  * (the k-means centroid model), returning `array<double>` of K dots
  * (`matrix_dots`).
  *
  * The unrolled alternative — `array(double_dot(v, lit(c0)), ...,
  * double_dot(v, lit(cK)))` — embeds K×dim literal nodes in the plan:
  * fine at K=16, but with a corpus-proportional cell count (K≈1.5k at
  * the sf10 probe, unbounded at 100 TB) it detonates analysis time and
  * overflows the generated class's constant pool, kicking the whole
  * stage out of codegen. A CONSTANT matrix instead reaches [[compute]]
  * as ONE row-major literal (primitive-backed, built and checked
  * rectangular when the plan is built), so plan size and generated code
  * are O(1) in K and assignment stays inside whole-stage codegen at
  * any K.
  *
  * A matrix COLUMN (an `array<array<double>>` column — the two-level
  * IVF trainer's per-coarse-cell fine-centroid table, joined to each
  * row) goes to [[dotsWithMatrix]] per row with the identical
  * accumulation order; the model never exists driver-side in that
  * mode, which is the point of the two-level path.
  *
  * Per-centroid accumulation is strict left-to-right double addition —
  * identical to [[DoubleDot]] and DuckDB's `list_dot_product`, keeping
  * the k-means oracle replay bit-exact. Null semantics also match the
  * per-centroid [[DoubleDot]] formulation: a null input element or a
  * vector/matrix-row width mismatch nulls every dot (same input is fed
  * to all K centroids, so per-element nulls are all-or-nothing; the
  * column path nulls the whole output on the first null or ragged
  * row). A null vector or matrix column yields null.
  */
object MatrixDots {

  /** The constant-matrix path: `flat` holds `k` rows of `dim` doubles,
    * row-major. */
  def compute(v: ArrayData, flat: ArrayData, k: Int, dim: Int): ArrayData = {
    val out = new Array[Any](k) // nulls until proven otherwise
    if (v.numElements() == dim) {
      val vec = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        if (v.isNullAt(i)) return new GenericArrayData(out)
        vec(i) = v.getDouble(i)
        i += 1
      }
      var c = 0
      while (c < k) {
        var acc = 0.0
        val off = c * dim
        var j = 0
        while (j < dim) { acc += vec(j) * flat.getDouble(off + j); j += 1 }
        out(c) = java.lang.Double.valueOf(acc)
        c += 1
      }
    }
    new GenericArrayData(out)
  }

  /** The matrix-column path. */
  def dotsWithMatrix(v: ArrayData, m: ArrayData): ArrayData = {
    val k = m.numElements()
    val dim = v.numElements()
    val out = new Array[Any](k) // nulls until proven otherwise
    val vec = new Array[Double](dim)
    var ok = true
    var i = 0
    while (ok && i < dim) {
      if (v.isNullAt(i)) ok = false else { vec(i) = v.getDouble(i); i += 1 }
    }
    var c = 0
    while (ok && c < k) {
      if (m.isNullAt(c)) ok = false
      else {
        val row = m.getArray(c)
        if (row.numElements() != dim) ok = false
        else {
          var acc = 0.0
          var j = 0
          while (ok && j < dim) {
            if (row.isNullAt(j)) ok = false
            else { acc += vec(j) * row.getDouble(j); j += 1 }
          }
          if (ok) out(c) = acc
        }
      }
      c += 1
    }
    if (ok) new GenericArrayData(out)
    else new GenericArrayData(new Array[Any](k)) // all-or-nothing nulls
  }
}
