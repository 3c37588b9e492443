package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

object ScaledCos {

  /** The floor-scaled cosine vector of a dots column against a fixed
    * centroid-norm array (`scaled_cos`): `out[i] = floor(dots[i] /
    * (unrm * norms[i]) * 1e6) / 1e6` — cls1/dc3's per-row score step,
    * in one pass.
    *
    * The built-in formulation (`zip_with(matrix_dots(...),
    * typedLit(norms), (d, n) => floorE6(d / (unrm * n)))`) evaluates its
    * lambda through the higher-order-function interpreter per CENTROID
    * per row next to the already-codegen'd `matrix_dots` (optimization
    * r14 — the LongMatchCount class, K-element tail). The norms are a
    * literal argument over primitive-backed UnsafeArrayData (model
    * state, bounded by the label/benchmark count, never corpus).
    *
    * Arithmetic matches `Exact.floorE6` exactly: one divide, one
    * multiply by 1e6 (the long literal widens to an exact double), a
    * floor-to-long (Java truncation semantics on overflow/NaN, as
    * Spark's floor(double)→bigint), then the long→double divide by 1e6.
    * zip_with's null padding is reproduced: the output length is
    * max(|dots|, |norms|) with nulls where either side runs out, and a
    * null dots ELEMENT yields a null score (unreachable — matrix_dots
    * emits none; ArrayFoldsSpec pins agreement on real rows). A null
    * dots ARRAY or null unrm yields null (standard propagation —
    * unrm is a norm of a non-null vector at both call sites). */
  def compute(dots: ArrayData, unrm: Double, norms: ArrayData): ArrayData = {
    val nd = dots.numElements()
    val nn = norms.numElements()
    val n = math.max(nd, nn)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i >= nd || i >= nn || dots.isNullAt(i)) null
        else {
          val t = dots.getDouble(i) / (unrm * norms.getDouble(i))
          java.lang.Double.valueOf(math.floor(t * 1000000.0).toLong / 1e6)
        }
      i += 1
    }
    new GenericArrayData(out)
  }
}
