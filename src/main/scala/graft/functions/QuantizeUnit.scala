package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

object QuantizeUnit {

  /** Integer-grid quantization of a unit-normalized vector in ONE pass
    * (`quantize_unit`): `uq[i] = floor((v[i] / ||v||) * q)`.
    *
    * Replaces the HOF pipeline `transform(transform(v, x -> x / nrm),
    * x -> floor(x * q))` on the IVF corpus scan — higher-order
    * functions evaluate their lambdas interpreted, outside whole-stage
    * codegen, and this is a per-row cost on EVERY vector of the corpus
    * (the sim3/dd7 training and assignment input).
    *
    * The scalar sequence is IDENTICAL to the HOF form and the DuckDB
    * oracle's `list_transform(v, x -> floor((x / nrm) * q))`: the norm
    * is a strict left-to-right dot (same order as [[DoubleDot]] /
    * `list_dot_product`) under one `Math.sqrt`, then one divide, one
    * multiply, one floor per element — bit-identical doubles end to
    * end, so hash-checked results are unchanged.
    *
    * Null semantics match the HOF form: null input array → null (null
    * propagation); a null ELEMENT nulls the norm and hence every
    * output element — an all-null output array. A zero norm yields
    * floor(x/0 * q) = ±Infinity → Long.MIN/MAX under Java double→long
    * casts (NaN → 0 for a zero element), where Spark's `/` yields null
    * or raises; corpus vectors are non-zero by construction and the
    * oracle's floor does the same saturation, but the cast semantics
    * are pinned here for the record. */
  def compute(x: ArrayData, q: Int): ArrayData = {
    val n = x.numElements()
    val out = new Array[Any](n)
    var i = 0
    var acc = 0.0
    while (i < n) {
      if (x.isNullAt(i)) return new GenericArrayData(out)
      val d = x.getDouble(i)
      acc += d * d
      i += 1
    }
    val nrm = math.sqrt(acc)
    var j = 0
    while (j < n) {
      out(j) = java.lang.Long.valueOf(math.floor(x.getDouble(j) / nrm * q).toLong)
      j += 1
    }
    new GenericArrayData(out)
  }
}
