package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

object QuantizeStats {

  /** `quantize_stats`' result: `struct(s, checksum, l2)`. */
  val resultType: StructType = StructType(Seq(
    StructField("s", DoubleType, nullable = true),
    StructField("checksum", LongType, nullable = true),
    StructField("l2", DoubleType, nullable = true)))

  /** qt1's whole scalar-int8 quantization measurement in one
    * pass: `struct(s, checksum, l2)` where `s = max|x| / 127`,
    * `q_i = (s == 0) ? 0 : floor(x_i / s + 0.5)`, `checksum = Σ long(q_i)`
    * and `l2 = Σ (x_i − q_i·s)²` — the four chained HOF passes it
    * replaces (`array_max(transform(abs))`, `transform(floor)`,
    * `aggregate(cast-sum)`, `aggregate(zip_with(err²))`) each ran their
    * lambdas interpreted per ELEMENT over the corpus-sized embedding
    * stream, allocating two intermediate arrays per row (optimization
    * r14; the LongMatchCount/BandKeys class).
    *
    * Bit-identical by construction: `max|x|` = `max(max(x), −min(x))`
    * evaluated here exactly as the HOF's element loop would (no
    * reordering of the comparison chain — max is order-free), the
    * checksum's double→long cast truncates toward zero like the HOF's
    * `cast`, and both sums fold LEFT TO RIGHT in element order, so the
    * IEEE sums match the `aggregate` folds bit for bit. Null ARRAY →
    * null (standard propagation); a null ELEMENT (unreachable —
    * embeddings parquet arrays carry no null elements, and the oracle
    * assumes the same) nulls checksum and l2 while the scale still skips
    * it, mirroring array_max's null-skip and the folds' null
    * propagation. ArrayFoldsSpec pins agreement with the full HOF chain
    * on real embeddings. */
  def compute(v: ArrayData): InternalRow = {
    val n = v.numElements()
    // scale: array_max skips null elements; max of an all-null/empty
    // array is SQL NULL → s null → everything null
    var mx = Double.NaN
    var sawValue = false
    var sawNull = false
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) sawNull = true
      else {
        val a = math.abs(v.getDouble(i))
        // Double.compare, not >: array_max orders NaN greatest and
        // -0.0 < 0.0 (unreachable on real embeddings, exact anyway)
        if (!sawValue || java.lang.Double.compare(a, mx) > 0) mx = a
        sawValue = true
      }
      i += 1
    }
    // empty array: array_max(empty) is null but the folds still return
    // their seeds (aggregate(empty, seed) = seed) — unreachable on
    // fixed-dim embeddings, matched exactly anyway
    if (n == 0) return new GenericInternalRow(Array[Any](null, 0L, 0.0))
    if (!sawValue) return new GenericInternalRow(Array[Any](null, null, null))
    val s = mx / 127.0
    if (sawNull) // q has null elements → both folds go null
      return new GenericInternalRow(Array[Any](s, null, null))
    var checksum = 0L
    var l2 = 0.0
    i = 0
    while (i < n) {
      val x = v.getDouble(i)
      val q = if (s == 0.0) 0.0 else math.floor(x / s + 0.5)
      checksum += q.toLong
      val e = x - q * s
      l2 += e * e
    i += 1
    }
    new GenericInternalRow(Array[Any](s, checksum, l2))
  }
}
