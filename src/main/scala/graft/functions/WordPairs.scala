package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Adjacent word pairs (bigrams) of a tokenized document in one pass
  * (`word_pairs`) — the construction lm1/cooc1/ng1/rep1/apx3 all open
  * with.
  *
  * The built-in formulations —
  * `zip_with(slice(w,1,n-1), slice(w,2,n-1), struct)` (lm1) and
  * `transform(sequence(...), i -> ...)` (cooc1/ng1/rep1/apx3) —
  * evaluate their lambdas through the higher-order-function
  * interpreter per TOKEN, allocating slices/sequences per document
  * (optimization r13: the ShingleHashes move applied to the bigram
  * family). [[compute]] emits the n−1 pairs in one linear pass.
  *
  * Modes (fixed at plan time; the registry rejects any other):
  *  - ORD (0):   array<struct<l,r>> — pairs in document order
  *    (lm1's zip_with twin);
  *  - UNORD (1): array<struct<x,y>> — each pair canonically ordered
  *    x ≤ y with the built-ins' null-skip (least/greatest return the
  *    non-null side) (cooc1's twin);
  *  - STR (2):   array<string> — `concat_ws(" ", l, r)` strings,
  *    nulls skipped exactly like concat_ws (ng1/rep1/apx3's twin).
  *
  * Windowing matches all call sites: n < 2 words → empty array (the
  * sites either filter size ≥ 2 or wrap in when/otherwise(empty));
  * a null words ARRAY yields null (explode drops it). split(text," ")
  * never produces null elements, but the null handling above keeps
  * the kernel a drop-in for arbitrary input.
  */
object WordPairs {

  private val SEP = UTF8String.fromString(" ")

  /** The result type of `mode` ∈ {0, 1, 2}. */
  def resultType(mode: Int): DataType = mode match {
    case 0 => ArrayType(StructType(Seq(
      StructField("l", StringType), StructField("r", StringType))), containsNull = false)
    case 1 => ArrayType(StructType(Seq(
      StructField("x", StringType), StructField("y", StringType))), containsNull = false)
    case 2 => ArrayType(StringType, containsNull = true)
  }

  def compute(words: ArrayData, mode: Int): ArrayData = {
    val n = words.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var a: UTF8String = if (words.isNullAt(0)) null else words.getUTF8String(0)
    var i = 0
    while (i < n - 1) {
      val b: UTF8String = if (words.isNullAt(i + 1)) null else words.getUTF8String(i + 1)
      out(i) = mode match {
        case 0 => new GenericInternalRow(Array[Any](a, b))
        case 1 =>
          // least/greatest semantics: nulls skipped, binary UTF-8 order
          if (a == null) new GenericInternalRow(Array[Any](b, b))
          else if (b == null) new GenericInternalRow(Array[Any](a, a))
          else if (a.compareTo(b) <= 0) new GenericInternalRow(Array[Any](a, b))
          else new GenericInternalRow(Array[Any](b, a))
        case 2 => UTF8String.concatWs(SEP, a, b)
      }
      a = b
      i += 1
    }
    new GenericArrayData(out)
  }
}
