package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The codebook and its squared norms are foldable CHILDREN (literal
  * expressions), not constructor arrays: raw `Array` fields compare by
  * reference under case-class equality, which silently breaks plan
  * canonicalization — `sameResult` against the pinned/cached coded
  * frame and common-subtree reuse both fail (`matrix_dots` passes its
  * matrix as a literal argument for the same reason). The flat copies
  * are extracted lazily per task from the literals.
  *
  * DELIBERATELY [[CodegenFallback]], not codegen'd. The zip_with form
  * this replaces was itself a codegen fallback (higher-order functions
  * don't compile), which forced the 8-score projection OUT of
  * whole-stage codegen — an accidental stage break that turns out to
  * be load-bearing: with a codegen'd PqScores the sc0..7 projection
  * FUSES with the IVF assignment scan (quantize_unit + a
  * corpus-proportional K×64 matrix_dots), the per-subspace argmins,
  * AND the probe join into one generated consume() whose bytecode
  * blows past HotSpot's silent 8 KB JIT ceiling — the whole stage runs
  * as INTERPRETED BYTECODE (the RkLshSignatures failure class,
  * documented there since round 3). Measured at sf1 (K=157): sim6
  * warm 5.8 s → 45-55 s EVERY rep with the codegen'd variant, back to
  * 1.7-3.5 s with wholeStage=false — the fallback keeps the stage
  * split the old form had, while the per-ROW work drops from 128
  * interpreted lambda dispatches + 8 array allocations to 8 calls
  * into one tight JVM loop. */
case class PqScores(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _),
          ArrayType(DoubleType, _)) =>
        if (!second.foldable || !third.foldable)
          TypeCheckResult.TypeCheckFailure(
            "pq_scores: codebook and norms must be foldable (constant)")
        else TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_scores expects (array<double>, array<array<double>>, array<double>), got $other")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_scores"

  /** (k, dim, row-major flat codebook, c2), extracted once per task
    * from the literal children; @transient so only the literals, not
    * the duplicate flat copies, serialize. */
  @transient private lazy val constModel: (Int, Int, Array[Double], Array[Double]) = {
    val m = second.eval().asInstanceOf[ArrayData]
    val k = m.numElements()
    val dim = if (k == 0) 0 else m.getArray(0).numElements()
    val flat = new Array[Double](k * dim)
    var c = 0
    while (c < k) {
      val row = m.getArray(c)
      require(row.numElements() == dim, "pq_scores: ragged codebook")
      var j = 0
      while (j < dim) { flat(c * dim + j) = row.getDouble(j); j += 1 }
      c += 1
    }
    val c2 = third.eval().asInstanceOf[ArrayData].toDoubleArray()
    require(c2.length == k, "pq_scores: |mat| and |c2| must agree")
    (k, dim, flat, c2)
  }

  override def nullSafeEval(v: Any, m: Any, c: Any): Any = {
    val (_, dim, flat, c2) = constModel
    PqCoding.pqScores(v.asInstanceOf[ArrayData], flat, dim, c2)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PqScores =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** The PQ coding pass's two remaining per-row HOFs replaced
  * (optimization r14 — the standing rule in [[GraftFunctions]]: a
  * per-element lambda on a hot column does not belong in
  * `transform`/`zip_with`). Both run over the FULL corpus in every
  * consumer of the coded frame — pq1/sim5 directly, sim6/knn2/ir3/hn2
  * through the IVF-PQ coding pass, plus every PQ training iteration.
  * quantize_grid is a static kernel call inside generated code;
  * PqScores is a deliberate CodegenFallback — see its scaladoc for the
  * measured JIT cliff:
  *
  *  - [[PqCoding.quantizeGrid]] `quantize_grid(array<double>, q)` — the raw
  *    integer grid `qx[i] = floor(v[i] * q)` of pq1/sim5's codebook
  *    domain. Replaces `transform(v, x -> floor(x * q))`; unlike
  *    [[QuantizeUnit.compute]] there is no normalization (the PQ books train
  *    on the raw grid so reconstruction error stays an exact integer).
  *    Null semantics are transform's: null array → null, a null
  *    ELEMENT maps through the lambda to a null element (not the
  *    all-null array of the norm-coupled QuantizeUnit — no norm ties
  *    the elements together here).
  *  - [[PqScores]] `pq_scores(sub, mat, c2)` — the per-subspace
  *    assignment scores `out[p] = c2[p] − 2·(sub·mat[p])`
  *    (‖c_p‖² − 2·sub·c_p; argmin = nearest codebook entry). Replaces
  *    `zip_with(typedLit(c2), matrix_dots(sub, typedLit(mat)),
  *    (a, b) => a - 2.0 * b)` — matrix_dots was already codegen'd but
  *    the zip_with tail evaluated interpreted per codebook entry per
  *    row. The dot accumulates strict left-to-right (identical to
  *    [[MatrixDots.compute]]), then `c2[p] - (2.0 * dot)` in
  *    the lambda's exact IEEE op order, so scores are bit-identical
  *    and the oracle replay is untouched. Codebooks are bounded model
  *    state (PQ_S × PQ_K × PQ_D longs) riding as foldable literal
  *    children, flattened to codegen reference objects lazily — see
  *    the equality note on the case class. Null semantics match the
  *    composite form: null input array → null; a null element or a
  *    width mismatch → the all-null K array (matrix_dots'
  *    all-or-nothing nulls, mapped through the lambda).
  *
  * ArrayFoldsSpec pins both against the HOF forms they replace on
  * real corpus rows (doubleToLongBits agreement) plus the null/empty/
  * mismatch edges.
  */
object PqCoding {

  /** `floor(v[i] * q)` per element, a null element staying null. */
  def quantizeGrid(v: ArrayData, q: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        out(i) = java.lang.Long.valueOf(
          math.floor(v.getDouble(i) * q.toDouble).toLong)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[PqScores]]' kernel over the flattened codebook. */
  def pqScores(v: ArrayData, flat: Array[Double], dim: Int,
      c2: Array[Double]): ArrayData = {
    val k = c2.length
    val out = new Array[Any](k) // nulls until proven otherwise
    var ok = v.numElements() == dim
    val vec = new Array[Double](dim)
    var i = 0
    while (ok && i < dim) {
      if (v.isNullAt(i)) ok = false else { vec(i) = v.getDouble(i); i += 1 }
    }
    if (ok) {
      var c = 0
      while (c < k) {
        var acc = 0.0
        val off = c * dim
        var j = 0
        while (j < dim) { acc += vec(j) * flat(off + j); j += 1 }
        out(c) = java.lang.Double.valueOf(c2(c) - 2.0 * acc)
        c += 1
      }
    }
    new GenericArrayData(out)
  }
}
