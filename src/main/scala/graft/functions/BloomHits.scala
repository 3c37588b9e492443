package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

object BloomHits {
  import RkLsh.{blA, blB, mix2}

  /** JVM twin of the column-level probe arithmetic in
    * `graft.ops.Pipeline.bloomProbe` (two-round avalanche → bit
    * position); mix2 output is non-negative, so % == pmod here. */
  private def probe(i: Int, x: Long, bits: Long): Int =
    (mix2(blA(i), blB(i), x) % bits).toInt

  /** Count of array elements whose BLOOM_K probe bits are ALL set in a
    * fixed bit array (`bloom_hits`) — the per-document contamination
    * count of dc4, fused into one compiled loop.
    *
    * Why a kernel and not `size(filter(arr, λ))`: Spark's higher-order
    * functions evaluate their lambda INTERPRETED, once per element —
    * for dc4 that is 4 probes × ~8 arithmetic nodes per shingle
    * allocated and dispatched per row element, measured 51 s warm at
    * sf10 vs 3.4 s for this compiled loop. The sketch is a literal
    * argument over primitive-backed UnsafeArrayData (16 KB, shipped
    * once per task in the serialized plan — bounded model state, never
    * corpus), so each probe reads a long without unboxing.
    *
    * The probe arithmetic is [[RkLsh.mix2]] over chains blA/blB — the
    * same engine-neutral integers the DuckDB oracle replays — so this
    * kernel changes the execution strategy of dc4, not its answer.
    * `arr` must have no null elements (the registry rejects
    * `containsNull = true`): getLong would read a null slot as garbage.
    */
  def compute(arr: ArrayData, sketch: ArrayData, bits: Long): Long = {
    val n = arr.numElements()
    var cnt = 0L
    var j = 0
    while (j < n) {
      val s = arr.getLong(j)
      var ok = true
      var i = 0
      while (ok && i < 4) {
        val p = probe(i, s, bits)
        if (((sketch.getLong(p >>> 6) >>> (p & 63)) & 1L) == 0L) ok = false
        i += 1
      }
      if (ok) cnt += 1
      j += 1
    }
    cnt
  }
}
