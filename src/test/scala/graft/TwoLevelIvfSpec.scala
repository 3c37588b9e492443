package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Similarity

/** The two-level (coarse+fine) IVF trainer engages when the
  * corpus-proportional cell count exceeds min(graft.ivf.flatMaxK,
  * graft.ivf.maxK) — never at driver SFs with default confs (the
  * oracle pins the flat path there). Its correctness surface is this
  * spec: force the confs low on sf0.001 so the hierarchy engages,
  * then pin the structural invariants (cell id space, driver-state
  * bound, finer-than-flat partitioning) and the downstream contracts
  * (sim3 output shape + recall, dd7 verdict consistency). The
  * flat-cost threshold is round 13's: dispatching on maxK alone left
  * flat assignment costing N·K dots per scan through the measured
  * 2M-vector valley (SCALE.md), so the COST cap dispatches to the
  * hierarchy with maxK (the driver-STATE cap) untouched.
  */
class TwoLevelIvfSpec extends AnyFunSuite {
  import TestSpark._

  private val confs = Seq(
    Similarity.TargetCell.key -> "4",
    Similarity.MaxK.key -> "4")

  private def withLowCaps[A](body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("flat path with default confs: no fine model (oracle path untouched)") {
    val model = Similarity.ivfAssigned(spark, sf)
    assert(model.fine.isEmpty)
    // sf0.001: trainN = 125, desired = ceil(125/32) = 4 flat cells
    assert(model.k == 4, s"k = ${model.k}")
  }

  test("past maxK the trainer goes hierarchical: K1·K2 cells, K1 <= maxK driver-held") {
    withLowCaps {
      // trainN = 125, target = 4 -> desired = 32 > maxK = 4 ->
      // K1 = min(4, ceil(sqrt(32))) = 4; K2 = ceil(32/4) = 8 — k2 is
      // NOT maxK-capped (the fine model is a distributed table, and
      // capping it would leave K1·K2 < desired past desired = maxK²,
      // letting cells grow with the corpus again)
      val model = Similarity.ivfAssigned(spark, sf)
      val fine = model.fine.getOrElse(fail("two-level did not engage"))
      assert(fine.coarseK == 4 && fine.fineK == 8 && model.k == 32)
      assert(model.k >= 32, "K1·K2 must reach the desired cell count")
      // the fine model is a K1-row TABLE, each row one sub-centroid
      // matrix — the only driver-held model is the K1 coarse centroids
      val matRows = fine.centroids.collect()
      assert(matRows.length <= 4)
      assert(matRows.forall(_.getSeq[Any](1).size <= 8), "a cell exceeds K2 sub-centroids")

      val cells = model.assigned.groupBy(col("cell"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cells.values.sum == 500, "every vector assigned exactly once")
      assert(cells.keys.forall(c => c >= 0 && c < 32), s"cell ids out of range: ${cells.keys}")
      // the hierarchy must partition FINER than the flat cap could:
      // more than maxK distinct cells...
      assert(cells.size > 4, s"only ${cells.size} distinct cells")
      // ...and the fine split must strictly shrink dd7's pair-join cost
      // (Σ|cell|²) versus stopping at the coarse level
      val sumSq = cells.values.map(n => n * n).sum
      // combined id = cell1·K2 + cell2, so coarse cell = id / K2 (= 8)
      val coarseSumSq = cells.groupBy { case (c, _) => c / 8 }
        .values.map(_.values.sum).map(n => n * n).sum
      assert(sumSq < coarseSumSq,
        s"fine split did not reduce pair cost: $sumSq vs coarse $coarseSumSq")
    }
  }

  test("the flat-COST cap dispatches to two-level with maxK untouched, under its own registry key") {
    val costConfs = Seq(
      Similarity.TargetCell.key -> "4",
      Similarity.FlatMaxK.key -> "4")
    val saved = costConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    costConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // trainN = 125, target = 4 -> desired = 32; maxK stays at its
      // 65536 default (driver state is nowhere near the bound) but the
      // per-scan COST cap (4) forces the hierarchy: K1 = ceil(sqrt(32))
      // = 6, K2 = ceil(32/6) = 6
      val model = Similarity.ivfAssigned(spark, sf)
      val fine = model.fine.getOrElse(fail(
        "flat-cost cap did not dispatch to the two-level trainer"))
      assert(fine.coarseK == 6 && fine.fineK == 6 && model.k == 36)
      // the conf is part of the model identity: the registry must not
      // hand this hierarchical model to a default-conf caller (whose
      // oracle replays the flat trainer)
      spark.conf.unset(Similarity.FlatMaxK.key)
      spark.conf.unset(Similarity.TargetCell.key)
      val flat = Similarity.ivfAssigned(spark, sf)
      assert(flat.fine.isEmpty && flat.k == 4,
        s"registry leaked the cost-capped model: k=${flat.k}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("sim3 under the two-level model keeps its output contract and recall") {
    withLowCaps {
      val rows = Similarity.sim3AnnIvf(spark, sf).collect()
      val byQ = rows.groupBy(_.getLong(0))
      assert(byQ.size == 10, s"queries answered: ${byQ.size}")
      byQ.foreach { case (q, rs) =>
        assert(rs.map(_.getInt(3)).sorted.sameElements(1 to rs.length), s"ranks broken for $q")
        assert(rs.length <= 5)
      }
      val brute = Similarity.sim1BruteTopK(spark, sf)
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ann = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (brute & ann).size.toDouble / brute.size
      // hierarchical probing (4 coarse × 4 fine probes over 16 cells)
      // covers most of this small corpus; recall well above chance
      assert(recall >= 0.5, s"recall@5 = $recall")
    }
  }

  test("sim6 under the two-level model keeps its output contract") {
    withLowCaps {
      val rows = Similarity.sim6IvfPqTopK(spark, sf).collect()
      val byQ = rows.groupBy(_.getLong(0))
      assert(byQ.nonEmpty && byQ.size <= 10)
      byQ.foreach { case (q, rs) =>
        assert(rs.map(_.getInt(3)).sorted.sameElements(1 to rs.length), s"ranks broken for $q")
        assert(rs.length <= 5)
      }
    }
  }

  test("two-level plans keep the equi-join shape: no cartesian products anywhere") {
    withLowCaps {
      for ((name, df) <- Seq(
          "sim3" -> Similarity.sim3AnnIvf(spark, sf),
          "sim6" -> Similarity.sim6IvfPqTopK(spark, sf),
          "dd7" -> Similarity.dd7SemanticDedup(spark, sf))) {
        df.collect()
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        // the fine-centroid matrix joins on cell1 and the pair/probe
        // joins on the combined cell id — all equi-joins; a cartesian
        // would mean the hierarchy broke the bucketed-compare shape
        assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      }
    }
  }

  test("dd7 under the two-level model: verdicts stay internally consistent") {
    withLowCaps {
      val rows = Similarity.dd7SemanticDedup(spark, sf).collect()
      assert(rows.length == 500)
      rows.foreach { r =>
        val nNear = r.getLong(2)
        val keep = r.getBoolean(4)
        assert(keep == (nNear == 0L), s"vec ${r.getLong(0)}: keep=$keep n_near=$nNear")
        assert(r.getLong(1) >= 0 && r.getLong(1) < 32, s"cell out of range: ${r.getLong(1)}")
      }
      assert(rows.exists(!_.getBoolean(4)), "planted near-dups should be dropped")
    }
  }
}
