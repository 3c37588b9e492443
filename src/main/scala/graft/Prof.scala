package graft

/** Scratch per-query profiler: times each named query `reps` times in
  * one JVM (run 1 = cold, the rest warm), printing plans on demand.
  * Not part of the driver contract.
  * Usage: runMain graft.Prof <sfDir> <q1,q2,...> [explain|finalplan|reps=N]
  * (`explain` prints the pre-execution formatted plan; `finalplan`
  * executes once more and prints the FINAL AQE plan — the only place
  * runtime decisions like skew=true splits are visible)
  * One JVM per invocation IS the isolation: the sf10 artifact's
  * heavy-tail medians come from per-query `reps=4` invocations (cold +
  * median-of-3 warm) so no other query's GC/code-cache churn prices
  * the measurement. */
object Prof {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    // both flags parse position-independently from the tail: a
    // positional args(2) check silently dropped "reps=4 explain"
    val explain = args.drop(2).contains("explain")
    val finalPlan = args.drop(2).contains("finalplan")
    // `keep`: release model/pinned tables only AFTER a query's last rep
    // (Bench's warm-median semantics — reps 2..n serve from what rep 1
    // registered) instead of per-rep. Default stays per-rep: each rep
    // is then a full fresh-state measurement.
    val keep = args.drop(2).contains("keep")
    val reps = args.drop(2).collectFirst {
      case a if a.startsWith("reps=") => math.max(1, a.stripPrefix("reps=").toInt)
    }.getOrElse(2)
    val spark = Harness.session()
    Harness.confOverrides(spark, "prof")
    // the header tools/sf10_pairs.py matches against the artifact's cpus
    println(s"""[prof] {"cpus":${Harness.cpus}}""")
    for (n <- names; fn = SparkEntry.queries(n)) {
      if (explain) fn(spark, dir).explain("formatted")
      for (i <- 1 to reps) {
        val (_, dt) = Harness.timed(1)(Harness.consume(fn(spark, dir))).head
        println(f"[prof] $n run$i $dt%.2f s")
        if (!keep) graft.ops.Model.release()
      }
      if (keep) graft.ops.Model.release()
      if (finalPlan) {
        // the consumed wrapper's executed plan contains the query's
        // whole subtree with AQE's runtime choices materialized
        val (_, _, plan) = Harness.consume(fn(spark, dir))
        println(s"[prof-finalplan] $n")
        println(plan.toString.split("== Initial Plan ==").head)
        graft.ops.Model.release()
      }
    }
    spark.stop()
  }
}
