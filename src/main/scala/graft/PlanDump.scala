package graft

/** Optimization-round tool: dump the formatted (pre-execution) plan of
  * every registry query to one file per query, for plan-diff evidence
  * (plans/r14/<query>_before.txt / _after.txt). Mostly analysis — but
  * anything a query's CONSTRUCTION executes runs here too: model
  * training on a registry miss (BPE/IVF, as in Bench), PairGuard's
  * sampled probes, and `Model.pin`'s eager count, which materializes
  * each pinned subtree (e.g. cur2's whole gate→dedup→decontaminate
  * chain) before the plan is printed. The dumped plan is the one that
  * would execute — pinned frames show as InMemoryRelation — at the
  * cost of actually running those stages at the dump SF (ADVICE r13:
  * the old "analysis only" claim was wrong).
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(out)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = Harness.session()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      try {
        val plan = fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(out.resolve(s"$name.txt"), plan)
        graft.ops.Model.release()
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
