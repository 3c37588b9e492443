package graft

import org.scalatest.Assertions._

/** Runs a query under each of Spark's two ways of evaluating a
  * projection, so an expression's generated code and its interpreted
  * `eval` are both tested.
  *
  * Rows built with `Seq(...).toDF` become a `LocalRelation`, and the
  * optimizer's `ConvertToLocalRelation` then evaluates a projection over
  * them once, interpreted, at planning time: the executed plan is a
  * bare `LocalTableScan` and no generated code ever runs. Both paths
  * here exclude that rule, so the projection stays a physical `Project`.
  */
object CodegenPaths {
  import TestSpark.spark

  private val Excluded =
    "spark.sql.optimizer.excludedRules" -> "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  /** Sets `kvs` on the shared session for the duration of `body`, then
    * restores each key's previous value (or unsets it). */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Whole-stage codegen, with a compile failure thrown rather than
    * silently run interpreted. */
  def compiled[T](body: => T): T = withConf(Excluded,
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(body)

  /** No generated code: every expression runs its interpreted `eval`. */
  def interpreted[T](body: => T): T = withConf(Excluded,
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  /** `body` under [[compiled]] and then [[interpreted]]; both must give
    * the same result, which is returned. Assertions inside `body` run
    * on each path. */
  def onBothPaths[T](body: => T): T = {
    val c = compiled(body)
    val i = interpreted(body)
    assert(c == i, s"generated code gave $c, interpreted eval gave $i")
    c
  }
}
