package graft

import org.apache.spark.sql.execution.ExplainMode

/**
 * Dumps the optimized/formatted physical plan for queries of
 * [[SparkEntry.registry]] — the round-over-round plan-audit tool behind
 * `docs/PLANS.md`.
 *
 * Usage: `runMain graft.PlanDump <sfDir> <queryName> [<queryName> ...]`
 * (no names → every registered query; an unknown name fails before the
 * session starts). Output is the same `explain("formatted")` tree a
 * user would read: scan pruning (ReadSchema/PushedFilters), exchange
 * placement, WholeStageCodegen spans.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val selected =
      if (args.length > 1) QuerySpec.resolve("PlanDump", args.drop(1).toSeq, SparkEntry.byName)
      else SparkEntry.registry.sortBy(_.name)
    val spark = GraftSession.local("graft-plandump")
    try selected.foreach { q =>
      val df = q.run(spark, sfDir)
      println(s"=== ${q.name} ===")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    } finally spark.stop()
  }
}
