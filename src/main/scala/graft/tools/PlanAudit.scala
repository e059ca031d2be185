package graft.tools

import graft.SparkEntry

/** Plan auditor: prints the formatted physical plan for selected (or all)
  * registered queries so pushdown/broadcast/codegen can be inspected —
  * `sbt "runMain graft.tools.PlanAudit q_dim_join q_join_large"`.
  *
  * What to look for (the 100 TB checklist from the build brief):
  *  - PushedFilters non-empty on scans below filters;
  *  - ReadSchema pruned to the projected columns;
  *  - BroadcastHashJoin for dimension joins, no shuffle of the fact side;
  *  - partial_ aggregates (map-side combine) under every HashAggregate;
  *  - WholeStageCodegen spans covering the hot path.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
