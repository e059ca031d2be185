package graft.tools

/** Registry-wide scan fan-out audit (the r14 recipe that caught
  * q_percentile_cont's 15× scan, re-run per the r20 verdict): for every
  * registered query, count how many times each parquet location appears
  * as a Scan node in the FORMATTED plan, and flag any fixture read more
  * than twice. Eager gates (artifact build/reload) execute inside the
  * query fn and return a checkpointed frame whose plan is a bare RDD
  * scan — for those the interesting scans happened during construction.
  * Plan-node counts also OVERSTATE executed scans (AQE/ReuseExchange
  * collapses identical subtrees at runtime), so `--exec` additionally
  * RUNS each query and reports the listener-measured input records —
  * recordsRead ÷ fixture rows ≈ the true executed scan multiplicity.
  *
  * {{{
  * SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.ScanAudit /root/testdata/sf0.001"
  * SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.ScanAudit /root/testdata/sf0.001 --exec q_a q_b"
  * }}}
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScanAudit <sfDir> [query ...]")
    val dir = args(0)
    val spark = graft.GraftSession.local()
    val exec = args.contains("--exec")
    val names =
      if (args.length > 1) args.drop(1).filterNot(_ == "--exec").toSeq
      else graft.SparkEntry.queries.keys.toSeq
    // executed-input listener for --exec: recordsRead across all stages
    val listener = new graft.QueryListener
    spark.sparkContext.addSparkListener(listener)
    val scanRe = ("Location: [A-Za-z]*FileIndex(?:\\([0-9]+ paths\\))? *\\[([^,\\]]+)").r
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try {
        graft.Bench.isolate(spark)
        if (exec) {
          org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
          listener.reset()
          fn(spark, dir).queryExecution.toRdd.foreach(_ => ())
          org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
          println(s"[scanaudit] $name execRecordsRead=${listener.stages.map(_.recordsIn).sum}")
        }
        val plan = fn(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val counts = scanRe.findAllMatchIn(plan)
          .map(_.group(1))
          .toSeq
          .groupBy(identity)
          .view.mapValues(_.size)
          .toSeq.sortBy(-_._2)
        val total = counts.map(_._2).sum
        val flagged = counts.filter(_._2 > 2)
        val detail = counts
          .map { case (p, c) => s"$c x ${p.split('/').takeRight(1).mkString}" }
          .mkString("; ")
        println(s"[scanaudit] $name scans=$total${if (flagged.nonEmpty) " FLAG" else ""} $detail")
      } catch {
        case e: Throwable =>
          println(s"[scanaudit] $name ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    spark.stop()
  }
}
