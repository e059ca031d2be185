package graft.tools

/** Layer attribution for one registered query, timed the way
  * [[graft.Bench]] times it (isolated caches, forced with
  * `queryExecution.toRdd.foreach` so nothing count-prunes). Per run it
  * prints:
  *  - the wall, the number of Spark jobs, the time some job was running
  *    and the DRIVER-ONLY GAP between jobs (planning, collects, parquet
  *    commit protocol, artifact param reads) that stage metrics cannot
  *    see;
  *  - task bytes: shuffle read/write and disk spill;
  *  - for streaming drains, one `StreamingQueryProgress` line per
  *    micro-batch (`triggerExecution` = whole batch, `queryPlanning`,
  *    `getBatch`, `latestOffset`, `walCommit`, `commitOffsets`,
  *    `addBatch`) with per-state-operator commit times and store counts,
  *    plus the stream-start overhead before each query's first trigger.
  *
  * After the last run it lists every job span and the heaviest stages
  * (run/cpu/gc time, max single-task time — the skew signal — task count,
  * records read, shuffle bytes, spill). Per-stage executorRunTime vs task
  * count vs records does not lie where `explain` does (codegen stars show
  * even when a stage runs interpreted). It ends with the formatted
  * physical plan of the frame the last run forced (scan `PushedFilters`
  * and `ReadSchema`, broadcast vs shuffle joins, partial aggregates,
  * codegen spans), printed outside the timed region.
  *
  * {{{
  * SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.Probe /root/testdata/sf0.1 ann_ivfpq_append 3"
  * }}}
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3, "usage: Probe <sfDir> <queryName> [repeat]")
    val (dir, name) = (args(0), args(1))
    val repeat = if (args.length > 2) args(2).toInt else 3
    val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    val spark = graft.GraftSession.local()
    val l = new graft.QueryListener
    spark.sparkContext.addSparkListener(l)
    for (i <- 1 to repeat) {
      graft.Bench.isolate(spark)
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      l.reset()
      val t0 = System.currentTimeMillis()
      val df = fn(spark, dir)
      df.queryExecution.toRdd.foreach(_ => ())
      val t1 = System.currentTimeMillis()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      val wall = t1 - t0
      val gap = l.driverGapMs(t0, t1)
      val b = l.bytes
      println(f"[probe] $name run=$i wall=${wall / 1000.0}%.2fs jobs=${l.jobSpans.size} " +
        f"jobTime=${(wall - gap) / 1000.0}%.2fs driverGap=${gap / 1000.0}%.2fs " +
        f"stages=${l.stages.size} shufR=${b.shuffleRead / 1024} KB " +
        f"shufW=${b.shuffleWrite / 1024} KB spill=${b.diskSpill / 1024 / 1024} MB")
      if (l.streamStarts > 0)
        println(s"[probe] $name run=$i queryStarts=${l.streamStarts} " +
          s"batches=${l.batches.size} startToFirstTriggerMs=${l.startGapMs}")
      l.batches.foreach(p => println(s"[probe]   ${batchJson(p)}"))
      if (i == repeat) {
        l.jobSpans.foreach { j =>
          println(f"[probe]   job=${j.id}%3d ${(j.endMs - j.startMs) / 1000.0}%6.2fs  ${j.desc.take(110)}")
        }
        l.stages.sortBy(-_.runMs).take(15).foreach { r =>
          println(f"[probe]   run=${r.runMs}%8d ms cpu=${r.cpuMs}%8d " +
            f"maxTask=${r.maxTaskMs}%8d gc=${r.gcMs}%6d tasks=${r.tasks}%4d " +
            f"recIn=${r.recordsIn}%10d shufR=${r.shuffleReadBytes / 1024}%9d KB " +
            f"shufW=${r.shuffleWriteBytes / 1024}%9d KB " +
            f"spill=${r.diskSpillBytes / 1024 / 1024}%5d MB  ${r.name.take(60)}")
        }
        println(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      }
    }
    // quiesce the state-store maintenance pool before the context stops
    // (the race Bench documents)
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    spark.stop()
  }

  private def batchJson(p: org.apache.spark.sql.streaming.StreamingQueryProgress): String = {
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(-1L)
    val ops = p.stateOperators.zipWithIndex.map { case (so, i) =>
      s"""{"op":$i,"name":"${so.operatorName}","partitions":${so.numShufflePartitions},""" +
        s""""stores":${so.numStateStoreInstances},"rowsTotal":${so.numRowsTotal},""" +
        s""""commitMs":${so.commitTimeMs},"updatedMs":${so.allUpdatesTimeMs},""" +
        s""""removedMs":${so.allRemovalsTimeMs}}"""
    }.mkString("[", ",", "]")
    s"""{"batch":${p.batchId},"name":"${Option(p.name).getOrElse("?")}",""" +
      s""""triggerMs":${d("triggerExecution")},"planMs":${d("queryPlanning")},""" +
      s""""getBatchMs":${d("getBatch")},"latestOffsetMs":${d("latestOffset")},""" +
      s""""walCommitMs":${d("walCommit")},"commitOffsetsMs":${d("commitOffsets")},""" +
      s""""addBatchMs":${d("addBatch")},"stateOps":$ops}"""
  }
}
