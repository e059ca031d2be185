package perfbench

import org.apache.spark.sql.DataFrame

/** Per-layer numbers of a traced run, from the tracer's spans, jobs,
  * tasks and per-op counters. Every metric is a mean per timed op, except:
  * `stream.*`, `tagpivot.*` and `sources.*` are means over the ops that use
  * that layer; `*_share`, `*_util` and `*_ratio` are ratios of totals;
  * `pipeline.*` count configs and `fail_frac` is failed ops over ops.
  */
object Layers {

  /** Catalyst phase times of the plan a registry query returned. */
  def catalyst(df: DataFrame, tracer: Tracer): Unit = {
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      tracer.note(s"catalyst.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
  }

  /** Streaming progress that arrived during the op just finished. */
  def afterOp(tracer: Tracer): Unit = {
    tracer.drain()
    StreamListener.take().foreach { p =>
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      tracer.note("stream.batches", 1)
      tracer.note("stream.trigger_ms", d("triggerExecution"))
      tracer.note("stream.add_batch_ms", d("addBatch"))
      tracer.note("stream.planning_ms", d("queryPlanning"))
      tracer.note("stream.wal_commit_ms", d("walCommit"))
      tracer.note("stream.commit_offsets_ms", d("commitOffsets"))
      tracer.note("stream.state_commit_ms", p.stateOperators.map(_.commitTimeMs.toDouble).sum)
      tracer.noteMax("stream.state_store_instances", p.stateOperators.map(_.numStateStoreInstances.toDouble).sum)
      tracer.noteMax("stream.state_mem_bytes", p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
    }
  }

  /** Total length of the union of `[start, end)` intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  val counters: Seq[String] = Seq(
    "tables.open_ms", "tables.open_jobs", "extract.plan_ms", "transform.plan_ms",
    "tagpivot.ms", "tagpivot.jobs", "tagpivot.keys",
    "load.ms", "load.jobs", "load.files", "load.bytes", "load.rows", "load.cols_added",
    "sources.pages", "sources.page_ms", "sources.retries", "sources.rows_shipped",
    "build.ms", "build.jobs", "execute.ms", "execute.jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_launch_wait_ms", "exec.job_busy_ms",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.max_task_ms",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.task_failures",
    "driver.gap_ms",
    "stream.batches", "stream.trigger_ms", "stream.add_batch_ms", "stream.planning_ms",
    "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.state_commit_ms",
    "stream.state_store_instances", "stream.state_mem_bytes")

  /** Returns (metric -> value, self-time rows). */
  def summarize(
      tracer: Tracer,
      ops: Seq[Main.OpRec],
      cores: Int): (Map[String, Double], Seq[Map[String, Any]]) = {
    val l = tracer.listener.get
    val spansById = tracer.spans.map(s => s.id -> s).toMap
    def ancestors(id: Long): Iterator[Span] =
      Iterator.iterate(spansById.get(id))(_.flatMap(s => spansById.get(s.parent))).takeWhile(_.isDefined).map(_.get)
    val jobs = l.jobs.values.toSeq.filterNot(_.endMs.isNaN)
    val tasksByJob = l.tasks.groupBy(_.job)
    val selfByLayer = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    ops.indices.foreach { i =>
      val op = ops(i)
      val n = tracer.notes(i)
      val opSpans = tracer.spans.filter(_.op == i)
      val opJobs = jobs.filter { j =>
        if (j.span != 0) spansById.get(j.span).exists(_.op == i)
        else j.startMs >= op.startMs && j.startMs <= op.endMs
      }
      def layerOf(j: JobRec): Seq[String] = ancestors(j.span).map(_.layer).toSeq
      def spanMs(layer: String): Double = opSpans.filter(_.layer == layer).map(_.ms).sum
      def jobsIn(layer: String): Double = opJobs.count(j => layerOf(j).contains(layer)).toDouble
      n("tables.open_ms") = spanMs("tables")
      n("tables.open_jobs") = jobsIn("tables")
      n("extract.plan_ms") = spanMs("extract")
      n("tagpivot.ms") = spanMs("tagpivot")
      n("tagpivot.jobs") = jobsIn("tagpivot")
      n("transform.plan_ms") = spanMs("transform") - spanMs("tagpivot")
      n("load.ms") = spanMs("load")
      n("load.jobs") = jobsIn("load")
      n("build.ms") = spanMs("build")
      n("build.jobs") = jobsIn("build")
      n("execute.ms") = spanMs("execute")
      n("execute.jobs") = jobsIn("execute")
      val tasks = opJobs.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      n("exec.jobs") = opJobs.size
      n("exec.stages") = opJobs.map(_.stages).sum
      n("exec.tasks") = tasks.size
      n("exec.task_launch_wait_ms") = tasks.map(_.launchWaitMs).sum
      val busy = union(opJobs.map(j => (math.max(j.startMs, op.startMs), math.min(j.endMs, op.endMs))))
      n("exec.job_busy_ms") = busy
      n("exec.task_run_ms") = tasks.map(_.runMs).sum
      n("exec.task_cpu_ms") = tasks.map(_.cpuMs).sum
      n("exec.gc_ms") = tasks.map(_.gcMs).sum
      n("exec.max_task_ms") = if (tasks.isEmpty) 0.0 else tasks.map(_.durationMs).max
      n("exec.shuffle_read_bytes") = tasks.map(_.shuffleRead).sum.toDouble
      n("exec.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum.toDouble
      n("exec.spill_bytes") = tasks.map(_.spill).sum.toDouble
      n("exec.task_failures") = tasks.count(_.failed).toDouble
      n("driver.gap_ms") = (op.endMs - op.startMs) - busy

      // self time: a span's length minus what its child spans and the
      // jobs it started cover; a job's self time is its whole length
      opSpans.foreach { s =>
        val children = opSpans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)) ++
          opJobs.filter(j => j.span == s.id || (j.span == 0 && s.layer == "op"))
            .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
        selfByLayer(s.layer) = selfByLayer.getOrElse(s.layer, 0.0) + s.ms - union(children.toSeq)
      }
      selfByLayer("spark_job") = selfByLayer.getOrElse("spark_job", 0.0) +
        opJobs.map(j => j.endMs - j.startMs).sum
    }

    val nOps = ops.size.toDouble
    val notes = tracer.notes.take(ops.size)
    def total(k: String): Double = notes.map(_.getOrElse(k, 0.0)).sum
    val wall = ops.map(o => o.endMs - o.startMs).sum
    // layers only some ops use are averaged over those ops: streaming over
    // the drains, tag pivot over the tag configs, sources over the paged
    def opsUsing(k: String): Double = math.max(1, notes.count(_.getOrElse(k, 0.0) > 0)).toDouble
    val perUser = Map("stream." -> opsUsing("stream.batches"), "tagpivot." -> opsUsing("tagpivot.ms"),
      "sources." -> opsUsing("sources.pages"))
    val means = counters.map { k =>
      k -> total(k) / perUser.collectFirst { case (p, n) if k.startsWith(p) => n }.getOrElse(nOps)
    }.toMap
    val pagesServed = total("sources.pages")
    val pagedRows = total("sources.paged_load_rows")
    val metrics = means ++ Map(
      "sources.page_ms" -> (if (pagesServed > 0) total("sources.page_ms") / pagesServed else 0.0),
      "sources.ship_ratio" -> (if (pagedRows > 0) total("sources.rows_shipped") / pagedRows else 0.0),
      "load.bytes_per_row" -> (if (total("load.rows") > 0) total("load.bytes") / total("load.rows") else 0.0),
      "pipeline.processed" -> total("pipeline.processed"),
      "pipeline.skipped" -> total("pipeline.skipped"),
      "pipeline.failed" -> total("pipeline.failed"),
      "exec.core_util" -> total("exec.task_run_ms") / (wall * cores),
      "driver.gap_share" -> total("driver.gap_ms") / wall,
      "fail_frac" -> ops.count(!_.ok) / nOps)
    val selfRows = selfByLayer.toSeq.map { case (layer, ms) =>
      Map("layer" -> layer, "self_ms_per_op" -> ms / nOps, "share_of_op_wall" -> ms / wall)
    }
    (metrics, selfRows)
  }
}
