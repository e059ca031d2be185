package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // `--repeat N`: time each query N times
    // back-to-back and record the per-query MEDIAN — the sf10 protocol
    // fix (r14 verdict #3): single sweeps on this host ride a ±20-35%
    // noise band, and medians put per-query claims on a stable footing
    // without hand-run isolated triples. Use an odd N; for even N the
    // upper median is taken. The driver passes no args and takes the
    // sf-dependent default below (3 at gate scale, 1 on the large
    // fixtures).
    // positional parse that consumes ONLY the token following a bare
    // `--repeat` (not every all-digit positional), and fails loudly on a
    // trailing `--repeat` with no value — a silent repeat=1 would record
    // a single-pass sweep under a median-protocol label
    val (repeatArg, positional) = {
      var rep: Option[Int] = None
      val rest = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < args.length) {
        args(i) match {
          case "--repeat" =>
            if (i + 1 >= args.length)
              sys.error("--repeat requires a value (e.g. --repeat 3)")
            rep = Some(args(i + 1).toInt) // unparseable value throws — loud
            i += 2
          case a if a.startsWith("--repeat=") =>
            rep = Some(a.stripPrefix("--repeat=").toInt)
            i += 1
          case a =>
            rest += a
            i += 1
        }
      }
      (rep, rest.toSeq)
    }
    // Default repeat at the GATE scale (sf<=0.1) is 3, not 1 (r19 verdict
    // #2): the driver passes no args, and its single-pass BENCH_r{N}.json
    // kept sampling contention bursts on this intermittently-contended
    // host — r19's driver record showed six phantom >2x entries that
    // same-code --repeat 3 records disproved. Larger fixtures keep the
    // single-pass default (a tripled sf10 sweep would run ~1h; those
    // records are produced deliberately via sweep.py --repeat 3). An
    // explicit --repeat always wins.
    val defaultRepeat = {
      val sfNum = "sf([0-9][0-9.]*)/*$".r
        .findFirstMatchIn(sfDir)
        .flatMap(m => scala.util.Try(m.group(1).stripSuffix(".").toDouble).toOption)
      if (sfNum.exists(_ <= 0.1)) 3 else 1
    }
    val repeat = math.max(1, repeatArg.getOrElse(defaultRepeat))
    // optional positional comma-separated name filter (mirrors Verify's):
    // `runMain graft.Bench q_a,q_b` times just those queries at the
    // driver's exact session config. No args = full inventory.
    val only = positional.headOption.filter(_.nonEmpty).map(_.split(",").toSet)
    val spark = GraftSession.local()
    // untimed warmup: session/codegen/parquet-reader init otherwise lands
    // on whichever query happens to run first (map iteration order — i.e.
    // an arbitrary query absorbs JIT, janino, broadcast-pool, and footer
    // costs). Touch both fact tables and the three executor machineries
    // (hash agg, broadcast join, window) the inventory leans on.
    try {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      val ev = graft.queries.Tables.t(spark, sfDir, "events")
      val dim = ev.groupBy("event_type").count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("event_id")
      ev.join(broadcast(dim), "event_type")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 1).count()
    } catch { case _: Throwable => }
    // shuffle/spill accounting: the shared listener accumulates task
    // bytes, reset before each query. ALWAYS ON (r14 — the rounds' best
    // scale findings all came from bytes evidence, and an opt-in line kept
    // dropping out of recorded sweeps): the bytes line prints BEFORE the
    // compact summary, so the driver's bounded-tail capture still ends on
    // the untouched contract line.
    val metrics = new QueryListener
    spark.sparkContext.addSparkListener(metrics)
    val perQueryMetrics = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // per-run walls under --repeat — the band behind each median, kept in
    // the full record so a median record discloses its spread (r15)
    val perQueryRuns = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    // one isolated, forced timing of one query; returns (wall-or-marker,
    // this run's byte-delta json) so the caller can keep the MEDIAN run's
    // metrics rather than the last run's — spill bytes depend on memory
    // pressure (cache state, GC), not just the plan, so pairing the
    // median wall with an arbitrary run's spill misrepresents the record
    def timeOnce(
        name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame
    ): (Double, String) = {
      isolate(spark)
      // drain the async listener bus so the per-query byte counts are
      // complete by construction: nothing from the previous query lands
      // after the reset
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      metrics.reset()
      val t0 = System.nanoTime()
      // 1.0 = ok; -1.0 = failed; -2.0 = the query's own O(n²)-validator
      // guard declined the corpus (labeled validators refuse to run past
      // their bound — at sf10+ that is CORRECT behavior, not a failure,
      // and the sweep must record it as a deliberate skip). Only the
      // nearDupPairs scale guard qualifies; correctness preconditions
      // (e.g. chunkDedup's packing guard) still fail the sweep.
      // Force FULL materialization, not `.count()`: Catalyst prunes
      // row-count-preserving projections/windows under a count, so a lazy
      // registry frame would be timed as a column-pruned plan instead of
      // the query (text_lm_quality read 0.9 s in-sweep vs 13.2 s forced at
      // sf10 before this change). `toRdd.foreach` traverses every
      // InternalRow of the exact executed plan — nothing can be pruned.
      val outcome =
        try { fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()); 1.0 }
        catch {
          case e: Throwable if isScaleGuard(e) => -2.0
          case _: Throwable                    => -1.0
        }
      // capture the end time BEFORE the metrics drain, so the bus wait
      // never inflates the timed number
      val t1 = System.nanoTime()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      val bytesJson = metrics.bytes.json
      // failed queries record -1 (guard-skips -2) so the JSON can't
      // masquerade as a fast pass
      (if (outcome > 0) (t1 - t0) / 1e9 else outcome, bytesJson)
    }

    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val runBytes = scala.collection.mutable.ArrayBuffer.empty[String]
      var marker = 0.0 // -1/-2 if any run fails/guard-skips
      var i = 1
      // a failed/guard-skipped run ends the repeats — repeating a
      // deterministic failure only re-pays its cost
      while (i <= repeat && marker == 0.0) {
        val (s, bytes) = timeOnce(name, fn)
        if (s > 0) {
          runs += s
          runBytes += bytes
          if (repeat > 1) println(s"""{"query":"$name","run":$i,"sec":$s}""")
        } else {
          marker = s
          // a failed/guard-skipped run still publishes ITS byte deltas —
          // the shuffle/spill counters of exactly the run one wants to
          // debug (the wall stays the -1/-2 marker, so the pairing rule
          // "published wall and bytes come from one execution" holds)
          perQueryMetrics(name) = bytes
        }
        i += 1
      }
      // median wall (upper for even N), and the METRICS OF THAT SAME RUN
      // — the published wall and its spill/shuffle bytes come from one
      // execution, not a wall from run 2 paired with bytes from run 3
      val medianIdx =
        if (marker != 0.0 || runs.isEmpty) -1
        else runs.zipWithIndex.sortBy(_._1).apply(runs.length / 2)._2
      val sec =
        if (marker != 0.0) marker
        else runs(medianIdx)
      if (medianIdx >= 0) perQueryMetrics(name) = runBytes(medianIdx)
      if (repeat > 1) perQueryRuns(name) = runs.toSeq
      // one short line per query, printed as it finishes: live progress
      // locally, and the only per-query record that survives a
      // bounded-tail capture of this process's stdout
      println(s"""{"query":"$name","sec":$sec${if (repeat > 1) s""","median_of":$repeat""" else ""}}""")
      name -> sec
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val ms = perQueryMetrics.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"bytes","queries":$ms,"sf":"$sfDir"}""")
    // Complete per-query record → file (the full map is ~8 KB for the
    // 165-query inventory — larger than any bounded tail capture).
    // Overridable for local sweeps; failures keep their -1/-2 markers.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/last_bench_full.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      val runsField =
        if (perQueryRuns.isEmpty) ""
        else perQueryRuns
          .map { case (k, vs) => "\"" + k + "\":[" + vs.mkString(",") + "]" }
          .mkString(""","runs":{""", ",", "}")
      java.nio.file.Files.write(
        p,
        (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
          s""""sf":"$sfDir","repeat":$repeat$runsField}\n""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Summary line LAST, and deliberately COMPACT: the driver keeps only
    // the final ~2000 chars of stdout, and the historical single
    // full-inventory JSON line (~8 KB) was truncated mid-line every
    // round, leaving the official record unparseable ("parsed": null,
    // rounds 1-10). The contract fields stay (metric/value/unit/
    // queries/sf) but `queries` carries only the slowest 20 — the
    // adjudication signal — plus explicit failure/skip lists; the full
    // map is in the file above and in the per-query lines.
    val failed = results.collect { case (k, v) if v == -1.0 => k }.toSeq
    val skipped = results.collect { case (k, v) if v == -2.0 => k }.toSeq
    val slowest = results.toSeq.filter(_._2 > 0).sortBy(-_._2).take(20)
    val slowJson = slowest
      .map { case (k, v) => s"\"" + k + "\":" + (math.round(v * 1000) / 1000.0) }
      .mkString("{", ",", "}")
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val recordLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$slowJson,""" +
        s""""sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size},""" +
        s""""failed":${arr(failed)},"n_guard_skipped":${skipped.size},""" +
        s""""guard_skipped":${arr(skipped)},"queries_truncated_to":"slowest20",""" +
        s""""repeat":$repeat,"full_record":"$outPath"}"""
    println(recordLine)
    // r20 harness defect: the streaming state-store maintenance pool
    // races spark.stop() and dumps an RpcEnvStoppedException stack trace
    // AFTER the record line, scrolling it out of the driver's bounded
    // tail capture (BENCH_r20.json parsed null). Quiesce the maintenance
    // pool BEFORE the session stops so the race cannot fire, then stop,
    // then re-emit the record line so it is the process's LAST stdout
    // output no matter what shutdown logging interleaves.
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    spark.stop()
    println(recordLine)
  }

  /** True iff the failure chain is the nearDupPairs validation-bound
    * guard (matched via Similarity.ScaleGuardMarker — the shared constant
    * keeps the raise_error message and this detector from drifting): the
    * one guard whose firing at scale is the designed outcome rather than
    * a defect.
    */
  private def isScaleGuard(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 20) {
      val m = c.getMessage
      if (m != null && m.contains(graft.ops.Similarity.ScaleGuardMarker)) return true
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    false
  }

  /** Isolates per-query timing: drops caches left by previous queries AND
    * their localCheckpoint result blocks — clearCache() does not touch
    * checkpoint RDD blocks, and leaving their release to the
    * ContextCleaner (GC timing) let block churn bleed multi-second noise
    * into unrelated queries (recorded round-2 outliers). Blocking
    * unpersist so the next timing starts from a clean block manager.
    */
  private[graft] def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
