package graft

import graft.streaming.{EventStream, UserSession}
import org.apache.spark.sql.functions._


/** Structured Streaming capability (SURVEY.md §2.8: absent from the
  * reference; provided as the engine's incremental path). Verifies the
  * streaming tumbling-window aggregation agrees with its batch shape, the
  * append/watermark path emits exactly the watermark-passed prefix, and
  * event-time-timeout sessionization closes trailing sessions.
  */
class StreamingSpec extends SparkSpec {

  private def windowTriples(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

  test("file-stream tumbling window agg matches batch groupBy on the same data") {
    val src = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
      .select("ts", "event_type", "value")
    val dir = tempDir("stream-src")
    src.coalesce(1).write.mode("overwrite").parquet(dir)

    val batch = windowTriples(
      src
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n")))

    val streamed = windowTriples(
      EventStream.runOnce(spark, dir, src.schema, windowLen = "1 hour"))

    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("append mode with watermark emits exactly the watermark-passed windows") {
    val src = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
      .select("ts", "event_type", "value")
    val dir = tempDir("stream-src-append")
    src.coalesce(1).write.mode("overwrite").parquet(dir)

    val complete = windowTriples(
      EventStream.runOnce(spark, dir, src.schema, windowLen = "1 hour"))
    val appended = windowTriples(
      EventStream.runOnceAppend(spark, dir, src.schema, watermark = "2 hours", windowLen = "1 hour"))

    // append = the subset of complete whose window end the final watermark
    // passed; trailing windows stay pending by design
    assert(appended.subsetOf(complete))
    assert(appended.nonEmpty && appended.size < complete.size)
    val cutoff = appended.map(_._1.getTime).max
    // every non-emitted window is strictly later than every emitted one
    assert((complete -- appended).forall(_._1.getTime > cutoff))
  }

  test("checkpointed restart processes each file exactly once (append sink)") {
    val src = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
      .select("ts", "event_type", "value")
    val srcDir = tempDir("eo-src")
    val outDir = tempDir("eo-out") + "/sink"
    val ckpt = tempDir("eo-ckpt")
    val half = src.count() / 2
    src.limit(half.toInt).coalesce(1).write.mode("append").parquet(srcDir)

    def drain(): Unit = {
      val q = spark.readStream.schema(src.schema).parquet(srcDir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }

    drain()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == half)
    // restart with NO new input: the checkpoint prevents any re-append
    drain()
    assert(spark.read.parquet(outDir).count() == n1)
    // add a second file: only the delta is appended — the exactly-once
    // re-invocation the reference approximates with WRITE_APPEND
    src.exceptAll(src.limit(half.toInt)).coalesce(1).write.mode("append").parquet(srcDir)
    drain()
    assert(spark.read.parquet(outDir).count() == src.count())
  }

  test("dedupWithinWatermark drops re-delivered events across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("event_id", "ts", "value")
    val name = s"dedup_out_${System.nanoTime()}"
    val q = EventStream.dedupWithinWatermark(src, "ts", "10 minutes", Seq("event_id"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData((1L, ts(1000), 1.0), (2L, ts(1010), 2.0), (1L, ts(1000), 1.0))
      q.processAllAvailable()
      // re-delivery of event 1 in a LATER micro-batch, still within the
      // watermark delay → suppressed by state
      mem.addData((1L, ts(1005), 1.0), (3L, ts(1020), 3.0))
      q.processAllAvailable()
      val ids = spark.table(name).select("event_id").as[Long].collect().toList.sorted
      assert(ids == List(1L, 2L, 3L))
    } finally q.stop()
  }

  test("dedupRunOnce drains a two-file source in one micro-batch to the batch DISTINCT") {
    import spark.implicits._
    val dir = tempDir("dedup-two-files")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // (user 1, click) is re-delivered in the second file five minutes
    // later, inside the 10-minute watermark
    Seq((1L, "click", ts("2024-01-01 10:00:00")), (2L, "view", ts("2024-01-01 10:01:00")))
      .toDF("user_id", "event_type", "ts").coalesce(1).write.parquet(s"$dir/a")
    Seq((1L, "click", ts("2024-01-01 10:05:00")), (3L, "view", ts("2024-01-01 10:02:00")))
      .toDF("user_id", "event_type", "ts").coalesce(1).write.parquet(s"$dir/b")
    val src = new java.io.File(s"$dir/src")
    src.mkdirs()
    for ((part, i) <- Seq("a", "b").zipWithIndex) {
      val f = new java.io.File(s"$dir/$part").listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(src, s"$part-$i.parquet").toPath)
    }
    val l = new QueryListener
    spark.sparkContext.addSparkListener(l)
    try {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      l.reset()
      val out = EventStream.dedupRunOnce(spark, src.getPath, "10 minutes")
        .as[(Long, String)].collect().toList.sorted
      val distinct = spark.read.parquet(src.getPath).select("user_id", "event_type").distinct()
        .as[(Long, String)].collect().toList.sorted
      assert(out == distinct)
      assert(out == List(1L -> "click", 2L -> "view", 3L -> "view"))
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      assert(l.batches.size == 1, l.batches.map(_.batchId))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("q_stream_dedup drains in one micro-batch") {
    val l = new QueryListener
    spark.sparkContext.addSparkListener(l)
    try {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      l.reset()
      val rows = SparkEntry.queries("q_stream_dedup")(spark, sf("sf0.001")).count()
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      assert(rows > 0)
      val dedup = l.batches.filter(p => Option(p.name).exists(_.startsWith("stream_dedup")))
      assert(dedup.size == 1, dedup.map(p => (p.batchId, p.numInputRows)))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("sessionizeStream closes a trailing session via event-time timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val src = mem.toDF().toDF("user_id", "ts", "value").withWatermark("ts", "0 seconds")
    val name = s"sess_out_${System.nanoTime()}"
    val q = EventStream.sessionizeStream(src, gapMs = 60000)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // start past the epoch: the initial watermark is epoch 0 and a
      // stateful op drops events at-or-before it
      mem.addData((1L, ts(1000), 1.0), (1L, ts(1030), 2.0))
      q.processAllAvailable() // watermark after this batch: 1030 s
      mem.addData((2L, ts(9000), 5.0))
      q.processAllAvailable() // watermark advances to 9000 s
      mem.addData((2L, ts(9010), 5.0))
      q.processAllAvailable() // user 1's timeout (1030 s + gap < watermark) fires

      val sessions = spark.table(name).as[UserSession].collect()
      // user 1's trailing session was closed by timeout, exactly once
      val u1 = sessions.filter(_.user_id == 1L)
      assert(u1.length == 1)
      assert(u1.head.n_events == 2 && u1.head.sum_value == 3.0)
      assert(u1.head.session_end.getTime == 1030000L)
      // user 2's session is still live (events 10 s apart, watermark not past gap)
      assert(!sessions.exists(_.user_id == 2L))
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    val src = sf("sf0.001") + "/events.parquet"
    val streamed = EventStream
      .intervalJoinRunOnce(spark, src, lookbackMs = 6 * 3600 * 1000L, watermarkDelay = "0 seconds",
        joinType = "inner")
      .select("purchase_id", "click_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts").as("pts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("cu"), col("ts").as("cts"))
    val batch = p.join(c, expr("pu = cu AND cts >= pts - INTERVAL 6 HOUR AND cts <= pts"))
      .select("pid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("interval join on a caller's HDFS-provider session returns the default session's rows") {
    // join state format v3 is RocksDB-only: the drain must choose its own
    // state store, not inherit the caller's
    val src = sf("sf0.001") + "/events.parquet"
    def pairs(s: org.apache.spark.sql.SparkSession) = EventStream
      .intervalJoinRunOnce(s, src, lookbackMs = 6 * 3600 * 1000L, watermarkDelay = "0 seconds",
        joinType = "inner")
      .select("purchase_id", "click_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hdfs = spark.newSession()
    hdfs.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val got = pairs(hdfs)
    assert(got.nonEmpty)
    assert(got == pairs(spark))
  }

  test("stream-static enrichment joins each micro-batch against the dim without state") {
    // the standard streaming enrichment: a fact stream joined to a slowly
    // changing dim snapshot — stateless (no watermark needed), and the dim
    // side broadcasts per micro-batch at cluster scale
    val src = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
      .select("ts", "event_type", "user_id", "value")
    val dir = tempDir("stream-dim-src")
    src.coalesce(1).write.mode("overwrite").parquet(dir)
    val dim = spark.range(0, 1000)
      .select(col("id").as("user_id"), concat(lit("seg_"), col("id") % 4).as("segment"))

    val enriched = spark.readStream.schema(src.schema).parquet(dir)
      .join(dim, "user_id")
      .groupBy("segment")
      .agg(count(lit(1)).as("n"))
    val q = enriched.writeStream.format("memory").queryName("enrich")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000)
    finally q.stop()
    val streamed = spark.table("enrich")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

    val batch = src.join(dim, "user_id").groupBy("segment").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("restartRunOnce recovers a session straddling the stop/restart split") {
    import spark.implicits._
    // One user, four events 10 min apart starting at t0 plus a breaker at
    // t0+600min. restartRunOnce splits the corpus at the time midpoint
    // (t0+300min): stage 1 sees the four clustered events and STOPS with
    // the session open in the state store; stage 2 restarts from the
    // checkpoint and the breaker closes it. If state were lost across the
    // restart, the merged output could not contain the 4-event session.
    val t0 = 1700000000000000L // unix µs
    val min = 60L * 1000000L
    val events = Seq(0L, 10L, 20L, 30L, 600L).map(m => (1L, t0 + m * min, 2.0))
    val dir = tempDir("stream-restart-fix")
    events.toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

    val out = EventStream
      .restartRunOnce(spark, s"$dir/events.parquet",
        gapMs = 30 * 60 * 1000L, watermarkDelay = "0 seconds")
      .as[UserSession].collect()
    // exactly the one closed session, assembled across the restart; the
    // trailing single-event session at +600min stays open (within gap of
    // the final watermark) and is not emitted
    assert(out.length == 1, out.mkString("; "))
    assert(out.head.n_events == 4L)
    assert(out.head.session_start.getTime == t0 / 1000L)
    assert(out.head.session_end.getTime == t0 / 1000L + 30L * 60L * 1000L)
    assert(out.head.sum_value == 800.0) // 4 × round(2.0·100)
  }

  test("streaming state is RocksDB-backed (disk-spillable), not heap-bound HDFS maps") {
    // The config claim alone isn't proof the provider engaged — pin it
    // mechanically via the checkpoint layout: RocksDB with changelog
    // checkpointing writes <v>.changelog / <v>.zip state files, the
    // default HDFSBackedStateStoreProvider writes <v>.delta /
    // <v>.snapshot. At 100× the keyed state (sessions, dedup keys,
    // interval-join buffers) must spill to local disk, not executor heap.
    assert(
      spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        .endsWith("RocksDBStateStoreProvider"))

    val src = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
      .select("ts", "event_type", "value")
    val srcDir = tempDir("rocks-src")
    val outDir = tempDir("rocks-out") + "/sink"
    val ckpt = tempDir("rocks-ckpt")
    src.coalesce(1).write.mode("overwrite").parquet(srcDir)

    val q = spark.readStream.schema(src.schema).parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))

    val stateFiles = {
      val stateRoot = java.nio.file.Paths.get(ckpt, "state")
      val s = java.nio.file.Files.walk(stateRoot)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(_.getFileName.toString).toList
      } finally s.close()
    }
    assert(
      stateFiles.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
      s"no RocksDB state artifacts under $ckpt/state: $stateFiles")
    assert(
      !stateFiles.exists(_.endsWith(".delta")),
      s"HDFS-provider .delta files present — RocksDB did not engage: $stateFiles")
  }

  test("stateful restart survives a CHANGED shuffle conf: checkpoint pins the state-store count") {
    // the cluster-resize property: spark.sql.shuffle.partitions is read
    // at first query start and pinned in the checkpoint for the state's
    // lifetime; a restarted lifecycle with a DIFFERENT session conf must
    // recover and produce the same result, not re-shard state. Stage 1
    // runs a windowed count at 3 partitions, stage 2 adds data and
    // restarts the same checkpoint on a session configured with 7.
    val src = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
      .select("ts", "event_type", "value")
    val srcDir = tempDir("resize-src")
    val outDir = tempDir("resize-out") + "/sink"
    val ckpt = tempDir("resize-ckpt")
    val half = (src.count() / 2).toInt
    src.limit(half).coalesce(1).write.mode("append").parquet(srcDir)

    def drain(parts: String): Unit = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", parts)
      val q = ss.readStream.schema(src.schema).parquet(srcDir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }

    drain("3")
    src.exceptAll(src.limit(half)).coalesce(1).write.mode("append").parquet(srcDir)
    drain("7") // restarted lifecycle under a different conf
    // the two-lifecycle output must equal the watermark-passed subset of
    // the single-run complete aggregation (same assertion family as
    // runOnceAppend)
    val got = windowTriples(spark.read.parquet(outDir)
      .select(col("ws"), col("event_type"), col("n")))
    val complete = windowTriples(
      src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n")))
    assert(got.nonEmpty && got.subsetOf(complete))
    // windows the final watermark passed are all present and exact
    val cutoff = got.map(_._1.getTime).max
    assert((complete -- got).forall(_._1.getTime > cutoff))
  }

  test("left-outer interval join = inner matches + watermark-proven nulls only") {
    val src = sf("sf0.001") + "/events.parquet"
    val lookback = 6 * 3600 * 1000L
    val inner = EventStream.intervalJoinRunOnce(spark, src, lookback, "0 seconds", "inner")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val left = EventStream.intervalJoinRunOnce(spark, src, lookback, "0 seconds", "leftOuter")
      .collect()
    val leftMatched = left.filter(!_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1))).toSet
    val leftNulls = left.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    // matched subset emits watermark-independently: identical to inner
    assert(leftMatched == inner)
    // null rows exist, and never for a purchase that also matched
    assert(leftNulls.nonEmpty)
    assert(leftNulls.intersect(leftMatched.map(_._1)).isEmpty)
    // every purchase appears at most once as a null row
    val nullList = left.filter(_.isNullAt(1)).map(_.getLong(0))
    assert(nullList.length == nullList.distinct.length)
    // eviction contract: nulls only for purchases strictly below the
    // min-of-two-inputs watermark; head purchases stay buffered
    val ev = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
    val wm = math.min(
      ev.filter(col("event_type") === "purchase").agg(max("ts_us")).head().getLong(0),
      ev.filter(col("event_type") === "click").agg(max("ts_us")).head().getLong(0))
    val purchaseTs = ev.filter(col("event_type") === "purchase")
      .select("event_id", "ts_us").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(leftNulls.forall(pid => purchaseTs(pid) < wm))
    // completeness: every unmatched purchase below the watermark DID emit
    val unmatchedBelow = purchaseTs.collect {
      case (pid, ts) if ts < wm && !leftMatched.exists(_._1 == pid) => pid
    }.toSet
    assert(unmatchedBelow == leftNulls)
  }

  test("drain runs on a scoped session: shared conf unchanged under a concurrent batch job") {
    // A drain sizes streaming state to actual parallelism. Pre-r14 that
    // was a set-and-restore of spark.sql.shuffle.partitions on the SHARED
    // session, which races any concurrently planned batch query (the
    // engine does run parallel pipelines, e.g. ann_recall_at_k's
    // futures). Now each drain plans on a cloned session; this spec pins
    // the contract: a sentinel conf value on the shared session must be
    // observed by batch jobs at EVERY point during a concurrent drain.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val sentinel = "7" // != defaultParallelism(4), != test default(4)
    spark.conf.set(key, sentinel)
    try {
      val drain = Future {
        EventStream.sessionizeRunOnce(
          spark, sf("sf0.001") + "/events.parquet",
          gapMs = 30 * 60 * 1000L, watermarkDelay = "0 seconds")
      }
      var polls = 0
      while (!drain.isCompleted && polls < 10000) {
        // a real concurrent batch job (shuffles on the shared session) +
        // the conf read a concurrent planner would perform
        assert(spark.conf.get(key) == sentinel)
        assert(spark.range(100).groupBy((col("id") % 3).as("k")).count().count() == 3L)
        polls += 1
      }
      val result = Await.result(drain, 120.seconds)
      assert(result.count() > 0)
      assert(spark.conf.get(key) == sentinel)
      // the drain planned elsewhere: its frame lives on a scoped session
      // sized to actual parallelism, not the shared one
      assert(result.sparkSession ne spark)
      assert(
        result.sparkSession.conf.get(key) ==
          spark.sparkContext.defaultParallelism.toString)
      assert(polls > 0, "drain finished before any concurrent batch job ran")
    } finally spark.conf.set(key, prev)
  }

  test("footer row count equals the distributed count (file and directory sources)") {
    // the state-sizing row count now comes from parquet footers read
    // driver-side (r22) — no Spark job; it must agree exactly with the
    // distributed count on both source shapes the drains accept
    val file = sf("sf0.001") + "/events.parquet"
    val sparkCount = graft.queries.Tables.t(spark, sf("sf0.001"), "events").count()
    assert(EventStream.footerRowCount(spark, file).contains(sparkCount))

    val dir = tempDir("footer-count")
    graft.queries.Tables.t(spark, sf("sf0.001"), "events")
      .select("user_id", "event_id").repartition(3)
      .write.mode("overwrite").parquet(dir)
    assert(EventStream.footerRowCount(spark, dir).contains(sparkCount))
  }
}
