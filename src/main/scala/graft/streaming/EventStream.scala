package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY.md §2.8).
  *
  * The reference is batch-only — its incremental pattern is re-invocation
  * with WRITE_APPEND over successive date windows
  * (`/root/reference/main.py:31-33`, `data_load.py:44-50`). This module is
  * the engine's native streaming generalization of that pattern: a file
  * (or any) source → event-time tumbling window + watermark → append sink.
  *
  * Scale notes: watermarking bounds state (late events beyond the
  * watermark are dropped, so state size is O(active windows × keys), not
  * O(history)); the aggregation shuffles once on (window, key) exactly
  * like its batch shape, and checkpointing makes re-invocation exactly-once
  * — the property the reference approximates with append dispositions.
  */
/** A closed user session: the custom-state shape the reference has no
  * analogue for (SURVEY.md §2.8) but a streaming engine must offer.
  * Top-level (not nested in the object): Spark's state-encoder codegen
  * cannot instantiate inner case classes (janino fails resolving the
  * synthetic outer reference).
  */
final case class UserSession(
    user_id: Long,
    session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp,
    n_events: Long,
    sum_value: Double
)

/** Per-key session accumulator (top-level for the same codegen reason). */
final case class SessionState(
    startUs: Long,
    lastUs: Long,
    nEvents: Long,
    total: Double
)

object EventStream {

  /** µs-precision java.sql.Timestamp from unix microseconds (the
    * constructor alone truncates to ms; setNanos restores the full
    * sub-second fraction so session bounds round-trip exactly against
    * µs-precision engines).
    */
  private def tsFromUs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  private def closedSession(user: Long, s: SessionState): UserSession =
    UserSession(user, tsFromUs(s.startUs), tsFromUs(s.lastUs), s.nEvents, s.total)

  /** Event-time windowed counts over a streaming source. `watermark = None`
    * skips withWatermark — correct for complete-mode harness runs where a
    * watermark would be inert anyway (state is fully retained by the mode,
    * so claiming bounded state would be false).
    */
  def windowedCounts(
      stream: DataFrame,
      tsCol: String,
      keyCol: String,
      watermark: Option[String],
      windowLen: String
  ): DataFrame = {
    val in = watermark.fold(stream)(w => stream.withWatermark(tsCol, w))
    in.groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col(keyCol), col("n"))
  }

  /** Event-time sessionization with custom state
    * (`flatMapGroupsWithState` keyed by user): a session closes when a
    * later event arrives more than `gapMs` of event time after it.
    *
    * Batch-compatible form (NoTimeout): each user's TRAILING session stays
    * open and is never emitted — there is no watermark in a batch
    * invocation to prove it over. For a live stream where trailing
    * sessions must eventually close, use [[sessionizeStream]] (event-time
    * timeout). State per key is O(1) (four numbers). The per-invocation
    * sort buffers one group's slice of the CURRENT micro-batch (bounded by
    * batch size, not history); for unbounded batch inputs use
    * [[sessionizeBatch]], which never buffers a group.
    */
  def sessionize(
      events: Dataset[(Long, Long, Double)],
      gapMs: Long
  ): Dataset[UserSession] = {
    // event times are unix MICROseconds; the gap parameter is milliseconds
    val gapUs = gapMs * 1000L
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (user: Long, it: Iterator[(Long, Long, Double)], state: GroupState[SessionState]) => {
          // sort the batch by event time within the group for determinism
          val evs = it.toSeq.sortBy(_._2)
          var cur = state.getOption
          val closed = Seq.newBuilder[UserSession]
          evs.foreach { case (_, ts, v) =>
            cur match {
              case Some(s) if ts - s.lastUs <= gapUs =>
                cur = Some(s.copy(lastUs = ts, nEvents = s.nEvents + 1, total = s.total + v))
              case Some(s) =>
                closed += closedSession(user, s)
                cur = Some(SessionState(ts, ts, 1, v))
              case None =>
                cur = Some(SessionState(ts, ts, 1, v))
            }
          }
          cur match {
            case Some(s) => state.update(s)
            case None    => state.remove()
          }
          closed.result().iterator
        }
      )
  }

  /** Batch-native sessionization with BOUNDED memory: one shuffle on the
    * user key, a sort within partitions, then a single linear scan that
    * carries O(1) state — no per-user materialization, so a hot key with
    * a billion events streams through instead of buffering (the scale fix
    * for the groupByKey sort in [[sessionize]]). Emits exactly the
    * sessions [[sessionize]] emits in batch mode: a user's trailing
    * session stays open and is not reported.
    */
  def sessionizeBatch(
      events: Dataset[(Long, Long, Double)],
      gapMs: Long
  ): Dataset[UserSession] = {
    val gapUs = gapMs * 1000L
    import events.sparkSession.implicits._
    events
      .toDF("user_id", "ts_us", "value")
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        var curUser = 0L
        var hasUser = false
        var st: SessionState = null
        it.flatMap { case (u, ts, v) =>
          var out: Option[UserSession] = None
          if (!hasUser || u != curUser) {
            // previous user's trailing session stays open: dropped, same
            // contract as the stateful form in batch mode
            curUser = u; hasUser = true; st = null
          }
          if (st == null) st = SessionState(ts, ts, 1, v)
          else if (ts - st.lastUs <= gapUs)
            st = st.copy(lastUs = ts, nEvents = st.nEvents + 1, total = st.total + v)
          else {
            out = Some(closedSession(u, st))
            st = SessionState(ts, ts, 1, v)
          }
          out
        }
      }
  }

  /** Streaming sessionization that also CLOSES trailing sessions: when the
    * event-time watermark passes `last event + gap`, the open session is
    * emitted via state timeout and its state removed — so state is bounded
    * by ACTIVE users, and every session is eventually reported exactly
    * once. Input must carry (user_id long, ts timestamp, value double)
    * with a watermark already applied to `ts` (EventTimeTimeout requires
    * one).
    */
  def sessionizeStream(events: DataFrame, gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id").cast("long"), col("ts"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[SessionState]) => {
          val gapUs = gapMs * 1000L
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: close and emit
            val s = state.get
            state.remove()
            Iterator.single(closedSession(user, s))
          } else {
            val evs = it.map { case (_, ts, v) =>
              (ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L, v)
            }.toSeq.sortBy(_._1)
            var cur = state.getOption
            val closed = Seq.newBuilder[UserSession]
            evs.foreach { case (ts, v) =>
              cur match {
                case Some(s) if ts - s.lastUs <= gapUs =>
                  cur = Some(s.copy(lastUs = ts, nEvents = s.nEvents + 1, total = s.total + v))
                case Some(s) =>
                  closed += closedSession(user, s)
                  cur = Some(SessionState(ts, ts, 1, v))
                case None =>
                  cur = Some(SessionState(ts, ts, 1, v))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastUs / 1000L + gapMs)
            }
            closed.result().iterator
          }
        }
      )
  }

  /** Streaming exact dedup: drop re-deliveries of the same `idCols` key
    * arriving within the watermark delay of each other —
    * `dropDuplicatesWithinWatermark`, the streaming face of
    * [[graft.ops.Dedup.exact]]. State is bounded by the watermark (each
    * key's entry expires once the watermark passes its event time plus the
    * delay), so at-least-once sources (replayed pages, retried API calls —
    * the reference's re-invocation pattern) become effectively-once
    * without unbounded key memory.
    */
  def dedupWithinWatermark(
      stream: DataFrame,
      tsCol: String,
      watermark: String,
      idCols: Seq[String]
  ): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Drain a parquet directory as a stream with Trigger.AvailableNow into
    * an in-memory table and return the result — the batch-equivalence
    * harness used by StreamingSpec. Complete output mode (every window is
    * in the final table) with NO watermark: in complete mode a watermark
    * would not prune state anyway, so this path makes no bounded-state
    * claim. For the watermark/append semantics, see [[runOnceAppend]].
    */
  def runOnce(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      windowLen: String
  ): DataFrame =
    runStream(spark, srcDir, schema, watermark = None, windowLen, "complete")

  /** Same drain in APPEND mode with a real watermark: only windows the
    * final watermark has passed are emitted (trailing windows stay
    * pending, exactly the semantics a production append sink sees —
    * spec-asserted as a prefix-subset of the complete-mode result).
    */
  def runOnceAppend(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      watermark: String,
      windowLen: String
  ): DataFrame =
    runStream(spark, srcDir, schema, Some(watermark), windowLen, "append")

  private def runStream(
      spark: SparkSession,
      srcDir: String,
      schema: StructType,
      watermark: Option[String],
      windowLen: String,
      mode: String
  ): DataFrame = {
    val ss = stateScopedSession(spark, srcDir)
    val stream = ss.readStream.schema(schema).parquet(srcDir)
    val agg = windowedCounts(stream, "ts", "event_type", watermark, windowLen)
    drainToTable(agg, "win", mode, srcDir)
  }

  /** Drain the events fixture through [[sessionizeStream]] with
    * Trigger.AvailableNow — EventTimeTimeout end to end: in-gap events
    * fold into open sessions, and once the final data batch has advanced
    * the watermark, Spark schedules the extra state-flush batch
    * (shouldRunAnotherBatch) in which every trailing session whose
    * `last event + gap` the watermark strictly passed times out and is
    * emitted. The value column is pre-scaled to round(value·100) so the
    * session sum is an order-free integer-valued double (oracle-safe).
    *
    * `srcPath` may be a parquet file or directory; the fixture's
    * TIMESTAMP(NANOS) column is read as a long and truncated to µs,
    * exactly like the batch loader (graft.queries.Tables.t).
    */
  def sessionizeRunOnce(
      spark: SparkSession,
      srcPath: String,
      gapMs: Long,
      watermarkDelay: String
  ): DataFrame = {
    val in = streamEvents(stateScopedSession(spark, srcPath), srcPath)
      .select(
        col("user_id").cast("long").as("user_id"),
        col("ts"),
        round(col("value") * 100).as("value"))
      .withWatermark("ts", watermarkDelay)
    drainToTable(sessionizeStream(in, gapMs).toDF(), "sess", "append", srcPath)
  }

  /** Checkpoint restart-recovery proof: the [[sessionizeStream]] pipeline
    * driven through TWO separate query executions against the SAME
    * checkpoint — stop mid-corpus, then restart — with the output proven
    * equal to the uninterrupted run.
    *
    * This is the streaming generalization of the reference's real
    * incremental pattern (re-invocation over successive date windows with
    * WRITE_APPEND, `/root/reference/main.py:31-33`, `data_load.py:44-50`):
    * stage 1 sees only events up to a time split; the query STOPS; stage 2
    * adds the rest of the corpus and restarts from the checkpoint. The
    * file-source log skips already-processed files, the state store
    * recovers every open session, the watermark resumes from the commit
    * log, and the parquet sink's commit log makes the append exactly-once
    * across the restart.
    *
    * Correctness across the split is by construction: run 1's final
    * watermark is ≤ the split point while every stage-2 event is strictly
    * later, so any session closed by run-1 timeout (last + gap < wm₁)
    * could not have been extended by a stage-2 event (ts₂ > split ≥ wm₁ >
    * last + gap), and any session still open is recovered and folded
    * exactly as an uninterrupted run would. The merged output therefore
    * equals the single-run [[sessionizeRunOnce]] semantics, and the
    * DuckDB oracle is the same batch-replay SQL.
    */
  def restartRunOnce(
      spark: SparkSession,
      srcPath: String,
      gapMs: Long,
      watermarkDelay: String
  ): DataFrame = {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-restart-").toFile
    // The returned DataFrame reads the parquet sink lazily, so the tree
    // cannot be deleted here; a registered query leaks ~an events-table
    // copy per sweep otherwise.
    graft.queries.Scratch.deleteAtExit(tmp.getAbsolutePath)
    val srcDir = new java.io.File(tmp, "src"); srcDir.mkdirs()
    val outDir = new java.io.File(tmp, "out").getAbsolutePath
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath

    val ev = graft.queries.Tables
      .t(spark, new java.io.File(srcPath).getParent, "events")
    // staged files keep the 3-column schema (ts_us stays behind: it is
    // the loader's derived column, re-derived on re-read)
    val full = ev.select(
      col("user_id").cast("long").as("user_id"),
      col("ts"),
      round(col("value") * 100).as("value"))
    val bounds = ev.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi")).head()
    val splitUs = (bounds.getLong(0) + bounds.getLong(1)) / 2

    // stage a slice into a fresh dir (stageWrite), then move its part
    // files into the watched source dir (landFiles) — a file "arrival"
    // as the file source sees it. The two halves are SPLIT so stage-2's
    // write can run CONCURRENTLY with stage 1's drain (opt guide §2.6):
    // the restart semantics depend only on WHEN files LAND in srcDir
    // (the move), not on when their bytes were produced — the staged dir
    // is invisible to the file source. `pred` is over the loader frame
    // (may reference ts_us); the staged write projects it away.
    def stageWrite(batchName: String, pred: org.apache.spark.sql.Column): java.io.File = {
      val stage = new java.io.File(tmp, s"stage-$batchName")
      ev.filter(pred)
        .select(
          col("user_id").cast("long").as("user_id"),
          col("ts"),
          round(col("value") * 100).as("value"))
        .coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
      stage
    }
    def landFiles(batchName: String, stage: java.io.File): Unit =
      stage.listFiles().filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach {
        case (f, i) =>
          Files.move(f.toPath, new java.io.File(srcDir, s"$batchName-$i.parquet").toPath)
      }
    def arrive(batchName: String, pred: org.apache.spark.sql.Column): Unit =
      landFiles(batchName, stageWrite(batchName, pred))

    // one full query lifecycle: build from scratch (as a restarted job
    // would), drain whatever is newly available, stop
    def drainStage(stage: String): Unit = {
      // a FRESH scoped session per lifecycle, like a real restarted job;
      // both size state identically (the checkpoint pins the state-store
      // count at first start)
      val ss = stateScopedSession(spark, srcDir.getAbsolutePath)
      val in = ss.readStream
        .schema(graft.queries.Tables.open(ss, srcDir.getAbsolutePath).schema)
        .parquet(srcDir.getAbsolutePath)
        .withWatermark("ts", watermarkDelay)
      val q = sessionizeStream(in, gapMs)
        .toDF()
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(120000)) {
        q.stop()
        throw new IllegalStateException(
          s"restart drain stage $stage of $srcPath did not finish within 120 s")
      }
    }

    arrive("a", col("ts_us") <= splitUs)
    // stage-2's parquet write overlaps stage 1's drain; its files LAND
    // only after the drain returns (stop mid-corpus is defined by the
    // move, which stays strictly after drainStage("1"))
    val stagedB = graft.util.Par.run2(
      { drainStage("1"); () }, // first invocation: prefix only, then STOP
      stageWrite("b", col("ts_us") > splitUs))._2
    landFiles("b", stagedB)
    drainStage("2") // restarted invocation: recovers state + offsets + watermark
    spark.read
      .parquet(outDir)
      .select(
        col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value"))
  }

  /** [[dedupWithinWatermark]] driven end-to-end through an AvailableNow
    * drain over the events fixture: one survivor per (user_id,
    * event_type) key, re-deliveries within the watermark dropped. Only
    * the KEY columns are emitted: which physical row survives a
    * same-batch dedup depends on partition arrival order (not
    * deterministic), but the surviving key set is — it equals the batch
    * DISTINCT the oracle replays.
    *
    * The drain is ONE micro-batch. `dropDuplicatesWithinWatermark` emits
    * a key the first time it sees it, so the no-data batch AvailableNow
    * would schedule after the data batch emits nothing: its only work is
    * evicting watermark-expired keys from state stores that are dropped
    * when the drain ends. This drain's own session turns that batch off.
    * The other drains keep it: append-mode windows, event-time-timeout
    * sessions and outer joins emit on eviction.
    */
  def dedupRunOnce(spark: SparkSession, srcPath: String, watermarkDelay: String): DataFrame = {
    val ss = stateScopedSession(spark, srcPath)
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val in = streamEvents(ss, srcPath)
      .select(
        col("user_id").cast("long").as("user_id"),
        col("event_type"),
        col("ts"))
    val deduped = dedupWithinWatermark(in, "ts", watermarkDelay, Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"))
    drainToTable(deduped, "dedup", "append", srcPath)
  }

  /** Stream a parquet events fixture (file or directory; `ts` is
    * normalized to TimestampType across all three encodings the driver
    * has shipped — TIMESTAMP(NANOS)-as-long, naive µs (TIMESTAMP_NTZ),
    * UTC-adjusted µs — exactly like the batch loader
    * graft.queries.Tables.t; watermarks reject NTZ). The file stream
    * source only accepts directories: a single-file fixture is read via
    * its parent + a glob pinned to the file name. The schema is the batch
    * open's (`Tables.open`: nanos read as long, the first footer read on
    * the driver), so starting the stream runs no Spark job.
    */
  private[graft] def streamEvents(spark: SparkSession, srcPath: String): DataFrame = {
    val schema = graft.queries.Tables.open(spark, srcPath).schema
    val f = new java.io.File(srcPath)
    val reader =
      if (f.isDirectory) spark.readStream.schema(schema)
      else spark.readStream.schema(schema).option("pathGlobFilter", f.getName)
    val raw = reader.parquet(if (f.isDirectory) srcPath else f.getParent)
    // Single definition of the encoding contract (works identically on
    // streaming frames): batch and streaming cannot drift.
    graft.queries.Tables.normalizeTs(raw)
  }

  /** Stream-stream event-time interval join: purchases matched to the
    * same user's clicks in the `lookbackMs` window ending at the
    * purchase. Both sides are independent streaming sources with their
    * own watermark + the time-range join condition — exactly the shape
    * Structured Streaming needs to bound join state in continuous
    * operation (each side's buffered rows are dropped once the other
    * side's watermark passes the range bound). `joinType` is `"inner"`
    * or `"leftOuter"`.
    *
    * Inner-join emission does not wait for the watermark, so an
    * AvailableNow drain yields the complete batch-equivalent pair set.
    *
    * `"leftOuter"` ALSO emits unmatched purchases (click columns null) —
    * the semantic that makes outer streaming joins hard: a null result
    * can only be declared once the watermark proves no matching click can
    * still arrive, so null rows materialize on state EVICTION in a later
    * micro-batch (AvailableNow schedules the extra state-flush batch via
    * shouldRunAnotherBatch, exactly as the sessionization timeout path).
    *
    * Eviction contract (pinned by the oracle + StreamingSpec): with the
    * join condition `c_ts ∈ [p_ts − lookback, p_ts]`, a purchase is safe
    * once the global watermark passes `p_ts`; purchases at the stream
    * head (p_ts ≥ final watermark) stay buffered and do NOT emit a null
    * row — the same trailing-incompleteness every append-mode drain
    * exposes (see [[runOnceAppend]]). Inner matches emit
    * watermark-independently, so the left join's matched subset equals
    * the inner join's result exactly.
    */
  def intervalJoinRunOnce(
      spark: SparkSession,
      srcPath: String,
      lookbackMs: Long,
      watermarkDelay: String,
      joinType: String
  ): DataFrame = {
    // ONE scoped session for both sides (a cross-session join would mix
    // SQLConfs)
    val ss = stateScopedSession(spark, srcPath)
    val purchases = streamEvents(ss, srcPath)
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    val clicks = streamEvents(ss, srcPath)
      .filter(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"),
        col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    val joined = purchases
      .join(
        clicks,
        expr(s"""p_user = c_user
                |AND c_ts >= p_ts - INTERVAL $lookbackMs MILLISECOND
                |AND c_ts <= p_ts""".stripMargin),
        joinType)
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
    drainToTable(joined, "ivj", "append", srcPath)
  }

  /** Streaming CDC materialization: drain the event stream through a
    * `foreachBatch` MERGE that maintains a latest-state-per-user table via
    * [[graft.ops.Cdc.upsert]] — the streaming generalization of the
    * reference's WRITE_APPEND re-invocation (`data_load.py:44-50`): keys
    * re-delivered in later batches overwrite by version instead of
    * duplicating. The version is the (ts, event_id) struct, so ties are
    * impossible and the result is independent of micro-batch slicing
    * (max-version merge is associative and commutative). Each merged
    * generation is eagerly checkpointed and the superseded one's blocks
    * released — the same bounded-footprint discipline as the CC loop.
    * Value is pre-scaled to round(value·100) (order-free integer double).
    */
  def upsertRunOnce(spark: SparkSession, srcPath: String): DataFrame = {
    val in = streamEvents(stateScopedSession(spark, srcPath), srcPath)
      .select(
        col("user_id").cast("long").as("user_id"),
        col("ts"),
        round(col("value") * 100).as("value"),
        col("event_id").cast("long").as("event_id"))
    var target: DataFrame = null
    val q = in.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.withColumn("__ver", struct(col("ts"), col("event_id")))
        val incoming = graft.ops.Cdc.upsert(b, b.limit(0), "user_id", "__ver")
        target =
          if (target == null) incoming.localCheckpoint(true)
          else {
            val merged = graft.ops.Cdc.upsert(target, incoming, "user_id", "__ver")
              .localCheckpoint(true)
            graft.ops.Caching.release(target)
            merged
          }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000)) {
      q.stop()
      throw new IllegalStateException(s"stream upsert drain of $srcPath did not finish within 120 s")
    }
    require(target != null, s"stream upsert drain of $srcPath produced no batches")
    target.select(
      col("user_id"),
      col("ts").as("last_ts"),
      col("value").as("last_value"))
  }

  /** Streaming incremental curation — [[graft.ops.Curation
    * .incrementalVerdicts]] run as a `foreachBatch` drain (the
    * [[upsertRunOnce]] pattern): the document corpus arrives as a file
    * stream and EVERY MICRO-BATCH gets the full funnel — gopher quality,
    * dedup-vs-snapshot (content hash against the prior corpus's distinct-
    * hash index), and exact-gram decontamination against the fixed
    * benchmark slice — so verdicts ship while the ingest is still
    * draining, the shape a continuous 100 TB ingest pipeline runs.
    *
    * Scale contract, inherited from the batch form: the snapshot is read
    * ONCE, batch-side, into two BOUNDED indexes (distinct content hashes;
    * benchmark gram set — broadcast); per micro-batch work is O(batch).
    *
    * Batch-slicing independence (the property that makes the batch funnel
    * a valid oracle): quality, contamination, the content hash and the
    * in-snapshot flag are pure per-document values, computed inside the
    * batch's own funnel; the only cross-delta decision — which duplicate
    * within the DELTA is the kept representative — is min-doc-id per
    * hash, an associative/commutative merge resolved over the accumulated
    * verdict rows after the drain (the CDC upsert discipline: were it
    * resolved per batch, a later batch carrying a smaller id would
    * silently flip an emitted verdict). Each batch's rows are eagerly
    * checkpointed and the superseded accumulation released — bounded
    * footprint, the upsert/CC-loop discipline.
    */
  def curationRunOnce(
      spark: SparkSession,
      srcPath: String,
      isNewCol: org.apache.spark.sql.Column,
      isBenchCol: org.apache.spark.sql.Column,
      gramN: Int = 13,
      maxFilesPerTrigger: Int = 1
  ): DataFrame = {
    import graft.ops.{Caching, Decontam, TextOps}
    val ss = stateScopedSession(spark, srcPath)
    def shaped(df: DataFrame): DataFrame = df.select(
      col("doc_id").cast("long").as("doc_id"),
      col("text"),
      isNewCol.as("is_new"),
      isBenchCol.as("is_bench"))
    // static bounded indexes, built ONCE batch-side (never per micro-batch)
    val raw = graft.queries.Tables.open(ss, srcPath)
    val all = shaped(raw)
    val snapHashes = all.filter(!col("is_new"))
      .select(md5(coalesce(col("text"), lit(""))).as("h")).distinct()
      .withColumn("__in_snap", lit(true))
      .localCheckpoint(true)
    val benchGrams = Decontam.benchmarkGrams(
      Decontam.gramRows(all.filter(col("is_bench")), "doc_id", "text", lit(true), gramN))
      .localCheckpoint(true)
    val f = new java.io.File(srcPath)
    val reader0 = ss.readStream
      .schema(raw.schema)
      // slice the source into real micro-batches where the fixture has
      // multiple files (the scaled fixtures are 32-file splittable)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    val reader = if (f.isDirectory) reader0 else reader0.option("pathGlobFilter", f.getName)
    val docsStream = shaped(reader.parquet(if (f.isDirectory) srcPath else f.getParent))
      .filter(col("is_new"))
    var target: DataFrame = null
    val q = docsStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the per-batch funnel: gopher → dedup-vs-snapshot → decontam
        val quality = batch.select("doc_id")
          .join(
            TextOps.gopherQuality(batch, "doc_id", "text")
              .select(col("doc_id"), col("keep").as("__qk")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("__qk"), lit(false)).as("quality_pass"))
        val hashed = batch
          .select(col("doc_id"), col("is_bench"), md5(coalesce(col("text"), lit(""))).as("h"))
          .join(snapHashes, Seq("h"), "left")
          .select(
            col("doc_id"), col("is_bench"), col("h"),
            coalesce(col("__in_snap"), lit(false)).as("in_snap"))
        // benchmark-flagged delta docs are held out, not "contaminated"
        // by their own grams — the batch funnel's contaminatedDocs rule
        val hits = Decontam.gramRows(batch, "doc_id", "text", col("is_bench"), gramN)
          .filter(!col("is_bench"))
          .join(broadcast(benchGrams), "gh")
          .select("doc_id").distinct()
          .withColumn("__hit", lit(true))
        val inc = hashed
          .join(quality, "doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select(
            col("doc_id"), col("is_bench"), col("quality_pass"),
            coalesce(col("__hit"), lit(false)).as("contaminated"),
            col("h"), col("in_snap"))
          .localCheckpoint(true)
        target =
          if (target == null) inc
          else {
            val merged = target.unionByName(inc).localCheckpoint(true)
            Caching.release(target)
            Caching.release(inc)
            merged
          }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    // Timeout scales with the micro-batch count: the sf10 gate default
    // (maxFilesPerTrigger=1 over a 32-file fixture) already measures
    // ~80 s on a host with documented 20-35% contention bands, so a flat
    // 120 s (the cheap drains' precedent) left no headroom — a
    // contention burst would fail an entire sweep (r20 advice). 120 s
    // base + 15 s per expected micro-batch.
    val srcFiles = {
      val fl = f.isDirectory match {
        case true  => Option(f.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(1)
        case false => 1
      }
      math.max(1, fl)
    }
    val drainTimeoutMs =
      120000L + 15000L * ((srcFiles + maxFilesPerTrigger - 1) / maxFilesPerTrigger)
    if (!q.awaitTermination(drainTimeoutMs)) {
      q.stop()
      throw new IllegalStateException(
        s"stream curation drain of $srcPath did not finish within ${drainTimeoutMs / 1000} s")
    }
    require(target != null, s"stream curation drain of $srcPath produced no batches")
    // within-delta representative resolution over the ACCUMULATED rows
    // (associative min — slicing-independent; see the contract above)
    val reps = target.groupBy("h").agg(min(col("doc_id")).as("__rep"))
    val out = target
      .join(reps, "h")
      .select(
        col("doc_id"), col("is_bench"), col("quality_pass"),
        (col("in_snap") || col("doc_id") =!= col("__rep")).as("dup"),
        col("contaminated"))
      .withColumn(
        "keep",
        !col("is_bench") && col("quality_pass") && !col("dup") && !col("contaminated"))
    Caching.materializeAndRelease(out, target, snapHashes, benchGrams)
  }

  /** Stream-static enrichment: the streaming events join a BROADCAST
    * static dimension (per-type totals computed batch-side once) before a
    * tumbling-window count. The stream-static join is stateless — the
    * static side is planned as a broadcast hash join re-executed per
    * micro-batch, so no join state accumulates and no watermark is needed
    * for the join itself (only the windowed agg holds state, bounded by
    * the window). This is the standard "attach reference data to a live
    * stream" shape; at scale the dimension ships once per executor, not
    * per row. Complete-mode drain → batch-equivalent result.
    */
  def enrichRunOnce(
      spark: SparkSession,
      srcPath: String,
      windowLen: String
  ): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // one scoped session for the stream AND the static dim (single-session
    // join)
    val ss = stateScopedSession(spark, srcPath)
    val ev = streamEvents(ss, srcPath)
    val static = graft.queries.Tables
      .t(ss, new java.io.File(srcPath).getParent, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("type_total"))
    val agg = ev
      .join(broadcast(static), "event_type")
      .groupBy(window(col("ts"), windowLen), col("event_type"), col("type_total"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("ws"),
        col("event_type"),
        col("n"),
        col("type_total"))
    drainToTable(agg, "enrich", "complete", srcPath)
  }

  /** A session for ONE synchronous drain, with streaming STATE
    * partitioning sized to the drain's INPUT. `spark.sql.shuffle
    * .partitions` is read at query START and fixes the state-store count
    * for the checkpoint's lifetime; every store then pays RocksDB
    * open/commit (+ changelog upload) PER MICRO-BATCH regardless of how
    * many rows it holds — measured at sf10 (r14): the interval join's
    * two state stages ran 590 s/566 s with only 8 s/33 s of CPU (tasks
    * blocked on per-store lifecycle I/O, not work), and at sf0.1 (r15
    * stage probe) 32 stores × ~3k rows/store paid ~450–780 ms of
    * open/commit per (store, batch) — the whole wall of the top three
    * bench entries. So: stores = clamp(rows/32k, 4, parallelism) — a
    * store per ~32k input rows keeps per-store state far under memory
    * while amortizing the fixed lifecycle cost, the floor keeps the
    * flush batch parallel, and the cap keeps big drains at one store
    * per executor slot (state parallelism tracks slots, not batch
    * shuffle width: the sweep's 256-partition lever must not mean 256
    * stores per batch on 32 cores). The row count is a parquet
    * footer-metadata job (no column scan). A restart against an
    * existing checkpoint keeps the checkpoint's pinned store count
    * whatever this conf says — the resize-restart spec covers that.
    *
    * A CLONED session, not set-and-restore on the shared one (r13 did
    * the latter): the streaming query reads its conf from the frame's
    * own session, and mutating the shared session races any batch query
    * planned concurrently (the codebase does run parallel pipelines,
    * e.g. ann_recall_at_k's futures). `newSession()` shares the
    * SparkContext and cached data but isolates SQLConf; it starts from
    * the context's SparkConf rather than the parent's RUNTIME conf, so
    * the confs a drain depends on are carried over explicitly.
    */
  private def stateScopedSession(spark: SparkSession, srcPath: String): SparkSession = {
    val ss = spark.newSession()
    Seq(
      "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong"
    ).foreach(k => spark.conf.getOption(k).foreach(ss.conf.set(k, _)))
    // The state store is the drain's own choice, not the caller's: the two
    // settings below are RocksDB-only, so a registered streaming query
    // must run on any session a caller builds — including one left on (or
    // set to) the HDFS-backed default, where join state format v3 fails
    // with STATE_STORE_MULTIPLE_COLUMN_FAMILIES.
    graft.GraftSession.StateStoreConf.foreach { case (k, v) => ss.conf.set(k, v) }
    // Engine defaults for the drains this module owns (r22 per-micro-batch
    // decomposition: per-(store, batch) RocksDB lifecycle — open, put,
    // commit, changelog — is the dominant micro-batch cost, not the data):
    //  - join stateFormatVersion 3 collapses the stream-stream join's FOUR
    //    stores per partition into ONE RocksDB store with virtual column
    //    families (4.x, RocksDB-only) — 4× fewer store commits per
    //    micro-batch with an identical join result; the format is pinned
    //    per checkpoint at first start, and every drain here starts a
    //    fresh checkpoint.
    //  - trackTotalNumberOfRows=false drops the get-before-every-put the
    //    provider otherwise pays just to maintain the numRowsTotal METRIC
    //    (the documented production trade for write-heavy state).
    // Set unconditionally: the scoped session exists for exactly one
    // engine-owned drain against a fresh checkpoint (a conf.getOption
    // probe cannot distinguish a caller's explicit choice from the
    // registered default, and no restart against a foreign checkpoint
    // happens through this path — the format version a checkpoint pins
    // is this one's).
    ss.conf.set("spark.sql.streaming.join.stateFormatVersion", "3")
    ss.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    // No-data micro-batches stay on here: the append-mode window, the
    // sessionizer's event-time timeout and the outer join emit on state
    // eviction, which only that batch runs. The dedup drain, which emits
    // nothing on eviction, turns them off on its own session
    // ([[dedupRunOnce]]).
    ss.conf.set("spark.sql.shuffle.partitions", stateParallelism(ss, srcPath).toString)
    ss
  }

  /** `clamp(rows/32k, 4, defaultParallelism)` — see [[stateScopedSession]].
    * Falls back to full parallelism (the pre-sizing behavior) if the
    * source cannot be counted.
    *
    * The row count comes from the parquet FOOTERS, read driver-side
    * (r22): the previous `ss.read.parquet(srcPath).count()` launched a
    * Spark job — scheduler latency on every drain's critical path — to
    * compute exactly the number already sitting in each file's footer
    * metadata. Footer reads are bounded per file and the loop is capped
    * at [[FooterCountMaxFiles]] files (the gate fixtures are 1–32 files;
    * a production tree past the cap takes the distributed count, whose
    * job cost is amortized by the drain size that big a tree implies).
    */
  private val FooterCountMaxFiles = 256

  private def stateParallelism(ss: SparkSession, srcPath: String): Int = {
    val cap = ss.sparkContext.defaultParallelism
    val rows = footerRowCount(ss, srcPath).getOrElse {
      // fallback: the distributed count (needs the same nanos
      // normalization the stream read uses — save/restore so the session
      // keeps whatever value was copied from the parent)
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = ss.conf.getOption(key)
      ss.conf.set(key, "true")
      try ss.read.parquet(srcPath).count()
      catch { case scala.util.control.NonFatal(_) => return cap }
      finally prev match {
        case Some(v) => ss.conf.set(key, v)
        case None    => ss.conf.unset(key)
      }
    }
    math.min(cap.toLong, math.max(4L, rows / 32768L)).toInt
  }

  /** Total row count of a parquet file or directory from footer metadata
    * only — no Spark job, no column scan. None when the tree is bigger
    * than the bounded driver-side loop should handle or any footer is
    * unreadable.
    */
  private[graft] def footerRowCount(ss: SparkSession, srcPath: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(srcPath)
      val fs = p.getFileSystem(ss.sparkContext.hadoopConfiguration)
      val files = FooterSchema.dataFiles(fs, p)
      if (files.isEmpty || files.length > FooterCountMaxFiles) None
      else Some(FooterSchema.rowCount(files.map(FooterSchema.footer(fs, _))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The frame must already live on a [[stateScopedSession]] — the query
    * reads shuffle/state sizing from `out.sparkSession`, and the memory
    * sink registers its table there too.
    */
  private def drainToTable(
      out: DataFrame,
      kind: String,
      mode: String,
      src: String
  ): DataFrame = {
    val name = s"stream_${kind}_${System.nanoTime()}"
    val q = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    // a timed-out drain would silently return a partial table — fail loud
    if (!q.awaitTermination(120000)) {
      q.stop()
      throw new IllegalStateException(s"stream drain of $src did not finish within 120 s")
    }
    out.sparkSession.table(name)
  }
}
