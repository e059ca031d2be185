package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkEntry
import graft.extract.QueryExec
import graft.load.Sink
import graft.pipeline.Pipeline
import graft.queries.Tables
import graft.spec.{DateMacro, ExportConfig}
import graft.transform.{TagPivot, Transforms}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's engine side: one JVM, one session, one client.
  *
  * Usage: `perfbench.Main <plan.json>`. The plan (written by `run.py`
  * from the seed) names the workload, the generated input directory, a
  * work directory, the core count, the number of timed rounds, whether to
  * trace, and the op set. The run:
  *
  *  1. builds a session shaped like `graft.Bench`'s;
  *  2. warms up: runs every op once untimed, keeping each registry op's
  *     output for the correctness checks, and times the host-speed probe
  *     ([[Calib]]); then prints `READY <epoch ms>`;
  *  3. runs the op set for the plan's number of rounds in a closed loop,
  *     timing each op; between ops it clears cached data, runs a full GC
  *     and records the heap still in use; after each round it times the
  *     probe again;
  *  4. writes `result.json` (and `spans.json` when tracing) to the work
  *     directory.
  *
  * An op is one export config through `Pipeline.run`, one forced registry
  * query, or one streaming drain (a registry query that drains a stream).
  */
object Main {
  private val mapper = new ObjectMapper()

  final case class OpRec(name: String, round: Int, startMs: Double, endMs: Double, ok: Boolean,
      rows: Long, error: String)

  private def phase(name: String): Unit = System.err.println(
    f"[perfbench] $name at ${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.2f s")

  def main(args: Array[String]): Unit = {
    phase("main")
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val workload = plan.get("workload").asText()
    val data = plan.get("data").asText()
    val work = plan.get("work").asText()
    val cores = plan.get("cores").asInt()
    val rounds = plan.get("rounds").asInt()
    val traced = plan.get("trace").asInt() == 1

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.checkpoint.dir", s"$work/checkpoints")
      .config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    if (traced) builder.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(traced, spark.sparkContext)
    phase("session up")
    val calib = new Calib(spark, s"$work/calib")

    val result = mutable.LinkedHashMap.empty[String, Any]
    val exportRun = if (workload == "etl_export") Some(new Export(spark, plan, data, work, tracer, result)) else None
    val ops: IndexedSeq[(String, Int => (Boolean, Long))] = exportRun.map(_.ops).getOrElse {
      val names = plan.get("ops").elements().asScala.map(_.asText()).toIndexedSeq
      new Registry(spark, names, data, work, tracer, result).ops
    }
    // warm-up, untimed: every op runs once; registry ops keep their
    // outputs for the checks (the export workload's timed appends are
    // checked themselves)
    val warmErrors = mutable.LinkedHashMap.empty[String, String]
    ops.foreach { case (name, run) =>
      clean(spark)
      try run(0)
      catch { case e: Throwable => warmErrors(name) = s"${e.getClass.getName}: ${e.getMessage}" }
    }
    result("warm_errors") = warmErrors
    clean(spark)
    // the probe's own warm-up, then its first samples
    (1 to 3).foreach(_ => calib.sample())
    calib.samples.clear()
    (1 to 2).foreach(_ => calib.sample())
    phase("warm-up done")
    val ready = System.currentTimeMillis()
    println(s"READY $ready")

    val recs = mutable.ArrayBuffer.empty[OpRec]
    var heapPeak = 0L
    for (round <- 1 to rounds) {
      ops.foreach { case (name, run) =>
        tracer.drain()
        tracer.beginOp(recs.size)
        val s = tracer.nowMs()
        val (ok, rows, err) =
          try { val (ok, rows) = tracer.span("op")(run(round)); (ok, rows, "") }
          catch { case e: Throwable => (false, -1L, s"${e.getClass.getName}: ${e.getMessage}") }
        recs += OpRec(name, round, s, tracer.nowMs(), ok, rows, err)
        if (traced) Layers.afterOp(tracer)
        if (!ok) System.err.println(s"[perfbench] op $name failed in round $round: $err")
        // untimed: drop the op's cached data, then measure the heap it
        // left behind once garbage is collected
        clean(spark)
        System.gc()
        heapPeak = math.max(heapPeak, java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      }
      calib.sample()
    }
    tracer.drain()

    result("ready_ms") = ready
    result("calib") = calib.samples.map { case (at, ms) => Map("at_ms" -> at, "ms" -> ms) }.toSeq
    result("heap_peak_mb") = heapPeak / 1048576.0
    result("ops") = recs.map { r =>
      Map("name" -> r.name, "round" -> r.round, "start_ms" -> r.startMs, "end_ms" -> r.endMs,
        "ok" -> r.ok, "rows" -> r.rows, "error" -> r.error)
    }.toSeq
    if (traced) {
      val (metrics, selfTimes) = Layers.summarize(tracer, recs.toSeq, cores)
      result("layers") = metrics
      result("self_time") = selfTimes
      Files.writeString(Paths.get(s"$work/spans.json"), Json.write(tracer.spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      }.toSeq ++ tracer.listener.toSeq.flatMap(_.jobs.values.map { j =>
        Map("job" -> j.id, "parent" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs)
      })))
    }
    Files.writeString(Paths.get(s"$work/result.json"), Json.write(result))
    tracer.close()
    exportRun.foreach(_.stub.stop())
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    spark.stop()
    println("DONE")
    System.exit(0) // no stray non-daemon thread may keep the run alive
  }

  /** What `graft.Bench` does between queries: drop cached tables and every
    * persisted RDD, so no op reuses another's cached data.
    */
  def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** Registry workloads: each op is one query from `SparkEntry.queries`,
  * built by calling its function and forced with
  * `queryExecution.toRdd.foreach`, as `graft.Bench` times it.
  */
final class Registry(
    spark: SparkSession,
    names: IndexedSeq[String],
    data: String,
    work: String,
    tracer: Tracer,
    result: mutable.Map[String, Any]) {
  private val all = SparkEntry.queries
  private val oracles = SparkEntry.oracleSql
  names.foreach(n => require(all.contains(n), s"no registry query named $n"))
  private val schemas = mutable.LinkedHashMap.empty[String, String]
  private val rowsSeen = mutable.LinkedHashMap.empty[String, Long]
  result("oracles") = names.distinct.flatMap(n => oracles.get(n).map(n -> _)).toMap
  result("verify_rows") = rowsSeen

  val ops: IndexedSeq[(String, Int => (Boolean, Long))] = names.map(n => n -> ((r: Int) => run(n, r)))

  private def run(name: String, round: Int): (Boolean, Long) = {
    val df = tracer.span("build")(all(name)(spark, data))
    if (round == 0) {
      df.coalesce(1).write.mode("overwrite").parquet(s"$work/verify/$name")
      schemas(name) = df.schema.json
      rowsSeen(name) = spark.read.parquet(s"$work/verify/$name").count()
      (true, rowsSeen(name))
    } else {
      val n = spark.sparkContext.longAccumulator
      tracer.span("execute")(df.queryExecution.toRdd.foreach(_ => n.add(1)))
      if (tracer.enabled) Layers.catalyst(df, tracer)
      // a wrong shape or row count is a failed op
      (df.schema.json == schemas(name) && n.value == rowsSeen(name), n.value)
    }
  }
}

/** The export workload: the reference's config loop. Each op runs one
  * export config through `Pipeline.run` — extract (`Tables.t` or the paged
  * HTTP source, then `QueryExec.run`/`runContent`), the transform chain
  * (`Transforms.*`, `TagPivot.pivotTags`) and an evolving append
  * (`Sink.writeParquetEvolving`) into a destination it shares with other
  * configs. Every round appends into fresh destinations.
  */
final class Export(
    spark: SparkSession,
    plan: JsonNode,
    data: String,
    work: String,
    tracer: Tracer,
    result: mutable.Map[String, Any]) {
  private val TagCol = "lfm.content.tags"
  private val today = java.time.LocalDate.parse(plan.get("today").asText())
  private val doc = Files.readString(Paths.get(plan.get("configs_path").asText()))
  // the spec layer: parse the configuration document (median of 5)
  private val (configs, parseMs) = {
    val times = (1 to 5).map { _ =>
      val t = System.nanoTime(); val c = ExportConfig.parseAll(doc); (c, (System.nanoTime() - t) / 1e6)
    }
    (times.head._1, times.map(_._2).sorted.apply(2))
  }
  private val stubSpec = plan.get("stub")
  val stub = new PageStub(
    stubSpec.get("offset").asLong(), stubSpec.get("total").asLong(),
    stubSpec.get("fail_every").asInt(), stubSpec.get("salt").asLong())
  private val pageSize = stubSpec.get("page_size").asInt()
  private val entries = plan.get("etl_plan").elements().asScala.toIndexedSeq
  private val byId = configs.map(c => c.configId -> c).toMap
  // per destination: columns after its latest append
  private val destCols = mutable.HashMap.empty[String, Int]
  val loads = mutable.ArrayBuffer.empty[Map[String, Any]]
  result("spec_parse_ms") = parseMs
  result("loads") = loads

  val ops: IndexedSeq[(String, Int => (Boolean, Long))] =
    entries.map(e => e.get("config_id").asText() -> ((r: Int) => run(e, r)))

  private def run(e: JsonNode, round: Int): (Boolean, Long) = {
    val cfg = byId(e.get("config_id").asText())
    val dest = s"$work/sink/r$round/${Sink.tableName(e.get("dest").asText())}"
    stub.resetFaults()
    val stub0 = stubCounts
    val summary = tracer.span("pipeline")(Pipeline.run(Seq(cfg))(c => process(c, e, dest, round)))
    stubCounts.zip(stub0).zip(Seq("pages", "page_ms", "retries", "rows_shipped")).foreach {
      case ((a, b), k) => tracer.note(s"sources.$k", a - b)
    }
    summary.results.head match {
      case Pipeline.Processed(_, rows) => tracer.note("pipeline.processed", 1); (true, rows)
      case Pipeline.Skipped(_, _)      => tracer.note("pipeline.skipped", 1); (false, 0L)
      case Pipeline.Failed(_, _)       => tracer.note("pipeline.failed", 1); (false, 0L)
    }
  }

  private def stubCounts: Seq[Double] =
    Seq(stub.pages.get.toDouble, stub.serviceNanos.get / 1e6, stub.retries.get.toDouble,
      stub.rowsShipped.get.toDouble)

  private def process(cfg: ExportConfig, e: JsonNode, dest: String, round: Int): Long = {
    val paged = e.get("source").asText() == "paged"
    val (facts, brandCol, dateCol) =
      if (paged)
        (tracer.span("sources")(spark.read.format("graft.sources.PagedSource")
          .option("endpoint", stub.endpoint).option("pageSize", pageSize.toString).load()),
          "brand_id", "date_str")
      else (tracer.span("tables")(Tables.t(spark, data, "content")), "lfm.brand_view.id", "lfm.fact.date_str")
    val brandAttrs = cfg.metaDimensions.keys.filter(_.startsWith("lfm.brand.")).toSeq
    val dims =
      if (brandAttrs.isEmpty) Nil
      else Seq(QueryExec.DimJoin(
        tracer.span("tables")(Tables.t(spark, data, "brands")), brandCol, "lfm.brand.id", brandAttrs))
    val reqStart = e.get("request_start").asText()
    val reqEnd = e.get("request_end").asText()
    val extracted = tracer.span("extract") {
      if (cfg.isContentDataset)
        QueryExec.runContent(facts, cfg, brandCol, dateCol, reqStart, reqEnd, today, dims)
      else
        QueryExec.run(facts, cfg, brandCol, dateCol,
          DateMacro.resolve(reqStart, today), DateMacro.resolve(reqEnd, today), dims)
    }
    val hasTags = cfg.metaDimensions.contains(TagCol)
    val transformed = tracer.span("transform") {
      val kept = Transforms.projectColumns(Transforms.dropRowsContaining(extracted), cfg.orderedColumns)
      val typed = Transforms.castColumns(kept, cfg.dtypes - TagCol)
      val pivoted = if (hasTags) tracer.span("tagpivot")(TagPivot.pivotTags(typed, TagCol)) else typed
      val datetimes = cfg.dtypes.collect { case (k, "datetime64[ns]") => k }.toSeq
      val (dates, stamps) = datetimes.partition(_.endsWith("date_str"))
      Transforms.sanitizeColumnNames(Transforms.formatDates(pivoted, dates, stamps))
    }
    val before = parquetFiles(dest).toSet
    val union = tracer.span("load")(Sink.writeParquetEvolving(spark, transformed, dest, Sink.WriteAppend))
    val added = parquetFiles(dest).filterNot(before)
    val rows = added.map(footerRows).sum
    val bytes = added.map(p => Files.size(p)).sum
    val colsAdded = destCols.get(dest).map(union.length - _).getOrElse(0)
    destCols(dest) = union.length
    val tagKeys = transformed.columns.count(_.startsWith("lfm&content&tags&"))
    loads += Map(
      "round" -> round, "config_id" -> cfg.configId, "dest" -> dest, "rows" -> rows,
      "files" -> added.size, "bytes" -> bytes, "columns" -> union.fieldNames.toSeq)
    Seq("load.files" -> added.size.toDouble, "load.bytes" -> bytes.toDouble, "load.rows" -> rows.toDouble,
      "load.cols_added" -> colsAdded.toDouble, "tagpivot.keys" -> tagKeys.toDouble,
      "sources.paged_load_rows" -> (if (paged) rows.toDouble else 0.0))
      .foreach { case (k, v) => tracer.note(k, v) }
    rows
  }

  private def parquetFiles(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Nil
    else Files.list(d).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
  }

  private def footerRows(p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }
}

/** Host-speed probe. On a shared host the same work can take 1.3 to 1.6
  * times as long from one minute to the next, and the swing moves whole
  * runs. The probe is a fixed plain-Spark job — no engine code — with the
  * ops' kind of work: a small parquet write of `cores` files, a read and a
  * shuffled group-by. Its time, taken several times per run, lets the
  * benchmark scale the run's times to one reference speed. Keeps
  * (epoch ms, job ms) per sample.
  */
final class Calib(spark: SparkSession, dir: String) {
  val samples = mutable.ArrayBuffer.empty[(Long, Double)]

  def sample(): Unit = {
    val t = System.nanoTime()
    spark.range(0, 100000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id % 97 AS k", "id AS v").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).groupBy("k").count().collect()
    samples += ((System.currentTimeMillis(), (System.nanoTime() - t) / 1e6))
  }
}

/** Minimal JSON writer for the result files (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def write(v: Any): String = v match {
    case null                 => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(write).mkString("[", ",", "]")
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number            => n.toString
    case o                    => quote(o.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    sb += '"'
    sb.toString
  }
}
