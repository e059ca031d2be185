package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.Tables

/** Fixture-encoding contract — the round-9 lesson encoded as unit tests.
  *
  * The driver regenerates `/root/testdata` between rounds and has shipped
  * `events.ts` in three different physical encodings so far:
  * parquet TIMESTAMP(NANOS) (Spark: long via `nanosAsLong`), naive
  * `timestamp[us]` (Spark: TIMESTAMP_NTZ), and UTC-adjusted
  * `timestamp[us]` (Spark: TIMESTAMP). The loaders must surface
  * TimestampType for ALL of them — `unix_micros` and `withWatermark`
  * reject NTZ, and a silent regeneration must fail THIS spec, not ten
  * oracle queries.
  */
class FixtureContractSpec extends SparkSpec {
  import spark.implicits._

  private val encodings = Seq("utc_us", "ntz_us", "ns_long", "nanos")

  /** Real parquet TIMESTAMP(NANOS) fixture (pre-round-9 driver encoding),
    * checked in as bytes because Spark cannot WRITE nanos parquet — only
    * this exercises the `nanosAsLong` legacy-read path end to end. Same
    * 3 rows as [[writeEvents]].
    */
  private val nanosFixtureDir = {
    // Classpath-resolved (not CWD-relative): sbt puts test resources on
    // the classpath, so this survives a runner launched from any CWD.
    val url = getClass.getResource("/events_ns")
    require(url != null, "events_ns fixture missing from test classpath")
    new java.io.File(url.toURI).getAbsolutePath
  }

  /** Write a 3-row events fixture under `dir` in the given encoding
    * (`nanos` is the checked-in fixture above — not writable from Spark;
    * `ns_long` is a plain INT64 column, covering loader totality for raw
    * nanos-as-long values without the parquet logical type).
    */
  private def writeEvents(dir: String, encoding: String): String = {
    if (encoding == "nanos") return nanosFixtureDir
    // shared session: restore whatever outputTimestampType later suites
    // expect, or which physical encoding THEY write becomes order-dependent
    val prevOut = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      val base = Seq(
        (1L, "2024-01-10 00:00:00", 7L, "click", 1.5, "{}"),
        (2L, "2024-01-20 12:34:56.789012", 8L, "purchase", 2.5, "{}"),
        (3L, "2024-01-30 23:59:59", 7L, "click", 3.5, "{}")
      ).toDF("event_id", "s", "user_id", "event_type", "value", "props")
      val ts = encoding match {
        case "utc_us"  => to_timestamp(col("s"))
        case "ntz_us"  => to_timestamp_ntz(col("s"))
        case "ns_long" => unix_micros(to_timestamp(col("s"))) * 1000L
      }
      base
        .withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1)
        .write
        .mode("overwrite")
        .parquet(s"$dir/events.parquet")
      dir
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevOut)
  }

  test("Tables.t surfaces events.ts as TimestampType for every shipped encoding") {
    val root = tempDir("graft-enc-")
    val loaded = encodings.map { enc =>
      val dir = writeEvents(s"$root/$enc", enc)
      val df = Tables.t(spark, dir, "events")
      assert(
        df.schema("ts").dataType == TimestampType,
        s"encoding $enc: ts surfaced as ${df.schema("ts").dataType}")
      enc -> df
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1)
        .toSeq
    }.toMap
    // same instants regardless of physical encoding (UTC session pin)
    assert(loaded("ntz_us") == loaded("utc_us"), "NTZ values diverge from UTC µs")
    assert(loaded("ns_long") == loaded("utc_us"), "nanos-as-long values diverge from UTC µs")
    assert(loaded("nanos") == loaded("utc_us"), "TIMESTAMP(NANOS) values diverge from UTC µs")
  }

  test("Tables.eventsRanged filters and normalizes under every shipped encoding") {
    val root = tempDir("graft-encr-")
    encodings.foreach { enc =>
      val dir = writeEvents(s"$root/$enc", enc)
      val df = Tables.eventsRanged(spark, dir, Some("2024-01-15"), Some("2024-01-25"))
      assert(
        df.schema("ts").dataType == TimestampType,
        s"encoding $enc: ranged ts surfaced as ${df.schema("ts").dataType}")
      val ids = df.select("event_id").collect().map(_.getLong(0)).toSeq
      assert(ids == Seq(2L), s"encoding $enc: range returned $ids")
    }
  }

  test("Tables.t opens every table without a Spark job, with the schema a plain read infers") {
    val root = tempDir("graft-open-")
    val eventDirs = encodings.map(enc => enc -> writeEvents(s"$root/$enc", enc))
    val tables = expectedSchemas.keys.toSeq.sorted.map(n => (sf("sf0.001"), n)) ++
      eventDirs.map { case (_, dir) => (dir, "events") }
    val l = new QueryListener
    spark.sparkContext.addSparkListener(l)
    def jobsOf[T](body: => T): (T, Int) = {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      l.reset()
      val out = body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      (out, l.jobSpans.size)
    }
    try {
      tables.foreach { case (dir, name) =>
        val (df, jobs) = jobsOf(Tables.t(spark, dir, name))
        assert(jobs == 0, s"$dir/$name: opening ran $jobs Spark jobs")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val plain = spark.read.parquet(s"$dir/$name.parquet")
        val want = if (name == "events") Tables.normalizeTs(plain).schema else plain.schema
        assert(df.schema == want, s"$dir/$name: opened as ${df.schema}, a plain read gives $want")
      }
      eventDirs.foreach { case (enc, dir) =>
        val (_, jobs) = jobsOf(Tables.eventsRanged(spark, dir, Some("2024-01-15"), None))
        assert(jobs == 0, s"encoding $enc: eventsRanged ran $jobs Spark jobs")
      }
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a stream drain opens its source without a Spark job, with the plain read's schema") {
    val root = tempDir("graft-stream-open-")
    val l = new QueryListener
    spark.sparkContext.addSparkListener(l)
    try {
      encodings.foreach { enc =>
        val path = s"${writeEvents(s"$root/$enc", enc)}/events.parquet"
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
        l.reset()
        val stream = graft.streaming.EventStream.streamParquet(spark, path)
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
        assert(l.jobSpans.isEmpty, s"encoding $enc: opening the stream ran ${l.jobSpans.size} jobs")
        assert(stream.isStreaming)
        val want = Tables.normalizeTs(spark.read.parquet(path)).schema
        assert(stream.schema == want, s"encoding $enc: streamed as ${stream.schema}, a plain read gives $want")
      }
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("Tables.t falls back to the plain read where no first footer gives the schema") {
    import org.apache.spark.sql.AnalysisException
    val root = tempDir("graft-open-fallback-")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/empty/region.parquet"))
    spark.range(4).withColumn("part", col("id") % 2).write.partitionBy("part").parquet(s"$root/parted/region.parquet")
    def condition(body: => Any): String = intercept[AnalysisException](body).getCondition
    for (dir <- Seq(s"$root/missing", s"$root/empty")) {
      val want = condition(spark.read.parquet(s"$dir/region.parquet"))
      assert(want != null)
      assert(condition(Tables.t(spark, dir, "region")) == want, dir)
    }
    val parted = Tables.t(spark, s"$root/parted", "region")
    assert(parted.schema == spark.read.parquet(s"$root/parted/region.parquet").schema)
    assert(parted.count() == 4)
    // a summary file is what Spark's inference reads first
    spark.range(2).write.parquet(s"$root/summary/region.parquet")
    spark.range(2).withColumn("extra", lit("x")).coalesce(1).write.parquet(s"$root/wide")
    val wideFile = new java.io.File(s"$root/wide").listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(wideFile.toPath, java.nio.file.Paths.get(s"$root/summary/region.parquet/_common_metadata"))
    val summarized = Tables.t(spark, s"$root/summary", "region")
    assert(summarized.schema == spark.read.parquet(s"$root/summary/region.parquet").schema)
    assert(summarized.schema.fieldNames.toSeq == Seq("id", "extra"))
    // a session that merges schemas has its inference read every footer,
    // not only the first (narrow) one
    spark.range(2).coalesce(1).write.parquet(s"$root/narrow")
    val narrowFile = new java.io.File(s"$root/narrow").listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/merged/region.parquet"))
    java.nio.file.Files.copy(narrowFile.toPath, java.nio.file.Paths.get(s"$root/merged/region.parquet/a.parquet"))
    java.nio.file.Files.copy(wideFile.toPath, java.nio.file.Paths.get(s"$root/merged/region.parquet/b.parquet"))
    assert(Tables.t(spark, s"$root/merged", "region").schema.fieldNames.toSeq == Seq("id"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Tables.t(spark, s"$root/merged", "region").schema.fieldNames.toSet == Set("id", "extra"))
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // a footer that does not read fails as the plain read fails
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/corrupt/region.parquet"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/corrupt/region.parquet/part-0.parquet"), "not parquet")
    val plainError = intercept[Exception](spark.read.parquet(s"$root/corrupt/region.parquet"))
    assert(intercept[Exception](Tables.t(spark, s"$root/corrupt", "region")).getClass == plainError.getClass)
  }

  test("eventsRanged pushes the range predicate to the parquet scan under NTZ encoding") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = tempDir("graft-encp-")
    def findScan(p: org.apache.spark.sql.execution.SparkPlan): Option[FileSourceScanExec] =
      p.collectFirst {
        case s: FileSourceScanExec => Some(s)
        case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      }.flatten
    // each encoding of the raw column takes its own bound literal
    encodings.foreach { enc =>
      val dir = writeEvents(s"$root/$enc", enc)
      val df = Tables.eventsRanged(spark, dir, Some("2024-01-15"), Some("2024-01-25"))
      val scan = findScan(df.queryExecution.executedPlan)
        .getOrElse(fail(s"encoding $enc: no FileSourceScanExec in plan"))
      // The range must reach the scan as data filters on the RAW column
      // (row-group/page pruning at scale); filtering after the conversion
      // would leave PushedFilters empty because Catalyst cannot invert it.
      val pushed = scan.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("GreaterThanOrEqual(ts"), s"encoding $enc: lower bound not pushed: $pushed")
      assert(pushed.contains("LessThan(ts"), s"encoding $enc: upper bound not pushed: $pushed")
    }
  }

  /** Spark-read column types for every driver fixture (post-Tables.t
    * normalization), per FIXTURES.md §B. A driver regeneration that
    * changes any physical encoding in a way the loaders don't absorb
    * fails here — one unit test instead of N oracle queries.
    */
  private val expectedSchemas: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
      "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    // ts_us is not in the driver's parquet: it is the loader's canonical
    // integer event time, derived once in Tables.normalizeTs (r11) so
    // event-time queries stop re-deriving unix_micros(ts) per site
    "events" -> Seq(
      "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType,
      "ts_us" -> LongType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType)
  )

  test("driver fixture schema contract (sf0.001)") {
    expectedSchemas.foreach { case (name, cols) =>
      val got = Tables
        .t(spark, sf("sf0.001"), name)
        .schema
        .fields
        .map(f => f.name -> f.dataType)
        .toSeq
      assert(got == cols, s"table $name: read $got, contract $cols")
    }
  }
}
