package graft

import graft.load.Sink
import graft.pipeline.Pipeline
import graft.spec.ExportConfig
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** E2E pipeline semantics: per-config fault isolation (E1–E4) and the
  * sink's write dispositions + schema evolution (K1/K2).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(id: String) =
    ExportConfig(id, "ds", ListMap.empty, ListMap.empty, ListMap.empty, Seq.empty)

  test("per-config fault isolation: one failure doesn't stop the run (E1)") {
    val summary = Pipeline.run(Seq(cfg("a"), cfg("boom"), cfg("c"))) { c =>
      if (c.configId == "boom") throw new RuntimeException("exploded") else 5L
    }
    assert(summary.processedCount == 2)
    assert(summary.results.collect { case Pipeline.Failed(id, _) => id } == Seq("boom"))
    assert(summary.message == "Processed 2 configurations")
  }

  test("empty extract → Skipped with warning semantics (E2)") {
    val summary = Pipeline.run(Seq(cfg("empty"))) { _ => 0L }
    assert(summary.results.head.isInstanceOf[Pipeline.Skipped])
    assert(summary.processedCount == 0)
  }

  test("reports_filter scopes the run to one config (P7)") {
    val summary = Pipeline.run(Seq(cfg("a"), cfg("b")), reportsFilter = Some("b"))(_ => 1L)
    assert(summary.results.map(_.configId) == Seq("b"))
  }

  test("sink: WRITE_TRUNCATE overwrites, WRITE_APPEND accumulates (K1)") {
    val dir = tempDir("sink") + "/out"
    val df1 = Seq((1, "a")).toDF("k", "v")
    def load(df: org.apache.spark.sql.DataFrame, disposition: String) =
      Sink.writeParquetEvolving(spark, df, dir, Sink.WriteDisposition.fromString(disposition))
    load(df1, "WRITE_TRUNCATE")
    load(df1, "WRITE_APPEND")
    assert(spark.read.parquet(dir).count() == 2)
    load(df1, "WRITE_TRUNCATE")
    assert(spark.read.parquet(dir).count() == 1)
    // truncate replaces the schema as well as the rows: a narrower frame
    // leaves exactly its own columns, none carried over from the old table
    load(Seq(3).toDF("k"), "WRITE_TRUNCATE")
    assert(spark.read.option("mergeSchema", "true").parquet(dir).columns.toSeq == Seq("k"))
  }

  test("sink: schema evolution across appends (ALLOW_FIELD_ADDITION analogue)") {
    val dir = tempDir("sink-evolve") + "/out"
    Sink.writeParquetEvolving(spark, Seq((1, "a")).toDF("k", "v"), dir, Sink.WriteAppend)
    Sink.writeParquetEvolving(spark, Seq((2, "b", 9.5)).toDF("k", "v", "extra"), dir, Sink.WriteAppend)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("k", "v", "extra"))
    assert(merged.filter(col("extra").isNull).count() == 1)
    // an append that drops `v` keeps the union; one that retypes `v` is
    // rejected and writes nothing
    Sink.writeParquetEvolving(spark, Seq((3, 1.5)).toDF("k", "extra"), dir, Sink.WriteAppend)
    assert(spark.read.option("mergeSchema", "true").parquet(dir).columns.sorted.toSeq == Seq("extra", "k", "v"))
    intercept[Sink.SchemaEvolutionException] {
      Sink.writeParquetEvolving(spark, Seq((4, 1)).toDF("k", "v"), dir, Sink.WriteAppend)
    }
    assert(spark.read.option("mergeSchema", "true").parquet(dir).count() == 3)
  }

  test("sink: write-side evolution null-fills the union and verifies on-disk schema") {
    val dir = tempDir("sink-evolve-w") + "/out"
    val u1 = Sink.writeParquetEvolving(spark, Seq((1, "a")).toDF("k", "v"), dir, Sink.WriteAppend)
    assert(u1.fieldNames.toSeq == Seq("k", "v"))
    // second run adds `extra` and DROPS `v`: union keeps both, v null-filled
    val u2 = Sink.writeParquetEvolving(
      spark, Seq((2, 9.5)).toDF("k", "extra"), dir, Sink.WriteAppend)
    assert(u2.fieldNames.toSeq == Seq("k", "v", "extra"))
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.count() == 2)
    // the run-2 file itself carries the full union (write-side, not just
    // read-side merge): reading it alone shows all three columns
    assert(merged.filter(col("v").isNull).select("k").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("sink: write-side evolution rejects a type change on an existing column") {
    val dir = tempDir("sink-evolve-t") + "/out"
    Sink.writeParquetEvolving(spark, Seq((1, "a")).toDF("k", "v"), dir, Sink.WriteAppend)
    intercept[Sink.SchemaEvolutionException] {
      Sink.writeParquetEvolving(spark, Seq((2, 3.5)).toDF("k", "v"), dir, Sink.WriteAppend)
    }
  }

  test("sink: empty input raises (K2)") {
    val dir = tempDir("sink-empty") + "/out"
    val empty = Seq.empty[(Int, String)].toDF("k", "v")
    intercept[Sink.EmptyInputException] {
      Sink.writeParquetEvolving(spark, empty, dir, Sink.WriteAppend)
    }
    // on an existing destination the guard fires before truncate touches it
    Sink.writeParquetEvolving(spark, Seq((1, "a")).toDF("k", "v"), dir, Sink.WriteAppend)
    intercept[Sink.EmptyInputException] {
      Sink.writeParquetEvolving(spark, empty, dir, Sink.WriteTruncate)
    }
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("sink: an unreadable destination fails the append before anything is written") {
    val dir = tempDir("sink-unreadable") + "/out"
    Sink.writeParquetEvolving(spark, Seq((1, "a")).toDF("k", "v"), dir, Sink.WriteAppend)
    // plant a file whose `v` is BIGINT where the destination has STRING:
    // the merged schema read cannot reconcile the two
    val planted = tempDir("sink-planted") + "/out"
    Seq((2, 7L)).toDF("k", "v").write.parquet(planted)
    val part = Files.list(Paths.get(planted)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, Paths.get(dir, "part-planted.parquet"))
    def listing = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet
    val before = listing
    val e = intercept[org.apache.spark.SparkException] {
      Sink.writeParquetEvolving(spark, Seq((3, "c")).toDF("k", "v"), dir, Sink.WriteAppend)
    }
    assert(e.getMessage.contains("CANNOT_MERGE"), e)
    assert(listing == before)
  }

  test("sink: the footer-merged union equals the mergeSchema read, in order") {
    val dir = tempDir("sink-parity") + "/out"
    Sink.writeParquetEvolving(spark, Seq((1, "a")).toDF("k", "v"), dir, Sink.WriteAppend)
    Sink.writeParquetEvolving(spark, Seq((2, "b", 9.5)).toDF("k", "v", "extra"), dir, Sink.WriteAppend)
    val union = Sink.writeParquetEvolving(spark, Seq((3, 1.5)).toDF("k", "extra"), dir, Sink.WriteAppend)
    assert(union.fieldNames.toSeq == Seq("k", "v", "extra"))
    assert(union.fieldNames.toSeq == spark.read.option("mergeSchema", "true").parquet(dir).schema.fieldNames.toSeq)
  }

  test("sink: a failed WRITE_TRUNCATE leaves the destination whole") {
    val dir = tempDir("sink-trunc-fail") + "/out"
    Sink.writeParquetEvolving(spark, Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), dir, Sink.WriteAppend)
    // the last row of the last partition fails, after the other tasks wrote
    val failing = spark.range(0, 1000, 1, 4)
      .select(when(col("id") === 999, raise_error(lit("boom"))).otherwise(col("id")).as("k"))
    intercept[Exception] {
      Sink.writeParquetEvolving(spark, failing, dir, Sink.WriteTruncate)
    }
    val kept = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(kept.columns.toSeq == Seq("k", "v"))
    assert(kept.select("k").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("sink: no staging directory is left beside the destination") {
    val parent = Paths.get(tempDir("sink-staging"))
    val dir = parent.toString + "/out"
    def staging = Files.list(parent).iterator().asScala.map(_.getFileName.toString)
      .filter(_.contains(".staging-")).toSeq
    Sink.writeParquetEvolving(spark, Seq((1, "a")).toDF("k", "v"), dir, Sink.WriteAppend)
    assert(staging.isEmpty, staging)
    intercept[Sink.EmptyInputException] {
      Sink.writeParquetEvolving(spark, Seq.empty[(Int, String)].toDF("k", "v"), dir, Sink.WriteAppend)
    }
    assert(staging.isEmpty, staging)
    intercept[Exception] {
      Sink.writeParquetEvolving(
        spark, spark.range(0, 10, 1, 2).select(raise_error(lit("boom")).as("k")), dir, Sink.WriteTruncate)
    }
    assert(staging.isEmpty, staging)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("sink: an append starts only the jobs of a plain parquet write") {
    val root = tempDir("sink-jobs")
    val frame = spark.range(0, 1000, 1, 4).select(col("id").as("k"), (col("id") % 7).as("v"))
    Sink.writeParquetEvolving(spark, frame, root + "/out", Sink.WriteAppend)
    val l = new QueryListener
    spark.sparkContext.addSparkListener(l)
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      l.reset()
      body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      l.jobSpans.size
    }
    try {
      // no isEmpty job and no schema job: the same count as writing the
      // frame to a fresh path, whatever AQE splits that write into
      val plain = jobsOf(frame.write.parquet(root + "/plain"))
      val append = jobsOf(Sink.writeParquetEvolving(spark, frame, root + "/out", Sink.WriteAppend))
      assert(plain > 0)
      assert(append == plain, s"append ran $append jobs, a plain write $plain")
    } finally spark.sparkContext.removeSparkListener(l)
    assert(spark.read.parquet(root + "/out").count() == 2000)
  }

  test("table naming matches the reference prefix") {
    assert(Sink.tableName("cfg1") == "010_warner_dl_lf_cfg1")
  }

  test("full lifecycle: content rewrite → transform chain → evolving sink, per config") {
    import graft.extract.QueryExec
    import graft.transform.Transforms
    val outRoot = tempDir("e2e")
    val facts = graft.queries.Tables.t(spark, sf("sf0.001"), "events")
      .withColumn("lfm.fact.date_str", date_format(col("ts"), "yyyy-MM-dd"))
    val configs = Seq(
      ExportConfig("daily_a", "brand_content_daily",
        ListMap("sum:value" -> "float64"), ListMap("lfm.fact.date_str" -> "string"),
        ListMap.empty, Seq(2L, 3L, 5L)),
      ExportConfig("bad_dates", "brand_content_daily",
        ListMap("sum:value" -> "float64"), ListMap("lfm.fact.date_str" -> "string"),
        ListMap.empty, Seq(2L)),
      ExportConfig("daily_c", "brand_content_daily",
        // second run ADDS a metric → the sink's field-addition path
        ListMap("sum:value" -> "float64", "count:event_id" -> "int64"),
        ListMap("lfm.fact.date_str" -> "string"), ListMap.empty, Seq(7L, 11L))
    )
    val dest = outRoot + "/010_warner_dl_lf_shared"
    val summary = Pipeline.run(configs) { c =>
      val start = if (c.configId == "bad_dates") "not-a-macro" else "{{nDaysAgo 45}}"
      val extracted = QueryExec.runContent(
        facts, c, brandCol = "user_id", dateStrCol = "lfm.fact.date_str",
        requestStart = start, requestEnd = "{{nDaysAgo 10}}",
        today = java.time.LocalDate.parse("2024-02-20"))
      val transformed = Transforms.sanitizeColumnNames(
        Transforms.projectColumns(extracted, c.orderedColumns))
      Sink.writeParquetEvolving(spark, transformed, dest, Sink.WriteAppend)
      spark.read.parquet(dest).count()
    }
    // bad_dates failed (E1) without stopping the others
    assert(summary.processedCount == 2)
    assert(summary.results.collect { case Pipeline.Failed(id, _) => id } == Seq("bad_dates"))
    // schema evolved across the two successful configs: the added metric
    // column exists and is null for the first config's rows
    val merged = spark.read.option("mergeSchema", "true").parquet(dest)
    assert(merged.columns.toSet ==
      Set("lfm&fact&date_str", "sum:value", "count:event_id"))
    assert(merged.filter(col("`count:event_id`").isNull).count() > 0)
    assert(merged.count() > 0)
  }
}
