package graft.load

import org.apache.spark.sql.DataFrame

/** The destination-agnostic load seam (K1, `/root/reference/data_load.py:7-59`).
  *
  * The reference's load stage is a BigQuery JSON load job; this engine's
  * offline stand-in is evolving parquet ([[Sink.writeParquetEvolving]]).
  * `TableSink` is the seam between them: `Pipeline.run`'s per-config
  * `process` closure loads through a `TableSink`, and which warehouse
  * backs it is an injection decision — [[ParquetTableSink]] in this
  * sandbox, [[BigQuerySink]] (over a real connector-backed client) in a
  * deployment. Both enforce the same contract: empty input raises
  * (`data_load.py:27-33`), destination naming is
  * `010_warner_dl_lf_{config_id}` (`data_load.py:36`), dispositions map
  * append/truncate, and schema may only GROW (ALLOW_FIELD_ADDITION,
  * `data_load.py:40-44`).
  */
trait TableSink {

  /** Load one config's transformed frame into its destination table.
    * @return rows loaded (the reference logs `load_job.output_rows`)
    */
  def load(df: DataFrame, configId: String, disposition: Sink.WriteDisposition): Long
}

/** The client half of the BigQuery load-job contract
  * (`/root/reference/data_load.py:40-59`): what
  * `bigquery.Client.load_table_from_json(..., LoadJobConfig(...))` +
  * `load_job.result()` provide. A deployment binds this to the
  * spark-bigquery connector (`df.write.format("bigquery")` carries the
  * disposition and schema-update options as writer options and keeps the
  * write distributed); tests bind an in-memory double that enforces the
  * documented load-job semantics, and [[HttpBigQueryLoadClient]] drives
  * the full REST load-job lifecycle (multipart `jobs.insert` + `jobs.get`
  * polling) over real HTTP against any server speaking the public v2
  * shapes — contract-tested via a loopback stub. The connector jar is not
  * resolvable in this sandbox (zero egress), so the distributed
  * connector-backed implementation remains a deployment binding.
  */
trait BigQueryLoadClient {

  /** Billing/default project for fully-qualified table ids. */
  def project: String

  /** Submit a load job and wait for completion.
    *
    * @param tableId fully qualified `project.dataset.table`
    * @param schemaUpdateOptions BigQuery `schema_update_options`; this
    *   engine only ever passes `ALLOW_FIELD_ADDITION` (the reference
    *   hard-codes it)
    * @return `output_rows` of the completed job
    * @throws BigQuerySink.LoadJobException on the API-error path
    *   (`data_load.py:66-70` wraps it into RuntimeError)
    */
  def loadTable(
      df: DataFrame,
      tableId: String,
      disposition: Sink.WriteDisposition,
      schemaUpdateOptions: Set[String]
  ): Long
}

object BigQuerySink {
  /** RuntimeError analogue of the reference's GoogleAPIError wrap. */
  final class LoadJobException(msg: String) extends RuntimeException(msg)

  val AllowFieldAddition = "ALLOW_FIELD_ADDITION"
}

/** [[TableSink]] over a [[BigQueryLoadClient]] — the engine-side half of
  * `load_data_to_bq`: empty-input guard, fully-qualified
  * `{project}.{dataset}.010_warner_dl_lf_{config}` naming, disposition
  * pass-through, ALLOW_FIELD_ADDITION always on (the reference
  * hard-codes it; `autodetect=True` is implicit — a DataFrame always
  * carries its schema).
  */
final class BigQuerySink(client: BigQueryLoadClient, datasetId: String) extends TableSink {

  def tableId(configId: String): String =
    s"${client.project}.$datasetId.${Sink.tableName(configId)}"

  override def load(
      df: DataFrame,
      configId: String,
      disposition: Sink.WriteDisposition
  ): Long = {
    if (df.isEmpty)
      throw new Sink.EmptyInputException("No data provided to load into BigQuery.")
    client.loadTable(
      df,
      tableId(configId),
      disposition,
      Set(BigQuerySink.AllowFieldAddition))
  }
}

/** [[TableSink]] over the offline parquet warehouse. Same contract,
  * enforced by [[Sink.writeParquetEvolving]] (union-schema evolution,
  * type-change rejection, empty guard). Nothing in the engine constructs
  * it — `Pipeline.run` takes a `process` closure, and the callers that
  * load to parquet call `Sink.writeParquetEvolving` directly;
  * BigQuerySinkSpec pins it to the [[TableSink]] contract.
  */
final class ParquetTableSink(spark: org.apache.spark.sql.SparkSession, root: String)
    extends TableSink {

  def path(configId: String): String = s"$root/${Sink.tableName(configId)}"

  override def load(
      df: DataFrame,
      configId: String,
      disposition: Sink.WriteDisposition
  ): Long = {
    val n = df.count()
    Sink.writeParquetEvolving(spark, df, path(configId), disposition)
    n
  }
}
