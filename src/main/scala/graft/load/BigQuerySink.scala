package graft.load

import org.apache.spark.sql.DataFrame

/** The client half of the BigQuery load-job contract
  * (the reference's `data_load.py:27-59`): what
  * `bigquery.Client.load_table_from_json(..., LoadJobConfig(...))` +
  * `load_job.result()` provide, with the reference's empty-input guard.
  * [[HttpBigQueryLoadClient]] drives the REST load-job lifecycle over
  * HTTP; tests also bind an in-memory double that enforces the documented
  * load-job semantics.
  */
trait BigQueryLoadClient {

  /** Billing/default project for fully-qualified table ids. */
  def project: String

  /** Submit a load job and wait for completion. Raises
    * [[Sink.EmptyInputException]] before submitting any job when `df`
    * has no rows (`data_load.py:27-33`).
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

/** The engine-side half of `load_data_to_bq` over a [[BigQueryLoadClient]]
  * (K1, reference `data_load.py:7-59`). The offline parquet
  * warehouse enforces the same contract in [[Sink.writeParquetEvolving]].
  */
final class BigQuerySink(client: BigQueryLoadClient, datasetId: String) {

  def tableId(configId: String): String =
    s"${client.project}.$datasetId.${Sink.tableName(configId)}"

  /** Load one config's transformed frame into its destination table:
    *  - empty input raises before any load job is submitted
    *    (`data_load.py:27-33`); the client's guard, so the frame is not
    *    computed an extra time to test it;
    *  - the destination is `{project}.{dataset}.010_warner_dl_lf_{config}`
    *    (`data_load.py:36`);
    *  - the disposition passes through (append or truncate);
    *  - schema may only GROW: ALLOW_FIELD_ADDITION is always on, as the
    *    reference hard-codes it (`data_load.py:40-44`); `autodetect=True`
    *    is implicit, since a DataFrame always carries its schema.
    * @return rows loaded (the reference logs `load_job.output_rows`)
    */
  def load(
      df: DataFrame,
      configId: String,
      disposition: Sink.WriteDisposition
  ): Long =
    client.loadTable(
      df,
      tableId(configId),
      disposition,
      Set(BigQuerySink.AllowFieldAddition))
}
