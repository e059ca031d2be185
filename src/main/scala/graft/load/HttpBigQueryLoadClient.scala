package graft.load

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.FooterSchema

import graft.auth.{BearerHttp, CredentialProvider}
import graft.util.JsonLog

import java.util.UUID
import scala.util.Try
import scala.util.control.NonFatal

/** [[BigQueryLoadClient]] over the PUBLIC BigQuery REST v2 load-job wire
  * shapes (`jobs.insert` by source URIs + `jobs.get` polling): the
  * lifecycle the reference drives through `load_table_from_json(...)` +
  * `load_job.result()` (the reference's `data_load.py:27-59`) runs over
  * real HTTP against any server speaking these shapes. Tests bind a
  * loopback `com.sun.net.httpserver` stub; a deployment points `base` at
  * the real endpoint and `stagingRoot` at a bucket prefix the load job
  * can read, as the reference names its own bucket.
  *
  * One load is one Spark job and one `jobs.insert`:
  *  - executors write the frame once as NDJSON shards under
  *    `{stagingRoot}/graft-stage-{uuid}/` (`df.toJSON.write.text`); no row
  *    transits the driver;
  *  - the empty-input guard reads the staged shard lengths: every NDJSON
  *    row is at least `{}` plus a newline, so zero staged bytes is zero
  *    rows, and that throws [[Sink.EmptyInputException]] before any HTTP
  *    request (`data_load.py:27-33`);
  *  - otherwise `POST {base}/bigquery/v2/projects/{project}/jobs`
  *    (`application/json`) sends the load-job configuration:
  *    destinationTable, writeDisposition, schemaUpdateOptions, sourceFormat
  *    NEWLINE_DELIMITED_JSON, autodetect (the knobs `LoadJobConfig`
  *    carries at `data_load.py:40-44`) and `sourceUris`, the shards;
  *  - `GET {base}/bigquery/v2/projects/{project}/jobs/{jobId}` is polled
  *    until `status.state == "DONE"` (the `load_job.result()` wait);
  *    `status.errorResult` → [[BigQuerySink.LoadJobException]] (the
  *    GoogleAPIError path `data_load.py:66-70` wraps), and
  *    `statistics.load.outputRows` is the returned row count;
  *  - the staging directory is deleted in a `finally`, whatever the
  *    outcome.
  * The JSON is built and read with the Jackson that ships with Spark.
  */
final class HttpBigQueryLoadClient(
    base: String,
    override val project: String,
    stagingRoot: String,
    pollMillis: Long = 50,
    creds: CredentialProvider = CredentialProvider.resolve,
    maxWaitMillis: Long = 120000
) extends BigQueryLoadClient {

  import HttpBigQueryLoadClient._

  override def loadTable(
      df: DataFrame,
      tableId: String,
      disposition: Sink.WriteDisposition,
      schemaUpdateOptions: Set[String]
  ): Long = {
    val Array(proj, dataset, table) = tableId.split('.') match {
      case a @ Array(_, _, _) => a
      case _ => throw new BigQuerySink.LoadJobException(s"invalid table id '$tableId'")
    }
    // the name is fixed before the write, so the finally also removes
    // the shards of a write that failed midway
    val dir = new Path(s"${stagingRoot.stripSuffix("/")}/graft-stage-${UUID.randomUUID()}")
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    try {
      // a failed shard write is a load-path failure like any other (the
      // reference converts every one to its RuntimeError)
      val shards =
        try {
          df.toJSON.write.text(dir.toString)
          FooterSchema.dataFiles(fs, dir)
        } catch {
          case NonFatal(e) => throw new BigQuerySink.LoadJobException(s"staging write failed: $e")
        }
      if (shards.map(_.getLen).sum == 0L)
        throw new Sink.EmptyInputException("No data provided to load into BigQuery.")
      val root = mapper.createObjectNode()
      val load = root.putObject("configuration").putObject("load")
      load.putObject("destinationTable")
        .put("projectId", proj).put("datasetId", dataset).put("tableId", table)
      load.put("writeDisposition", disposition match {
        case Sink.WriteAppend   => "WRITE_APPEND"
        case Sink.WriteTruncate => "WRITE_TRUNCATE"
      })
      val opts = load.putArray("schemaUpdateOptions")
      schemaUpdateOptions.toSeq.sorted.foreach(opts.add)
      load.put("sourceFormat", "NEWLINE_DELIMITED_JSON")
      load.put("autodetect", true)
      val uris = load.putArray("sourceUris")
      shards.foreach(st => uris.add(st.getPath.toString))
      awaitJob(send("jobs.insert", s"$base/bigquery/v2/projects/$project/jobs",
        Some(BearerHttp.Body("application/json; charset=UTF-8", mapper.writeValueAsBytes(root))),
        readTimeoutMillis = 120000))
    } finally
      try fs.delete(dir, true)
      catch {
        // staged shards are job input, not state: a failed delete must
        // not mask the load's own outcome
        case NonFatal(e) => JsonLog.warning(s"staging cleanup failed for $dir: $e")
      }
  }

  /** The job lifecycle from the insert response: poll to DONE, surface
    * errorResult, return outputRows.
    */
  private def awaitJob(inserted: JsonNode): Long = {
    var status = inserted
    val jobId = textAt(status, "jobReference", "jobId").getOrElse(
      throw new BigQuerySink.LoadJobException(s"no jobId in insert response: $status"))
    // bounded wait: a server that never reaches DONE (or answers without
    // status.state) must surface, not spin — the reference's
    // load_job.result() at least raises on its retry deadline
    val deadline = System.nanoTime() + maxWaitMillis * 1000000L
    def state = textAt(status, "status", "state")
    while (!state.contains("DONE")) {
      if (System.nanoTime() > deadline)
        throw new BigQuerySink.LoadJobException(
          s"load job $jobId did not reach DONE within ${maxWaitMillis}ms " +
            s"(last state: ${state.getOrElse("<missing>")})")
      Thread.sleep(pollMillis)
      status = send("jobs.get", s"$base/bigquery/v2/projects/$project/jobs/$jobId", None,
        readTimeoutMillis = 60000)
    }
    val errorResult = status.path("status").path("errorResult")
    if (errorResult.isObject)
      throw new BigQuerySink.LoadJobException(textAt(errorResult, "message").getOrElse("load job failed"))
    textAt(status, "statistics", "load", "outputRows").map(_.toLong).getOrElse(
      throw new BigQuerySink.LoadJobException(s"no outputRows in DONE job: $status"))
  }

  /** One v2 call: a POST when there is a body, else a GET. A transport
    * failure, a 401/403 and any other non-200 are each a
    * [[BigQuerySink.LoadJobException]] naming `call`; a non-200 carries
    * the server's `error.message` (e.g. a malformed load config), the
    * actionable reason the status code alone would discard.
    */
  private def send(
      call: String,
      url: String,
      body: Option[BearerHttp.Body],
      readTimeoutMillis: Int
  ): JsonNode = {
    val r =
      try BearerHttp.call(url, if (body.isEmpty) "GET" else "POST", creds, readTimeoutMillis, body)
      catch {
        case NonFatal(e) => throw new BigQuerySink.LoadJobException(s"$call failed: $e")
      }
    if (r.unauthorized)
      throw new BigQuerySink.LoadJobException(BearerHttp.unauthorized(call, r.code, s" for $url"))
    if (r.code != 200) {
      val detail = Try(mapper.readTree(r.error)).toOption
        .flatMap(textAt(_, "error", "message")).fold("")(m => s": $m")
      throw new BigQuerySink.LoadJobException(s"$call failed: HTTP ${r.code}$detail for $url")
    }
    parse(r.body, call)
  }
}

object HttpBigQueryLoadClient {

  private val mapper = new ObjectMapper

  /** A response body as a JSON tree; a body that does not parse is a
    * [[BigQuerySink.LoadJobException]] naming the call that returned it.
    */
  private[graft] def parse(body: String, call: String): JsonNode =
    try mapper.readTree(body)
    catch {
      case e: JsonProcessingException =>
        throw new BigQuerySink.LoadJobException(s"$call returned a body that is not JSON: ${e.getOriginalMessage}")
    }

  /** The scalar at `path` below `node` as text (`textAt(job, "status",
    * "state")` reads status.state and nothing else); None when any step
    * is absent or the value is an object/array.
    */
  private[graft] def textAt(node: JsonNode, path: String*): Option[String] = {
    val n = path.foldLeft(node)(_.path(_))
    if (n.isValueNode) Some(n.asText) else None
  }
}
