package graft.load

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame

import graft.auth.{BearerHttp, CredentialProvider}

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.control.NonFatal

/** [[BigQueryLoadClient]] over the PUBLIC BigQuery REST v2 load-job wire
  * shapes (`jobs.insert` multipart upload + `jobs.get` polling) — closes
  * the last environment-bound seam the same way the HTTP pager closed
  * the extract side: the lifecycle the reference drives through
  * `load_table_from_json(...)` + `load_job.result()`
  * (`/root/reference/data_load.py:52-59`) now runs over real HTTP
  * against any server speaking these shapes. Tests bind a loopback
  * `com.sun.net.httpserver` stub; a deployment points `base` at the
  * real endpoint.
  *
  * Wire contract (JDK HTTP on both ends; the JSON is built and read with
  * the Jackson that ships with Spark):
  *  - `POST {base}/upload/bigquery/v2/projects/{project}/jobs?uploadType=multipart`
  *    — part 1 (`application/json`): the load-job configuration
  *    (destinationTable, writeDisposition, schemaUpdateOptions,
  *    sourceFormat NEWLINE_DELIMITED_JSON, autodetect — the exact knobs
  *    `LoadJobConfig` carries at `data_load.py:40-44`); part 2
  *    (`application/octet-stream`): the frame as NDJSON. Response: job
  *    JSON with `jobReference.jobId` and `status.state`.
  *  - `POST {base}/bigquery/v2/projects/{project}/jobs`
  *    (`application/json`) — the staged variant: the same load-job
  *    configuration plus `sourceUris` pointing at executor-written
  *    NDJSON shards; no data part in the request.
  *  - `GET {base}/bigquery/v2/projects/{project}/jobs/{jobId}` — polled
  *    until `status.state == "DONE"` (the `load_job.result()` wait);
  *    `status.errorResult` → [[BigQuerySink.LoadJobException]] (the
  *    GoogleAPIError path `data_load.py:66-70` wraps);
  *    `statistics.load.outputRows` is the returned row count.
  *
  * Two body paths, selected by `stagingRoot`:
  *
  *  - **multipart (default)** — the NDJSON payload streams through
  *    `toJSON.toLocalIterator`, one partition at a time through a
  *    chunked request body, never a full collect (the reference
  *    materializes its whole `List[Dict]`). Faithful to the reference's
  *    in-process `load_table_from_json`, but a driver funnel: every
  *    byte of a load transits one JVM. Right at the reference's
  *    config-batch scale only.
  *  - **staged (`stagingRoot = Some(root)`)** — the 100 TB shape:
  *    EXECUTORS write the frame as NDJSON shards under
  *    `{root}/graft-stage-{uuid}/` (`df.toJSON.write.text`, one shard
  *    per partition — `root` is the `gs://bucket/prefix` stand-in), and
  *    `jobs.insert` is a plain-JSON POST whose load config carries
  *    `sourceUris` instead of a multipart body — the documented
  *    GCS-staged load-job shape. No row ever transits the driver; the
  *    staging directory is best-effort deleted once the job reaches a
  *    terminal state. Disposition / schemaUpdateOptions / autodetect
  *    knobs are byte-identical to the multipart config, and both paths
  *    share the same poll → DONE → errorResult lifecycle.
  */
final class HttpBigQueryLoadClient(
    base: String,
    override val project: String,
    pollMillis: Long = 50,
    creds: CredentialProvider = CredentialProvider.resolve,
    maxWaitMillis: Long = 120000,
    stagingRoot: Option[String] = None
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
    val wireDisposition = disposition match {
      case Sink.WriteAppend   => "WRITE_APPEND"
      case Sink.WriteTruncate => "WRITE_TRUNCATE"
    }
    // the knob block is built ONCE and shared verbatim by both body
    // paths — staged loads differ only by the appended sourceUris, so
    // dispositions/schema options/autodetect are byte-identical on the
    // wire whichever path carries the data
    def config(sourceUris: Seq[String]): String = {
      val root = mapper.createObjectNode()
      val load = root.putObject("configuration").putObject("load")
      load.putObject("destinationTable")
        .put("projectId", proj).put("datasetId", dataset).put("tableId", table)
      load.put("writeDisposition", wireDisposition)
      val opts = load.putArray("schemaUpdateOptions")
      schemaUpdateOptions.toSeq.sorted.foreach(opts.add)
      load.put("sourceFormat", "NEWLINE_DELIMITED_JSON")
      load.put("autodetect", true)
      if (sourceUris.nonEmpty) {
        val uris = load.putArray("sourceUris")
        sourceUris.foreach(uris.add)
      }
      mapper.writeValueAsString(root)
    }
    stagingRoot match {
      case None => awaitJob(insertWrapped(insertJob(config(Nil), df)))
      case Some(root) =>
        // stage shards (distributed write), insert by reference, and
        // drop the staging directory once the job is terminal — success,
        // errorResult, deadline, or a mid-write task failure alike (the
        // dir name is fixed BEFORE the write so a partial write cannot
        // leak shards; a retry restages under a fresh uuid)
        val dir = s"${root.stripSuffix("/")}/graft-stage-${java.util.UUID.randomUUID()}"
        try {
          // Spark task failures during the shard write wrap like every
          // other load-path failure (the reference's blanket conversion)
          val uris =
            try stageShards(df, dir)
            catch {
              case e: BigQuerySink.LoadJobException => throw e
              case NonFatal(e) =>
                throw new BigQuerySink.LoadJobException(s"staging write failed: $e")
            }
          // zero shards (a zero-partition frame, e.g. everything filtered
          // out): BigQuery rejects a load config with no sourceUris, but
          // the job must still run — a zero-row WRITE_TRUNCATE truncates
          // the table. Fall back to the multipart body so the same valid
          // input behaves identically on both body paths.
          if (uris.isEmpty) awaitJob(insertWrapped(insertJob(config(Nil), df)))
          else awaitJob(insertWrapped(insertJobStaged(config(uris))))
        } finally cleanupStaging(df, dir)
    }
  }

  /** The reference converts ANY load-path exception to its RuntimeError
    * (`data_load.py:71-75`) — including Spark task failures surfaced
    * while streaming/staging the NDJSON — and LoadJobException is that
    * analogue, so the catch is NonFatal, not just IOException.
    */
  private def insertWrapped(insert: => String): String =
    try insert
    catch {
      case e: BigQuerySink.LoadJobException => throw e
      case NonFatal(e) =>
        throw new BigQuerySink.LoadJobException(s"jobs.insert failed: $e")
    }

  /** Shared job lifecycle from the insert response: poll to DONE,
    * surface errorResult, return outputRows.
    */
  private def awaitJob(insertBody: String): Long = {
    var status = parse(insertBody, "jobs.insert")
    val jobId = textAt(status, "jobReference", "jobId").getOrElse(
      throw new BigQuerySink.LoadJobException(s"no jobId in insert response: $insertBody"))
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
      status = parse(get(s"$base/bigquery/v2/projects/$project/jobs/$jobId"), "jobs.get")
    }
    val errorResult = status.path("status").path("errorResult")
    if (errorResult.isObject)
      throw new BigQuerySink.LoadJobException(textAt(errorResult, "message").getOrElse("load job failed"))
    textAt(status, "statistics", "load", "outputRows").map(_.toLong).getOrElse(
      throw new BigQuerySink.LoadJobException(s"no outputRows in DONE job: $status"))
  }

  /** Multipart insert: config part + chunk-streamed NDJSON part. */
  private def insertJob(configJson: String, df: DataFrame): String = {
    val boundary = s"graft-bq-${java.util.UUID.randomUUID()}"
    insert(
      s"$base/upload/bigquery/v2/projects/$project/jobs?uploadType=multipart",
      BearerHttp.Body(s"multipart/related; boundary=$boundary", chunked = true, out => {
        def w(s: String): Unit = out.write(s.getBytes(UTF_8))
        w(s"--$boundary\r\nContent-Type: application/json; charset=UTF-8\r\n\r\n")
        w(configJson)
        w(s"\r\n--$boundary\r\nContent-Type: application/octet-stream\r\n\r\n")
        val it = df.toJSON.toLocalIterator()
        while (it.hasNext) { w(it.next()); w("\n") }
        w(s"\r\n--$boundary--\r\n")
      }))
  }

  /** Staged insert: plain-JSON `jobs.insert` — the config (with
    * `sourceUris`) IS the body; no data part.
    */
  private def insertJobStaged(configJson: String): String =
    insert(
      s"$base/bigquery/v2/projects/$project/jobs",
      BearerHttp.Body("application/json; charset=UTF-8", chunked = false,
        _.write(configJson.getBytes(UTF_8))))

  /** Both `jobs.insert` shapes' status handling. A non-200 carries the
    * server's `error.message` (e.g. a malformed load config) — reporting
    * only the status code would discard the actionable reason — and an
    * answer that arrived while the body was still streaming says so.
    */
  private def insert(url: String, body: BearerHttp.Body): String = {
    val r = BearerHttp.call(url, "POST", creds, readTimeoutMillis = 120000, body = Some(body))
    if (r.unauthorized)
      throw new BigQuerySink.LoadJobException(BearerHttp.unauthorized("jobs.insert", r.code))
    if (r.code != 200) {
      val detail = scala.util.Try(mapper.readTree(r.error)).toOption
        .flatMap(textAt(_, "error", "message")).fold("")(m => s": $m")
      throw new BigQuerySink.LoadJobException(
        s"jobs.insert failed: HTTP ${r.code}$detail" + r.aborted.fold("")(e => s" (body stream aborted: $e)"))
    }
    r.body
  }

  /** Distributed NDJSON staging: executors write one shard per
    * partition into `dir` (under the `gs://bucket/prefix` stand-in —
    * any Hadoop-FS URI works; the caller fixes the directory name
    * before the write so cleanup covers partial writes). Returns the
    * sorted shard URIs for `sourceUris`. Empty partitions yield empty
    * shard files — harmless NDJSON (zero rows). A frame with no shards at
    * all returns an empty Seq; the caller falls back to the multipart
    * body rather than submitting a job BigQuery would reject with a "no
    * files" error after the poll wait.
    */
  private def stageShards(df: DataFrame, dir: String): Seq[String] = {
    df.toJSON.write.text(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val uris = fs.listStatus(p).iterator
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).toSeq.sorted
    uris
  }

  /** Best-effort: staged shards are job input, not state — a failed
    * delete must never mask the load result (production would pair this
    * with a bucket lifecycle rule).
    */
  private def cleanupStaging(df: DataFrame, dir: String): Unit =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
    }

  private def get(url: String): String = {
    val r =
      try BearerHttp.call(url, "GET", creds, readTimeoutMillis = 60000)
      catch {
        case e: java.io.IOException =>
          throw new BigQuerySink.LoadJobException(s"jobs.get failed: $e")
      }
    if (r.unauthorized)
      throw new BigQuerySink.LoadJobException(BearerHttp.unauthorized("jobs.get", r.code, s" for $url"))
    if (r.code != 200)
      throw new BigQuerySink.LoadJobException(s"jobs.get failed: HTTP ${r.code} for $url")
    r.body
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
