package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.auth.CredentialProvider
import graft.load.{BigQuerySink, HttpBigQueryLoadClient, Sink}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Contract spec for the HTTP BigQuery load-job client — the last
  * environment-bound seam, closed the same way the extract side's pager
  * was: a loopback `com.sun.net.httpserver` stub speaks the PUBLIC
  * BigQuery REST v2 load-job shapes (`jobs.insert` with `sourceUris` →
  * PENDING/RUNNING job, `jobs.get` polling → DONE with
  * `statistics.load.outputRows` or `status.errorResult`), reads the rows
  * from the staged NDJSON shards, enforces the documented job semantics
  * (truncate replaces, append unions fields only under
  * ALLOW_FIELD_ADDITION), and the spec drives the full
  * `BigQuerySink → HttpBigQueryLoadClient` path over real HTTP. JDK-only
  * on both ends (the reference's `data_load.py:27-70` is the contract
  * source).
  */
class HttpBigQuerySinkSpec extends SparkSpec {

  private var server: HttpServer = _
  private var base: String = _
  private val Token = "bq-adc-bearer-r12"
  private val requests = new ConcurrentLinkedQueue[String]()
  /** Authorization header of every request (or "<none>") */
  private val authHeaders = new ConcurrentLinkedQueue[String]()

  // stub warehouse + job registry
  private case class StubTable(fields: Vector[String], rows: Vector[Map[String, String]])
  private case class StubJob(var getsSeen: Int, result: Either[String, Long]) // err msg | outputRows
  private val tables = mutable.Map.empty[String, StubTable]
  private val jobs = mutable.Map.empty[String, StubJob]
  private val jobSeq = new AtomicLong(0)
  /** config JSONs seen by jobs.insert, for wire-shape asserts */
  private val configsSeen = new ConcurrentLinkedQueue[String]()

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new StubHandler)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def field(body: String, key: String): Option[String] =
    ("\"" + key + "\"\\s*:\\s*\"?((?:[^\"\\\\,}\\]\\s]|\\\\.)+)\"?").r
      .findFirstMatchIn(body).map(_.group(1))

  /** Flat NDJSON object → key→rendered-value map (what toJSON emits for
    * the primitive frames under test; null fields are simply absent).
    */
  private def parseNdjsonRow(line: String): Map[String, String] =
    ("\"([^\"]+)\"\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|-?[0-9.Ee+]+|true|false|null)").r
      .findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\""))
      .toMap

  private final class StubHandler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val (code, body) =
        try respond(ex)
        catch { case e: Throwable => ex.sendResponseHeaders(500, -1); ex.close(); throw e }
      val bytes = body.getBytes(UTF_8)
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) { val os = ex.getResponseBody; os.write(bytes); os.close() }
      ex.close()
    }

    private def respond(ex: HttpExchange): (Int, String) = synchronized {
      val path = ex.getRequestURI.getPath
      requests.add(s"${ex.getRequestMethod} $path")
      // ADC-equivalent wire behavior: every v2 call must carry the bearer
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      authHeaders.add(if (auth == null) "<none>" else auth)
      if (auth != s"Bearer $Token") return (401, "")
      if (ex.getRequestMethod == "POST" && path.endsWith("/jobs")) {
        insertJob(ex)
      } else if (ex.getRequestMethod == "GET" && path.contains("/jobs/")) {
        getJob(path.substring(path.lastIndexOf('/') + 1))
      } else (404, "")
    }

    /** The plain-JSON body IS the config; rows come from the
      * `sourceUris` shard files (the stub resolves `file:` URIs from
      * local disk — its bucket stand-in).
      */
    private def insertJob(ex: HttpExchange): (Int, String) = {
      val config = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val uris = ("\"sourceUris\"\\s*:\\s*\\[([^\\]]*)\\]").r
        .findFirstMatchIn(config).map(_.group(1)).getOrElse("")
        .split(',').map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
      val rows = uris.toVector.flatMap { u =>
        val p = java.nio.file.Paths.get(java.net.URI.create(u))
        java.nio.file.Files.readAllLines(p).asScala.filter(_.nonEmpty).map(parseNdjsonRow)
      }
      applyLoad(config, rows)
    }

    private def applyLoad(config: String, rows: Vector[Map[String, String]]): (Int, String) = {
      configsSeen.add(config)
      val tableId = Seq("projectId", "datasetId", "tableId")
        .map(k => field(config, k).get).mkString(".")
      val disposition = field(config, "writeDisposition").get
      val allowAdd = config.contains("ALLOW_FIELD_ADDITION")
      val fields = rows.flatMap(_.keys).distinct
      val result: Either[String, Long] = (tables.get(tableId), disposition) match {
        case (None, _) | (_, "WRITE_TRUNCATE") =>
          tables(tableId) = StubTable(fields, rows); Right(rows.size.toLong)
        case (Some(t), "WRITE_APPEND") =>
          val newFields = fields.filterNot(t.fields.contains)
          if (newFields.nonEmpty && !allowAdd)
            Left(s"Provided Schema does not match Table $tableId. Cannot add fields: ${newFields.mkString(",")}")
          else {
            tables(tableId) = StubTable(t.fields ++ newFields, t.rows ++ rows)
            Right(rows.size.toLong)
          }
        case (_, other) => Left(s"unknown writeDisposition $other")
      }
      val jobId = s"job_${jobSeq.incrementAndGet()}"
      jobs(jobId) = StubJob(0, result)
      (200, s"""{"jobReference":{"projectId":"p","jobId":"$jobId"},"status":{"state":"PENDING"}}""")
    }

    /** First poll RUNNING, second DONE — exercises the client's wait loop. */
    private def getJob(jobId: String): (Int, String) = jobs.get(jobId) match {
      case None => (404, "")
      case Some(j) =>
        j.getsSeen += 1
        if (j.getsSeen < 2) (200, s"""{"status":{"state":"RUNNING"}}""")
        else
          j.result match {
            case Right(n) =>
              (200,
                s"""{"status":{"state":"DONE"},"statistics":{"load":{"outputRows":"$n"}}}""")
            case Left(msg) =>
              (200,
                s"""{"status":{"state":"DONE","errorResult":{"reason":"invalid","message":"$msg"}}}""")
          }
    }
  }

  /** Fresh staging roots, the local stand-in for the bucket prefix;
    * every root is deleted after the spec.
    */
  private def newRoot(): java.nio.file.Path = java.nio.file.Paths.get(tempDir("bqstage"))
  private def stageRoot(): String = newRoot().toString

  private def freshSink(project: String = "proj", dataset: String = "ds") =
    new BigQuerySink(
      new HttpBigQueryLoadClient(base, project, stageRoot(), pollMillis = 5,
        creds = CredentialProvider.static(Token)),
      dataset)

  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def df(schema: StructType, rows: Row*) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val s2 = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true)))

  test("truncate load drives the full insert→poll→DONE lifecycle over HTTP") {
    requests.clear(); configsSeen.clear()
    val n = freshSink().load(
      df(s2, Row(1L, "a"), Row(2L, "b"), Row(3L, "c")),
      "cfg1", Sink.WriteTruncate)
    assert(n === 3)
    val t = tables("proj.ds.010_warner_dl_lf_cfg1")
    assert(t.rows.size === 3 && t.fields.toSet === Set("id", "name"))
    // wire shape: the LoadJobConfig knobs the reference sets reached the server
    val cfg = configsSeen.asScala.last
    assert(cfg.contains("WRITE_TRUNCATE") && cfg.contains("ALLOW_FIELD_ADDITION"))
    assert(cfg.contains("NEWLINE_DELIMITED_JSON") && cfg.contains("\"autodetect\":true"))
    // the client actually polled (insert is PENDING; ≥1 jobs.get before DONE)
    assert(requests.asScala.count(_.startsWith("GET")) >= 2)
  }

  test("append with a new field evolves the schema under ALLOW_FIELD_ADDITION") {
    freshSink().load(df(s2, Row(1L, "a"), Row(2L, "b")), "cfg2", Sink.WriteTruncate)
    val s3 = s2.add(StructField("score", DoubleType, nullable = true))
    val n = freshSink().load(df(s3, Row(9L, "z", 0.5)), "cfg2", Sink.WriteAppend)
    assert(n === 1)
    val t = tables("proj.ds.010_warner_dl_lf_cfg2")
    assert(t.fields === Vector("id", "name", "score") && t.rows.size === 3)
    // pre-evolution rows null-extend: the old rows simply lack the key
    assert(!t.rows.head.contains("score") && t.rows.last("score") === "0.5")
  }

  test("append adding a field WITHOUT the option surfaces the job errorResult") {
    val client = new HttpBigQueryLoadClient(base, "proj", stageRoot(), pollMillis = 5,
      creds = CredentialProvider.static(Token))
    client.loadTable(df(s2, Row(1L, "a")), "proj.ds.t_noevolve", Sink.WriteTruncate, Set.empty)
    val s3 = s2.add(StructField("extra", StringType, nullable = true))
    val e = intercept[BigQuerySink.LoadJobException] {
      client.loadTable(df(s3, Row(2L, "b", "x")), "proj.ds.t_noevolve", Sink.WriteAppend, Set.empty)
    }
    assert(e.getMessage.contains("Cannot add fields"))
  }

  test("empty input raises before any HTTP request") {
    requests.clear()
    intercept[Sink.EmptyInputException] {
      freshSink().load(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], s2), "cfg3", Sink.WriteAppend)
    }
    assert(requests.isEmpty)
  }

  test("an HTTP-level failure surfaces as the LoadJobException (GoogleAPIError path)") {
    // unreachable endpoint: connection refused → wrapped, like the
    // reference's blanket RuntimeError conversion
    val dead = new HttpBigQueryLoadClient("http://127.0.0.1:1", "proj", stageRoot(), pollMillis = 5)
    intercept[BigQuerySink.LoadJobException] {
      dead.loadTable(df(s2, Row(1L, "a")), "proj.ds.t", Sink.WriteAppend, Set.empty)
    }
  }

  test("every request in the lifecycle carries the bearer token") {
    authHeaders.clear()
    freshSink().load(df(s2, Row(1L, "a")), "cfg_auth", Sink.WriteTruncate)
    assert(authHeaders.size >= 2) // jobs.insert + ≥1 jobs.get poll
    assert(authHeaders.asScala.forall(_ == s"Bearer $Token"), authHeaders.asScala.toSet)
  }

  test("missing or wrong bearer -> 401 surfaces as LoadJobException naming the seam") {
    val unauthed = new HttpBigQueryLoadClient(base, "proj", stageRoot(), pollMillis = 5,
      creds = CredentialProvider.none)
    val e1 = intercept[BigQuerySink.LoadJobException] {
      unauthed.loadTable(df(s2, Row(1L, "a")), "proj.ds.t401", Sink.WriteTruncate, Set.empty)
    }
    assert(e1.getMessage.contains("401") && e1.getMessage.contains("GRAFT_AUTH_TOKEN"))
    val wrong = new HttpBigQueryLoadClient(base, "proj", stageRoot(), pollMillis = 5,
      creds = CredentialProvider.static("stale-token"))
    val e2 = intercept[BigQuerySink.LoadJobException] {
      wrong.loadTable(df(s2, Row(1L, "a")), "proj.ds.t401", Sink.WriteTruncate, Set.empty)
    }
    assert(e2.getMessage.contains("401"))
    assert(!tables.contains("proj.ds.t401"))
  }

  test("a job that never reaches DONE fails at the poll deadline, not forever") {
    // stuck context: insert accepts, every poll answers RUNNING
    val stuck = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    stuck.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body =
          if (ex.getRequestMethod == "POST")
            """{"jobReference":{"jobId":"job_stuck"},"status":{"state":"PENDING"}}"""
          else """{"status":{"state":"RUNNING"}}"""
        if (ex.getRequestMethod == "POST") ex.getRequestBody.readAllBytes()
        val bytes = body.getBytes(UTF_8)
        ex.sendResponseHeaders(200, bytes.length)
        val os = ex.getResponseBody; os.write(bytes); os.close(); ex.close()
      }
    })
    stuck.start()
    try {
      val client = new HttpBigQueryLoadClient(
        s"http://127.0.0.1:${stuck.getAddress.getPort}", "proj", stageRoot(),
        pollMillis = 5, creds = CredentialProvider.static(Token), maxWaitMillis = 200)
      val e = intercept[BigQuerySink.LoadJobException] {
        client.loadTable(df(s2, Row(1L, "a")), "proj.ds.tstuck", Sink.WriteTruncate, Set.empty)
      }
      assert(e.getMessage.contains("did not reach DONE") && e.getMessage.contains("RUNNING"))
    } finally stuck.stop(0)
  }

  // ---- the staging directory: shards, sourceUris, cleanup ----

  private def stagedClient(root: java.nio.file.Path, creds: CredentialProvider =
      CredentialProvider.static(Token)) =
    new HttpBigQueryLoadClient(base, "proj", root.toString, pollMillis = 5, creds = creds)

  private def stageDirsUnder(root: java.nio.file.Path): Seq[String] =
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else java.nio.file.Files.list(root).iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft-stage-")).toSeq

  test("staged load: executors write shards, jobs.insert carries sourceUris, lifecycle completes") {
    val root = newRoot()
    requests.clear(); configsSeen.clear()
    val sink = new BigQuerySink(stagedClient(root), "ds")
    val n = sink.load(
      df(s2, Row(1L, "a"), Row(2L, "b"), Row(3L, "c")),
      "cfg_staged", Sink.WriteTruncate)
    assert(n === 3)
    val t = tables("proj.ds.010_warner_dl_lf_cfg_staged")
    assert(t.rows.size === 3 && t.fields.toSet === Set("id", "name"))
    // wire shape: a plain-JSON jobs.insert (no /upload/) whose config
    // carries the shard URIs
    val post = requests.asScala.find(_.startsWith("POST")).get
    assert(!post.contains("/upload/"), post)
    val cfg = configsSeen.asScala.last
    assert(cfg.contains("\"sourceUris\":[\"file:"), cfg)
    assert(cfg.contains("WRITE_TRUNCATE") && cfg.contains("ALLOW_FIELD_ADDITION"))
    assert(cfg.contains("NEWLINE_DELIMITED_JSON") && cfg.contains("\"autodetect\":true"))
    // the client polled to DONE
    assert(requests.asScala.count(_.startsWith("GET")) >= 2)
    // staging directory is cleaned up after the job completes
    assert(stageDirsUnder(root).isEmpty, stageDirsUnder(root))
  }

  // the client's empty guard reads the staged shard lengths: zero bytes
  // is zero rows, and that raises before any HTTP request
  private def assertEmptyGuard(empty: org.apache.spark.sql.DataFrame, table: String): Unit = {
    val root = newRoot()
    requests.clear()
    intercept[Sink.EmptyInputException] {
      stagedClient(root).loadTable(empty, table, Sink.WriteTruncate, Set.empty)
    }
    assert(requests.isEmpty, requests)
    assert(stageDirsUnder(root).isEmpty, stageDirsUnder(root))
    assert(!tables.contains(table))
  }

  test("zero-partition frame raises before any request") {
    val zeroPart = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s2)
    assert(zeroPart.rdd.getNumPartitions === 0)
    assertEmptyGuard(zeroPart, "proj.ds.t_empty_zero_part")
  }

  test("filtered-to-empty frame raises before any request") {
    val filtered = df(s2, Row(1L, "a"), Row(2L, "b")).filter("id > 100")
    assert(filtered.rdd.getNumPartitions === 2)
    assertEmptyGuard(filtered, "proj.ds.t_empty_filtered")
  }

  test("a load starts the jobs of a plain NDJSON write") {
    val frame = spark.range(0, 1000, 1, 4).toDF()
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
      // nothing is computed beside the shard write: the same count as
      // writing the frame's NDJSON to a fresh path, whatever AQE makes of it
      var n = 0L
      val plain = jobsOf(frame.toJSON.write.text(s"${stageRoot()}/plain"))
      val load = jobsOf { n = freshSink().load(frame, "cfg_jobs", Sink.WriteTruncate) }
      assert(plain > 0)
      assert(load == plain, s"a load ran $load jobs, a plain write $plain")
      assert(n === 1000)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("staged append adding a field without the option surfaces the errorResult and still cleans up") {
    val root = newRoot()
    val client = stagedClient(root)
    client.loadTable(df(s2, Row(1L, "a")), "proj.ds.t_staged_noevolve", Sink.WriteTruncate, Set.empty)
    val s3 = s2.add(StructField("extra", StringType, nullable = true))
    val e = intercept[BigQuerySink.LoadJobException] {
      client.loadTable(df(s3, Row(2L, "b", "x")), "proj.ds.t_staged_noevolve", Sink.WriteAppend, Set.empty)
    }
    assert(e.getMessage.contains("Cannot add fields"))
    assert(stageDirsUnder(root).isEmpty, stageDirsUnder(root))
  }

  test("staged 401 surfaces the auth guidance and leaves no table or staging litter") {
    val root = newRoot()
    val unauthed = stagedClient(root, creds = CredentialProvider.none)
    val e = intercept[BigQuerySink.LoadJobException] {
      unauthed.loadTable(df(s2, Row(1L, "a")), "proj.ds.t_staged_401", Sink.WriteTruncate, Set.empty)
    }
    assert(e.getMessage.contains("401") && e.getMessage.contains("GRAFT_AUTH_TOKEN"))
    assert(!tables.contains("proj.ds.t_staged_401"))
    assert(stageDirsUnder(root).isEmpty, stageDirsUnder(root))
  }

  test("field scans are scoped: nested error text cannot shadow status/statistics fields") {
    import graft.load.HttpBigQueryLoadClient.{parse, textAt}
    // a realistic v2 body whose errorResult message QUOTES a state and
    // whose errors[] carries its own message — the shapes that defeat a
    // whole-body first-occurrence scan
    val body = parse(
      """{"jobReference":{"projectId":"p","jobId":"job_9"},
        |"configuration":{"load":{"destinationTable":{"tableId":"t"}}},
        |"status":{"state":"DONE",
        |  "errors":[{"reason":"invalid","message":"row 3: bad \"state\":\"RUNNING\" literal"}]},
        |"statistics":{"creationTime":"1700000000","load":{"outputRows":"42"}}}""".stripMargin,
      "jobs.get")
    assert(textAt(body, "status", "state").contains("DONE"))
    assert(textAt(body, "jobReference", "jobId").contains("job_9"))
    assert(textAt(body, "statistics", "load", "outputRows").contains("42"))
    // the statistics object is read whole, not cut at its first '}'
    assert(body.path("statistics").toString.contains("outputRows"))
    assert(textAt(body, "nope", "state").isEmpty && body.path("nope").isMissingNode)
  }

  test("the response reader anchors outside strings and at top level only") {
    import graft.load.HttpBigQueryLoadClient.{parse, textAt}
    // an earlier STRING VALUE containing '"status": {' must not anchor
    // the read (the defeated shape: a log line quoted inside a message)
    val trap = parse(
      """{"note":"saw \"status\": {\"state\":\"RUNNING\"} in upstream log",
        |"status":{"state":"DONE"}}""".stripMargin,
      "jobs.get")
    assert(textAt(trap, "status", "state").contains("DONE"))
    assert(trap.path("status").toString === """{"state":"DONE"}""")
    // a NESTED object reusing the key must not anchor either — only the
    // top-level key owns the read
    val nested = parse(
      """{"configuration":{"status":{"state":"NESTED"}},
        |"status":{"state":"DONE"}}""".stripMargin,
      "jobs.get")
    assert(textAt(nested, "status", "state").contains("DONE"))
    // key present only nested → no top-level match
    assert(parse("""{"outer":{"status":{"state":"X"}}}""", "jobs.get").path("status").isMissingNode)
  }

  test("a response body that is not JSON fails as a LoadJobException naming the call") {
    val e = intercept[BigQuerySink.LoadJobException] {
      graft.load.HttpBigQueryLoadClient.parse("""{"status":{"state":"DONE"""", "jobs.get")
    }
    assert(e.getMessage.startsWith("jobs.get "), e.getMessage)
  }

  test("a non-200 insert surfaces the server's error.message, not just the code") {
    // BigQuery answers a rejected insert with an error BODY carrying the
    // actionable reason; the exception must include it (pre-r14 only the
    // status code survived)
    val reject = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    reject.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getRequestBody.readAllBytes()
        val body =
          """{"error":{"code":400,"message":"Invalid load configuration: bad sourceFormat"}}"""
        val bytes = body.getBytes(UTF_8)
        ex.sendResponseHeaders(400, bytes.length)
        val os = ex.getResponseBody; os.write(bytes); os.close(); ex.close()
      }
    })
    reject.start()
    try {
      val client = new HttpBigQueryLoadClient(
        s"http://127.0.0.1:${reject.getAddress.getPort}", "proj", stageRoot(),
        pollMillis = 5, creds = CredentialProvider.static(Token))
      val e = intercept[BigQuerySink.LoadJobException] {
        client.loadTable(df(s2, Row(1L, "a")), "proj.ds.trej", Sink.WriteTruncate, Set.empty)
      }
      assert(e.getMessage.contains("400"), e.getMessage)
      assert(e.getMessage.contains("Invalid load configuration"), e.getMessage)
    } finally reject.stop(0)
  }

  test("a config id with control characters still yields a jobs.insert body a JSON parser accepts") {
    // the config id comes from the outside export-config document and
    // reaches the table id through Sink.tableName unchanged
    configsSeen.clear()
    val configId = "cfg\tq\"uote\nline"
    assert(freshSink().load(df(s2, Row(1L, "a")), configId, Sink.WriteTruncate) === 1)
    val cfg = new com.fasterxml.jackson.databind.ObjectMapper().readTree(configsSeen.asScala.last)
    assert(cfg.path("configuration").path("load").path("destinationTable").path("tableId").asText ===
      Sink.tableName(configId))
  }
}
