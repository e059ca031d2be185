package graft

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.auth.CredentialProvider
import graft.sources.{HttpPageClient, PagedSource}

/** Contract spec for the HTTP pager behind the DSv2 paged source: a
  * loopback `PageStub` serves the deterministic corpus `PagedSource.row`,
  * and the spec drives the full connector over real HTTP: page fetches as
  * InputPartitions, pushdown serialized into the request, bearer auth and
  * per-page retries. The Spark-side semantics of each pushdown are
  * `PagedSourceSpec`'s concern.
  */
class HttpPagedSourceSpec extends SparkSpec {

  private val TotalRows = 5000L
  private val Token = "lf-test-bearer-r12"
  private var stub: PageStub = _

  private def endpoint = stub.endpoint
  private def flakyEndpoint = stub.flakyEndpoint
  private def tokenFile = stub.tokenFile
  private def requests = stub.requests
  private def authHeaders = stub.authHeaders
  private def flakyAttempts = stub.flakyAttempts

  override def beforeAll(): Unit = {
    super.beforeAll()
    stub = new PageStub(TotalRows, Token)
  }

  override def afterAll(): Unit = {
    if (stub != null) stub.stop()
    super.afterAll()
  }

  private def http = spark.read
    .format("graft.sources.PagedSource")
    .option("endpoint", endpoint)
    // the mounted-secret auth shape: the token FILE path rides the plan,
    // readers re-read it executor-side (CredentialProvider.fromFile)
    .option("tokenFile", tokenFile.toString)
    .option("pageSize", "500")
    .load()

  /** What the stub serves, evaluated over Scala collections: the reference
    * every read is compared against.
    */
  private lazy val corpus = (0L until TotalRows).map(PagedSource.row)

  test("full scan over HTTP: pages -> partitions, rows identical to generator mode") {
    requests.clear(); authHeaders.clear()
    val rows = http.collect()
    assert(rows.length == TotalRows)
    assert(rows.toSeq.map(_.toSeq).toSet == corpus.map(_.productIterator.toSeq).toSet)
    // 10 page fetches (+1 meta); every page request carried the full projection
    val pageReqs = requests.asScala.filter(_.contains("page="))
    assert(pageReqs.size == 10)
    assert(pageReqs.forall(_.contains("cols=brand_id%2Cdate_str%2Cmetric")))
    // every request — the driver-side meta probe AND all executor-side
    // page fetches — carried the bearer from the token file
    assert(authHeaders.size >= 11)
    assert(authHeaders.asScala.forall(_ == s"Bearer $Token"), authHeaders.asScala.toSet)
  }

  test("a zero-column read returns every row") {
    requests.clear()
    assert(http.select(lit(1).as("one")).collect().length == TotalRows)
    // a zero-column page would be n-1 bare newlines; one column rides instead
    val pageReqs = requests.asScala.filter(_.contains("page="))
    assert(pageReqs.size == 10 && pageReqs.forall(_.contains("cols=brand_id")), pageReqs)
  }

  test("missing or wrong bearer -> 401 surfaces as a clear auth error, not a retry storm") {
    authHeaders.clear()
    val unauthed = new HttpPageClient(endpoint, CredentialProvider.none)
    val e1 = intercept[IllegalStateException] { unauthed.totalRows() }
    assert(e1.getMessage.contains("401") && e1.getMessage.contains("GRAFT_AUTH_TOKEN"))
    val wrong = new HttpPageClient(endpoint, CredentialProvider.static("not-the-token"))
    val e2 = intercept[IllegalStateException] { wrong.totalRows() }
    assert(e2.getMessage.contains("401"))
    // deterministic failures: exactly one request each, zero retries
    assert(authHeaders.size == 2, authHeaders.asScala.toSeq)
  }

  test("a transient 500 retries the single page, not the whole scan") {
    requests.clear(); flakyAttempts.clear()
    val client =
      new HttpPageClient(flakyEndpoint, CredentialProvider.static(Token), retryBaseMillis = 1)
    // first attempt 500s, retry succeeds — same URI fetched twice
    assert(client.totalRows() == TotalRows)
    assert(flakyAttempts.get("/flaky?meta=1") == 2)
    val lines = client.fetchLines(Seq(
      "page" -> "0", "pageSize" -> "500", "cols" -> "brand_id,date_str,metric")).toVector
    assert(lines.size == 500)
  }

  test("retries are bounded: a persistent 500 fails after maxRetries") {
    flakyAttempts.clear()
    // maxRetries=0 against the first-attempt-500 URI: the one 500 must
    // surface immediately (bounded), with the retry budget in the message
    val noRetry = new HttpPageClient(
      flakyEndpoint, CredentialProvider.static(Token), maxRetries = 0, retryBaseMillis = 1)
    val e = intercept[IllegalStateException] { noRetry.totalRows() }
    assert(e.getMessage.contains("HTTP 500"))
    assert(flakyAttempts.get("/flaky?meta=1") == 1)
  }

  test("tokenFile resolution: explicit file wins; missing file fails loudly") {
    assert(CredentialProvider.fromFile(tokenFile.toString).token().contains(Token))
    val gone = tokenFile.getParent.resolve("graft-no-such-token.txt").toString
    val e = intercept[IllegalStateException] { CredentialProvider.fromFile(gone).token() }
    assert(e.getMessage.contains("not readable"))
  }

  test("resolver precedence: property beats file-property; absent everything -> None") {
    // no other suite reads the resolver during tests (both HTTP specs
    // inject their provider), so scoped property mutation is race-free
    val saveTok = sys.props.get("graft.auth.token")
    val saveFile = sys.props.get("graft.auth.tokenFile")
    try {
      sys.props("graft.auth.token") = "prop-tok"
      sys.props("graft.auth.tokenFile") = tokenFile.toString
      assert(CredentialProvider.resolve.token().contains("prop-tok"))
      sys.props.remove("graft.auth.token")
      assert(CredentialProvider.resolve.token().contains(Token))
      sys.props.remove("graft.auth.tokenFile")
      // the env vars are unset in the test JVM, so nothing resolves
      if (!sys.env.contains("GRAFT_AUTH_TOKEN") && !sys.env.contains("GRAFT_AUTH_TOKEN_FILE"))
        assert(CredentialProvider.resolve.token().isEmpty)
    } finally {
      saveTok.fold(sys.props.remove("graft.auth.token"): Unit)(v => sys.props("graft.auth.token") = v)
      saveFile.fold(sys.props.remove("graft.auth.tokenFile"): Unit)(v => sys.props("graft.auth.tokenFile") = v)
    }
  }

  test("filter pushdown reaches the wire and the plan drops the residual") {
    requests.clear()
    val q = http.filter(col("brand_id").isin(1, 2) && col("date_str") >= "2024-01-10")
    val out = q.collect()
    val expected = corpus.filter(r => Set(1L, 2L)(r._1) && r._2 >= "2024-01-10")
    assert(out.toSeq.map(_.toSeq).toSet == expected.map(_.productIterator.toSeq).toSet)
    assert(out.length == expected.size && out.nonEmpty)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("brand_id") && plan.contains("graft_paged_source"))
    assert(!plan.contains("+- Filter"), s"residual Filter node present:\n$plan")
    val pageReqs = requests.asScala.filter(_.contains("page="))
    assert(pageReqs.nonEmpty)
    // wire carries both predicates (URL-encoded filter specs)
    assert(pageReqs.forall(r => r.contains("filter=brand_id%3Ain%3A1%7C2")))
    assert(pageReqs.forall(r => r.contains("filter=date_str%3Age%3A2024-01-10")))
  }

  test("column pruning reaches the wire") {
    requests.clear()
    val out = http.select("metric").collect()
    assert(out.length == TotalRows)
    val pageReqs = requests.asScala.filter(_.contains("page="))
    assert(pageReqs.forall(_.contains("cols=metric")))
    assert(pageReqs.forall(r => !r.contains("brand_id")))
  }

  test("limit pushdown plans only the needed pages") {
    requests.clear()
    val out = http.limit(700).collect()
    assert(out.length == 700)
    // ceil(700/500) = 2 page fetches, each row-capped server-side
    val pageReqs = requests.asScala.filter(_.contains("page="))
    assert(pageReqs.size == 2, s"expected 2 page fetches, got $pageReqs")
    assert(pageReqs.forall(_.contains("limit=700")))
  }

  test("partial aggregation pushdown: server pages back pre-aggregated rows") {
    requests.clear()
    val q = http.groupBy("brand_id").agg(
      sum("metric").as("s"), count(lit(1)).as("n"), min("metric").as("mn"), max("metric").as("mx"))
    val out = q.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val raw = corpus.groupBy(_._1)
    assert(out.keySet == raw.keySet && out.size == 97)
    raw.foreach { case (brand, rows) =>
      val (s, n, mn, mx) = out(brand)
      assert(n == rows.size)
      assert(mn == rows.map(_._3).min && mx == rows.map(_._3).max)
      assert(math.abs(s - rows.map(_._3).sum) < 1e-6)
    }
    assert(q.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    val pageReqs = requests.asScala.filter(_.contains("page="))
    assert(pageReqs.nonEmpty)
    assert(pageReqs.forall(r => r.contains("groupBy=brand_id") && r.contains("aggs=")))
  }

  test("filter encode/decode round-trips every pushable shape") {
    import org.apache.spark.sql.sources._
    val filters: Seq[Filter] = Seq(
      In("brand_id", Array(1L, 2L, 3L)),
      EqualTo("brand_id", 7L),
      GreaterThan("date_str", "2024-01-03"),
      GreaterThanOrEqual("date_str", "2024-01-04"),
      LessThan("brand_id", 50L),
      LessThanOrEqual("date_str", "2024-01-20"),
      In("date_str", Array("2024-01-02", "2024-01-05")),
      EqualTo("date_str", "2024-01-06"))
    val encoded = filters.map(HttpPageClient.encodeFilter)
    assert(encoded.forall(_.isDefined), filters.zip(encoded))
    // the page API does not evaluate metric predicates: they stay residual
    assert(HttpPageClient.encodeFilter(GreaterThan("metric", 1.0)).isEmpty)
    assert(HttpPageClient.encodeFilter(IsNotNull("brand_id")).isEmpty)
    val decoded = HttpPageClient.decodeFilters(encoded.flatten)
    // value-level equivalence via the single accept() definition
    val probe = Seq.tabulate(200)(i => PagedSource.row(i.toLong * 131))
    probe.foreach { r =>
      assert(
        PagedSource.accept(filters, r) == PagedSource.accept(decoded, r),
        s"accept drift for $r")
    }
  }
}
