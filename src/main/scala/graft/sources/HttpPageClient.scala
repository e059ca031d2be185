package graft.sources

import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.auth.{BearerHttp, CredentialProvider}

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

/** How [[PagedSource]] reads: the reference's I/O is a paged HTTP
  * analytic query (`data_extract.py:81-94` — `client.analytic_query(...,
  * max_rows, per_page)` yielding pages). This client maps one page fetch
  * to one GET, with the pushed-down query shape serialized into the
  * request — filters, pruned columns, per-partition row cap, and the
  * partial group-by — so the "server evaluates the query" contract is
  * carried by the wire, not simulated in the reader.
  *
  * Wire format (line-oriented, JDK-only on both ends):
  *  - `GET {endpoint}?meta=1` → body = total row count (the page-count
  *    planning input; the reference gets the same from the job metadata).
  *  - `GET {endpoint}?page=P&pageSize=S[&filter=F]*[&cols=a,b][&limit=N]
  *    [&groupBy=a,b&aggs=sum:metric,count:*]` → CSV rows (requested
  *    columns in requested order; aggregated rows when `aggs` present).
  *  - filter spec `col:op:v1|v2|…` with op ∈ in, eq, gt, ge, lt, le on
  *    `brand_id` or `date_str` — the LFM-ish predicate vocabulary, and
  *    through [[HttpPageClient.encodeFilter]] exactly what
  *    [[PagedScanBuilder]] pushes.
  *
  * Readers construct the client executor-side from the endpoint string
  * (nothing here is serialized into the plan beyond that string); the
  * bearer token likewise resolves executor-side through
  * [[CredentialProvider.resolve]] — mirroring the reference's
  * secret-backed LF auth (`utils.py:78-92`) without shipping a
  * credential through the plan.
  *
  * Transient failures retry per page with bounded exponential backoff —
  * the reference SDK's pager retries page fetches
  * (`data_extract.py:81-94` semantics); without this one 500 mid-scan
  * fails the whole Spark task and refetches every page the partition
  * already read. Auth failures (401/403) and other 4xx do NOT retry:
  * they are deterministic, and surfacing them beats hammering the
  * server with a bad credential.
  */
final class HttpPageClient(
    endpoint: String,
    creds: CredentialProvider = CredentialProvider.resolve,
    maxRetries: Int = 3,
    retryBaseMillis: Long = 50
) {

  def totalRows(): Long = get(s"$endpoint?meta=1").trim.toLong

  /** One page as raw CSV lines (already server-filtered/projected). */
  def fetchLines(params: Seq[(String, String)]): Iterator[String] = {
    val qs = params
      .map { case (k, v) => k + "=" + URLEncoder.encode(v, UTF_8) }
      .mkString("&")
    val body = get(s"$endpoint?$qs")
    if (body.isEmpty) Iterator.empty else body.linesIterator
  }

  /** One page as typed values (Long, String, Double): the pushed query
    * shape rides the request, and the CSV lines come back parsed by the
    * read schema's data types. The server already evaluated filters,
    * projection and cap; nothing is re-filtered here, which is the point
    * of the pushdown contract. When an aggregation is pushed, the rows
    * are the page's per-group partials in [[PushedAgg.outputSchema]]
    * order.
    */
  def page(p: PagePartition, q: PageQuery): Iterator[Seq[Any]] = {
    val shape = q.agg match {
      case None =>
        // a zero-column body would be n-1 bare newlines, one line short
        // of its n rows: fetch one column and let the empty read schema
        // drop it, one empty row per line
        val cols = if (q.required.isEmpty) "brand_id" else q.required.fieldNames.mkString(",")
        Seq("cols" -> cols) ++ q.limit.map(l => "limit" -> l.toString)
      case Some(a) =>
        Seq("groupBy" -> a.groupCols.mkString(","), "aggs" -> HttpPageClient.encodeAggSpecs(a.aggs).mkString(","))
    }
    val types = q.readSchema.fields.map(_.dataType).toSeq
    fetchLines(
      Seq("page" -> p.page.toString, "pageSize" -> p.pageSize.toString) ++
        q.filters.flatMap(HttpPageClient.encodeFilter).map("filter" -> _) ++ shape
    ).map { line =>
      types.zip(line.split(",", -1)).map {
        case (LongType, s)   => java.lang.Long.parseLong(s): Any
        case (DoubleType, s) => java.lang.Double.parseDouble(s): Any
        case (_, s)          => s
      }
    }
  }

  private def get(url: String): String = {
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        val r = BearerHttp.call(url, "GET", creds, readTimeoutMillis = 60000)
        if (r.code >= 500)
          throw new RetryableFetchException(s"page fetch failed: HTTP ${r.code} for $url")
        if (r.unauthorized)
          throw new IllegalStateException(BearerHttp.unauthorized("page fetch", r.code, s" for $url"))
        require(r.code == 200, s"page fetch failed: HTTP ${r.code} for $url")
        return r.body
      } catch {
        case e @ (_: RetryableFetchException | _: java.io.IOException) =>
          if (attempt > maxRetries) throw e match {
            case r: RetryableFetchException =>
              new IllegalStateException(s"${r.getMessage} (after $maxRetries retries)")
            case other => other
          }
          Thread.sleep(retryBaseMillis << (attempt - 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** A failure worth retrying (5xx) — distinct from auth/4xx, which are not. */
private[sources] final class RetryableFetchException(msg: String) extends RuntimeException(msg)

object HttpPageClient {

  /** A filter as its wire spec, or None when the page API does not
    * evaluate it — the one definition of what [[PagedScanBuilder]] may
    * push. IsNotNull is not shipped: it is vacuous on this non-nullable
    * schema.
    */
  def encodeFilter(f: Filter): Option[String] = f match {
    case In(c, vs) if Filterable(c)                => Some(s"$c:in:${vs.mkString("|")}")
    case EqualTo(c, v) if Filterable(c)            => Some(s"$c:eq:$v")
    case GreaterThan(c, v) if Filterable(c)        => Some(s"$c:gt:$v")
    case GreaterThanOrEqual(c, v) if Filterable(c) => Some(s"$c:ge:$v")
    case LessThan(c, v) if Filterable(c)           => Some(s"$c:lt:$v")
    case LessThanOrEqual(c, v) if Filterable(c)    => Some(s"$c:le:$v")
    case _                                         => None
  }

  private val Filterable = Set("brand_id", "date_str")

  /** Wire specs → filters — the stub server's (and any real server's)
    * side of the contract. Values decode as Long for brand_id, String
    * otherwise, matching [[PagedSource.schema]].
    */
  def decodeFilters(specs: Seq[String]): Seq[Filter] = specs.map { s =>
    val Array(c, op, vs) = s.split(":", 3)
    def v1: Any = value(c, vs)
    op match {
      case "in" => In(c, vs.split('|').map(value(c, _)))
      case "eq" => EqualTo(c, v1)
      case "gt" => GreaterThan(c, v1)
      case "ge" => GreaterThanOrEqual(c, v1)
      case "lt" => LessThan(c, v1)
      case "le" => LessThanOrEqual(c, v1)
      case o    => throw new IllegalArgumentException(s"unknown filter op $o in $s")
    }
  }

  /** Pushed aggregate functions → wire specs (`sum:metric`, `count:*`,
    * …), order-preserving — the server returns one CSV column per spec in
    * this order, which is exactly [[PushedAgg.outputSchema]]'s order.
    */
  def encodeAggSpecs(
      aggs: Seq[org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc]
  ): Seq[String] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min, Sum}
    aggs.map {
      case _: CountStar => "count:*"
      case _: Count     => "count:metric"
      case _: Sum       => "sum:metric"
      case _: Min       => "min:metric"
      case _: Max       => "max:metric"
      case f            => throw new IllegalArgumentException(s"unencodable pushed agg $f")
    }
  }

  /** Parse a `k=v&k=v` query string (repeated keys kept, order kept). */
  def parseQuery(raw: String): Seq[(String, String)] =
    if (raw == null || raw.isEmpty) Nil
    else
      raw.split('&').toSeq.map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> URLDecoder.decode(v, UTF_8)
          case Array(k)    => k -> ""
        }
      }

  private def value(col: String, s: String): Any =
    if (col == "brand_id") java.lang.Long.valueOf(s) else s
}
