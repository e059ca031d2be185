package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{HttpPageClient, PagedSource}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

/** Loopback analytic-page server for the export workload's paged configs.
  *
  * One handler thread on 127.0.0.1, speaking the wire format
  * [[HttpPageClient]] reads: `?meta=1` answers the row count, and a page
  * request answers CSV rows with the pushed filters, columns, limit and
  * partial aggregation applied server-side.
  * Rows are `PagedSource.row(offset + i)` for `i < total`; filters are
  * decoded and applied with the engine's own `decodeFilters`/`accept`, so
  * what the stub serves is exactly what the pushdown contract promises.
  *
  * The first request for one page URI in `failEvery` (chosen by a hash
  * of the URI and `salt`) is answered 503, as a flaky service would; the
  * client's per-page retry then fetches it again. Counts pages served,
  * per-page service time, retries and rows shipped.
  */
final class PageStub(offset: Long, total: Long, failEvery: Int, salt: Long) {
  val pages = new AtomicLong
  val serviceNanos = new AtomicLong
  val retries = new AtomicLong
  val rowsShipped = new AtomicLong
  // URI -> true once it has failed and not yet been retried
  private val failed = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/analytics", (ex: HttpExchange) => handle(ex))
  server.setExecutor(null) // the dispatcher thread is the one handler thread
  server.start()

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/analytics"

  /** Start the fault schedule over, so every op sees the same failures. */
  def resetFaults(): Unit = failed.clear()

  def stop(): Unit = server.stop(0)

  /** One page: the rows of `[page * pageSize, +pageSize)` that pass the
    * pushed filters, projected to the requested columns and capped at the
    * pushed limit — or, when an aggregation was pushed, the page's partial
    * aggregate per group (the server-side group-by the reference's
    * analytic API performs).
    */
  private def page(params: Seq[(String, String)], one: String => Option[String]): String = {
    val page = one("page").get.toInt
    val pageSize = one("pageSize").get.toInt
    val filters = HttpPageClient.decodeFilters(params.collect { case ("filter", v) => v })
    val start = page.toLong * pageSize
    val end = math.min(start + pageSize, total)
    val rows = (start until end).iterator.map(i => PagedSource.row(offset + i))
      .filter(PagedSource.accept(filters, _)).toSeq
    def field(r: (Long, String, Double), c: String): String = c match {
      case "brand_id" => r._1.toString
      case "date_str" => r._2
      case "metric"   => r._3.toString
    }
    val lines = one("aggs") match {
      case Some(specs) =>
        val groupCols = one("groupBy").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
        rows.groupBy(r => groupCols.map(field(r, _))).toSeq.map { case (key, rs) =>
          val ms = rs.map(_._3)
          (key ++ specs.split(',').toSeq.map {
            case "count:*" | "count:metric" => rs.size.toString
            case "sum:metric"               => ms.sum.toString
            case "min:metric"               => ms.min.toString
            case "max:metric"               => ms.max.toString
            case other                      => throw new IllegalArgumentException(s"unknown agg $other")
          }).mkString(",")
        }
      case None =>
        val cols = one("cols").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
        rows.take(one("limit").map(_.toInt).getOrElse(Int.MaxValue)).map(r => cols.map(field(r, _)).mkString(","))
    }
    pages.incrementAndGet()
    rowsShipped.addAndGet(lines.size)
    lines.mkString("\n")
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val raw = ex.getRequestURI.getRawQuery
    val params = HttpPageClient.parseQuery(raw)
    def one(k: String): Option[String] = params.collectFirst { case (`k`, v) => v }
    val meta = one("meta").contains("1")
    if (!meta && failEvery > 0 && !failed.containsKey(raw) &&
        Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(raw, salt.toInt), failEvery) == 0) {
      failed.put(raw, true)
      ex.sendResponseHeaders(503, -1)
      ex.close()
      return
    }
    if (!meta && failed.replace(raw, true, false)) retries.incrementAndGet()
    val body =
      try { if (meta) total.toString else page(params, one) }
      catch { case e: Throwable => ex.sendResponseHeaders(500, -1); ex.close(); throw e }
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) { val os = ex.getResponseBody; os.write(bytes); os.close() }
    ex.close()
    if (!meta) serviceNanos.addAndGet(System.nanoTime() - t0)
  }
}
