package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.sources.{HttpPageClient, PagedSource}

/** Loopback page server for the paged-source specs: serves the
  * deterministic corpus `PagedSource.row` over `totalRows` rows and
  * evaluates the wire-encoded filters/projection/limit/group-by
  * server-side — the reference's execution model over the wire format
  * `HttpPageClient` speaks. Every request must carry `Bearer token` (the
  * reference's secret-backed LF auth, `utils.py:78-92`) or is rejected
  * 401; the `/flaky` context additionally 500s the FIRST attempt at each
  * URI to exercise the per-page retry. JDK-only.
  */
final class PageStub(val totalRows: Long, val token: String) {

  /** every request's raw query string, for pushdown-reached-the-wire asserts */
  val requests = new ConcurrentLinkedQueue[String]()
  /** every request's Authorization header (or "<none>"), for auth asserts */
  val authHeaders = new ConcurrentLinkedQueue[String]()
  /** per-URI attempt counts on the flaky context (first attempt 500s) */
  val flakyAttempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** the mounted-secret shape: a file holding the bearer token */
  val tokenFile: java.nio.file.Path = {
    val f = java.nio.file.Files.createTempFile("graft-token", ".txt")
    java.nio.file.Files.write(f, s"$token\n".getBytes(UTF_8))
    f
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/analytics", new StubHandler(flakyFirst = false))
  server.createContext("/flaky", new StubHandler(flakyFirst = true))
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  server.setExecutor(pool)
  server.start()

  val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/analytics"
  val flakyEndpoint = s"http://127.0.0.1:${server.getAddress.getPort}/flaky"

  /** the page fetches among the recorded requests (the meta probe excluded) */
  def pageRequests: Seq[String] = requests.asScala.filter(_.contains("page=")).toSeq

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    java.nio.file.Files.deleteIfExists(tokenFile)
  }

  private final class StubHandler(flakyFirst: Boolean) extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      authHeaders.add(if (auth == null) "<none>" else auth)
      if (auth != s"Bearer $token") {
        ex.sendResponseHeaders(401, -1); ex.close(); return
      }
      if (flakyFirst) {
        val key = ex.getRequestURI.toString
        val n = flakyAttempts.merge(key, 1, (a, b) => a + b)
        if (n == 1) { ex.sendResponseHeaders(500, -1); ex.close(); return }
      }
      val body =
        try respond(ex)
        catch { case e: Throwable => ex.sendResponseHeaders(500, -1); throw e }
      val bytes = body.getBytes(UTF_8)
      ex.sendResponseHeaders(200, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) { val os = ex.getResponseBody; os.write(bytes); os.close() }
      ex.close()
    }

    private def respond(ex: HttpExchange): String = {
      val raw = ex.getRequestURI.getRawQuery
      requests.add(if (raw == null) "" else raw)
      val params = HttpPageClient.parseQuery(raw)
      def one(k: String): Option[String] = params.collectFirst { case (`k`, v) => v }
      if (one("meta").contains("1")) return totalRows.toString

      val page = one("page").get.toInt
      val pageSize = one("pageSize").get.toInt
      val filters = HttpPageClient.decodeFilters(params.collect { case ("filter", v) => v })
      val start = page.toLong * pageSize
      val end = math.min(start + pageSize, totalRows)
      val rows = (start until end).iterator
        .map(PagedSource.row)
        .filter(PagedSource.accept(filters, _))

      one("aggs") match {
        case Some(aggSpecs) =>
          val groupCols = one("groupBy").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
          val specs = aggSpecs.split(',').toSeq
          // per-page partial aggregation, insertion-ordered groups
          val acc = scala.collection.mutable.LinkedHashMap
            .empty[Seq[String], (Long, Double, Double, Double)]
          rows.foreach { r =>
            val key = groupCols.map {
              case "brand_id" => r._1.toString
              case "date_str" => r._2
            }
            val (c, s, mn, mx) =
              acc.getOrElse(key, (0L, 0.0, Double.PositiveInfinity, Double.NegativeInfinity))
            acc(key) = (c + 1, s + r._3, math.min(mn, r._3), math.max(mx, r._3))
          }
          acc.iterator
            .map { case (key, (c, s, mn, mx)) =>
              val aggVals = specs.map {
                case "count:*" | "count:metric" => c.toString
                case "sum:metric"               => s.toString
                case "min:metric"               => mn.toString
                case "max:metric"               => mx.toString
                case other                      => throw new IllegalArgumentException(other)
              }
              (key ++ aggVals).mkString(",")
            }
            .mkString("\n")
        case None =>
          val cols = one("cols").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
          val capped = one("limit").map(_.toInt).fold(rows)(rows.take)
          capped
            .map { r =>
              cols
                .map {
                  case "brand_id" => r._1.toString
                  case "date_str" => r._2
                  case "metric"   => r._3.toString
                }
                .mkString(",")
            }
            .mkString("\n")
      }
    }
  }
}
