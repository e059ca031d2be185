package graft.auth

import java.net.{HttpURLConnection, URI}
import scala.io.Source

/** The one outbound HTTP call both remote legs make — the paged extract
  * ([[graft.sources.HttpPageClient]]) and the BigQuery load job
  * ([[graft.load.HttpBigQueryLoadClient]]). It opens the connection, sets
  * the timeouts and the `Authorization: Bearer` header from a
  * [[CredentialProvider]], writes an optional body, and hands back the
  * status with whichever body the server sent. Status policy (retry,
  * exception types, messages) stays with each client.
  */
object BearerHttp {

  /** A request body, buffered and sent with a Content-Length (the one
    * body is a small `jobs.insert` JSON).
    */
  final case class Body(contentType: String, bytes: Array[Byte])

  /** `body` is the response on a 200 and `error` the error stream's
    * text otherwise (either may be empty).
    */
  final case class Response(code: Int, body: String, error: String) {
    def unauthorized: Boolean = code == 401 || code == 403
  }

  /** The message for a 401/403 from `call`, with the one fix to name. */
  def unauthorized(call: String, code: Int, where: String = ""): String =
    s"$call unauthorized: HTTP $code$where — set GRAFT_AUTH_TOKEN / " +
      "GRAFT_AUTH_TOKEN_FILE (or the graft.auth.token property) to a valid bearer token"

  /** Transport failures (refused connection, timeout, reset) throw
    * `IOException`; every status, including 4xx/5xx, returns.
    */
  def call(
      url: String,
      method: String,
      creds: CredentialProvider,
      readTimeoutMillis: Int,
      body: Option[Body] = None
  ): Response = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(readTimeoutMillis)
    // the reference authenticates through LF client credentials and
    // application-default credentials; both reduce to a bearer token on
    // every request
    creds.token().foreach(t => conn.setRequestProperty("Authorization", s"Bearer $t"))
    try {
      body.foreach { b =>
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", b.contentType)
        val out = conn.getOutputStream
        try out.write(b.bytes)
        finally out.close()
      }
      val code = conn.getResponseCode
      if (code == 200) Response(code, read(conn.getInputStream), "")
      else Response(code, "", scala.util.Try(read(conn.getErrorStream)).getOrElse(""))
    } finally conn.disconnect()
  }

  private def read(in: java.io.InputStream): String =
    if (in == null) ""
    else try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
}
