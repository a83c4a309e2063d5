package graft.sources

/** S3 — ingest retry/backoff behind the client interface, mirroring the
  * reference's `_request_json` loop (fetch.py:21-37): `retries` attempts,
  * 0.8 s initial delay growing ×1.6 after every failure (including the
  * last, as the reference does), then a `NetworkError` wrapping the final
  * cause. Driver-side by design: ingest talks to one endpoint per city, the
  * distributed engine starts at the raw zone.
  */
object Ingest {

  class NetworkError(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  /** Non-2xx response — raised like the reference's `raise_for_status`
    * (fetch.py:30), so status failures go through the same retry loop as
    * transport errors. */
  class HttpStatusError(val status: Int, url: String)
    extends RuntimeException(s"HTTP $status: $url")

  /** Identifying UA, the reference's polite-client convention
    * (fetch.py:16) with this engine's own product token. */
  val UserAgent = "graft/0.1 (spark analytics engine; +https://open-meteo.com/)"

  /** The REAL client behind the injected-fetcher seam: GET `url` with
    * URL-encoded query `params`, the custom UA header, and the reference's
    * 10 s timeout (fetch.py:23), returning the response body; non-2xx
    * raises [[HttpStatusError]]. One instance per ingest job — the
    * underlying `java.net.http.HttpClient` pools connections. Driver-side
    * by design, like the seam it implements: ingest talks to one endpoint
    * per city, the distributed engine starts at the raw zone. Callers
    * compose it with [[retry]]. */
  final class HttpFetcher(timeoutMs: Long = 10000,
                          userAgent: String = UserAgent) {
    private val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
      .build()

    def get(url: String, params: Seq[(String, String)] = Nil): String = {
      def enc(s: String) =
        java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
      val qs = params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
      val full = if (qs.isEmpty) url else s"$url?$qs"
      val req = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(full))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
        .header("User-Agent", userAgent)
        .GET().build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        throw new HttpStatusError(resp.statusCode(), url)
      resp.body()
    }
  }

  /** Run `f` (given the 1-based attempt number) with retry/backoff. `sleep`
    * is injectable so specs assert the delay schedule without waiting. */
  def retry[T](retries: Int = 3, delay0Ms: Long = 800, factor: Double = 1.6,
               sleep: Long => Unit = Thread.sleep)(f: Int => T): T = {
    require(retries >= 1, s"retries must be >= 1, got $retries")
    var delay = delay0Ms
    var last: Throwable = null
    var attempt = 1
    while (attempt <= retries) {
      try return f(attempt)
      catch {
        // NonFatal only: the reference catches httpx.HTTPError, not
        // interrupts/OOM — fatal errors and InterruptedException propagate
        case scala.util.control.NonFatal(e) =>
          last = e
          sleep(delay)
          delay = (delay * factor).toLong
      }
      attempt += 1
    }
    throw new NetworkError(s"Gagal setelah $retries percobaan: ${last.getMessage}", last)
  }
}
