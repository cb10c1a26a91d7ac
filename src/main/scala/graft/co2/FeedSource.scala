package graft.co2

/** Pluggable feed fetcher — the reference's loader pulls the NOAA text feed
  * over HTTP (loading_data_sp/function.py:60-106, lambda_package/
  * lambda_function.py:8-15); tests and replays feed from local files. The
  * feed is one small text document (the reference materializes it in one
  * `requests.get().text` too), parsed on the driver in the same pass that
  * applies the watermark ([[NoaaIngest.parse]]). A malformed line's error
  * names the source by its `toString`.
  */
trait FeedSource extends Serializable {
  /** The raw feed text. */
  def fetchText(): String
}

/** Local file (or any Hadoop-visible path read driver-side). */
final case class LocalFileSource(path: String) extends FeedSource {
  override def fetchText(): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
}

/** HTTP(S) fetch via the JDK's HttpClient — the production drop-in for the
  * reference's `requests.get(url).text`. Compiles and is API-complete, but
  * cannot be exercised in this zero-egress build environment; unit coverage
  * goes through [[LocalFileSource]] and the shared parse path.
  */
final case class HttpFeedSource(url: String, timeoutMs: Long = 30000L)
    extends FeedSource {
  override def fetchText(): String = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
      .build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .GET().build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString(
        java.nio.charset.StandardCharsets.UTF_8))
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"feed fetch failed: HTTP ${resp.statusCode()} for $url")
    resp.body()
  }
}
