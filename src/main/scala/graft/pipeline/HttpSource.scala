package graft.pipeline

import graft.model.{RootSchema, SchemaCodec}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.Base64

/** One page of documents from a paged source: NDJSON lines, the cursor
  * to persist after landing them, and whether more pages remain. */
final case class SourcePage(lines: Seq[String], cursor: String, truncated: Boolean)

/** A paged, cursored document source (the reference's sync protocol). */
trait PagedSource {
  def fetchPage(since: String): SourcePage
}

/** HTTP implementation of the Execute sync protocol
  * (/root/reference/src/cmd_sync.go:94-183):
  *
  *   GET {base}/fetch/document/?limit=N&since=CURSOR[&calc=true]
  *     Authorization: Basic user:pass
  *   → body: NDJSON, one document per line
  *   → X-Sync-Highwater-Mark: next cursor (persist after landing)
  *   → X-Sync-Truncated: "FALSE" when this was the last page
  *
  * and the schema endpoint (schema.go:37-94):
  *   GET {base}/fetch/document/schema[?calc=true] → RootSchema JSON.
  *
  * The page is the unit of driver-side memory: the driver holds one
  * page's body while `SyncPipeline.syncFrom` spools it to a local
  * NDJSON file, and the executors read the page from that file, so
  * ingest memory is bounded by `limit` regardless of how far behind
  * the cursor is (matching the reference's streaming reader contract,
  * cmd_sync.go:161-165). */
final class HttpDocumentSource(
    baseUrl: String,
    user: String,
    password: String,
    limit: Int = 10000,
    includeCalcs: Boolean = false,
    timeout: Duration = Duration.ofSeconds(30)) extends PagedSource {

  private val client = HttpClient.newBuilder().connectTimeout(timeout).build()
  private val auth = "Basic " + Base64.getEncoder.encodeToString(
    s"$user:$password".getBytes(StandardCharsets.UTF_8))

  private def get(url: String): HttpResponse[String] = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .header("Authorization", auth)
      .timeout(timeout).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new RuntimeException(s"GET $url → HTTP ${resp.statusCode()}")
    resp
  }

  override def fetchPage(since: String): SourcePage = {
    val calc = if (includeCalcs) "&calc=true" else ""
    val url = s"${baseUrl.stripSuffix("/")}/fetch/document/?limit=$limit&since=" +
      java.net.URLEncoder.encode(since, "UTF-8") + calc
    val resp = get(url)
    val lines = resp.body().split("\n").toSeq.filter(_.nonEmpty)
    val truncated = !resp.headers().firstValue("X-Sync-Truncated")
      .orElse("FALSE").equalsIgnoreCase("FALSE")
    val cursor = resp.headers().firstValue("X-Sync-Highwater-Mark").orElse(since)
    SourcePage(lines, cursor, truncated)
  }

  def fetchSchema(): RootSchema = {
    val calc = if (includeCalcs) "?calc=true" else ""
    SchemaCodec.parse(
      get(s"${baseUrl.stripSuffix("/")}/fetch/document/schema$calc").body())
  }
}
