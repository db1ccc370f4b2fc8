package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.io.ByteArrayOutputStream
import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** In-process server for the Execute sync protocol, on one thread:
  *
  *   GET /fetch/document/?limit=N&since=CURSOR → up to N NDJSON lines
  *     after CURSOR; `X-Sync-Highwater-Mark` is the cursor of the last
  *     line sent, `X-Sync-Truncated` is TRUE while lines remain.
  *   GET /fetch/document/schema → the document schema.
  *
  * The document log only grows: `append` adds a delta that the next
  * incremental sync picks up from its persisted cursor. A cursor is the
  * zero-padded index of a line; any other `since` (the client's epoch
  * date on a full sync) starts from the first line. */
final class SyncServer(schemaJson: String) extends AutoCloseable {
  private val log = mutable.ArrayBuffer.empty[Array[Byte]]
  private val bytesServed = new AtomicLong
  private val exec = Executors.newSingleThreadExecutor()
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.setExecutor(exec)
  server.createContext("/fetch/document/", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def append(lines: Iterable[String]): Unit = log.synchronized {
    lines.foreach(l => log += l.getBytes(UTF_8))
  }

  /** NDJSON body bytes sent so far, headers excluded. */
  def served: Long = bytesServed.get

  private def handle(ex: HttpExchange): Unit =
    try {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      if (!auth.exists(_.startsWith("Basic "))) reply(ex, 401, Array.emptyByteArray)
      else if (ex.getRequestURI.getPath.endsWith("/schema"))
        reply(ex, 200, schemaJson.getBytes(UTF_8))
      else page(ex)
    } finally ex.close()

  private def page(ex: HttpExchange): Unit = {
    val q = Option(ex.getRequestURI.getRawQuery).toSeq
      .flatMap(_.split("&")).map(_.split("=", 2)).collect {
        case Array(k, v) => k -> URLDecoder.decode(v, UTF_8)
      }.toMap
    val limit = q.get("limit").map(_.toInt).getOrElse(10000)
    val since = q.getOrElse("since", "")
    val from = if (since.matches("\\d{10}")) since.toInt + 1 else 0
    val out = new ByteArrayOutputStream(1 << 20)
    val (to, total) = log.synchronized {
      val to = math.min(log.size, from + limit)
      var i = from
      while (i < to) { out.write(log(i)); out.write('\n'); i += 1 }
      (to, log.size)
    }
    val h = ex.getResponseHeaders
    h.add("X-Sync-Highwater-Mark", if (to > from) f"${to - 1}%010d" else since)
    h.add("X-Sync-Truncated", if (to < total) "TRUE" else "FALSE")
    val body = out.toByteArray
    bytesServed.addAndGet(body.length)
    reply(ex, 200, body)
  }

  private def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) ex.getResponseBody.write(body)
  }

  override def close(): Unit = {
    server.stop(0)
    exec.shutdown()
    exec.awaitTermination(30, TimeUnit.SECONDS)
  }
}
