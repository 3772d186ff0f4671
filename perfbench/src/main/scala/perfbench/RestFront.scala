package perfbench

import java.net.{HttpURLConnection, InetSocketAddress, URL}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Recording front for the sharing server's REST endpoint: forwards
  * every request unchanged and logs its kind and wall span.
  *
  * The connector is pointed at the front, so the benchmark sees each
  * REST call the client makes, without changes to the client or the
  * server.
  */
final class RestFront(target: String, threads: Int) {
  import RestFront.Call

  private val calls = new ConcurrentLinkedQueue[Call]

  /** Calls forwarded since the last drain. */
  def drain(): Seq[Call] = {
    val out = Seq.newBuilder[Call]
    var c = calls.poll()
    while (c != null) { out += c; c = calls.poll() }
    out.result()
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "restfront"); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => forward(ex))

  private val targetUrl = new URL(target)
  private val prefix = targetUrl.getPath
  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}$prefix"

  private val passHeaders = Seq("Authorization", "Content-Type", "delta-sharing-capabilities")
  private val backHeaders = Seq("Content-Type", "delta-sharing-capabilities",
    "Delta-Table-Version", "Retry-After")

  private def kind(method: String, path: String): String =
    if (method == "POST" && path.endsWith("/query")) "query"
    else if (path.endsWith("/metadata")) "metadata"
    else if (path.endsWith("/shares") || path.endsWith("/schemas") ||
        path.endsWith("/tables") || path.endsWith("/all-tables")) "list"
    else "other"

  private def forward(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val method = ex.getRequestMethod
    val uri = ex.getRequestURI
    try {
      val q = Option(uri.getRawQuery).map("?" + _).getOrElse("")
      val conn = new URL(targetUrl.getProtocol, targetUrl.getHost, targetUrl.getPort,
        uri.getRawPath + q).openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod(method)
      passHeaders.foreach(h => Option(ex.getRequestHeaders.getFirst(h))
        .foreach(conn.setRequestProperty(h, _)))
      if (method == "POST") {
        conn.setDoOutput(true)
        val body = ex.getRequestBody.readAllBytes()
        val os = conn.getOutputStream; os.write(body); os.close()
      }
      val code = conn.getResponseCode
      val in = Option(if (code >= 400) conn.getErrorStream else conn.getInputStream)
      val body = in.map { s => try s.readAllBytes() finally s.close() }.getOrElse(Array.empty[Byte])
      backHeaders.foreach(h => Option(conn.getHeaderField(h))
        .foreach(ex.getResponseHeaders.set(h, _)))
      if (method == "HEAD" || body.isEmpty) ex.sendResponseHeaders(code, -1)
      else {
        ex.sendResponseHeaders(code, body.length.toLong)
        val os = ex.getResponseBody; os.write(body); os.close()
      }
    } finally {
      ex.close()
      calls.add(Call(kind(method, uri.getPath), t0, System.nanoTime()))
    }
  }

  def start(): RestFront = { server.start(); this }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object RestFront {
  /** One forwarded request. `kind` is `query` (a `/query` POST),
    * `metadata` (a `/metadata` GET), `list` (a share, schema or table
    * listing) or `other`. */
  final case class Call(kind: String, startNs: Long, endNs: Long)
}
