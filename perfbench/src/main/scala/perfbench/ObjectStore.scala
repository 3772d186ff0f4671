package perfbench

import java.io.IOException
import java.net.InetSocketAddress
import java.util.concurrent.{Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Object-store stand-in: serves in-memory files over HTTP GET with
  * `Range: bytes=a-b` / `bytes=a-` support and a fixed first-byte
  * latency per GET, and logs every GET it serves.
  *
  * It stands where a cloud object store serves presigned URLs, so the
  * benchmark times the client's fetch pattern (how many GETs, how many
  * bytes) against a known per-request latency, not the sharing test
  * server's file handler. It owns the network boundary the `objstore`
  * layer metrics are read at.
  *
  * @param files          path (e.g. `/t/part-00.parquet`) to content
  * @param firstByteMs    delay before the response headers of every GET
  * @param threads        server threads, i.e. GETs served concurrently
  */
final class ObjectStore(files: Map[String, Array[Byte]], firstByteMs: Long,
    threads: Int) {
  import ObjectStore.Get

  private val log = new java.util.concurrent.ConcurrentLinkedQueue[Get]

  /** GETs served since the last drain, in completion order. */
  def drainLog(): Seq[Get] = {
    val out = Seq.newBuilder[Get]
    var g = log.poll()
    while (g != null) { out += g; g = log.poll() }
    out.result()
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "objstore"); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => serve(ex))

  def port: Int = server.getAddress.getPort
  def url(path: String): String = s"http://127.0.0.1:$port$path"

  /** Parse a `Range` header against a file of `size` bytes: `Right` of
    * the inclusive (from, to) span, `Left` for an unsatisfiable range. */
  private def range(header: Option[String], size: Int): Either[String, (Int, Int)] =
    header match {
      case None => Right((0, size - 1))
      case Some(h) =>
        val m = """bytes=(\d+)-(\d*)""".r
        h.trim match {
          case m(a, b) =>
            val from = a.toLong
            val to = if (b.isEmpty) size - 1L else math.min(b.toLong, size - 1L)
            if (from >= size || to < from) Left(h) else Right((from.toInt, to.toInt))
          case _ => Left(h)
        }
    }

  private def serve(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val path = ex.getRequestURI.getPath
    var written = 0L
    try {
      if (firstByteMs > 0) Thread.sleep(firstByteMs)
      files.get(path) match {
        case None => ex.sendResponseHeaders(404, -1)
        case Some(bytes) =>
          val rangeHeader = Option(ex.getRequestHeaders.getFirst("Range"))
          range(rangeHeader, bytes.length) match {
            case Left(_) =>
              ex.getResponseHeaders.set("Content-Range", s"bytes */${bytes.length}")
              ex.sendResponseHeaders(416, -1)
            case Right((from, to)) =>
              val len = to - from + 1
              if (rangeHeader.isDefined)
                ex.getResponseHeaders.set("Content-Range", s"bytes $from-$to/${bytes.length}")
              ex.sendResponseHeaders(if (rangeHeader.isDefined) 206 else 200, len.toLong)
              val os = ex.getResponseBody
              // chunked so bytes already on the wire are counted when
              // the client hangs up mid-body
              val chunk = 64 * 1024
              var off = from
              try {
                while (off <= to) {
                  val n = math.min(chunk, to - off + 1)
                  os.write(bytes, off, n)
                  written += n
                  off += n
                }
                os.close()
              } catch { case _: IOException => () }
          }
      }
    } catch { case _: IOException => () }
    finally {
      ex.close()
      log.add(Get(path, t0, System.nanoTime(), written))
    }
  }

  def start(): ObjectStore = { server.start(); this }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object ObjectStore {
  /** One served GET: wall span, requested path and bytes written. */
  final case class Get(path: String, startNs: Long, endNs: Long, bytes: Long)
}
