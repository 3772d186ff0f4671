package perfbench

import java.io.InputStream
import java.net.{HttpURLConnection, Socket, URL}
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

class ObjectStoreSpec extends AnyFunSuite {
  private val small = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
  // larger than any socket buffer, so a client that hangs up early
  // leaves most of it unsent
  private val big = Array.tabulate[Byte](32 << 20)(i => (i % 253).toByte)

  private def withStore(latencyMs: Long)(f: ObjectStore => Unit): Unit = {
    val s = new ObjectStore(Map("/small" -> small, "/big" -> big), latencyMs, threads = 2).start()
    try f(s) finally s.stop()
  }

  private def get(s: ObjectStore, path: String, range: Option[String]): (Int, Array[Byte]) = {
    val c = new URL(s.url(path)).openConnection().asInstanceOf[HttpURLConnection]
    range.foreach(c.setRequestProperty("Range", _))
    val code = c.getResponseCode
    val in: InputStream = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    (code, body)
  }

  /** The store logs a GET after its last byte; wait for `n` entries. */
  private def drain(s: ObjectStore, n: Int): Seq[ObjectStore.Get] = {
    val out = Seq.newBuilder[ObjectStore.Get]
    var got = 0
    val deadline = System.nanoTime() + 10_000_000_000L
    while (got < n && System.nanoTime() < deadline) {
      val g = s.drainLog(); out ++= g; got += g.size
      if (got < n) Thread.sleep(10)
    }
    out.result()
  }

  test("a request without Range gets the whole file") {
    withStore(0) { s =>
      val (code, body) = get(s, "/small", None)
      assert(code == 200)
      assert(body.sameElements(small))
      assert(drain(s, 1).map(_.bytes) == Seq(1000L))
    }
  }

  test("bytes=a-b serves the inclusive span, bytes=a- the rest of the file") {
    withStore(0) { s =>
      val (c1, b1) = get(s, "/small", Some("bytes=10-19"))
      assert(c1 == 206 && b1.sameElements(small.slice(10, 20)))
      val (c2, b2) = get(s, "/small", Some("bytes=990-"))
      assert(c2 == 206 && b2.sameElements(small.slice(990, 1000)))
      val (c3, _) = get(s, "/small", Some("bytes=1000-"))
      assert(c3 == 416)
      assert(drain(s, 3).map(_.bytes).sorted == Seq(0L, 10L, 10L))
    }
  }

  test("counts every GET and the bytes it sent") {
    withStore(0) { s =>
      (1 to 5).foreach(_ => get(s, "/small", Some("bytes=0-99")))
      val gets = drain(s, 5)
      assert(gets.size == 5)
      assert(gets.map(_.bytes).sum == 500L)
    }
  }

  test("a client that hangs up early is counted with the bytes actually sent") {
    withStore(0) { s =>
      val sock = new Socket("127.0.0.1", s.port)
      sock.getOutputStream.write(
        "GET /big HTTP/1.1\r\nHost: x\r\nRange: bytes=0-\r\n\r\n".getBytes(StandardCharsets.US_ASCII))
      sock.getOutputStream.flush()
      val in = sock.getInputStream
      val buf = new Array[Byte](4096)
      var read = 0
      while (read < 8192) read += math.max(0, in.read(buf))
      sock.close()
      val gets = drain(s, 1)
      assert(gets.size == 1)
      assert(gets.head.bytes >= 4096L && gets.head.bytes < big.length)
    }
  }

  test("the fixed latency is applied once per GET") {
    withStore(50) { s =>
      val t0 = System.nanoTime()
      (1 to 4).foreach(_ => get(s, "/small", Some("bytes=0-9")))
      val wall = (System.nanoTime() - t0) / 1e6
      val gets = drain(s, 4)
      assert(gets.size == 4)
      gets.foreach(g => assert((g.endNs - g.startNs) / 1e6 >= 50.0))
      // four sequential GETs: four delays, not more
      assert(wall >= 200.0 && wall < 400.0, s"4 GETs took $wall ms")
    }
  }
}
