package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The source API the paged ETL extracts from: `GET /api/shifts?start=&limit=`
  * over one generated corpus, in the reference envelope. The program sees
  * only these pages. */
final class PageApi(corpus: IndexedSeq[Shifts.Shift]) extends AutoCloseable {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  val bytesServed = new AtomicLong()

  server.createContext("/api/shifts", (x: HttpExchange) => {
    val params = Option(x.getRequestURI.getQuery).toSeq.flatMap(_.split("&"))
      .flatMap(_.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None })
      .toMap
    val start = params.get("start").map(_.toInt).getOrElse(0)
    val limit = params.get("limit").map(_.toInt).getOrElse(7)
    val (code, body) =
      if (x.getRequestMethod != "GET" || start < 0 || limit < 1 || limit > 30)
        (400, """{"detail": "bad request"}""")
      else (200, Shifts.pageJson(corpus, start, limit, url))
    val b = body.getBytes("UTF-8")
    if (code == 200) bytesServed.addAndGet(b.length.toLong)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, b.length.toLong)
    x.getResponseBody.write(b)
    x.close()
  })
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/api/shifts"

  override def close(): Unit = server.stop(0)
}
