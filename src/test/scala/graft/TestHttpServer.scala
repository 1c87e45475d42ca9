package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** A local HTTP server for fetch specs. Requests are keyed by their raw
  * URI, the path plus any query string (`/life?p_p_id=...`).
  * `answer(uri, n)` gives the status and extra headers of the n-th request
  * (from 1) for `uri`; a 2xx answer carries the URI as its body after
  * `latencyMs`. The server logs each request's arrival (System.nanoTime)
  * per URI, and the peak number of requests it held at once.
  */
final class TestHttpServer(latencyMs: Long = 0, threads: Int = 4)(
    answer: (String, Int) => (Int, Seq[(String, String)]) = (_, _) => (200, Nil))
    extends AutoCloseable {
  private val arrivals = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Long]]()
  private val inFlight = new AtomicInteger(0)
  private val peak = new AtomicInteger(0)
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    val now = inFlight.incrementAndGet()
    peak.accumulateAndGet(now, math.max)
    try {
      val uri = ex.getRequestURI.toString
      val log = arrivals.computeIfAbsent(uri, _ => new ConcurrentLinkedQueue[Long]())
      val n = log.synchronized { log.add(System.nanoTime()); log.size }
      if (latencyMs > 0) Thread.sleep(latencyMs)
      val (status, headers) = answer(uri, n)
      headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
      if (status / 100 == 2) {
        val body = uri.getBytes("UTF-8")
        ex.sendResponseHeaders(status, body.length.toLong)
        ex.getResponseBody.write(body)
      } else ex.sendResponseHeaders(status, -1)
    } finally {
      inFlight.decrementAndGet()
      ex.close()
    }
  })
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Arrival times of the requests for `uri`, in order. */
  def requests(uri: String): Seq[Long] =
    Option(arrivals.get(uri)).map(_.asScala.toSeq).getOrElse(Nil)

  def peakInFlight: Int = peak.get

  def close(): Unit = { server.stop(0); pool.shutdownNow() }
}
