package graftbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The benchmark's document server: serves [[Corpus.writeDoc]] for every
  * URL after a fixed latency, with at most `threads` handler threads.
  *
  * Faults are set per URL by the workload ([[Corpus.faults]]): a
  * transient URL answers 503 once and is served afterwards; a permanent
  * one always answers 404. Counters cover requests, body bytes, status
  * codes and client connections: distinct remote socket addresses since
  * the last [[resetConnections]], so a client port the OS reuses later in
  * the run is not mistaken for the earlier connection.
  */
class DocServer(threads: Int, latencyMs: Long, port: Int) {

  private val faults = new ConcurrentHashMap[String, Corpus.Fault]()
  private val served503 = ConcurrentHashMap.newKeySet[String]()
  private val remotes = ConcurrentHashMap.newKeySet[String]()

  val requests = new AtomicLong
  val bytes = new AtomicLong
  val status200 = new AtomicLong
  val status404 = new AtomicLong
  val status503 = new AtomicLong

  /** Called once per request with (url, start µs, end µs, status). */
  @volatile var onRequest: (String, Long, Long, Int) => Unit = (_, _, _, _) => ()

  private val pool = Executors.newFixedThreadPool(threads)
  // the port is part of every document URL: binding the requested one,
  // when it is free, makes a seed's inputs identical from run to run
  private val server = (port until port + 20).iterator.map { p =>
    scala.util.Try(HttpServer.create(new InetSocketAddress("127.0.0.1", p), 64)).toOption
  }.collectFirst { case Some(s) => s }
    .getOrElse(HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64))
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def addFaults(m: Map[String, Corpus.Fault]): Unit =
    m.foreach { case (u, f) => faults.put(u, f) }

  def connections: Long = remotes.size.toLong
  def resetConnections(): Unit = remotes.clear()
  def errors: Long = status404.get + status503.get

  private def handle(ex: HttpExchange): Unit = {
    val t0 = Spans.nowUs
    try {
      requests.incrementAndGet()
      remotes.add(ex.getRemoteAddress.toString)
      ex.getRequestBody.readAllBytes()
      val url = base + ex.getRequestURI.toString
      Thread.sleep(latencyMs)
      val status = faults.getOrDefault(url, Corpus.NoFault) match {
        case Corpus.Permanent404 => 404
        case Corpus.Transient503 if served503.add(url) => 503
        case _ => 200
      }
      status match {
        case 200 =>
          val n = Corpus.docSize(url).toLong
          ex.getResponseHeaders.add("Content-Type", "application/pdf")
          ex.sendResponseHeaders(200, n)
          Corpus.writeDoc(url, ex.getResponseBody)
          bytes.addAndGet(n)
          status200.incrementAndGet()
        case s =>
          ex.sendResponseHeaders(s, -1)
          (if (s == 404) status404 else status503).incrementAndGet()
      }
      onRequest(url, t0, Spans.nowUs, status)
    } finally ex.close()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    ()
  }
}
