package graft

import graft.fetch.Downloader
import graft.fetch.Downloader.DownloadTask
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** S6-S8 fetch operator tests with stubbed HTTP. */
class DownloaderSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir = Files.createTempDirectory("graft-dl").toString

  test("successful fetch writes bytes and reports size") {
    val dir = tmpDir
    val tasks = Seq(DownloadTask("https://x.test/a.pdf", s"$dir/a.pdf")).toDS()
    val out = Downloader.download(tasks, url => "hello".getBytes("UTF-8")).collect()
    assert(out.length == 1 && out.head.success && out.head.file_size == 5L)
    assert(Files.readAllBytes(Paths.get(s"$dir/a.pdf")).sameElements("hello".getBytes("UTF-8")))
  }

  test("retry with linear backoff: transient failures recover (S8)") {
    val dir = tmpDir
    // Counter lives in the shared local-mode JVM; fails twice, then works.
    DownloaderSpec.attempts.set(0)
    val tasks = Seq(DownloadTask("u1", s"$dir/r.pdf")).toDS()
    val out = Downloader.download(tasks,
      url => {
        if (DownloaderSpec.attempts.incrementAndGet() <= 2) throw new RuntimeException("flaky")
        "ok".getBytes("UTF-8")
      },
      retryAttempts = 3, retryDelayMs = 1).collect()
    assert(out.head.success)
    assert(DownloaderSpec.attempts.get() == 3)
  }

  test("exhausted retries → failure row with the error preserved (F5)") {
    val dir = tmpDir
    val tasks = Seq(
      DownloadTask("good", s"$dir/g.bin"),
      DownloadTask("bad", s"$dir/b.bin")).toDS()
    val results = Downloader.download(tasks,
      url => if (url == "bad") throw new IllegalStateException("nope")
             else "x".getBytes("UTF-8"),
      retryAttempts = 2, retryDelayMs = 1).collect()
    val (ok, bad) = results.partition(_.success)
    assert(ok.length == 1 && bad.length == 1)
    val err = bad.head.error
    assert(err.contains("IllegalStateException") && err.contains("nope"))
  }

  test("skipExisting short-circuits the fetch (idempotent re-execution)") {
    val dir = tmpDir
    Files.write(Paths.get(s"$dir/done.pdf"), "already".getBytes("UTF-8"))
    DownloaderSpec.attempts.set(0)
    val tasks = Seq(DownloadTask("u", s"$dir/done.pdf")).toDS()
    val out = Downloader.download(tasks,
      url => { DownloaderSpec.attempts.incrementAndGet(); "new".getBytes("UTF-8") }).collect()
    assert(out.head.success && out.head.file_size == 7L)
    assert(DownloaderSpec.attempts.get() == 0) // fetch never invoked
  }

  test("rate limiter spaces acquisitions at roughly the configured rate") {
    val dir = tmpDir
    val tasks = (1 to 5).map(i => DownloadTask(s"u$i", s"$dir/f$i.bin")).toDS()
    val t0 = System.nanoTime()
    Downloader.download(tasks, _ => "x".getBytes("UTF-8"),
      maxConcurrent = 5, ratePerSec = 20.0).collect()
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    // 5 acquisitions at 20/s ≈ ≥200ms of spacing (first one is free)
    assert(elapsedMs >= 150, s"elapsed ${elapsedMs}ms — limiter not engaged")
  }

  test("httpFetch reuses one connection for sequential GETs") {
    // every request records the client address it came from: a new
    // connection shows up as a new client port
    val clients = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      clients.add(ex.getRemoteAddress.toString)
      val body = ex.getRequestURI.getPath.getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    })
    server.start()
    try {
      val fetch = Downloader.httpFetch(10)
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val n = 6
      (1 to n).foreach(i => assert(new String(fetch(s"$base/doc$i"), "UTF-8") == s"/doc$i"))
      assert(clients.size == 1, s"$n GETs came over ${clients.size} connections: $clients")
    } finally server.stop(0)
  }

  test("a task backing off does not block the rest of its partition") {
    // One partition: the first URL fetched fails once with a 500 ms
    // backoff. Its retry must come after every other task's fetch instead
    // of stalling them, and the attempt count stays one per fetch + one.
    val dir = tmpDir
    // the log lives in the shared local-mode JVM, not in the closure
    val log = DownloaderSpec.fetchLog
    log.clear()
    val tasks = (1 to 4).map(i => DownloadTask(s"u$i", s"$dir/b$i.bin")).toDS()
    val out = Downloader.download(tasks,
      url => {
        val log = DownloaderSpec.fetchLog
        val first = log.isEmpty
        log.add(url)
        if (first) throw new java.io.IOException("transient")
        url.getBytes("UTF-8")
      },
      maxConcurrent = 1, ratePerSec = 1000.0, retryAttempts = 3, retryDelayMs = 500).collect()
    val order = log.toArray.toSeq.map(_.toString)
    assert(order.size == 5, s"attempts: $order")
    assert(order.last == order.head && order.count(_ == order.head) == 2, s"order: $order")
    assert(out.map(_.url).sorted.toSeq == Seq("u1", "u2", "u3", "u4") && out.forall(_.success))
  }

  test("a stale truncated <dest>.part is refetched; the final file is whole, no .part left") {
    // a task killed mid-write left a partial .part; the existing-file skip
    // trusts only the final name, so the URL is fetched again
    val dir = tmpDir
    val dest = s"$dir/doc.pdf"
    Files.write(Paths.get(s"$dest.part"), "trunc".getBytes("UTF-8"))
    val body = Array.fill[Byte](4096)(7)
    val out = Downloader.download(Seq(DownloadTask("u", dest)).toDS(), _ => body).collect()
    assert(out.head.success && out.head.file_size == body.length.toLong)
    assert(Files.readAllBytes(Paths.get(dest)).sameElements(body))
    assert(!Files.exists(Paths.get(s"$dest.part")))
  }

  /** Fetch workers still alive in this JVM. */
  private def fetchWorkers: Seq[String] =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-fetch-")).map(_.getName)

  test("a 404 is requested once and fails with the plain IOException text (S8)") {
    val dir = tmpDir
    val server = new TestHttpServer()((_, _) => (404, Nil))
    try {
      val url = s"${server.base}/missing.pdf"
      val out = Downloader.download(Seq(DownloadTask(url, s"$dir/m.pdf")).toDS(),
        Downloader.httpFetch(10), retryDelayMs = 2000).collect()
      assert(server.requests("/missing.pdf").size == 1)
      assert(!out.head.success && out.head.error == s"IOException: HTTP 404 for $url")
    } finally server.close()
  }

  test("a 503 is retried: the URL succeeds on its second request (S8)") {
    val dir = tmpDir
    val server = new TestHttpServer()((_, n) => (if (n == 1) 503 else 200, Nil))
    try {
      val out = Downloader.download(Seq(DownloadTask(s"${server.base}/flaky.pdf", s"$dir/f.pdf")).toDS(),
        Downloader.httpFetch(10), retryDelayMs = 50).collect()
      assert(server.requests("/flaky.pdf").size == 2)
      assert(out.head.success && new String(Files.readAllBytes(Paths.get(s"$dir/f.pdf")), "UTF-8") == "/flaky.pdf")
    } finally server.close()
  }

  test("a 429 with Retry-After: 1 is retried no sooner than 1 s later") {
    val dir = tmpDir
    val server = new TestHttpServer()((_, n) =>
      if (n == 1) (429, Seq("Retry-After" -> "1")) else (200, Nil))
    try {
      val out = Downloader.download(Seq(DownloadTask(s"${server.base}/busy.pdf", s"$dir/b.pdf")).toDS(),
        Downloader.httpFetch(10), retryDelayMs = 10).collect()
      val Seq(first, second) = server.requests("/busy.pdf")
      assert(out.head.success)
      assert(second - first >= 1000000000L, s"retry came ${(second - first) / 1e6} ms after the 429")
    } finally server.close()
  }

  test("maxConcurrent requests stay in flight on fewer task slots; no worker outlives its task") {
    // local[2] runs 2 tasks at a time: one fetch per slot would need
    // 20 x 200 ms / 2 = 2 s; ten in flight need about 2 x 200 ms
    val dir = tmpDir
    val server = new TestHttpServer(latencyMs = 200, threads = 20)()
    try {
      val fetch = Downloader.httpFetch(10)
      Downloader.download(Seq(DownloadTask(s"${server.base}/warm", s"$dir/warm")).toDS(), fetch).collect()
      val tasks = (1 to 20).map(i => DownloadTask(s"${server.base}/d$i", s"$dir/d$i.pdf")).toDS()
      val t0 = System.nanoTime()
      val out = Downloader.download(tasks, fetch, maxConcurrent = 10, ratePerSec = 1000.0).collect()
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(out.length == 20 && out.forall(_.success))
      assert(elapsedMs < 1200, s"20 fetches took ${elapsedMs} ms")
      assert(server.peakInFlight <= 10, s"peak in flight ${server.peakInFlight}")
      assert(fetchWorkers.isEmpty, s"alive after collect: $fetchWorkers")
    } finally server.close()
  }

  test("a cancelled download stops its fetch workers") {
    val dir = tmpDir
    val sc = spark.sparkContext
    val tasks = (1 to 4).map(i => DownloadTask(s"u$i", s"$dir/c$i.bin")).toDS()
    val job = new Thread(() => {
      sc.setJobGroup("downloader-cancel", "blocked fetch") // no interrupt on cancel
      try Downloader.download(tasks, _ => { Thread.sleep(60000); Array.emptyByteArray }).collect()
      catch { case _: Exception => () }
    })
    job.start()
    val deadline = System.nanoTime() + 30000000000L
    while (fetchWorkers.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(fetchWorkers.nonEmpty, "the fetch workers never started")
    sc.cancelJobGroup("downloader-cancel")
    job.join(30000)
    while (fetchWorkers.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(fetchWorkers.isEmpty, s"alive after cancel: $fetchWorkers")
  }
}

object DownloaderSpec {
  val attempts = new AtomicInteger(0)
  val fetchLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
