package graft.fetch

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{DelayQueue, Delayed, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.TaskContext
import org.apache.spark.graftbridge.TaskThreads
import org.apache.spark.sql.{Dataset, Encoders}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.OptionConverters._
import scala.util.control.NonFatal

/** Rate-limited, retried binary fetch (SURVEY §2.1 S6-S8, §2.9 K2, §2.3 F5).
  *
  * Reference (/root/reference/src/irdai_scraper/downloader/async_downloader.py):
  *  - S6 download_file: streamed GET → destination (:50-100)
  *  - S7 bounded concurrency + token-bucket rate limit (:29-37, 106-148)
  *  - S8 retry with linear backoff `delay * (attempt+1)` (:60-68)
  *
  * Spark shape: `mapPartitions` over a task Dataset — the fetch is a
  * side-effecting, non-deterministic operator, so it must NOT sit under a
  * join/aggregate Catalyst could re-execute; callers collect the result
  * (one small row per URL) BEFORE anything reads it, so no later plan can
  * run the fetch again (SURVEY §7.4). Success and failure (F5,
  * cli.py:116-143) split on the driver.
  *
  * In-flight pool: the tasks go to one partition, which runs
  * `maxConcurrent` blocking fetch workers, so `maxConcurrent` requests are
  * in flight (the reference's semaphore ≤10) however many task slots the
  * cluster has. The partitions are merged by `coalesce(1)`, a narrow
  * dependency, so the fetch is one Spark job of one stage and one task;
  * `repartition(1)` would add a shuffle, whose map side AQE runs as a job
  * of its own. The task Dataset's own plan then runs in that one task too,
  * which suits its callers: a local relation of collected rows, or the
  * small DLQ table. The workers pull from one queue ordered by not-before
  * time; a retry re-enters it at its backoff deadline, so a URL backing
  * off holds no worker. The rate limiter is per-JVM and shared by every
  * worker in it, so the one fetch task enforces `ratePerSec`.
  *
  * `fetch` is pluggable (url → bytes) so tests and the zero-egress harness
  * stub it; [[httpFetch]] is the production java.net.http implementation.
  */
object Downloader {

  /** One fetch task (models.py:69-79). */
  case class DownloadTask(url: String, destination: String)

  /** One fetch outcome (models.py:82-89); `error` is null on success. */
  case class DownloadResult(url: String, success: Boolean, file_path: String,
                            file_size: Long, error: String)

  /** A non-2xx answer to [[httpFetch]]: the status `code` and the
    * server's `Retry-After` delta-seconds, if it sent one.
    */
  class HttpStatusException(url: String, val code: Int, val retryAfterSec: Option[Long])
    extends java.io.IOException(s"HTTP $code for $url")

  /** Per-JVM token-bucket: blocks the calling thread until the next slot,
    * giving at most `ratePerSec` acquisitions/second across all fetch
    * workers running in this executor (async_downloader.py:29-37).
    */
  private object RateLimiter {
    private var nextSlotNanos = 0L
    def acquire(ratePerSec: Double): Unit = {
      val intervalNanos = (1e9 / ratePerSec).toLong
      val waitUntil = synchronized {
        val now = System.nanoTime()
        nextSlotNanos = math.max(nextSlotNanos + intervalNanos, now)
        nextSlotNanos
      }
      val sleepNanos = waitUntil - System.nanoTime()
      if (sleepNanos > 0) Thread.sleep(sleepNanos / 1000000, (sleepNanos % 1000000).toInt)
    }
  }

  /** One client per JVM: it pools connections, so consecutive fetches to
    * a host reuse a kept-alive connection instead of opening one per URL.
    */
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
    .build()

  /** Production fetch over java.net.http, through the JVM-wide [[client]].
    * A non-2xx answer throws [[HttpStatusException]].
    */
  def httpFetch(timeoutSec: Long = 300): String => Array[Byte] = {
    url =>
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(timeoutSec)).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      if (resp.statusCode() / 100 != 2) {
        val retryAfterSec = resp.headers().firstValue("Retry-After").toScala.map(_.trim)
          .filter(_.forall(_.isDigit)).flatMap(_.toLongOption)
        throw new HttpStatusException(url, resp.statusCode(), retryAfterSec)
      }
      resp.body()
  }

  /** S8 classification: 408, 429, 5xx and every non-HTTP failure (timeout,
    * reset, a stub's exception) may pass on a later attempt; any other
    * status is permanent.
    */
  private def retryable(e: Throwable): Boolean = e match {
    case s: HttpStatusException => s.code == 408 || s.code == 429 || s.code >= 500
    case _ => true
  }

  /** DLQ error text, `<exception class>: <message>`. A status failure
    * reads `IOException: HTTP <code> for <url>`, as the DLQ rows already on
    * disk do.
    */
  private def describe(e: Throwable): String = {
    val name = e match {
      case _: HttpStatusException => classOf[java.io.IOException].getSimpleName
      case _ => e.getClass.getSimpleName
    }
    s"$name: ${Option(e.getMessage).getOrElse("")}"
  }

  /** A task that has made `attempts` attempts and may not start the next
    * before `notBefore` (System.nanoTime); `seq` keeps input order among
    * tasks due at the same time.
    */
  private final case class Pending(task: DownloadTask, attempts: Int, notBefore: Long, seq: Long)
      extends Delayed {
    def getDelay(unit: TimeUnit): Long =
      unit.convert(notBefore - System.nanoTime(), TimeUnit.NANOSECONDS)
    def compareTo(o: Delayed): Int = {
      val p = o.asInstanceOf[Pending]
      val c = java.lang.Long.compare(notBefore, p.notBefore)
      if (c != 0) c else java.lang.Long.compare(seq, p.seq)
    }
  }

  /** S6+S7+S8+K2: fetch every task, writing bytes to `destination`.
    *
    * The bytes go to `<destination>.part` first and are moved onto
    * `destination` atomically, so a task killed mid-write never leaves a
    * truncated file under the final name. Exactly-once mitigation (SURVEY
    * §7.4): if the destination file already exists, the fetch is skipped
    * and reported as success — re-executed partitions (task retry, AQE
    * replan) do not re-download.
    *
    * Retries: a task whose k-th attempt fails with a retryable error
    * (408, 429, 5xx or any non-HTTP exception) is attempted again no
    * sooner than `max(retryDelayMs * k, Retry-After)` later, at most
    * `retryAttempts` attempts in all, each taking one rate-limiter token.
    * Any other HTTP status (404, 410, ...) fails after one attempt. This
    * departs from the reference, which retries every client error: a
    * permanent 404 would otherwise wait out the whole backoff chain before
    * it reaches the DLQ.
    *
    * The fetch workers are threads of the partition's task: they start
    * when it does and are interrupted and joined before it returns or
    * fails, so none outlives its task.
    */
  def download(tasks: Dataset[DownloadTask], fetch: String => Array[Byte],
               maxConcurrent: Int = 10, ratePerSec: Double = 10.0,
               retryAttempts: Int = 3, retryDelayMs: Long = 2000): Dataset[DownloadResult] = {
    require(maxConcurrent >= 1, s"maxConcurrent must be >= 1, got $maxConcurrent")
    implicit val enc = Encoders.product[DownloadResult]
    tasks
      .coalesce(1)
      .mapPartitions { it =>
        val ctx = TaskContext.get()
        val out = ArrayBuffer.empty[DownloadResult]
        val queue = new DelayQueue[Pending]()
        val start = System.nanoTime()
        it.foreach { task =>
          val dest = Paths.get(task.destination)
          if (Files.exists(dest))
            out += DownloadResult(task.url, success = true, task.destination, Files.size(dest), null)
          else queue.put(Pending(task, 0, start, queue.size.toLong))
        }
        val fetches = queue.size
        // final results, or the error that stopped a worker
        val done = new LinkedBlockingQueue[Either[Throwable, DownloadResult]]()
        val stopped = new AtomicBoolean(false)

        def attempt(task: DownloadTask): Either[Throwable, DownloadResult] =
          try {
            RateLimiter.acquire(ratePerSec)
            val bytes = fetch(task.url)
            val dest = Paths.get(task.destination)
            if (dest.getParent != null) Files.createDirectories(dest.getParent)
            val part = Paths.get(task.destination + ".part")
            Files.write(part, bytes)
            Files.move(part, dest, StandardCopyOption.ATOMIC_MOVE)
            Right(DownloadResult(task.url, success = true, task.destination, bytes.length.toLong, null))
          } catch { case NonFatal(e) => Left(e) }

        def work(): Unit =
          try while (!stopped.get) {
            val p = queue.take()
            attempt(p.task) match {
              case Left(e) if retryable(e) && p.attempts + 1 < retryAttempts =>
                val retryAfterMs = e match {
                  case s: HttpStatusException => s.retryAfterSec.getOrElse(0L) * 1000L
                  case _ => 0L
                }
                val backoffMs = math.max(retryDelayMs * (p.attempts + 1), retryAfterMs)
                queue.put(p.copy(attempts = p.attempts + 1,
                  notBefore = System.nanoTime() + backoffMs * 1000000L))
              case Left(e) =>
                done.put(Right(DownloadResult(p.task.url, success = false, null, 0L, describe(e))))
              case Right(r) => done.put(Right(r))
            }
          } catch {
            case _: InterruptedException => () // stopped by the task thread
            case t: Throwable => done.put(Left(t))
          }

        val threads = (0 until math.min(maxConcurrent, fetches)).map { i =>
          val t = new Thread(() => TaskThreads.withContext(ctx)(work()),
            s"graft-fetch-${ctx.partitionId()}-$i")
          t.setDaemon(true)
          t
        }
        try {
          threads.foreach(_.start())
          var received = 0
          while (received < fetches) {
            TaskThreads.killIfInterrupted(ctx)
            done.poll(100, TimeUnit.MILLISECONDS) match {
              case null =>
              case Left(t) => throw t
              case Right(r) => out += r; received += 1
            }
          }
        } finally {
          stopped.set(true)
          threads.foreach(_.interrupt())
          threads.foreach(_.join())
        }
        out.iterator
      }
  }
}
