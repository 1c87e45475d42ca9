package graft.fetch

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Rate-limited, retried binary fetch (SURVEY §2.1 S6-S8, §2.9 K2, §2.3 F5).
  *
  * Reference (/root/reference/src/irdai_scraper/downloader/async_downloader.py):
  *  - S6 download_file: streamed GET → destination (:50-100)
  *  - S7 bounded concurrency + token-bucket rate limit (:29-37, 106-148)
  *  - S8 retry with linear backoff `delay * (attempt+1)` (:60-68)
  *
  * Spark shape: `mapPartitions` over a task Dataset — the fetch is a
  * side-effecting, non-deterministic operator, so it must NOT sit under a
  * join/aggregate Catalyst could re-execute; callers checkpoint the result
  * (write it out, e.g. to the state store) BEFORE the enrichment join
  * (SURVEY §7.4). Parallelism is capped by repartitioning to
  * `maxConcurrent` partitions (reference semaphore ≤10); the rate limiter
  * is per-JVM, and [[download]]'s `numExecutors` parameter splits the
  * cluster-global `ratePerSec` budget across executors (each JVM's bucket
  * enforces `ratePerSec / numExecutors`).
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

  /** Per-JVM token-bucket: blocks the calling task thread until the next
    * slot, giving at most `ratePerSec` acquisitions/second across all
    * partitions running in this executor (async_downloader.py:29-37).
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

  /** Production fetch over java.net.http, through the JVM-wide [[client]]. */
  def httpFetch(timeoutSec: Long = 300): String => Array[Byte] = {
    url =>
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(timeoutSec)).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      if (resp.statusCode() / 100 != 2)
        throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
      resp.body()
  }

  /** A task that failed `attempts` times and waits out its backoff until
    * `notBefore` (System.nanoTime).
    */
  private case class Backoff(task: DownloadTask, attempts: Int, notBefore: Long)

  /** S6+S7+S8+K2: fetch every task, writing bytes to `destination`.
    *
    * Exactly-once mitigation (SURVEY §7.4): if `skipExisting` and the
    * destination file already exists, the fetch is skipped and reported as
    * success — re-executed partitions (task retry, AQE replan) do not
    * re-download.
    *
    * Retries: a task whose k-th attempt fails is attempted again no
    * sooner than `retryDelayMs * k` later, at most `retryAttempts`
    * attempts in all, each taking one rate-limiter token. While it waits,
    * its partition goes on fetching the other tasks.
    *
    * `ratePerSec` is the CLUSTER-GLOBAL budget: the per-JVM token bucket
    * enforces `ratePerSec / numExecutors`, so with E executors each
    * running its share of the partitions the aggregate request rate stays
    * ≤ the budget (SURVEY §7.4 — the reference's limiter is per-process
    * because it IS one process; a distributed fetch must split the
    * budget). Default `numExecutors = 1` is exact on local mode. The
    * static split is deliberately simple — a coordination-free upper
    * bound; executors that finish early leave their share unused rather
    * than rebalancing (no cross-executor token traffic).
    */
  def download(tasks: Dataset[DownloadTask], fetch: String => Array[Byte],
               maxConcurrent: Int = 10, ratePerSec: Double = 10.0,
               retryAttempts: Int = 3, retryDelayMs: Long = 2000,
               skipExisting: Boolean = true,
               numExecutors: Int = 1): Dataset[DownloadResult] = {
    require(numExecutors >= 1, s"numExecutors must be >= 1, got $numExecutors")
    val perJvmRate = ratePerSec / numExecutors
    implicit val enc = Encoders.product[DownloadResult]
    tasks
      .repartition(maxConcurrent)
      .mapPartitions { it =>
        def attempt(task: DownloadTask): DownloadResult =
          try {
            RateLimiter.acquire(perJvmRate)
            val bytes = fetch(task.url)
            val dest = java.nio.file.Paths.get(task.destination)
            if (dest.getParent != null) java.nio.file.Files.createDirectories(dest.getParent)
            java.nio.file.Files.write(dest, bytes)
            DownloadResult(task.url, success = true, task.destination, bytes.length.toLong, null)
          } catch {
            case e: Exception =>
              DownloadResult(task.url, success = false, null, 0L,
                s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
          }
        // Failed tasks wait in a queue ordered by their not-before time, so
        // a URL backing off does not hold up the rest of its partition.
        val waiting = scala.collection.mutable.PriorityQueue.empty[Backoff](
          Ordering.by((b: Backoff) => b.notBefore).reverse)
        new Iterator[DownloadResult] {
          def hasNext: Boolean = waiting.nonEmpty || it.hasNext
          def next(): DownloadResult = {
            var out: DownloadResult = null
            while (out == null) {
              val due = waiting.nonEmpty && (!it.hasNext || waiting.head.notBefore <= System.nanoTime())
              val (task, attempts) =
                if (due) {
                  val b = waiting.dequeue()
                  val sleepNanos = b.notBefore - System.nanoTime()
                  if (sleepNanos > 0) Thread.sleep(sleepNanos / 1000000, (sleepNanos % 1000000).toInt)
                  (b.task, b.attempts)
                } else (it.next(), 0)
              val dest = java.nio.file.Paths.get(task.destination)
              if (attempts == 0 && skipExisting && java.nio.file.Files.exists(dest)) {
                out = DownloadResult(task.url, success = true, task.destination,
                  java.nio.file.Files.size(dest), null)
              } else {
                val result = attempt(task)
                if (result.success || attempts + 1 >= retryAttempts) out = result
                else { // linear backoff: retryDelayMs * attempts made so far
                  waiting.enqueue(Backoff(task, attempts + 1,
                    System.nanoTime() + (attempts + 1) * retryDelayMs * 1000000L))
                }
              }
            }
            out
          }
        }
      }
  }

  /** F5: split results into (successes, failures) — cli.py:116-143. */
  def splitResults(results: DataFrame): (DataFrame, DataFrame) =
    (results.where(col("success")), results.where(!col("success")))
}
