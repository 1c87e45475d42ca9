package graft.app

import graft.fetch.Downloader
import graft.fetch.Downloader.DownloadTask
import graft.functions.{TextFunctions => T}
import graft.operators.{DeltaOps, ParsePipeline}
import graft.sources.{CsvMeta, PageSource}
import graft.state.StateStore
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}

import scala.jdk.CollectionConverters._

/** The reference's four CLI entry points (SURVEY §3) as Spark jobs.
  *
  *  - scrape       → cli.py:236-379  (full scan with resume)
  *  - delta        → scripts/delta_download.py:167-211 (incremental)
  *  - status       → cli.py:382-413  (state summary)
  *  - retry-failed → cli.py:416-461  (DLQ replay)
  *  - reset        → cli.py:464-502
  *
  * The jobs read their pages from a fixture directory (`page_<n>.html`
  * files, [[PageSource.fixtureScan]]); the document fetch is pluggable
  * (the CLI uses [[stubFetch]]; [[Downloader.httpFetch]] fetches over
  * HTTP). [[runPipeline]] takes any page Dataset, so an online scan is
  * [[PageSource.scan]] with a fetch over [[PageSource.buildPageUrl]].
  * Run via: spark-submit --class graft.app.Jobs <jar> <command> <workDir>
  * <productType> [pagesDir]
  */
object Jobs {

  /** Deterministic offline fetch: "downloads" a URL as its UTF-8 bytes. */
  def stubFetch: String => Array[Byte] = url => s"CONTENT:$url".getBytes("UTF-8")

  def csvPath(workDir: String, productType: String) =
    s"$workDir/metadata/${productType}_products.csv"

  /** Rejects a product type with no sink schema before a job writes any
    * state (a CLI typo would otherwise commit a stray session row).
    */
  private def requireKnownType(productType: String): Unit =
    if (!CsvMeta.columns.contains(productType))
      throw new IllegalArgumentException(s"unknown product type: $productType")

  /** §3.1/§3.2 shared core: pages → parse → delta → tasks → fetch →
    * enrich → append. Returns (newRows, successes, failures) counts.
    *
    * The delta is collected once and the batch is finished from its rows
    * on the driver: the fetch tasks and the CSV lines are computed over
    * local relations made from them, and each row takes its URL's
    * download result from a map. The driver holds one batch: at most one
    * run's new rows.
    */
  def runPipeline(spark: SparkSession, state: StateStore, workDir: String,
                  productType: String, pages: Dataset[ParsePipeline.PageHtml],
                  fetch: String => Array[Byte],
                  metadataOnly: Boolean = false): (Long, Long, Long) = {
    // G1-G4 + P* + F*: pages → typed rows.
    val parsed = ParsePipeline.parse(spark, pages, productType)

    // J1: only rows whose document_url is NOT already in the metadata CSV.
    // A link-less row (null document_url) passes the anti-join unchanged:
    // a null key equals nothing, so it is never matched and is re-appended
    // on every run. One join over `parsed` keeps the scan and parse of each
    // page to a single pass.
    // The CSV is first cut back to its committed length: the rows of a tail
    // an earlier run appended but never committed are derived again here.
    val csv = csvPath(workDir, productType)
    CsvMeta.truncateToCommitted(spark, csv)
    val fresh = DeltaOps.delta(parsed, CsvMeta.existingUrlRows(spark, csv, productType),
      "document_url")
    // J2: each row carries whether its URL completed in a prior run (T3
    // exactly-once), evaluated in the same plan, so no second plan
    // filters the tasks.
    val batch = if (metadataOnly) fresh
      else fresh.withColumn(Completed, state.isCompleted("document_url"))
    // collected: the batch cannot re-read the CSV its append grows (SURVEY §7.4)
    val rows = batch.collect().toSeq
    // X12: one scraped_at instant per run, taken when the delta is collected
    // (as current_timestamp() would be), before the fetch. It is stamped on
    // the driver's rows, not in the delta's plan: there whole-stage codegen
    // inlines the folded literal, so every run compiled its parse stage anew.
    val scrapedAt = java.sql.Timestamp.from(java.time.Instant.now())
    def local(batch: Seq[Row], schema: StructType) = spark.createDataFrame(batch.asJava, schema)
    // K1: every row of the batch, stamped, with its `local_file_path`
    def append(filePath: Row => String): Unit =
      CsvMeta.append(local(rows.map(r => Row.fromSeq(r.toSeq.take(fresh.schema.size) :+
          scrapedAt :+ filePath(r))),
        fresh.schema.add("scraped_at", TimestampType).add("local_file_path", StringType)),
        productType, csv)

    if (metadataOnly) { // F6: skip the download stage entirely
      append(_ => null)
      return (rows.size.toLong, 0L, 0L)
    }

    // F3 + X7/X9: one task per pending linked URL, with a computed destination.
    val (urlAt, doneAt) = (batch.schema.fieldIndex("document_url"), batch.schema.fieldIndex(Completed))
    val pending = rows.filterNot(r => r.isNullAt(urlAt) || r.getBoolean(doneAt))
      .distinctBy(_.getString(urlAt))

    // S6-S8 fetch, only when a URL is pending: most monthly batches have
    // none. Its results are collected, one small row per fetched URL: the
    // DLQ, the CSV and `completed` read them on the driver, and a collected
    // result can never be fetched again (SURVEY §7.4).
    val results = if (pending.isEmpty) Nil else {
      val tasks = local(pending, batch.schema).select(col("document_url").as("url"),
        concat(lit(s"$workDir/downloads/$productType/"),
          T.sanitizeFilename(coalesce(col("document_filename"),
            T.filenameFromUrl(col("document_url")),
            T.urlHash(col("document_url")).cast("string")))).as("destination"))
        .as(Encoders.product[DownloadTask])
      Downloader.download(tasks, fetch).collect().toSeq
    }
    val (ok, bad) = results.partition(_.success)

    // T4: failures go to the DLQ first; a re-run retries them either way.
    if (bad.nonEmpty) state.mergeFailed(Nil, bad.map(r => r.url -> r.error))

    // J3: each row gets its URL's download outcome, then K1 append. A row
    // whose URL was completed in a prior run is appended with no file path.
    val byUrl = results.groupMapReduce(_.url)(identity)(resultOrder.max)
    append(r => Option(r.getString(urlAt)).flatMap(byUrl.get).map(_.file_path).orNull)

    // T3: mark URLs completed only once their rows are committed to the
    // CSV. After a crash before that commit the re-run derives the same
    // rows, re-fetches them (a stored file answers with no download)
    // and appends their file paths; marked first, it would append an
    // empty local_file_path. Only URLs not flagged completed above were
    // fetched, so none is in the set yet.
    if (ok.nonEmpty) state.markCompleted(ok.map(_.url))
    (rows.size.toLong, ok.size.toLong, bad.size.toLong)
  }

  /** The J2 flag column of the collected batch. */
  private val Completed = "_completed"

  /** The J3 pick among the results of one URL, by the contract enrich's
    * total order: max by file size, then file path (null lowest), then
    * success.
    */
  private val resultOrder: Ordering[Downloader.DownloadResult] =
    Ordering.by(r => (r.file_size, Option(r.file_path), r.success))

  /** §3.1 scrape: resume from state, scan [resume..totalPages]. A scrape
    * with no page left to scan leaves its session completed.
    */
  def scrape(spark: SparkSession, workDir: String, productType: String,
             pagesDir: String, totalPages: Int,
             fetch: String => Array[Byte] = stubFetch): (Long, Long, Long) = {
    requireKnownType(productType)
    val state = new StateStore(spark, s"$workDir/state")
    state.startSession(productType, totalPages)
    val start = state.resumePage(productType)
    if (start > totalPages) {
      state.completeSession(productType)
      return (0L, 0L, 0L)
    }
    val pages = PageSource.fixtureScan(spark, productType, pagesDir, start, totalPages)
    val out = runPipeline(spark, state, workDir, productType, pages, fetch)
    state.updateProgress(productType, totalPages, out._1)
    state.completeSession(productType)
    out
  }

  /** §3.2 delta: one incremental pass over the full page range. */
  def delta(spark: SparkSession, workDir: String, productType: String,
            pagesDir: String, totalPages: Int,
            fetch: String => Array[Byte] = stubFetch): (Long, Long, Long) = {
    requireKnownType(productType)
    val state = new StateStore(spark, s"$workDir/state")
    val pages = PageSource.fixtureScan(spark, productType, pagesDir, 1, totalPages)
    runPipeline(spark, state, workDir, productType, pages, fetch)
  }

  /** §3.3 status: session summary + completed/failed counts (A3/A6). */
  def status(spark: SparkSession, workDir: String): DataFrame =
    new StateStore(spark, s"$workDir/state").summary

  /** §3.3 retry-failed: replay the DLQ; successes leave it (J4). */
  def retryFailed(spark: SparkSession, workDir: String,
                  fetch: String => Array[Byte] = stubFetch): (Long, Long) = {
    val state = new StateStore(spark, s"$workDir/state")
    val tasks = state.failed.select(col("url"),
      concat(lit(s"$workDir/downloads/retry/"),
        coalesce(T.filenameFromUrl(col("url")),
          concat(lit("file_"), T.urlHash(col("url")).cast("string")))).as("destination"))
      .as(Encoders.product[DownloadTask])
    val results = Downloader.download(tasks, fetch).collect().toSeq
    val (ok, bad) = results.partition(_.success)
    if (ok.nonEmpty)
      state.markCompleted(spark.createDataFrame(ok.map(r => Tuple1(r.url))).toDF("url"))
    if (results.nonEmpty) state.mergeFailed(ok.map(_.url), bad.map(r => r.url -> r.error))
    (ok.size.toLong, bad.size.toLong)
  }

  /** §3.3 reset: drop session state (and optionally the CSV). */
  def reset(spark: SparkSession, workDir: String, productType: String,
            clearCsv: Boolean = false): Unit = {
    requireKnownType(productType)
    new StateStore(spark, s"$workDir/state").resetSession(productType)
    if (clearCsv) CsvMeta.clear(spark, csvPath(workDir, productType))
  }

  /** §3.3 reset-all: every product type in one sweep
    * (csv_writer.py:112-126 clears ALL tables, not one).
    */
  def resetAll(spark: SparkSession, workDir: String,
               clearCsv: Boolean = false): Unit =
    CsvMeta.columns.keys.foreach(reset(spark, workDir, _, clearCsv))

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      case "scrape" :: workDir :: pt :: pagesDir :: total :: Nil =>
        val (n, ok, bad) = scrape(spark, workDir, pt, pagesDir, total.toInt)
        println(s"scrape: $n new rows, $ok downloaded, $bad failed")
      case "delta" :: workDir :: pt :: pagesDir :: total :: Nil =>
        val (n, ok, bad) = delta(spark, workDir, pt, pagesDir, total.toInt)
        println(s"delta: $n new rows, $ok downloaded, $bad failed")
      case "status" :: workDir :: Nil => status(spark, workDir).show(truncate = false)
      case "retry-failed" :: workDir :: Nil =>
        val (ok, bad) = retryFailed(spark, workDir)
        println(s"retry: $ok recovered, $bad still failing")
      case "reset" :: workDir :: pt :: Nil => reset(spark, workDir, pt)
      case other => sys.error(s"usage: scrape|delta|status|retry-failed|reset ... (got $other)")
    }
    spark.stop()
  }
}
