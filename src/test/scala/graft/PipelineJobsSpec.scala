package graft

import graft.app.Jobs
import graft.fetch.Downloader
import graft.sources.CsvMeta
import graft.state.StateStore
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.temporal.ChronoUnit
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

/** End-to-end incremental pipeline tests: T3 delta idempotence, T2 resume,
  * T4 DLQ replay, K1 append fidelity — SURVEY §5's "minimum slice" test
  * (§7.2 step 3).
  */
class PipelineJobsSpec extends SparkSpec {

  private def mkWorkDir(): String =
    Files.createTempDirectory("graft-jobs").toString

  private def writeLifePages(dir: String, pages: Seq[Seq[(String, String, Int)]],
                             base: String = ""): Unit = LifePages.write(dir, pages, base)

  test("delta job: first run ingests all, second run is an empty delta (T3)") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(
      Seq(("UIN1", "Alpha", 1), ("UIN2", "Beta", 2)),
      Seq(("UIN3", "Gamma", 3))))

    val (n1, ok1, bad1) = Jobs.delta(spark, work, "life", pagesDir, 2)
    assert((n1, ok1, bad1) == (3L, 3L, 0L))
    assert(CsvMeta.count(spark, Jobs.csvPath(work, "life")) == 3L)

    // identical input → empty delta, no new downloads, CSV unchanged
    val (n2, ok2, bad2) = Jobs.delta(spark, work, "life", pagesDir, 2)
    assert((n2, ok2, bad2) == (0L, 0L, 0L))
    assert(CsvMeta.count(spark, Jobs.csvPath(work, "life")) == 3L)

    // one new row appears → delta is exactly that row
    writeLifePages(pagesDir, Seq(
      Seq(("UIN1", "Alpha", 1), ("UIN2", "Beta", 2)),
      Seq(("UIN3", "Gamma", 3), ("UIN4", "Delta", 4))))
    val (n3, ok3, _) = Jobs.delta(spark, work, "life", pagesDir, 2)
    assert((n3, ok3) == (1L, 1L))
    assert(CsvMeta.count(spark, Jobs.csvPath(work, "life")) == 4L)
  }

  test("delta job: a link-less row passes every delta, linked rows land once (J1 null key)") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1), ("UIN2", "Beta", 0), ("UIN3", "Gamma", 3))))

    // the link-less row is fresh on both runs; only linked rows are fetched
    assert(Jobs.delta(spark, work, "life", pagesDir, 1) == (3L, 2L, 0L))
    assert(Jobs.delta(spark, work, "life", pagesDir, 1) == (1L, 0L, 0L))

    val urls = spark.read.option("header", "true").csv(Jobs.csvPath(work, "life"))
      .collect().map(r => Option(r.getAs[String]("document_url")).filter(_.nonEmpty)).toSeq
    assert(urls.flatten.sorted == Seq("https://example.invalid/documents/doc1.pdf",
      "https://example.invalid/documents/doc3.pdf"))
    assert(urls.count(_.isEmpty) == 2) // once per run
  }

  test("downloaded files land at computed destinations with stub content") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN9", "Omega", 9))))
    Jobs.delta(spark, work, "life", pagesDir, 1)
    val f = Paths.get(s"$work/downloads/life/Doc-9")
    assert(Files.exists(f))
    assert(new String(Files.readAllBytes(f), "UTF-8").startsWith("CONTENT:"))
  }

  test("a failed CSV append leaves its URLs pending: the re-run appends every row with its file (T3)") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1), ("UIN2", "Beta", 2), ("UIN3", "Gamma", 0))))
    // a regular file where the metadata directory belongs: the fetch
    // succeeds, then the CSV append throws
    val blocker = Paths.get(s"$work/metadata")
    Files.writeString(blocker, "")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](Jobs.delta(spark, work, "life", pagesDir, 1))
    assert(Files.exists(Paths.get(s"$work/downloads/life/Doc-1")))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    assert(leaked.isEmpty, s"the failed delta left RDDs $leaked persisted")
    Files.delete(blocker)

    assert(Jobs.delta(spark, work, "life", pagesDir, 1) == (3L, 2L, 0L))
    val linked = spark.read.option("header", "true").csv(Jobs.csvPath(work, "life")).collect()
      .filter(r => Option(r.getAs[String]("document_url")).exists(_.nonEmpty))
    val urls = linked.map(_.getAs[String]("document_url")).toSeq
    assert(urls.sorted == Seq("https://example.invalid/documents/doc1.pdf",
      "https://example.invalid/documents/doc2.pdf"))
    for (r <- linked) {
      val path = Option(r.getAs[String]("local_file_path")).getOrElse("")
      assert(path.nonEmpty, s"no file path for ${r.getAs[String]("document_url")}")
      assert(Files.size(Paths.get(path)) == Jobs.stubFetch(r.getAs[String]("document_url")).length)
    }
  }

  test("scrape job resumes from last_completed_page (T2)") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1)), Seq(("UIN2", "Beta", 2))))

    val (n1, _, _) = Jobs.scrape(spark, work, "life", pagesDir, 2)
    assert(n1 == 2L)
    // completed session: resume page is beyond total → nothing to do
    val state = new StateStore(spark, s"$work/state")
    assert(state.resumePage("life") == 3)
    val (n2, _, _) = Jobs.scrape(spark, work, "life", pagesDir, 2)
    assert(n2 == 0L)
    // the re-run had nothing to scan: the session stays completed
    assert(Jobs.status(spark, work).select("status").collect().map(_.getString(0)).toSeq ==
      Seq("completed"))
  }

  test("failures land in the DLQ and retry-failed recovers them (T4/J4)") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1), ("UIN2", "Beta", 2))))

    val failOn2: String => Array[Byte] = url =>
      if (url.contains("doc2")) throw new RuntimeException("boom")
      else s"CONTENT:$url".getBytes("UTF-8")
    val (_, ok1, bad1) = Jobs.delta(spark, work, "life", pagesDir, 1, failOn2)
    assert((ok1, bad1) == (1L, 1L))

    val state = new StateStore(spark, s"$work/state")
    val dlq = state.failed.collect()
    assert(dlq.length == 1 && dlq.head.getAs[String]("url").contains("doc2"))
    assert(dlq.head.getAs[Int]("retries") == 1)
    assert(dlq.head.getAs[String]("error").contains("boom"))

    // replay with a working fetch → DLQ drains, completed set grows
    val (rok, rbad) = Jobs.retryFailed(spark, work)
    assert((rok, rbad) == (1L, 0L))
    assert(state.failed.count() == 0)
    assert(state.completed.count() == 2)
  }

  test("a permanent 404 lands in the DLQ after one request, inside the first backoff (S8)") {
    val server = new TestHttpServer()((path, _) => (if (path.endsWith("doc2.pdf")) 404 else 200, Nil))
    /** Wall time of one delta over a fresh work dir holding one page of `docs`. */
    def timedDelta(docs: Seq[Int]): (String, (Long, Long, Long), Double) = {
      val work = mkWorkDir()
      writeLifePages(s"$work/pages", Seq(docs.map(d => (s"UIN$d", s"Name$d", d))), server.base)
      val t0 = System.nanoTime()
      val out = Jobs.delta(spark, work, "life", s"$work/pages", 1, Downloader.httpFetch(10))
      (work, out, (System.nanoTime() - t0) / 1e6)
    }
    try {
      val (_, clean, cleanMs) = timedDelta(Seq(3, 4))
      val (work, out, elapsedMs) = timedDelta(Seq(1, 2))
      assert(clean == (2L, 2L, 0L) && out == (2L, 1L, 1L))
      val url = s"${server.base}/documents/doc2.pdf"
      assert(server.requests("/documents/doc2.pdf").size == 1)
      val dlq = new StateStore(spark, s"$work/state").failed.collect()
      assert(dlq.map(_.getAs[String]("url")).toSeq == Seq(url))
      assert(dlq.head.getAs[String]("error") == s"IOException: HTTP 404 for $url")
      // a delta alone takes seconds here; a retried 404 would add at least
      // the default 2000 ms backoff to the same delta without one
      assert(elapsedMs < cleanMs + 2000, s"delta took $elapsedMs ms, $cleanMs ms without the 404")
    } finally server.close()
  }

  test("each pending URL is fetched once though its result feeds the DLQ, the CSV and completed") {
    import PipelineJobsSpec.fetches
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1), ("UIN2", "Beta", 2), ("UIN0", "Zero", 0)),
      Seq(("UIN3", "Gamma", 3))))
    fetches.clear()
    val counting: String => Array[Byte] = url => {
      fetches.computeIfAbsent(url, _ => new AtomicInteger()).incrementAndGet()
      if (url.contains("doc2")) throw new Downloader.HttpStatusException(url, 404, None)
      else Jobs.stubFetch(url)
    }
    assert(Jobs.delta(spark, work, "life", pagesDir, 2, counting) == (4L, 2L, 1L))
    val linked = Seq(1, 2, 3).map(d => s"https://example.invalid/documents/doc$d.pdf")
    assert(fetches.asScala.view.mapValues(_.get).toMap == linked.map(_ -> 1).toMap)
    val state = new StateStore(spark, s"$work/state")
    assert(state.failed.select("url").collect().map(_.getString(0)).toSeq == Seq(linked(1)))
    assert(state.completed.collect().map(_.getString(0)).sorted.toSeq == Seq(linked(0), linked(2)))
    val paths = spark.read.option("header", "true").csv(Jobs.csvPath(work, "life")).collect()
      .map(r => r.getAs[String]("document_url") -> Option(r.getAs[String]("local_file_path"))).toMap
    assert(paths(linked(0)).exists(_.endsWith("Doc-1")) && paths(linked(2)).exists(_.endsWith("Doc-3")))
    assert(paths(linked(1)).isEmpty)
  }

  test("a URL on two rows of one batch is fetched once and both rows get its file (J3)") {
    import PipelineJobsSpec.fetches
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1), ("UIN5", "Alias", 1), ("UIN2", "Beta", 2))))
    fetches.clear()
    val counting: String => Array[Byte] = url => {
      fetches.computeIfAbsent(url, _ => new AtomicInteger()).incrementAndGet()
      Jobs.stubFetch(url)
    }
    assert(Jobs.delta(spark, work, "life", pagesDir, 1, counting) == (3L, 2L, 0L))
    val doc1 = "https://example.invalid/documents/doc1.pdf"
    assert(fetches.asScala.view.mapValues(_.get).toMap ==
      Map(doc1 -> 1, "https://example.invalid/documents/doc2.pdf" -> 1))
    val rows = spark.read.option("header", "true").csv(Jobs.csvPath(work, "life")).collect()
      .filter(_.getAs[String]("document_url") == doc1)
    assert(rows.map(_.getAs[String]("uin")).sorted.toSeq == Seq("UIN1", "UIN5"))
    val paths = rows.map(_.getAs[String]("local_file_path")).distinct.toSeq
    assert(paths.size == 1 && paths.head.endsWith("Doc-1"), paths)
    assert(Files.size(Paths.get(paths.head)) == Jobs.stubFetch(doc1).length)
    assert(Jobs.delta(spark, work, "life", pagesDir, 1, counting) == (0L, 0L, 0L))
  }

  test("a delta that fetches runs a bounded number of Spark jobs") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1)), Seq(("UIN2", "Beta", 2))))
    assert(Jobs.delta(spark, work, "life", pagesDir, 2) == (2L, 2L, 0L))
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1)), Seq(("UIN2", "Beta", 2), ("UIN3", "Gamma", 3))))
    val failOn3: String => Array[Byte] = url =>
      if (url.contains("doc3")) throw new Downloader.HttpStatusException(url, 404, None)
      else Jobs.stubFetch(url)
    val (out, jobs) = jobsOf(Jobs.delta(spark, work, "life", pagesDir, 2, failOn3))
    assert(out == (1L, 0L, 1L))
    // 4 jobs here: the broadcasts of the CSV's URLs and of the completed
    // set, the collected delta, then the fetch. 5 with the completed-set
    // guard planned apart over the tasks and the fetch behind a
    // repartition(1); 10 with the batch persisted, counted, enriched by a
    // group-by join and streamed to the CSV from one partition; 11 with a
    // distinct() on the existing-URL side of the delta anti-join, and 14
    // when the delta also committed through Spark write jobs (DLQ, CSV
    // part files, completed).
    assert(jobs <= 4, s"a fetching delta ran $jobs Spark jobs")
  }

  test("a delta with no pending URL runs no fetch job (T3/J2)") {
    import PipelineJobsSpec.fetches
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1)), Seq(("UIN2", "Beta", 2))))
    fetches.clear()
    val counting: String => Array[Byte] = url => {
      fetches.computeIfAbsent(url, _ => new AtomicInteger()).incrementAndGet()
      Jobs.stubFetch(url)
    }
    assert(Jobs.delta(spark, work, "life", pagesDir, 2, counting) == (2L, 2L, 0L))
    fetches.clear()
    // T3: the second run over the same pages
    val (out, jobs) = jobsOf(Jobs.delta(spark, work, "life", pagesDir, 2, counting))
    assert(out == (0L, 0L, 0L))
    // 3 jobs here, all the collect's: the broadcasts of the CSV's URLs and
    // of the completed set, and the collected delta (also 3 with the guard
    // planned apart over the tasks).
    assert(jobs <= 3, s"an empty delta ran $jobs Spark jobs")
    // fresh rows, none pending: a link-less row and a URL completed before
    new StateStore(spark, s"$work/state").markCompleted(Seq("https://example.invalid/documents/doc3.pdf"))
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1)),
      Seq(("UIN2", "Beta", 2), ("UIN3", "Gamma", 3), ("UIN0", "Zero", 0))))
    val (out2, jobs2) = jobsOf(Jobs.delta(spark, work, "life", pagesDir, 2, counting))
    assert(out2 == (2L, 0L, 0L))
    assert(fetches.isEmpty)
    // 3 jobs here too. 5 with the completed-set guard planned apart over
    // the task relation and the fetch run over the empty pending set.
    assert(jobs2 <= 3, s"a delta with nothing to fetch ran $jobs2 Spark jobs")
  }

  test("a URL completed in a prior run is appended with no file and never fetched (J2)") {
    import PipelineJobsSpec.fetches
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    val (doc1, doc2) = ("https://example.invalid/documents/doc1.pdf",
      "https://example.invalid/documents/doc2.pdf")
    // doc1 was fetched before, as under another product type: it is
    // completed, but in no row of this type's CSV
    new StateStore(spark, s"$work/state").markCompleted(Seq(doc1))
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1), ("UIN2", "Beta", 2))))
    fetches.clear()
    val counting: String => Array[Byte] = url => {
      fetches.computeIfAbsent(url, _ => new AtomicInteger()).incrementAndGet()
      Jobs.stubFetch(url)
    }
    assert(Jobs.delta(spark, work, "life", pagesDir, 1, counting) == (2L, 1L, 0L))
    assert(fetches.asScala.view.mapValues(_.get).toMap == Map(doc2 -> 1))
    val rows = spark.read.option("header", "true").csv(Jobs.csvPath(work, "life")).collect()
      .map(r => r.getAs[String]("document_url") -> Option(r.getAs[String]("local_file_path")))
    assert(rows.map(_._1).sorted.toSeq == Seq(doc1, doc2))
    val paths = rows.toMap
    assert(paths(doc1).isEmpty)
    assert(paths(doc2).exists(_.endsWith("Doc-2")))
    val state = new StateStore(spark, s"$work/state")
    assert(state.completed.collect().map(_.getString(0)).sorted.toSeq == Seq(doc1, doc2))
    // its row is in the CSV now, so the next delta leaves it out
    assert(Jobs.delta(spark, work, "life", pagesDir, 1, counting) == (0L, 0L, 0L))
    assert(fetches.asScala.view.mapValues(_.get).toMap == Map(doc2 -> 1))
  }

  test("a warm delta compiles no code (X12)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    def grownTo(n: Int) = {
      writeLifePages(pagesDir, Seq((1 to n).map(d => (s"UIN$d", s"Name$d", d))))
      Jobs.delta(spark, work, "life", pagesDir, 1)
    }
    // the first run reads no CSV and no completed set: its plan differs
    assert(grownTo(1) == (1L, 1L, 0L))
    assert(grownTo(2) == (1L, 1L, 0L))
    assert(grownTo(3) == (1L, 1L, 0L))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(grownTo(4) == (1L, 1L, 0L))
    // 2 classes per call when each run's scraped_at literal was inlined
    // into the parse stage's generated source
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0,
      "a warm delta compiled generated code")
  }

  test("scraped_at is one instant per run, taken before the fetch (X12)") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1), ("UIN2", "Beta", 2), ("UIN0", "Zero", 0))))
    import PipelineJobsSpec.firstCall
    firstCall.set(null)
    val slow: String => Array[Byte] = url => {
      firstCall.compareAndSet(null, Instant.now())
      Thread.sleep(700)
      Jobs.stubFetch(url)
    }
    val before = Instant.now()
    assert(Jobs.delta(spark, work, "life", pagesDir, 1, slow) == (3L, 2L, 0L))
    val stamps = spark.read.option("header", "true").csv(Jobs.csvPath(work, "life")).collect()
      .map(_.getAs[String]("scraped_at")).distinct.toSeq
    assert(stamps.size == 1, stamps)
    // written in the session time zone, UTC
    val at = LocalDateTime.parse(stamps.head.replace(' ', 'T'))
      .toInstant(ZoneOffset.UTC)
    assert(!at.isBefore(before.truncatedTo(ChronoUnit.MICROS)), s"$at < $before")
    assert(!at.isAfter(firstCall.get), s"$at is after the first fetch at ${firstCall.get}")
  }

  test("CSV append: single file, one header, fixed column order, null→\"\" (K1/X14)") {
    import spark.implicits._
    val work = mkWorkDir()
    val csv = s"$work/m.csv"
    val df = Seq(("life", "UINx", null: String)).toDF("product_type", "uin", "remarks")
    CsvMeta.append(df, "life", csv)
    CsvMeta.append(df, "life", csv)
    val lines = Files.readAllLines(Paths.get(csv))
    assert(lines.size == 3) // 1 header + 2 data rows
    assert(lines.get(0) == CsvMeta.columns("life").mkString(","))
    // missing columns materialize as empty strings, nulls too
    assert(lines.get(1).split(",", -1).length == CsvMeta.columns("life").length)
    assert(CsvMeta.count(spark, csv) == 2)
    CsvMeta.clear(spark, csv)
    assert(CsvMeta.count(spark, csv) == 0)
  }

  test("resetAll clears every product type's CSV in one sweep (csv_writer.py:112-126)") {
    import spark.implicits._
    val work = mkWorkDir()
    for (pt <- CsvMeta.columns.keys) {
      val df = Seq(("u1", "P1")).toDF("document_url", "product_name")
      CsvMeta.append(df, pt, Jobs.csvPath(work, pt))
      assert(CsvMeta.count(spark, Jobs.csvPath(work, pt)) == 1L)
    }
    Jobs.resetAll(spark, work, clearCsv = true)
    for (pt <- CsvMeta.columns.keys)
      assert(CsvMeta.count(spark, Jobs.csvPath(work, pt)) == 0L, pt)
  }

  test("metadata-only mode skips the download stage entirely (F6)") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1), ("UIN2", "Beta", 2))))
    val state = new StateStore(spark, s"$work/state")
    val pages = graft.sources.PageSource.fixtureScan(spark, "life", pagesDir, 1, 1)
    val (n, ok, bad) = Jobs.runPipeline(spark, state, work, "life", pages,
      Jobs.stubFetch, metadataOnly = true)
    assert((n, ok, bad) == (2L, 0L, 0L))
    assert(CsvMeta.count(spark, Jobs.csvPath(work, "life")) == 2L)
    assert(!Files.exists(Paths.get(s"$work/downloads"))) // no fetch happened
    assert(state.completed.count() == 0)
  }

  test("metadata-only delta over an existing CSV reads each page once: bounded Spark jobs") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1)), Seq(("UIN2", "Beta", 2))))
    val state = new StateStore(spark, s"$work/state")
    def run() = Jobs.runPipeline(spark, state, work, "life",
      graft.sources.PageSource.fixtureScan(spark, "life", pagesDir, 1, 2),
      Jobs.stubFetch, metadataOnly = true)
    assert(run() == (2L, 0L, 0L))
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1)), Seq(("UIN2", "Beta", 2), ("UIN3", "Gamma", 0))))
    val (out, jobs) = jobsOf(run())
    assert(out == (1L, 0L, 0L))
    // 2 jobs here: the collected delta; the CSV lines are formatted over a
    // local relation. 5 with the batch persisted, counted and streamed to
    // the CSV from one partition; 6 with a distinct() on the existing-URL
    // side of the delta anti-join, and 8 for the two-branch delta (link-less
    // rows unioned back in a second scan and parse of every page).
    assert(jobs <= 2, s"metadata-only delta ran $jobs Spark jobs")
  }

  test("an unknown product type is rejected before any state is written") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1))))
    intercept[IllegalArgumentException](Jobs.scrape(spark, work, "x'y", pagesDir, 1))
    intercept[IllegalArgumentException](Jobs.delta(spark, work, "x'y", pagesDir, 1))
    intercept[IllegalArgumentException](Jobs.reset(spark, work, "x'y"))
    val state = new StateStore(spark, s"$work/state")
    assert(state.sessions.count() == 0)
    // a quote in the key is data, not SQL, when a session row is built
    state.startSession("o'brien", 3)
    assert(state.sessions.collect().map(_.getAs[String]("product_type")).toSeq == Seq("o'brien"))
  }

  test("status summary exposes sessions plus completed/failed counts (A3)") {
    val work = mkWorkDir()
    val pagesDir = s"$work/pages"
    writeLifePages(pagesDir, Seq(Seq(("UIN1", "Alpha", 1))))
    Jobs.scrape(spark, work, "life", pagesDir, 1)
    val s = Jobs.status(spark, work).collect()
    assert(s.length == 1)
    val row = s.head
    assert(row.getAs[String]("product_type") == "life")
    assert(row.getAs[String]("status") == "completed")
    assert(row.getAs[Long]("completed_downloads") == 1L)
  }
}

object PipelineJobsSpec {
  /** Fetch calls per URL. The fetch runs inside Spark tasks, in this JVM
    * under local mode, so a closure reaches the counts through this object.
    */
  val fetches = new ConcurrentHashMap[String, AtomicInteger]()

  /** When a fetch was first called, reached the same way. */
  val firstCall = new AtomicReference[Instant]()
}
