package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.app.Jobs
import graft.fetch.Downloader
import graft.operators.{DeltaOps, ParsePipeline}
import graft.sources.{CsvMeta, PageSource}
import graft.state.StateStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `ingest_monthly`: the paper's own workload through `graft.app.Jobs`.
  *
  * Set-up generates the catalog and ingests it metadata-only
  * (`Jobs.runPipeline(..., metadataOnly = true)`), [[SetupReps]] times in
  * fresh directories; the cold op is the mean ingest call of the first
  * rep. A cycle is one `Jobs.delta` per product type. Each op first adds
  * about 1% new rows to its product type, then runs `Jobs.delta` with
  * `Downloader.httpFetch()` against the benchmark's document server, so
  * the job's own rate limit and retry policy apply.
  */
object Ingest {

  val SetupReps = 2
  /** Server latency per request. The reference's traffic implies about
    * 10.6 s per document (10 concurrent downloads at 0.94 files/s,
    * BASELINE.md); at that latency one cycle of ~86 documents over four
    * connections would take minutes, past the length of one run. At 5 ms
    * the job's own 10 requests/s limit is what bounds the fetch.
    */
  val ServerLatencyMs = 5L
  /** Product type of an untraced run's warm-up delta: the smallest. */
  val WarmUpType = "life_list"
  /** One monthly cycle (four deltas) on four cores. */
  val NominalCycleS = 35.0

  final case class Expect(fresh: Long, ok: Long, bad: Long)

  def run(spark: SparkSession, o: Opts): Outcome = {
    val server = new DocServer(o.cpus, ServerLatencyMs, 10000 + java.lang.Math.floorMod(o.seed, 20000L).toInt)
    try new Ingest(spark, o, server).run()
    finally server.stop()
  }
}

private final class Ingest(spark: SparkSession, o: Opts, server: DocServer) {
  import Ingest._

  private val seed = o.seed
  private val base = server.base
  private val baseRows: Map[String, Int] = Corpus.MonthlyRows
  private val newRows: Map[String, Int] =
    Corpus.MonthlyRows.map { case (t, n) => t -> math.max(1, math.round(n * 0.01).toInt) }

  private val tracer = if (o.trace) Some(new Tracer("app")) else None
  tracer.foreach { t =>
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  private def pagesDir(w: Path, t: String) = w.resolve("pages").resolve(t)
  private def csv(w: Path, t: String) = Path.of(Jobs.csvPath(w.toString, t))
  private def linklessCount(n: Int): Int = (0 until n).count(Corpus.linkless(seed, _))

  // expectations for the output checks
  private val cur = mutable.Map.empty[String, Int]
  private val linklessInCsv = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stored = ArrayBuffer.empty[Corpus.Row] // rows whose document was fetched
  private val dlq = mutable.Set.empty[String]
  private val failures = ArrayBuffer.empty[String]

  /** Metadata-only ingest of the whole catalog into `w`; returns the time
    * of each ingest call.
    */
  private def setupOnce(w: Path): Seq[Double] = {
    Bench.deleteTree(w)
    Corpus.Types.map { t =>
      Corpus.writePages(pagesDir(w, t), seed, base, t, 0, baseRows(t))
      Bench.time {
        val pages = PageSource.fixtureScan(spark, t, pagesDir(w, t).toString, 1, Corpus.pages(baseRows(t)))
        Jobs.runPipeline(spark, new StateStore(spark, s"$w/state"), w.toString, t, pages,
          Jobs.stubFetch, metadataOnly = true)
      }._2
    }
  }

  def run(): Outcome = {
    // a traced run reports no set-up time: one set-up is enough
    val setupDirs = (1 to (if (o.trace) 1 else SetupReps)).map(r => o.work.resolve(s"setup-$r"))
    val setups = setupDirs.map(setupOnce)
    // the first set-up runs every ingest call for the first time
    val coldOp = Bench.mean(setups.head)
    setupDirs.init.foreach(Bench.deleteTree)
    val w = setupDirs.last
    Corpus.Types.foreach { t =>
      cur(t) = baseRows(t)
      linklessInCsv(t) += linklessCount(baseRows(t))
    }

    val ops = ArrayBuffer.empty[Op]
    val extra = mutable.Map.empty[Long, OpExtra]
    // untimed warm-up: the session's first deltas load classes and JIT
    // compile, which takes a time that varies from run to run. An untraced
    // run warms up with one delta of the smallest type. A traced run warms
    // up with a whole cycle, so that the cycles it compares for the tracing
    // overhead are past the steepest part; that cycle injects no faults,
    // as their backoff sleeps would only lengthen the run.
    (if (o.trace) Corpus.Types else Seq(WarmUpType)).foreach { t =>
      val id = Spans.newId()
      val (sec, ok, rows) = deltaOp(w, t, id, traced = false, new OpExtra, faulty = false)
      ops += Op(t, -1, sec, traced = false, id, ok, rows, warm = true)
      System.err.println(f"[perfbench] warm-up delta $t%-10s $sec%.3f s")
    }
    val cpu0 = Bench.processCpuS
    Bench.cycles(o.seconds, NominalCycleS, o.trace).zipWithIndex.foreach { case (traced, cycle) =>
      Corpus.Types.foreach { t =>
        val id = Spans.newId()
        val ex = new OpExtra
        val (sec, ok, rows) = deltaOp(w, t, id, traced, ex)
        if (traced) extra(id) = ex
        ops += Op(t, cycle, sec, traced, id, ok, rows)
        System.err.println(f"[perfbench] op delta $t%-10s $sec%.3f s")
      }
    }
    val cpu = Bench.processCpuS - cpu0

    // output checks, outside the timed phase
    val badTypes = check(w)
    val checked = ops.map(op => if (badTypes(op.kind)) op.copy(ok = false) else op).toSeq

    val metrics =
      if (o.trace) Bench.layers(tracer.get, checked.filter(_.traced), extra.toMap, o.cpus,
        Bench.overhead(checked))
      else Bench.endToEnd(checked, setups.map(_.sum), coldOp, cpu)
    Outcome(checked.size, checked.count(!_.ok), metrics, failures.take(20).toSeq)
  }

  /** One op: grow the catalog, then `Jobs.delta`. */
  private def deltaOp(w: Path, t: String, id: Long, traced: Boolean, ex: OpExtra,
                      faulty: Boolean = true): (Double, Boolean, Long) = {
    val n0 = cur(t)
    val n1 = n0 + newRows(t)
    val added = (n0 until n1).map(Corpus.row(seed, base, t, _))
    val faults = if (faulty) Corpus.faults(t, added) else Map.empty[String, Corpus.Fault]
    Corpus.writePages(pagesDir(w, t), seed, base, t, n0, n1)
    server.addFaults(faults)
    cur(t) = n1
    val linked = added.flatMap(_.url)
    val perm = faults.collect { case (u, Corpus.Permanent404) => u }.toSet
    val expect = Expect(linked.size + linklessCount(n1), linked.size - perm.size, perm.size)
    linklessInCsv(t) += linklessCount(n1)

    val probeDir = w.resolve("probe")
    if (traced) snapshot(w, t, probeDir)
    val csvBefore = fileState(csv(w, t))
    server.resetConnections()
    val req0 = (server.requests.get, server.errors)
    val fetch =
      if (traced) { FetchLog.reset(id); FetchLog.wrap(Downloader.httpFetch()) }
      else Downloader.httpFetch()
    if (traced) server.onRequest = (_, s, e, st) =>
      Spans.add(Span(Spans.newId(), id, id, s"server $st", "server", s, e))

    val (gc0, jit0) = (Bench.jvmGcS, Bench.jitS)
    val s0 = Spans.nowUs
    val t0 = System.nanoTime()
    val got =
      try Some(Bench.op(spark, tracer, id, traced) {
        Jobs.delta(spark, w.toString, t, pagesDir(w, t).toString, Corpus.pages(n1), fetch)
      })
      catch { case e: Exception =>
        failures += s"$t delta: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
        None
      }
    val sec = (System.nanoTime() - t0) / 1e9
    val s1 = Spans.nowUs
    server.onRequest = (_, _, _, _) => ()

    val ok = got.contains((expect.fresh, expect.ok, expect.bad))
    if (got.isDefined && !ok)
      failures += s"$t delta returned ${got.get}, expected $expect"
    stored ++= added.filter(_.url.exists(u => !perm(u)))
    dlq ++= perm

    if (traced) {
      Spans.add(Span(id, 0L, id, s"op delta $t", "app", s0, s1))
      ex.add("app.delta_calls", 1)
      ex.add("app.docs", expect.ok.toDouble)
      ex.add("driver.gc_s", Bench.jvmGcS - gc0)
      ex.add("driver.jit_s", Bench.jitS - jit0)
      ex.add("driver.self_s", Bench.driverSelfS(id, s0, s1))
      ex.add("operators.fresh_rows", got.map(_._1.toDouble).getOrElse(0.0))
      ex.add("state.completed_rows",
        new StateStore(spark, s"$w/state").completed.count().toDouble)
      val csvAfter = fileState(csv(w, t))
      val appended = csvAfter._1 - csvBefore._1
      // copy-merge replaces the file (new inode) and rewrites its whole
      // history; an in-place append writes only the new bytes
      val stitched = if (csvAfter._2 != csvBefore._2) csvAfter._1 else appended
      val parts = tracer.get.counters(id).get(tracer.get.counters(id).outputBytesByLayer, "sources")
      ex.add("sources.csv_bytes_written", (stitched + parts).toDouble)
      ex.add("sources.csv_bytes_appended", appended.toDouble)
      ex.add("fetch.calls", FetchLog.calls.sum.toDouble)
      ex.add("fetch.call_s", FetchLog.callNs.sum / 1e9)
      ex.add("fetch.bytes", FetchLog.bytes.sum.toDouble)
      ex.add("fetch.retries", FetchLog.perUrl.values.asScala.map(_.sum - 1).sum.toDouble)
      if (FetchLog.calls.sum > 0)
        ex.add("fetch.active_s", (FetchLog.lastUs.get - FetchLog.firstUs.get) / 1e6)
      ex.add("server.requests", (server.requests.get - req0._1).toDouble)
      ex.add("server.connections", server.connections.toDouble)
      ex.add("server.errors", (server.errors - req0._2).toDouble)
      probe(w, t, n1, probeDir, linked.filterNot(perm), perm.toSeq, id, ex)
    }
    (sec, ok, n1.toLong)
  }

  /** (size, inode) of a file. */
  private def fileState(p: Path): (Long, AnyRef) =
    if (Files.exists(p)) (Files.size(p), Files.getAttribute(p, "unix:ino"))
    else (0L, null)

  /** Copy the op's sink and state inputs aside before the op runs. */
  private def snapshot(w: Path, t: String, probeDir: Path): Unit = {
    Bench.deleteTree(probeDir)
    Files.createDirectories(probeDir.resolve("metadata"))
    val c = csv(w, t)
    if (Files.exists(c)) Files.copy(c, csv(probeDir, t))
    Bench.copyTree(w.resolve("state"), probeDir.resolve("state"))
  }

  /** Each public function of the op timed alone on the op's inputs, noop
    * sink; state and sink calls run on the pre-op copy in `probeDir`.
    */
  private def probe(w: Path, t: String, n: Int, probeDir: Path, okUrls: Seq[String],
                    badUrls: Seq[String], id: Long, ex: OpExtra): Unit = {
    val pid = Spans.newId()
    val ps = Spans.nowUs
    def timed[T](name: String, layer: String)(body: => T): (T, Double) = {
      val s = Spans.nowUs
      val r = Bench.time(body)
      Spans.add(Span(Spans.newId(), pid, id, name, layer, s, Spans.nowUs))
      r
    }
    def noop(df: org.apache.spark.sql.Dataset[_]): Unit =
      df.write.format("noop").mode("overwrite").save()

    val dir = pagesDir(w, t).toString
    val (_, scanS) = timed("probe.scan", "sources") {
      noop(PageSource.fixtureScan(spark, t, dir, 1, Corpus.pages(n)))
    }
    val pages = PageSource.fixtureScan(spark, t, dir, 1, Corpus.pages(n))
      .persist(StorageLevel.MEMORY_AND_DISK)
    pages.count()
    val (_, parseS) = timed("probe.parse", "operators") {
      noop(ParsePipeline.withScrapedAt(ParsePipeline.parse(spark, pages, t)))
    }
    val parsed = ParsePipeline.withScrapedAt(ParsePipeline.parse(spark, pages, t))
      .persist(StorageLevel.MEMORY_AND_DISK)
    parsed.count()
    val copyCsv = csv(probeDir, t).toString
    val (_, existingS) = timed("probe.existing", "sources") {
      noop(CsvMeta.loadExistingUrls(spark, copyCsv))
    }
    val existing = CsvMeta.loadExistingUrls(spark, copyCsv).persist(StorageLevel.MEMORY_AND_DISK)
    existing.count()
    val (_, deltaS) = timed("probe.delta", "operators") {
      noop(DeltaOps.delta(parsed.where(col("document_url").isNotNull), existing, "document_url"))
    }
    val fresh = DeltaOps.delta(parsed.where(col("document_url").isNotNull), existing, "document_url")
      .unionByName(parsed.where(col("document_url").isNull))
      .persist(StorageLevel.MEMORY_AND_DISK)
    fresh.count()
    val state = new StateStore(spark, probeDir.resolve("state").toString)
    import spark.implicits._
    val tasks = fresh.where(col("document_url").isNotNull).select(col("document_url").as("url"))
    val (_, filterS) = timed("probe.state.filter", "state") {
      noop(state.filterPending(tasks, "url"))
    }
    val (_, commitS) = timed("probe.state.commit", "state") {
      state.markCompleted(okUrls.toDF("url"))
      if (badUrls.nonEmpty) state.markFailed(badUrls.map(u => (u, "HTTP 404")).toDF("url", "error"))
    }
    val (_, appendS) = timed("probe.append", "sources") {
      CsvMeta.append(fresh, t, copyCsv)
    }
    Seq(fresh, existing, parsed, pages).foreach(_.unpersist())
    Spans.add(Span(pid, id, id, "probe", "app", ps, Spans.nowUs))
    ex.add("sources.scan_s", scanS)
    ex.add("operators.parse_s", parseS)
    ex.add("sources.existing_s", existingS)
    ex.add("operators.delta_s", deltaS)
    ex.add("state.filter_s", filterS)
    ex.add("state.commit_s", commitS)
    ex.add("sources.append_s", appendS)
    Bench.deleteTree(probeDir)
  }

  /** The output checks; returns the product types whose output is wrong. */
  private def check(w: Path): Set[String] = {
    val bad = mutable.Set.empty[String]
    Corpus.Types.foreach { t =>
      val lines = Files.readAllLines(csv(w, t), UTF_8).asScala
      val header = lines.head.split(",", -1).toSeq
      val ui = header.indexOf("document_url")
      val urls = lines.tail.map(_.split(",", -1)(ui))
      val linked = urls.filter(_.nonEmpty)
      val expected = (0 until cur(t)).flatMap(i => Corpus.row(seed, base, t, i).url).toSet
      val nLinkless = urls.size - linked.size
      if (linked.size != linked.toSet.size) {
        failures += s"$t csv: ${linked.size - linked.toSet.size} duplicate linked urls"; bad += t
      }
      if (linked.toSet != expected) {
        failures += s"$t csv: ${(expected -- linked).size} missing, ${(linked.toSet -- expected).size} unexpected urls"
        bad += t
      }
      if (nLinkless != linklessInCsv(t)) {
        failures += s"$t csv: $nLinkless linkless rows, expected ${linklessInCsv(t)}"; bad += t
      }
    }
    stored.foreach { r =>
      val f = w.resolve("downloads").resolve(r.tpe).resolve(r.filename.get)
      if (!Files.exists(f) || Files.size(f) != Corpus.docSize(r.url.get)) {
        failures += s"${r.tpe} stored file ${r.filename.get} missing or wrong size"; bad += r.tpe
      }
    }
    val failedDir = w.resolve("state").resolve("failed")
    val inDlq =
      if (Files.exists(failedDir)) spark.read.parquet(failedDir.toString).select("url")
        .collect().map(_.getString(0)).toSet
      else Set.empty[String]
    if (inDlq != dlq.toSet) {
      failures += s"dlq holds ${inDlq.size} urls, expected ${dlq.size}"
      bad += "nonlife"
    }
    bad.toSet
  }

}
