package graft

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import graft.app.Jobs
import graft.fetch.Downloader
import graft.sources.CsvMeta
import graft.state.StateStore
import org.apache.commons.io.FileUtils

import scala.jdk.CollectionConverters._

/** Crash-point matrix of the batch ingest path (K1/K5/T3). Cases (a)-(d)
  * start from a committed `Jobs.delta`, grow the page by two linked rows,
  * set up the state a crash at one boundary leaves behind, then run the
  * delta again; case (e) crashes the first delta's DLQ commit. Afterwards
  * every linked URL is in the CSV exactly once, each fetched one with its
  * full-length file; the page's link-less row is in it once per run that
  * committed; no torn bytes remain; and the DLQ holds exactly the
  * permanently failing URL, with one retry.
  */
class IngestCrashSpec extends SparkSpec {

  import IngestCrashSpec._

  private val firstPage = Seq(("UIN1", "Alpha", 1), ("UIN2", "Beta", 2), ("UIN0", "Zero", 0),
    ("UIN9", "Nine", 9))
  private val grownPage = firstPage ++ Seq(("UIN3", "Gamma", 3), ("UIN4", "Delta", 4))
  private val linked = Seq(1, 2, 3, 4, 9).map(d => s"$host/documents/doc$d.pdf")

  private def csv(work: String) = Paths.get(Jobs.csvPath(work, "life"))
  private def committedFiles(work: String): Seq[Path] = {
    val c = csv(work)
    Seq(Paths.get(s"$c.committed"), c.resolveSibling(s".${c.getFileName}.committed.crc"))
  }
  private def delta(work: String) = Jobs.delta(spark, work, "life", s"$work/pages", 1, fetch)

  /** A work dir after one committed delta, its page grown since. */
  private def committed(): String = {
    val work = Files.createTempDirectory("graft-crash").toString
    LifePages.write(s"$work/pages", Seq(firstPage))
    assert(delta(work) == (4L, 2L, 1L))
    LifePages.write(s"$work/pages", Seq(grownPage))
    work
  }

  /** Runs `body` (a delta that crashed after its CSV append), then puts back
    * the state tree, and the committed length too unless `keepLength`.
    */
  private def undoCommits(work: String, keepLength: Boolean)(body: => Unit): Unit = {
    val aside = Files.createTempDirectory("graft-crash-aside")
    FileUtils.copyDirectory(new File(s"$work/state"), aside.resolve("state").toFile)
    val lengths = committedFiles(work).map(p => p -> Files.readAllBytes(p))
    body
    FileUtils.deleteDirectory(new File(s"$work/state"))
    FileUtils.copyDirectory(aside.resolve("state").toFile, new File(s"$work/state"))
    if (!keepLength) lengths.foreach { case (p, bytes) => Files.write(p, bytes) }
  }

  /** The invariants after the re-run; `linklessRuns` runs committed their
    * link-less rows.
    */
  private def assertRecovered(work: String, linklessRuns: Int): Unit = {
    val text = Files.readString(csv(work))
    assert(text.endsWith("\n"), "torn tail")
    val cols = CsvMeta.columns("life")
    val lines = text.split("\n", -1).dropRight(1).toSeq
    assert(lines.head == cols.mkString(","))
    val rows = lines.tail.map(_.split(",", -1))
    assert(rows.forall(_.length == cols.length), s"torn row in:\n$text")
    val (ui, pi) = (cols.indexOf("document_url"), cols.indexOf("local_file_path"))
    val urls = rows.map(_(ui)).filter(_.nonEmpty)
    assert(urls.sorted == linked, s"each linked URL once:\n$text")
    assert(rows.count(_(ui).isEmpty) == linklessRuns)
    for (r <- rows if r(ui).nonEmpty && r(ui) != failing)
      assert(Files.size(Paths.get(r(pi))) == Jobs.stubFetch(r(ui)).length, r(ui))
    val dlq = new StateStore(spark, s"$work/state").failed.collect()
    assert(dlq.map(r => (r.getAs[String]("url"), r.getAs[Int]("retries"))).toSeq == Seq((failing, 1)))
    val leftovers = Files.walk(Paths.get(s"$work/downloads")).iterator.asScala
      .filter(_.toString.endsWith(".part")).toSeq
    assert(leftovers.isEmpty, s"partial downloads left: $leftovers")
  }

  test("(a) a torn partial row past the committed length is dropped and re-derived") {
    val work = committed()
    Files.writeString(csv(work), "Non-Archived,FY 2020,Acme Li", StandardOpenOption.APPEND)
    assert(delta(work) == (3L, 2L, 0L))
    assertRecovered(work, linklessRuns = 2)
  }

  test("(b) an appended batch without its length commit is dropped and appended again") {
    val work = committed()
    undoCommits(work, keepLength = false)(assert(delta(work) == (3L, 2L, 0L)))
    assert(delta(work) == (3L, 2L, 0L))
    assertRecovered(work, linklessRuns = 2)
  }

  test("(c) a committed CSV whose URLs are not yet completed is not appended twice") {
    val work = committed()
    undoCommits(work, keepLength = true)(assert(delta(work) == (3L, 2L, 0L)))
    assert(delta(work) == (1L, 0L, 0L))
    assertRecovered(work, linklessRuns = 3)
  }

  test("(d) a leftover <dest>.part is replaced by the full download") {
    val work = committed()
    Files.writeString(Paths.get(s"$work/downloads/life/Doc-3.part"), "CONT")
    assert(delta(work) == (3L, 2L, 0L))
    assertRecovered(work, linklessRuns = 2)
  }

  test("(e) a failed.tmp left by an interrupted DLQ commit is ignored; the DLQ stays exact") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-crash").toString
    LifePages.write(s"$work/pages", Seq(firstPage))
    // the first delta's DLQ commit wrote its tmp, then crashed before the install
    Seq((failing, "HTTP 404", 1, new java.sql.Timestamp(0L)))
      .toDF("url", "error", "retries", "last_attempt")
      .coalesce(1).write.parquet(s"$work/state/failed.tmp")
    assert(delta(work) == (4L, 2L, 1L))
    assert(!Files.exists(Paths.get(s"$work/state/failed.tmp")))
    LifePages.write(s"$work/pages", Seq(grownPage))
    assert(delta(work) == (3L, 2L, 0L))
    assertRecovered(work, linklessRuns = 2)
  }

  test("a committed length past the end of the CSV fails loudly, naming the CSV") {
    val work = committed()
    val Seq(length, crc) = committedFiles(work)
    Files.delete(crc)
    Files.writeString(length, (Files.size(csv(work)) + 1).toString)
    val err = intercept[java.io.IOException](delta(work))
    assert(err.getMessage.contains(csv(work).toString), err.getMessage)
  }

  test("an append keeps the CSV's inode and leaves its committed bytes as they were") {
    val work = committed()
    val before = Files.readAllBytes(csv(work))
    val inode = Files.getAttribute(csv(work), "unix:ino")
    assert(delta(work) == (3L, 2L, 0L))
    val after = Files.readAllBytes(csv(work))
    assert(Files.getAttribute(csv(work), "unix:ino") == inode)
    assert(after.length > before.length && after.take(before.length).sameElements(before))
  }
}

object IngestCrashSpec {
  private val host = "https://example.invalid"
  private val failing = s"$host/documents/doc9.pdf"
  /** The stub fetch, with a permanent 404 for `failing`. */
  private val fetch: String => Array[Byte] = url =>
    if (url == failing) throw new Downloader.HttpStatusException(url, 404, None)
    else Jobs.stubFetch(url)
}
