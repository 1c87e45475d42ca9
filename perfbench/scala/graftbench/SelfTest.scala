package graftbench

import java.nio.file.{Files, Path}

import graft.fetch.Downloader

import scala.jdk.CollectionConverters._

/** Self-tests of the benchmark's own parts (no Spark session):
  *  - the same seed gives a byte-identical corpus, another seed does not;
  *  - the document server's injected-failure counts are exact.
  */
object SelfTest {

  private def corpusBytes(dir: Path, seed: Long, base: String): Map[String, Seq[Byte]] = {
    Corpus.Types.foreach(t =>
      Corpus.writePages(dir.resolve(t), seed, base, t, 0, Corpus.MonthlyRows(t)))
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
      dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally s.close()
  }

  def run(o: Opts): Unit = {
    var failed = 0
    def expect(name: String, cond: Boolean, detail: => String): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $name${if (cond) "" else s": $detail"}")
      if (!cond) failed += 1
    }
    val base = "http://127.0.0.1:1"
    val a = corpusBytes(o.work.resolve("corpus-a"), o.seed, base)
    val b = corpusBytes(o.work.resolve("corpus-b"), o.seed, base)
    val c = corpusBytes(o.work.resolve("corpus-c"), o.seed + 1, base)
    val pages = Corpus.Types.map(t => Corpus.pages(Corpus.MonthlyRows(t))).sum
    expect("corpus: one file per page", a.size == pages, s"${a.size} files, $pages pages")
    expect("corpus: same seed gives identical bytes", a == b,
      s"${a.keys.count(k => !b.get(k).contains(a(k)))} files differ")
    expect("corpus: another seed gives other bytes", a != c, "identical")

    val server = new DocServer(2, 0L, 0)
    try {
      val fetch = Downloader.httpFetch(10)
      val t = Corpus.FaultType
      val rows = (0 until 52).map(Corpus.row(o.seed, server.base, t, _))
      val faults = Corpus.faults(t, rows)
      server.addFaults(faults)
      val urls = rows.flatMap(_.url)
      def round(): Int = urls.count(u => scala.util.Try(fetch(u)).isSuccess)
      val ok1 = round()
      expect("server: one 503 and one 404 per batch",
        server.status503.get == 1 && server.status404.get == 1,
        s"503=${server.status503.get} 404=${server.status404.get}")
      expect("server: every other URL served first time", ok1 == urls.size - 2, s"$ok1 of ${urls.size}")
      val ok2 = round()
      expect("server: the 503 URL succeeds on retry, the 404 never",
        ok2 == urls.size - 1 && server.status503.get == 1 && server.status404.get == 2,
        s"ok=$ok2 503=${server.status503.get} 404=${server.status404.get}")
      expect("server: served bytes match document sizes",
        server.bytes.get == urls.filterNot(faults.contains).map(Corpus.docSize(_).toLong).sum * 2 +
          urls.filter(u => faults.get(u).contains(Corpus.Transient503)).map(Corpus.docSize(_).toLong).sum,
        s"bytes=${server.bytes.get}")
      expect("server: counts requests", server.requests.get == 2L * urls.size, s"${server.requests.get}")
    } finally server.stop()
    if (failed > 0) sys.exit(1)
  }
}
