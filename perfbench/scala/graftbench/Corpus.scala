package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded product catalog in the page layout `PageSource.fixtureScan`
  * reads (`page_<n>.html`, 60 rows per page, one file per page).
  *
  * Row `i` of a product type is a pure function of (seed, type, i), so a
  * catalog of n rows is always a prefix of the catalog of n + k rows: the
  * monthly workload grows the corpus by appending rows and rewriting only
  * the pages those rows land on.
  *
  * Every linked row points at a distinct document on the benchmark's own
  * document server (`base`). One row in [[LinklessEvery]] carries no link
  * at all; the ingest job re-appends such rows on every delta, exactly as
  * the reference does, and the output checks expect that.
  */
object Corpus {

  val Types: Seq[String] = Seq("life", "nonlife", "health", "life_list")

  /** Catalog proportions of the reference corpus (BASELINE.md). */
  val MonthlyRows: Map[String, Int] =
    Map("life" -> 1500, "nonlife" -> 5200, "health" -> 1800, "life_list" -> 27)

  val PerPage = 60
  val LinklessEvery = 200

  /** Document fault injected by the server for one URL. */
  sealed trait Fault
  case object NoFault extends Fault
  case object Transient503 extends Fault // one 503, then served
  case object Permanent404 extends Fault // never served: lands in the DLQ

  case class Row(tpe: String, idx: Int, cells: Seq[String],
                 url: Option[String], filename: Option[String])

  private val insurers = Seq("Aditya Birla Sun Life", "Bajaj Allianz", "Canara HSBC",
    "HDFC Life", "ICICI Prudential", "Kotak Mahindra", "LIC of India", "Max Life",
    "PNB MetLife", "SBI Life", "Star Health", "Tata AIG", "New India Assurance",
    "United India", "Oriental Insurance", "Care Health")
  private val words = Seq("Jeevan", "Suraksha", "Shield", "Secure", "Plus", "Smart",
    "Wealth", "Guard", "Health", "Family", "Protect", "Saral", "Star", "Gold",
    "Premier", "Assure", "Income", "Retire", "Child", "Term", "Care", "Optima")
  private val years = Seq("2019-20", "2020-21", "2021-22", "2022-23", "2023-24", "2024-25")

  /** SplitMix64 finaliser: the stream for one row, independent of others. */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def typeCode(tpe: String): Long = Types.indexOf(tpe).toLong + 1

  private class Rng(seed: Long, tpe: String, idx: Int) {
    private var s = mix(seed * 1000003L + typeCode(tpe) * 7919L + idx)
    def next(n: Int): Int = { s = mix(s); java.lang.Math.floorMod(s, n.toLong).toInt }
    def pick[T](xs: Seq[T]): T = xs(next(xs.size))
  }

  def linkless(seed: Long, idx: Int): Boolean =
    java.lang.Math.floorMod(idx - seed, LinklessEvery.toLong) == 0

  def row(seed: Long, base: String, tpe: String, idx: Int): Row = {
    val r = new Rng(seed, tpe, idx)
    val insurer = r.pick(insurers)
    val name = s"${r.pick(words)} ${r.pick(words)} ${idx + 1}"
    val code = f"${tpe.take(2).toUpperCase}${typeCode(tpe)}%d${idx}%06d${r.next(100)}%02d"
    val uin = s"$code${('A' + r.next(26)).toChar}V${r.next(10)}"
    val fy = r.pick(years)
    val date = f"20${19 + r.next(6)}%02d-${1 + r.next(12)}%02d-${1 + r.next(28)}%02d"
    val status = if (r.next(5) == 0) "Archived" else "Active"
    val hasLink = !linkless(seed, idx)
    val filename = s"$uin-${name.replace(' ', '-')}.pdf"
    // IRDAI-style document URL: group/doc ids, slug, uuid and version query
    val url = f"$base/documents/${37000 + r.next(900)}/${300000 + idx}/$filename/" +
      f"${r.next(1 << 30)}%08x-${r.next(1 << 16)}%04x-4${r.next(1 << 12)}%03x-" +
      f"a${r.next(1 << 12)}%03x-${r.next(1 << 30)}%08x${r.next(1 << 16)}%04x" +
      f"?version=1.${r.next(9)}&t=${1600000000000L + idx * 977L}&download=true"
    val textCells = tpe match {
      case "life" => Seq(status, fy, insurer, name, uin,
        r.pick(Seq("Individual", "Group")), date, if (r.next(3) == 0) date else "",
        r.pick(Seq("Protection", "Savings", "Retirement")), r.pick(Seq("Par", "Non-Par")),
        r.pick(Seq("Individual", "Group")), "")
      case "nonlife" => Seq(status, s"${idx + 1}", fy, insurer, name,
        r.pick(Seq("Motor", "Fire", "Marine", "Liability", "Engineering")), uin, date)
      case "health" => Seq(status, fy, insurer, uin, name, date)
      case "life_list" => Seq(status, s"$name list", date, s"Circular $fy")
      case other => throw new IllegalArgumentException(s"unknown product type: $other")
    }
    Row(tpe, idx, textCells,
      if (hasLink) Some(url) else None, if (hasLink) Some(filename) else None)
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def linkCell(row: Row): String = row.url match {
    // href is written raw: the page parser does not decode entities in
    // attribute values, and the generated URLs hold no quotes or brackets
    case Some(u) => s"""<td><a href="$u" target="_blank">${esc(row.filename.get)}</a></td>"""
    case None    => "<td></td>"
  }

  private def rowHtml(row: Row): String = {
    val cb = """<td><input type="checkbox"/></td>"""
    val texts = row.cells.map(c => s"<td>${esc(c)}</td>")
    val cells = row.tpe match {
      // health keeps the document in the second-to-last cell, type last
      case "health" => (cb +: texts) ++ Seq(linkCell(row), "<td>Indemnity</td>")
      case _        => (cb +: texts) :+ linkCell(row)
    }
    cells.mkString("<tr class=\"row\">", "", "</tr>\n")
  }

  def pageHtml(rows: Seq[Row], page: Int, totalRows: Int): String =
    s"""<html><head><title>Products</title></head><body>
       |<div class="portlet-body"><p>Showing page $page of $totalRows results</p>
       |<table class="table table-striped"><thead><tr><th>#</th><th>Details</th></tr></thead>
       |<tbody>
       |${rows.map(rowHtml).mkString}</tbody></table></div></body></html>
       |""".stripMargin

  def pages(n: Int): Int = (n + PerPage - 1) / PerPage

  /** Write the pages covering rows [from, until) of a catalog that ends at
    * `until`. Only pages touched by the range are (re)written.
    */
  def writePages(dir: Path, seed: Long, base: String, tpe: String,
                 from: Int, until: Int): Unit = {
    Files.createDirectories(dir)
    val firstPage = from / PerPage + 1
    (firstPage to pages(until)).foreach { p =>
      val rows = ((p - 1) * PerPage until math.min(p * PerPage, until))
        .map(row(seed, base, tpe, _))
      Files.write(dir.resolve(s"page_$p.html"), pageHtml(rows, p, until).getBytes(UTF_8))
    }
  }

  /** Product type whose monthly batch also carries a permanent fault. */
  val FaultType = "nonlife"

  /** Faults for the rows one monthly op adds to `tpe`: in a batch of 10 or
    * more linked rows the first answers 503 once; in a [[FaultType]] batch
    * the second always answers 404. Fixed positions give every seed the
    * same number of failures per op.
    *
    * The rates are not measured: the reference publishes no error rates
    * (BASELINE.md). Of the ~86 URLs a cycle adds, three answer 503 once
    * and one is gone for good: the fewest faults that exercise the job's
    * retry path (3 attempts, 2 s linear backoff) on every type with 10 or
    * more new links and its DLQ path every cycle.
    */
  def faults(tpe: String, rows: Seq[Row]): Map[String, Fault] = {
    val linked = rows.flatMap(_.url)
    if (linked.size < 10) Map.empty
    else Map(linked(0) -> Transient503) ++
      (if (tpe == FaultType) Map(linked(1) -> Permanent404) else Map.empty)
  }

  /** Smallest and largest served document, in bytes. Sizes are uniform
    * between the two, so the mean is 2.0 MB: the reference's ~15-20 GB
    * over ~8,500 documents (BASELINE.md, README.md:8,317 of the
    * reference) is 1.8-2.4 MB per document. The shape of the size
    * distribution is not published.
    */
  val DocMinBytes = 250000
  val DocMaxBytes = 3750000

  /** Served document size for a URL, in bytes. */
  def docSize(url: String): Int =
    DocMinBytes + java.lang.Math.floorMod(mix(url.hashCode.toLong), (DocMaxBytes - DocMinBytes + 1).toLong).toInt

  /** Write the deterministic document bytes of a URL to `out`: a PDF
    * header, then letters from the URL's SplitMix64 stream, streamed in
    * blocks so a request never holds the whole document.
    */
  def writeDoc(url: String, out: java.io.OutputStream): Unit = {
    val n = docSize(url)
    val header = s"%PDF-1.4\n% ${url.hashCode}\n".getBytes(UTF_8)
    out.write(header)
    val block = new Array[Byte](1 << 16)
    var s = mix(url.hashCode.toLong)
    var left = n - header.length
    while (left > 0) {
      val len = math.min(left, block.length)
      var i = 0
      while (i < len) {
        s = mix(s)
        var k = 0
        while (k < 8 && i < len) { block(i) = ('a' + java.lang.Math.floorMod(s >>> (8 * k), 26L)).toByte; i += 1; k += 1 }
      }
      out.write(block, 0, len)
      left -= len
    }
  }
}
