package graft.functions

import scala.util.Try
import scala.util.matching.Regex

/** Minimal, dependency-free HTML table extraction — the Scala analog of the
  * reference's BeautifulSoup usage (no jsoup in this container's jars).
  *
  * Semantics mirror /root/reference/src/irdai_scraper/scraper/parser.py:
  *  - G1 findDataTable   — parser.py:16-25
  *  - G2 tableRows       — parser.py:27-34
  *  - G3 cells           — parser.py:36-38
  *  - G4 parseRows       — base.py:93-112 (one `Try` per row)
  *  - X1 getText         — parser.py:40-46 (get_text(separator=" ", strip))
  *  - X2 extractDocumentLink — parser.py:48-76
  *  - X3 filenameFromUrl — parser.py:78-89
  *  - X6 currentPage     — parser.py:118-128
  *
  * These run inside `flatMap`/UDF on executors; they are pure string
  * functions (deterministic, no I/O), so Spark may freely re-execute them.
  * The parser is intentionally non-recursive regex tag matching — enough
  * for Liferay-style tables (no nested `<table>` in the reference pages).
  */
object HtmlFunctions {

  /** The base URL relative document links resolve against when the caller
    * names none.
    */
  val DefaultBaseUrl = "https://example.invalid"

  private val TableRe = new Regex("(?is)<table\\b([^>]*)>(.*?)</table>", "attrs", "body")
  private val DivRe   = new Regex("(?is)<div\\b([^>]*)>", "attrs")
  private val TrRe    = new Regex("(?is)<tr\\b([^>]*)>(.*?)</tr>", "attrs", "body")
  private val CellRe  = new Regex("(?is)<(td|th)\\b([^>]*)>(.*?)</\\1>", "tag", "attrs", "body")
  private val ARe     = new Regex("(?is)<a\\b([^>]*)>(.*?)</a>", "attrs", "body")
  private val TagRe   = "(?s)<[^>]*>".r
  private val WsRe    = "\\s+".r
  private val TbodyRe = new Regex("(?is)<tbody\\b[^>]*>(.*?)</tbody>")
  private val UlRe    = new Regex("(?is)<ul\\b([^>]*)>(.*?)</ul>", "attrs", "body")
  private val LiRe    = new Regex("(?is)<li\\b([^>]*)>(.*?)</li>", "attrs", "body")
  private val DocFileRe = new Regex("(?i)/([^/]+\\.(?:pdf|xlsx|xls))")
  private val OnclickRe = new Regex("(?i)onclick\\s*=\\s*(\"([^\"]*)\"|'([^']*)')")
  private val OnclickUrlRe = new Regex("window\\.open\\(['\"]([^'\"]+)['\"]")
  private val CurRe   = new Regex("_cur=(\\d+)")

  /** Pattern for one attribute's value in a raw attribute string
    * (handles ', ", bare).
    */
  private def attrRe(name: String): Regex =
    new Regex("(?i)\\b" + Regex.quote(name) + "\\s*=\\s*(\"([^\"]*)\"|'([^']*)'|([^\\s>]+))")

  private val ClassAttr = attrRe("class")
  private val HrefAttr  = attrRe("href")

  /** Value of the attribute matched by `re` (an [[attrRe]] pattern). */
  private def attr(attrs: String, re: Regex): Option[String] =
    re.findFirstMatchIn(attrs).map { m =>
      Option(m.group(2)).orElse(Option(m.group(3))).getOrElse(m.group(4))
    }

  private val Entities = Seq(
    "&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ")

  def decodeEntities(s: String): String =
    Entities.foldLeft(s) { case (acc, (e, c)) => acc.replace(e, c) }

  /** X1: tag-stripped text with single-space separators, collapsed
    * whitespace, trimmed — get_text(separator=" ", strip=True) + \s+ → " ".
    */
  def getText(html: String): String = {
    val text = TagRe.replaceAllIn(html, " ")
    WsRe.replaceAllIn(if (text.indexOf('&') < 0) text else decodeEntities(text), " ").trim
  }

  /** G1: the data table — class contains "table", else first table inside a
    * div whose class contains "portlet".
    */
  def findDataTable(html: String): Option[String] = {
    val tables = TableRe.findAllMatchIn(html).toSeq
    val byClass = tables.find(m =>
      attr(m.group("attrs"), ClassAttr).exists(_.toLowerCase.contains("table")))
    byClass.map(_.group("body")).orElse {
      DivRe.findAllMatchIn(html)
        .find(d => attr(d.group("attrs"), ClassAttr).exists(_.toLowerCase.contains("portlet")))
        .flatMap { d =>
          val after = html.substring(d.start)
          TableRe.findFirstMatchIn(after).map(_.group("body"))
        }
    }
  }

  /** One parsed row: raw class attribute + per-cell inner HTML. */
  case class HtmlRow(rowClass: String, cellsHtml: Seq[String]) {
    def cellsText: Seq[String] = cellsHtml.map(getText)
  }

  /** G2+G3: data rows of a table body — `tbody` rows if present, else all
    * `<tr>` minus the header row; cells are `td`/`th` in document order.
    */
  def tableRows(tableBody: String): Seq[HtmlRow] = {
    val tbody = TbodyRe.findFirstMatchIn(tableBody).map(_.group(1))
    val scope = tbody.getOrElse(tableBody)
    val all = TrRe.findAllMatchIn(scope).map { m =>
      HtmlRow(
        attr(m.group("attrs"), ClassAttr).getOrElse(""),
        CellRe.findAllMatchIn(m.group("body")).map(_.group("body")).toSeq)
    }.toSeq
    if (tbody.isDefined) all else all.drop(1)
  }

  /** Full page → rows, with the reference's missing-table tolerance. */
  def pageRows(html: String): Seq[HtmlRow] =
    findDataTable(html).map(tableRows).getOrElse(Seq.empty)

  /** One parsed data row: its index in the table, class attribute and
    * cleaned cell texts, plus the document links pre-extracted from the
    * last and second-to-last cells (covering every per-type rule).
    */
  case class ParsedRow(
      rowIdx: Int, rowClass: String, cells: Seq[String],
      docUrlLast: Option[String], docFilenameLast: Option[String],
      docUrlPrev: Option[String], docFilenamePrev: Option[String])

  /** G1-G4: a page's data rows. A row whose extraction throws is dropped
    * (error isolation, base.py:104-110); a page with no recognizable table
    * yields no rows (base.py:97-99). The one per-row body of both parse
    * surfaces, `ParsePipeline.explodeRows` and the `graft_parse_table`
    * generator.
    */
  def parseRows(html: String, baseUrl: String): Iterator[ParsedRow] =
    pageRows(html).iterator.zipWithIndex.flatMap { case (row, i) =>
      Try {
        val cellsHtml = row.cellsHtml
        def link(fromEnd: Int) =
          if (cellsHtml.size >= fromEnd)
            extractDocumentLink(cellsHtml(cellsHtml.size - fromEnd), baseUrl)
          else (None, None)
        val (ul, fl) = link(1)
        val (up, fp) = link(2)
        ParsedRow(i, row.rowClass, row.cellsText, ul, fl, up, fp)
      }.toOption
    }

  /** urljoin: absolutize `href` against `base` (java.net.URI.resolve). */
  def urljoin(base: String, href: String): String =
    try new java.net.URI(base).resolve(href.trim).toString
    catch { case _: Exception => href }

  /** X3 driver/executor-side twin of TextFunctions.filenameFromUrl. */
  def filenameFromUrl(url: String): Option[String] = {
    val m = DocFileRe.findFirstMatchIn(url)
    if (m.isDefined) Some(m.get.group(1))
    else url.split("/").reverseIterator.find(_.contains("."))
      .map(_.split("\\?")(0))
  }

  /** X2: (document URL, filename) from a cell's inner HTML.
    * First `<a href>` whose href contains .pdf/.xlsx/.xls//documents/ →
    * absolutized URL + link text (or URL-derived filename when the text is
    * shorter than 3 chars); fallback: `window.open('...')` in any onclick.
    */
  def extractDocumentLink(cellHtml: String, baseUrl: String = DefaultBaseUrl)
      : (Option[String], Option[String]) = {
    val exts = Seq(".pdf", ".xlsx", ".xls", "/documents/")
    val links = ARe.findAllMatchIn(cellHtml).toSeq
    links.iterator.flatMap { a =>
      attr(a.group("attrs"), HrefAttr).filter(h => exts.exists(h.toLowerCase.contains)).map { href =>
        val url = urljoin(baseUrl, href)
        val text = getText(a.group("body"))
        val filename = if (text.nonEmpty && text.length >= 3) Some(text)
                       else filenameFromUrl(href)
        (Some(url): Option[String], filename)
      }
    }.nextOption().getOrElse {
      // onclick fallback: any element with onclick= containing window.open
      val onclick = OnclickRe.findAllMatchIn(cellHtml)
        .map(m => Option(m.group(2)).getOrElse(m.group(3)))
        .flatMap(oc => OnclickUrlRe.findFirstMatchIn(oc).map(_.group(1)))
        .nextOption()
      onclick match {
        case Some(raw) =>
          val url = urljoin(baseUrl, raw)
          (Some(url), filenameFromUrl(url))
        case None => (None, None)
      }
    }
  }

  /** X6: active page number from the pagination `ul`, default 1. */
  def currentPage(html: String): Int = {
    val ul = UlRe.findAllMatchIn(html)
      .find(m => attr(m.group("attrs"), ClassAttr).exists(_.toLowerCase.contains("pagination")))
    ul.flatMap { u =>
      LiRe.findAllMatchIn(u.group("body"))
        .find(m => attr(m.group("attrs"), ClassAttr).exists(_.toLowerCase.contains("active")))
        .map(m => getText(m.group("body")))
        .filter(t => t.nonEmpty && t.forall(_.isDigit))
        .map(_.toInt)
    }.getOrElse(1)
  }

  /** S3 fallback: max `_cur=N` over all hrefs (base.py:74-86), min 1. */
  def maxPageFromPagination(html: String): Int = {
    val curs = for {
      a <- ARe.findAllMatchIn(html)
      href <- attr(a.group("attrs"), HrefAttr).iterator
      m <- CurRe.findFirstMatchIn(href).iterator
    } yield m.group(1).toInt
    (Iterator(1) ++ curs).max
  }
}
