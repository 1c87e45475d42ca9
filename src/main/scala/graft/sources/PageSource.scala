package graft.sources

import graft.functions.HtmlFunctions
import graft.operators.ParsePipeline.PageHtml
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Paginated page source (S1-S3, O1-O2).
  *
  * Reference (/root/reference/src/irdai_scraper/scraper/base.py):
  *  - S1 scrape_all_pages: base.py:119-133 — ascending page iteration,
  *    per-page failure → empty batch, continue.
  *  - S2 build_page_url + fetch_page: base.py:40-56 — Liferay portlet
  *    pagination params (`p_p_id`, `_cur`, `_delta`).
  *  - S3 get_total_pages: base.py:58-72 — "of N results" probe on page 1
  *    with ceil-div, fallback max `_cur=` scan (base.py:74-86).
  *  - O2 page-range limit: base.py:119-127 — source-level pruning: the
  *    page Dataset is built only for [startPage, endPage], so no fetch work
  *    is ever scheduled outside the window.
  *
  * Spark shape: the page numbers are known up front, so the scan is a
  * `spark.range` over them and a pluggable `fetch` function runs in
  * `mapPartitions` on executors — one HTTP GET per page, parallel across
  * partitions, no shuffle. `fetch` is pluggable so tests and the offline
  * harness read fixture files instead of the network.
  */
object PageSource {

  /** S2: Liferay pagination URL, parity with base.py:40-49. */
  def buildPageUrl(baseUrl: String, urlPath: String, portletId: String,
                   page: Int, itemsPerPage: Int = 60): String =
    s"$baseUrl$urlPath?p_p_id=$portletId&_${portletId}_cur=$page&_${portletId}_delta=$itemsPerPage"

  /** S3: total pages from a fetched first page: ceil(total/perPage) when
    * the "of N results" probe hits, else the max pagination `_cur=`.
    */
  def totalPages(firstPageHtml: String, itemsPerPage: Int = 60): Int = {
    val text = HtmlFunctions.getText(firstPageHtml)
    val m = new scala.util.matching.Regex("(?i)of\\s+([\\d,]+)\\s+results?")
      .findFirstMatchIn(text)
    m.map(_.group(1).replace(",", "").toInt) match {
      case Some(n) => (n + itemsPerPage - 1) / itemsPerPage
      case None    => HtmlFunctions.maxPageFromPagination(firstPageHtml)
    }
  }

  /** S1: the page scan. `fetch(page)` returns the page HTML or throws; a
    * throwing page becomes an empty-HTML row (parity with base.py:127-133's
    * continue-on-error).
    *
    * The pages come from `spark.range(startPage, endPage + 1)` split into
    * `min(pages, defaultParallelism)` range partitions: each partition is
    * one contiguous, ascending page run (O1), and the scan is one narrow
    * stage — no sampling job and no exchange before the first page is
    * read. Carry `page` downstream and sort explicitly where output order
    * matters.
    */
  def scan(spark: SparkSession, productType: String,
           startPage: Int, endPage: Int,
           fetch: Int => String): Dataset[PageHtml] = {
    val slices = math.min(endPage - startPage + 1, spark.sparkContext.defaultParallelism)
    implicit val enc = Encoders.product[PageHtml]
    spark.range(startPage, endPage + 1L, 1L, math.max(slices, 1)).mapPartitions { it =>
      it.map { p =>
        val page = p.intValue
        val html = try fetch(page) catch { case _: Exception => "" }
        PageHtml(productType, page, html)
      }
    }
  }

  /** Offline fixture scan: pages read from `${dir}/page_${n}.html`, UTF-8. */
  def fixtureScan(spark: SparkSession, productType: String, dir: String,
                  startPage: Int, endPage: Int): Dataset[PageHtml] =
    scan(spark, productType, startPage, endPage, p =>
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, s"page_$p.html")), "UTF-8"))
}
