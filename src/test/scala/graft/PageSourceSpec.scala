package graft

import graft.fetch.Downloader
import graft.sources.PageSource
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** S1-S3 paginated source tests: offline fixtures, and one scan over a
  * local HTTP server.
  */
class PageSourceSpec extends SparkSpec {

  test("buildPageUrl carries Liferay pagination params (S2, base.py:40-49)") {
    val url = PageSource.buildPageUrl("https://h.test", "/life", "portletA", 3, 60)
    assert(url == "https://h.test/life?p_p_id=portletA&_portletA_cur=3&_portletA_delta=60")
  }

  test("totalPages: ceil of 'of N results' probe (S3, base.py:58-72)") {
    assert(PageSource.totalPages("<p>Showing 1 to 60 of 8,500 results</p>", 60) == 142)
    assert(PageSource.totalPages("<p>of 60 results</p>", 60) == 1)
    assert(PageSource.totalPages("<p>of 61 results</p>", 60) == 2)
  }

  test("totalPages falls back to max _cur= scan (base.py:74-86)") {
    val html = "<a href='?x_cur=4'>4</a><a href='?x_cur=9'>9</a>"
    assert(PageSource.totalPages(html, 60) == 9)
    assert(PageSource.totalPages("<p>nothing</p>", 60) == 1)
  }

  test("scan reads the page window, failed pages become empty HTML (S1/O2)") {
    val dir = Files.createTempDirectory("graft-pages").toString
    Files.writeString(Paths.get(dir, "page_1.html"), "<p>one</p>")
    Files.writeString(Paths.get(dir, "page_2.html"), "<p>two</p>")
    // page_3.html intentionally missing → empty-HTML row, scan continues
    val out = PageSource.fixtureScan(spark, "life", dir, 1, 3).collect()
      .sortBy(_.page)
    assert(out.map(_.page).toSeq == Seq(1, 2, 3))
    assert(out(0).html == "<p>one</p>")
    assert(out(2).html == "")
    assert(out.forall(_.productType == "life"))
  }

  test("scan over HTTP fetches each page through the S2 URL builder; a 500 page is an empty row") {
    def uri(p: Int) = PageSource.buildPageUrl("", "/life", "pA", p)
    val server = new TestHttpServer()((u, _) => (if (u == uri(2)) 500 else 200, Nil))
    try {
      val base = server.base
      val fetch = Downloader.httpFetch(5)
      val out = PageSource.scan(spark, "life", 1, 3,
        p => new String(fetch(PageSource.buildPageUrl(base, "/life", "pA", p)), UTF_8))
        .collect().sortBy(_.page)
      assert(out.map(_.page).toSeq == Seq(1, 2, 3))
      // the server answers 2xx with the request URI as the body
      assert(out.map(_.html).toSeq == Seq(uri(1), "", uri(3)))
      assert((1 to 3).map(p => server.requests(uri(p)).size) == Seq(1, 1, 1))
    } finally server.close()
  }

  test("scan: one contiguous ascending page range per partition, no exchange (O1)") {
    val dir = Files.createTempDirectory("graft-pages").toString
    val n = 9
    (1 to n).foreach(p => Files.writeString(Paths.get(dir, s"page_$p.html"), s"<p>$p</p>"))
    val ds = PageSource.fixtureScan(spark, "life", dir, 1, n)
    val parts = ds.rdd.glom().collect().map(_.toSeq).toSeq
    assert(parts.size == math.min(n, spark.sparkContext.defaultParallelism))
    for (part <- parts) {
      val pages = part.map(_.page)
      assert(pages.nonEmpty && pages == (pages.head to pages.last), s"not one ascending run: $pages")
      assert(part.forall(p => p.html == s"<p>${p.page}</p>"))
    }
    assert(parts.flatten.map(_.page) == (1 to n))
    val plan = ds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"the page scan must not shuffle:\n$plan")
  }
}
