package graft

import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.functions._

/** Column-function tests incl. the SURVEY §5 property checks
  * (X1/X7 idempotence, X7 invariants) — seeded sample-based properties
  * (scalatestplus isn't resolvable offline, so no forAll sugar).
  */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(42)
  private def randomStrings(n: Int, alphabet: String): Seq[String] =
    Seq.fill(n)(Seq.fill(rng.nextInt(40))(alphabet(rng.nextInt(alphabet.length))).mkString)

  private def run1(c: org.apache.spark.sql.Column, input: String): String = {
    val r = Seq(input).toDF("s").select(c.as("r")).head
    if (r.isNullAt(0)) null else r.getString(0)
  }

  test("cleanText collapses whitespace and trims") {
    assert(run1(T.cleanText(col("s")), "  a\t\tb \n c ") == "a b c")
  }

  test("cleanText is idempotent (100 seeded samples)") {
    val samples = randomStrings(100, "ab \t\ncd  ")
    val df = samples.toDF("s")
      .select(T.cleanText(col("s")).as("once"),
        T.cleanText(T.cleanText(col("s"))).as("twice"))
    assert(df.where(col("once") =!= col("twice")).count() == 0)
  }

  test("sanitizeFilename: forbidden chars removed, ≤100 chars, never empty") {
    val samples = randomStrings(200, "aZ09<>:\"/\\|?* -") ++ Seq("", "///", "  ")
    val outs = samples.toDF("s").select(T.sanitizeFilename(col("s")).as("o"))
      .collect().map(_.getString(0))
    outs.foreach { out =>
      assert(out != null && out.nonEmpty && out.length <= 100, s"out=$out")
      assert(!out.exists("<>:\"/\\|?* ".contains(_)), s"out=$out")
    }
    assert(run1(T.sanitizeFilename(col("s")), "") == "unknown")
    assert(run1(T.sanitizeFilename(col("s")), "a/b:c") == "a-b-c")
  }

  test("archiveStatus: reference check order (archived before non-archived)") {
    def st(cls: String, txt: String) =
      run1(T.archiveStatus(lit(cls), col("s")), txt)
    assert(st("", "Archived") == "Archived")
    // reference bug parity: 'non-archived' contains 'archived' → Archived
    assert(st("", "non-archived") == "Archived")
    assert(st("", "non archived") == "Archived")
    assert(st("archive-row", "whatever") == "Archived")
    assert(st("", "plain row") == "Non-Archived")
  }

  test("totalResults: case-insensitive, comma-stripping, null when absent") {
    assert(run1(T.totalResults(col("s")).cast("string"), "of 1,234 Results") == "1234")
    assert(run1(T.totalResults(col("s")).cast("string"), "OF 7 RESULT") == "7")
    assert(run1(T.totalResults(col("s")).cast("string"), "nothing here") == null)
  }

  test("filenameFromUrl branches (parser.py:78-89 parity)") {
    def f(u: String) = run1(T.filenameFromUrl(col("s")), u)
    assert(f("https://x.test/a/Policy Doc.pdf?v=2") == "Policy Doc.pdf")
    assert(f("https://x.test/a/F.XLSX") == "F.XLSX")
    assert(f("https://x.test/plain/9") == "x.test") // dotted-segment fallback
    assert(f("files/data9") == null)
  }

  test("extensionFromUrl defaulting rules (file_manager.py:31-45)") {
    def e(u: String) = run1(T.extensionFromUrl(col("s")), u)
    assert(e("https://x.test/a.pdf") == ".pdf")
    assert(e("https://x.test/a.XLSX?q=1") == ".xlsx")
    assert(e("https://x.test/a.xls") == ".xls")
    assert(e("https://x.test/get?fmt=xlsheet") == ".xlsx")
    assert(e("https://x.test/get/plain") == ".pdf")
  }

  test("r2Key, publicUrl and contentType derive an object's key, URL and MIME type (X10/X11)") {
    def k(path: String) = run1(T.r2Key(lit("life"), col("s")), path)
    assert(k("\\2020\\a.pdf") == "life/2020/a.pdf")
    assert(k("//2020/a.pdf") == "life/2020/a.pdf")
    assert(run1(T.publicUrl(lit("bucket.example.dev"), col("s")), "life/2020/a.pdf") ==
      "https://bucket.example.dev/life/2020/a.pdf")
    def ct(path: String) = run1(T.contentType(col("s")), path)
    assert(ct("life/2020/a.pdf") == "application/pdf")
    assert(ct("life/2020/b.XLSX") ==
      "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet")
    assert(ct("life/2020/c") == "application/octet-stream")
  }

  test("tokens/tokenCount handle empty and blank input") {
    val counts = Seq("", "   ", "a b  c").toDF("s")
      .select(T.tokenCount(col("s")).as("n")).collect().map(_.getLong(0))
    assert(counts.toSeq == Seq(0L, 0L, 3L))
  }

  test("fingerprint is whitespace/case-insensitive") {
    val fp = Seq(("A  b C", "a b c")).toDF("x", "y")
      .select(T.fingerprint(col("x")).as("fx"), T.fingerprint(col("y")).as("fy")).head
    assert(fp.getString(0) == fp.getString(1))
  }

  test("redactPii replaces emails/phones/SSN-shaped ids; counts agree") {
    val cases = Seq(
      ("a@b.com and c.d+x@e.org", "<EMAIL> and <EMAIL>", 2L, 0L, 0L),
      ("call +1 555-010-1234 or +44 123-456-7890",
        "call <PHONE> or <PHONE>", 0L, 2L, 0L),
      ("id 123-45-6789 ok", "id <SSN> ok", 0L, 0L, 1L),
      ("m a@b.co +1 555-010-1234 123-45-6789",
        "m <EMAIL> <PHONE> <SSN>", 1L, 1L, 1L),
      ("clean text, nothing here", "clean text, nothing here", 0L, 0L, 0L))
    val out = cases.map(_._1).toDF("t")
      .select(T.redactPii(col("t")).as("r") +: T.piiCounts(col("t")): _*)
      .collect()
    cases.zip(out).foreach { case ((in, want, e, p, s), row) =>
      assert(row.getString(0) == want, s"input: $in")
      assert((row.getLong(1), row.getLong(2), row.getLong(3)) == ((e, p, s)), s"input: $in")
    }
  }

  test("redactPii: a phone's digit tail is not double-counted as an SSN") {
    val row = Seq("+1 555-010-1234").toDF("t")
      .select(T.redactPii(col("t")).as("r") +: T.piiCounts(col("t")): _*).head
    assert(row.getString(0) == "<PHONE>")
    assert(row.getLong(3) == 0L)
  }

  test("normalizeDate: every catalogued corpus format, incl. double-stamped") {
    def nd(s: String) =
      run1(date_format(T.normalizeDate(col("s")), "yyyy-MM-dd"), s)
    assert(nd("2018-06-04") == "2018-06-04")            // ISO
    assert(nd("06-05-2022") == "2022-05-06")            // dd-MM-yyyy
    assert(nd("06/05/2022") == "2022-05-06")            // dd/MM/yyyy
    assert(nd("2018-06-04 04-06-2018") == "2018-06-04") // double-stamped
    assert(nd("  2018-06-04\t04-06-2018 ") == "2018-06-04") // + messy ws
    assert(nd("junk 04-06-2018") == "2018-06-04")       // 2nd token rescues
    assert(nd("31-02-2022") == null)                    // impossible date
    assert(nd("FY 2018-19") == null)
    assert(nd("") == null)
    assert(nd("GEN4734") == null)
  }

  test("normalizeDate is idempotent: re-normalizing its ISO render is a fixed point") {
    val dates = Seq("2018-06-04", "06-05-2022", "2018-06-04 04-06-2018",
      "01-01-2000", "29-02-2020")
    val once = dates.toDF("s")
      .select(date_format(T.normalizeDate(col("s")), "yyyy-MM-dd").as("c"))
      .as[String].collect().toSeq
    val twice = once.toDF("c")
      .select(date_format(T.normalizeDate(col("c")), "yyyy-MM-dd").as("c2"))
      .as[String].collect().toSeq
    assert(once == twice && once.forall(_ != null))
  }

  test("normalizeFy: observed variants canonicalize; junk and bad spans NULL") {
    def fy(s: String) = run1(T.normalizeFy(col("s")), s)
    assert(fy("FY 2018-19") == "2018-19")
    assert(fy("2018-2019") == "2018-19")
    assert(fy("2014-15") == "2014-15")
    assert(fy("13-14") == "2013-14")
    assert(fy("fy2018-19") == "2018-19")  // case-insensitive, no space
    assert(fy(" FY  1999-2000 ") == "1999-00") // century rollover
    assert(fy("GEN4734") == null)         // nonlife column leak
    assert(fy("2018-17") == null)         // non-consecutive span
    assert(fy("2018-2020") == null)
    assert(fy("") == null)
    // idempotence: the canonical form is itself an accepted input
    val canon = Seq("2018-19", "2013-14", "1999-00")
    assert(canon.forall(c => fy(c) == c))
  }

  test("canonicalizeUrl is idempotent: canonical forms are fixed points") {
    // re-canonicalizing must change nothing — the property that makes
    // the canon a valid dedup KEY (mixed crawl inputs converge)
    val urls = Seq(
      "HTTP://WWW.Ex.TEST:80/p1/?utm_source=x&b=2&a=1#sec",
      "https://Ex.Test:443/q7?fbclid=abc&id=7",
      "https://cdn.ex.test:8443/r/9/",
      "https://ex.test/",
      "http://ex.test/a?utm_medium=m&gclid=g&ref=r",
      "https://ex.test/deep/path/x?z=1&y=2&a=3",
      "files/data3",
      "ftp://Mixed.Case/path/",
      "https://h.test/p?a=1&a=1&b")
    val once = urls.toDF("u").select(T.canonicalizeUrl(col("u")).as("c"))
      .as[String].collect().toSeq
    val twice = once.toDF("c").select(T.canonicalizeUrl(col("c")).as("c2"))
      .as[String].collect().toSeq
    assert(once == twice, s"canon not idempotent:\n${once.zip(twice).filter(p => p._1 != p._2)}")
  }

  test("canonicalizeUrl normalizes case/port/params/slash; passes relative through") {
    val cases = Seq(
      // lowercase scheme+host, drop :80, drop fragment + utm_*, sort params
      ("HTTP://WWW.Ex.TEST:80/p1/?utm_source=x&b=2&a=1#sec",
        "http://www.ex.test/p1?a=1&b=2", "ex.test"),
      // drop :443 on https, drop fbclid, keep real param
      ("https://Ex.Test:443/q7?fbclid=abc&id=7",
        "https://ex.test/q7?id=7", "ex.test"),
      // non-default port survives; trailing slash stripped
      ("https://cdn.ex.test:8443/r/9/", "https://cdn.ex.test:8443/r/9", "cdn.ex.test"),
      // root path slash is NOT stripped
      ("https://ex.test/", "https://ex.test/", "ex.test"),
      // all params tracking -> no query at all
      ("http://ex.test/a?utm_medium=m&gclid=g&ref=r", "http://ex.test/a", "ex.test"),
      // scheme-less input unchanged, empty host
      ("files/data3", "files/data3", ""))
    val out = cases.map(_._1).toDF("u")
      .select(T.canonicalizeUrl(col("u")).as("c"),
        T.urlHost(T.canonicalizeUrl(col("u"))).as("h")).collect()
    cases.zip(out).foreach { case ((in, wantC, wantH), row) =>
      assert(row.getString(0) == wantC, s"canon of $in")
      assert(row.getString(1) == wantH, s"host of $in")
    }
  }
}
