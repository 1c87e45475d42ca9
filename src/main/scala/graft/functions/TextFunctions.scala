package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar string / URL / regex functions from SURVEY.md §2.4, re-expressed
  * as pure-Catalyst `Column` combinators (codegen'd, no UDFs).
  *
  * Reference behavior (cited file:line under /root/reference):
  *  - X1 clean text       — scraper/parser.py:40-46
  *  - X3 filename from URL — scraper/parser.py:78-89
  *  - X4 archive status    — scraper/parser.py:91-107
  *  - X5 total results     — scraper/parser.py:109-116
  *  - X7 sanitize filename — downloader/file_manager.py:19-29
  *  - X8 extension from URL — downloader/file_manager.py:31-45
  *  - X9 download path     — downloader/file_manager.py:47-114
  *  - X13 URL hash         — cli.py:444-445
  *
  * All are stateless per-row expressions: they stay inside whole-stage
  * codegen and scale linearly with input splits at any data size.
  */
object TextFunctions {

  /** X1: HTML-ish text cleanup — collapse runs of whitespace, trim. */
  def cleanText(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** X7: make a string safe as a filename. Forbidden chars → '-',
    * collapse '-'/space runs, strip leading/trailing '-', truncate to 100,
    * empty → "unknown".
    */
  def sanitizeFilename(c: Column): Column = {
    val replaced  = regexp_replace(c, "[<>:\"/\\\\|?*]", "-")
    val collapsed = regexp_replace(replaced, "[-\\s]+", "-")
    val stripped  = regexp_replace(collapsed, "^-+|-+$", "")
    val truncated = substring(stripped, 1, 100)
    when(truncated.isNull || truncated === "", lit("unknown")).otherwise(truncated)
  }

  /** X3: extract a document filename from a URL. Parity with
    * scraper/parser.py:78-89: known doc-extension regex first; else the
    * LAST path segment containing a dot (query string stripped after the
    * dot check, as the reference does); else NULL.
    */
  def filenameFromUrl(url: Column): Column = {
    val byExt  = regexp_extract(url, "(?i)/([^/]+\\.(?:pdf|xlsx|xls))", 1)
    val dotted = filter(split(url, "/"), s => s.contains("."))
    val last   = element_at(dotted, -1)
    val lastNoQuery = element_at(split(last, "\\?"), 1)
    when(byExt =!= "", byExt)
      .when(size(dotted) > 0, lastNoQuery)
      .otherwise(lit(null).cast("string"))
  }

  /** X8: file extension from a URL path, with the reference's defaulting
    * rule (".xlsx" if the URL mentions xls, else ".pdf").
    */
  def extensionFromUrl(url: Column): Column = {
    val path = lower(url_decode(parse_url(url, lit("PATH"))))
    when(path.contains(".pdf"), ".pdf")
      .when(path.contains(".xlsx"), ".xlsx")
      .when(path.contains(".xls"), ".xls")
      .when(lower(url).contains("xls"), ".xlsx")
      .otherwise(".pdf")
  }

  /** X4: archive-status detection, bug-for-bug with scraper/parser.py:91-107:
    * the row's CSS class is checked first ("archive" substring → Archived);
    * then the first cell's text checks "archived" BEFORE "non-archived" /
    * "non archived" — so a cell reading "non-archived" yields "Archived"
    * (substring containment), exactly like the reference. Default
    * "Non-Archived".
    */
  def archiveStatus(rowClass: Column, firstCellText: Column): Column = {
    val cls = lower(coalesce(rowClass, lit("")))
    val t   = lower(coalesce(firstCellText, lit("")))
    when(cls.contains("archive"), "Archived")
      .when(t.contains("archived"), "Archived")
      .when(t.contains("non-archived") || t.contains("non archived"), "Non-Archived")
      .otherwise("Non-Archived")
  }

  /** X4 text-only overload (no CSS class available). */
  def archiveStatus(firstCellText: Column): Column =
    archiveStatus(lit(""), firstCellText)

  /** X5: "of N results" cardinality extraction with comma stripping.
    * Case-insensitive like the reference (parser.py:113 re.IGNORECASE).
    */
  def totalResults(text: Column): Column = {
    val raw = regexp_extract(text, "(?i)of\\s+([\\d,]+)\\s+results?", 1)
    when(raw === "", lit(null)).otherwise(replace(raw, lit(","), lit("")).cast("int"))
  }

  /** X9: download path expression
    * `downloads/{type}/{fy}/{insurer}/{uin}_{name}{ext}` over sanitized parts.
    */
  def downloadPath(productType: Column, fy: Column, insurer: Column,
                   uin: Column, name: Column, ext: Column): Column =
    concat_ws("/",
      lit("downloads"), productType,
      sanitizeFilename(fy), sanitizeFilename(insurer),
      concat(sanitizeFilename(uin), lit("_"), sanitizeFilename(name), ext))

  /** X13: stable 64-bit URL hash (xxhash64) for fallback destinations. */
  def urlHash(url: Column): Column = xxhash64(url)

  /** X13 portable twin: md5-derived 60-bit URL hash. The reference's
    * fallback filename uses Python's process-seeded builtin `hash`
    * (cli.py:445) — unstable across runs, so collisions/idempotency
    * break on resume; a content-derived hash is the corrected semantics,
    * and the md5 form is reproducible in any engine for audit.
    */
  def urlHashPortable(url: Column): Column = HashFunctions.portableHash60(url)

  /** Multi-format date normalization — the derived layer SURVEY §1.5
    * recommends over the reference's raw-string dates (models.py:30-31,
    * 55, 65 keep `launch_modification_date` / `date_of_approval`
    * unparsed because the scraped corpus mixes formats; FIXTURES.md
    * catalogues `06-05-2022` dd-MM-yyyy, `2018-06-04` ISO, and the
    * double-stamped `2018-06-04 04-06-2018` — the same date twice in two
    * formats).
    *
    * Rule: clean the string, split on whitespace, and for the first two
    * tokens try `yyyy-MM-dd` (unambiguous ISO first), then `dd-MM-yyyy`,
    * then `dd/MM/yyyy` — first parse wins; everything else → NULL. Uses
    * `try_to_date`, so malformed input never throws, and Spark's
    * CORRECTED-mode parser rejects impossible dates (31-02-…) instead of
    * rolling them over. Two-digit day/month expected (the corpus's
    * form). Pure Catalyst expression — stays in whole-stage codegen.
    */
  def normalizeDate(c: Column): Column = {
    val toks = split(cleanText(c), " ")
    def parse(t: Column): Column = coalesce(
      try_to_date(t, "yyyy-MM-dd"),
      try_to_date(t, "dd-MM-yyyy"),
      try_to_date(t, "dd/MM/yyyy"))
    coalesce(parse(element_at(toks, 1)),
      when(size(toks) >= 2, parse(element_at(toks, 2))))
  }

  /** Financial-year canonicalization to `YYYY-YY` (`2018-19`). Accepted
    * inputs (FIXTURES.md's observed variants): `FY 2018-19`, `2018-2019`,
    * `2014-15`, `13-14` (two-digit years → 20xx). A candidate only
    * normalizes when the end year is exactly start+1 (mod 100), so junk
    * leaked into the FY column (`GEN4734` in nonlife) and impossible
    * spans (`2018-17`) come out NULL rather than masquerading as a
    * valid year.
    */
  def normalizeFy(c: Column): Column = {
    val t = regexp_replace(cleanText(c), "(?i)^FY\\s*", "")
    val a44 = regexp_extract(t, "^(\\d{4})-(\\d{4})$", 1)
    val b44 = regexp_extract(t, "^(\\d{4})-(\\d{4})$", 2)
    val a42 = regexp_extract(t, "^(\\d{4})-(\\d{2})$", 1)
    val b42 = regexp_extract(t, "^(\\d{4})-(\\d{2})$", 2)
    val a22 = regexp_extract(t, "^(\\d{2})-(\\d{2})$", 1)
    val b22 = regexp_extract(t, "^(\\d{2})-(\\d{2})$", 2)
    def consecutive(startYear: Column, endYY: Column): Column =
      pmod(startYear.cast("int") + 1, lit(100)) === endYY.cast("int")
    // Full-full spans compare FULL years: mod-100 alone would accept
    // century-crossing junk ('2018-2119' → '2018-19').
    when(a44 =!= "" && b44.cast("int") === a44.cast("int") + 1,
        concat(a44, lit("-"), substring(b44, 3, 2)))
      .when(a42 =!= "" && consecutive(a42, b42), concat(a42, lit("-"), b42))
      .when(a22 =!= "" && consecutive(a22, b22),
        concat(lit("20"), a22, lit("-"), b22))
      .otherwise(lit(null).cast("string"))
  }

  /** X10: object-store key from a local relative path — backslashes →
    * slashes, leading slashes stripped, prefixed with the product type
    * (r2_uploader.py:172-183).
    */
  def r2Key(productType: Column, relativePath: Column): Column =
    concat(productType, lit("/"),
      regexp_replace(regexp_replace(relativePath, "\\\\", "/"), "^/+", ""))

  /** X10: public bucket URL for a key (r2_uploader.py:53-59). */
  def publicUrl(bucketHost: Column, key: Column): Column =
    concat(lit("https://"), bucketHost, lit("/"), key)

  /** X11: extension → MIME content type, octet-stream default
    * (r2_uploader.py:160-170).
    */
  def contentType(path: Column): Column = {
    val ext = lower(regexp_extract(path, "(\\.[A-Za-z0-9]+)$", 1))
    when(ext === ".pdf", "application/pdf")
      .when(ext === ".xlsx", "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet")
      .when(ext === ".xls", "application/vnd.ms-excel")
      .when(ext === ".csv", "text/csv")
      .when(ext === ".json", "application/json")
      .when(ext === ".html", "text/html")
      .otherwise("application/octet-stream")
  }

  /** Whitespace tokenization; the base for token counting and
    * shingling. Empty/blank input → empty array (not [""]).
    */
  def tokens(c: Column): Column = {
    val t = cleanText(c)
    when(t === "" || t.isNull, array().cast("array<string>")).otherwise(split(t, " "))
  }

  /** Token count (whitespace tokenization). */
  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  /** Document fingerprint: md5 of lower-cased whitespace-normalized text —
    * the exact-dedup key for 100 TB-scale exact deduplication (hash then
    * groupBy the 32-char digest instead of shuffling full documents).
    */
  def fingerprint(c: Column): Column = md5(lower(cleanText(c)))

  // ---- PII scrubbing (training-data hygiene; RE2-compatible patterns,
  //      so the same regexes run in Spark, DuckDB, and Go-side tooling) ----

  /** Email addresses (pragmatic form, not full RFC 5322). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Phone numbers in international `+CC NNN-NNN-NNNN` form. */
  val PhonePattern = "\\+\\d{1,2} \\d{3}-\\d{3}-\\d{4}"
  /** US-SSN-shaped ids `NNN-NN-NNNN`. */
  val SsnPattern = "\\d{3}-\\d{2}-\\d{4}"

  /** Replace every email/phone/SSN-shaped span with a typed placeholder.
    * Pure codegen'd `regexp_replace` chain — a shuffle-free scan at any
    * scale. Order matters: SSN last, so the phone rule consumes full
    * phone numbers before the looser digit-group pattern can bite a
    * suffix of one.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      SsnPattern, "<SSN>")

  /** Per-category redaction counts (audit columns for the scrub job). */
  def piiCounts(c: Column): Seq[Column] = Seq(
    regexp_count(c, lit(EmailPattern)).cast("long").as("n_emails"),
    regexp_count(c, lit(PhonePattern)).cast("long").as("n_phones"),
    regexp_count(regexp_replace(c, PhonePattern, "<PHONE>"), lit(SsnPattern))
      .cast("long").as("n_ssns"))

  // ---- URL canonicalization (web-corpus dedup key; the crawl-side
  //      counterpart of the content dedup family) ----

  /** Canonicalize an absolute http(s) URL for crawl dedup:
    * lowercase scheme+host, drop the fragment, drop the scheme's default
    * port (:80 http, :443 https), drop tracking params (utm_*, fbclid,
    * gclid, ref), sort surviving query params, strip one trailing slash
    * from a non-root path. Non-absolute inputs (no `scheme://`) pass
    * through unchanged. Pure codegen'd regexp/array expressions —
    * shuffle-free at any scale; RE2-compatible patterns so the same
    * canon runs in any engine.
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val path0 = regexp_extract(rest, "^[^/?]*([^?]*)", 1)
    val path = regexp_replace(path0, "(.)/$", "$1")
    val params = array_sort(filter(
      split(regexp_extract(noFrag, "\\?(.*)$", 1), "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$")))
    val query = when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
      .otherwise(lit(""))
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), host, path, query))
  }

  /** Registrable host of a canonicalized URL ('' for non-absolute). */
  def urlHost(url: Column): Column =
    regexp_replace(
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?:]*)", 1),
      "^www\\.", "")
}
