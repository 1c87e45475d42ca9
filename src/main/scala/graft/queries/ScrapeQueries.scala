package graft.queries

import graft.Tables
import graft.functions.{TextFunctions => T}
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own pipeline surface: HTML table parsing, URL/text functions, pagination, CSV metadata, branch split.
  *
  * Contract queries: q11_clean_text, q17_archive_status, q18_total_results, q19_sanitize_filename, q20_filename_from_url, q21_extension_from_url, q22_download_path, q23_url_hash, q35_parse_life, q36_parse_health, q39_count_scan, q42_r2_meta, q43_max_page, q44_parse_nonlife, q45_parse_life_list, q47_branch_split, q48_total_pages, q213_crawl_budget, q214_politeness, q235_normalize_date, q236_normalize_fy.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object ScrapeQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X1: clean text.
    "q11_clean_text" -> ((s, d) =>
      Tables.documents(s, d).select(did, T.cleanText(col("text")).as("clean"))),


    // X4: archive-status detection over synthetic inputs.
    "q17_archive_status" -> ((s, d) =>
      Tables.documents(s, d).select(did, archSample.as("sample"),
        T.archiveStatus(archSample).as("status"))),


    // X5: "of N results" extraction; input built with format_number commas.
    "q18_total_results" -> ((s, d) =>
      Tables.documents(s, d).select(did,
        T.totalResults(concat(lit("Total of "),
          format_number(col("n_chars") * 7, 0), lit(" Results"))).as("total"))),


    // X7: sanitize filename.
    "q19_sanitize_filename" -> ((s, d) =>
      Tables.documents(s, d).select(did,
        T.sanitizeFilename(concat(col("source"), lit(": "),
          substring(col("text"), 1, 50))).as("fname"))),


    // X3: filename from URL (all branches).
    "q20_filename_from_url" -> ((s, d) =>
      Tables.documents(s, d).select(did, T.filenameFromUrl(testUrl).as("fname"))),


    // X8: extension from URL (all branches).
    "q21_extension_from_url" -> ((s, d) =>
      Tables.documents(s, d).select(did, T.extensionFromUrl(extUrl).as("ext"))),


    // X9: download path expression.
    "q22_download_path" -> ((s, d) =>
      Tables.documents(s, d).select(did,
        T.downloadPath(lit("life"),
          concat(lit("FY 20"), (lit(15) + pmod(did, lit(5))).cast("string")),
          col("source"), concat(lit("UIN-"), sid),
          substring(col("text"), 1, 20), lit(".pdf")).as("path"))),


    // X13: portable (md5-derived) URL hash — oracle-checked; the xxhash64
    // fast path stays available as TextFunctions.urlHash.
    "q23_url_hash" -> ((s, d) =>
      Tables.documents(s, d).select(did,
        T.urlHashPortable(concat(lit("https://x.test/doc/"), sid, lit(".pdf"))).as("url_hash"))),


    // G1-G4 + P1 + F1/F2/F4: full HTML parse round-trip (life).
    "q35_parse_life" -> ((s, d) =>
      ParsePipeline.life(ParsePipeline.explodeRows(lifePages(s, d)).toDF())),


    // G1-G4 + P4 (prev-cell doc-link fallback): parse round-trip (health).
    "q36_parse_health" -> ((s, d) =>
      ParsePipeline.health(ParsePipeline.explodeRows(healthPages(s, d)).toDF())),


    // S5/A2: count scan.
    "q39_count_scan" -> ((s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("n_rows"))),


    // X10/X11: object-store key, public URL, content type.
    "q42_r2_meta" -> ((s, d) => {
      val ext = when(pmod(did, lit(3)) === 0, ".pdf")
        .when(pmod(did, lit(3)) === 1, ".xlsx").otherwise(".bin")
      val rel = concat(lit("\\docs\\"), col("source"), lit("\\f"), sid, ext)
      val key = T.r2Key(lit("life"), rel)
      Tables.documents(s, d).select(did, key.as("key"),
        T.publicUrl(lit("bucket.r2.dev"), key).as("public_url"),
        T.contentType(key).as("content_type"))
    }),


    // A5: max pagination cursor as a Catalyst expression over raw hrefs.
    "q43_max_page" -> ((s, d) => {
      val html = concat(
        lit("<a href='?p_cur="), sid, lit("'>x</a><a href='?p_cur="),
        pmod(did * 2, lit(97)).cast("string"), lit("'>y</a>"))
      val cursors = transform(
        regexp_extract_all(html, lit("_cur=(\\d+)"), lit(1)), x => x.cast("int"))
      Tables.documents(s, d).select(did,
        greatest(lit(1), array_max(cursors)).as("max_page"))
    }),


    // G1-G4 + P3: parse round-trip (nonlife, with optional s_no/date F4).
    "q44_parse_nonlife" -> ((s, d) =>
      ParsePipeline.nonlife(ParsePipeline.explodeRows(nonlifePages(s, d)).toDF())),


    // G1-G4 + P2 + X2 onclick fallback: parse round-trip (life_list).
    "q45_parse_life_list" -> ((s, d) =>
      ParsePipeline.lifeList(ParsePipeline.explodeRows(lifeListPages(s, d)).toDF())),


    // F5: success/failure branch counts in one pass.
    "q47_branch_split" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("success", col("value") > 0.5)
        .groupBy("event_type")
        .agg(sum(when(col("success"), 1).otherwise(0)).as("n_ok"),
          sum(when(!col("success"), 1).otherwise(0)).as("n_fail"))),


    // S3: cardinality probe — "of N results" → ceil-div page count.
    "q48_total_pages" -> ((s, d) => {
      val total = T.totalResults(concat(lit("Showing 1 to 60 of "),
        format_number(col("n_chars") * 3, 0), lit(" results")))
      Tables.documents(s, d).select(did,
        floor((total + 59) / 60).cast("int").as("total_pages"))
    }),


    // Crawl-cycle budget allocation by max-min fair water-filling:
    // 7 domains with SKEWED pending queues (domain k's doc count
    // scaled ×(k+1)) share a 600-fetch budget over 3 rounds — light
    // domains saturate in round 1 and their leftover flows to the heavy
    // tail, so `granted` is provably non-uniform and some domains
    // starve. The "don't let one domain eat the fetch cycle" scheduler.
    "q213_crawl_budget" -> ((s, d) => {
      val pending = Tables.documents(s, d)
        .select(concat(lit("d"), pmod(did, lit(7)).cast("string")).as("domain"),
          pmod(did, lit(7)).as("k"))
        .groupBy("domain").agg((count(lit(1)) * (max(col("k")) + 1L)).as("pending"))
      SampleOps.waterFillBudget(pending, "domain", "pending",
          budget = 600L, rounds = 3)
        .select(col("key").as("domain"), col("pending"), col("granted"), col("starved"))
    }),


    // Per-domain politeness schedule: frontier URLs rank inside their
    // domain in portable-hash order (deterministic "random" priority)
    // and each domain's crawl delay staggers them into fetch slots —
    // fetch_ms = (rank−1)·delay. The emitted schedule is what a fetcher
    // fleet consumes; one window shuffle keyed by domain.
    "q214_politeness" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val f = Tables.documents(s, d).select(did.as("url_id"),
        concat(lit("d"), pmod(did, lit(7)).cast("string")).as("domain"),
        (lit(500L) + pmod(did, lit(7)) * 250L).as("delay_ms"),
        graft.functions.HashFunctions.portableHash60(did.cast("string")).as("h"))
      f.withColumn("rk", row_number().over(
          Window.partitionBy("domain").orderBy(col("h"), col("url_id"))).cast("long"))
        .select(col("url_id"), col("domain"), col("rk"), col("delay_ms"),
          ((col("rk") - 1L) * col("delay_ms")).as("fetch_ms"))
    }),


    // Multi-format date normalization (SURVEY §1.5's derived layer over
    // the reference's raw-string dates). Fixture cycles the corpus's
    // observed shapes: ISO, dd-MM-yyyy, the double-stamped "both at
    // once" (models.py keeps these unparsed), an FY string, and junk —
    // the last two must come out NULL, the first three recover the
    // SAME underlying date. Oracle asserts the expected date directly.
    "q235_normalize_date" -> ((s, d) => {
      val base = date_add(lit("2020-01-01").cast("date"),
        pmod(did, lit(1000)).cast("int"))
      val iso = date_format(base, "yyyy-MM-dd")
      val dmy = date_format(base, "dd-MM-yyyy")
      val raw = when(pmod(did, lit(5)) === 0, iso)
        .when(pmod(did, lit(5)) === 1, dmy)
        .when(pmod(did, lit(5)) === 2, concat(iso, lit(" "), dmy))
        .when(pmod(did, lit(5)) === 3, lit("FY 2018-19"))
        .otherwise(lit("garbage 31-02-2022"))
      // DateType renders as ISO text for the compare (pandas coerces a
      // DuckDB DATE to Timestamp — date-typed cells never hash-match);
      // the operator itself returns a real DateType column.
      Tables.documents(s, d).select(did, raw.as("raw"),
        date_format(T.normalizeDate(raw), "yyyy-MM-dd").as("norm_date"))
    }),


    // FY canonicalization: every observed variant (FY-prefixed,
    // full-full, full-short, short-short) canonicalizes to YYYY-YY;
    // leaked junk and non-consecutive spans → NULL.
    // DELIBERATELY routed through the SQL-registered surface
    // (graft_normalize_fy via GraftFunctions.register + call_function)
    // rather than the direct Column combinator: the oracle hash-match
    // then certifies that the FunctionRegistry substitution path is
    // value-identical to the Column API (q235 keeps the direct path, so
    // both routes stay contract-covered).
    "q236_normalize_fy" -> ((s, d) => {
      graft.GraftFunctions.register(s)
      val y = (lit(2000) + pmod(did, lit(20))).cast("int")
      val yy2 = lpad(pmod(y + 1, lit(100)).cast("string"), 2, "0")
      val raw = when(pmod(did, lit(6)) === 0,
          concat(lit("FY "), y.cast("string"), lit("-"), yy2))
        .when(pmod(did, lit(6)) === 1,
          concat(y.cast("string"), lit("-"), (y + 1).cast("string")))
        .when(pmod(did, lit(6)) === 2,
          concat(y.cast("string"), lit("-"), yy2))
        .when(pmod(did, lit(6)) === 3,
          concat(lpad(pmod(y, lit(100)).cast("string"), 2, "0"), lit("-"), yy2))
        .when(pmod(did, lit(6)) === 4, lit("GEN4734"))
        .otherwise(concat(y.cast("string"), lit("-"),
          lpad(pmod(y + 2, lit(100)).cast("string"), 2, "0")))
      Tables.documents(s, d).select(did, raw.as("raw"),
        call_function("graft_normalize_fy", raw).as("norm_fy"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q11_clean_text" ->
      s"""SELECT doc_id, $cleanSql AS clean FROM documents""",


    "q17_archive_status" ->
      """SELECT doc_id,
        | CASE doc_id % 4 WHEN 0 THEN 'Archived Product' WHEN 1 THEN 'Non-Archived item'
        |  WHEN 2 THEN 'non archived thing' ELSE 'Regular entry' END AS sample,
        | CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 'Archived' ELSE 'Non-Archived' END AS status
        |FROM documents""".stripMargin,


    "q18_total_results" ->
      """SELECT doc_id, CAST(n_chars * 7 AS INTEGER) AS total FROM documents""",


    "q19_sanitize_filename" ->
      """WITH r AS (SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(
        |   source || ': ' || substr(text, 1, 50),
        |   '[<>:"/\\|?*]', '-', 'g'), '[-\s]+', '-', 'g'), '^-+|-+$', '', 'g') AS v
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN substr(v, 1, 100) IS NULL OR substr(v, 1, 100) = '' THEN 'unknown'
        |  ELSE substr(v, 1, 100) END AS fname
        |FROM r""".stripMargin,


    "q20_filename_from_url" ->
      """SELECT doc_id,
        | CASE doc_id % 4
        |  WHEN 0 THEN 'file_' || CAST(doc_id AS VARCHAR) || '.pdf'
        |  WHEN 1 THEN 'report ' || CAST(doc_id AS VARCHAR) || '.XLSX'
        |  WHEN 2 THEN 'x.test'
        |  ELSE CAST(NULL AS VARCHAR) END AS fname
        |FROM documents""".stripMargin,


    "q21_extension_from_url" ->
      """SELECT doc_id,
        | CASE doc_id % 5 WHEN 0 THEN '.pdf' WHEN 1 THEN '.xlsx' WHEN 2 THEN '.xls'
        |  WHEN 3 THEN '.xlsx' ELSE '.pdf' END AS ext
        |FROM documents""".stripMargin,


    "q22_download_path" ->
      """WITH n AS (SELECT doc_id, source,
        | regexp_replace(regexp_replace(regexp_replace(
        |   substr(text, 1, 20),
        |   '[<>:"/\\|?*]', '-', 'g'), '[-\s]+', '-', 'g'), '^-+|-+$', '', 'g') AS name_s
        | FROM documents)
        |SELECT doc_id,
        | 'downloads/life/FY-20' || CAST(15 + doc_id % 5 AS VARCHAR) || '/' || source
        |  || '/UIN-' || CAST(doc_id AS VARCHAR) || '_'
        |  || (CASE WHEN name_s = '' THEN 'unknown' ELSE substr(name_s, 1, 100) END)
        |  || '.pdf' AS path
        |FROM n""".stripMargin,


    "q23_url_hash" ->
      """SELECT doc_id,
        | ('0x' || substr(md5('https://x.test/doc/' || CAST(doc_id AS VARCHAR) || '.pdf'), 1, 15))::BIGINT AS url_hash
        |FROM documents""".stripMargin,


    "q35_parse_life" ->
      """SELECT 'life' AS product_type,
        | CASE WHEN doc_id % 2 = 0 THEN 'Non-Archived' ELSE 'Archived' END AS archive_status,
        | 'FY 20' || CAST(15 + doc_id % 5 AS VARCHAR) AS financial_year,
        | 'Ins ' || source AS insurer,
        | 'Prod ' || CAST(doc_id AS VARCHAR) AS product_name,
        | 'UIN' || CAST(doc_id AS VARCHAR) AS uin,
        | 'TypeA' AS type_of_product,
        | CAST(NULL AS VARCHAR) AS launch_modification_date,
        | CAST(NULL AS VARCHAR) AS closing_withdrawal_date,
        | 'P' AS protection_savings_retirement,
        | 'Par' AS par_nonpar,
        | 'Ind' AS individual_group,
        | CASE WHEN doc_id % 3 = 0 THEN CAST(NULL AS VARCHAR)
        |  ELSE 'rem ' || CAST(doc_id AS VARCHAR) END AS remarks,
        | 'https://example.invalid/documents/doc' || CAST(doc_id AS VARCHAR) || '.pdf' AS document_url,
        | 'Doc ' || CAST(doc_id AS VARCHAR) AS document_filename
        |FROM documents""".stripMargin,


    "q36_parse_health" ->
      """SELECT 'health' AS product_type,
        | CASE WHEN doc_id % 2 = 0 THEN 'Non-Archived' ELSE 'Archived' END AS archive_status,
        | 'FY 20' || CAST(15 + doc_id % 5 AS VARCHAR) AS financial_year,
        | 'Ins ' || source AS insurer,
        | 'HUIN' || CAST(doc_id AS VARCHAR) AS uin,
        | 'HProd ' || CAST(doc_id AS VARCHAR) AS product_name,
        | CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS VARCHAR) ELSE '2020-01-15' END AS date_of_approval,
        | 'TypeH' AS type_of_product,
        | CASE WHEN doc_id % 5 = 0 THEN CAST(NULL AS VARCHAR)
        |  ELSE 'https://example.invalid/documents/h' || CAST(doc_id AS VARCHAR) || '.pdf' END AS document_url,
        | CASE WHEN doc_id % 5 = 0 THEN CAST(NULL AS VARCHAR)
        |  ELSE 'h' || CAST(doc_id AS VARCHAR) || '.pdf' END AS document_filename
        |FROM documents""".stripMargin,


    "q39_count_scan" -> "SELECT count(*) AS n_rows FROM lineitem",


    "q42_r2_meta" ->
      """WITH e AS (SELECT doc_id, source,
        | CASE doc_id % 3 WHEN 0 THEN '.pdf' WHEN 1 THEN '.xlsx' ELSE '.bin' END AS ext
        | FROM documents)
        |SELECT doc_id,
        | 'life/docs/' || source || '/f' || CAST(doc_id AS VARCHAR) || ext AS key,
        | 'https://bucket.r2.dev/life/docs/' || source || '/f' || CAST(doc_id AS VARCHAR) || ext AS public_url,
        | CASE ext WHEN '.pdf' THEN 'application/pdf'
        |  WHEN '.xlsx' THEN 'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet'
        |  ELSE 'application/octet-stream' END AS content_type
        |FROM e""".stripMargin,


    "q43_max_page" ->
      """SELECT doc_id,
        | CAST(greatest(1, doc_id, (doc_id * 2) % 97) AS INTEGER) AS max_page
        |FROM documents""".stripMargin,


    "q44_parse_nonlife" ->
      """SELECT 'nonlife' AS product_type,
        | CASE WHEN doc_id % 2 = 0 THEN 'Non-Archived' ELSE 'Archived' END AS archive_status,
        | CASE WHEN doc_id % 6 = 0 THEN CAST(NULL AS VARCHAR) ELSE CAST(doc_id AS VARCHAR) END AS s_no,
        | 'FY 20' || CAST(15 + doc_id % 5 AS VARCHAR) AS financial_year,
        | 'GIns ' || source AS insurer,
        | 'NProd ' || CAST(doc_id AS VARCHAR) AS product_name,
        | 'Motor' AS type_of_product,
        | 'NL-' || CAST(doc_id AS VARCHAR) AS uin,
        | CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS VARCHAR) ELSE '2021-03-31' END AS date_of_approval,
        | 'https://example.invalid/documents/n' || CAST(doc_id AS VARCHAR) || '.xlsx' AS document_url,
        | 'NL Doc ' || CAST(doc_id AS VARCHAR) AS document_filename
        |FROM documents""".stripMargin,


    "q45_parse_life_list" ->
      """SELECT 'life_list' AS product_type,
        | CASE WHEN doc_id % 2 = 0 THEN 'Non-Archived' ELSE 'Archived' END AS archive_status,
        | 'Product list ' || CAST(doc_id AS VARCHAR) AS short_description,
        | CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS VARCHAR) ELSE '01-01-2024' END AS last_updated,
        | CASE WHEN doc_id % 5 = 0 THEN CAST(NULL AS VARCHAR)
        |  ELSE 'sub ' || CAST(doc_id AS VARCHAR) END AS sub_title,
        | CASE WHEN doc_id % 3 = 0
        |  THEN 'https://example.invalid/files/w' || CAST(doc_id AS VARCHAR) || '.xlsx'
        |  ELSE 'https://example.invalid/documents/l' || CAST(doc_id AS VARCHAR) || '.pdf' END AS document_url,
        | CASE WHEN doc_id % 3 = 0 THEN 'w' || CAST(doc_id AS VARCHAR) || '.xlsx'
        |  ELSE 'List Doc ' || CAST(doc_id AS VARCHAR) END AS document_filename
        |FROM documents""".stripMargin,


    "q47_branch_split" ->
      """SELECT event_type,
        | CAST(sum(CASE WHEN value > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        | CAST(sum(CASE WHEN NOT (value > 0.5) THEN 1 ELSE 0 END) AS BIGINT) AS n_fail
        |FROM events GROUP BY event_type""".stripMargin,


    "q48_total_pages" ->
      """SELECT doc_id,
        | CAST(floor((n_chars * 3 + 59) / 60.0) AS INTEGER) AS total_pages
        |FROM documents""".stripMargin,


    // Three water-fill rounds unrolled: each recomputes (spent, unsat)
    // and grants min(deficit, remaining // unsat) — integer identical
    // to the engine's broadcast-stats loop.
    "q213_crawl_budget" ->
      """WITH p AS (SELECT 'd' || CAST(doc_id % 7 AS VARCHAR) AS domain,
        |  CAST(count(*) * (max(doc_id % 7) + 1) AS BIGINT) AS pending
        | FROM documents GROUP BY 1),
        |r0 AS (SELECT domain, pending, CAST(0 AS BIGINT) AS granted FROM p),
        |s1 AS (SELECT CAST(sum(granted) AS BIGINT) AS spent,
        |  CAST(sum(CASE WHEN pending > granted THEN 1 ELSE 0 END) AS BIGINT) AS un FROM r0),
        |r1 AS (SELECT domain, pending, granted + least(pending - granted,
        |  CASE WHEN un > 0 THEN (600 - spent) // un ELSE 0 END) AS granted
        | FROM r0 CROSS JOIN s1),
        |s2 AS (SELECT CAST(sum(granted) AS BIGINT) AS spent,
        |  CAST(sum(CASE WHEN pending > granted THEN 1 ELSE 0 END) AS BIGINT) AS un FROM r1),
        |r2 AS (SELECT domain, pending, granted + least(pending - granted,
        |  CASE WHEN un > 0 THEN (600 - spent) // un ELSE 0 END) AS granted
        | FROM r1 CROSS JOIN s2),
        |s3 AS (SELECT CAST(sum(granted) AS BIGINT) AS spent,
        |  CAST(sum(CASE WHEN pending > granted THEN 1 ELSE 0 END) AS BIGINT) AS un FROM r2),
        |r3 AS (SELECT domain, pending, granted + least(pending - granted,
        |  CASE WHEN un > 0 THEN (600 - spent) // un ELSE 0 END) AS granted
        | FROM r2 CROSS JOIN s3)
        |SELECT domain, pending, CAST(granted AS BIGINT) AS granted,
        | CAST(pending - granted AS BIGINT) AS starved FROM r3""".stripMargin,


    // The same md5-priority window per domain; row_number is BIGINT in
    // DuckDB, matching the engine's cast.
    "q214_politeness" ->
      """WITH f AS (SELECT doc_id AS url_id,
        |  'd' || CAST(doc_id % 7 AS VARCHAR) AS domain,
        |  CAST(500 + (doc_id % 7) * 250 AS BIGINT) AS delay_ms,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM documents),
        |r AS (SELECT url_id, domain, delay_ms,
        |  row_number() OVER (PARTITION BY domain ORDER BY h, url_id) AS rk FROM f)
        |SELECT url_id, domain, CAST(rk AS BIGINT) AS rk, delay_ms,
        | CAST((rk - 1) * delay_ms AS BIGINT) AS fetch_ms FROM r""".stripMargin,


    // The oracle asserts the EXPECTED date directly (parseable variants
    // must recover the planted date, the FY/junk variants NULL) — a
    // stronger check than mirroring the parse chain.
    "q235_normalize_date" ->
      """WITH b AS (SELECT doc_id,
        |  DATE '2020-01-01' + CAST(doc_id % 1000 AS INTEGER) AS d FROM documents)
        |SELECT doc_id,
        | CASE doc_id % 5
        |  WHEN 0 THEN strftime(d, '%Y-%m-%d')
        |  WHEN 1 THEN strftime(d, '%d-%m-%Y')
        |  WHEN 2 THEN strftime(d, '%Y-%m-%d') || ' ' || strftime(d, '%d-%m-%Y')
        |  WHEN 3 THEN 'FY 2018-19'
        |  ELSE 'garbage 31-02-2022' END AS raw,
        | CASE WHEN doc_id % 5 IN (0, 1, 2) THEN strftime(d, '%Y-%m-%d')
        |  ELSE NULL END AS norm_date
        |FROM b""".stripMargin,


    // y ∈ [2000, 2019], so every accepted variant canonicalizes to
    // CAST(y)||'-'||yy2; junk and the non-consecutive span are NULL.
    "q236_normalize_fy" ->
      """WITH b AS (SELECT doc_id, CAST(2000 + doc_id % 20 AS INTEGER) AS y FROM documents),
        |v AS (SELECT doc_id, y,
        |  lpad(CAST((y + 1) % 100 AS VARCHAR), 2, '0') AS yy2 FROM b)
        |SELECT doc_id,
        | CASE doc_id % 6
        |  WHEN 0 THEN 'FY ' || CAST(y AS VARCHAR) || '-' || yy2
        |  WHEN 1 THEN CAST(y AS VARCHAR) || '-' || CAST(y + 1 AS VARCHAR)
        |  WHEN 2 THEN CAST(y AS VARCHAR) || '-' || yy2
        |  WHEN 3 THEN lpad(CAST(y % 100 AS VARCHAR), 2, '0') || '-' || yy2
        |  WHEN 4 THEN 'GEN4734'
        |  ELSE CAST(y AS VARCHAR) || '-' || lpad(CAST((y + 2) % 100 AS VARCHAR), 2, '0')
        | END AS raw,
        | CASE WHEN doc_id % 6 IN (0, 1, 2, 3)
        |  THEN CAST(y AS VARCHAR) || '-' || yy2 ELSE NULL END AS norm_fy
        |FROM v""".stripMargin,
  )
}
