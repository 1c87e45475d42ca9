package graft.operators

import graft.functions.HtmlFunctions
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Page-HTML → typed product rows: the reference's core ingest path.
  *
  * Reference (/root/reference/src/irdai_scraper):
  *  - G1-G3 table/row/cell extraction: scraper/parser.py:16-38
  *  - G4 per-row parse with error isolation: scraper/base.py:93-112
  *  - P1 life projection:      scraper/life.py:18-66
  *  - P2 life_list projection: scraper/life_list.py:18-50
  *  - P3 nonlife projection:   scraper/nonlife.py:18-58
  *  - P4 health projection:    scraper/health.py:18-59
  *  - F1 arity guard, F2 non-empty key, F4 ""→NULL: life.py:23-29 etc.
  *
  * Execution shape: the only non-relational step is the `flatMap` that
  * explodes one page blob into N cell-array rows (a classic generator /
  * UDTF). Everything downstream is pure Catalyst — `element_at`, `nullif`,
  * `size` filters — so column pruning and predicate pushdown still apply to
  * the projected output, and the flatMap parallelizes per page with no
  * shuffle at any corpus size.
  */
object ParsePipeline {

  /** One fetched page. */
  case class PageHtml(productType: String, page: Int, html: String)

  /** One extracted table row: cleaned cell texts plus the document links
    * pre-extracted from the last and second-to-last cells (covering every
    * per-type rule), so projections stay pure Catalyst.
    */
  case class RawRow(
      productType: String, page: Int, rowIdx: Int, rowClass: String,
      cells: Seq[String],
      docUrlLast: Option[String], docFilenameLast: Option[String],
      docUrlPrev: Option[String], docFilenamePrev: Option[String])

  /** G1-G4: pages → raw rows, one [[HtmlFunctions.parseRows]] per page. A
    * throwing row is dropped (error isolation, base.py:104-110); a page
    * with no recognizable table yields no rows (base.py:97-99).
    *
    * NOTE: this stays a typed `flatMap`, not a `Generate` over the
    * `graft_parse_table` generator. The generator gives identical rows but
    * measured slower: on the `ingest_monthly` benchmark catalog (seed 7)
    * at local[4] on a 4-core host, its warm parse was 13–18% slower in 3 of
    * 4 alternating JVM pairs, and its cold first pass no faster.
    * `Generate` over a `CodegenFallback` generator runs outside
    * whole-stage codegen, and each page's HTML is serialized into an
    * `UnsafeRow` and decoded again.
    */
  def explodeRows(pages: Dataset[PageHtml]): Dataset[RawRow] = {
    implicit val enc = Encoders.product[RawRow]
    pages.flatMap { p =>
      HtmlFunctions.parseRows(p.html, HtmlFunctions.DefaultBaseUrl).map(r =>
        RawRow(p.productType, p.page, r.rowIdx, r.rowClass, r.cells,
          r.docUrlLast, r.docFilenameLast, r.docUrlPrev, r.docFilenamePrev))
    }
  }

  private def cell(i: Int) = element_at(col("cells"), i + 1) // 0-indexed like the reference
  private def optCell(i: Int) = nullif(cell(i), lit(""))     // F4: "" → NULL

  /** P1+F1+F2: life — 14 cells (checkbox at 0 skipped), key = UIN at 5. */
  def life(raw: DataFrame): DataFrame =
    raw
      .where(size(col("cells")) >= 13)
      .where(cell(5) =!= "")
      .select(
        lit("life").as("product_type"),
        cell(1).as("archive_status"),
        cell(2).as("financial_year"),
        cell(3).as("insurer"),
        cell(4).as("product_name"),
        cell(5).as("uin"),
        cell(6).as("type_of_product"),
        optCell(7).as("launch_modification_date"),
        optCell(8).as("closing_withdrawal_date"),
        optCell(9).as("protection_savings_retirement"),
        optCell(10).as("par_nonpar"),
        optCell(11).as("individual_group"),
        optCell(12).as("remarks"),
        col("docUrlLast").as("document_url"),
        col("docFilenameLast").as("document_filename"))

  /** P2+F1+F2: life_list — 6 cells, key = short_description at 2. */
  def lifeList(raw: DataFrame): DataFrame =
    raw
      .where(size(col("cells")) >= 5)
      .where(cell(2) =!= "")
      .select(
        lit("life_list").as("product_type"),
        cell(1).as("archive_status"),
        cell(2).as("short_description"),
        optCell(3).as("last_updated"),
        optCell(4).as("sub_title"),
        col("docUrlLast").as("document_url"),
        col("docFilenameLast").as("document_filename"))

  /** P3+F1+F2: nonlife — 10 cells, key = UIN at 7. */
  def nonlife(raw: DataFrame): DataFrame =
    raw
      .where(size(col("cells")) >= 9)
      .where(cell(7) =!= "")
      .select(
        lit("nonlife").as("product_type"),
        cell(1).as("archive_status"),
        optCell(2).as("s_no"),
        cell(3).as("financial_year"),
        cell(4).as("insurer"),
        cell(5).as("product_name"),
        cell(6).as("type_of_product"),
        cell(7).as("uin"),
        optCell(8).as("date_of_approval"),
        col("docUrlLast").as("document_url"),
        col("docFilenameLast").as("document_filename"))

  /** P4+F1+F2: health — 9 cells, key = UIN at 4; the document link tries
    * the second-to-last cell first, then the last (health.py:34-38);
    * type_of_product falls back to "" when the row has only 8 cells.
    */
  def health(raw: DataFrame): DataFrame =
    raw
      .where(size(col("cells")) >= 8)
      .where(cell(4) =!= "")
      .select(
        lit("health").as("product_type"),
        cell(1).as("archive_status"),
        cell(2).as("financial_year"),
        cell(3).as("insurer"),
        cell(4).as("uin"),
        cell(5).as("product_name"),
        optCell(6).as("date_of_approval"),
        when(size(col("cells")) > 8, cell(8)).otherwise(lit("")).as("type_of_product"),
        when(col("docUrlPrev").isNotNull, col("docUrlPrev"))
          .otherwise(col("docUrlLast")).as("document_url"),
        when(col("docUrlPrev").isNotNull, col("docFilenamePrev"))
          .otherwise(col("docFilenameLast")).as("document_filename"))

  /** X12: stamp the ingest timestamp (models.py:19) as a column of a plan.
    * `current_timestamp()` folds to a literal per query, which whole-stage
    * codegen inlines, so a stage under it compiles anew on every run; the
    * ingest job (`graft.app.Jobs.runPipeline`) stamps its collected rows on
    * the driver instead.
    */
  def withScrapedAt(df: DataFrame): DataFrame =
    df.withColumn("scraped_at", current_timestamp())

  /** SURVEY §1.5's normalized derived layer: for every raw-string date /
    * financial-year column present in `df`, add a `<col>_norm` sibling —
    * `DateType` via [[graft.functions.TextFunctions.normalizeDate]]
    * (multi-format + the corpus's double-stamped form), canonical
    * `YYYY-YY` via [[graft.functions.TextFunctions.normalizeFy]]. The
    * reference deliberately keeps these columns unparsed
    * (models.py:30-31, 55, 65) because the scraped formats are
    * inconsistent; this derives the analyst-facing typed columns WITHOUT
    * touching ingest parity — raw strings stay, un-normalizable values
    * yield NULL siblings. Pure projection: shuffle-free, codegen'd.
    */
  def withNormalizedDates(df: DataFrame): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val dateCols = Seq("launch_modification_date", "closing_withdrawal_date",
      "date_of_approval", "last_updated").filter(df.columns.contains)
    val fyCols = Seq("financial_year").filter(df.columns.contains)
    val withDates = dateCols.foldLeft(df)((d, c) =>
      d.withColumn(s"${c}_norm", T.normalizeDate(col(c))))
    fyCols.foldLeft(withDates)((d, c) =>
      d.withColumn(s"${c}_norm", T.normalizeFy(col(c))))
  }

  /** Convenience: full page→product pipeline for one product type. */
  def parse(spark: SparkSession, pages: Dataset[PageHtml], productType: String): DataFrame = {
    val raw = explodeRows(pages).toDF()
    productType match {
      case "life"      => life(raw)
      case "life_list" => lifeList(raw)
      case "nonlife"   => nonlife(raw)
      case "health"    => health(raw)
      case other => throw new IllegalArgumentException(s"unknown product type: $other")
    }
  }
}
