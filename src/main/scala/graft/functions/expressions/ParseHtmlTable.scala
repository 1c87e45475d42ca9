package graft.functions.expressions

import graft.functions.HtmlFunctions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL-facing page→rows explosion (SURVEY §2.11's optional Generator
  * surface): the G1–G4 per-row body [[graft.functions.HtmlFunctions.parseRows]]
  * that [[graft.operators.ParsePipeline.explodeRows]] also runs — locate
  * the data table, split rows/cells, pre-extract the document link from
  * the last and second-to-last cells, isolate per-row parse errors — as a
  * native Catalyst [[Generator]], so a SQL user can run the whole parse
  * with `LATERAL VIEW graft_parse_table(html, base_url) t`.
  *
  * One output row per parsed table row:
  * (row_idx, row_class, cells, doc_url_last, doc_filename_last,
  * doc_url_prev, doc_filename_prev) — the [[graft.operators.ParsePipeline.RawRow]]
  * shape minus the caller's own carry-along columns, which LATERAL VIEW
  * keeps in scope anyway. NULL html produces no rows (the reference's
  * missing-page tolerance); a row whose extraction throws is dropped
  * (base.py:104-110 error isolation), identical to the Dataset surface —
  * GraftSqlFunctionsSpec holds the two surfaces to the same output.
  *
  * CodegenFallback is deliberate: the regex/string kernel dominates cost
  * and cannot be expressed as Java codegen; the generator sits at the
  * scrape-parse stage where rows are page-scale, never 100 TB-scale.
  */
case class ParseHtmlTable(html: Expression, baseUrl: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(html, baseUrl)

  override def elementSchema: StructType = StructType(Seq(
    StructField("row_idx", IntegerType, nullable = false),
    StructField("row_class", StringType, nullable = false),
    StructField("cells", ArrayType(StringType, containsNull = false)),
    StructField("doc_url_last", StringType),
    StructField("doc_filename_last", StringType),
    StructField("doc_url_prev", StringType),
    StructField("doc_filename_prev", StringType)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (html.dataType == StringType && baseUrl.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_parse_table expects (html STRING[, base_url STRING]), got " +
        s"(${html.dataType.simpleString}, ${baseUrl.dataType.simpleString})")

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def utf8OrNull(s: Option[String]): AnyRef =
    s.map(UTF8String.fromString).orNull

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val h = html.eval(input)
    if (h == null) Iterator.empty
    else {
      val base = Option(baseUrl.eval(input)).map(_.toString)
        .getOrElse(HtmlFunctions.DefaultBaseUrl)
      HtmlFunctions.parseRows(h.toString, base).map(r => InternalRow(
        r.rowIdx,
        utf8(r.rowClass),
        new GenericArrayData(r.cells.map(utf8)),
        utf8OrNull(r.docUrlLast), utf8OrNull(r.docFilenameLast),
        utf8OrNull(r.docUrlPrev), utf8OrNull(r.docFilenamePrev)))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ParseHtmlTable =
    copy(html = newChildren(0), baseUrl = newChildren(1))
}
