package graft

import graft.functions.expressions.{CosineSimilarity, ParseHtmlTable}
import graft.functions.{HtmlFunctions, TextFunctions => T}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.graftbridge.ColumnExprBridge.{toColumn, toExpression}

/** Session extensions registering graft's function library for SQL use:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT graft_cosine(a.embedding, b.embedding) FROM ...
  *   SELECT graft_normalize_date(launch_modification_date) FROM ...
  * }}}
  *
  * Two kinds of entries share one registry path:
  *  - `graft_cosine` is a native Catalyst [[CosineSimilarity]] expression
  *    (its own `doGenCode`);
  *  - the text/URL functions are the existing `Column` combinators from
  *    [[graft.functions.TextFunctions]], registered by converting the
  *    registry's child expressions to Columns, applying the combinator,
  *    and converting back (see `org.apache.spark.sql.graftbridge`). The
  *    substitution happens at ANALYSIS time, so SQL callers get the
  *    exact same Catalyst tree — and the same whole-stage codegen — as
  *    Column-API callers; nothing is wrapped in a UDF.
  *
  * [[GraftFunctions.register]] is the no-configuration route (idempotent,
  * used by the Column helpers on first call in a session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach(ext.injectFunction)
}

object GraftFunctions {
  val CosineName = "graft_cosine"

  val ParseTableName = "graft_parse_table"

  /** The one table-GENERATING entry (SURVEY §2.11's SQL surface): 1 or 2
    * args (html[, base_url]); used as `LATERAL VIEW graft_parse_table(h) t`.
    */
  private[graft] val parseTableDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(ParseTableName),
    new ExpressionInfo(classOf[ParseHtmlTable].getName, ParseTableName),
    (children: Seq[Expression]) => children match {
      case Seq(h) => ParseHtmlTable(h,
        org.apache.spark.sql.catalyst.expressions.Literal(HtmlFunctions.DefaultBaseUrl))
      case Seq(h, b) => ParseHtmlTable(h, b)
      case _ => throw new IllegalArgumentException(
        s"$ParseTableName expects 1 or 2 arguments, got ${children.size}")
    })

  private[graft] val cosineDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(CosineName),
    new ExpressionInfo(classOf[CosineSimilarity].getName, CosineName),
    (children: Seq[Expression]) => CosineSimilarity(children(0), children(1)))

  val HilbertName = "graft_hilbert"

  /** `graft_hilbert(x, y, bits)` — the layout curve key for SQL writers
    * (`INSERT ... SELECT ... ORDER BY graft_hilbert(a_cell, b_cell, 5)`).
    * `bits` must be a literal: it sizes the grid at PLAN time (the
    * expression's generated code bakes it in).
    */
  private[graft] val hilbertDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(HilbertName),
    new ExpressionInfo(classOf[graft.functions.expressions.HilbertIndex].getName, HilbertName),
    (children: Seq[Expression]) => children match {
      case Seq(x, y, org.apache.spark.sql.catalyst.expressions.Literal(b, _)) =>
        val bits = b match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"$HilbertName: bits must be an integer literal, got $other")
        }
        graft.functions.expressions.HilbertIndex(
          org.apache.spark.sql.catalyst.expressions.Cast(x, org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.catalyst.expressions.Cast(y, org.apache.spark.sql.types.LongType),
          bits)
      case _ => throw new IllegalArgumentException(
        s"$HilbertName expects (x, y, bits-literal), got ${children.size} arguments")
    })

  /** Registry descriptor for a unary Column combinator. The builder
    * rejects wrong arity with the function name in the message (surfaces
    * as an AnalysisException to SQL callers).
    */
  private def unary(name: String, f: Column => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(GraftFunctions.getClass.getName, name),
    (children: Seq[Expression]) => {
      if (children.size != 1)
        throw new IllegalArgumentException(
          s"$name expects exactly 1 argument, got ${children.size}")
      toExpression(f(toColumn(children.head)))
    })

  /** Registry descriptor for a binary Column combinator (same
    * analysis-time substitution as [[unary]]).
    */
  private def binary(name: String, f: (Column, Column) => Column)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(GraftFunctions.getClass.getName, name),
    (children: Seq[Expression]) => {
      if (children.size != 2)
        throw new IllegalArgumentException(
          s"$name expects exactly 2 arguments, got ${children.size}")
      toExpression(f(toColumn(children(0)), toColumn(children(1))))
    })

  /** Every SQL-callable graft function (SURVEY §2.4 scalar layer +
    * the curation-derived normalizers). One list drives BOTH
    * registration paths: `spark.sql.extensions=graft.GraftExtensions`
    * and the in-session [[register]].
    */
  private[graft] val descriptors: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    cosineDescriptor,
    hilbertDescriptor,
    parseTableDescriptor,
    unary("graft_clean_text", T.cleanText),
    unary("graft_sanitize_filename", T.sanitizeFilename),
    unary("graft_normalize_date", T.normalizeDate),
    unary("graft_normalize_fy", T.normalizeFy),
    unary("graft_url_canon", T.canonicalizeUrl),
    // the rest of the reference's scalar layer (X3/X4/X5/X8/X10/X11/X13)
    unary("graft_filename_from_url", T.filenameFromUrl),
    unary("graft_extension_from_url", T.extensionFromUrl),
    unary("graft_archive_status", (c: Column) => T.archiveStatus(c)),
    unary("graft_total_results", T.totalResults),
    unary("graft_content_type", T.contentType),
    binary("graft_r2_key", T.r2Key),
    binary("graft_public_url", T.publicUrl),
    // curation/hygiene helpers and the portable lineage hash
    unary("graft_fingerprint", T.fingerprint),
    unary("graft_token_count", T.tokenCount),
    unary("graft_redact_pii", T.redactPii),
    unary("graft_url_host", T.urlHost),
    unary("graft_hash60", graft.functions.HashFunctions.portableHash60))

  /** Idempotent per-session registration of the full library. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** Codegen'd cosine similarity column (value-identical to
    * [[graft.functions.VectorFunctions.cosine]]).
    */
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function(CosineName, a, b)
  }
}
