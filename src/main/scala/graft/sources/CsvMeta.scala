package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV metadata source + append sink (SURVEY §2.1 S4/S5, §2.9 K1/K4,
  * §2.4 X14).
  *
  * Reference (/root/reference/src/irdai_scraper/storage/csv_writer.py):
  *  - K1 append sink, header once, fixed column order (:58-96)
  *  - X14 None→"" at the sink (:44-51)
  *  - S5 count scan skipping the header (:98-110)
  *  - K4 clear (:112-126)
  *  and scripts/delta_download.py:41-51 (S4 existing-URL scan).
  *
  * Fidelity note (SURVEY §7.4): the reference appends to ONE file with ONE
  * header. Spark's CSV sink writes a directory of part files with a header
  * per part, so [[append]] writes parts distributed, then merges them into
  * the single target file driver-side with a streamed Hadoop-FS copy (no
  * `collect()` — bytes stream through a fixed buffer regardless of size).
  */
object CsvMeta {

  /** Ordered output columns per product table — the single source of truth
    * (reference declares this twice: config.py:49-125 + pydantic models).
    * Orders are golden-matched to the shipped corpus headers
    * (the data/metadata CSVs; verified by CsvGoldenSpec): no product_type
    * column (implied by the file), local_file_path/r2_url present,
    * `scraped_at` appended by the sink (csv_writer.py:53-54).
    */
  val columns: Map[String, Seq[String]] = Map(
    "life" -> Seq("archive_status", "financial_year", "insurer", "product_name",
      "uin", "type_of_product", "launch_modification_date",
      "closing_withdrawal_date", "protection_savings_retirement", "par_nonpar",
      "individual_group", "remarks", "document_url", "document_filename",
      "local_file_path", "r2_url", "scraped_at"),
    "life_list" -> Seq("archive_status", "short_description", "last_updated",
      "sub_title", "document_url", "document_filename", "local_file_path",
      "r2_url", "scraped_at"),
    "nonlife" -> Seq("s_no", "financial_year", "insurer", "product_name",
      "type_of_product", "uin", "date_of_approval", "document_url",
      "document_filename", "local_file_path", "r2_url", "archive_status",
      "scraped_at"),
    "health" -> Seq("financial_year", "insurer", "uin", "product_name",
      "date_of_approval", "document_url", "document_filename",
      "local_file_path", "r2_url", "type_of_product", "archive_status",
      "scraped_at"))

  /** S4: project the existing-URL set out of a metadata CSV
    * (delta_download.py:41-51); empty/missing file → empty set. The
    * missing-file set is a local relation, so Catalyst knows it is empty
    * and drops an anti-join against it: a first ingest plans no join and
    * no shuffle.
    *
    * The CSV is read with the sink's own all-string schema for
    * `productType`, so no Spark job runs to infer the header;
    * `enforceSchema=false` still checks the file's header against that
    * schema and fails on a mismatch.
    */
  def loadExistingUrls(spark: SparkSession, csvPath: String, productType: String): DataFrame =
    existingUrls(spark, csvPath,
      _.schema(stringSchema(productType)).option("enforceSchema", "false"))

  /** [[loadExistingUrls]] for a CSV of unknown product type: infers the
    * header, which costs a Spark job per call.
    */
  def loadExistingUrls(spark: SparkSession, csvPath: String): DataFrame =
    existingUrls(spark, csvPath, identity)

  private def existingUrls(spark: SparkSession, csvPath: String,
                           reader: DataFrameReader => DataFrameReader): DataFrame = {
    val fs = new Path(csvPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(csvPath)))
      return spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        StructType.fromDDL("document_url string"))
    reader(spark.read.option("header", "true")).csv(csvPath)
      .select("document_url")
      .where(col("document_url").isNotNull && col("document_url") =!= "")
      .distinct()
  }

  /** Every column of `productType` as a string, in sink order. */
  private def stringSchema(productType: String): StructType =
    StructType(columns(productType).map(StructField(_, StringType)))

  /** S5: data-row count of an existing CSV (csv_writer.py:98-110). */
  def count(spark: SparkSession, csvPath: String): Long = {
    val fs = new Path(csvPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(csvPath))) 0L
    else spark.read.option("header", "true").csv(csvPath).count()
  }

  private def streamCopy(fs: org.apache.hadoop.fs.FileSystem, src: Path,
                         out: java.io.OutputStream, buf: Array[Byte]): Unit = {
    val in = fs.open(src)
    try {
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    } finally in.close()
  }

  /** In-place O(batch) append of `parts` onto `target` via `fs.append`.
    * Returns false without touching the file when the FS doesn't support
    * append (Hadoop's checksummed LocalFileSystem; object stores) — a
    * mid-write IOException on a capable FS propagates instead, because
    * silently retrying through another path could duplicate rows.
    */
  private[graft] def appendInPlace(fs: org.apache.hadoop.fs.FileSystem,
                                   target: Path, parts: Seq[Path]): Boolean = {
    val out =
      try fs.append(target)
      catch { case _: UnsupportedOperationException => return false }
    try {
      val buf = new Array[Byte](1 << 16)
      parts.foreach(p => streamCopy(fs, p, out, buf))
    } finally out.close()
    true
  }

  /** K1+X14: append `df` to a single CSV file at `csvPath` with the fixed
    * column order for `productType`; header written only when the file
    * doesn't exist yet; missing columns become empty strings
    * (extrasaction=ignore + None→"" parity, csv_writer.py:44-51, 79-94).
    *
    * Cost model: parts are written distributed, then stitched onto the
    * target. On an append-capable FS (HDFS and most HCFS) the stitch is
    * `fs.append` — O(batch) like the reference's in-place append. Where
    * append is unsupported (Hadoop's checksummed local FS, S3-style
    * stores) it falls back to a streamed copy-merge + atomic rename —
    * O(total history) per batch through one driver thread, but crash-safe
    * (readers see old or new, never half).
    */
  def append(df: DataFrame, productType: String, csvPath: String): Unit = {
    val spark = df.sparkSession
    val cols = columns(productType)
    val ordered = df.select(cols.map(c =>
      if (df.columns.contains(c)) coalesce(col(c).cast("string"), lit("")).as(c)
      else lit("").as(c)): _*)

    val target = new Path(csvPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(target) && fs.getFileStatus(target).getLen > 0

    val partsDir = new Path(csvPath + ".parts.tmp")
    ordered.write.mode(SaveMode.Overwrite)
      .option("header", "false").option("emptyValue", "").option("nullValue", "")
      .csv(partsDir.toString)
    val parts = fs.listStatus(partsDir).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq

    val appended = exists && appendInPlace(fs, target, parts)
    if (!appended) {
      // Copy-merge fallback: stream history + new parts into a temp file,
      // atomic rename over the target.
      val buf = new Array[Byte](1 << 16)
      val merged = new Path(csvPath + ".merged.tmp")
      val out = fs.create(merged, true)
      try {
        if (exists) streamCopy(fs, target, out, buf)
        else out.write((cols.mkString(",") + "\n").getBytes("UTF-8"))
        parts.foreach(p => streamCopy(fs, p, out, buf))
      } finally out.close()
      renameOver(spark.sparkContext.hadoopConfiguration, fs, merged, target)
    }
    fs.delete(partsDir, true)
    ()
  }

  /** Rename `src` over `dst`, preferring the ATOMIC overwrite rename
    * (FileContext + Options.Rename.OVERWRITE — java.nio REPLACE_EXISTING
    * on the local FS, a single namespace op on HDFS). The non-atomic
    * fallback is only used where the FileContext path itself fails —
    * which includes `UnsupportedFileSystemException` (an IOException,
    * NOT an UnsupportedOperationException: thrown when the scheme has
    * no AbstractFileSystem binding, the s3a-style case this fallback
    * exists for). A failed FileContext rename leaves src and dst intact
    * (the op is all-or-nothing), so attempting the fallback after ANY
    * failure is safe — but the failure may also mean src is MISSING or
    * the FS is transiently down, and the fallback must never pay for
    * that with dst (the sink's entire history). See
    * [[renameOverFallback]] for the invariant.
    */
  private[graft] def renameOver(conf: org.apache.hadoop.conf.Configuration,
                                fs: org.apache.hadoop.fs.FileSystem,
                                src: Path, dst: Path): Unit = {
    val (qSrc, qDst) = (fs.makeQualified(src), fs.makeQualified(dst))
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(qDst.toUri, conf)
        .rename(qSrc, qDst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case e @ (_: UnsupportedOperationException | _: java.io.IOException) =>
        renameOverFallback(fs, src, dst, e)
    }
  }

  /** Non-atomic replace with the HISTORY-SURVIVES-EVERYTHING invariant:
    * at every step some complete copy of dst's prior content exists on
    * disk (as `dst` or as `dst.bak`), and the method only reports
    * success once the NEW data is at dst. The earlier form deleted dst
    * before renaming src over it — if the triggering failure was
    * actually a missing/unreadable src or a transient FS error (not
    * the unsupported-scheme case this path targets), the delete
    * destroyed the sink's entire history and the follow-up rename had
    * nothing to install. Now: (1) a missing src rethrows the original
    * failure with dst untouched; (2) dst is set ASIDE to a `.bak`
    * sidecar, never deleted; (3) a failed src→dst rename restores the
    * sidecar; (4) the sidecar is removed only after the new data is in
    * place (best-effort — a stale sidecar is cleared on the next call).
    * Every `fs.rename`/`fs.delete` boolean is checked — a discarded
    * `false` would report success while the data sits under the wrong
    * name.
    */
  private[graft] def renameOverFallback(fs: org.apache.hadoop.fs.FileSystem,
                                        src: Path, dst: Path,
                                        cause: Throwable = null): Unit = {
    if (!fs.exists(src))
      throw new java.io.IOException(
        s"renameOver: atomic rename failed and $src does not exist — " +
          s"$dst left untouched", cause)
    val bak = new Path(dst.toString + ".bak")
    if (fs.exists(bak) && !fs.delete(bak, false))
      throw new java.io.IOException(s"renameOver: could not clear stale $bak")
    val hadDst = fs.exists(dst)
    if (hadDst && !fs.rename(dst, bak))
      throw new java.io.IOException(
        s"renameOver: could not set $dst aside to $bak — history intact at $dst")
    if (!fs.rename(src, dst)) {
      if (hadDst && !fs.rename(bak, dst))
        throw new java.io.IOException(
          s"renameOver: rename $src -> $dst returned false AND the restore " +
            s"failed — history preserved at $bak")
      throw new java.io.IOException(
        s"renameOver: rename $src -> $dst returned false" +
          (if (hadDst) s" — $dst restored from $bak" else ""))
    }
    if (hadDst) { fs.delete(bak, false); () } // best-effort cleanup
  }

  /** K4: clear one metadata CSV (csv_writer.py:112-126). */
  def clear(spark: SparkSession, csvPath: String): Unit = {
    val target = new Path(csvPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(target)) fs.delete(target, false)
    ()
  }
}
