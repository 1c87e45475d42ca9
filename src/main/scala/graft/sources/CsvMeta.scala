package graft.sources

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.state.FileCommit

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
  * per part, so [[append]] formats the rows with Spark's own CSV generator
  * (`to_csv`, the sink's options) and collects them to the driver, which
  * appends them to the end of the single target file in place. The driver
  * holds at most one batch of lines.
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

  /** S4: the existing-URL set of a metadata CSV of unknown product type
    * (delta_download.py:41-51); empty/missing file → empty set. Infers the
    * header, which costs a Spark job per call; the ingest's anti-join
    * reads [[existingUrlRows]] instead.
    */
  def loadExistingUrls(spark: SparkSession, csvPath: String): DataFrame =
    urlRows(spark, csvPath, identity).distinct()

  /** The document URL of each linked row of a metadata CSV: the build side
    * of the ingest's delta anti-join ([[graft.operators.DeltaOps.delta]]),
    * so the URLs are not de-duplicated — a duplicate changes no anti-join
    * result. The missing-file set is a local relation, so Catalyst knows
    * it is empty and drops an anti-join against it: a first ingest plans
    * no join and no shuffle.
    *
    * The CSV is read with the sink's own all-string schema for
    * `productType`, so no Spark job runs to infer the header;
    * `enforceSchema=false` still checks the file's header against that
    * schema and fails on a mismatch.
    */
  def existingUrlRows(spark: SparkSession, csvPath: String, productType: String): DataFrame =
    urlRows(spark, csvPath,
      _.schema(stringSchema(productType)).option("enforceSchema", "false"))

  private def urlRows(spark: SparkSession, csvPath: String,
                      reader: DataFrameReader => DataFrameReader): DataFrame = {
    val fs = new Path(csvPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(csvPath)))
      return spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
        StructType.fromDDL("document_url string"))
    reader(spark.read.option("header", "true")).csv(csvPath)
      .select("document_url")
      .where(col("document_url").isNotNull && col("document_url") =!= "")
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

  /** `<csv>.committed`: the CSV's committed byte length, as decimal text. */
  private def lengthFile(target: Path) = new Path(target.toString + ".committed")

  private def committedLength(fs: FileSystem, target: Path): Option[Long] = {
    val p = lengthFile(target)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8).trim.toLong) finally in.close()
    }
  }

  /** Installs `len` as the committed length: written to a tmp file, then
    * installed over the sidecar by [[FileCommit.install]].
    */
  private def commitLength(fs: FileSystem, target: Path, len: Long): Unit = {
    val tmp = new Path(lengthFile(target).toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(len.toString.getBytes(UTF_8)) finally out.close()
    FileCommit.install(fs, tmp, lengthFile(target))
  }

  /** The FS that changes `target`'s bytes in place: under a checksummed FS
    * (Hadoop's `file:` default) its raw FS, after the `.<name>.crc` sidecar
    * is deleted — a checksum of the old bytes would fail every later read.
    */
  private def inPlaceFs(fs: FileSystem, target: Path): FileSystem = fs match {
    case c: ChecksumFileSystem =>
      val raw = c.getRawFileSystem
      val crc = c.getChecksumFile(target)
      if (raw.exists(crc) && !raw.delete(crc, false))
        throw new IOException(s"could not delete the stale checksum $crc")
      raw
    case _ => fs
  }

  /** Runs the in-place `op` on `target`; an FS without it fails naming the path. */
  private def inPlace[T](fs: FileSystem, target: Path, op: String)(f: FileSystem => T): T =
    try f(inPlaceFs(fs, target)) catch {
      case e: UnsupportedOperationException =>
        throw new IOException(s"cannot $op $target in place: its file system has no $op", e)
    }

  /** Cuts the CSV back to its committed length and returns that length
    * (0 for no CSV). A missing sidecar commits the whole file (a CSV from
    * before the sidecar existed); a committed length of 0 deletes the file.
    */
  private def rollBack(fs: FileSystem, target: Path): Long = {
    val actual = if (fs.exists(target)) fs.getFileStatus(target).getLen else 0L
    committedLength(fs, target) match {
      case None => actual
      case Some(len) if len > actual =>
        throw new IOException(
          s"$target is $actual bytes, shorter than its committed length $len: committed rows are lost")
      case Some(0L) =>
        if (fs.exists(target) && !fs.delete(target, false))
          throw new IOException(s"could not delete the uncommitted $target")
        0L
      case Some(len) =>
        if (len < actual && !inPlace(fs, target, "truncate")(_.truncate(target, len)))
          throw new IOException(s"truncate of $target to $len bytes has not finished")
        len
    }
  }

  /** Drops any bytes of `csvPath` past its committed length: the torn or
    * uncommitted tail of an [[append]] that crashed before its length
    * commit. Run before the existing URLs are read, so the rows of that
    * tail are derived and appended again.
    */
  def truncateToCommitted(spark: SparkSession, csvPath: String): Unit = {
    val target = new Path(csvPath)
    rollBack(target.getFileSystem(spark.sparkContext.hadoopConfiguration), target)
    ()
  }

  /** K1+X14: append `df` to a single CSV file at `csvPath` with the fixed
    * column order for `productType`; header written only when the file
    * doesn't exist yet; missing columns become empty strings
    * (extrasaction=ignore + None→"" parity, csv_writer.py:44-51, 79-94).
    *
    * One path, O(batch), with no Spark write job: each row is formatted by
    * `to_csv` — the CSV writer's own generator and options, so the bytes
    * are those `df.write.csv` would write — and the lines are collected
    * and written onto the end of the CSV in place, through the raw FS under
    * a checksummed one, else the FS's own `append`. Over a local relation
    * (the ingest's collected batch) Catalyst folds the formatting, so the
    * collect runs no Spark job. The CSV's new byte length is then
    * committed to the `<csv>.committed` sidecar by an atomic rename. Bytes
    * past the committed length are not part of the CSV: every append, and
    * [[truncateToCommitted]], cuts them off first.
    *
    * Crash windows:
    *  - while the lines are written, or before the length commit: the tail
    *    past the committed length is dropped by the next run, whose delta
    *    derives those rows again (`Jobs.runPipeline` marks their URLs
    *    completed only after this returns);
    *  - a new CSV commits length 0 before its first byte, so a crash while
    *    it is written deletes it on the next run.
    * An FS that can neither append nor truncate fails here, naming the
    * path. A committed length larger than the file fails loudly.
    */
  def append(df: DataFrame, productType: String, csvPath: String): Unit = {
    val spark = df.sparkSession
    val cols = columns(productType)
    // X14: a null or empty value is written as nothing
    val lines = df.select(to_csv(struct(cols.map(c =>
        if (df.columns.contains(c)) coalesce(col(c).cast("string"), lit("")).as(c)
        else lit("").as(c)): _*), java.util.Map.of("emptyValue", "", "nullValue", "")))
      .as(Encoders.STRING).collect()

    val target = new Path(csvPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = rollBack(fs, target)
    if (!fs.exists(lengthFile(target))) commitLength(fs, target, base)
    val out =
      if (base == 0) inPlaceFs(fs, target).create(target, true)
      else inPlace(fs, target, "append")(_.append(target))
    try {
      if (base == 0) out.write((cols.mkString(",") + "\n").getBytes(UTF_8))
      lines.foreach(l => out.write((l + "\n").getBytes(UTF_8)))
    } finally out.close()
    commitLength(fs, target, fs.getFileStatus(target).getLen)
  }

  /** K4: clear one metadata CSV (csv_writer.py:112-126). */
  def clear(spark: SparkSession, csvPath: String): Unit = {
    val target = new Path(csvPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the checksummed FS deletes a file's `.crc` with it
    Seq(target, lengthFile(target)).foreach(p => if (fs.exists(p)) fs.delete(p, false))
  }
}
