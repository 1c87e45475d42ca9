package graft.state

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incremental-pipeline state (SURVEY §2.10 T2-T4, §2.6 A3/A4), persisted
  * as three small parquet tables under one root directory:
  *
  *  - `sessions/`  — per product type: status, last_completed_page,
  *                   total_pages, total_products  (reference:
  *                   storage/state.py:92-117, models.py:92-99)
  *  - `completed/` — the exactly-once-per-key URL set (state.py:133-140),
  *                   append-only: one file per batch of new URLs
  *  - `failed/`    — dead-letter queue: url, error, retries, last_attempt
  *                   (state.py:142-167, models.py:102-108)
  *
  * Design departures from the reference, on purpose (state.py:49-83
  * rewrites the FULL state JSON after every row mutation — its scalability
  * defect): mutations here are BATCH-level DataFrame writes. Each table is
  * tiny relative to the corpus (thousands of rows per million documents),
  * so Catalyst broadcast-joins them against the big side automatically —
  * exactly how the reference uses its in-memory sets.
  *
  * Every commit installs one file by one atomic rename
  * ([[FileCommit.install]], the same step that commits the metadata
  * CSV's length). Spark writes the table's new content through
  * `coalesce(1)` as one file under `<table>.tmp`; that file is installed
  * into `<table>/`, and the tmp is dropped. `sessions` and `failed` hold
  * exactly one data file, and the new one is installed over it, so a
  * reader sees the old table or the new one. `completed` only grows: its
  * batch file is installed beside the existing ones under its own unique
  * name. A tmp left by a crash before its install is ignored by reads and
  * replaced by the next commit; a missing or empty table directory reads
  * as empty.
  */
class StateStore(spark: SparkSession, root: String) {

  private def path(table: String) = s"$root/$table"

  private val sessionSchema = "product_type string, status string, " +
    "last_completed_page int, total_pages int, total_products long"
  private val keySchema = "url string"
  private val failedSchema = "url string, error string, retries int, last_attempt timestamp"

  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readOrEmpty(table: String, schema: String): DataFrame = {
    val st = StructType.fromDDL(schema)
    if (fs.exists(new Path(path(table)))) spark.read.schema(st).parquet(path(table))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st)
  }

  private def dataFiles(dir: Path): Seq[Path] =
    fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("part-")).toSeq

  /** Writes `df` as one file under `<table>.tmp` and installs it into
    * `<table>/`: over the table's one data file when `replace`, else
    * beside the table's files under its own name.
    */
  private def commit(df: DataFrame, table: String, replace: Boolean = true): Unit = {
    val (tmp, dir) = (new Path(path(table) + ".tmp"), new Path(path(table)))
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val part = dataFiles(tmp).head
    fs.mkdirs(dir)
    val existing = if (replace) dataFiles(dir) else Nil
    require(existing.size <= 1, s"state table $dir holds ${existing.size} data files, not one")
    FileCommit.install(fs, part, existing.headOption.getOrElse(new Path(dir, part.getName)))
    fs.delete(tmp, true)
  }

  // ---- T2: session offsets (resume support) ----

  def sessions: DataFrame = readOrEmpty("sessions", sessionSchema)

  /** Start (or restart) a session row for a product type
    * (state.py:99-106). The row is built with the typed API, like
    * [[summary]]'s, so the product type never passes through a SQL parser.
    */
  def startSession(productType: String, totalPages: Int): Unit = {
    import spark.implicits._
    val others = sessions.where(col("product_type") =!= productType)
    val existing = sessions.where(col("product_type") === productType)
      .select("last_completed_page", "total_products").collect().headOption
    val row = Seq((productType, "in_progress", existing.map(_.getInt(0)).getOrElse(0),
        totalPages, existing.map(_.getLong(1)).getOrElse(0L)))
      .toDF("product_type", "status", "last_completed_page", "total_pages", "total_products")
    commit(others.unionByName(row), "sessions")
  }

  /** The page to resume from: last_completed_page + 1 (state.py:108-117,
    * cli.py:76-77).
    */
  def resumePage(productType: String): Int =
    sessions.where(col("product_type") === productType)
      .select("last_completed_page").collect().headOption.map(_.getInt(0) + 1).getOrElse(1)

  /** Per-batch progress commit (replaces the reference's per-page full
    * rewrite, state.py:108-113).
    */
  def updateProgress(productType: String, page: Int, newProducts: Long): Unit = {
    val updated = sessions.withColumn("last_completed_page",
        when(col("product_type") === productType, greatest(col("last_completed_page"), lit(page)))
          .otherwise(col("last_completed_page")))
      .withColumn("total_products",
        when(col("product_type") === productType, col("total_products") + newProducts)
          .otherwise(col("total_products")))
    commit(updated, "sessions")
  }

  def completeSession(productType: String): Unit =
    commit(sessions.withColumn("status",
      when(col("product_type") === productType, lit("completed")).otherwise(col("status"))),
      "sessions")

  /** T2 reset: drop one session (or all state, reference cli.py:464-502). */
  def resetSession(productType: String): Unit =
    commit(sessions.where(col("product_type") =!= productType), "sessions")

  // ---- T3: completed-key set (exactly-once-per-URL) ----

  def completed: DataFrame = readOrEmpty("completed", keySchema)

  /** Idempotent batch insert (U3; state.py:137-140 set-add, batched),
    * append-only: the batch's distinct URLs not yet in the set are written
    * as one new file beside the table's existing files, which are never
    * rewritten. The table stays a set, and a call writes O(batch) bytes.
    *
    * The file is installed by [[commit]], not by Spark's own Append into
    * `completed/`: that would make the cache manager drop and re-plan
    * every persisted frame that scans the table — the fetch results,
    * through [[filterPending]] — so a later read of those results would
    * fetch the documents again.
    */
  def markCompleted(urls: DataFrame): Unit =
    // the batch is small: one task dedupes it with no shuffle
    commit(urls.select(col(urls.columns.head).as("url")).coalesce(1).distinct()
      .join(completed, Seq("url"), "left_anti"), "completed", replace = false)

  /** J2 guard: tasks not yet completed (cli.py:101-103). */
  def filterPending(tasks: DataFrame, urlCol: String): DataFrame =
    tasks.join(completed.withColumnRenamed("url", urlCol), Seq(urlCol), "left_anti")

  // ---- T4: dead-letter queue + replay ----

  def failed: DataFrame = readOrEmpty("failed", failedSchema)

  /** Record failures; a url already in the DLQ gets retries+1 and the new
    * error (state.py:142-156).
    */
  def markFailed(failures: DataFrame): Unit = {
    val incoming = failures.select(
      col("url").cast("string"),
      col("error").cast("string"),
      current_timestamp().as("last_attempt"))
    val prior = failed.select(col("url"), col("retries").as("prior_retries"))
    val merged = incoming.join(prior, Seq("url"), "left")
      .select(col("url"), col("error"),
        (coalesce(col("prior_retries"), lit(0)) + 1).as("retries"),
        col("last_attempt"))
    commit(failed.join(incoming.select("url"), Seq("url"), "left_anti")
      .unionByName(merged), "failed")
  }

  /** J4: remove urls that have since succeeded (state.py:162-167). */
  def clearSucceeded(succeededUrls: DataFrame): Unit =
    commit(failed.join(
      succeededUrls.select(col(succeededUrls.columns.head).as("url")),
      Seq("url"), "left_anti"), "failed")

  // ---- A3: state summary ----

  /** Per-type session summary + global completed/failed counts
    * (state.py:181-195, rendered cli.py:382-413). The two driver-side
    * counts become a literal one-row frame via the typed API (not SQL
    * string interpolation — values never round-trip through a parser).
    */
  def summary: DataFrame = {
    import spark.implicits._
    val counts = Seq((completed.count(), failed.count()))
      .toDF("completed_downloads", "failed_downloads")
    sessions.crossJoin(counts)
  }
}
