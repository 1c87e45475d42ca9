package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All tables are plain parquet files; reading them through `spark.read`
  * keeps column pruning and filter pushdown available to Catalyst — every
  * query in [[SparkEntry]] should show `PushedFilters` / a narrow
  * `ReadSchema` in `.explain("formatted")` when it filters/projects.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    // rejects outright (PARQUET_TYPE_ILLEGAL) — read nanos as long and
    // convert back to a timestamp column in the events loader below.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** What a memoized schema was resolved from: every file under the path
    * (name, length, modification time) and the inference confs. A table
    * rewritten at the same path, or read under different confs, gets a
    * new stamp and is resolved again.
    */
  private final case class Stamp(files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Stamp, StructType)]()

  /** The schema `spark.read.parquet(path)` would infer, resolved once per
    * stamp. Inference runs a footer-reading Spark job on every call;
    * reading with the memoized schema instead costs only the driver-side
    * file listing Spark does anyway. Safe for concurrent driver threads:
    * `compute` runs at most one resolution per path at a time.
    */
  private[graft] def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq.newBuilder[(String, Long, Long)]
    // a missing table fails with Spark's own error, as an unmemoized read does
    val it = try fs.listFiles(p, true)
      catch { case _: java.io.FileNotFoundException => return spark.read.parquet(path).schema }
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val stamp = Stamp(files.result(), inferenceConfs.map(spark.conf.getOption))
    schemas.compute(fs.makeQualified(p).toString, (_, memo) =>
      if (memo != null && memo._1 == stamp) memo
      else (stamp, spark.read.parquet(path).schema))._2
  }

  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  /** events.ts has shipped in two physical encodings across testdata
    * generations: TIMESTAMP(NANOS) (read as long nanoseconds via the
    * nanosAsLong conf in [[load]]) and plain timestamp[us] (read as
    * TIMESTAMP_NTZ). Normalize both to the same session-zone
    * TimestampType column (microsecond precision, UTC session zone set by
    * every entrypoint) so downstream queries and the DuckDB oracle —
    * which reads either encoding as a naive timestamp — see identical
    * wall-clock values regardless of generation. The `ts` probe reads
    * the memoized schema of [[load]], so it runs no Spark job.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    val df = load(spark, d, "events")
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
