package graft.sources

import graft.functions.{TextFunctions => T}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Object-store sink behind the Hadoop FileSystem API (SURVEY §2.9 K3).
  *
  * Reference (/root/reference/src/irdai_scraper/storage/r2_uploader.py):
  * upload with content-type (:65-89), post-upload existence verification
  * (:86-87), public-URL derivation (:53-59), delete (:110-125) and
  * paginated list (:127-158).
  *
  * The Hadoop FS abstraction makes the same code run against `file://` in
  * tests and `s3a://bucket` (or any object store with an FS connector) in
  * production — upload parallelism comes from `foreachPartition`-style
  * distribution inside `mapPartitions`, one FileSystem handle per task.
  *
  * `graft.app.Jobs` does not call this sink yet, so the CSV's `r2_url`
  * column stays empty; ReachabilitySpec allowlists it until the jobs wire
  * it in (ROADMAP item 5).
  */
object ObjectStoreSink {

  case class UploadResult(local_path: String, key: String, public_url: String,
                          content_type: String, verified: Boolean, error: String)

  /** Upload each (local_path, key) row to `storeRoot/key`; returns one
    * result row per upload with HEAD-style verification (fs.exists).
    */
  def upload(files: DataFrame, storeRoot: String, publicHost: String): Dataset[UploadResult] = {
    val spark = files.sparkSession
    import spark.implicits._
    implicit val enc = Encoders.product[UploadResult]
    val withMeta = files.select(
      col("local_path").cast("string"),
      col("key").cast("string"),
      T.publicUrl(lit(publicHost), col("key")).as("public_url"),
      T.contentType(col("key")).as("content_type"))
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    withMeta.as[(String, String, String, String)].mapPartitions { it =>
      val conf = confBc.value.value
      val root = new Path(storeRoot)
      val fs = root.getFileSystem(conf)
      it.map { case (local, key, url, ctype) =>
        try {
          val dst = new Path(root, key)
          if (dst.getParent != null) fs.mkdirs(dst.getParent)
          val out = fs.create(dst, true)
          try java.nio.file.Files.copy(java.nio.file.Paths.get(local), out)
          finally out.close()
          UploadResult(local, key, url, ctype, verified = fs.exists(dst), null)
        } catch {
          case e: Exception =>
            UploadResult(local, key, url, ctype, verified = false,
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
        }
      }
    }
  }

  /** K3 upload_fileobj parity (r2_uploader.py:110-125 region): upload
    * in-memory byte payloads — (content, key) rows — without a local-file
    * staging step. Same verification and error-isolation contract as
    * [[upload]].
    */
  def uploadBytes(blobs: DataFrame, storeRoot: String, publicHost: String): Dataset[UploadResult] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    implicit val enc = Encoders.product[UploadResult]
    val withMeta = blobs.select(
      col("content").cast("binary"),
      col("key").cast("string"),
      T.publicUrl(lit(publicHost), col("key")).as("public_url"),
      T.contentType(col("key")).as("content_type"))
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    withMeta.as[(Array[Byte], String, String, String)].mapPartitions { it =>
      val conf = confBc.value.value
      val root = new Path(storeRoot)
      val fs = root.getFileSystem(conf)
      it.map { case (content, key, url, ctype) =>
        try {
          val dst = new Path(root, key)
          if (dst.getParent != null) fs.mkdirs(dst.getParent)
          val out = fs.create(dst, true)
          try out.write(content)
          finally out.close()
          UploadResult(null, key, url, ctype, verified = fs.exists(dst), null)
        } catch {
          case e: Exception =>
            UploadResult(null, key, url, ctype, verified = false,
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
        }
      }
    }
  }

  /** K3 delete (r2_uploader.py:110-125). */
  def delete(spark: org.apache.spark.sql.SparkSession, storeRoot: String, key: String): Boolean = {
    val p = new Path(new Path(storeRoot), key)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.delete(p, false)
  }

  /** K3 list with prefix (r2_uploader.py:127-158) — returns keys. */
  def list(spark: org.apache.spark.sql.SparkSession, storeRoot: String,
           prefix: String = ""): Seq[String] = {
    val root = new Path(storeRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val it = fs.listFiles(root, true)
    val rootUri = root.toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val key = it.next().getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      if (key.startsWith(prefix)) out += key
    }
    out.toSeq.sorted
  }
}
