package graft

import java.nio.file.{Files, Paths}

import graft.sources.CsvMeta
import org.apache.hadoop.fs.Path

import scala.jdk.CollectionConverters._

/** K1 sink files: the existing-URL scan, the in-place append over a CSV
  * with a checksum sidecar, and clear. The crash windows of the append
  * are in IngestCrashSpec.
  */
class CsvAppendSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("csvappend").toString

  test("loadExistingUrls reads with the product type's schema; a foreign header fails") {
    val csv = tmpDir() + "/health_products.csv"
    CsvMeta.append(Seq(("u1", "P1"), ("", "P2"), ("u1", "P3")).toDF("document_url", "product_name"),
      "health", csv)
    val urls = CsvMeta.loadExistingUrls(spark, csv, "health")
      .collect().map(_.getString(0)).toSeq
    assert(urls == Seq("u1"))
    // the health header does not match the life columns: the read fails
    // instead of projecting the wrong column
    val err = intercept[Exception](CsvMeta.loadExistingUrls(spark, csv, "life").collect())
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => Option(e.getMessage).exists(_.toLowerCase.contains("header"))), err.toString)
  }

  test("a missing CSV's URL set is empty and the delta anti-join against it is dropped") {
    val existing = CsvMeta.loadExistingUrls(spark, tmpDir() + "/life_products.csv", "life")
    assert(existing.isEmpty)
    val current = Seq(("u1", "P1"), (null: String, "P2")).toDF("document_url", "product_name")
    val fresh = graft.operators.DeltaOps.delta(current, existing, "document_url")
    val plan = fresh.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), s"first ingest must not join:\n$plan")
    assert(fresh.count() == 2)
  }

  test("a CSV written through the checksummed FS is appended in place and reads back") {
    val dir = tmpDir()
    val csv = s"$dir/health_products.csv"
    val target = new Path(s"file:$csv")
    // Hadoop's default local FS writes a `.health_products.csv.crc` beside
    // the file; a checksum of the old bytes fails every read after the
    // in-place append unless the append removes it
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cols = CsvMeta.columns("health")
    val out = fs.create(target)
    out.write((cols.mkString(",") + "\n" +
      cols.map(c => if (c == "document_url") "u1" else "").mkString(",") + "\n").getBytes("UTF-8"))
    out.close()
    val crc = Paths.get(dir, ".health_products.csv.crc")
    assert(Files.exists(crc))

    CsvMeta.append(Seq(("u2", "P2")).toDF("document_url", "product_name"), "health", csv)
    assert(!Files.exists(crc))
    assert(spark.read.option("header", "true").csv(csv).count() == 2)
    assert(CsvMeta.loadExistingUrls(spark, csv, "health").as[String].collect().sorted.toSeq ==
      Seq("u1", "u2"))
    assert(CsvMeta.loadExistingUrls(spark, csv).as[String].collect().sorted.toSeq == Seq("u1", "u2"))
  }

  test("clear removes the CSV, its checksum and its committed length") {
    val dir = tmpDir()
    val csv = s"$dir/life_products.csv"
    CsvMeta.append(Seq(("u1", "P1")).toDF("document_url", "product_name"), "life", csv)
    assert(Files.exists(Paths.get(s"$csv.committed")))
    CsvMeta.clear(spark, csv)
    assert(Files.list(Paths.get(dir)).iterator.asScala.map(_.getFileName.toString).toSeq.isEmpty)
    // the next append starts a new CSV, header first
    CsvMeta.append(Seq(("u2", "P2")).toDF("document_url", "product_name"), "life", csv)
    val ui = CsvMeta.columns("life").indexOf("document_url")
    assert(Files.readAllLines(Paths.get(csv)).asScala.toSeq.map(_.split(",", -1)(ui)) ==
      Seq("document_url", "u2"))
  }
}
