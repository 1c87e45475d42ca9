package graft

import java.nio.file.{Files, Paths}

import graft.sources.CsvMeta
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row

import scala.jdk.CollectionConverters._

/** K1 sink files: the existing-URL scan, the in-place append over a CSV
  * with a checksum sidecar, and clear. The crash windows of the append
  * are in IngestCrashSpec.
  */
class CsvAppendSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("csvappend").toString

  test("existingUrlRows reads with the product type's schema; a foreign header fails") {
    val csv = tmpDir() + "/health_products.csv"
    CsvMeta.append(Seq(("u1", "P1"), ("", "P2"), ("u1", "P3")).toDF("document_url", "product_name"),
      "health", csv)
    val urls = CsvMeta.existingUrlRows(spark, csv, "health")
      .collect().map(_.getString(0)).toSeq
    // one row per linked CSV row: the anti-join's build side is not de-duplicated
    assert(urls == Seq("u1", "u1"))
    // the health header does not match the life columns: the read fails
    // instead of projecting the wrong column
    val err = intercept[Exception](CsvMeta.existingUrlRows(spark, csv, "life").collect())
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => Option(e.getMessage).exists(_.toLowerCase.contains("header"))), err.toString)
  }

  test("a missing CSV's URL set is empty and the delta anti-join against it is dropped") {
    val existing = CsvMeta.existingUrlRows(spark, tmpDir() + "/life_products.csv", "life")
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
    assert(CsvMeta.existingUrlRows(spark, csv, "health").as[String].collect().sorted.toSeq ==
      Seq("u1", "u2"))
    assert(CsvMeta.loadExistingUrls(spark, csv).as[String].collect().sorted.toSeq == Seq("u1", "u2"))
  }

  test("append adds, byte for byte, what Spark's CSV writer writes for the same rows") {
    val dir = tmpDir()
    val csv = s"$dir/health_products.csv"
    val cols = CsvMeta.columns("health")
    val values = Seq("a,b", "say \"hi\"", "\"", "back\\slash\\", "line1\nline2", "cr\r\nlf", "lone\r",
      "tab\there", "  edge spaces  ", " ", "", null, "Ünïcødé — 保険 ✓", "\\\"mixed,\n\"")
    // each value in every column, and each beside its neighbour
    val rows = values.indices.map(i => Row.fromSeq(cols.indices.map(c => values((i + c) % values.size))))
    val df = spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(cols.map(c => s"`$c` string").mkString(", ")))
    val written = s"$dir/written"
    df.coalesce(1).write.option("header", "false").option("emptyValue", "").option("nullValue", "")
      .csv(written)
    val expected = Files.list(Paths.get(written)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
      .flatMap(p => Files.readAllBytes(p).toSeq)

    CsvMeta.append(Seq(("u0", "P0")).toDF("document_url", "product_name"), "health", csv)
    val before = Files.size(Paths.get(csv)).toInt
    CsvMeta.append(df, "health", csv)
    val added = Files.readAllBytes(Paths.get(csv)).toSeq.drop(before)
    assert(added.nonEmpty && added == expected,
      s"appended:\n${new String(added.toArray, "UTF-8")}\nwritten:\n${new String(expected.toArray, "UTF-8")}")
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
