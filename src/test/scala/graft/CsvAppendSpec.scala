package graft

import java.net.URI
import java.nio.file.Files

import graft.sources.CsvMeta
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** K1 append cost-model paths: the O(batch) in-place `fs.append` stitch
  * (append-capable FS) and the copy-merge fallback (checksummed local FS).
  */
class CsvAppendSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("csvappend").toString

  test("appendInPlace stitches parts onto the target via fs.append (O(batch))") {
    // RawLocalFileSystem supports append (the checksummed LocalFileSystem
    // Spark uses by default does not — that exercises the fallback).
    val fs = new RawLocalFileSystem()
    fs.initialize(URI.create("file:///"), new Configuration())
    val dir = tmpDir()
    val target = new Path(s"$dir/meta.csv")
    val out = fs.create(target)
    out.write("h1,h2\na,b\n".getBytes("UTF-8")); out.close()
    val part = new Path(s"$dir/part-0001")
    val pOut = fs.create(part)
    pOut.write("c,d\n".getBytes("UTF-8")); pOut.close()

    assert(CsvMeta.appendInPlace(fs, target, Seq(part)))
    val content = new String(
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/meta.csv")), "UTF-8")
    assert(content == "h1,h2\na,b\nc,d\n")
  }

  test("appendInPlace declines (returns false, file untouched) where append is unsupported") {
    val dir = tmpDir()
    val target = new Path(s"file:$dir/meta.csv")
    // Spark's default local FS is the checksummed LocalFileSystem
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(target)
    out.write("h1,h2\na,b\n".getBytes("UTF-8")); out.close()

    val before = new String(
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/meta.csv")), "UTF-8")
    assert(!CsvMeta.appendInPlace(fs, target, Seq.empty))
    val after = new String(
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/meta.csv")), "UTF-8")
    assert(before == after)
  }

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

  test("renameOverFallback: history survives every failure mode (never delete-then-hope)") {
    // the non-atomic replace path must keep a complete copy of dst's
    // prior content on disk at all times: a missing src (the trigger
    // may be a transient FS error, not the unsupported-scheme case)
    // must rethrow with dst untouched, and the happy path must go
    // through a .bak sidecar that is only removed after the new data
    // is in place
    val fs = new RawLocalFileSystem()
    fs.initialize(URI.create("file:///"), new Configuration())
    val dir = tmpDir()
    val dst = new Path(s"$dir/history.csv")
    val out = fs.create(dst)
    out.write("h\nold\n".getBytes("UTF-8")); out.close()

    // (1) src missing: rethrow, dst intact — the old code deleted dst
    // here and left NO recoverable copy
    intercept[java.io.IOException] {
      CsvMeta.renameOverFallback(fs, new Path(s"$dir/nope.tmp"), dst)
    }
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/history.csv")), "UTF-8") == "h\nold\n",
      "a missing src must not cost the sink its history")

    // (2) normal replace: new content lands, sidecar cleaned up
    val src = new Path(s"$dir/new.tmp")
    val sOut = fs.create(src)
    sOut.write("h\nnew\n".getBytes("UTF-8")); sOut.close()
    CsvMeta.renameOverFallback(fs, src, dst)
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/history.csv")), "UTF-8") == "h\nnew\n")
    assert(!fs.exists(new Path(s"$dir/history.csv.bak")),
      "the sidecar is removed once the new data is in place")

    // (3) a stale sidecar from a crashed prior call is cleared, not fatal
    val bOut = fs.create(new Path(s"$dir/history.csv.bak"))
    bOut.write("stale".getBytes("UTF-8")); bOut.close()
    val src2 = new Path(s"$dir/new2.tmp")
    val s2 = fs.create(src2)
    s2.write("h\nnewer\n".getBytes("UTF-8")); s2.close()
    CsvMeta.renameOverFallback(fs, src2, dst)
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/history.csv")), "UTF-8") == "h\nnewer\n")

    // (4) first contact (no dst yet): plain rename, no sidecar involved
    val fresh = new Path(s"$dir/fresh.csv")
    val src3 = new Path(s"$dir/new3.tmp")
    val s3 = fs.create(src3)
    s3.write("h\nfirst\n".getBytes("UTF-8")); s3.close()
    CsvMeta.renameOverFallback(fs, src3, fresh)
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/fresh.csv")), "UTF-8") == "h\nfirst\n")
  }
}
