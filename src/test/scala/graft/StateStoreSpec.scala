package graft

import graft.state.StateStore
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{ChecksumFileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Direct state-store semantics (T2-T4) beyond the job-level coverage. */
class StateStoreSpec extends SparkSpec {
  import spark.implicits._

  private def store() =
    new StateStore(spark, Files.createTempDirectory("graft-state").toString)

  test("sessions: start → progress → complete → reset lifecycle (T2)") {
    val st = store()
    st.startSession("life", totalPages = 10)
    assert(st.resumePage("life") == 1)
    st.updateProgress("life", page = 4, newProducts = 120)
    assert(st.resumePage("life") == 5)
    // progress is monotone: a stale smaller page cannot move it backwards
    st.updateProgress("life", page = 2, newProducts = 0)
    assert(st.resumePage("life") == 5)
    st.completeSession("life")
    val row = st.sessions.collect().head
    assert(row.getAs[String]("status") == "completed")
    assert(row.getAs[Long]("total_products") == 120L)
    st.resetSession("life")
    assert(st.sessions.count() == 0)
    assert(st.resumePage("life") == 1)
  }

  test("restart preserves last_completed_page (resume across sessions)") {
    val st = store()
    st.startSession("life", 10)
    st.updateProgress("life", 7, 60)
    st.startSession("life", 12) // new run: offsets survive
    assert(st.resumePage("life") == 8)
  }

  test("markFailed increments retries per url and keeps latest error (T4)") {
    val st = store()
    st.markFailed(Seq(("u1", "timeout")).toDF("url", "error"))
    st.markFailed(Seq(("u1", "http 500"), ("u2", "dns")).toDF("url", "error"))
    val dlq = st.failed.collect().map(r =>
      r.getAs[String]("url") -> (r.getAs[Int]("retries"), r.getAs[String]("error"))).toMap
    assert(dlq("u1") == (2, "http 500"))
    assert(dlq("u2") == (1, "dns"))
    st.mergeFailed(Seq("u1"), Nil)
    assert(st.failed.collect().map(_.getAs[String]("url")).toSeq == Seq("u2"))
  }

  test("completed set is idempotent and guards pending tasks (T3/J2)") {
    val st = store()
    st.markCompleted(Seq("a", "b", "a").toDF("url"))
    st.markCompleted(Seq("b").toDF("url"))
    assert(st.completed.count() == 2)
    val pending = st.filterPending(Seq("a", "c").toDF("url"), "url")
    assert(pending.as[String].collect().toSeq == Seq("c"))
  }

  test("isCompleted flags each row once, a key completed twice too (J2)") {
    val st = store()
    // the driver-side form does not read the set: "a" lands in it twice
    st.markCompleted(Seq("a"))
    st.markCompleted(Seq("a", "b"))
    val rows = Seq("a", "c", null).toDF("document_url")
    val flagged = rows.withColumn("done", st.isCompleted("document_url"))
      .collect().map(r => Option(r.getString(0)) -> r.getBoolean(1)).toSeq
    assert(flagged.sortBy(_._1) == Seq(None -> false, Some("a") -> true, Some("c") -> false))
    intercept[IllegalArgumentException](st.isCompleted("url"))
  }

  test("a finished <table>.tmp left by a crash before its install is ignored (K5)") {
    val root = Files.createTempDirectory("graft-state").toString
    val st = new StateStore(spark, root)
    st.startSession("life", 10)
    st.updateProgress("life", 3, 30)
    st.markFailed(Seq(("u1", "timeout")).toDF("url", "error"))
    val (sessions, failed) = (st.sessions.collect().toSeq, st.failed.collect().toSeq)
    // what a commit that crashed before its install leaves: a finished write
    st.sessions.withColumn("last_completed_page", lit(9))
      .coalesce(1).write.parquet(s"$root/sessions.tmp")
    st.failed.withColumn("retries", col("retries") + 6)
      .coalesce(1).write.parquet(s"$root/failed.tmp")
    assert(st.sessions.collect().toSeq == sessions)
    assert(st.failed.collect().toSeq == failed)
    // the next commits replace the tmp, commit normally and leave no tmp
    st.updateProgress("life", 4, 10)
    st.markFailed(Seq(("u2", "dns")).toDF("url", "error"))
    assert(st.resumePage("life") == 5)
    assert(st.failed.collect().map(r => r.getAs[String]("url") -> r.getAs[Int]("retries")).toMap ==
      Map("u1" -> 1, "u2" -> 1))
    assert(Seq("sessions", "failed").forall(t => !Files.exists(Paths.get(s"$root/$t.tmp"))))
  }

  test("a crash inside an install leaves the old table or the new one, readable (K5)") {
    val root = Files.createTempDirectory("graft-state").toString
    val st = new StateStore(spark, root)
    st.markFailed(Seq(("u1", "timeout")).toDF("url", "error"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .asInstanceOf[ChecksumFileSystem]
    val raw = fs.getRawFileSystem
    def urls = st.failed.select("url").as[String].collect().toSet
    def part(dir: String) = new Path(s"$root/$dir/${dataFiles(root, dir).head}")
    // crashed after deleting the old .crc: the old table, read unchecked
    raw.delete(fs.getChecksumFile(part("failed")), false)
    assert(urls == Set("u1"))
    // crashed after the data rename, before its .crc followed it: the new table
    st.failed.unionByName(Seq(("u2", "dns", 1, new java.sql.Timestamp(0L)))
        .toDF("url", "error", "retries", "last_attempt"))
      .coalesce(1).write.parquet(s"$root/failed.tmp")
    assert(raw.rename(part("failed.tmp"), part("failed")))
    assert(urls == Set("u1", "u2"))
    // the next commit installs normally: one checksummed data file, no tmp
    st.markFailed(Seq(("u3", "http 404")).toDF("url", "error"))
    assert(urls == Set("u1", "u2", "u3"))
    assert(dataFiles(root, "failed").size == 1 && fs.exists(fs.getChecksumFile(part("failed"))))
    assert(!Files.exists(Paths.get(s"$root/failed.tmp")))
  }

  /** The names of the table's data files: not `_SUCCESS`, not a `.crc`. */
  private def dataFiles(root: String, table: String): Seq[String] =
    Files.list(Paths.get(s"$root/$table")).iterator.asScala.map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq

  test("failed/ stays one plain parquet file that spark.read.parquet reads as the DLQ") {
    val root = Files.createTempDirectory("graft-state").toString
    val st = new StateStore(spark, root)
    st.startSession("life", 10)
    st.markFailed(Seq(("u1", "timeout"), ("u2", "dns")).toDF("url", "error"))
    st.markFailed(Seq(("u1", "http 500")).toDF("url", "error"))
    st.mergeFailed(Seq("u2"), Seq(("u3", "http 404")))
    val plain = spark.read.parquet(s"$root/failed")
    assert(plain.collect().toSet == st.failed.collect().toSet)
    assert(plain.select("url", "retries").as[(String, Int)].collect().toMap ==
      Map("u1" -> 2, "u3" -> 1))
    assert(dataFiles(root, "sessions").size == 1 && dataFiles(root, "failed").size == 1)
  }

  test("plain spark.read.parquet reads the state files with the tables' types") {
    val root = Files.createTempDirectory("graft-state").toString
    val st = new StateStore(spark, root)
    val t0 = System.currentTimeMillis()
    st.startSession("life", 10)
    st.markFailed(Seq(("u1", "timeout")).toDF("url", "error"))
    st.markCompleted(Seq("a").toDF("url"))
    st.markCompleted(Seq("b", "c", "b"))
    def schema(p: String) = spark.read.parquet(s"$root/$p").schema
    assert(schema("sessions") == StructType.fromDDL("product_type string, status string, " +
      "last_completed_page int, total_pages int, total_products long"))
    assert(schema("failed") ==
      StructType.fromDDL("url string, error string, retries int, last_attempt timestamp"))
    val batches = dataFiles(root, "completed")
    assert(batches.size == 2 && batches.forall(f => schema(s"completed/$f") == StructType.fromDDL("url string")))
    assert(st.completed.as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
    // the DLQ's timestamp keeps its instant, to the microsecond Spark stores
    val attempt = spark.read.parquet(s"$root/failed").head().getAs[java.sql.Timestamp]("last_attempt")
    assert(attempt.getTime >= t0 - 1000 && attempt.getTime <= System.currentTimeMillis() + 1000)
    assert(st.failed.head().getAs[java.sql.Timestamp]("last_attempt") == attempt)
  }

  test("a leftover <table>.tmp file is ignored by reads and replaced by the next commit (K5)") {
    val root = Files.createTempDirectory("graft-state").toString
    val st = new StateStore(spark, root)
    st.markFailed(Seq(("u1", "timeout")).toDF("url", "error"))
    Files.writeString(Paths.get(s"$root/failed.tmp"), "torn")
    assert(st.failed.select("url").as[String].collect().toSeq == Seq("u1"))
    st.markFailed(Seq(("u2", "dns")).toDF("url", "error"))
    assert(st.failed.select("url").as[String].collect().sorted.toSeq == Seq("u1", "u2"))
    assert(!Files.exists(Paths.get(s"$root/failed.tmp")) && dataFiles(root, "failed").size == 1)
  }

  test("a table written as one part file plus _SUCCESS gains no duplicate rows on its next commit") {
    val root = Files.createTempDirectory("graft-state").toString
    Seq(("life", "in_progress", 3, 10, 30L))
      .toDF("product_type", "status", "last_completed_page", "total_pages", "total_products")
      .coalesce(1).write.parquet(s"$root/sessions")
    Seq(("u1", "timeout", 1, new java.sql.Timestamp(0L)))
      .toDF("url", "error", "retries", "last_attempt")
      .coalesce(1).write.parquet(s"$root/failed")
    assert(Files.exists(Paths.get(s"$root/failed/_SUCCESS")))
    val st = new StateStore(spark, root)
    st.updateProgress("life", 4, 10)
    st.markFailed(Seq(("u2", "dns")).toDF("url", "error"))
    assert(st.sessions.select("product_type", "last_completed_page", "total_products")
      .as[(String, Int, Long)].collect().toSeq == Seq(("life", 4, 40L)))
    assert(st.failed.select("url", "retries").as[(String, Int)].collect().sorted.toSeq ==
      Seq(("u1", 1), ("u2", 1)))
    assert(dataFiles(root, "sessions").size == 1 && dataFiles(root, "failed").size == 1)
  }

  test("markCompleted adds one file of new URLs and leaves the table's files untouched (T3)") {
    val root = Files.createTempDirectory("graft-state").toString
    val st = new StateStore(spark, root)
    val dir = java.nio.file.Paths.get(s"$root/completed")
    def dataFiles(): Map[String, Seq[Byte]] =
      Files.list(dir).iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
        .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
    st.markCompleted(Seq("a", "b").toDF("url"))
    val before = dataFiles()
    st.markCompleted(Seq("b", "c", "c").toDF("url"))
    val after = dataFiles()
    assert(before.forall { case (name, bytes) => after.get(name).contains(bytes) })
    val added = after.keySet -- before.keySet
    assert(added.size == 1)
    assert(spark.read.parquet(dir.resolve(added.head).toString).as[String].collect().toSeq == Seq("c"))
    assert(st.completed.as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
  }

  test("markCompleted keeps a persisted frame that scans completed/ cached") {
    val st = store()
    st.markCompleted(Seq("a").toDF("url"))
    // a caller's frame persisted over filterPending
    val pending = st.filterPending(Seq("a", "b").toDF("url"), "url").persist()
    try {
      assert(pending.count() == 1)
      val cached = spark.sparkContext.getPersistentRDDs.keySet
      st.markCompleted(Seq("b").toDF("url"))
      val dropped = cached -- spark.sparkContext.getPersistentRDDs.keySet
      assert(dropped.isEmpty, s"markCompleted dropped the cached RDDs $dropped")
    } finally pending.unpersist()
  }
}
