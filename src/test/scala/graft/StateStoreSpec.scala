package graft

import graft.state.StateStore
import java.nio.file.Files

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
    st.clearSucceeded(Seq("u1").toDF("url"))
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

  test("a commit that crashed between its delete and its rename is rolled forward (K5)") {
    val root = Files.createTempDirectory("graft-state").toString
    new StateStore(spark, root).markCompleted(Seq("a", "b").toDF("url"))
    // the finished tmp is all that is left of the table
    val table = new java.io.File(s"$root/completed")
    org.apache.commons.io.FileUtils.copyDirectory(table, new java.io.File(s"$root/completed.tmp"))
    org.apache.commons.io.FileUtils.deleteDirectory(table)
    val st = new StateStore(spark, root)
    assert(st.completed.as[String].collect().toSet == Set("a", "b"))
    assert(table.isDirectory && !new java.io.File(s"$root/completed.tmp").exists)
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
    // the shape of runPipeline's fetch results: persisted over filterPending
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
