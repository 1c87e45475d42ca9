package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** The DSv2 read surface over the snapshot table format
  * (`spark.read.format("graft-snapshot")`): version pinning, envelope
  * pruning visible in partition planning, column pruning down to the
  * parquet projection, schema-evolution null-fill, the changes-mode
  * feed (batch + micro-batch stream), and the loud capability check —
  * each asserted against the Scala-API twin it must agree with.
  */
class SnapshotDsv2Spec extends SparkSpec {

  private def freshRoot(): String =
    graft.queries.Fixtures.scratchIndexDir("snap-dsv2")

  private def rows(n: Long, offset: Long = 0L): DataFrame =
    spark.range(n).select((col("id") + offset).as("k"),
      (col("id") % 7).cast("long").as("v"))

  private def load(root: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft-snapshot").option("path", root))(
      (r, kv) => r.option(kv._1, kv._2)).load()

  test("batch read: tip by default, versionAsOf pins a snapshot") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")
    SnapshotTable.append(spark, root, rows(50, 100))
    assert(load(root).count() == 150)
    assert(load(root, "versionAsOf" -> "1").count() == 100)
    // pinned at load(): a commit AFTER load must not leak in
    val pinned = load(root)
    SnapshotTable.append(spark, root, rows(25, 200))
    assert(pinned.count() == 150, "the table object pins its version")
    assert(load(root).count() == 175)
    // agrees with the Scala API row-for-row
    val a = load(root, "versionAsOf" -> "2")
    val b = SnapshotTable.read(spark, root, Some(2))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("envelope pruning reaches partition planning; filters stay residual") {
    val root = freshRoot()
    // range-clustered: 8 files with disjoint [min,max] envelopes
    SnapshotTable.create(spark, root,
      rows(1000).repartitionByRange(8, col("k")), "k")
    val total = SnapshotTable.readManifest(fs(root), new Path(root), 1).files.size
    assert(total >= 6, s"fixture needs real file boundaries, got $total")
    val all = load(root)
    assert(all.rdd.getNumPartitions == total, "one partition per data file")
    val pruned = load(root).where(col("k").between(200, 299))
    assert(pruned.rdd.getNumPartitions < total,
      "a range predicate must prune files out of the planned partitions")
    // pruning is conservative AND the residual filter still applies:
    // exact agreement with the unpruned computation
    assert(pruned.count() == 100)
    assert(pruned.agg(sum("k")).head().getLong(0) == (200L to 299L).sum)
    // the pushed range is visible in the scan description
    val desc = pruned.queryExecution.executedPlan.toString
    assert(desc.contains("graft-snapshot"), s"plan must show the scan: $desc")
    // IN prunes via its conservative [min,max] envelope (point-lookup
    // shape): 3 clustered keys land in far fewer files than the table
    val inPruned = load(root).where(col("k").isin(500L, 510L, 520L))
    assert(inPruned.rdd.getNumPartitions < total,
      "an IN predicate must prune through its value span")
    assert(inPruned.count() == 3)
  }

  test("column pruning: count() decodes no column; projections match the Scala API") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(500).repartitionByRange(4, col("k")), "k")
    assert(load(root).count() == 500) // footer-count path (no file columns)
    val proj = load(root).select("v")
    assert(proj.schema.fieldNames.toSeq == Seq("v"))
    assert(proj.agg(sum("v")).head().getLong(0) ==
      SnapshotTable.read(spark, root).agg(sum("v")).head().getLong(0))
  }

  test("full leaf-type surface round-trips through the DSv2 reader") {
    val root = freshRoot()
    val typed = spark.range(50).select(
      col("id").as("k"),
      col("id").cast("int").as("i"),
      col("id").cast("short").as("sh"),
      col("id").cast("byte").as("by"),
      (col("id") * 1.5).as("d"),
      (col("id") * 0.5).cast("float").as("f"),
      (col("id") % 2 === 0).as("b"),
      concat(lit("s"), col("id")).as("s"),
      col("id").cast("string").cast("binary").as("bin"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), col("id").cast("int")).as("dt"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      (col("id") * 100).cast("decimal(12,2)").as("dec"),
      (col("id") * 100000).cast("decimal(28,4)").as("bigdec"))
      // null stripes exercise the repetition-count null path per type
      .select(struct(col("*")).as("r"))
      .select(when(col("r.k") % 7 =!= 0, col("r")).otherwise(
        struct(col("r.k"), lit(null).cast("int").as("i"),
          lit(null).cast("short").as("sh"), lit(null).cast("byte").as("by"),
          lit(null).cast("double").as("d"), lit(null).cast("float").as("f"),
          lit(null).cast("boolean").as("b"), lit(null).cast("string").as("s"),
          lit(null).cast("binary").as("bin"), lit(null).cast("date").as("dt"),
          lit(null).cast("timestamp").as("ts"),
          lit(null).cast("decimal(12,2)").as("dec"),
          lit(null).cast("decimal(28,4)").as("bigdec"))).as("r"))
      .select("r.*")
    SnapshotTable.create(spark, root, typed, "k")
    val viaDsv2 = load(root)
    val viaApi = SnapshotTable.read(spark, root)
    assert(viaDsv2.schema == viaApi.schema)
    assert(viaDsv2.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaDsv2).isEmpty,
      "every leaf type must round-trip bit-identically")
  }

  test("schema evolution: pre-evolution files null-fill through the provider") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")
    SnapshotTable.appendEvolved(spark, root,
      rows(10, 100).withColumn("w", col("k") * 2))
    val got = load(root)
    assert(got.where(col("w").isNull).count() == 100,
      "pre-evolution rows read the new column as null")
    assert(got.where(col("w") === col("k") * 2).count() == 10)
  }

  test("changes mode agrees with SnapshotTable.changes, including commit stamps") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(200).repartitionByRange(4, col("k")), "k")          // v1
    SnapshotTable.append(spark, root, rows(30, 200))           // v2
    SnapshotTable.deleteWhere(spark, root, 0L, 9L)             // v3
    SnapshotTable.merge(spark, root,
      rows(5, 100).withColumn("v", lit(42L)), Seq("k"))        // v4
    val viaDsv2 = load(root, "mode" -> "changes")
    val viaApi = SnapshotTable.changes(spark, root, 0, 4)
    assert(viaDsv2.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaDsv2).isEmpty,
      "the DSv2 feed must equal the Scala-API feed event-for-event")
    // sub-range + join-free plan
    val sub = load(root, "mode" -> "changes",
      "changesFrom" -> "2", "changesTo" -> "3")
    assert(sub.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("delete" -> 10L))
    assert(!sub.queryExecution.executedPlan.toString.contains("Join"))
    // the loud capability check holds through this surface too
    val mPath = f"$root/meta/v${3}%08d.manifest"
    val p = java.nio.file.Paths.get(mPath)
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    java.nio.file.Files.write(p,
      txt.replace("cdcDone: true", "cdcDone: false").getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      p.getParent.resolve(s".${p.getFileName}.crc"))
    val e = intercept[IllegalStateException] {
      load(root, "mode" -> "changes", "changesFrom" -> "2", "changesTo" -> "3")
        .count()
    }
    assert(e.getMessage.contains("materialization OFF"), s"got: ${e.getMessage}")
  }

  test("streaming changes: capped drain, then restart picks up only new commits") {
    val root = freshRoot()
    val out = graft.queries.Fixtures.scratchIndexDir("snap-dsv2-out")
    val ckpt = graft.queries.Fixtures.scratchIndexDir("snap-dsv2-ckpt")
    SnapshotTable.create(spark, root,
      rows(100).repartitionByRange(2, col("k")), "k")          // v1
    SnapshotTable.append(spark, root, rows(20, 100))           // v2
    SnapshotTable.deleteWhere(spark, root, 0L, 4L)             // v3
    def drain(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("path", root).option("mode", "changes")
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive, "AvailableNow drain must terminate")
    }
    drain()
    val after1 = spark.read.parquet(out)
    assert(after1.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("insert" -> 120L, "delete" -> 5L))
    assert(after1.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L),
      "maxVersionsPerTrigger=1 must still deliver every version")
    // new commits after the first drain: the checkpoint resumes at v3
    SnapshotTable.append(spark, root, rows(7, 500))            // v4
    drain()
    val after2 = spark.read.parquet(out)
    assert(after2.count() == 132, "restart delivers v4 ONCE, replays nothing")
    assert(after2.where(col("_commit_version") === 4L).count() == 7)
  }

  test("streamed incremental view: signed refresh over the feed converges across restarts") {
    // the q282 pattern as a STREAMING job: the feed drives a
    // materialized (group, n, sum) view via signed increments —
    // +insert/+postimage, −delete/−preimage — and after every drain
    // the view must equal a direct aggregate of the tip, including
    // across a merge, a delete, and a checkpointed restart.
    val root = freshRoot()
    val ckpt = graft.queries.Fixtures.scratchIndexDir("snap-view-ckpt")
    val view = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    SnapshotTable.create(spark, root,
      rows(300).repartitionByRange(4, col("k")), "k")            // v1
    def drain(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("path", root).option("mode", "changes")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.withColumn("sign",
              when(col("change_type").isin("insert", "update_postimage"), 1L)
                .otherwise(-1L))
            .groupBy("v")
            .agg(sum(col("sign")).as("dn"), sum(col("sign") * col("k")).as("dk"))
            .collect().foreach { r =>
              view.merge(r.getLong(0), (r.getLong(1), r.getLong(2)),
                (a, b) => (a._1 + b._1, a._2 + b._2))
            }
          ()
        }
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }
    def direct(): Map[Long, (Long, Long)] =
      SnapshotTable.read(spark, root).groupBy("v")
        .agg(count(lit(1)).as("n"), sum("k").as("sk")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    drain()
    assert(view.asScala.toMap == direct(), "view == tip after the initial load")
    // an upsert (update band + inserts) and a delete land; the RESTART
    // resumes from the checkpointed version offset — each commit's
    // events apply exactly once or the counts drift
    SnapshotTable.merge(spark, root,
      rows(30, 100).withColumn("v", lit(42L)), Seq("k"))         // v2
    SnapshotTable.deleteWhere(spark, root, 200L, 249L)           // v3
    drain()
    assert(view.asScala.toMap.filter(_._2 != (0L, 0L)) == direct(),
      "signed refresh over the streamed feed must converge to the tip")
    // idempotence: a drain with nothing new must not move the view
    val before = view.asScala.toMap
    drain()
    assert(view.asScala.toMap == before, "an empty drain applies nothing")
  }

  test("DSv2 write: append commits through the manifest protocol with task-side stats") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(100).repartitionByRange(4, col("k")), "k")
    rows(50, 100).repartition(3)
      .write.format("graft-snapshot").option("path", root)
      .mode("append").save()
    assert(SnapshotTable.read(spark, root).count() == 150)
    assert(SnapshotTable.latestVersion(fs(root), new Path(root)) == 2)
    val m2 = readManifestAt(root, 2)
    assert(m2.op == "append")
    // task-side stats envelopes are exact: the appended files cover
    // exactly [100, 149], so a readRange below them opens none of them
    val newFiles = m2.addedPaths.get
    assert(newFiles.nonEmpty && newFiles.size <= 3)
    m2.files.filter(f => newFiles.contains(f.path)).foreach { f =>
      assert(f.minKey >= 100 && f.maxKey <= 149,
        s"task-side envelope must be exact, got [${f.minKey},${f.maxKey}]")
    }
    // the feed sees the DSv2 append like any other commit
    assert(SnapshotTable.changes(spark, root, 1, 2)
      .agg(sum("k")).head().getLong(0) == (100L until 150L).sum)
    // round-trip through BOTH readers
    val viaApi = SnapshotTable.read(spark, root)
    val viaDsv2 = load(root)
    assert(viaApi.exceptAll(viaDsv2).isEmpty && viaDsv2.exceptAll(viaApi).isEmpty)
  }

  test("DSv2 write: typed round-trip through Spark's own parquet reader") {
    val root = freshRoot()
    val typed = spark.range(40).select(
      col("id").as("k"),
      concat(lit("s"), col("id")).as("s"),
      (col("id") * 1.5).as("d"),
      date_add(lit(java.sql.Date.valueOf("2021-06-01")), col("id").cast("int")).as("dt"),
      timestamp_seconds(col("id") * 60).as("ts"),
      (col("id") * 100).cast("decimal(12,2)").as("dec"),
      (col("id") * 12345).cast("decimal(28,4)").as("bigdec"))
    SnapshotTable.create(spark, root, typed.where(col("k") < 20), "k")
    typed.where(col("k") >= 20)
      .write.format("graft-snapshot").option("path", root)
      .mode("append").save()
    // SnapshotTable.read decodes the writer's files via SPARK's parquet
    // reader — annotations must line up for every leaf type
    val got = SnapshotTable.read(spark, root)
    assert(got.exceptAll(typed).isEmpty && typed.exceptAll(got).isEmpty,
      "DSv2-written files must read back bit-identically through Spark")
  }

  test("DSv2 write: schema mismatch, null stats keys, and overwrite all fail loudly") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(20), "k")
    // extra column: Spark's AppendData compatibility check fires
    // before our strict-name check — loud either way
    intercept[org.apache.spark.sql.AnalysisException] {
      rows(5, 100).withColumn("extra", lit(1L))
        .write.format("graft-snapshot").option("path", root)
        .mode("append").save()
    }
    val e = intercept[Exception] {
      spark.range(5).select(lit(null).cast("long").as("k"), col("id").as("v"))
        .write.format("graft-snapshot").option("path", root)
        .mode("append").save()
    }
    assert(e.getMessage.contains("stats column") ||
      Option(e.getCause).exists(_.getMessage.contains("stats column")),
      s"null stats keys must fail the task loudly: ${e.getMessage}")
    // nothing leaked: failed writes leave no staging debris behind
    assert(SnapshotTable.read(spark, root).count() == 20)
    SnapshotTable.vacuum(spark, root)
    assert(SnapshotTable.read(spark, root).count() == 20)
    // column ORDER doesn't matter: path-based V2 save() resolves BY
    // NAME and reorders to the table schema before the writer sees a
    // row — the input row (k=104, v=4) written column-swapped still
    // lands as (k=104, v=4), never a silent transpose
    rows(5, 100).select(col("v"), col("k"))
      .write.format("graft-snapshot").option("path", root)
      .mode("append").save()
    assert(SnapshotTable.read(spark, root)
      .where(col("k") === 104L && col("v") === 4L).count() == 1,
      "by-name resolution must keep values under their own columns")
  }

  test("DSv2 write: concurrent appends both land via commit retries") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(10), "k")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def append(off: Long) = Future {
      rows(20, off).write.format("graft-snapshot").option("path", root)
        .mode("append").save()
    }
    Await.result(Future.sequence(Seq(append(100), append(200))), 120.seconds)
    assert(SnapshotTable.read(spark, root).count() == 50,
      "both racers' rows must be present at the tip")
    assert(SnapshotTable.latestVersion(fs(root), new Path(root)) == 3)
  }

  test("multi-column envelopes prune files on non-statsCol predicates; no-stats columns never prune") {
    val root = freshRoot()
    // keyed on k but CLUSTERED on b: the primary k-envelopes overlap
    // across files while the SECONDARY b-envelopes are disjoint — only
    // the b predicate can prune here
    val df = spark.range(1000).select(
      (col("id") % 10).as("k"), col("id").as("b"),
      concat(lit("s"), col("id")).as("s"))
    SnapshotTable.create(spark, root,
      df.repartitionByRange(8, col("b")), "k")
    val total = readManifestAt(root, 1).files.size
    assert(total >= 6, s"fixture needs real file boundaries, got $total")
    val all = load(root)
    assert(all.rdd.getNumPartitions == total)
    val pruned = load(root).where(col("b").between(200, 299))
    assert(pruned.rdd.getNumPartitions < total,
      "a range predicate on a SECONDARY integral column must prune files")
    assert(pruned.count() == 100, "pruning is conservative — rows exact")
    // correctness is pruning-invariant: agree with the full-scan filter
    val expect = all.where(col("b").between(200, 299))
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty)
    // a predicate on a column with NO envelope (string) prunes nothing
    // and stays correct
    val unpruned = load(root).where(col("s") === "s42")
    assert(unpruned.rdd.getNumPartitions == total)
    assert(unpruned.count() == 1)
    // combined: bounds on BOTH columns intersect their envelopes
    assert(load(root).where(col("b").between(200, 299) && col("k") >= 0)
      .count() == 100)
  }

  test("overwrite: whole-table replace under snapshot isolation, with a self-contained feed") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")
    rows(30, 500).write.format("graft-snapshot").option("path", root)
      .mode("overwrite").save()
    // the replace committed as v2; v1 stays readable (isolation)
    assert(SnapshotTable.latestVersion(fs(root), new Path(root)) == 2)
    assert(readManifestAt(root, 2).op == "overwrite")
    assert(SnapshotTable.read(spark, root).count() == 30)
    assert(SnapshotTable.read(spark, root, Some(1)).count() == 100)
    assert(load(root, "versionAsOf" -> "1").count() == 100)
    // the feed over the overwrite: a delete event per replaced row
    // plus the new content as inserts — self-contained, no parent read
    val ch = SnapshotTable.changes(spark, root, 1, 2)
      .groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch == Map("delete" -> 100L, "insert" -> 30L), s"got $ch")
    // and the DSv2 changes mode agrees
    val ch2 = load(root, "mode" -> "changes", "changesFrom" -> "1")
      .groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch2 == ch)
    // after expire + vacuum the replaced files are reclaimed and the
    // tip still reads
    SnapshotTable.expire(spark, root, keepLast = 1)
    assert(SnapshotTable.vacuum(spark, root) > 0,
      "the replaced generation's files must be reclaimable")
    assert(SnapshotTable.read(spark, root).count() == 30)
  }

  /** An empty sink table for the change feed of [[rows]]. */
  private def sinkTable(): String = {
    val dst = freshRoot()
    SnapshotTable.createEmpty(spark, dst, org.apache.spark.sql.types.StructType.fromDDL(
      "k long, v long, change_type string, _commit_version long"), "k")
    dst
  }

  /** An AvailableNow drain of `src`'s change feed into `dst`, one source
    * version per micro-batch.
    */
  private def drainChanges(src: String, dst: String, ckpt: String): Unit = {
    val q = spark.readStream.format("graft-snapshot")
      .option("path", src).option("mode", "changes")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("graft-snapshot")
      .option("path", dst).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("streaming sink: exactly-once delivery across AvailableNow restarts") {
    val src = freshRoot()
    val dst = sinkTable()
    val ckpt = graft.queries.Fixtures.scratchIndexDir("snap-sink-ckpt")
    SnapshotTable.create(spark, src, rows(40), "k")
    SnapshotTable.append(spark, src, rows(10, 100))
    def drain(): Unit = drainChanges(src, dst, ckpt)
    drain()
    assert(SnapshotTable.read(spark, dst).count() == 50,
      "first drain delivers both commits' insert legs")
    // restart with NOTHING new: the checkpoint + manifest watermark
    // must deliver zero duplicates
    drain()
    assert(SnapshotTable.read(spark, dst).count() == 50,
      "an empty restart must not re-deliver")
    // restart after one more source commit: exactly the delta arrives
    SnapshotTable.append(spark, src, rows(5, 200))
    drain()
    val out = SnapshotTable.read(spark, dst)
    assert(out.count() == 55)
    assert(out.where(col("_commit_version") === 3L).count() == 5,
      "the restart delivers exactly the new commit's leg")
    assert(out.groupBy("k").count().where(col("count") > 1).count() == 0,
      "no key was ever delivered twice")
  }

  test("streaming sink: a replayed batch is skipped by the manifest watermark; a fresh checkpoint re-delivers") {
    val src = freshRoot()
    val dst = sinkTable()
    val ckpt = graft.queries.Fixtures.scratchIndexDir("snap-sink-ckpt")
    SnapshotTable.create(spark, src, rows(40), "k")
    SnapshotTable.append(spark, src, rows(10, 100))
    drainChanges(src, dst, ckpt)
    assert(SnapshotTable.read(spark, dst).count() == 50)
    // a crash after the sink's manifest commit, before the checkpoint's
    // own commit: the restart runs the last batch again with its batchId
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.list().filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Seq(last, s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
    // a non-streaming commit in between carries the watermark forward
    SnapshotTable.appendEvolved(spark, dst,
      rows(1, 300).withColumn("change_type", lit("insert")).withColumn("_commit_version", lit(9L)))
    drainChanges(src, dst, ckpt)
    assert(SnapshotTable.read(spark, dst).count() == 51, "the replayed batch must be skipped")
    // a fresh checkpoint is a new lineage whose batchIds restart at 0: it
    // re-delivers the feed (at-least-once) rather than dropping it as
    // already delivered against the old lineage's watermark
    drainChanges(src, dst, graft.queries.Fixtures.scratchIndexDir("snap-sink-ckpt"))
    assert(SnapshotTable.read(spark, dst).count() == 101)
  }

  test("change stream after expire: default start is the retention boundary; numeric pre-boundary stays loud") {
    val src = freshRoot()
    SnapshotTable.create(spark, src, rows(10), "k")
    SnapshotTable.append(spark, src, rows(10, 100))
    SnapshotTable.append(spark, src, rows(10, 200))
    SnapshotTable.expire(spark, src, keepLast = 2) // v1 gone
    // a FRESH stream with no startingVersion must start at the
    // boundary (v2's leg onward), not die on the expired v1
    val ckpt = graft.queries.Fixtures.scratchIndexDir("snap-exp-ckpt")
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("graft-snapshot")
      .option("path", src).option("mode", "changes").load()
      .writeStream.foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.addAndGet(b.count()): Unit
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(seen.get() == 20, s"the retained legs are v2+v3 = 20 rows, got ${seen.get()}")
    // an explicit numeric start below the boundary is an ERROR, not a
    // silent skip (an understated feed would be worse than loud)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = spark.readStream.format("graft-snapshot")
        .option("path", src).option("mode", "changes")
        .option("startingVersion", "0").load()
        .writeStream.format("noop")
        .option("checkpointLocation",
          graft.queries.Fixtures.scratchIndexDir("snap-exp-ckpt2"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    }
    assert(e.getMessage.contains("expire") || e.getMessage.contains("not available"),
      s"pre-boundary start must surface the retention boundary: ${e.getMessage}")
  }

  test("admission control: composite and unknown ReadLimits never silently drain the backlog") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val src = freshRoot()
    SnapshotTable.create(spark, src, rows(10), "k")
    (1 to 5).foreach(i => SnapshotTable.append(spark, src, rows(10, i * 100L)))
    // offsets only — no partition is ever read in this test
    val stream = new graft.sources.v2.SnapshotChangesStream(src, 0, Some(2), () => null)
    val start = graft.sources.v2.SnapshotStreamOffset(0)
    // a composite limit carries the engine's maxRows component — honor it
    val composite = ReadLimit.compositeLimit(Array(
      ReadLimit.minRows(1, 1000L), ReadLimit.maxRows(3)))
    assert(stream.latestOffset(start, composite) == graft.sources.v2.SnapshotStreamOffset(3),
      "composite: the ReadMaxRows component caps the batch")
    // an explicit all-available drains everything (Trigger.Once)
    assert(stream.latestOffset(start, ReadLimit.allAvailable()) ==
      graft.sources.v2.SnapshotStreamOffset(6))
    // a composite WITHOUT maxRows falls back to the source's own cap
    val minOnly = ReadLimit.compositeLimit(Array(ReadLimit.minRows(1, 1000L)))
    assert(stream.latestOffset(start, minOnly) == graft.sources.v2.SnapshotStreamOffset(2),
      "unknown composite members fall back to maxVersionsPerTrigger, " +
      "never to draining the whole backlog")
  }

  private def readManifestAt(root: String, v: Int) =
    SnapshotTable.readManifest(fs(root), new Path(root), v)

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
