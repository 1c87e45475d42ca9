package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.{latestVersion, readManifest}

/** The snapshot table format's operational guarantees — the properties
  * the q273/q274/q275 hash checks cannot see because they hold even
  * when the guarantees are violated on a quiet single-writer run:
  * torn commits stay invisible, racing writers serialize without data
  * loss, copy-on-write deletes carry non-intersecting files verbatim,
  * CDC reads only changed files, and vacuum reclaims exactly the
  * unreferenced.
  */
class SnapshotTableSpec extends SparkSpec {

  private def freshRoot(): String =
    graft.queries.Fixtures.scratchIndexDir("snap-spec")

  private def rows(n: Long, offset: Long = 0L): DataFrame =
    spark.range(n).select((col("id") + offset).as("k"),
      (col("id") % 7).cast("long").as("v"))

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("create + append + time travel: each version is a stable closed set") {
    val root = freshRoot()
    assert(SnapshotTable.create(spark, root, rows(100), "k") == 1)
    assert(SnapshotTable.append(spark, root, rows(50, offset = 100)) == 2)
    assert(SnapshotTable.read(spark, root, Some(1)).count() == 100)
    assert(SnapshotTable.read(spark, root, Some(2)).count() == 150)
    assert(SnapshotTable.read(spark, root).count() == 150)
    // v1 is immutable: still 100 after another commit
    SnapshotTable.append(spark, root, rows(7, offset = 150))
    assert(SnapshotTable.read(spark, root, Some(1)).count() == 100)
  }

  test("torn commit is invisible: data files without a manifest do not exist") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")
    // simulate a writer that died after staging data but before the
    // manifest rename: drop a parquet file straight into data/
    rows(999, offset = 5000).coalesce(1).write.parquet(s"$root/orphan")
    val f = fs(root)
    val orphan = f.listStatus(new Path(s"$root/orphan"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    f.rename(orphan, new Path(s"$root/data/${orphan.getName}"))
    f.delete(new Path(s"$root/orphan"), true)
    assert(SnapshotTable.read(spark, root).count() == 100,
      "an unreferenced data file must never surface in a read")
    // vacuum reclaims exactly the orphan, not any referenced file
    assert(SnapshotTable.vacuum(spark, root) == 1)
    assert(SnapshotTable.read(spark, root).count() == 100)
    assert(SnapshotTable.vacuum(spark, root) == 0)
  }

  test("racing appends both commit, in distinct versions, with no loss") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(10), "k")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future(SnapshotTable.append(spark, root, rows(20, offset = 100)))
    val b = Future(SnapshotTable.append(spark, root, rows(30, offset = 200)))
    val (va, vb) = (Await.result(a, 120.seconds), Await.result(b, 120.seconds))
    assert(Set(va, vb) == Set(2, 3), s"racers must serialize to v2/v3, got $va/$vb")
    assert(SnapshotTable.read(spark, root).count() == 60,
      "both racers' rows must be present at the tip")
  }

  test("deleteWhere is file-granular copy-on-write: out-of-range files carried verbatim") {
    val root = freshRoot()
    // range-partitioned on k → files have disjoint envelopes
    SnapshotTable.create(spark, root,
      rows(1000).repartitionByRange(8, col("k")), "k")
    val before = readManifest(fs(root), new Path(root), 1)
    SnapshotTable.deleteWhere(spark, root, 0L, 200L)
    val after = readManifest(fs(root), new Path(root), 2)
    val beforePaths = before.files.map(_.path).toSet
    val carried = after.files.filter(f => beforePaths.contains(f.path))
    assert(carried.nonEmpty, "files whose envelope misses [0,200] must be carried, not rewritten")
    assert(carried.forall(f => f.minKey > 200L),
      "a carried file must provably contain no deleted key")
    assert(SnapshotTable.read(spark, root).count() == 1000 - 201)
    assert(SnapshotTable.read(spark, root).agg(min("k")).head.getLong(0) == 201L)
  }

  test("diff reads only changed files and cancels copy-on-write re-emits") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(1000).repartitionByRange(8, col("k")), "k")
    SnapshotTable.append(spark, root,
      rows(100, offset = 1000).repartitionByRange(2, col("k")))
    SnapshotTable.deleteWhere(spark, root, 0L, 50L)
    // v1→v2 append: pure inserts
    val d12 = SnapshotTable.diff(spark, root, 1, 2, Seq("k"))
    val byType12 = d12.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType12 == Map("insert" -> 100L))
    // the append diff must not read any carried v1 file
    val v1Files = readManifest(fs(root), new Path(root), 1).files.map(_.path).toSet
    assert(!d12.inputFiles.exists(f => v1Files.exists(f.endsWith)),
      "CDC of an append must touch only the appended files")
    // v2→v3 delete: the rewrite re-emitted survivors into new files;
    // the keyed anti-join must cancel them, surfacing ONLY the range
    val d23 = SnapshotTable.diff(spark, root, 2, 3, Seq("k"))
    val del = d23.where(col("change_type") === "delete")
    assert(d23.where(col("change_type") === "insert").count() == 0)
    assert(del.count() == 51)
    assert(del.agg(max("k")).head.getLong(0) == 50L)
  }

  test("compact is lossless and leaves prior versions readable; vacuum keeps every referenced file") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(500).repartitionByRange(8, col("k")), "k")
    val sumBefore = SnapshotTable.read(spark, root).agg(sum("v")).head.getLong(0)
    val v = SnapshotTable.compact(spark, root, targetBytes = 64L * 1024 * 1024)
    assert(v == 2)
    val m = readManifest(fs(root), new Path(root), 2)
    assert(m.files.size < 8, s"compaction must shrink the file count, got ${m.files.size}")
    assert(SnapshotTable.read(spark, root).agg(sum("v")).head.getLong(0) == sumBefore)
    assert(SnapshotTable.read(spark, root, Some(1)).count() == 500,
      "readers of the pre-compaction snapshot are untouched")
    assert(SnapshotTable.vacuum(spark, root) == 0,
      "v1's files are still referenced by v1's manifest — vacuum must keep them")
  }

  test("merge upserts by key: replace-not-duplicate, inserts land, low-key files carried") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(1000).repartitionByRange(8, col("k")), "k")
    val m1 = readManifest(fs(root), new Path(root), 1)
    // batch: update keys 300-349 (v := 999), insert keys 2000-2009
    val batch = rows(50, 300).withColumn("v", lit(999L))
      .unionByName(rows(10, 2000))
    val v = SnapshotTable.merge(spark, root, batch, Seq("k"))
    assert(v == 2)
    val tip = SnapshotTable.read(spark, root)
    assert(tip.count() == 1010, "updates replace, inserts add")
    assert(tip.where(col("v") === 999L).count() == 50)
    assert(tip.where(col("k").between(300, 349) && col("v") =!= 999L).count() == 0,
      "no stale pre-update row may survive next to its replacement")
    assert(tip.where(col("k") >= 2000).count() == 10)
    // the touched set is EXACT: despite the batch's [300, 2009] key
    // SPREAD (far inserts), only the file(s) whose envelope contains
    // an actual update key [300, 349] are rewritten — a range-based
    // pruner would have touched every file from 300 up
    val m2 = readManifest(fs(root), new Path(root), 2)
    val carried = m2.files.map(_.path).toSet
      .intersect(m1.files.map(_.path).toSet)
    val touched = m1.files.filterNot(f => carried.contains(f.path))
    assert(touched.forall(f => f.minKey <= 349 && f.maxKey >= 300),
      s"only update-band files may be rewritten, got $touched")
    assert(touched.size <= 2 && carried.size >= m1.files.size - 2,
      s"expected ~1 touched file of ${m1.files.size}, got ${touched.size}")
    // statsCol not in the key is rejected (envelope pruning is key-driven)
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, root, batch, Seq("v"))
    }
    // empty batch is a no-op, not a corrupted commit
    assert(SnapshotTable.merge(spark, root,
      rows(5).where(col("k") < 0), Seq("k")) == 2)
  }

  test("cluster restores envelope pruning: readRange opens only intersecting files") {
    val root = freshRoot()
    // deliberately UNCLUSTERED ingest: hash-scrambled order gives every
    // file a full-domain [min,max] envelope
    SnapshotTable.create(spark, root, rows(2000).repartition(8), "k")
    val all = SnapshotTable.readRange(spark, root, 100L, 199L)
    assert(all.count() == 100)
    assert(all.inputFiles.length == 8,
      "full-domain envelopes defeat skipping — correct, just unpruned")
    val sumBefore = SnapshotTable.read(spark, root).agg(sum("k")).head.getLong(0)
    SnapshotTable.cluster(spark, root, targetBytes = 4096)
    val m = readManifest(fs(root), new Path(root), 2)
    assert(m.files.size > 1, s"cluster must produce several files, got ${m.files.size}")
    val pruned = SnapshotTable.readRange(spark, root, 100L, 199L)
    assert(pruned.count() == 100)
    assert(pruned.inputFiles.length < m.files.size,
      s"clustered envelopes must skip files: opened ${pruned.inputFiles.length} of ${m.files.size}")
    assert(SnapshotTable.read(spark, root).agg(sum("k")).head.getLong(0) == sumBefore,
      "cluster is a lossless rewrite")
  }

  test("appendEvolved widens the schema; old files read null; time travel keeps each version's schema") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(10), "k")
    val v = SnapshotTable.appendEvolved(spark, root,
      rows(5, 100).withColumn("lang", lit("en")))
    assert(v == 2)
    val tip = SnapshotTable.read(spark, root)
    assert(tip.columns.toSeq == Seq("k", "v", "lang"))
    assert(tip.where(col("lang").isNull).count() == 10,
      "pre-evolution files must read the new column as null")
    assert(tip.where(col("lang") === "en").count() == 5)
    assert(SnapshotTable.read(spark, root, Some(1)).columns.toSeq == Seq("k", "v"),
      "time travel reads each version under the schema it committed with")
    // a batch MISSING the new column is null-filled, not rejected
    assert(SnapshotTable.appendEvolved(spark, root, rows(3, 200)) == 3)
    assert(SnapshotTable.read(spark, root).where(col("lang").isNull).count() == 13)
    // a type CHANGE is rejected even under evolution
    intercept[IllegalArgumentException] {
      SnapshotTable.appendEvolved(spark, root,
        rows(2, 300).withColumn("lang", lit(7)))
    }
    // rewrites preserve the evolved schema and its null backfill
    SnapshotTable.compact(spark, root)
    val compacted = SnapshotTable.read(spark, root)
    assert(compacted.columns.toSeq == Seq("k", "v", "lang"))
    assert(compacted.where(col("lang").isNull).count() == 13)
    // CDC across the evolution boundary: the older side's missing
    // column reads null instead of failing the union
    val d = SnapshotTable.diff(spark, root, 1, 2, Seq("k"))
    assert(d.where(col("change_type") === "insert").count() == 5)
    assert(d.columns.contains("lang"))
  }

  /** Run `body` with a deterministic racer injected into the commit
    * window: `racer` fires once (reentrancy-guarded), on the first
    * commit attempt matching `op` at `root` — after that attempt read
    * its parent, before its rename — so the attempt provably loses and
    * must re-derive. Restores the hook afterwards.
    */
  private def withInjectedRace(root: String, op: String, once: Boolean = true)
                              (racer: () => Unit)(body: => Unit): Unit = {
    val rp = new Path(root)
    val fs0 = fs(root)
    var fired = false
    var inRacer = false
    SnapshotTable.onCommitAttempt = (what, at) => {
      if (!inRacer && what == op && fs0.makeQualified(at) == fs0.makeQualified(rp)
          && (!once || !fired)) {
        fired = true
        inRacer = true
        try racer() finally inRacer = false
      }
    }
    try body finally SnapshotTable.onCommitAttempt = (_, _) => ()
  }

  test("racing evolutions: a lost commit race never narrows the tip schema") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(10), "k")
    // writer A evolves with column `a`; in A's commit window a racer
    // commits a DIFFERENT evolution (column `b`). A's retry must
    // re-merge against the racer's schema: the tip is the UNION —
    // the pre-fix code committed A's entry-time merge and silently
    // dropped `b` from the projection (its data stranded on disk).
    withInjectedRace(root, "appendEvolved")(() =>
      SnapshotTable.appendEvolved(spark, root,
        rows(5, 100).withColumn("b", lit(7L)))) {
      SnapshotTable.appendEvolved(spark, root,
        rows(5, 200).withColumn("a", lit("x")))
    }
    val tip = SnapshotTable.read(spark, root)
    assert(tip.columns.toSet == Set("k", "v", "a", "b"),
      s"tip schema must be the union of both evolutions, got ${tip.columns.toSeq}")
    assert(tip.where(col("b") === 7L).count() == 5,
      "the racer's column must stay readable after the loser's commit")
    assert(tip.where(col("a") === "x").count() == 5)
    assert(tip.count() == 20)
  }

  test("strict append that loses to a schema evolution fails loudly, never reverts the widening") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(10), "k")
    withInjectedRace(root, "append")(() =>
      SnapshotTable.appendEvolved(spark, root,
        rows(3, 500).withColumn("lang", lit("en")))) {
      val e = intercept[IllegalStateException] {
        SnapshotTable.append(spark, root, rows(5, 100))
      }
      assert(e.getMessage.contains("appendEvolved"),
        s"the failure must name the remedy, got: ${e.getMessage}")
    }
    val tip = SnapshotTable.read(spark, root)
    assert(tip.columns.contains("lang"), "the racer's widening must survive")
    assert(tip.count() == 13, "only the racer's rows landed")
  }

  test("merge composes with schema evolution: widened batches land, type changes stay loud") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(100).repartitionByRange(4, col("k")), "k")
    // batch widens with `score` AND updates v for keys 10-19
    val batch = rows(10, 10).withColumn("v", lit(999L))
      .withColumn("score", col("k") * 2)
    assert(SnapshotTable.merge(spark, root, batch, Seq("k")) == 2)
    val tip = SnapshotTable.read(spark, root)
    assert(tip.columns.toSeq == Seq("k", "v", "score"))
    assert(tip.count() == 100, "pure updates: count unchanged")
    assert(tip.where(col("score").isNotNull).count() == 10,
      "only the batch's rows carry the new column")
    assert(tip.where(col("v") === 999L).count() == 10)
    // a batch MISSING a column is null-filled (evolution rules), and a
    // later strict read still sees the widened schema
    assert(SnapshotTable.merge(spark, root,
      rows(5, 200), Seq("k")) == 3)
    assert(SnapshotTable.read(spark, root).count() == 105)
    // type change rejected even through merge
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, root,
        rows(2, 300).withColumn("score", lit("oops")), Seq("k"))
    }
  }

  test("racing compact vs merge: the loser re-derives; no resurrected deletes, no lost updates") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(1000).repartitionByRange(8, col("k")), "k")
    SnapshotTable.deleteWhere(spark, root, 0L, 99L) // v2: 900 rows
    val batch = rows(50, 500).withColumn("v", lit(777L))
      .unionByName(rows(5, 5000))
    // compact commits from the same parent DURING merge's commit window
    withInjectedRace(root, "merge")(() =>
      SnapshotTable.compact(spark, root): Unit) {
      val v = SnapshotTable.merge(spark, root, batch, Seq("k"))
      assert(v == 4, s"merge must retry past the racing compact (v3), got v$v")
    }
    val tip = SnapshotTable.read(spark, root)
    assert(tip.count() == 905, "900 survivors + 5 inserts")
    assert(tip.select("k").distinct().count() == 905,
      "replace-not-duplicate must hold across the race")
    assert(tip.where(col("k") < 100).count() == 0,
      "the racing rewrite must not resurrect deleted keys")
    assert(tip.where(col("v") === 777L).count() == 50,
      "the merge's updates must not be dropped by the racing compact")
  }

  test("commit retries are bounded: permanent contention fails loudly, not an infinite spin") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(100).repartitionByRange(2, col("k")), "k")
    // a racer that beats EVERY attempt: deleteWhere on an empty range
    // commits a metadata-only version each time the appender looks
    withInjectedRace(root, "append", once = false)(() =>
      SnapshotTable.deleteWhere(spark, root, -10L, -1L): Unit) {
      val e = intercept[java.io.IOException] {
        SnapshotTable.append(spark, root, rows(5, 1000))
      }
      assert(e.getMessage.contains("gave up") &&
        e.getMessage.contains("commit races"),
        s"bounded-retry failure must name the contention, got: ${e.getMessage}")
    }
    // the table is undamaged: all racer versions committed, no appended rows
    assert(SnapshotTable.read(spark, root).count() == 100)
    assert(SnapshotTable.vacuum(spark, root) > 0,
      "the failed appender's staged files are reclaimable orphans")
  }

  test("null stats keys are rejected at write time, not silently dropped by deleteWhere") {
    val root = freshRoot()
    val withNull = spark.range(10)
      .select(when(col("id") === 3, lit(null)).otherwise(col("id")).cast("long").as("k"),
        col("id").as("v"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.create(spark, root, withNull, "k")
    }
    assert(e.getMessage.contains("filter or fill"),
      s"the rejection must carry the remedy, got: ${e.getMessage}")
    // nothing committed, nothing referenced
    assert(latestVersion(fs(root), new Path(root)) == 0)
    // and the valid subset commits fine
    SnapshotTable.create(spark, root, withNull.where(col("k").isNotNull), "k")
    assert(SnapshotTable.read(spark, root).count() == 9)
  }

  test("merge rejects duplicate batch keys loudly") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")
    val dup = rows(5, 10).unionByName(rows(5, 10).withColumn("v", lit(42L)))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, root, dup, Seq("k"))
    }
    assert(e.getMessage.contains("duplicate keys"),
      s"got: ${e.getMessage}")
    assert(SnapshotTable.read(spark, root).count() == 100, "nothing committed")
  }

  test("diff surfaces merge updates as pre/post image pairs; unchanged re-emits still cancel") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(1000).repartitionByRange(8, col("k")), "k")
    // one commit mixing updates (keys 300-349, v := 999), inserts
    // (2000-2009), and — via the copy-on-write rewrite — hundreds of
    // unchanged survivor re-emits that must NOT surface
    val batch = rows(50, 300).withColumn("v", lit(999L))
      .unionByName(rows(10, 2000))
    SnapshotTable.merge(spark, root, batch, Seq("k"))
    val d = SnapshotTable.diff(spark, root, 1, 2, Seq("k"))
    val byType = d.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 10L, "update_preimage" -> 50L,
      "update_postimage" -> 50L),
      s"got $byType — survivors re-emitted by the rewrite must cancel")
    assert(d.where(col("change_type") === "update_postimage")
      .agg(min("v"), max("v")).head.toSeq == Seq(999L, 999L))
    assert(d.where(col("change_type") === "update_preimage" && col("v") === 999L)
      .count() == 0, "preimages carry the OLD values")
    // signed incremental maintenance stays exact across the merge:
    // +post/−pre, +insert/−delete applied to the v1 aggregate == v2
    val sign = when(col("change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val deltaSum = d.agg(sum(col("v") * sign), sum(sign)).head
    val v1 = SnapshotTable.read(spark, root, Some(1))
      .agg(sum("v"), count(lit(1))).head
    val v2 = SnapshotTable.read(spark, root, Some(2))
      .agg(sum("v"), count(lit(1))).head
    assert(v1.getLong(0) + deltaSum.getLong(0) == v2.getLong(0),
      "an incremental view refreshed via diff must not go stale across merge")
    assert(v1.getLong(1) + deltaSum.getLong(1) == v2.getLong(1))
  }

  test("diff: duplicate keys keep membership semantics, never fabricate update pairs") {
    val root = freshRoot()
    // two rows per key with DIFFERENT content — the caller bent the
    // unique-key contract (the testdata lineitem does exactly this on
    // (orderkey, linenumber)). Survivor re-emits must still cancel:
    // pairing sibling rows would fabricate update events.
    val dup = spark.range(100).select((col("id") % 50).as("k"), col("id").as("v"))
    SnapshotTable.create(spark, root,
      dup.repartitionByRange(4, col("k")), "k")
    SnapshotTable.deleteWhere(spark, root, 0L, 9L)
    val d = SnapshotTable.diff(spark, root, 1, 2, Seq("k"))
    val byType = d.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 20L),
      s"dup-key survivors must cancel, dup-key deletes must all surface; got $byType")
  }

  test("history lists every commit with its op, counts, and watermark") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")
    SnapshotTable.append(spark, root, rows(50, 100))
    SnapshotTable.deleteWhere(spark, root, 0L, 9L)
    SnapshotTable.merge(spark, root,
      rows(5, 20).withColumn("v", lit(1L)), Seq("k"))
    val h = SnapshotTable.history(spark, root)
    assert(h.map(r => (r._1, r._2)) ==
      Seq((1, "create"), (2, "append"), (3, "delete"), (4, "merge")))
    assert(h.map(_._3) == Seq(0, 1, 2, 3), "parent chain is linear")
    assert(h.map(_._5) == Seq(100L, 150L, 140L, 140L),
      "per-version row counts track the commits")
  }

  test("materialized change feed: per-commit events as a join-free file scan") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(1000).repartitionByRange(8, col("k")), "k")                // v1
    SnapshotTable.append(spark, root, rows(100, 1000))                // v2
    SnapshotTable.deleteWhere(spark, root, 0L, 49L)                   // v3
    val batch = rows(20, 500).withColumn("v", lit(999L))              // updates
      .unionByName(rows(5, 5000))                                     // inserts
    SnapshotTable.merge(spark, root, batch, Seq("k"))                 // v4
    SnapshotTable.compact(spark, root)                                // v5
    // per-commit granularity over the whole log
    val feed = SnapshotTable.changes(spark, root, 0, 5)
    val byType = feed.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map(
      "insert" -> (1000L + 100L + 5L), // create + append + merge inserts
      "delete" -> 50L,
      "update_preimage" -> 20L, "update_postimage" -> 20L), s"got $byType")
    // the rewrite commit contributes nothing
    assert(SnapshotTable.changes(spark, root, 4, 5).count() == 0)
    // the merge leg reads ONLY cdc files + the commit's added data
    // files — never a carried file, and NO join anywhere in the plan
    val mergeLeg = SnapshotTable.changes(spark, root, 3, 4)
    assert(!mergeLeg.queryExecution.executedPlan.toString.contains("Join"),
      "the materialized feed must be a join-free scan")
    val m3 = readManifest(fs(root), new Path(root), 3)
    val m4 = readManifest(fs(root), new Path(root), 4)
    val carried = m3.files.map(_.path).toSet.intersect(m4.files.map(_.path).toSet)
    assert(carried.nonEmpty && !mergeLeg.inputFiles.exists(f => carried.exists(f.endsWith)))
    // per-commit vs net: a row inserted at v2 and deleted at v3 shows
    // in BOTH legs of the feed, while diff(1, 3) nets it out
    SnapshotTable.deleteWhere(spark, root, 1050L, 1059L)              // v6
    val perCommit = SnapshotTable.changes(spark, root, 1, 6)
      .where(col("k").between(1050, 1059))
    assert(perCommit.where(col("change_type") === "insert").count() == 10)
    assert(perCommit.where(col("change_type") === "delete").count() == 10)
    // update events match the computed diff exactly (same pre/post)
    val fromDiff = SnapshotTable.diff(spark, root, 3, 4, Seq("k"))
      .where(col("change_type").startsWith("update"))
      .select("k", "v", "change_type")
    val fromFeed = SnapshotTable.changes(spark, root, 3, 4)
      .where(col("change_type").startsWith("update"))
      .select("k", "v", "change_type")
    assert(fromDiff.exceptAll(fromFeed).isEmpty && fromFeed.exceptAll(fromDiff).isEmpty,
      "materialized updates must equal the computed diff's")
    // vacuum keeps referenced cdc files, reclaims orphaned ones
    assert(SnapshotTable.vacuum(spark, root) == 0)
    rows(3, 7000).coalesce(1).write.parquet(s"$root/orphancdc")
    val f0 = fs(root)
    val orphan = f0.listStatus(new Path(s"$root/orphancdc"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    f0.rename(orphan, new Path(s"$root/cdc/${orphan.getName}"))
    f0.delete(new Path(s"$root/orphancdc"), true)
    assert(SnapshotTable.vacuum(spark, root) == 1,
      "an unreferenced cdc file is an orphan")
    assert(SnapshotTable.changes(spark, root, 3, 4).count() == 45,
      "referenced change files survive vacuum (5 inserts + 2x20 updates)")
  }

  test("vacuum reclaims crash-orphaned staging directories") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")
    // a writer that died between df.write.parquet(staging) and the
    // staging→data renames leaves the whole directory behind
    rows(7, 9000).coalesce(1).write
      .parquet(s"$root/.staging-deadbeef-0000-0000-0000-000000000000")
    assert(SnapshotTable.vacuum(spark, root) == 1,
      "the staging dir counts as one reclaimed unit")
    assert(!fs(root).exists(
      new Path(s"$root/.staging-deadbeef-0000-0000-0000-000000000000")))
    assert(SnapshotTable.read(spark, root).count() == 100)
    assert(SnapshotTable.vacuum(spark, root) == 0)
  }

  /** Rewrite a manifest file in place (spec-only: simulates legacy /
    * probe-written manifests). Deletes the checksummed LocalFileSystem's
    * .crc sidecar, which would otherwise fail the next Hadoop read.
    */
  private def rewriteManifest(root: String, v: Int)(f: String => String): Unit = {
    val p = java.nio.file.Paths.get(f"$root/meta/v$v%08d.manifest")
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    java.nio.file.Files.write(p, f(txt).getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      p.getParent.resolve(s".${p.getFileName}.crc"))
  }

  /** Strip everything the round-16 manifest format added (summary
    * keys, cdcDone, per-file a/c flags) — the on-disk shape every
    * pre-flag table has.
    */
  private def downgradeToLegacy(txt: String): String =
    txt.split('\n').filter(_.nonEmpty).collect {
      case l if l.startsWith("fileCount: ") || l.startsWith("totalRows: ") ||
                l.startsWith("totalBytes: ") || l.startsWith("cdcDone: ") =>
        null
      case l if l.startsWith("file\t") =>
        l.replaceAll("\t[ac]$", "")
      case l => l
    }.filter(_ != null).mkString("", "\n", "\n")

  test("expire drops old versions; vacuum reclaims their exclusive files; expired reads fail loudly") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(1000).repartitionByRange(8, col("k")), "k")            // v1
    SnapshotTable.append(spark, root, rows(200, 1000))            // v2
    SnapshotTable.deleteWhere(spark, root, 0L, 99L)               // v3: rewrites low files
    SnapshotTable.compact(spark, root)                            // v4: supersedes all
    val f0 = fs(root)
    val dataBefore = f0.listStatus(new Path(s"$root/data")).count(_.isFile)
    assert(SnapshotTable.vacuum(spark, root) == 0,
      "pre-expire, every file is still referenced by SOME manifest")
    assert(SnapshotTable.expire(spark, root, keepLast = 2) == 2)
    assert(SnapshotTable.versions(f0, new Path(root)) == Seq(3, 4))
    // surviving versions read identically after expiry + vacuum
    assert(SnapshotTable.read(spark, root, Some(3)).count() == 1100)
    val reclaimed = SnapshotTable.vacuum(spark, root)
    assert(reclaimed > 0,
      "the files only v1/v2 referenced (pre-delete images of the " +
      "rewritten files) must become reclaimable")
    assert(f0.listStatus(new Path(s"$root/data")).count(_.isFile)
      == dataBefore - reclaimed)
    assert(SnapshotTable.read(spark, root, Some(3)).count() == 1100)
    assert(SnapshotTable.read(spark, root, Some(4)).count() == 1100)
    assert(SnapshotTable.read(spark, root, Some(3))
      .agg(sum("k")).head().getLong(0) ==
      SnapshotTable.read(spark, root, Some(4)).agg(sum("k")).head().getLong(0))
    // reads into the expired range name the retention boundary
    val e = intercept[NoSuchElementException] {
      SnapshotTable.read(spark, root, Some(1))
    }
    assert(e.getMessage.contains("expire") && e.getMessage.contains("v3"),
      s"got: ${e.getMessage}")
    intercept[NoSuchElementException] {
      SnapshotTable.diff(spark, root, 1, 3, Seq("k"))
    }
    intercept[NoSuchElementException] {
      SnapshotTable.changes(spark, root, 0, 4)
    }
    // the retained range stays fully operational: post-flag manifests
    // are self-contained, so the feed never needs the expired parents
    assert(SnapshotTable.changes(spark, root, 2, 4)
      .where(col("change_type") === "delete").count() == 100)
    assert(SnapshotTable.history(spark, root).map(r => (r._1, r._2)) ==
      Seq((3, "delete"), (4, "compact")))
    // expire keeps working incrementally; keepLast=1 leaves only the tip
    SnapshotTable.append(spark, root, rows(10, 5000))             // v5
    assert(SnapshotTable.expire(spark, root, keepLast = 1) == 2)
    assert(SnapshotTable.versions(f0, new Path(root)) == Seq(5))
    assert(SnapshotTable.read(spark, root).count() == 1110)
  }

  test("changes fails loudly when a commit's events were never materialized") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(100).repartitionByRange(4, col("k")), "k")             // v1
    SnapshotTable.deleteWhere(spark, root, 0L, 9L)                // v2
    assert(SnapshotTable.changes(spark, root, 1, 2).count() == 10)
    // a commit that recorded materialization OFF (the probe's A/B arm
    // shape) must not read as an empty feed
    rewriteManifest(root, 2)(_.replace("cdcDone: true", "cdcDone: false"))
    val e = intercept[IllegalStateException] {
      SnapshotTable.changes(spark, root, 1, 2)
    }
    assert(e.getMessage.contains("materialization OFF")
      && e.getMessage.contains("diff"), s"got: ${e.getMessage}")
    // a pre-flag manifest with no cdc files is AMBIGUOUS ("no events"
    // vs "events never written") — loud, never silently empty
    rewriteManifest(root, 2)(txt => downgradeToLegacy(txt)
      .split('\n').filterNot(_.startsWith("cdc\t")).mkString("", "\n", "\n"))
    val e2 = intercept[IllegalStateException] {
      SnapshotTable.changes(spark, root, 1, 2)
    }
    assert(e2.getMessage.contains("predates")
      && e2.getMessage.contains("diff"), s"got: ${e2.getMessage}")
    // diff, the documented recovery path, still answers exactly
    assert(SnapshotTable.diff(spark, root, 1, 2, Seq("k"))
      .where(col("change_type") === "delete").count() == 10)
  }

  test("legacy manifests (no flags/summary/cdcDone) read via fallbacks") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")             // v1
    SnapshotTable.append(spark, root, rows(50, 100))              // v2
    SnapshotTable.deleteWhere(spark, root, 0L, 9L)                // v3
    (1 to 3).foreach(v => rewriteManifest(root, v)(downgradeToLegacy))
    // reads, history (full-parse fallback), and the feed's append legs
    // (parent-diff fallback) all still work
    assert(SnapshotTable.read(spark, root).count() == 140)
    assert(SnapshotTable.history(spark, root).map(r => (r._1, r._2, r._5)) ==
      Seq((1, "create", 100L), (2, "append", 150L), (3, "delete", 140L)))
    val inserts = SnapshotTable.changes(spark, root, 0, 2)
    assert(inserts.groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 100L, 2L -> 50L),
      "legacy append legs derive their insert sets from the parent diff")
    // v3 kept its cdc files through the downgrade → still readable
    assert(SnapshotTable.changes(spark, root, 2, 3).count() == 10)
  }

  test("changes stamps each leg with its commit version") {
    val root = freshRoot()
    SnapshotTable.create(spark, root,
      rows(100).repartitionByRange(4, col("k")), "k")             // v1
    SnapshotTable.append(spark, root, rows(10, 100))              // v2
    SnapshotTable.deleteWhere(spark, root, 0L, 4L)                // v3
    val got = SnapshotTable.changes(spark, root, 0, 3)
      .groupBy("_commit_version", "change_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, "insert") -> 100L, (2L, "insert") -> 10L,
      (3L, "delete") -> 5L), s"got $got")
  }

  test("history summaries match full-manifest accounting on every op kind") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")
    SnapshotTable.append(spark, root, rows(50, 100))
    SnapshotTable.deleteWhere(spark, root, 0L, 9L)
    SnapshotTable.merge(spark, root,
      rows(5, 20).withColumn("v", lit(7L)), Seq("k"))
    SnapshotTable.compact(spark, root)
    val f0 = fs(root)
    val rp = new Path(root)
    SnapshotTable.history(spark, root).foreach {
      case (v, op, parent, nFiles, nRows, nBytes, sid, sb, ts) =>
        val m = readManifest(f0, rp, v)
        assert((op, parent, nFiles, nRows, nBytes, sid, sb, ts) ==
          (m.op, m.parent, m.files.size, m.totalRows,
            m.files.map(_.bytes).sum, m.streamId, m.streamBatch, m.timestampMs),
          s"summary for v$v must equal the full manifest's accounting")
    }
  }

  test("append rejects a mismatched schema; empty batches reference no files") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(10), "k")
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, root,
        spark.range(5).select(col("id").as("k"))) // missing column v
    }
    val v = SnapshotTable.append(spark, root, rows(10).where(col("k") < 0))
    assert(readManifest(fs(root), new Path(root), v).files ==
      readManifest(fs(root), new Path(root), 1).files,
      "an empty append commits a manifest with the parent's exact file set")
    assert(SnapshotTable.read(spark, root).count() == 10)
  }

  test("commit timestamps: stamped at commit, strictly monotone, in history") {
    val root = freshRoot()
    val before = System.currentTimeMillis()
    SnapshotTable.create(spark, root, rows(50), "k")
    SnapshotTable.append(spark, root, rows(10, 50))
    SnapshotTable.deleteWhere(spark, root, 0L, 4L)
    val f = fs(root)
    val rp = new Path(root)
    val ts = (1 to 3).map(v => readManifest(f, rp, v).timestampMs)
    assert(ts.forall(_ >= before), s"stamps must be wall-clock-scale: $ts")
    assert(ts == ts.sorted && ts.distinct == ts,
      s"stamps must be strictly monotone per table: $ts")
    // the header summary carries the stamp without parsing the body
    assert(SnapshotTable.history(spark, root).map(_._9) == ts)
  }

  test("expireOlderThan + versionAt + readAsOf: time-based retention and travel") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")
    SnapshotTable.append(spark, root, rows(50, 100))
    SnapshotTable.append(spark, root, rows(25, 150))
    graft.queries.Fixtures.pinManifestStamps(spark, root) // v -> v * 1e6 ms
    // cutoff between v1 and v2: only v1 (strictly older) expires
    assert(SnapshotTable.expireOlderThan(spark, root, 2000000L) == 1)
    val f = fs(root)
    assert(SnapshotTable.versions(f, new Path(root)) == Seq(2, 3))
    // wall-clock travel resolves to the latest version at-or-before
    assert(SnapshotTable.versionAt(spark, root, 2500000L) == 2)
    assert(SnapshotTable.versionAt(spark, root, 3000000L) == 3)
    assert(SnapshotTable.readAsOf(spark, root, 2500000L).count() == 150)
    val e = intercept[NoSuchElementException] {
      SnapshotTable.versionAt(spark, root, 500000L)
    }
    assert(e.getMessage.contains("earliest retained"),
      s"pre-boundary travel must name the boundary: ${e.getMessage}")
    // the TIP survives any cutoff — a table keeps its current version
    assert(SnapshotTable.expireOlderThan(spark, root, Long.MaxValue) == 1)
    assert(SnapshotTable.versions(f, new Path(root)) == Seq(3))
    assert(SnapshotTable.read(spark, root).count() == 175)
  }

  test("expire crash idempotence: a partial expiry is safe and a re-run completes it") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, rows(100), "k")
    SnapshotTable.append(spark, root, rows(10, 100))
    SnapshotTable.append(spark, root, rows(10, 110))
    SnapshotTable.append(spark, root, rows(10, 120))
    val f = fs(root)
    val rp = new Path(root)
    // simulate an expire(keepLast=2) that crashed after its FIRST
    // delete (oldest-first): v1's manifest is gone, v2's survived
    assert(f.delete(new Path(rp, "meta/v00000001.manifest"), false))
    // interim state is fully operational: listings, reads, history, GC
    assert(SnapshotTable.versions(f, rp) == Seq(2, 3, 4))
    assert(SnapshotTable.read(spark, root).count() == 130)
    assert(SnapshotTable.history(spark, root).map(_._1) == Seq(2, 3, 4))
    SnapshotTable.vacuum(spark, root): Unit // must not touch live files
    assert(SnapshotTable.read(spark, root, Some(2)).count() == 110)
    // the re-run completes the partial expiry: only v2 left to drop
    assert(SnapshotTable.expire(spark, root, keepLast = 2) == 1)
    assert(SnapshotTable.versions(f, rp) == Seq(3, 4))
    assert(SnapshotTable.read(spark, root).count() == 130)
  }

  test("secondary column envelopes: recorded per integral column, null-aware, round-tripped") {
    val root = freshRoot()
    val df = spark.range(100).select(
      col("id").as("k"),
      (col("id") * 2).as("b"),
      when(col("id") < 50, lit(null)).otherwise(col("id") + 1000).as("c"),
      lit(null).cast("long").as("z"),
      concat(lit("s"), col("id")).as("s"))
    SnapshotTable.create(spark, root,
      df.repartitionByRange(4, col("k")), "k")
    val m = readManifest(fs(root), new Path(root), 1)
    m.files.foreach { fm =>
      // every OTHER integral column with >=1 non-null gets an envelope;
      // the stats column itself stays in minKey/maxKey, strings and
      // all-null columns are absent (conservative: never pruned on)
      assert(fm.colStats.contains("b"), s"b envelope missing: $fm")
      assert(!fm.colStats.contains("k") && !fm.colStats.contains("s") &&
        !fm.colStats.contains("z"), s"unexpected envelope: $fm")
      val (bLo, bHi) = fm.colStats("b")
      assert(bLo == fm.minKey * 2 && bHi == fm.maxKey * 2,
        "b = 2k, so its envelope must be exactly twice the primary's")
      fm.colStats.get("c").foreach { case (cLo, cHi) =>
        assert(cLo >= 1050 && cHi <= 1099,
          "c's envelope covers only its non-null values")
      }
    }
    assert(m.files.exists(_.colStats.contains("c")),
      "the half-null column keeps an envelope where it has values")
  }
}
