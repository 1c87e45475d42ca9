package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A versioned snapshot table over immutable parquet files — the
  * table-format layer (Iceberg/Delta-shaped, built from scratch on the
  * Hadoop FS API) that turns a directory of parquet into something a
  * 100 TB pipeline can actually operate: atomic commits, time travel,
  * copy-on-write deletes that rewrite ONLY intersecting files, keyed
  * snapshot-to-snapshot CDC whose cost is proportional to the files
  * that CHANGED (never the table), lossless compaction, and optimistic
  * concurrency for racing writers.
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>.parquet            immutable data files
  *   <root>/meta/v00000001.manifest        one manifest per snapshot
  *   <root>/cdc/<uuid>.parquet             materialized change files
  * }}}
  *
  * Lifecycle: [[expire]] drops manifests outside the retention window
  * (reads into the expired range fail loudly naming the boundary) and
  * [[vacuum]] then reclaims the data/cdc files no RETAINED manifest
  * references — without the pair, every rewrite retains its
  * superseded files forever. The DSv2 twin of the read surface is
  * `spark.read.format("graft-snapshot")`
  * ([[graft.sources.v2.SnapshotTableProvider]]).
  *
  * A snapshot IS its manifest: a text file listing the data files that
  * make up the version, with per-file row counts, min/max of one
  * DECLARED stats column (the contract envelope that carries
  * copy-on-write pruning — null-rejected at write), and best-effort
  * min/max for every OTHER integral column (the Iceberg column-stats
  * model — see [[DataFileMeta.colStats]]; read-side pruning only,
  * never a write contract). The CURRENT version is simply the highest manifest
  * number present — there is no mutable "latest" pointer to tear, so
  * no reader can ever observe a half-committed state: data files are
  * written first (invisible until referenced), then the manifest
  * appears atomically or not at all.
  *
  * Commit protocol (optimistic): a writer computes its manifest against
  * the latest version it can see, writes it to a temp name, and
  * installs it with a no-overwrite rename to `v<N+1>`. If another
  * writer won the race the rename FAILS (on HDFS atomically; on the
  * local FS via FileContext's exists-check — the narrow check-then-act
  * window is a local-testing artifact, not a design property), and the
  * loser re-derives against the new tip and tries again. An append
  * retry is cheap — the new data files are already in place and stay
  * valid; only the parent file list is re-read. A delete/compact retry
  * must re-derive its rewrite (its inputs changed); the orphaned files
  * of the failed attempt stay invisible until [[vacuum]].
  *
  * Crash windows, all benign: die before the manifest rename → new
  * files are unreferenced orphans, readers see the old version,
  * [[vacuum]] reclaims; die after → the commit happened. Nothing is
  * ever overwritten or appended in place.
  *
  * Scale shape: stats collection reads back only the batch just
  * written (cost ∝ batch, never the table); [[deleteWhere]] carries
  * every file whose [min,max] envelope misses the predicate verbatim
  * (file-level copy-on-write — the manifest diff proves which files
  * were untouched); [[diff]] reads ONLY the files added/removed
  * between the two manifests, so CDC on a 10k-file table with a
  * 3-file delta costs 3 files. Manifests are O(files) text read by
  * the driver — at 100 TB with 128 MB files that is ~800k lines, the
  * same cost class as the q144 skipping manifest and far below any
  * data-side cost; a real deployment would shard manifests per commit
  * (Iceberg's manifest-list indirection) before this became the
  * bottleneck.
  */
object SnapshotTable {

  /** One immutable data file: path relative to the table root, row
    * count, byte size, and the min/max envelope of the stats column
    * (meaningless when rows == 0; such files are never written).
    *
    * `colStats` carries SECONDARY envelopes — per-file min/max over
    * the non-null values of every OTHER integral column (the Iceberg
    * column-stats model, restricted to the integral types the format's
    * pruning understands): a predicate on any of them can then prune
    * files at the manifest level, not just predicates on the one
    * declared stats column. Secondary envelopes are best-effort
    * metadata, never a contract: they cover non-null values only
    * (sound for the null-rejecting predicates =/</<=/>/>=/IN that
    * pruning consumes — a null row can never satisfy them), a column
    * that is all-null or lacks footer statistics in some row group is
    * simply absent (file never pruned on it), and legacy manifests
    * parse with the map empty. Only the statsCol envelope backs
    * copy-on-write semantics ([[deleteWhere]]/[[merge]]), which is why
    * IT alone gets the null-rejection write check.
    */
  case class DataFileMeta(path: String, rows: Long, bytes: Long,
                          minKey: Long, maxKey: Long,
                          colStats: Map[String, (Long, Long)] = Map.empty)

  /** One immutable CHANGE file under cdc/: the change events a
    * delete/merge commit materialized at write time (table schema +
    * `change_type`). Change files are feed data, not table data — they
    * are never part of any version's logical content.
    */
  case class CdcFileMeta(path: String, rows: Long)

  /** `streamId`/`streamBatch` are the streaming-delivery watermark:
    * the id of the last streaming query to commit and its last
    * delivered batchId (empty/-1 when no stream has written). They
    * ride IN the manifest, so the watermark and the data it guards
    * commit in the same atomic rename — the snapshot table has no
    * marker-trails-data ambiguity window at all (a sink that keeps its
    * delivery marker beside the data, such as a side file next to a
    * CSV, needs a (batchId, length) protocol to disambiguate a crash
    * between the data write and the marker move). Non-streaming
    * commits carry their parent's watermark forward unchanged.
    */
  /** `cdc` lists the commit's materialized change files (delete/merge
    * only — an append's inserts ARE its added data files, so
    * materializing them would double every ingest's write volume for
    * nothing; rewrite commits change no logical row). Written at
    * commit time, where the old and new rows are already in hand, so
    * the change feed costs a JOIN-FREE file scan at read time — the
    * Delta-CDF architecture, vs [[diff]]'s compute-on-read joins.
    *
    * `addedPaths` records which of `files` were WRITTEN BY this commit
    * (vs carried from the parent) — rendered as a per-file a/c flag, so
    * [[changes]] derives an append's insert leg without reading the
    * parent manifest at all. That self-containedness is what makes
    * [[expire]] safe: the feed over the retained range never needs an
    * expired parent. `None` = legacy manifest written before the flag
    * existed (changes falls back to the parent-diff for those).
    *
    * `cdcDone` records, on delete/merge commits, whether change
    * materialization was ON when the commit ran — the capability flag
    * that disambiguates "this commit had zero change events" (cdcDone
    * true, cdc empty) from "this commit's events were never written"
    * (cdcDone false, or None on a pre-flag manifest with no cdc files).
    * [[changes]] fails LOUDLY on the latter instead of silently
    * reading an understated feed.
    */
  /** `timestampMs` is the commit's wall-clock stamp (epoch millis),
    * recorded at commit time and forced MONOTONIC per table
    * (max(parent + 1, now) — the Delta convention): wall clocks drift
    * backwards across writers, but TIMESTAMP AS OF resolution
    * ([[versionAt]]) and time-based retention ([[expireOlderThan]])
    * both need "later version ⇒ later-or-equal stamp" to hold, and a
    * monotonic stamp is at worst milliseconds from the raw clock.
    * `-1` = legacy manifest written before timestamps existed
    * (resolves as "unknown, very old": expired first, never matched
    * by TIMESTAMP AS OF).
    */
  case class Manifest(version: Int, parent: Int, op: String,
                      statsCol: String, schemaJson: String,
                      files: Seq[DataFileMeta],
                      streamId: String = "", streamBatch: Long = -1L,
                      cdc: Seq[CdcFileMeta] = Nil,
                      addedPaths: Option[Set[String]] = None,
                      cdcDone: Option[Boolean] = None,
                      timestampMs: Long = -1L) {
    def totalRows: Long = files.map(_.rows).sum
  }

  /** The O(1)-per-version slice of a manifest: everything [[history]]
    * reports, parseable from the HEADER lines alone (the summary keys
    * ride above the file list), so the commit log of a 1,000-version ×
    * 10⁶-file table costs 1,000 small header reads, not 10⁹ parsed
    * file lines.
    */
  case class ManifestSummary(version: Int, parent: Int, op: String,
                             fileCount: Int, totalRows: Long,
                             totalBytes: Long,
                             streamId: String, streamBatch: Long,
                             timestampMs: Long = -1L)

  private val Header = "graft-snapshot-manifest v1"

  /** Commit-retry policy (the house retry convention, same shape as the
    * fetch layer's 3-attempts-linear-backoff): a writer that keeps
    * losing the optimistic-commit race re-derives at most `MaxCommitAttempts`
    * times with linear backoff, then fails LOUDLY naming the versions it
    * lost to — an unbounded retry loop under sustained contention would
    * spin forever re-running data-side rewrites.
    */
  private val MaxCommitAttempts = 5
  private val CommitBackoffMs = 50L

  /** Test-only injection point: invoked with (op, table root) once per
    * commit attempt, after the attempt has read its parent manifest and
    * before it derives its candidate — the exact window a racing writer
    * exploits. Specs use it to deterministically interleave a competing
    * committer (racing evolutions, compact-vs-merge, permanent
    * contention), filtering on their own root so concurrent suites are
    * untouched; production code never sets it.
    */
  @volatile private[graft] var onCommitAttempt: (String, Path) => Unit = (_, _) => ()

  /** Injectable commit clock (epoch millis): production code never
    * touches it; specs and deterministic contract fixtures pin it so
    * commit timestamps — and everything derived from them (history's
    * time column, [[expireOlderThan]] boundaries, TIMESTAMP AS OF
    * resolution) — are reproducible. The monotonic max(parent + 1, now)
    * rule still applies on top of whatever this returns.
    */
  @volatile private[graft] var clock: () => Long = () => System.currentTimeMillis()

  /** The optimistic-commit driver shared by every multi-attempt writer:
    * read the tip, let `build` derive a candidate manifest against it
    * (None = the caller detected a replay/no-op — surfaced as -1),
    * install with the no-overwrite rename; on a lost race, back off
    * linearly and re-derive against the NEW tip, up to
    * [[MaxCommitAttempts]]. `build` must re-derive EVERYTHING
    * parent-dependent inside itself (file list, schema merge, rewrite) —
    * the appendEvolved stale-schema race was exactly a value computed
    * outside this loop and reused across retries.
    */
  private def commitLoop(spark: SparkSession, fs: FileSystem, rp: Path,
                         what: String)
                        (build: Manifest => Option[Manifest]): Int = {
    var attemptN = 1
    while (true) {
      val pm = readManifest(fs, rp, latestVersion(fs, rp))
      onCommitAttempt(what, rp)
      build(pm) match {
        case None => return -1
        case Some(m) =>
          // stamp at commit time, monotone over the parent actually
          // committed under (re-stamped on every retry — a lost race
          // means a new parent and a fresh clock read)
          val stamped = m.copy(timestampMs = math.max(pm.timestampMs + 1, clock()))
          if (tryCommit(spark, rp, stamped)) return stamped.version
      }
      if (attemptN >= MaxCommitAttempts)
        throw new java.io.IOException(
          s"$what at $rp gave up after $MaxCommitAttempts lost commit races " +
          s"(last derived against v${pm.version}; tip is now " +
          s"v${latestVersion(fs, rp)}) — sustained writer contention; " +
          "retry when the table quiesces")
      Thread.sleep(CommitBackoffMs * attemptN)
      attemptN += 1
    }
    throw new IllegalStateException("unreachable")
  }

  private def metaDir(root: Path) = new Path(root, "meta")
  private def dataDir(root: Path) = new Path(root, "data")
  private def manifestPath(root: Path, version: Int) =
    new Path(metaDir(root), f"v$version%08d.manifest")

  private def fsOf(spark: SparkSession, root: Path): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The versions whose manifests are PRESENT, ascending — after
    * [[expire]] this is a suffix of the commit history, so every
    * whole-table walk (history, vacuum) iterates this, never an
    * assumed 1..latest.
    */
  def versions(fs: FileSystem, root: Path): Seq[Int] = {
    val md = metaDir(root)
    if (!fs.exists(md)) Nil
    else fs.listStatus(md).iterator
      .map(_.getPath.getName)
      .collect { case n if n.matches("v\\d{8}\\.manifest") =>
        n.substring(1, 9).toInt }
      .toSeq.sorted
  }

  /** Highest committed version, 0 if the table does not exist yet. */
  def latestVersion(fs: FileSystem, root: Path): Int =
    versions(fs, root).lastOption.getOrElse(0)

  /** Open a manifest, failing LOUDLY when the version is gone: after
    * [[expire]] a missing low version is the retention boundary, not a
    * bug, and the error must say so (naming the earliest retained
    * version) instead of surfacing a bare FileNotFoundException.
    */
  private def openManifest(fs: FileSystem, root: Path, version: Int) =
    try fs.open(manifestPath(root, version)) catch {
      case e: java.io.FileNotFoundException =>
        val vs = versions(fs, root)
        throw new NoSuchElementException(
          s"snapshot version $version is not available at $root — " +
          (if (vs.isEmpty) "the table has no committed versions"
           else if (version < vs.min)
             s"it was removed by expire(); the retention boundary is " +
             s"v${vs.min} (retained: v${vs.min}..v${vs.max})"
           else s"it was never committed (retained: v${vs.min}..v${vs.max})"),
          e)
    }

  def readManifest(fs: FileSystem, root: Path, version: Int): Manifest = {
    val in = openManifest(fs, root, version)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 64 * 1024, false)
      buf.toString("UTF-8")
    } finally in.close()
    // SINGLE-PASS parse: manifests at 100 TB scale are ~10⁵–10⁶ lines
    // (file list) plus O(files × integral columns) stats lines — the
    // original multi-pass filter/groupBy shape re-split and re-boxed
    // every line per category and measured 7.9 s at 10⁶ files × 4
    // stats columns (SCALING.md, round-17 multi-column envelopes); one
    // pass with mutable builders keeps the same result at a fraction of
    // that.
    val lines = text.split('\n').iterator.filter(_.nonEmpty).toVector
    require(lines.headOption.contains(Header),
      s"not a snapshot manifest: ${manifestPath(root, version)}")
    val kv = scala.collection.mutable.Map[String, String]()
    val fileParts = Vector.newBuilder[Array[String]]
    val cdcB = Vector.newBuilder[CdcFileMeta]
    // secondary envelopes: absent on legacy manifests → empty maps
    val statsByPath = new java.util.HashMap[String, scala.collection.mutable.Map[String, (Long, Long)]]()
    var inHeader = true
    var nFiles = 0
    var allFlagged = true
    lines.tail.foreach { l =>
      if (l.startsWith("file\t")) {
        inHeader = false
        val p = l.split('\t')
        nFiles += 1
        if (p.length < 7) allFlagged = false
        fileParts += p
      } else if (l.startsWith("stats\t")) {
        inHeader = false
        val p = l.split('\t')
        statsByPath.computeIfAbsent(p(1),
          _ => scala.collection.mutable.Map[String, (Long, Long)]())
          .update(p(2), (p(3).toLong, p(4).toLong))
      } else if (l.startsWith("cdc\t")) {
        inHeader = false
        val p = l.split('\t')
        cdcB += CdcFileMeta(p(1), p(2).toLong)
      } else if (inHeader) {
        val i = l.indexOf(": ")
        kv(l.substring(0, i)) = l.substring(i + 2)
      }
    }
    val fp = fileParts.result()
    val files = fp.map { p =>
      val st = statsByPath.get(p(1))
      DataFileMeta(p(1), p(2).toLong, p(3).toLong, p(4).toLong, p(5).toLong,
        if (st == null) Map.empty else st.toMap)
    }
    // 7th field (a = added by this commit, c = carried from the
    // parent) — absent on legacy manifests, which parse to
    // addedPaths = None and keep the parent-diff read path
    val addedPaths: Option[Set[String]] =
      if (nFiles > 0 && allFlagged)
        Some(fp.iterator.collect { case p if p(6) == "a" => p(1) }.toSet)
      else if (nFiles == 0 && kv.contains("fileCount"))
        Some(Set.empty)
      else None
    // cdc lines are absent from pre-materialization manifests — they
    // parse as an empty feed, never as an error
    val cdc = cdcB.result()
    Manifest(kv("version").toInt, kv("parent").toInt, kv("op"),
      kv("statsCol"), kv("schema"), files,
      kv.getOrElse("streamId", ""), kv.getOrElse("streamBatch", "-1").toLong,
      cdc, addedPaths, kv.get("cdcDone").map(_.toBoolean),
      kv.getOrElse("timestampMs", "-1").toLong)
  }

  /** Header-only manifest read for [[history]]: stream lines until the
    * first file/cdc entry and stop — O(1) I/O per version regardless
    * of file count. Legacy manifests (no summary keys) fall back to a
    * full [[readManifest]] parse.
    */
  def readManifestSummary(fs: FileSystem, root: Path, version: Int): ManifestSummary = {
    val in = openManifest(fs, root, version)
    val br = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
    val kv = scala.collection.mutable.Map[String, String]()
    try {
      require(Option(br.readLine()).contains(Header),
        s"not a snapshot manifest: ${manifestPath(root, version)}")
      var line = br.readLine()
      while (line != null && !line.startsWith("file\t") && !line.startsWith("cdc\t") &&
             !line.startsWith("stats\t")) {
        if (line.nonEmpty) {
          val i = line.indexOf(": ")
          kv(line.substring(0, i)) = line.substring(i + 2)
        }
        line = br.readLine()
      }
    } finally br.close()
    if (kv.contains("fileCount") && kv.contains("totalRows") && kv.contains("totalBytes"))
      ManifestSummary(kv("version").toInt, kv("parent").toInt, kv("op"),
        kv("fileCount").toInt, kv("totalRows").toLong, kv("totalBytes").toLong,
        kv.getOrElse("streamId", ""), kv.getOrElse("streamBatch", "-1").toLong,
        kv.getOrElse("timestampMs", "-1").toLong)
    else {
      val m = readManifest(fs, root, version)
      ManifestSummary(m.version, m.parent, m.op, m.files.size, m.totalRows,
        m.files.map(_.bytes).sum, m.streamId, m.streamBatch, m.timestampMs)
    }
  }

  private def renderManifest(m: Manifest): String = {
    val sb = new StringBuilder
    sb ++= Header += '\n'
    sb ++= s"version: ${m.version}\n"
    sb ++= s"parent: ${m.parent}\n"
    sb ++= s"op: ${m.op}\n"
    sb ++= s"statsCol: ${m.statsCol}\n"
    sb ++= s"streamId: ${m.streamId}\n"
    sb ++= s"streamBatch: ${m.streamBatch}\n"
    sb ++= s"timestampMs: ${m.timestampMs}\n"
    // per-version summary ABOVE the file list: history() reads these
    // three keys and stops, never parsing the O(files) body
    sb ++= s"fileCount: ${m.files.size}\n"
    sb ++= s"totalRows: ${m.totalRows}\n"
    sb ++= s"totalBytes: ${m.files.map(_.bytes).sum}\n"
    m.cdcDone.foreach(d => sb ++= s"cdcDone: $d\n")
    sb ++= s"schema: ${m.schemaJson}\n"
    val flag: String => String = m.addedPaths match {
      case Some(set) => p => if (set.contains(p)) "\ta" else "\tc"
      case None => _ => ""
    }
    m.files.foreach { f =>
      sb ++= s"file\t${f.path}\t${f.rows}\t${f.bytes}\t${f.minKey}\t${f.maxKey}${flag(f.path)}\n"
    }
    // secondary column envelopes AFTER the file list (one line per
    // file × column — O(files × integral columns), the same cost class
    // as the file list itself): separate lines keep the file-line
    // format stable, so legacy readers of either direction never
    // mis-split a field. Columns whose names carry the delimiters
    // (tab/newline) are unprunable by construction — the writer skips
    // them rather than corrupting the manifest.
    m.files.foreach { f =>
      f.colStats.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        if (!c.exists(ch => ch == '\t' || ch == '\n' || ch == '\r'))
          sb ++= s"stats\t${f.path}\t$c\t$lo\t$hi\n"
      }
    }
    m.cdc.foreach { c =>
      sb ++= s"cdc\t${c.path}\t${c.rows}\n"
    }
    sb.toString
  }

  /** Install `m` as version `m.version` iff nobody else has. The
    * manifest is fully written under a temp name first, so the
    * no-overwrite rename is the single commit point.
    */
  private[graft] def tryCommit(spark: SparkSession, root: Path, m: Manifest): Boolean = {
    val fs = fsOf(spark, root)
    fs.mkdirs(metaDir(root))
    val tmp = new Path(metaDir(root), s".tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(renderManifest(m).getBytes("UTF-8")) finally out.close()
    val dst = manifestPath(root, m.version)
    val qTmp = fs.makeQualified(tmp)
    val qDst = fs.makeQualified(dst)
    try {
      // Options.Rename.NONE: fail (never clobber) if dst exists — the
      // losing racer's rename throws and the loser retries.
      FileContext.getFileContext(qDst.toUri,
        spark.sparkContext.hadoopConfiguration).rename(qTmp, qDst)
      true
    } catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.io.IOException) =>
        fs.delete(tmp, false)
        if (fs.exists(dst)) false // lost the race; caller re-derives
        else throw new java.io.IOException(
          s"manifest commit failed for reasons other than a race: $dst", e)
    }
  }

  /** Write `df` under data/ and return the new files' metadata. The
    * stats read-back touches only the staged batch (one scan of the
    * new data — cost ∝ batch size, never table size). Empty partitions
    * produce zero-row part files which are dropped, not referenced.
    */
  private def writeDataFiles(spark: SparkSession, root: Path, df: DataFrame,
                             statsCol: String): Seq[DataFileMeta] = {
    val fs = fsOf(spark, root)
    val staging = new Path(root, s".staging-${UUID.randomUUID()}")
    df.write.parquet(staging.toString)
    val parts = fs.listStatus(staging)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .toSeq.sortBy(_.getPath.getName)
    // Stats come from the parquet FOOTERS the write already produced —
    // driver-side metadata, O(files) — so no commit pays a second full
    // scan of its batch. Fallback (stats disabled / non-integral
    // physical type): one Spark aggregation pass, the original path.
    val conf = spark.sparkContext.hadoopConfiguration
    // The footer path is gated on the stats column's SPARK type being
    // integral (byte/short/int/long): every envelope consumer compares
    // against cast(statsCol as long), and for a DecimalType(p, s>0)
    // (unscaled-int physical) or TimestampType (micros physical vs
    // cast-to-long SECONDS) the raw footer min/max is in different
    // UNITS than the predicates — pruning built from it would silently
    // skip or keep the wrong files. The scan fallback applies the same
    // cast on both sides, so non-integral stats columns keep working
    // exactly as they did before the footer fast path existed.
    def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val statsColIntegral = df.schema.fields.find(_.name == statsCol)
      .exists(f => isIntegral(f.dataType))
    // ONE footer open per part file serves both the statsCol envelope
    // (exact, contract-bearing, scan-fallback below) and the secondary
    // per-column envelopes (best-effort — a column that is all-null or
    // lacks stats in some row group is simply omitted, so pruning on
    // it stays conservative)
    val integralCols = df.schema.fields.filter(f => isIntegral(f.dataType))
      .map(_.name).toSet + statsCol
    val footers: Seq[(Long, Map[String, (Long, Long, Long)])] = parts.map(st =>
      try footerEnvelopes(conf, st.getPath, integralCols)
      catch { case _: Exception => (-1L, Map.empty[String, (Long, Long, Long)]) })
    val secondary: Map[String, Map[String, (Long, Long)]] =
      parts.map(_.getPath.getName).zip(footers).map { case (name, (rows, envs)) =>
        name -> envs.collect {
          case (c, (nulls, lo, hi)) if c != statsCol && nulls < rows =>
            c -> (lo, hi)
        }
      }.toMap
    val viaFooter: Option[Seq[(Long, Long, Long, Long)]] =
      if (!statsColIntegral) None
      else {
        val all = footers.map { case (rows, envs) =>
          envs.get(statsCol).map { case (nulls, lo, hi) => (rows, nulls, lo, hi) } }
        if (all.forall(_.isDefined)) Some(all.map(_.get)) else None
      }
    val stats: Map[String, (Long, Long, Long, Long)] = viaFooter match {
      case Some(fstats) =>
        parts.map(_.getPath.getName).zip(fstats).toMap
      case None =>
        spark.read.parquet(staging.toString)
          .groupBy(input_file_name().as("f"))
          .agg(count(lit(1)).as("rows"),
            count(col(statsCol).cast("long")).as("nonnull"),
            min(col(statsCol).cast("long")).as("lo"),
            max(col(statsCol).cast("long")).as("hi"))
          .collect()
          .map(r => new Path(new java.net.URI(r.getString(0))).getName ->
            (r.getLong(1), r.getLong(1) - r.getLong(2), r.getLong(3), r.getLong(4)))
          .toMap
    }
    // Null stats values have no place in an envelope: min/max ignore
    // them (a file's [lo,hi] would silently exclude its null rows, so
    // deleteWhere's survivor predicate and readRange's skipping would
    // both silently drop them), and an all-null file has no envelope at
    // all. Reject at write time — the one choke point every commit path
    // (create/append/merge/delete-rewrite/compact/cluster) goes through
    // — so no committed file ever carries a null key.
    val nullRows = stats.valuesIterator.map(_._2).sum
    if (nullRows > 0) {
      fs.delete(staging, true)
      throw new IllegalArgumentException(
        s"stats column $statsCol is null (or not castable to long) on " +
        s"$nullRows row(s) of the staged batch — the file-envelope " +
        "contract requires a non-null integral key on every row; filter " +
        "or fill those rows before writing")
    }
    fs.mkdirs(dataDir(root))
    val metas = parts.flatMap { st =>
      stats.get(st.getPath.getName).collect { case (rows, _, lo, hi) if rows > 0 =>
        val name = s"${UUID.randomUUID()}.parquet"
        val dst = new Path(dataDir(root), name)
        if (!fs.rename(st.getPath, dst))
          throw new java.io.IOException(s"staging move failed: ${st.getPath} -> $dst")
        DataFileMeta(s"data/$name", rows, st.getLen, lo, hi,
          secondary.getOrElse(st.getPath.getName, Map.empty))
      }
    }
    fs.delete(staging, true)
    metas
  }

  private def cdcDir(root: Path) = new Path(root, "cdc")

  /** One footer open, many columns: per-column (nullCount, min, max)
    * over the file's row groups, restricted to columns whose EVERY row
    * group carries integral statistics with null counts (a column
    * missing from any group, or with a non-integral physical type, is
    * simply absent from the result — callers treat absence as "no
    * envelope", never as an error). min/max are over non-null values
    * (MaxValue/MinValue sentinels when the column is all null — the
    * null count disambiguates). Driver-side metadata, O(row groups).
    */
  private def footerEnvelopes(conf: org.apache.hadoop.conf.Configuration,
                              file: Path, cols: Set[String])
      : (Long, Map[String, (Long, Long, Long)]) = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val nulls = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      val lo = scala.collection.mutable.Map[String, Long]().withDefaultValue(Long.MaxValue)
      val hi = scala.collection.mutable.Map[String, Long]().withDefaultValue(Long.MinValue)
      val dead = scala.collection.mutable.Set[String]()
      var rows = 0L
      val it = reader.getFooter.getBlocks.iterator()
      while (it.hasNext) {
        val block = it.next()
        rows += block.getRowCount
        val seen = scala.collection.mutable.Set[String]()
        val colIt = block.getColumns.iterator()
        while (colIt.hasNext) {
          val c = colIt.next()
          val name = c.getPath.toDotString
          if (cols.contains(name) && !dead.contains(name)) {
            seen += name
            val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
            if (st == null || !st.isNumNullsSet) dead += name
            else {
              nulls(name) += st.getNumNulls
              if (st.getNumNulls < block.getRowCount) {
                if (!st.hasNonNullValue) dead += name
                else st.genericGetMin match {
                  case i: java.lang.Integer =>
                    lo(name) = math.min(lo(name), i.longValue)
                    hi(name) = math.max(hi(name),
                      st.genericGetMax.asInstanceOf[java.lang.Integer].longValue)
                  case l: java.lang.Long =>
                    lo(name) = math.min(lo(name), l.longValue)
                    hi(name) = math.max(hi(name),
                      st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
                  case _ => dead += name // non-integral physical type
                }
              }
            }
          }
        }
        // a column absent from some row group has no complete envelope
        cols.foreach(c => if (!seen.contains(c)) dead += c)
      }
      (rows, (cols -- dead).iterator
        .map(c => c -> (nulls(c), lo(c), hi(c))).toMap)
    } finally reader.close()
  }

  /** Write a commit's change events under cdc/ and return their
    * metadata ([[writeDataFiles]]'s staging discipline, minus the
    * stats envelope — change files are feed data, never pruned by
    * key). Empty frames produce no files; cost ∝ the commit's delta.
    */
  private def writeCdcFiles(spark: SparkSession, root: Path,
                            df: DataFrame): Seq[CdcFileMeta] = {
    val fs = fsOf(spark, root)
    val staging = new Path(root, s".staging-${UUID.randomUUID()}")
    df.write.parquet(staging.toString)
    // row counts from the footers' block metadata — no re-scan
    val conf = spark.sparkContext.hadoopConfiguration
    fs.mkdirs(cdcDir(root))
    val metas = fs.listStatus(staging)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .toSeq.sortBy(_.getPath.getName)
      .flatMap { st =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
        val rows = try reader.getRecordCount finally reader.close()
        if (rows > 0) {
          val name = s"${UUID.randomUUID()}.parquet"
          val dst = new Path(cdcDir(root), name)
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(s"staging move failed: ${st.getPath} -> $dst")
          Some(CdcFileMeta(s"cdc/$name", rows))
        } else None
      }
    fs.delete(staging, true)
    metas
  }

  private def schemaJson(df: DataFrame): String =
    df.schema.json.replaceAll("[\\n\\r]", " ")

  private def schemaJsonOf(st: StructType): String =
    st.json.replaceAll("[\\n\\r]", " ")

  private def parseSchema(json: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]

  /** The evolution rules, factored so every evolving writer (entry AND
    * retry — a lost commit race must re-merge against the new parent,
    * never reuse a merge computed against a stale one) applies the same
    * law: same-named fields keep their type (else loud), every field
    * goes nullable from then on, genuinely new fields append in
    * `incoming` order.
    */
  private def mergeSchemas(base: StructType, incoming: StructType): StructType = {
    val baseByName = base.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      baseByName.get(f.name).foreach { bf =>
        require(bf.dataType == f.dataType,
          s"schema evolution cannot change the type of ${f.name}: ${bf.dataType} -> ${f.dataType}")
      }
    }
    val newFields = incoming.fields
      .filterNot(f => baseByName.contains(f.name)).map(_.copy(nullable = true))
    StructType(base.fields.map(_.copy(nullable = true)) ++ newFields)
  }

  /** Project `df` onto `target`: present columns cast to the target
    * type, absent ones null-filled — the column-alignment half of the
    * evolution rules. Identity when `df` already matches (Catalyst
    * collapses the no-op projection).
    */
  private def alignTo(df: DataFrame, target: StructType): DataFrame =
    df.select(target.fields.toIndexedSeq.map { f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }: _*)

  /** Create the table at `root` as version 1. `statsCol` must be an
    * integral column; its per-file min/max envelope drives
    * [[deleteWhere]]'s copy-on-write pruning.
    */
  def create(spark: SparkSession, root: String, df: DataFrame,
             statsCol: String): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    require(latestVersion(fs, rp) == 0, s"table already exists at $root")
    val files = writeDataFiles(spark, rp, df, statsCol)
    val m = Manifest(1, 0, "create", statsCol, schemaJson(df), files,
      addedPaths = Some(files.map(_.path).toSet), timestampMs = clock())
    if (!tryCommit(spark, rp, m))
      throw new java.io.IOException(s"concurrent create at $root")
    1
  }

  /** Append `df` as a new snapshot; returns the committed version.
    * Retries (bounded) on commit races — the data files written once
    * stay valid across retries, only the parent file list is re-read.
    * A retry that finds the tip schema CHANGED (a schema evolution won
    * the race) fails loudly rather than committing a manifest that
    * silently reverts the widening — the strict-append contract is
    * "validated against this exact schema", and that validation must
    * hold against the parent actually committed under.
    */
  def append(spark: SparkSession, root: String, df: DataFrame): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val base = readManifest(fs, rp, latestVersion(fs, rp))
    require(schemaJson(df) == base.schemaJson,
      s"append schema mismatch at $root")
    val newFiles = writeDataFiles(spark, rp, df, base.statsCol)
    commitLoop(spark, fs, rp, "append") { pm =>
      if (pm.schemaJson != base.schemaJson)
        throw new IllegalStateException(
          s"append at $root lost a race to a schema evolution (validated " +
          s"against v${base.version}'s schema; tip v${pm.version} differs) — " +
          "re-read the tip and use appendEvolved")
      Some(Manifest(pm.version + 1, pm.version, "append", base.statsCol,
        base.schemaJson, pm.files ++ newFiles, pm.streamId, pm.streamBatch,
        addedPaths = Some(newFiles.map(_.path).toSet)))
    }
  }

  /** Append with SCHEMA EVOLUTION: new columns are admitted (forced
    * nullable — files from before the evolution read them as null via
    * parquet's clipped-schema semantics), type changes are rejected,
    * and columns the batch lacks are null-filled. The manifest's
    * schema widens to the union, with every field nullable from then
    * on — so the strict [[append]] (exact-schema, nullability
    * included) will reject pre-evolution writers until they pick up
    * the widened schema: loud, not silent. Time travel is unaffected
    * — each version's manifest keeps the schema the version was
    * committed under.
    */
  def appendEvolved(spark: SparkSession, root: String, df: DataFrame): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val base = readManifest(fs, rp, latestVersion(fs, rp))
    val merged = mergeSchemas(parseSchema(base.schemaJson), df.schema)
    val newFiles = writeDataFiles(spark, rp, alignTo(df, merged), base.statsCol)
    commitLoop(spark, fs, rp, "appendEvolved") { pm =>
      // Racing evolutions: the parent this attempt actually commits
      // under may have widened SINCE entry (another appendEvolved won a
      // race). Re-merge against the NEW parent's schema — committing the
      // entry-time merge here would silently NARROW the tip schema (the
      // racer's column stays in its data files but vanishes from the
      // projection). The data files written above conform to the
      // entry-time merge, a subset of this union, so reads null-fill.
      val finalJson = schemaJsonOf(mergeSchemas(parseSchema(pm.schemaJson), merged))
      Some(Manifest(pm.version + 1, pm.version, "append", base.statsCol,
        finalJson, pm.files ++ newFiles, pm.streamId, pm.streamBatch,
        addedPaths = Some(newFiles.map(_.path).toSet)))
    }
  }

  /** Commit already-written data files as a strict append — the
    * driver-side half of the DSv2 WRITE path
    * ([[graft.sources.v2.SnapshotTableProvider]]): executor tasks have
    * produced `metas`' files under data/ with their stats computed
    * on the fly, and this installs them under the same optimistic
    * commitLoop, schema race check, and bounded retry as [[append]].
    * `boundSchemaJson` is the tip schema the write was planned
    * against — a racing evolution fails loudly, never silently
    * narrows.
    */
  private[graft] def appendFiles(spark: SparkSession, root: String,
                                 metas: Seq[DataFileMeta],
                                 boundSchemaJson: String): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    commitLoop(spark, fs, rp, "append") { pm =>
      if (pm.schemaJson != boundSchemaJson)
        throw new IllegalStateException(
          s"DSv2 append at $root lost a race to a schema evolution " +
          s"(planned against a different schema than tip v${pm.version}'s) — " +
          "re-plan the write against the widened schema")
      Some(Manifest(pm.version + 1, pm.version, "append", pm.statsCol,
        pm.schemaJson, pm.files ++ metas, pm.streamId, pm.streamBatch,
        addedPaths = Some(metas.map(_.path).toSet)))
    }
  }

  /** Commit already-written data files as a whole-table REPLACE — the
    * driver half of DSv2 `mode("overwrite")` / `INSERT OVERWRITE`
    * (SupportsTruncate): the new version's files are exactly `metas`,
    * under snapshot isolation (every prior version stays readable until
    * [[expire]]). The change feed stays self-contained: the commit
    * materializes a `delete` event for EVERY replaced row (read from
    * the parent's files while they are still referenced) and its
    * inserts are the added files — CDC of a replacement IS the whole
    * replaced content, there is no cheaper honest answer; the cost is
    * ∝ the replaced table and re-paid on a lost commit race (the
    * orphaned cdc files of the losing attempt die with [[vacuum]]).
    * Schema is bound strictly, like [[appendFiles]].
    */
  private[graft] def overwriteFiles(spark: SparkSession, root: String,
                                    metas: Seq[DataFileMeta],
                                    boundSchemaJson: String): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    commitLoop(spark, fs, rp, "overwrite") { pm =>
      if (pm.schemaJson != boundSchemaJson)
        throw new IllegalStateException(
          s"DSv2 overwrite at $root lost a race to a schema evolution " +
          s"(planned against a different schema than tip v${pm.version}'s) — " +
          "re-plan the write against the widened schema")
      val cdcFiles =
        if (pm.files.nonEmpty)
          writeCdcFiles(spark, rp, readFiles(spark, rp, pm, pm.files)
            .withColumn("change_type", lit("delete")))
        else Nil
      Some(Manifest(pm.version + 1, pm.version, "overwrite", pm.statsCol,
        pm.schemaJson, metas, pm.streamId, pm.streamBatch, cdcFiles,
        addedPaths = Some(metas.map(_.path).toSet), cdcDone = Some(true)))
    }
  }

  /** Commit already-written data files as one streaming micro-batch —
    * the driver half of the DSv2 STREAMING sink
    * (`writeStream.format("graft-snapshot")`). The (queryId, batchId)
    * watermark commits INSIDE the manifest, atomically with the data it
    * guards, so delivery is exactly-once per checkpoint lineage with no
    * marker-trails-data window: a crash before the manifest rename
    * delivers nothing (the replay re-delivers); after it, the replay is
    * detected and skipped. Returns -1 for a detected replay — the caller
    * deletes the staged files it had installed (they are unreferenced,
    * so eager delete and [[vacuum]] are equally correct).
    *
    * Lineage rule: batchIds are monotonic only within one checkpoint
    * lineage. A different query id (fresh checkpoint, batchIds restart
    * at 0) re-baselines instead of treating early batches as already
    * delivered — at-least-once across a discarded checkpoint, since
    * silently dropping data would be worse than a duplicate.
    */
  private[graft] def streamingAppendFiles(spark: SparkSession, root: String,
                                          metas: Seq[DataFileMeta],
                                          boundSchemaJson: String,
                                          queryId: String, batchId: Long): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    commitLoop(spark, fs, rp, "streamingAppend") { pm =>
      if (pm.streamId.nonEmpty && pm.streamId == queryId && batchId <= pm.streamBatch)
        None // a racer of the same lineage (or a restart replay) delivered it
      else if (pm.schemaJson != boundSchemaJson)
        throw new IllegalStateException(
          s"DSv2 streaming append at $root lost a race to a schema evolution " +
          s"(planned against a different schema than tip v${pm.version}'s) — " +
          "restart the stream against the widened schema")
      else Some(Manifest(pm.version + 1, pm.version, "append", pm.statsCol,
        pm.schemaJson, pm.files ++ metas, queryId, batchId,
        addedPaths = Some(metas.map(_.path).toSet)))
    }
  }

  /** Commit a GROUP REPLACEMENT: the files in `replacedPaths` leave
    * the table, `metas`' files (already written by executor tasks)
    * take their place, everything else is carried verbatim — the
    * driver half of SQL row-level operations (MERGE INTO / UPDATE /
    * DELETE through [[graft.sources.v2.SnapshotTableProvider]]'s
    * SupportsRowLevelOperations surface), where Spark's rewrite plan
    * has already produced the affected groups' full new content and
    * `replacedPaths` is exactly the runtime-filtered file set that
    * plan read.
    *
    * Concurrency is deliberately STRICTER than append's retry loop: a
    * racing commit that touched (or vacuumed) any replaced file means
    * the rewrite was derived against stale groups, and re-deriving
    * here is impossible — the rewritten rows were computed by Spark's
    * plan, not by this method. Loud conflict, caller re-runs the
    * statement (the Scala [[merge]] keeps the self-re-deriving retry
    * path). A racing schema evolution fails the same way.
    *
    * The change feed stays honest at MEMBERSHIP granularity: the
    * commit materializes `delete` events for replaced rows and
    * `insert` events for written rows that differ (full-row multiset
    * anti-joins over the touched groups — SQL merges carry no key
    * declaration, so update PAIRING is not derivable; an updated row
    * surfaces as delete(old) + insert(new), the classic
    * retraction-stream convention). Cost ∝ touched groups, the same
    * class as the rewrite itself.
    */
  private[graft] def replaceFiles(spark: SparkSession, root: String,
                                  replacedPaths: Set[String],
                                  metas: Seq[DataFileMeta],
                                  boundSchemaJson: String,
                                  op: String): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    commitLoop(spark, fs, rp, op) { pm =>
      if (pm.schemaJson != boundSchemaJson)
        throw new IllegalStateException(
          s"SQL $op at $root lost a race to a schema evolution " +
          s"(planned against a different schema than tip v${pm.version}'s) — " +
          "re-run the statement against the widened schema")
      val present = pm.files.map(_.path).toSet
      val gone = replacedPaths -- present
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"SQL $op at $root conflicts with a concurrent commit: " +
          s"${gone.size} of the ${replacedPaths.size} files the rewrite " +
          s"read are no longer in tip v${pm.version} (e.g. ${gone.head}) — " +
          "re-run the statement")
      val (replaced, carried) = pm.files.partition(f => replacedPaths.contains(f.path))
      val cdcFiles =
        if (replaced.isEmpty && metas.isEmpty) Nil
        else {
          // membership events over the touched groups: old∖new deletes,
          // new∖old inserts; a row re-emitted unchanged by the
          // copy-on-write cancels. Full-row anti-joins (null-safe via
          // the composite struct), delta-sized on both sides.
          val oldRows = readFiles(spark, rp, pm, replaced)
          val newRows = readFiles(spark, rp, pm.copy(files = metas), metas)
          val cols = parseSchema(pm.schemaJson).fieldNames.toSeq
          def allEq(l: String, r: String) =
            cols.map(c => col(s"$l.$c") <=> col(s"$r.$c")).reduce(_ && _)
          val deletes = oldRows.alias("o")
            .join(newRows.alias("n"), allEq("o", "n"), "left_anti")
            .withColumn("change_type", lit("delete"))
          val inserts = newRows.alias("n")
            .join(oldRows.alias("o"), allEq("n", "o"), "left_anti")
            .withColumn("change_type", lit("insert"))
          writeCdcFiles(spark, rp, deletes.unionByName(inserts))
        }
      Some(Manifest(pm.version + 1, pm.version, op, pm.statsCol,
        pm.schemaJson, carried ++ metas, pm.streamId, pm.streamBatch,
        cdcFiles, addedPaths = Some(metas.map(_.path).toSet),
        cdcDone = Some(true)))
    }
  }

  /** Bootstrap an EMPTY table at `root` as version 1 — the catalog's
    * `CREATE TABLE` surface ([[graft.sources.v2.SnapshotCatalog]]),
    * where the schema and stats column are declared before any data
    * exists; the first `INSERT INTO` is then a plain append. All
    * fields commit nullable (the read surface's convention — files
    * null-fill under evolution regardless).
    */
  def createEmpty(spark: SparkSession, root: String, schema: StructType,
                  statsCol: String): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    require(latestVersion(fs, rp) == 0, s"table already exists at $root")
    require(schema.fieldNames.contains(statsCol),
      s"stats column $statsCol is not in the schema ${schema.simpleString}")
    val m = Manifest(1, 0, "create", statsCol,
      schemaJsonOf(StructType(schema.fields.map(_.copy(nullable = true)))),
      Nil, addedPaths = Some(Set.empty), timestampMs = clock())
    if (!tryCommit(spark, rp, m))
      throw new java.io.IOException(s"concurrent create at $root")
    1
  }

  /** Delete all rows with statsCol in [lo, hi], copy-on-write at file
    * granularity: files whose envelope misses the range are carried
    * into the new manifest VERBATIM (same path — never read, never
    * rewritten); intersecting files are read, filtered, and their
    * survivors written as new files. Returns the committed version.
    * A commit race re-derives the whole rewrite (the losing attempt's
    * files become vacuum-able orphans).
    */
  def deleteWhere(spark: SparkSession, root: String, lo: Long, hi: Long): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    commitLoop(spark, fs, rp, "deleteWhere") { base =>
      val (touched, carried) =
        base.files.partition(f => f.minKey <= hi && f.maxKey >= lo)
      val (rewritten, cdcFiles) =
        if (touched.isEmpty) (Nil, Nil)
        else {
          // writeDataFiles rejects null stats keys at every commit, so
          // no touched file can hold a null-key row for the survivor
          // predicate's three-valued logic to silently drop. The
          // touched rows feed BOTH writes (survivor rewrite + change
          // events), so they persist once — delta-sized, the
          // cache-discipline win case.
          val touchedRows = readFiles(spark, rp, base, touched)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val survivors = touchedRows
              .where(col(base.statsCol).cast("long") < lo ||
                     col(base.statsCol).cast("long") > hi)
            // materialize the commit's change events while the touched
            // rows are in hand: the feed then costs a plain file scan
            val deleted = touchedRows
              .where(col(base.statsCol).cast("long").between(lo, hi))
              .withColumn("change_type", lit("delete"))
            (writeDataFiles(spark, rp, survivors, base.statsCol),
             writeCdcFiles(spark, rp, deleted))
          } finally touchedRows.unpersist(false)
        }
      Some(Manifest(base.version + 1, base.version, "delete", base.statsCol,
        base.schemaJson, carried ++ rewritten, base.streamId, base.streamBatch,
        cdcFiles, addedPaths = Some(rewritten.map(_.path).toSet),
        cdcDone = Some(true)))
    }
  }

  /** MERGE (upsert) a batch by key: rows whose key matches an existing
    * row replace it; new keys insert — one commit, copy-on-write at
    * file granularity. The stats column must be part of the key: a
    * matched row then provably lives in a file whose [min,max]
    * envelope contains its stats value, so the touched set is EXACT —
    * a file is rewritten iff its envelope contains at least one actual
    * batch key (interval stabbing over the broadcast envelope table,
    * one narrow pass over the batch — NOT the batch's [min,max] range,
    * which a scattered batch blows up to most of the table: a 2%
    * update band plus far-key inserts touches only the band's files
    * here). Non-matched rows of touched files survive via an anti-join
    * against the batch's keys; everything else is carried verbatim.
    * A commit race re-derives the rewrite (the losing attempt's files
    * become vacuum-able orphans). The batch's keys must be UNIQUE
    * (checked, loud) and its schema either the tip's or a widening of
    * it under the [[appendEvolved]] evolution rules.
    */
  def merge(spark: SparkSession, root: String, batch: DataFrame,
            keyCols: Seq[String]): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val tip = readManifest(fs, rp, latestVersion(fs, rp))
    require(keyCols.contains(tip.statsCol),
      s"merge requires the stats column ${tip.statsCol} in the key (envelope pruning is key-driven)")
    // The upsert and evolution paths COMPOSE: a batch whose schema is
    // the tip's exactly merges under the tip schema unchanged; a batch
    // that widens it (new columns, or missing ones to null-fill) goes
    // through the same rules as appendEvolved — type changes stay loud.
    // A CDC consumer whose upstream adds a column no longer needs a
    // dummy appendEvolved first.
    val evolving = schemaJson(batch) != tip.schemaJson
    val entryMerged =
      if (evolving) mergeSchemas(parseSchema(tip.schemaJson), batch.schema)
      else parseSchema(tip.schemaJson)
    val alignedBatch = if (evolving) alignTo(batch, entryMerged) else batch
    if (batch.isEmpty) return latestVersion(fs, rp) // no-op
    // Unique-key contract: duplicate batch keys would all survive the
    // anti-join union and commit as duplicate table keys, silently
    // breaking replace-not-duplicate AND the keyed contract diff()
    // relies on. One aggregation pass over the batch, loud failure.
    val uniq = batch.agg(count(lit(1)).as("n"),
      count_distinct(struct(keyCols.map(col): _*)).as("k")).head
    require(uniq.getLong(0) == uniq.getLong(1),
      s"merge batch has duplicate keys: ${uniq.getLong(0)} rows over " +
      s"${uniq.getLong(1)} distinct ${keyCols.mkString("(", ",", ")")} — " +
      "deduplicate (e.g. keep-latest per key) before merging")
    commitLoop(spark, fs, rp, "merge") { base =>
      // Re-derive the final schema against THIS parent (a racing
      // evolution may have widened it since entry — same rule as
      // appendEvolved's retry); survivors and batch both align to it.
      val finalJson =
        if (!evolving && base.schemaJson == tip.schemaJson) base.schemaJson
        else schemaJsonOf(mergeSchemas(parseSchema(base.schemaJson), entryMerged))
      val finalSchema = parseSchema(finalJson)
      // The rewrite and the change-event derivation consume the
      // touched rows and the batch several times each (survivor
      // anti-join, match inner join, insert anti-join, two writes).
      // Both frames are DELTA-sized — the persist-wins case of the
      // cache discipline: without it every consumer re-reads the
      // touched parquet and re-runs the caller's batch pipeline
      // (the materialization trade is measured in SCALING.md's
      // round-15 change-feed section). Every downstream
      // key source — stabbedFiles, the survivor anti-join, the insert
      // leg — reads the PERSISTED newAligned, never alignedBatch: with
      // a non-deterministic caller batch, keys recomputed from the
      // unpersisted lineage could disagree with the rows actually
      // written, silently breaking replace-not-duplicate.
      val newAligned = alignTo(alignedBatch, finalSchema)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val touchedPaths = stabbedFiles(spark, base, newAligned)
      val (touched, carried) =
        base.files.partition(f => touchedPaths.contains(f.path))
      val touchedRows = readFiles(spark, rp, base, touched)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val survivors = touchedRows
          .join(newAligned.select(keyCols.map(col): _*), keyCols, "left_anti")
        val newFiles = writeDataFiles(spark, rp,
          alignTo(survivors, finalSchema).unionByName(newAligned), base.statsCol)
        // Materialize the commit's change events at write time, where
        // the matched old rows and the batch are both in hand (the
        // Delta-CDF architecture): the feed then costs a join-free file
        // scan at read time, vs diff()'s compute-on-read joins. The
        // stats column rides in the key, so every matched old row lives
        // in a touched file — the inner join below provably sees every
        // match. Identical-content matches emit nothing (a no-op upsert
        // is not a change), mirroring diff()'s null-safe cancellation.
        val oldAligned = alignTo(touchedRows, finalSchema)
        val keyEq = keyCols.map(k => col(s"n.$k") === col(s"o.$k")).reduce(_ && _)
        val pairs = newAligned.alias("n").join(oldAligned.alias("o"), keyEq, "inner")
        val nonKey = finalSchema.fieldNames.filterNot(keyCols.contains).toSeq
        val changed = nonKey.map(c => col(s"n.$c") <=> col(s"o.$c"))
          .reduceOption(_ && _).map(!_).getOrElse(lit(false))
        val outCols = finalSchema.fieldNames.toSeq
        val events = newAligned
          .join(oldAligned.select(keyCols.map(col): _*), keyCols, "left_anti")
          .withColumn("change_type", lit("insert"))
          .unionByName(pairs.where(changed)
            .select(outCols.map(c => col(s"o.$c")): _*)
            .withColumn("change_type", lit("update_preimage")))
          .unionByName(pairs.where(changed)
            .select(outCols.map(c => col(s"n.$c")): _*)
            .withColumn("change_type", lit("update_postimage")))
        val cdcFiles = writeCdcFiles(spark, rp, events)
        Some(Manifest(base.version + 1, base.version, "merge", base.statsCol,
          finalJson, carried ++ newFiles, base.streamId, base.streamBatch,
          cdcFiles, addedPaths = Some(newFiles.map(_.path).toSet),
          cdcDone = Some(true)))
      } finally {
        touchedRows.unpersist(false)
        newAligned.unpersist(false)
      }
    }
  }

  /** The paths of files whose envelope contains at least one batch
    * key. Envelopes (O(files) driver metadata) broadcast sorted by
    * minKey with a prefix-max of maxKey; each batch key binary-searches
    * its stab point and walks left only while the prefix-max proves a
    * container can still exist — O(log F + overlap) per key on a
    * clustered layout, degrading gracefully (never wrongly pruning)
    * when envelopes overlap. Output is ≤ F file indices per partition,
    * so the collect is envelope-sized, not batch-sized.
    */
  private[graft] def stabbedFiles(spark: SparkSession, base: Manifest,
                           batch: DataFrame): Set[String] = {
    val files = base.files.toArray
    if (files.isEmpty) return Set.empty
    val order = files.indices.sortBy(files(_).minKey).toArray
    val mins = order.map(files(_).minKey)
    val maxs = order.map(files(_).maxKey)
    val prefMax = maxs.clone()
    for (i <- 1 until prefMax.length)
      prefMax(i) = math.max(prefMax(i - 1), prefMax(i))
    val bc = spark.sparkContext.broadcast((mins, maxs, prefMax))
    import spark.implicits._
    val hit = batch.select(col(base.statsCol).cast("long")).as[Long]
      .mapPartitions { it =>
        val (mn, mx, pm) = bc.value
        val seen = new java.util.BitSet(mn.length)
        it.foreach { k =>
          // last index with minKey <= k
          var lo = 0; var hi = mn.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (mn(mid) <= k) lo = mid + 1 else hi = mid
          }
          var i = lo - 1
          while (i >= 0 && pm(i) >= k) {
            if (mx(i) >= k) seen.set(i)
            i -= 1
          }
        }
        Iterator.range(0, mn.length).filter(seen.get)
      }.distinct().collect()
    hit.map(i => files(order(i)).path).toSet
  }

  /** Small-file compaction: rewrite the current snapshot into
    * ~targetBytes files under snapshot isolation. Readers of any
    * existing version are untouched; the compacted content commits as
    * a NEW version whose logical rows are identical.
    */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    commitLoop(spark, fs, rp, "compact") { base =>
      val totalBytes = base.files.map(_.bytes).sum
      val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      val files = writeDataFiles(spark, rp,
        read(spark, root, Some(base.version)).coalesce(n), base.statsCol)
      Some(Manifest(base.version + 1, base.version, "compact", base.statsCol,
        base.schemaJson, files, base.streamId, base.streamBatch,
        addedPaths = Some(files.map(_.path).toSet)))
    }
  }

  /** Re-cluster the current snapshot on the stats column
    * (range-partition + in-file sort) as a new version: the remedy for
    * an unclustered ingest, whose full-domain file envelopes defeat
    * both [[deleteWhere]]'s copy-on-write pruning and [[readRange]]'s
    * file skipping. Logical content is unchanged (same invariance
    * contract as [[compact]]).
    */
  def cluster(spark: SparkSession, root: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    commitLoop(spark, fs, rp, "cluster") { base =>
      val totalBytes = base.files.map(_.bytes).sum
      val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
      val clustered = read(spark, root, Some(base.version))
        .repartitionByRange(n, col(base.statsCol))
        .sortWithinPartitions(base.statsCol)
      val files = writeDataFiles(spark, rp, clustered, base.statsCol)
      Some(Manifest(base.version + 1, base.version, "cluster", base.statsCol,
        base.schemaJson, files, base.streamId, base.streamBatch,
        addedPaths = Some(files.map(_.path).toSet)))
    }
  }

  /** Range read with manifest-envelope file skipping: only files whose
    * [min,max] intersects [lo, hi] are opened (the q144 skipping
    * manifest as a table-format primitive — the driver prunes from
    * O(files) metadata before Spark lists a single footer), then the
    * row-level predicate finishes the job inside the survivors.
    * Correct on ANY layout; fast on a clustered one — an unclustered
    * table's envelopes all intersect and the read degrades to a full
    * scan plus filter, never to a wrong answer.
    */
  def readRange(spark: SparkSession, root: String, lo: Long, hi: Long,
                version: Option[Int] = None): DataFrame = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val v = version.getOrElse(latestVersion(fs, rp))
    val m = readManifest(fs, rp, v)
    val hit = m.files.filter(f => f.minKey <= hi && f.maxKey >= lo)
    readFiles(spark, rp, m, hit)
      .where(col(m.statsCol).cast("long").between(lo, hi))
  }

  private def readFiles(spark: SparkSession, root: Path, m: Manifest,
                        files: Seq[DataFileMeta]): DataFrame = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[StructType]
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.schema(schema)
        .parquet(files.map(f => new Path(root, f.path).toString): _*)
  }

  /** Time-travel read: the table as of `version` (default: latest).
    * A snapshot's files are immutable, so this frame is stable no
    * matter what commits after.
    */
  def read(spark: SparkSession, root: String,
           version: Option[Int] = None): DataFrame = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val v = version.getOrElse(latestVersion(fs, rp))
    require(v > 0, s"no committed snapshot at $root")
    val m = readManifest(fs, rp, v)
    readFiles(spark, rp, m, m.files)
  }

  /** Keyed CDC between two snapshots: rows whose key appears in vTo
    * but not vFrom tagged `insert`, the converse tagged `delete`, and
    * keys present on BOTH sides whose non-key content changed emitted
    * as an `update_preimage`/`update_postimage` PAIR (the public
    * change-data-feed convention) — so a [[merge]] that changes non-key
    * columns surfaces its updates instead of the two anti-joins
    * silently cancelling them, and signed incremental maintenance
    * (+post/−pre, +insert/−delete) stays exact across every commit
    * kind. Reads ONLY the files that differ between the two manifests —
    * a carried file (same path both sides) can contribute no change, so
    * the cost is ∝ changed files. Keys should be unique per row (the
    * caller's contract, enforced by [[merge]] on its batch); a key
    * duplicated on either side degrades to membership semantics for
    * that key (insert/delete/cancel, never an update pair — pairing
    * siblings would fabricate changes). A copy-on-write rewrite
    * re-emits surviving rows into new files, which the keyed
    * anti-joins and the null-safe content comparison cancel out.
    *
    * `pairUpdates = false` is the MEMBERSHIP fast path: consumers that
    * only need insert/delete semantics (a signed row-count/sum refresh
    * over commits known to be append/delete, the q274/q276 pattern)
    * skip the pairing machinery — two key-windows and an inner join —
    * entirely. The two anti-join legs are unchanged; a key present on
    * both sides with changed content simply cancels, exactly the
    * pre-round-15 semantics, so the flag must only be dropped when the
    * consumer provably does not need updates surfaced.
    */
  def diff(spark: SparkSession, root: String, vFrom: Int, vTo: Int,
           keyCols: Seq[String], pairUpdates: Boolean = true): DataFrame = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val from = readManifest(fs, rp, vFrom)
    val to = readManifest(fs, rp, vTo)
    val fromPaths = from.files.map(_.path).toSet
    val toPaths = to.files.map(_.path).toSet
    val added = to.files.filterNot(f => fromPaths.contains(f.path))
    val removed = from.files.filterNot(f => toPaths.contains(f.path))
    val addedDf = readFiles(spark, rp, to, added)
    val removedDf = readFiles(spark, rp, from, removed)
    val keys = keyCols.map(col)
    val inserts = addedDf.join(removedDf.select(keys: _*), keyCols, "left_anti")
      .withColumn("change_type", lit("insert"))
    val deletes = removedDf.join(addedDf.select(keys: _*), keyCols, "left_anti")
      .withColumn("change_type", lit("delete"))
    // Updates: same key on both sides, different non-key content. A
    // copy-on-write re-emit of an untouched row is identical on EVERY
    // column (null-safely), so it contributes nothing; across a
    // schema-evolution boundary a column one side lacks reads as null
    // on that side (changed iff the other side is non-null). Update
    // PAIRING is only well-defined when the key identifies one row per
    // side — keys duplicated on either side (a table whose caller bent
    // the unique-key contract; the testdata lineitem duplicates
    // (orderkey, linenumber)) would cross-match every dup against every
    // other, fabricating update pairs out of sibling rows. Such keys
    // keep the pure membership semantics (insert/delete/cancel) the
    // anti-joins above already give them, and never pair. A diff with
    // NO files on one side (pure append, pure delete-of-whole-files)
    // provably has no key on both sides, so the pairing machinery —
    // two key-windows and an inner join — is dropped from the plan
    // entirely, not left for AQE to no-op at runtime.
    val updateLegs: Seq[DataFrame] =
      if (!pairUpdates || added.isEmpty || removed.isEmpty) Nil
      else {
        val wKey = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
        def singletons(df: DataFrame): DataFrame =
          df.withColumn("_kn", count(lit(1)).over(wKey))
            .where(col("_kn") === 1L).drop("_kn")
        val n = singletons(addedDf).alias("n")
        val o = singletons(removedDf).alias("o")
        val keyEq = keyCols.map(k => col(s"n.$k") === col(s"o.$k")).reduce(_ && _)
        val newCols = addedDf.columns.filterNot(keyCols.contains)
        val oldCols = removedDf.columns.filterNot(keyCols.contains)
        val sameExprs =
          newCols.toSeq.map { c =>
            if (oldCols.contains(c)) col(s"n.$c") <=> col(s"o.$c")
            else col(s"n.$c").isNull
          } ++ oldCols.toSeq.filterNot(newCols.contains).map(c => col(s"o.$c").isNull)
        val changed =
          if (sameExprs.isEmpty) lit(false) else !sameExprs.reduce(_ && _)
        val pairs = n.join(o, keyEq, "inner").where(changed)
        Seq(
          pairs.select(addedDf.columns.toSeq.map(c => col(s"n.$c")): _*)
            .withColumn("change_type", lit("update_postimage")),
          pairs.select(removedDf.columns.toSeq.map(c => col(s"o.$c")): _*)
            .withColumn("change_type", lit("update_preimage")))
      }
    // allowMissingColumns: across a schema-evolution boundary the two
    // snapshots' schemas differ — the older side's missing columns
    // read as null rather than failing the union
    updateLegs.foldLeft(
      inserts.unionByName(deletes, allowMissingColumns = true))(
      (acc, leg) => acc.unionByName(leg, allowMissingColumns = true))
  }

  /** The MATERIALIZED change feed over (vFrom, vTo]: per-commit change
    * events as a JOIN-FREE file scan — the streamable CDC read that
    * [[diff]] (compute-on-read, net-of-interval) is the fallback for.
    * Per commit kind:
    *
    *  - create/append: the inserts ARE the commit's added data files
    *    (read directly, tagged `insert` — appends never double-write);
    *  - delete/merge: the commit's cdc/ files, written at commit time
    *    with the old and new rows already in hand (`delete`, or
    *    `insert` + `update_preimage`/`update_postimage` pairs);
    *  - compact/cluster: no logical change, contributes nothing.
    *
    * Unlike diff's net semantics, this feed is PER-COMMIT: a row
    * inserted at v2 and deleted at v4 appears in both legs (exactly
    * what an incremental consumer replaying the log wants). Cost ∝ the
    * commits' deltas, never the table. Tables whose delete/merge
    * commits predate change-file materialization read those commits as
    * empty — use [[diff]] for them.
    */
  def changes(spark: SparkSession, root: String, vFrom: Int, vTo: Int): DataFrame = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    require(vFrom <= vTo, s"changes($vFrom, $vTo): vFrom must be <= vTo")
    val frames = ((vFrom + 1) to vTo).flatMap { v =>
      val m = readManifest(fs, rp, v)
      // every leg carries its commit version (the Delta-CDF
      // _commit_version convention): a multi-commit consumer can order
      // and attribute events — insert-at-v2 then delete-at-v4 would
      // otherwise arrive indistinguishable from the reverse history
      def stamped(df: DataFrame): DataFrame =
        df.withColumn("_commit_version", lit(v.toLong))
      // An overwrite contributes BOTH legs: its cdc files are the
      // delete events of every replaced row (materialized at commit
      // while the parent's files were in hand) and its inserts are the
      // added data files — the same self-contained per-commit shape as
      // the other ops, at the cost CDC of a replacement inherently has.
      val insertLeg: Seq[DataFrame] = m.op match {
        case "create" | "append" | "overwrite" =>
          val added = m.addedPaths match {
            case Some(ap) => m.files.filter(f => ap.contains(f.path))
            case None =>
              // legacy manifest without per-file added flags: derive
              // from the parent's file list (requires the parent to
              // still be retained — readManifest is loud if expired)
              val parentPaths =
                if (m.parent == 0) Set.empty[String]
                else readManifest(fs, rp, m.parent).files.map(_.path).toSet
              m.files.filterNot(f => parentPaths.contains(f.path))
          }
          if (added.isEmpty) Nil
          else Seq(stamped(readFiles(spark, rp, m, added)
            .withColumn("change_type", lit("insert"))))
        case _ => Nil
      }
      val cdcLeg: Seq[DataFrame] = m.op match {
        case "delete" | "merge" | "overwrite" | "update" =>
          // Capability check, loud (the CellGuard convention — enforced
          // bounds, not documented ones): an empty cdc list is only a
          // provably-empty feed when the manifest RECORDS that
          // materialization was on. cdcDone=false (written by an older
          // build that could switch materialization off) and a pre-flag
          // manifest with no cdc files both mean the events
          // were never written — reading them as "no changes" would
          // silently understate the feed.
          m.cdcDone match {
            case Some(false) => throw new IllegalStateException(
              s"changes($vFrom, $vTo) at $root: v$v (${m.op}) committed " +
              "with change materialization OFF — its events were never " +
              s"written; recover them with diff(root, ${v - 1}, $v, keys)")
            case None if m.cdc.isEmpty =>
              throw new IllegalStateException(
                s"changes($vFrom, $vTo) at $root: v$v (${m.op}) predates " +
                "change-file materialization (no cdc capability recorded), " +
                "so an empty feed is indistinguishable from unwritten " +
                s"events; recover them with diff(root, ${v - 1}, $v, keys)")
            case _ => () // Some(true), or legacy with cdc files present
          }
          if (m.cdc.isEmpty) Nil
          else {
            val schema = parseSchema(m.schemaJson)
              .add("change_type", org.apache.spark.sql.types.StringType)
            Seq(stamped(spark.read.schema(schema)
              .parquet(m.cdc.map(c => new Path(rp, c.path).toString): _*)))
          }
        case _ => Nil // compact/cluster: lossless rewrites change nothing
      }
      cdcLeg ++ insertLeg
    }
    frames match {
      case Seq() =>
        val schema = parseSchema(readManifest(fs, rp, vTo).schemaJson)
          .add("change_type", org.apache.spark.sql.types.StringType)
          .add("_commit_version", org.apache.spark.sql.types.LongType)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case fs0 => fs0.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** The table's commit log, oldest RETAINED first: one row per
    * version with its op, parent, file count, row count, total bytes,
    * and streaming watermark — the operational `DESCRIBE HISTORY`
    * every table format grows. O(versions), not O(versions × files):
    * each row comes from [[readManifestSummary]]'s header-only read
    * (the summary keys ride above the file list), so a 1,000-version
    * table with 10⁶-file manifests pays 1,000 small reads, not ~6
    * minutes of full manifest parses. Expired versions are simply
    * absent (the [[versions]] listing is the source of truth).
    */
  def history(spark: SparkSession, root: String): Seq[(Int, String, Int, Int, Long, Long, String, Long, Long)] = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    versions(fs, rp).map { v =>
      val m = readManifestSummary(fs, rp, v)
      (m.version, m.op, m.parent, m.fileCount, m.totalRows,
        m.totalBytes, m.streamId, m.streamBatch, m.timestampMs)
    }
  }

  /** Resolve TIMESTAMP AS OF: the latest retained version whose commit
    * timestamp is <= `tsMs` — "the table as a reader at that instant
    * saw it" (commit stamps are monotone per table, so this is
    * well-defined). Loud when `tsMs` predates the earliest retained
    * commit — after [[expire]] that is the retention boundary, and
    * silently answering from a later version would misrepresent
    * history. O(versions) header reads, same cost class as [[history]].
    */
  def versionAt(spark: SparkSession, root: String, tsMs: Long): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val vs = versions(fs, rp)
    require(vs.nonEmpty, s"no committed snapshot at $root")
    val stamped = vs.map(v => v -> readManifestSummary(fs, rp, v).timestampMs)
    stamped.filter(_._2 <= tsMs).lastOption match {
      case Some((v, _)) => v
      case None => throw new NoSuchElementException(
        s"no snapshot at $root as of timestamp $tsMs — the earliest " +
        s"retained commit is v${stamped.head._1} at ${stamped.head._2} ms" +
        (if (stamped.head._1 > 1) " (earlier versions were removed by expire())"
         else ""))
    }
  }

  /** Time-travel read by wall clock: [[read]] at [[versionAt]]`(tsMs)`. */
  def readAsOf(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    read(spark, root, Some(versionAt(spark, root, tsMs)))

  /** RETENTION: drop every manifest older than the last `keepLast`
    * versions, so the data/cdc files those versions exclusively
    * referenced become unreferenced and [[vacuum]] can reclaim them —
    * without this, every compact/cluster/merge/delete retains its
    * superseded files FOREVER (a table that compacts daily doubles its
    * dead storage every rewrite cycle; at 100 TB that is the first
    * operational wall a long-lived deployment hits — Iceberg's
    * `expireSnapshots`, Delta's `VACUUM ... RETAIN`). Returns the
    * number of versions expired.
    *
    * Time travel, [[diff]], or [[changes]] into the expired range fail
    * LOUDLY naming the retention boundary (see [[openManifest]]); the
    * retained range keeps working because every post-flag manifest is
    * self-contained (per-file added flags — no parent reads). Like
    * [[vacuum]], expiry is a maintenance operation: choose `keepLast`
    * to exceed the longest-running reader's lookback, since a reader
    * holding an already-parsed manifest keeps working (data files
    * survive until vacuum) but one about to OPEN an expiring manifest
    * races with the delete.
    *
    * CRASH IDEMPOTENCE: the per-manifest deletes are not atomic as a
    * group — a crash (or the loud first-failure throw) can leave the
    * expiry PARTIALLY applied. That state is safe, not torn: retention
    * is monotone (deletes proceed oldest-first, so the surviving
    * manifests are still a contiguous suffix... except when an
    * individual delete fails mid-walk, which the throw surfaces), and
    * [[versions]]/[[history]]/[[vacuum]] all walk the LISTING, never an
    * assumed range — so reads, GC, and a RE-RUN of the same expire all
    * behave correctly in the interim, and the re-run completes the
    * partial expiry (pinned by SnapshotTableSpec's partial-expire
    * spec).
    */
  def expire(spark: SparkSession, root: String, keepLast: Int): Int = {
    require(keepLast >= 1, s"expire: keepLast must be >= 1, got $keepLast")
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val tip = latestVersion(fs, rp)
    require(tip > 0, s"no committed snapshot at $root")
    dropManifests(fs, rp, versions(fs, rp).filter(_ <= tip - keepLast), root)
  }

  /** TIME-BASED retention: drop every manifest whose commit timestamp
    * is strictly BEFORE `olderThanMs` — `expire(olderThan = now - 7d)`
    * is how a real deployment states retention (Delta's
    * `VACUUM ... RETAIN n HOURS`, Iceberg's
    * `expireSnapshots(olderThan)`); count-based [[expire]] needs the
    * operator to know the commit rate. The TIP always survives
    * regardless of age (a table must keep at least its current
    * version), and because commit stamps are monotone the expired set
    * is a prefix — the same contiguous-suffix retention shape as
    * [[expire]], same crash-idempotence contract. Legacy manifests
    * with no stamp (-1) count as infinitely old. Returns the number of
    * versions expired.
    */
  def expireOlderThan(spark: SparkSession, root: String, olderThanMs: Long): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    val tip = latestVersion(fs, rp)
    require(tip > 0, s"no committed snapshot at $root")
    val expired = versions(fs, rp)
      .filter(v => v != tip && readManifestSummary(fs, rp, v).timestampMs < olderThanMs)
    dropManifests(fs, rp, expired, root)
  }

  private def dropManifests(fs: FileSystem, rp: Path, expired: Seq[Int],
                            root: String): Int = {
    expired.foreach { v =>
      if (!fs.delete(manifestPath(rp, v), false))
        throw new java.io.IOException(
          s"expire failed to delete manifest v$v at $root")
    }
    expired.size
  }

  /** Delete data files referenced by NO manifest (failed-commit and
    * crash orphans), plus `.staging-<uuid>` directories left by writers
    * that died between the parquet write and the staging→data renames —
    * without this the crash debris of every torn write accumulates
    * unboundedly under the table root. Maintenance-window only: a
    * commit IN FLIGHT has staged files that look orphaned — real
    * formats age-gate candidates before reclaiming; here the caller
    * quiesces writers instead (the documented contract, which is also
    * what makes deleting ALL staging dirs safe). Returns the number of
    * files/directories removed.
    */
  def vacuum(spark: SparkSession, root: String): Int = {
    val rp = new Path(root)
    val fs = fsOf(spark, rp)
    // RETAINED manifests only (versions(), never 1..latest — expired
    // manifests are gone): files referenced exclusively by an expired
    // version are exactly what expire() made reclaimable here
    val manifests = versions(fs, rp).map(v => readManifest(fs, rp, v))
    val referenced = manifests.iterator.flatMap(_.files.map(_.path)).toSet ++
      manifests.iterator.flatMap(_.cdc.map(_.path))
    def sweep(dir: Path, prefix: String): Int =
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).iterator
        .filter(s => s.isFile && !referenced.contains(s"$prefix/${s.getPath.getName}"))
        .map { s =>
          if (!fs.delete(s.getPath, false))
            throw new java.io.IOException(s"vacuum failed to delete ${s.getPath}")
          1
        }.sum
    val orphans = sweep(dataDir(rp), "data") + sweep(cdcDir(rp), "cdc")
    val staging =
      if (!fs.exists(rp)) 0
      else fs.listStatus(rp).iterator
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".staging-"))
        .map { s =>
          if (!fs.delete(s.getPath, true))
            throw new java.io.IOException(s"vacuum failed to delete ${s.getPath}")
          1
        }.sum
    orphans + staging
  }
}
