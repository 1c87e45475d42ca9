package graft.sources.v2

import graft.sources.SnapshotTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 surface for the snapshot table format — the
  * `spark.read.format(...)`/SQL ergonomics over [[SnapshotTable]]'s
  * Scala API (the programmatic path stays; this wraps identical
  * semantics for reader users):
  *
  * {{{
  *   spark.read.format("graft-snapshot")
  *     .option("path", root)
  *     .option("versionAsOf", 3)          // time travel; default tip
  *     .load()
  *     .where($"o_orderkey".between(lo, hi)) // files pruned at the SOURCE
  *
  *   spark.read.format("graft-snapshot")
  *     .option("path", root).option("mode", "changes")
  *     .option("changesFrom", 0).option("changesTo", 2)
  *     .load()                            // the materialized feed
  *
  *   spark.readStream.format("graft-snapshot")
  *     .option("path", root).option("mode", "changes")
  *     .load()                            // feed as a micro-batch stream
  * }}}
  *
  * The version is PINNED when the table object is created (explicit
  * `versionAsOf`, else the tip at `load()` time): a snapshot's files
  * are immutable, so the frame stays stable no matter what commits
  * after — the same isolation [[SnapshotTable.read]] gives, now
  * holding across Spark's own re-planning.
  *
  * Three pushdowns run below the optimizer:
  *
  *  - '''Envelope pruning into partition planning''' — range
  *    predicates (`=/</<=/>/>=/IN`) on the stats column AND on any
  *    other integral column (the manifest's secondary envelopes,
  *    round 17) intersect each file's [min,max], so a pruned file is
  *    never scheduled as an input partition at all (q277's readRange
  *    semantics, now below the DataFrame API). The predicates stay
  *    residual — file-level pruning is conservative, Spark still
  *    filters rows — so accepted vs applied never diverges.
  *  - '''Column pruning to the parquet projection''' — required
  *    columns become the parquet read schema; unprojected columns are
  *    never decoded. A scan that needs NO file column (`count()`)
  *    reads only footer row counts and emits constant rows.
  *  - '''Schema evolution null-fill''' — a required column missing
  *    from an old file (pre-evolution) reads as null, mirroring
  *    [[SnapshotTable.read]]'s clipped-schema semantics.
  *
  * `mode=changes` reads the materialized change feed
  * ([[SnapshotTable.changes]] exactly: appends' inserts ARE their
  * added data files — the per-file a/c manifest flags make each leg
  * self-contained — and delete/merge legs are their cdc/ files, with
  * the same LOUD capability check for commits whose events were never
  * written). Each leg carries constant `change_type`/`_commit_version`
  * columns synthesized in the reader, never joined. The same table
  * supports `readStream` (MICRO_BATCH_READ): offsets are COMMIT
  * VERSIONS, each trigger plans the legs of `(lastCommitted, tip]`,
  * `maxVersionsPerTrigger` rate-limits a backlog — the
  * ingest → merge → live-incremental-view loop (q282's signed-refresh
  * pattern) closed with checkpointed exactly-once version delivery.
  *
  * Scale shape: one input partition per data/cdc file — files are
  * written at the ~128 MB compaction target, so this is the same task
  * granularity Spark's own parquet source plans, without a driver-side
  * listing (the manifest IS the listing). Readers decode via the
  * parquet example Group API per file — plumbing-level row
  * materialization (no whole-stage codegen inside the reader);
  * supported leaf types are the table format's (boolean/integrals/
  * float/double/string/binary/date/timestamp/decimal), loud on
  * anything else.
  */
class SnapshotTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  /** One resolution per load(): Spark calls `inferSchema` then
    * `getTable` back-to-back on a FRESH provider instance per load, and
    * each used to call [[SnapshotV2Table.resolve]] independently — two
    * full O(files) manifest reads, and (worse) a commit landing between
    * them pinned two DIFFERENT versions, so the plan schema could come
    * from one snapshot and the scanned manifest from another, breaking
    * the documented "version is PINNED at load()" isolation. The cache
    * is keyed by the normalized options so the second call provably
    * reuses the first's pinned resolution; being instance-level, it is
    * load()-scoped by construction (a later load() gets a fresh
    * provider, and with it the new tip).
    */
  @transient private var cached: Option[(Map[String, String], SnapshotV2Table.Resolved)] = None

  private def resolveOnce(options: CaseInsensitiveStringMap): SnapshotV2Table.Resolved =
    synchronized {
      import scala.jdk.CollectionConverters._
      val key = options.asCaseSensitiveMap().asScala.toMap
        .map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
      cached match {
        case Some((k, r)) if k == key => r
        case _ =>
          val r = SnapshotV2Table.resolve(options)
          cached = Some((key, r))
          r
      }
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolveOnce(options).readSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new SnapshotV2Table(resolveOnce(new CaseInsensitiveStringMap(properties)))
}

private[v2] object SnapshotV2Table {
  /** Everything the scan needs, resolved ONCE per load(): the pinned
    * manifest (data mode) or the pinned change range (changes mode).
    */
  case class Resolved(root: String, mode: String,
                      manifest: SnapshotTable.Manifest,
                      changesFrom: Int, changesTo: Int) {
    def tableSchema: StructType = {
      val st = DataType.fromJson(manifest.schemaJson).asInstanceOf[StructType]
      // file-source convention (and SnapshotTable.read's observable
      // behavior): everything nullable on read — schema evolution
      // null-fills, and a reader never trusts file-level nullability
      StructType(st.fields.map(_.copy(nullable = true)))
    }
    def readSchema: StructType =
      if (mode == "changes")
        tableSchema.add("change_type", StringType)
          .add("_commit_version", LongType)
      else tableSchema
  }

  def resolve(options: CaseInsensitiveStringMap): Resolved = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-snapshot needs option path=<table root>"))
    val spark = org.apache.spark.sql.SparkSession.active
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tip = SnapshotTable.latestVersion(fs, rp)
    require(tip > 0, s"no committed snapshot at $root")
    val mode = options.getOrDefault("mode", "data")
    mode match {
      case "data" =>
        val v = Option(options.get("versionAsOf")).map(_.toInt).getOrElse(tip)
        Resolved(root, mode, SnapshotTable.readManifest(fs, rp, v), 0, 0)
      case "changes" =>
        val from = options.getOrDefault("changesFrom", "0").toInt
        val to = Option(options.get("changesTo")).map(_.toInt).getOrElse(tip)
        require(from <= to, s"changesFrom ($from) must be <= changesTo ($to)")
        // schema comes from the END of the range (widest under the
        // evolution rules — older legs null-fill)
        Resolved(root, mode, SnapshotTable.readManifest(fs, rp, to), from, to)
      case other => throw new IllegalArgumentException(
        s"graft-snapshot mode must be data or changes, got $other")
    }
  }

  /** The feed legs of one commit as input partitions — the partition-
    * planning twin of [[SnapshotTable.changes]]'s per-commit frames,
    * INCLUDING its loud capability check. Driver-side, O(manifest).
    */
  def changeLegs(spark: org.apache.spark.sql.SparkSession, root: String,
                 vFrom: Int, vTo: Int): Seq[SnapshotFilePartition] = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ((vFrom + 1) to vTo).flatMap { v =>
      val m = SnapshotTable.readManifest(fs, rp, v)
      // overwrite contributes BOTH legs (deletes of every replaced row
      // from its cdc files, inserts from its added files) — the same
      // split as SnapshotTable.changes
      val insertLegs: Seq[SnapshotFilePartition] = m.op match {
        case "create" | "append" | "overwrite" =>
          val added = m.addedPaths match {
            case Some(ap) => m.files.filter(f => ap.contains(f.path))
            case None =>
              val parentPaths =
                if (m.parent == 0) Set.empty[String]
                else SnapshotTable.readManifest(fs, rp, m.parent).files.map(_.path).toSet
              m.files.filterNot(f => parentPaths.contains(f.path))
          }
          added.map(f => SnapshotFilePartition(
            new Path(rp, f.path).toString, m.schemaJson,
            constChangeType = Some("insert"), commitVersion = Some(v.toLong)))
        case _ => Nil
      }
      val cdcLegs: Seq[SnapshotFilePartition] = m.op match {
        case "delete" | "merge" | "overwrite" | "update" =>
          m.cdcDone match {
            case Some(false) => throw new IllegalStateException(
              s"graft-snapshot changes($vFrom, $vTo) at $root: v$v (${m.op}) " +
              "committed with change materialization OFF — its events were " +
              s"never written; recover them with SnapshotTable.diff(root, ${v - 1}, $v, keys)")
            case None if m.cdc.isEmpty => throw new IllegalStateException(
              s"graft-snapshot changes($vFrom, $vTo) at $root: v$v (${m.op}) " +
              "predates change-file materialization; recover with " +
              s"SnapshotTable.diff(root, ${v - 1}, $v, keys)")
            case _ => ()
          }
          m.cdc.map(c => SnapshotFilePartition(
            new Path(rp, c.path).toString,
            // cdc files persist change_type themselves
            schemaWithChangeType(m.schemaJson),
            constChangeType = None, commitVersion = Some(v.toLong)))
        case _ => Nil // compact/cluster: lossless rewrites
      }
      cdcLegs ++ insertLegs
    }
  }

  def schemaWithChangeType(schemaJson: String): String =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]
      .add("change_type", StringType).json
}

private[v2] class SnapshotV2Table(resolved: SnapshotV2Table.Resolved)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String =
    s"graft_snapshot_${new Path(resolved.root).getName}_v${resolved.manifest.version}"
  override def schema(): StructType = resolved.readSchema

  /** `_file` — the one metadata column the format can serve for free
    * (each input partition IS one file): row provenance for users, and
    * the GROUP handle Spark's row-level rewrites filter on.
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "absolute path of the data file the row came from"
    })

  /** SQL MERGE INTO / UPDATE / DELETE — group-based copy-on-write:
    * Spark's rewrite reads the affected groups (runtime-filtered to
    * the files that actually contain matches, via `_file` IN (...) on
    * [[SnapshotRowLevelScan]]), produces their full new content, and
    * the commit REPLACES exactly those files
    * ([[SnapshotTable.replaceFiles]] — loud on any concurrent commit
    * that touched them; the Scala `merge` keeps the self-retrying
    * surgical path). Requires `mode=data` like every write.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(resolved.mode == "data",
      "row-level operations apply to the table, not the change feed — drop mode=changes")
    () => new SnapshotRowLevelOperation(resolved, info.command())
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(resolved, options)

  /** The WRITE half of the surface — three entry points, one task-side
    * pipeline:
    *
    *  - `df.write...mode("append")`: executor tasks stream rows
    *    straight into parquet files under a staging dir, computing
    *    every integral column's stats envelope ON THE FLY (rows in
    *    hand — no footer read-back, no second scan); the driver
    *    installs the staged files through the same optimistic
    *    commitLoop as [[SnapshotTable.append]] (bounded retries, loud
    *    schema-race check, null stats keys rejected at the task).
    *  - `mode("overwrite")` / `INSERT OVERWRITE` (SupportsTruncate):
    *    same task pipeline; the driver commits a whole-table REPLACE
    *    version under snapshot isolation via
    *    [[SnapshotTable.overwriteFiles]] (prior versions stay
    *    readable; the change feed gets the replacement's full
    *    delete+insert events).
    *  - `df.writeStream.format("graft-snapshot")`: the streaming sink;
    *    each micro-batch commits through the manifest-internal
    *    (queryId, batchId) watermark, so delivery is exactly-once per
    *    checkpoint lineage ([[SnapshotTable.streamingAppendFiles]]).
    *
    * The table must already exist (create()/createEmpty() is the
    * one-time bootstrap that declares the stats column), and the
    * written schema must match the tip's exactly — widenings go
    * through `SnapshotTable.appendEvolved`, loudly.
    */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(resolved.mode == "data",
      "graft-snapshot writes go to the table, not the change feed — drop mode=changes")
    val tableSchema = resolved.tableSchema
    val in = info.schema()
    // Path-based save() resolves columns BY NAME against the table
    // schema (spec-pinned: a column-swapped frame lands un-transposed)
    // and Spark checks arity/compatibility before rows reach the
    // writer. This require is the invariant net for any write path
    // that reaches here without that normalization.
    require(in.fields.map(f => (f.name, f.dataType)).toSeq ==
      tableSchema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"strict write: the written schema must match the tip's " +
      s"(${tableSchema.simpleString}), got ${in.simpleString} — use " +
      "SnapshotTable.appendEvolved for widenings")
    new SnapshotWriteBuilder(resolved.root, resolved.manifest, in,
      info.queryId())
  }
}

private[v2] class SnapshotWriteBuilder(root: String,
                                       tip: SnapshotTable.Manifest,
                                       schema: StructType,
                                       queryId: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  import org.apache.spark.sql.connector.write._

  // mode("overwrite") / INSERT OVERWRITE arrive as truncate() — the
  // commit becomes a whole-table REPLACE version instead of an append
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new SnapshotBatchWrite(root, tip, schema, overwrite)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      // loud, not silent: complete/truncate output modes would replace
      // the table every trigger — not a streaming-table semantics this
      // format offers (and silently appending instead would be worse)
      require(!overwrite,
        "graft-snapshot streaming writes are append-only — use " +
        "outputMode(\"append\"); complete/update are not supported")
      new SnapshotStreamingWrite(root, tip, schema, queryId)
    }
  }
}

/** Shared driver-side install step: rename ONLY the files named by
  * committed tasks out of staging into data/ under fresh UUID names
  * (speculative or failed attempts' files stay behind and die with the
  * staging dir), returning their manifest metadata with the envelopes
  * the tasks computed on the fly.
  */
private[v2] object SnapshotWriteInstall {
  def install(fs: org.apache.hadoop.fs.FileSystem, rp: Path,
              stagingName: String,
              messages: Seq[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Seq[SnapshotTable.DataFileMeta] =
    messages.map(_.asInstanceOf[SnapshotWriteCommit])
      .filter(_.rows > 0)
      .map { m =>
        val name = s"${java.util.UUID.randomUUID()}.parquet"
        fs.mkdirs(new Path(rp, "data"))
        val src = new Path(rp, s"$stagingName/${m.name}")
        val dst = new Path(rp, s"data/$name")
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"staging move failed: $src -> $dst")
        SnapshotTable.DataFileMeta(s"data/$name", m.rows,
          fs.getFileStatus(dst).getLen, m.lo, m.hi, m.colStats)
      }
}

private[v2] class SnapshotBatchWrite(root: String,
                                     tip: SnapshotTable.Manifest,
                                     schema: StructType,
                                     overwrite: Boolean)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  private val stagingName = s".staging-${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    SnapshotWriterFactory(s"$root/$stagingName", schema.json, tip.statsCol,
      // the SESSION's Hadoop conf, serialized into the factory: a blank
      // Configuration on executors silently drops spark.hadoop.* (s3a
      // credentials, custom fs impls) that the driver half and the v1
      // path both honor
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metas = SnapshotWriteInstall.install(fs, rp, stagingName, messages.toSeq)
    fs.delete(new Path(s"$root/$stagingName"), true)
    if (overwrite)
      SnapshotTable.overwriteFiles(spark, root, metas, tip.schemaJson): Unit
    else
      SnapshotTable.appendFiles(spark, root, metas, tip.schemaJson): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$root/$stagingName"), true): Unit
  }
}

/** The STREAMING sink half (`df.writeStream.format("graft-snapshot")`):
  * every micro-batch runs the same task-side parquet pipeline into one
  * shared staging dir (file names carry the epoch, so concurrent
  * retried epochs never collide), and each epoch's commit installs its
  * files then delegates to [[SnapshotTable.streamingAppendFiles]] —
  * the manifest-internal (queryId, batchId) watermark, so a replayed
  * epoch after a restart is DETECTED at the atomic commit point and
  * its freshly-installed files are deleted again (unreferenced either
  * way; eager delete just beats vacuum to it). The staging dir of a
  * stopped stream is crash debris by design — `vacuum()` sweeps
  * `.staging-*` dirs, the documented reclamation path.
  */
private[v2] class SnapshotStreamingWrite(root: String,
                                         tip: SnapshotTable.Manifest,
                                         schema: StructType,
                                         queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write._

  private val stagingName = s".staging-${java.util.UUID.randomUUID()}"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : streaming.StreamingDataWriterFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    SnapshotWriterFactory(s"$root/$stagingName", schema.json, tip.statsCol,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metas = SnapshotWriteInstall.install(fs, rp, stagingName, messages.toSeq)
    val v = SnapshotTable.streamingAppendFiles(spark, root, metas,
      tip.schemaJson, queryId, epochId)
    if (v == -1)
      // replay of an already-delivered batch: the files just installed
      // are referenced by no manifest — remove them eagerly
      metas.foreach(m => fs.delete(new Path(rp, m.path), false))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val rp = new Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.filter(_ != null).map(_.asInstanceOf[SnapshotWriteCommit])
      .foreach(m => fs.delete(new Path(rp, s"$stagingName/${m.name}"), false))
  }
}

/** One SQL row-level statement (MERGE INTO / UPDATE / DELETE) as a
  * group-based copy-on-write: Spark wires the SAME operation instance
  * into both halves of its rewrite — the scan that reads the affected
  * groups and the write that replaces them — so the file set the scan
  * finally planned (post runtime filtering) IS the replacement set the
  * commit removes. The scan builder is cached (the Iceberg discipline):
  * Spark's runtime group-filter subquery goes through the TABLE's
  * regular scan builder, so the one row-level scan here is exactly the
  * one the rewrite executes.
  */
private[v2] class SnapshotRowLevelOperation(
    val resolved: SnapshotV2Table.Resolved,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import org.apache.spark.sql.connector.write._

  /** Relative paths of the files the rewrite's scan planned AFTER
    * runtime filtering — None until the scan planned partitions, and a
    * commit before that is a wiring bug worth failing loudly on.
    */
  @volatile private[v2] var plannedPaths: Option[Set[String]] = None

  private lazy val cachedScanBuilder = new SnapshotRowLevelScanBuilder(this)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    cachedScanBuilder

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the rewrite writes TABLE rows; metadata columns, if Spark left
    // any projected, are not file content
    val in = StructType(info.schema().fields.filterNot(_.name == "_file"))
    val tableSchema = resolved.tableSchema
    require(in.fields.map(f => (f.name, f.dataType)).toSeq ==
      tableSchema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"row-level ${cmd} writes the table schema " +
      s"(${tableSchema.simpleString}), got ${in.simpleString}")
    new SnapshotRowLevelWriteBuilder(this, in)
  }

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))
}

private[v2] class SnapshotRowLevelScanBuilder(op: SnapshotRowLevelOperation)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = op.resolved.tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new SnapshotRowLevelScan(op, required)
}

/** The rewrite-side scan: all of the pinned snapshot's files until
  * Spark's runtime group filter narrows them — `filterAttributes` is
  * `_file`, and the engine pushes `_file IN (matching files)` computed
  * from the join condition against the source, so only groups that
  * actually contain matches are read, rewritten, and replaced (the
  * copy-on-write surgical property, preserved through SQL). Unknown
  * predicate shapes narrow nothing — conservative both ways, because
  * the replacement set is ALWAYS exactly what this scan planned.
  */
private[v2] class SnapshotRowLevelScan(op: SnapshotRowLevelOperation,
                                       required: StructType)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  private val root = new Path(op.resolved.root)
  @volatile private var candidates: Seq[SnapshotTable.DataFileMeta] =
    op.resolved.manifest.files

  private def absOf(f: SnapshotTable.DataFileMeta): String =
    new Path(root, f.path).toString

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot row-level ${op.command()} ${op.resolved.root} " +
    s"files=${candidates.size}/${op.resolved.manifest.files.size}"

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    def isFileRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference => r.fieldNames().toSeq == Seq("_file")
        case _ => false
      }
    def values(es: Seq[org.apache.spark.sql.connector.expressions.Expression]): Option[Set[String]] = {
      val vs = es.collect { case l: Literal[_] if l.value() != null => l.value().toString }
      if (vs.length == es.length) Some(vs.toSet) else None
    }
    val sets = predicates.toSeq.flatMap { p =>
      val kids = p.children().toSeq
      p.name() match {
        case "IN" if kids.nonEmpty && isFileRef(kids.head) => values(kids.tail)
        case "=" if kids.length == 2 && isFileRef(kids.head) => values(kids.tail)
        case _ => None // unknown shape: keep all candidates (conservative)
      }
    }
    sets.reduceOption(_ intersect _).foreach { keep =>
      candidates = candidates.filter(f => keep.contains(absOf(f)))
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    op.plannedPaths = Some(candidates.map(_.path).toSet)
    candidates.map(f => SnapshotFilePartition(absOf(f),
      op.resolved.manifest.schemaJson, None, None): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotReaderFactory(required.json,
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration))
}

private[v2] class SnapshotRowLevelWriteBuilder(op: SnapshotRowLevelOperation,
                                               schema: StructType)
    extends org.apache.spark.sql.connector.write.WriteBuilder {
  import org.apache.spark.sql.connector.write._

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      private val stagingName = s".staging-${java.util.UUID.randomUUID()}"
      private val root = op.resolved.root

      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
        val spark = org.apache.spark.sql.SparkSession.active
        SnapshotWriterFactory(s"$root/$stagingName", schema.json,
          op.resolved.manifest.statsCol,
          new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration))
      }

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val spark = org.apache.spark.sql.SparkSession.active
        val rp = new Path(root)
        val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val replaced = op.plannedPaths.getOrElse(throw new IllegalStateException(
          s"row-level ${op.command()} at $root committed before its scan " +
          "planned partitions — rewrite wiring bug"))
        val metas = SnapshotWriteInstall.install(fs, rp, stagingName, messages.toSeq)
        fs.delete(new Path(s"$root/$stagingName"), true)
        SnapshotTable.replaceFiles(spark, root, replaced, metas,
          op.resolved.manifest.schemaJson,
          op.command().toString.toLowerCase(java.util.Locale.ROOT)): Unit
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit = {
        val spark = org.apache.spark.sql.SparkSession.active
        val rp = new Path(root)
        val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(s"$root/$stagingName"), true): Unit
      }
    }
  }
}

private[v2] case class SnapshotWriteCommit(name: String, rows: Long,
                                           lo: Long, hi: Long,
                                           colStats: Map[String, (Long, Long)])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** Executor-side InternalRow → parquet writers (example Group API,
  * the write twin of [[SnapshotReaderFactory]]): one file per task
  * attempt under the staging dir — distinct names per attempt (and per
  * epoch on the streaming path), so retries/speculation never collide
  * and only committed attempts' files are installed. The stats
  * column's envelope and null check happen per row while writing, and
  * so do the SECONDARY envelopes of every other integral column (nulls
  * skipped — they can never satisfy the null-rejecting predicates
  * pruning serves), so the manifest's multi-column stats cost no
  * read-back on this path either.
  */
private[v2] case class SnapshotWriterFactory(stagingDir: String,
                                             schemaJson: String,
                                             statsCol: String,
                                             conf: org.apache.spark.util.SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    mkWriter(f"part-$partitionId%05d-$taskId.parquet")

  // streaming twin: the epoch rides in the file name so a retried
  // epoch's attempts are distinct files from the original's
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    mkWriter(f"part-$partitionId%05d-$taskId-e$epochId.parquet")

  private def mkWriter(name: String): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val statsIdx = schema.fieldIndex(statsCol)
    schema.fields(statsIdx).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"DSv2 write requires an integral stats column, $statsCol is ${other.simpleString}")
    }
    val pqSchema = SnapshotGroupConverters.toParquetSchema(schema)
    val path = new Path(s"$stagingDir/$name")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(path, conf.value))
      .withType(pqSchema)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(pqSchema)
    val setters = schema.fields.map(SnapshotGroupConverters.setterFor)

    new DataWriter[InternalRow] {
      private var rows = 0L
      private val nFields = schema.fields.length
      private val isIntegral: Array[Boolean] = schema.fields.map(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
      private val los = Array.fill(nFields)(Long.MaxValue)
      private val his = Array.fill(nFields)(Long.MinValue)
      private val seen = Array.fill(nFields)(false)

      private def longAt(row: InternalRow, i: Int): Long =
        schema.fields(i).dataType match {
          case LongType => row.getLong(i)
          case IntegerType => row.getInt(i).toLong
          case ShortType => row.getShort(i).toLong
          case ByteType => row.getByte(i).toLong
          case _ => throw new IllegalStateException("unreachable: gated by isIntegral")
        }

      override def write(row: InternalRow): Unit = {
        if (row.isNullAt(statsIdx))
          throw new IllegalArgumentException(
            s"stats column $statsCol is null on a written row — the " +
            "file-envelope contract requires a non-null integral key " +
            "on every row; filter or fill before writing")
        val g = factory.newGroup()
        var i = 0
        while (i < nFields) {
          if (!row.isNullAt(i)) {
            setters(i)(g, row, i)
            if (isIntegral(i)) {
              val k = longAt(row, i)
              if (k < los(i)) los(i) = k
              if (k > his(i)) his(i) = k
              seen(i) = true
            }
          }
          i += 1
        }
        writer.write(g)
        rows += 1
      }

      override def commit(): WriterCommitMessage = {
        writer.close()
        val secondary = schema.fields.indices.iterator
          .filter(i => i != statsIdx && isIntegral(i) && seen(i))
          .map(i => schema.fields(i).name -> (los(i), his(i))).toMap
        SnapshotWriteCommit(name, rows, los(statsIdx), his(statsIdx), secondary)
      }

      override def abort(): Unit = writer.close()
      override def close(): Unit = ()
    }
  }
}

private[v2] class SnapshotScanBuilder(resolved: SnapshotV2Table.Resolved,
                                      options: CaseInsensitiveStringMap)
    extends ScanBuilder with Scan with Batch
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private val statsCol = resolved.manifest.statsCol
  // per-COLUMN [lo, hi] bounds, intersected across predicates: the
  // stats column prunes against the contract envelope (minKey/maxKey),
  // every other column against its best-effort secondary envelope in
  // the manifest (DataFileMeta.colStats) — a file without stats for a
  // bounded column is simply never pruned on it
  private var bounds: Map[String, (Long, Long)] = Map.empty
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = resolved.readSchema

  private def tighten(c: String, lo: Long, hi: Long): Unit = {
    val (l0, h0) = bounds.getOrElse(c, (Long.MinValue, Long.MaxValue))
    bounds += c -> (math.max(l0, lo), math.min(h0, hi))
  }

  /** Envelope pruning below the optimizer: range predicates on ANY
    * column tighten that column's [lo, hi] before partitions are
    * planned. All the accepted shapes are null-rejecting, which is
    * what makes secondary envelopes (min/max over non-null values
    * only) sound prune evidence. ALL filters stay residual (returned
    * for Spark to re-evaluate) — envelopes prune FILES, not rows;
    * `pushedFilters` reports the range ones so the pruning is visible
    * in the plan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def asLong(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    pushed = filters.filter {
      case EqualTo(c, v) if asLong(v).isDefined =>
        tighten(c, asLong(v).get, asLong(v).get); true
      case GreaterThan(c, v) if asLong(v).exists(_ < Long.MaxValue) =>
        tighten(c, asLong(v).get + 1, Long.MaxValue); true
      case GreaterThanOrEqual(c, v) if asLong(v).isDefined =>
        tighten(c, asLong(v).get, Long.MaxValue); true
      case LessThan(c, v) if asLong(v).exists(_ > Long.MinValue) =>
        tighten(c, Long.MinValue, asLong(v).get - 1); true
      case LessThanOrEqual(c, v) if asLong(v).isDefined =>
        tighten(c, Long.MinValue, asLong(v).get); true
      // IN is a disjunction — its conservative envelope is
      // [min(values), max(values)], AND-able with the other bounds
      // (the q254 point-lookup shape: a 3-key IN prunes to the files
      // whose envelopes cover the key span)
      case org.apache.spark.sql.sources.In(c, vs)
          if vs.nonEmpty && vs.forall(asLong(_).isDefined) =>
        val longs = vs.map(asLong(_).get)
        tighten(c, longs.min, longs.max); true
      case _ => false
    }
    filters // all residual: file-level pruning is conservative
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private def prunedFiles: Seq[SnapshotTable.DataFileMeta] =
    resolved.manifest.files.filter { f =>
      bounds.forall { case (c, (lo, hi)) =>
        val env =
          if (c == statsCol) Some((f.minKey, f.maxKey)) else f.colStats.get(c)
        env.forall { case (mn, mx) => mn <= hi && mx >= lo }
      }
    }

  private def boundsDesc: String =
    bounds.toSeq.sortBy(_._1)
      .map { case (c, (lo, hi)) => s"$c=[$lo,$hi]" }.mkString(" ")

  override def description(): String =
    if (resolved.mode == "changes")
      s"graft-snapshot changes (${resolved.changesFrom}, ${resolved.changesTo}] " +
        s"${resolved.root} cols=[${required.fieldNames.mkString(",")}]"
    else
      s"graft-snapshot ${resolved.root} v${resolved.manifest.version} " +
        s"files=${prunedFiles.size}/${resolved.manifest.files.size} " +
        s"bounds{$boundsDesc} cols=[${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    if (resolved.mode == "changes")
      SnapshotV2Table.changeLegs(org.apache.spark.sql.SparkSession.active,
        resolved.root, resolved.changesFrom, resolved.changesTo).toArray
    else
      prunedFiles.map(f => SnapshotFilePartition(
        new Path(new Path(resolved.root), f.path).toString,
        resolved.manifest.schemaJson, None, None): InputPartition).toArray

  private def serializedConf(): org.apache.spark.util.SerializableConfiguration =
    // the SESSION's Hadoop conf, serialized into the factory (the
    // write path's discipline): a blank Configuration on executors
    // silently drops spark.hadoop.* the driver half honors
    new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotReaderFactory(required.json, serializedConf())

  /** The change feed as a resumable micro-batch stream: the offset is
    * the last commit version whose legs were delivered, so the
    * checkpoint gives exactly-once PER-COMMIT delivery (a version's
    * legs are planned in one micro-batch, and a micro-batch commits
    * its end offset only after its partitions succeed).
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // loud, not silent: a stream IS the change feed, and its schema
    // (change_type/_commit_version) only exists under mode=changes —
    // a data-mode readStream would bind the wrong schema
    require(resolved.mode == "changes",
      "graft-snapshot streaming reads are the change feed — " +
      "set .option(\"mode\", \"changes\") on readStream")
    val spark = org.apache.spark.sql.SparkSession.active
    // default startingVersion: the earliest RETAINED boundary, not 0 —
    // after expire() the log no longer starts at v1, and a fresh
    // stream defaulting to 0 would die in changeLegs on the first
    // missing manifest (Delta's startingVersion ergonomics: "earliest"
    // is also accepted explicitly; a NUMERIC pre-boundary start stays
    // loud, because silently skipping expired commits would understate
    // the feed)
    val startOpt = options.getOrDefault("startingVersion", "earliest")
    val starting =
      if (startOpt.equalsIgnoreCase("earliest")) {
        val rp = new Path(resolved.root)
        val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        SnapshotTable.versions(fs, rp).headOption.map(_ - 1).getOrElse(0)
      } else startOpt.toInt
    new SnapshotChangesStream(resolved.root, starting,
      Option(options.get("maxVersionsPerTrigger")).map { s =>
        val m = s.toInt
        require(m >= 1, s"maxVersionsPerTrigger must be >= 1, got $m")
        m
      },
      () => SnapshotReaderFactory(required.json, serializedConf()))
  }
}

/** One data/cdc file (plus the leg's constant columns) — the unit of
  * scan parallelism. Files are written at the compaction byte target,
  * so one-file-one-task is the same granularity Spark's parquet
  * source plans.
  */
private[v2] case class SnapshotFilePartition(
    absPath: String, fileSchemaJson: String,
    constChangeType: Option[String], commitVersion: Option[Long])
    extends InputPartition

private[graft] case class SnapshotStreamOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** Micro-batch stream over commit versions: each trigger plans the
  * change legs of `(lastCommitted, available]`, rate-limited by
  * `maxVersionsPerTrigger` ([[SupportsTriggerAvailableNow]] so
  * AvailableNow drains a snapshot of the backlog in capped batches).
  */
private[graft] class SnapshotChangesStream(
    root: String, startingVersion: Int, maxPerTrigger: Option[Int],
    mkFactory: () => PartitionReaderFactory)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def spark = org.apache.spark.sql.SparkSession.active
  private def tip(): Int = {
    val rp = new Path(root)
    SnapshotTable.latestVersion(
      rp.getFileSystem(spark.sparkContext.hadoopConfiguration), rp)
  }

  private var availableNowEnd: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(tip())
  private def availableEnd(): Int = availableNowEnd.getOrElse(tip())

  override def initialOffset(): Offset = SnapshotStreamOffset(startingVersion)

  override def deserializeOffset(json: String): Offset =
    SnapshotStreamOffset("\"version\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(
        s"not a graft-snapshot offset: $json"))
      .group(1).toInt)

  // "rows" here MEANS commit versions — ReadMaxRows is the only
  // count-shaped ReadLimit the engine round-trips, and each version is
  // one admission unit of this source
  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.fold(ReadLimit.allAvailable())(ReadLimit.maxRows(_))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "SupportsAdmissionControl: latestOffset(start, limit) is the entry point")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[SnapshotStreamOffset].version
    def capAt(n: Long): Int = math.min(availableEnd().toLong, from + n).toInt
    // honor the ENGINE's limit argument (Trigger.Once passes
    // ReadAllAvailable over the source's own default). A COMPOSITE
    // limit carries the
    // engine's combination (e.g. maxRows + minRows): extract the
    // ReadMaxRows component; any limit kind this source cannot
    // interpret falls back to ITS OWN cap, never to draining the
    // whole backlog — only an explicit ReadAllAvailable does that.
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxRows}
    val capped = limit match {
      case rows: ReadMaxRows => capAt(rows.maxRows())
      case comp: CompositeReadLimit =>
        comp.getReadLimits.collectFirst { case r: ReadMaxRows => r } match {
          case Some(rows) => capAt(rows.maxRows())
          case None => maxPerTrigger.fold(availableEnd())(m => capAt(m.toLong))
        }
      case _: ReadAllAvailable => availableEnd()
      case _ => maxPerTrigger.fold(availableEnd())(m => capAt(m.toLong))
    }
    SnapshotStreamOffset(math.max(from, capped))
  }

  override def reportLatestOffset(): Offset = SnapshotStreamOffset(tip())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotStreamOffset].version
    val e = end.asInstanceOf[SnapshotStreamOffset].version
    SnapshotV2Table.changeLegs(spark, root, s, e)
      .map(p => p: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = mkFactory()
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Executor-side parquet → InternalRow readers over the example Group
  * API. Column pruning reaches the parquet projection (unprojected
  * columns are never decoded); a partition whose required columns are
  * ALL constants/absent skips row decoding entirely and emits
  * footer-counted constant rows.
  */
private[v2] case class SnapshotReaderFactory(requiredJson: String,
                                             serConf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[SnapshotFilePartition]
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    // a COPY per reader: the projection below mutates the conf
    // (PARQUET_READ_SCHEMA), and the serialized session conf instance
    // is shared by every reader this factory creates on the executor
    val conf = new org.apache.hadoop.conf.Configuration(serConf.value)
    val fileSchema = DataType.fromJson(part.fileSchemaJson).asInstanceOf[StructType]
    val hPath = new Path(part.absPath)

    // the columns that must come from the FILE (present there and not
    // synthesized): everything else is a constant or a null-fill
    val fromFile = required.fields.filter { f =>
      fileSchema.fieldNames.contains(f.name) &&
        !(f.name == "change_type" && part.constChangeType.isDefined) &&
        f.name != "_commit_version"
    }

    val input = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hPath, conf)
    if (fromFile.isEmpty) {
      // count()-style scan: no decoded column — footer row count only
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(input)
      val n = try fr.getRecordCount finally fr.close()
      val row = InternalRow.fromSeq(required.fields.toIndexedSeq.map(f =>
        constOrNull(f, part)))
      new PartitionReader[InternalRow] {
        private var i = 0L
        override def next(): Boolean = { i += 1; i <= n }
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
    } else {
      // projection = the needed subset of the file's own schema (same
      // Type objects, so the parquet compatibility check always holds)
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(input)
      val pqSchema = try fr.getFooter.getFileMetaData.getSchema finally fr.close()
      val wanted = fromFile.map(_.name).toSet
      val projFields = pqSchema.getFields.iterator()
      val kept = new java.util.ArrayList[org.apache.parquet.schema.Type]()
      while (projFields.hasNext) {
        val t = projFields.next()
        if (wanted.contains(t.getName)) kept.add(t)
      }
      val projection = new org.apache.parquet.schema.MessageType("graft_projection", kept)
      conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
        projection.toString)
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), hPath)
        .withConf(conf).build()
      // one converter per REQUIRED field: file-backed fields decode,
      // the rest are constants (change_type/_commit_version) or null
      // (schema evolution: the column postdates this file)
      val convs: Array[org.apache.parquet.example.data.Group => Any] =
        required.fields.map { f =>
          if (projection.containsField(f.name) &&
              fromFile.exists(_.name == f.name)) {
            val idx = projection.getFieldIndex(f.name)
            val pq = projection.getFields.get(idx)
            val prim = SnapshotGroupConverters.converterFor(f, pq, part.absPath)
            (g: org.apache.parquet.example.data.Group) =>
              if (g.getFieldRepetitionCount(idx) == 0) null else prim(g, idx)
          } else {
            val const = constOrNull(f, part)
            (_: org.apache.parquet.example.data.Group) => const
          }
        }
      new PartitionReader[InternalRow] {
        private var current: org.apache.parquet.example.data.Group = _
        override def next(): Boolean = { current = reader.read(); current != null }
        override def get(): InternalRow =
          InternalRow.fromSeq(convs.toIndexedSeq.map(_(current)))
        override def close(): Unit = reader.close()
      }
    }
  }

  private def constOrNull(f: StructField, part: SnapshotFilePartition): Any =
    f.name match {
      case "change_type" if part.constChangeType.isDefined =>
        UTF8String.fromString(part.constChangeType.get)
      case "_commit_version" if part.commitVersion.isDefined =>
        part.commitVersion.get
      case "_file" => // metadata column: one partition IS one file
        UTF8String.fromString(part.absPath)
      case _ => null // column absent from this file (schema evolution)
    }
}

/** Parquet example-Group → Catalyst value converters for the leaf
  * types the table format supports. Driven by the SPARK field type,
  * validated against the parquet physical type — loud on any
  * combination outside the table format's contract.
  */
private[v2] object SnapshotGroupConverters {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import org.apache.parquet.schema.LogicalTypeAnnotation

  /** Spark schema → parquet MessageType for the write path, with the
    * logical annotations Spark's OWN parquet reader expects — so files
    * the DSv2 writer produces read identically through
    * [[SnapshotTable.read]] (Spark's vectorized reader) and through
    * [[SnapshotReaderFactory]]. All fields optional; same leaf-type
    * contract as the read side, loud otherwise.
    */
  def toParquetSchema(st: StructType): org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.Types
    val b = Types.buildMessage()
    st.fields.foreach { f =>
      val fb = f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case ShortType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(16, true))
        case ByteType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(8, true))
        case DoubleType => Types.optional(DOUBLE)
        case FloatType => Types.optional(FLOAT)
        case BooleanType => Types.optional(BOOLEAN)
        case StringType => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.optional(BINARY)
        case DateType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType())
        case TimestampType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case d: DecimalType if d.precision <= 18 => Types.optional(INT64)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        case d: DecimalType => Types.optional(FIXED_LEN_BYTE_ARRAY)
          .length(16).as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        case other => throw new IllegalArgumentException(
          s"graft-snapshot writer: unsupported Spark type ${other.simpleString} " +
          s"for ${f.name} — the table format's leaf-type contract")
      }
      b.addField(fb.named(f.name))
    }
    b.named("graft_snapshot")
  }

  /** Per-field InternalRow → Group setter (null already checked by
    * the caller). Strings/binaries COPY out of the row buffer — Spark
    * reuses the unsafe row across rows while parquet buffers values
    * until page flush.
    */
  def setterFor(f: StructField): (Group, InternalRow, Int) => Unit =
    f.dataType match {
      case LongType => (g, r, i) => g.add(i, r.getLong(i))
      case IntegerType => (g, r, i) => g.add(i, r.getInt(i))
      case ShortType => (g, r, i) => g.add(i, r.getShort(i).toInt)
      case ByteType => (g, r, i) => g.add(i, r.getByte(i).toInt)
      case DoubleType => (g, r, i) => g.add(i, r.getDouble(i))
      case FloatType => (g, r, i) => g.add(i, r.getFloat(i))
      case BooleanType => (g, r, i) => g.add(i, r.getBoolean(i))
      case StringType => (g, r, i) =>
        g.add(i, r.getUTF8String(i).toString)
      case BinaryType => (g, r, i) =>
        g.add(i, org.apache.parquet.io.api.Binary
          .fromConstantByteArray(r.getBinary(i)))
      case DateType => (g, r, i) => g.add(i, r.getInt(i))
      case TimestampType => (g, r, i) => g.add(i, r.getLong(i))
      case d: DecimalType if d.precision <= 18 => (g, r, i) =>
        g.add(i, r.getDecimal(i, d.precision, d.scale).toUnscaledLong)
      case d: DecimalType => (g, r, i) => {
        val bi = r.getDecimal(i, d.precision, d.scale)
          .toJavaBigDecimal.unscaledValue()
        val raw = bi.toByteArray
        val out = new Array[Byte](16)
        if (bi.signum() < 0) java.util.Arrays.fill(out, -1.toByte)
        System.arraycopy(raw, 0, out, 16 - raw.length, raw.length)
        g.add(i, org.apache.parquet.io.api.Binary.fromConstantByteArray(out))
      }
      case other => throw new IllegalArgumentException(
        s"graft-snapshot writer: unsupported Spark type ${other.simpleString} " +
        s"for ${f.name}")
    }

  def converterFor(f: StructField, pq: org.apache.parquet.schema.Type,
                   file: String): (Group, Int) => Any = {
    require(pq.isPrimitive,
      s"graft-snapshot reader: ${f.name} in $file is a nested parquet type — " +
      "only leaf columns are supported")
    val prim = pq.asPrimitiveType().getPrimitiveTypeName
    def bad() = throw new IllegalArgumentException(
      s"graft-snapshot reader: ${f.name} is ${f.dataType.simpleString} in the " +
      s"table schema but $prim in $file — unsupported combination")
    f.dataType match {
      case LongType => prim match {
        case INT64 => (g, i) => g.getLong(i, 0)
        case INT32 => (g, i) => g.getInteger(i, 0).toLong
        case _ => bad()
      }
      case IntegerType => prim match {
        case INT32 => (g, i) => g.getInteger(i, 0)
        case _ => bad()
      }
      case ShortType => prim match {
        case INT32 => (g, i) => g.getInteger(i, 0).toShort
        case _ => bad()
      }
      case ByteType => prim match {
        case INT32 => (g, i) => g.getInteger(i, 0).toByte
        case _ => bad()
      }
      case DoubleType => prim match {
        case DOUBLE => (g, i) => g.getDouble(i, 0)
        case FLOAT => (g, i) => g.getFloat(i, 0).toDouble
        case _ => bad()
      }
      case FloatType => prim match {
        case FLOAT => (g, i) => g.getFloat(i, 0)
        case _ => bad()
      }
      case BooleanType => prim match {
        case BOOLEAN => (g, i) => g.getBoolean(i, 0)
        case _ => bad()
      }
      case StringType => prim match {
        case BINARY => (g, i) => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
        case _ => bad()
      }
      case BinaryType => prim match {
        case BINARY | FIXED_LEN_BYTE_ARRAY => (g, i) => g.getBinary(i, 0).getBytes
        case _ => bad()
      }
      case DateType => prim match {
        case INT32 => (g, i) => g.getInteger(i, 0) // days since epoch
        case _ => bad()
      }
      case TimestampType => prim match {
        case INT64 =>
          val micros = pq.getLogicalTypeAnnotation match {
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => true // unannotated int64: assume micros
          }
          if (micros) (g, i) => g.getLong(i, 0)
          else (g, i) => g.getLong(i, 0) * 1000L // millis → micros
        case INT96 => (g, i) => {
          // 12 bytes LE: 8-byte nanos-of-day + 4-byte julian day
          val b = java.nio.ByteBuffer.wrap(g.getInt96(i, 0).getBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanos = b.getLong
          val julian = b.getInt
          (julian - 2440588L) * 86400L * 1000000L + nanos / 1000L
        }
        case _ => bad()
      }
      case d: DecimalType => prim match {
        case INT32 => (g, i) =>
          org.apache.spark.sql.types.Decimal(
            g.getInteger(i, 0).toLong, d.precision, d.scale)
        case INT64 => (g, i) =>
          org.apache.spark.sql.types.Decimal(
            g.getLong(i, 0), d.precision, d.scale)
        case BINARY | FIXED_LEN_BYTE_ARRAY => (g, i) =>
          org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(
              new java.math.BigInteger(g.getBinary(i, 0).getBytes), d.scale),
            d.precision, d.scale)
        case _ => bad()
      }
      case other => throw new IllegalArgumentException(
        s"graft-snapshot reader: unsupported Spark type ${other.simpleString} " +
        s"for ${f.name} — the table format's leaf-type contract")
    }
  }
}
