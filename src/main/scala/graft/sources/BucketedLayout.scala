package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Hash-bucketed table layout — the write-side contract that makes the
  * read-side join shuffle-free.
  *
  * Why this is a first-class 100 TB concern: a fact⋈fact equi-join
  * (lineitem ⋈ orders on orderkey) shuffles BOTH inputs every time it
  * runs. At 100 TB that shuffle — not the join kernel — is the cost:
  * every executor rewrites its share of both tables across the network
  * per query. Bucketing moves that shuffle to WRITE time, once: each
  * table is persisted pre-hash-partitioned on its join key into a fixed
  * number of buckets (and sorted within each bucket), the bucket spec is
  * recorded in the catalog, and every subsequent join on that key reads
  * bucket i of each side into the same task — Catalyst's
  * EnsureRequirements sees matching `HashPartitioning` on both children
  * and plans a SortMergeJoin with NO Exchange under either side (a
  * narrow per-task Sort remains — see the note in [[writeBucketed]] on
  * why modern Spark re-sorts even `sortBy` buckets). The same catalog
  * metadata also powers bucket pruning: an equality predicate on the
  * bucket column reads 1 of N buckets (`SelectedBucketsCount` in the
  * scan node), a 1/N I/O cut before any row is decoded.
  *
  * Both behaviors are asserted structurally in BucketedJoinSpec (no
  * ShuffleExchange in the join subtree; SelectedBucketsCount in the
  * pruned scan) and certified end-to-end by q253/q254, whose DuckDB
  * oracles run the same joins on the UNBUCKETED parquet — the hash
  * match proves layout-invariance of the results.
  *
  * Spark requires bucketed data to live in a catalog table (the bucket
  * spec is table metadata, not file metadata), so the writer goes
  * through `saveAsTable` with an explicit external `path`; the catalog
  * entry is session-scoped (in-memory catalog), the files live where
  * the caller says.
  *
  * SIZING numBuckets is the whole game at scale (measured, SCALING.md):
  * the bucket count caps BOTH the write parallelism (one task per
  * bucket after the pre-shuffle) and the join parallelism (bucketed
  * SMJ runs one task per bucket — AQE cannot re-split what never
  * shuffles). 8 buckets on a 32-core box at 60M rows built in 29.7 s
  * and joined no faster than the plain shuffle join; 64 buckets built
  * in 8.4 s and joined 3× faster than it. Rule: numBuckets ≥ target
  * parallelism, and small enough that one bucket's sort fits a task —
  * on a 1000-executor cluster that means thousands of buckets, not 8
  * (the contract queries use 8 only because sf0.1 is 600k rows).
  * [[sizeBuckets]] codifies the rule; pass its result to
  * [[writeBucketed]] instead of re-deriving the count by hand.
  *
  * MIXED bucketed ⋈ UNBUCKETED joins (the commonest production shape —
  * bucketed fact ⋈ fresh delta batch) inherit the same cap through the
  * back door: EnsureRequirements keeps the bucketed side exchange-free
  * and shuffles the UNBUCKETED side onto exactly `numBuckets`
  * partitions to match, so the whole join runs at bucket-count
  * parallelism (asserted structurally in BucketedJoinSpec; q255 is the
  * oracle-gated contract query). DECISION RULE, as MEASURED
  * (SCALING.md round 13, mixed bucketed⋈unbucketed join): for the
  * mixed join itself the half-shuffle discount (only the delta moves) beat the
  * idle-core loss at every probed size — an 8-bucket fact joined
  * faster than both the plain join and the escape hatch up to 60M
  * rows — so keep the bucketed scan for delta joins even on a
  * low-bucket legacy table. The low count instead throttles the
  * one-time BUILD (one write task per bucket: 48.7 s vs 6.0 s at 100×)
  * and the both-sides-sorted fact⋈fact join (the round-12 table, where
  * 8 buckets LOST to plain at 30×). Reach for the escape hatch
  * (`spark.sql.sources.bucketing.enabled=false`, session-local — both
  * sides then shuffle at conf width) only when per-bucket work is
  * heavy: wide rows, fact⋈fact, or a downstream aggregation chained on
  * the bucket key (it inherits the bucket-count task width for its
  * whole stage). A layout whose count came from [[sizeBuckets]] never
  * faces the choice at its design parallelism.
  */
object BucketedLayout {

  /** The measured numBuckets sizing law (SCALING.md "Bucketed layout",
    * round 12) as code. Three constraints, in priority order:
    *
    *  1. '''No dust buckets''': at least `minRowsPerBucket` rows per
    *     bucket (default 64k), or a small table shatters into tiny
    *     files whose open/footer cost dominates the read — this floor
    *     is why sf0.1's 600k-row tables stay at 8 buckets.
    *  2. '''Full occupancy''': up to 2× `targetParallelism` buckets
    *     (2× so the per-bucket task skew of a hash layout doesn't
    *     leave cores idle at the tail) — this cap is what 8 buckets on
    *     a 32-core box violated: 25% occupancy, the co-located join
    *     LOST to the plain shuffle join at 30×.
    *  3. '''Task-sized sorts''': never more than `maxRowsPerBucket`
    *     rows per bucket (default 8M) — the write side sorts one
    *     bucket per task, and while Spark's sort spills, a bucket that
    *     is orders of magnitude over task memory turns the one-time
    *     build into a spill storm. This raises the count past the 2×
    *     cap for genuinely huge tables (a trillion-row fact on 8000
    *     cores gets 131072 buckets, not 16k).
    *
    * The result is a power of two: Spark's `coalesceBucketsInJoin` can
    * co-locate two bucketed tables only when one bucket count divides
    * the other, and power-of-two counts keep every pair of layouts
    * built by this rule mutually join-compatible without a re-bucket.
    * The occupancy-driven value rounds DOWN (a soft target — 8 not 16
    * for sf0.1's 9-ish dust-floor buckets) while the memory-driven
    * value rounds UP: constraint 3 is a hard ceiling, and flooring it
    * would hand each write task up to 2× the documented max rows.
    *
    * Reproduces the probe's verdict from the rule alone (pinned in
    * BucketedJoinSpec): 600k rows / 32 cores → 8; 18M and 60M rows /
    * 32 cores → 64.
    */
  def sizeBuckets(rowCount: Long, targetParallelism: Int,
                  minRowsPerBucket: Long = 64L << 10,
                  maxRowsPerBucket: Long = 8L << 20): Int = {
    require(rowCount >= 0, s"rowCount must be >= 0, got $rowCount")
    require(targetParallelism >= 1,
      s"targetParallelism must be >= 1, got $targetParallelism")
    require(minRowsPerBucket >= 1 && maxRowsPerBucket >= minRowsPerBucket,
      s"need 1 <= minRowsPerBucket <= maxRowsPerBucket, " +
        s"got $minRowsPerBucket/$maxRowsPerBucket")
    def clampInt(n: Long): Int = math.min(n, Int.MaxValue / 2).toInt
    def floorPow2(n: Long): Int = Integer.highestOneBit(math.max(1, clampInt(n)))
    def ceilPow2(n: Long): Int = {
      val f = floorPow2(n)
      if (f >= n) f else f << 1
    }
    val bySize = math.max(1L, rowCount / minRowsPerBucket)
    val byParallelism = 2L * targetParallelism
    val byTaskMemory = (rowCount + maxRowsPerBucket - 1) / maxRowsPerBucket
    math.max(floorPow2(math.min(bySize, byParallelism)),
      ceilPow2(math.max(1L, byTaskMemory)))
  }

  /** Write `df` as an external bucketed+sorted table at `path`,
    * replacing any previous catalog entry of the same name.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    numBuckets: Int, bucketCol: String,
                    sortCol: String): Unit = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val spark = df.sparkSession
    if (spark.catalog.tableExists(table)) spark.sql(s"DROP TABLE `$table`")
    // Pre-shuffle onto the bucket key so each write task owns exactly one
    // bucket: without this every write task emits a file PER bucket —
    // tasks × buckets small files, the q243 compaction disease seeded at
    // write time. (The read side still plans a per-task Sort before a
    // merge join either way: since 3.0 Spark only trusts bucket sort
    // metadata behind spark.sql.legacy.bucketedTableScan.outputOrdering.
    // That Sort is narrow — one bucket per task, spill-safe — and the
    // join still runs with zero exchanges, which is the 100 TB win.)
    df.repartition(numBuckets, df.col(bucketCol))
      .write.format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(sortCol)
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)
  }

  /** Idempotent ensure: build + register the bucketed table only if this
    * session's catalog doesn't already have it (the bucketed layout is
    * corpus state — built once per corpus, amortized over every join
    * that reads it, exactly like an index). The builder AND the bucket
    * count are by-name and only evaluated when a write actually
    * happens — so a [[sizeBuckets]]-derived count (which needs a row
    * count) costs nothing on the short-circuit path, and the scratch
    * path is only allocated for a real build. Returns the table
    * DataFrame, whose scan carries the bucket spec.
    *
    * A pre-EXISTING table (the legacy arm of the decision rule) is
    * audited ONCE per JVM against [[sizeBuckets]]: a count off by more
    * than 4× from the rule's answer prints a WARN naming the compliant
    * count — the operator no longer has to know to read SCALING.md to
    * learn their 8-bucket 60M-row table throttles builds and fact⋈fact
    * joins 8×. The audit costs one footer-metadata count() per table
    * per JVM, never per call.
    */
  def ensureBucketed(spark: SparkSession, table: String,
                     numBuckets: => Int, bucketCol: String, sortCol: String)
                    (build: => (String, DataFrame)): DataFrame = {
    if (!spark.catalog.tableExists(table)) {
      val (path, rows) = build
      writeBucketed(rows, table, path, numBuckets, bucketCol, sortCol)
      audited.add(table) // a fresh build is the caller's explicit choice
    } else if (audited.add(table)) {
      auditBucketCount(spark, table).foreach(w => println(s"WARN $w"))
    }
    spark.table(table)
  }

  private val audited = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Compare an existing bucketed table's count against the
    * [[sizeBuckets]] rule at the session's default parallelism; returns
    * the warning text when the count is off by more than `tolerance`×
    * in either direction (too few buckets throttle writes and
    * bucket-width joins; too many shatter the table into dust files).
    * Reads the count from `DESCRIBE FORMATTED` (public API — the
    * bucket spec is catalog metadata) and the row count from parquet
    * footers. None when compliant or when the table has no bucket spec.
    */
  private[graft] def auditBucketCount(spark: SparkSession, table: String,
                                      tolerance: Int = 4): Option[String] = {
    import org.apache.spark.sql.functions.col
    val actual = spark.sql(s"DESCRIBE FORMATTED `$table`")
      .where(col("col_name") === "Num Buckets")
      .select("data_type").collect()
      .headOption.map(_.getString(0).trim.toInt)
    actual.flatMap { n =>
      val rows = spark.table(table).count()
      val want = sizeBuckets(rows, spark.sparkContext.defaultParallelism)
      if (n.toLong * tolerance < want || want.toLong * tolerance < n)
        Some(s"bucketed table `$table` has $n buckets for $rows rows; " +
          s"the sizing rule answers $want at parallelism " +
          s"${spark.sparkContext.defaultParallelism} — off by >${tolerance}x. " +
          "Too few buckets throttle writes and cap join parallelism; too " +
          "many shatter the table into dust files. Consider rebuilding " +
          "with BucketedLayout.sizeBuckets (see SCALING.md, bucketed layout).")
      else None
    }
  }
}
