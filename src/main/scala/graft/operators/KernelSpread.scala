package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Dataset

/** Scan-parallelism guard for expensive row kernels (optimization guide
  * §2.5 "input skew — one huge unsplittable file").
  *
  * A single-file, single-row-group parquet scan plans as ONE task no
  * matter how many cores the session has: parquet byte-range splits
  * cannot cut inside a row group, so `maxPartitionBytes` /
  * `minPartitionNum` produce extra EMPTY tasks, never extra
  * parallelism — only an explicit exchange can spread the rows
  * (measured round 17: every sf* input ships as one row group, so every
  * scan-side kernel — ImageIO PNG encode/decode, MD5 shingling, minhash
  * signatures — ran on 1 of 32 cores).
  *
  * [[spread]] round-robin-repartitions a kernel's INPUT, but ONLY when
  * the upstream plan provides fewer partitions, and only as wide as the
  * input size justifies: width = min(defaultParallelism,
  * ceil(inputRows / rowsPerTask)). Round 17 spread to ALL cores
  * unconditionally, and the driver's own 8-core control run proved that
  * overshoots: q265 2.66 s at 32-way vs 1.35 s at 8-way (q264 0.58×,
  * q258 0.62×, q50 0.65× likewise) — 32 task launches cost more than
  * the extra parallelism returns on a few thousand rows. The width now
  * derives from the input row count, so it is scale-adaptive rather
  * than a constant tuned to either local mode or a cluster: more rows
  * buy more tasks, small fixtures stop at a few, and on production
  * tables with many files/row groups the scan already yields >= cores
  * partitions and this is a NO-OP (checked FIRST, so a 100 TB table
  * never pays the row-count probe).
  *
  * The input row count is one `count()` job over the narrow projection
  * (column-pruned to a metadata-only parquet count) and is memoized
  * per (JVM, canonicalized input plan): the same fixture input is
  * counted once per process, not once per query rep. Nothing persists
  * across processes and no query RESULT is cached — the memo holds one
  * cardinality per input, the same per-JVM fixture-state precedent as
  * GraftCache's corpus tables (round 4).
  *
  * CALL-SITE CONTRACT: wrap ONLY scan-side narrow projections (ids, or
  * (id, text) pairs) — never a plan with upstream shuffles. The
  * partition probe finalizes the physical plan (`.rdd`), and under AQE
  * that EXECUTES any upstream shuffle stages at plan-construction time,
  * discarding the result when the repartition is inserted. Every call
  * site sits directly on a projected table scan, BELOW the expensive
  * kernel, so the exchange (when inserted) carries ids or (id, text) —
  * never blobs or signature arrays: the blobs-never-shuffle rule is
  * untouched.
  */
object KernelSpread {
  /** Rows each spread task should carry, i.e. the per-task chunk the
    * kernel-cost tier justifies. Chosen from the round-18 width probes on
    * the PNG/winnowing kernels (documents fixture: 5k rows, best total at
    * width ~8 ⇒ ~640 rows/task; the driver's 8-core control run
    * independently showed 8-way beating 32-way ~2× on exactly the
    * spread-kept queries). A caller with a much costlier kernel passes
    * its own `rowsPerTask`.
    */
  val DefaultRowsPerTask: Long = 640L

  /** (canonicalized-plan semantic hash, schema hash) → input row count;
    * per-JVM, perf-metadata only (a hash collision can only mis-size
    * the spread width, never change results).
    */
  private val rowCountMemo = new ConcurrentHashMap[(Int, Int), java.lang.Long]

  private def memoizedRows(ds: Dataset[_]): Long = {
    val key = (ds.queryExecution.analyzed.semanticHash(),
      ds.schema.catalogString.hashCode)
    rowCountMemo.computeIfAbsent(key, _ => ds.count()).longValue()
  }

  /** min(defaultParallelism, ceil(rows / rowsPerTask)), at least 1. */
  private def widthFor(ds: Dataset[_], rowsPerTask: Long): Int = {
    val want = ds.sparkSession.sparkContext.defaultParallelism
    val rows = memoizedRows(ds)
    val byRows = ((rows + rowsPerTask - 1) / rowsPerTask).max(1L)
    math.min(want.toLong, byRows).toInt
  }

  /** `ds`, round-robin-repartitioned to [[widthFor]] tasks when it has
    * fewer partitions than that; a DataFrame is a `Dataset[Row]`, so
    * kernel input projections like (id, text) pass through here too.
    */
  def spread[T](ds: Dataset[T],
                rowsPerTask: Long = DefaultRowsPerTask): Dataset[T] = {
    val want = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions >= want) ds
    else {
      val target = widthFor(ds, rowsPerTask)
      if (ds.rdd.getNumPartitions >= target) ds else ds.repartition(target)
    }
  }
}
