package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical data-layout planning: Z-order (Morton) clustering with a
  * min/max data-skipping audit, and small-file compaction (bin-packing)
  * planning.
  *
  * Why this is an engine concern at 100 TB: scan cost is dominated by
  * which FILES a predicate can skip, not by per-row evaluation. Parquet
  * readers prune on per-file (really per-row-group) min/max statistics,
  * so the write-side ORDER of rows decides the read-side scan volume.
  * A layout sorted on one column prunes predicates on that column only;
  * interleaving the bits of two columns (Morton 1966; the technique
  * behind Z-ordering in modern lakehouse table formats) keeps BOTH
  * columns' value ranges locally narrow in every file, so 2-D
  * predicates skip multiplicatively instead of on one dimension.
  *
  * The Morton key itself is [[graft.functions.ZOrder.zValue]] (the
  * kernel q101 hash-checks bit-exactly); this module adds the AUDIT
  * layer over any layout — per-file envelope stats and the
  * conservative pruning rule — plus manifest-level bin-packing plans
  * (complementing [[graft.sources.SnapshotTable.compact]], which
  * physically rewrites one table: the plan here decides WHICH
  * files co-locate, per group, before any rewrite runs). Everything is
  * pure integer column arithmetic (codegen'd; no UDFs) so q242/q243's
  * DuckDB oracles replay it bit-for-bit.
  */
object LayoutOps {

  /** Per-file min/max statistics — the footer metadata a lakehouse
    * table format keeps per data file: row count plus min/max of each
    * audited column. One map-side-combinable aggregation; the shuffle
    * carries one row per file regardless of input size.
    */
  def fileStats(rows: DataFrame, fileCol: Column,
                aCol: String, bCol: String): DataFrame =
    rows.groupBy(fileCol.as("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(aCol).as("min_a"), max(aCol).as("max_a"),
        min(bCol).as("min_b"), max(bCol).as("max_b"))

  /** Data-skipping audit of one layout against a 2-D range predicate
    * `a IN [aLo, aHi] AND b IN [bLo, bHi]`: a file must be SCANNED iff
    * its [min, max] envelope intersects the predicate box on both
    * dimensions (the standard min/max pruning rule — conservative,
    * never skips a matching row). Returns ONE row:
    * (n_files, files_hit, rows_scanned) — rows_scanned is the real
    * cost a scan of this layout pays.
    */
  def skippingAudit(stats: DataFrame,
                    aLo: Column, aHi: Column,
                    bLo: Column, bHi: Column): DataFrame = {
    val hit = col("min_a") <= aHi && col("max_a") >= aLo &&
      col("min_b") <= bHi && col("max_b") >= bLo
    stats.agg(
      count(lit(1)).as("n_files"),
      sum(when(hit, 1L).otherwise(0L)).as("files_hit"),
      sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_scanned"))
  }

  /** Small-file compaction plan: pack per-group files into target-sized
    * bins. Files order size-DESC (doc-id tiebreak) inside their group,
    * and a running cumulative sum assigns bin = (cumsum − size) div
    * target — the deterministic next-fit-decreasing pass every
    * compaction service runs over its file manifest. Returns one row
    * per planned bin: (group, bin_id, n_files, bin_bytes).
    *
    * Scale shape: the window is PARTITIONED by the group column (per
    * table/partition manifests are bounded — file counts, not data
    * rows), and the output is manifest-sized. Bin j collects the files
    * whose exclusive prefix sum starts in stripe [j·target,
    * (j+1)·target), so every closed bin's bytes sit within one file
    * size of the target on either side — |bin_bytes − target| <
    * max file size for all but each group's tail bin.
    */
  def compactionBins(files: DataFrame, groupCol: String, idCol: String,
                     sizeCol: String, target: Long): DataFrame = {
    require(target >= 1, s"target must be >= 1, got $target")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(col("sz").desc, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    files
      .select(col(groupCol), col(idCol), col(sizeCol).cast("long").as("sz"))
      .withColumn("csum", sum("sz").over(w))
      .select(col(groupCol),
        expr(s"(csum - sz) div ${target}L").as("bin_id"),
        col("sz"))
      .groupBy(groupCol, "bin_id")
      .agg(count(lit(1)).as("n_files"), sum("sz").as("bin_bytes"))
  }
}
