package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet column bloom filters — file-level point-lookup skipping for
  * the columns min/max stats and dictionaries cannot prune.
  *
  * Where this sits among the layout family's levers: min/max footer
  * stats (q242/q269) prune RANGE predicates, but an equality probe for
  * a key that happens to fall inside a row group's [min, max] decodes
  * the whole group; dictionary-based row-group skipping closes that gap
  * only while the column stays dictionary-encoded, and HIGH-CARDINALITY
  * key columns are exactly the ones parquet falls back to plain
  * encoding for (the dictionary page overflows). A column bloom filter
  * (parquet-format ≥ 2.9, split-block bloom; written per row group) is
  * the production lever for that regime: the reader tests the pushed
  * equality literal against each group's filter and skips groups that
  * cannot contain it — no decode, no false negatives, false positives
  * only cost a decode. Measured here (BloomLayoutSpec, 200k sparse keys
  * in 13 row groups, dictionary off): an absent-key probe decodes 0
  * rows through the bloom layout vs 16,383 (one full row group, the
  * min/max survivor) through the stats-only layout.
  *
  * At 100 TB the arithmetic is the point: a DLQ-replay / delta-audit /
  * entity-lookup workload probing single orderkeys against an unsorted
  * fact table touches every row group whose range straddles the key —
  * for a uniformly-loaded key column that is EVERY group (each spans
  * most of the domain), so a 100 TB table decodes ~100 TB per probe.
  * With blooms the probe decodes only true-positive groups (+ the
  * ~1%-FPP noise), a 10²–10⁴× I/O cut, for ~1 byte/row of extra footer.
  * The filter is written ONCE at layout time — same one-time-cost
  * shape as bucketing (BucketedLayout) and curve clustering (q269),
  * and composes with both (blooms cover the keys the sort order or
  * bucket hash did NOT organize).
  *
  * q272 is the oracle-gated contract query (point lookups through the
  * bloom layout hash-match the plain-parquet oracle — layout-invariance,
  * the q253/q259 discipline); BloomLayoutSpec pins the footer contract
  * (filters present exactly where asked) and the skip behavior both
  * ways. Not to be confused with the ENGINE-level Bloom sketches
  * (SketchOps.bloomBuild, q252; DeltaOps q67): those are query-time
  * membership synopses the engine builds and broadcasts; this is FILE
  * metadata the parquet reader consults before decoding.
  */
object BloomLayout {

  /** Write `df` as parquet with a split-block bloom filter on `keyCol`
    * in every row group. Dictionary encoding is disabled for `keyCol`
    * ONLY (per-column option) — blooms earn their keep exactly where
    * dictionary pruning stops, and a dictionary-encoded key would let
    * the reader skip via the dictionary instead, hiding what the bloom
    * does; other columns keep their dictionaries.
    *
    * `expectedNdv` sizes each row group's filter (parquet allocates
    * bits for the target FPP at that cardinality) and it must cover the
    * key's distinct count PER ROW GROUP — for unique keys, the rows per
    * group. The asymmetry matters and was MEASURED (SCALING.md round 14):
    * an UNDER-estimate saturates the filter and silently stops skipping
    * (a 400k hint on 1.25M-key groups left 11/16 groups passing
    * absent-key probes — no error, no warning, just full decodes),
    * while an over-estimate only costs footer bytes (the table row
    * count is a safe ceiling, but on small groups it multiplies file
    * size: 3.2× at 62k-row groups with a 2M hint). `rowGroupBytes`
    * bounds the granularity of skipping: smaller groups = finer skips =
    * more filters; production defaults (128 MB) are fine at real scale,
    * the contract fixtures shrink it so small SFs still have several
    * groups to skip.
    */
  def writeWithBloom(df: DataFrame, dir: String, keyCol: String,
                     expectedNdv: Long, rowGroupBytes: Long = 128L * 1024 * 1024): Unit = {
    require(expectedNdv >= 1, s"expectedNdv must be >= 1, got $expectedNdv")
    df.write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$keyCol", expectedNdv.toString)
      .option(s"parquet.enable.dictionary#$keyCol", "false")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(dir)
  }

  /** The stats-only control twin: same row-group size, same
    * plain-encoded key, NO bloom — the layout [[writeWithBloom]] is
    * measured against (and what a pre-bloom writer produced).
    */
  def writePlain(df: DataFrame, dir: String, keyCol: String,
                 rowGroupBytes: Long = 128L * 1024 * 1024): Unit =
    df.write.mode("overwrite")
      .option(s"parquet.enable.dictionary#$keyCol", "false")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(dir)

  /** Footer audit: per (file, row group), does `column` carry a bloom
    * filter? Reads ONLY footers (no data pages) — manifest-scale work,
    * the same cost class as the q144 skipping manifest.
    */
  def bloomPresence(spark: SparkSession, dir: String, column: String): Seq[Boolean] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
          b.getColumns.asScala.toSeq
            .filter(_.getPath.toDotString == column)
            .map(_.getBloomFilterOffset >= 0)
        } finally reader.close()
      }
  }
}
