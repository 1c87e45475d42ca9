package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality operators: column profiling, declarative constraint
  * validation, and snapshot diffing — the pre-ingest audit layer a
  * 100 TB pipeline runs before (and after) every load, in the shape
  * popularized by Deequ (Schelter et al., VLDB 2018).
  *
  * The reference validates implicitly (arity guards, non-empty keys —
  * `/root/reference/src/irdai_scraper/parser/table_parser.py:60-90`);
  * these operators make that contract explicit, queryable, and
  * mergeable.
  *
  * Scale shapes:
  *  - [[columnProfile]] is ONE pass over the table in long format: the
  *    scan explodes to (col_name, value) pairs that partial-aggregate
  *    before the wire, and every per-column statistic folds from the
  *    (col_name, value, cnt) level — no multi-distinct Expand, no
  *    5N-buffer aggregate (at extreme cardinalities swap the exact
  *    distinct fold for the q104 HLL registers — the merge algebra is
  *    the same).
  *  - [[checkViolations]] counts are partial-aggregated scans and
  *    anti-joins; the FK dim side broadcasts when small and degrades
  *    to a shuffled anti-join (never a nested loop) when not.
  *  - [[snapshotDiff]] emits ONLY changed rows from one co-keyed
  *    full-outer join — the "ship the delta, not the snapshot" rule.
  *    Values compare as integer cents, so a diff is never FP noise.
  */
object QualityOps {

  /** One profile row per column: row count, null count, exact distinct
    * count, lexicographic min/max of the string form. Columns are
    * profiled in their string form so one output schema fits any table —
    * and because `n_distinct` counts distinct STRINGS, the accepted
    * column types are restricted (enforced below) to those whose string
    * cast is injective: integral and string columns. A double column
    * (e.g. 1.0 vs 1.00 → "1.0") or timestamp rendering could collapse
    * distinct native values into one string; the require makes that a
    * loud error instead of a silent miscount (round-17 advice).
    *
    * Empty-input contract (changed by the round-17 long-format rework,
    * documented per the same advice): an EMPTY table profiles to ZERO
    * rows — there are no (col_name, value) pairs to fold — where the old
    * single-row-aggregate shape emitted one all-zero row per column.
    * Callers needing per-column rows on empty input should union a
    * zero-count skeleton built from `cols`.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foreach { c =>
      val t = byName.getOrElse(c,
        throw new IllegalArgumentException(s"columnProfile: no column '$c'"))
      require(t == StringType || t == LongType || t == IntegerType ||
        t == ShortType || t == ByteType || t == BooleanType,
        s"columnProfile: column '$c' is $t — only string/integral/boolean " +
          "columns profile exactly (string cast must be injective for " +
          "the n_distinct fold; cast or quantize first)")
    }
    // Round-17 rework: N columns × count_distinct used to Expand the
    // scan ×(N+1) into one 5N-buffer aggregate — a giant generated
    // method (the bench measured ~0.5-1.5 s of C2 churn on EVERY rep)
    // whose whole map side ran as ONE task on a single-row-group scan.
    // The long-format two-level shape computes the identical result set:
    // explode to (col_name, value-as-string) pairs (KernelSpread first —
    // guide §2.5), partially aggregate (col_name, v) counts map-side,
    // then fold per column: n_rows = Σcnt, n_null = Σcnt over null v,
    // n_distinct = count of non-null v groups (distinct by
    // construction; string cast is injective on the long/string columns
    // this profiler accepts), min/max over the same strings. Two small
    // keyed shuffles, no Expand, codegen-friendly buffers.
    val pairs = KernelSpread.spread(df.select(cols.map(col): _*))
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("p"))
      .select("p.*")
    pairs.groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
      .groupBy("col_name").agg(
        sum("cnt").as("n_rows"),
        coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
        count(col("v")).as("n_distinct"),
        min("v").as("min_s"),
        max("v").as("max_s"))
  }

  /** A named row-level constraint: `pred` is TRUE for every VIOLATING
    * row of `rows`.
    */
  final case class Check(name: String, rows: DataFrame, pred: Column)

  /** Evaluate each check to (check_name, n_violations, passed). Each
    * check is an independent filtered count (partial-aggregated); the
    * result is one row per check, so the output never grows with data.
    */
  def checkViolations(checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty,
      "checkViolations needs at least one Check (reduce over empty Seq)")
    checks.map { c =>
      c.rows.where(c.pred).agg(count(lit(1)).as("n_violations"))
        .select(lit(c.name).as("check_name"), col("n_violations"),
          (col("n_violations") === 0L).as("passed"))
    }.reduce(_ unionByName _)
  }

  /** Keys of `rows` appearing more than once — the primary-key
    * uniqueness violation set, as a frame usable in a [[Check]] or
    * directly. Partial-aggregated count, then the post-shuffle filter.
    */
  def duplicateKeys(rows: DataFrame, keyCol: String): DataFrame =
    rows.groupBy(keyCol).agg(count(lit(1)).as("n"))
      .where(col("n") > 1L)

  /** Rows of `child` whose `fkCol` has no match in `parent.pkCol` —
    * referential-integrity violations via anti-join (broadcast when the
    * parent is small; NULL FKs are not violations, per SQL semantics).
    */
  def fkViolations(child: DataFrame, fkCol: String,
                   parent: DataFrame, pkCol: String): DataFrame =
    child.where(col(fkCol).isNotNull)
      .join(parent.select(col(pkCol).as(fkCol)).distinct(),
        Seq(fkCol), "left_anti")

  /** Two-sample Kolmogorov–Smirnov drift statistic in integer basis
    * points: D = max over values of |cdf_A − cdf_B|, the
    * distribution-drift gate between two snapshots/sources of the same
    * feature (KS rather than PSI because it needs no ln() — everything
    * stays integer and engine-exact). Returns one row
    * (n_a, n_b, ks_bp, v_at_max), v_at_max = the smallest value
    * attaining D.
    *
    * Scale shape: each side partial-aggregates to distinct-value
    * cells; the cumulative window runs over the merged cell set
    * (bounded by the value domain, the q56 argument — ENFORCED via
    * [[CellGuard]]: past `maxCells` distinct values the query raises
    * with the quantize-first remedy instead of one-task-ing a
    * row-scale column), and the max reduces to one row.
    */
  def ksDrift(a: DataFrame, b: DataFrame, valueCol: String,
              maxCells: Long = CellGuard.DefaultMaxCells): DataFrame = {
    def cells(df: DataFrame, n: String) =
      df.select(col(valueCol).cast("long").as("v"))
        .groupBy("v").agg(count(lit(1)).as(n))
    val merged = cells(a, "cnt_a").join(cells(b, "cnt_b"), Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("cnt_a"), lit(0L)).as("ca"),
        coalesce(col("cnt_b"), lit(0L)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    merged
      .withColumn("cum_a", sum("ca").over(w))
      .withColumn("_cell_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("v")))
      .withColumn("cum_a",
        CellGuard.guarded(col("cum_a"), col("_cell_rn"), maxCells, "ksDrift"))
      .withColumn("cum_b", sum("cb").over(w))
      .withColumn("tot_a", sum("ca").over(wAll))
      .withColumn("tot_b", sum("cb").over(wAll))
      .withColumn("d", abs(expr("(cum_a * 10000) div tot_a") -
        expr("(cum_b * 10000) div tot_b")))
      .agg(max("tot_a").as("n_a"), max("tot_b").as("n_b"),
        max(struct(col("d"), (-col("v")).as("negv"))).as("best"))
      .select(col("n_a"), col("n_b"),
        col("best.d").as("ks_bp"), (-col("best.negv")).as("v_at_max"))
  }

  /** k-anonymity audit: every combination of the quasi-identifier
    * columns whose group holds fewer than `k` rows re-identifies those
    * rows (Sweeney 2002) — the governance gate a dataset passes before
    * release. One partial-aggregated count per combination; the output
    * is one row per occupied combination, never per record.
    */
  def kAnonymityAudit(rows: DataFrame, quasiCols: Seq[String],
                      k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    rows.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("n"))
      .withColumn("violates", col("n") < k)
  }

  /** Merkle-style range digests for replica reconciliation: bucket the
    * key space into ranges and reduce each range to (row count,
    * order-independent xor digest of per-row fingerprints). Two
    * replicas compare digests — tiny artifacts that broadcast — and
    * only MISMATCHED ranges pay a row-level diff ([[snapshotDiff]]):
    * the anti-entropy shape that reconciles two 100 TB copies without
    * shipping either. xor is commutative/associative, so the digest is
    * partition-order independent and partial-aggregates; fingerprints
    * are portable md5, so any engine derives the same digests.
    */
  def rangeDigests(rows: DataFrame, keyCol: String, valCol: String,
                   bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1, got $bucketWidth")
    val fp = graft.functions.HashFunctions.portableHash60(
      concat(col(keyCol).cast("string"), lit(":"), col(valCol).cast("string")))
    rows.select(expr(s"$keyCol div $bucketWidth").as("bucket"), fp.as("fp"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), expr("bit_xor(fp)").as("digest"))
  }

  /** Diff two keyed snapshots into (key, status, old value, new value),
    * emitting ONLY differences: `added` (new only), `removed` (old
    * only), `changed` (both, value differs). Values must already be
    * exact (integer) — compare cents, not doubles. One full-outer join
    * on the key; unchanged rows (the overwhelming majority at scale)
    * are filtered before anything downstream sees them.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keyCol: String, valCol: String): DataFrame = {
    val o = oldSnap.select(col(keyCol).as("k"), col(valCol).as("old_v"))
    val n = newSnap.select(col(keyCol).as("k"), col(valCol).as("new_v"))
    o.join(n, Seq("k"), "full_outer")
      .select(col("k").as(keyCol),
        when(col("old_v").isNull, lit("added"))
          .when(col("new_v").isNull, lit("removed"))
          .otherwise(lit("changed")).as("status"),
        col("old_v"), col("new_v"))
      .where(col("old_v").isNull || col("new_v").isNull ||
        col("old_v") =!= col("new_v"))
  }
}
