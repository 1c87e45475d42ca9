package graft.queries

import graft.Tables
import graft.functions.{Rounding => R, TextFunctions => T}
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-safe statistics: percentiles (cells/GK), NTILE, winsorize, quantile-norm, HLL/CMS sketches, range digests, join-cardinality estimation.
  *
  * Contract queries: q51_percentiles, q56_hist_quantiles, q57_approx_percentiles, q103_cms_counts, q104_hll_distinct, q186_hll_merge, q187_percentile_merge, q191_kmv_sketch, q115_windowed_hll, q119_ntile_bins, q128_winsorize, q139_join_cardinality, q140_range_digest, q152_quantile_norm, q156_percent_rank, q217_target_encoding, q224_correlation, q238_cms_merge, q241_mg_merge, q251_kmv_intersect, q252_bloom_filter.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object StatsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // [gap] exact percentiles, linear interpolation — percentile_cont
    // semantics via PercentileOps.exactQuantiles: IEEE-identical to the
    // percentile() built-in, but the plan is spill-safe at any group
    // size (distinct-cell shuffle + sort-window cumulative counts, no
    // whole-group ObjectHashAggregate buffer). The former hot-group OOM
    // bound is gone; histogramQuantiles (q56) and approxQuantiles (q57)
    // remain for domain-bounded / sketch trade-offs.
    "q51_percentiles" -> ((s, d) =>
      PercentileOps.exactQuantiles(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
        .select(col("l_returnflag"),
          R.half4(col("p25")).as("p25"),
          R.half4(col("p50")).as("p50"),
          R.half4(col("p75")).as("p75"))),


    // Scale-safe percentiles #1: exact discrete quantiles over a
    // cent-quantized domain — shuffle volume is distinct price cells,
    // never raw rows (q51's 100 TB-safe twin).
    "q56_hist_quantiles" -> ((s, d) =>
      PercentileOps.histogramQuantiles(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75), decimals = 2)),


    // PERCENTILE SHARD-MERGE LAW: two shards (even/odd orderkeys)
    // build q56's cell histograms independently, cells fold by count
    // addition, quantiles derive from the merged state. The oracle
    // computes the one-pass q56 answer — the match certifies
    // state(A) ⊕ state(B) == state(A ∪ B), completing the mergeable-
    // state story across k-means (q173), novelty (q182), HLL (q186),
    // and percentiles.
    "q187_percentile_merge" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val cells = PercentileOps.histogramMergeCells(
        PercentileOps.histogramCellCounts(
          li.where(pmod(col("l_orderkey"), lit(2)) === 0),
          "l_returnflag", "l_extendedprice", decimals = 2),
        PercentileOps.histogramCellCounts(
          li.where(pmod(col("l_orderkey"), lit(2)) === 1),
          "l_returnflag", "l_extendedprice", decimals = 2),
        "l_returnflag")
      PercentileOps.histogramQuantilesFromCells(cells, "l_returnflag",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
    }),


    // Scale-safe percentiles #2: Greenwald–Khanna sketch. At this SF the
    // 1e6 accuracy bound (rank error < 1) makes it exactly the discrete
    // quantile, so DuckDB's quantile_disc is a true oracle; at scale the
    // same plan degrades gracefully to bounded-state approximation.
    "q57_approx_percentiles" -> ((s, d) =>
      PercentileOps.approxQuantiles(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75), accuracy = 1000000)),


    // Count-min sketch: mergeable fixed-size frequency summary, built
    // and probed with the portable md5 hash so the oracle rebuilds the
    // identical sketch. Estimates are exact here (5 hot keys, 1024
    // buckets); the overestimate-only property is spec-asserted.
    "q103_cms_counts" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cms = SketchOps.cmsBuild(ev, "user_id")
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      SketchOps.cmsEstimate(cms, ev.select("user_id").distinct(), "user_id")
        .join(exact, "user_id")
        .select(col("user_id"), col("exact_n"), col("cms_n"))
    }),


    // CMS SHARD-MERGE LAW (completing the sketch-merge family: HLL
    // q186, KMV q191, percentiles q187, fingerprints q234, CC q237):
    // two event shards (even/odd event ids — a ROW split, so both
    // shards count the same hot keys partially) build count-min grids
    // independently; grids fold cell-wise by SUM (cmsMerge), estimates
    // derive from the merged grid. The oracle computes the un-split
    // q103 answer directly, so the hash match certifies
    // state(A) ⊕ state(B) == state(A ∪ B) for the counting sketch —
    // the per-shard/per-day heavy-hitter roll-up shape.
    "q238_cms_merge" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val merged = SketchOps.cmsMerge(
        SketchOps.cmsBuild(ev.where(pmod(col("event_id"), lit(2)) === 0), "user_id"),
        SketchOps.cmsBuild(ev.where(pmod(col("event_id"), lit(2)) === 1), "user_id"))
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      SketchOps.cmsEstimate(merged, ev.select("user_id").distinct(), "user_id")
        .join(exact, "user_id")
        .select(col("user_id"), col("exact_n"), col("cms_n"))
    }),


    // MISRA-GRIES HEAVY-HITTER MERGE LAW: two document shards (even/odd
    // doc_id — a ROW split, so every hot token counts partially in
    // both) build O(k) counter summaries independently; counters fold
    // key-wise and re-reduce (mgMerge). Tokens are the Zipfian column
    // this summary exists for: at 100 TB the exact vocabulary count is
    // shuffle-heavy, while each shard ships k+1=17 rows. The oracle
    // replays the identical deterministic batch reduce (t = (k+1)-th
    // largest count — arrival-order-free, see SketchOps.mgReduce), so
    // the hash match certifies both the merged estimates AND the
    // err*(k+1) <= n_total guarantee cross-engine.
    "q241_mg_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val k = 16
      def toks(shard: Column => Column) =
        docs.where(shard(col("doc_id")))
          .select(explode(T.tokens(col("text"))).as("w"))
      val merged = SketchOps.mgMerge(
        SketchOps.mgSummary(toks(pmod(_, lit(2)) === 0), "w", k),
        SketchOps.mgSummary(toks(pmod(_, lit(2)) === 1), "w", k),
        "w", k)
      val all = docs.select(explode(T.tokens(col("text"))).as("w"))
      val exact = all.groupBy("w").agg(count(lit(1)).as("exact_n"))
      // n_total folds from the exact vocab counts instead of a second
      // count over the raw token explode: this `exact` subtree is
      // canonically identical to the join branch's, so AQE reuses ONE
      // shuffle stage and the tokenize+explode pass runs once (q250
      // lesson; a window here would serialize the vocab into a single
      // partition, so the fold is an agg over the reused exchange)
      val total = exact.agg(sum("exact_n").as("n_total"))
      merged.join(exact, "w")
        .crossJoin(broadcast(total))
        .select(col("w"), col("exact_n"), col("est").as("mg_est"),
          (col("exact_n") - col("est")).as("err"),
          when((col("exact_n") - col("est")) * lit((k + 1).toLong)
            <= col("n_total"), lit(1)).otherwise(lit(0)).as("in_bound"))
    }),


    // HyperLogLog distinct sketch (mergeable by register max): integer-
    // scaled harmonic sum makes the raw estimate bit-identical cross-
    // engine; exact distinct alongside for the quality check.
    "q104_hll_distinct" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val exact = docs.agg(countDistinct("doc_id").as("n_exact"))
      SketchOps.hllEstimate(docs, "doc_id")
        .crossJoin(broadcast(exact))
        .select(col("n_exact"), col("n_reg"), col("s_scaled"), col("hll_est"))
    }),


    // HLL SHARD-MERGE LAW: two shards (even/odd ids) sketch
    // independently, registers fold by max, the estimate derives from
    // the merged state. The oracle computes the one-pass q104 answer
    // directly, so the hash match certifies register-wise
    // state(A) ⊕ state(B) == state(A ∪ B) — the property that lets a
    // 1000-executor COUNT DISTINCT ship 64 registers per shard instead
    // of re-shuffling keys.
    "q186_hll_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val exact = docs.agg(countDistinct("doc_id").as("n_exact"))
      val merged = SketchOps.hllMergeRegisters(
        SketchOps.hllRegisters(docs.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id"),
        SketchOps.hllRegisters(docs.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id"))
      SketchOps.hllEstimateFromRegisters(merged, Nil)
        .crossJoin(broadcast(exact))
        .select(col("n_exact"), col("n_reg"), col("s_scaled"), col("hll_est"))
    }),


    // KMV SHARD-MERGE LAW: two shards (even/odd ids) keep their k=64
    // smallest distinct portable hashes; the merge is union + re-take-k
    // (bottom-k is a monotone selector), and the k-th smallest inverts
    // to the distinct-count estimate. The oracle computes the one-pass
    // bottom-k directly — the hash match certifies
    // bottomK(A) ⊕ bottomK(B) == bottomK(A ∪ B) AND the estimate
    // arithmetic. Complements HLL (q186): registers count cheaper, but
    // a KMV sketch is a set of REAL hash values, so shard sketches also
    // support intersection/Jaccard estimates registers cannot.
    "q191_kmv_sketch" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val exact = docs.agg(countDistinct("doc_id").as("n_exact"))
      val merged = SketchOps.kmvMerge(64,
        SketchOps.kmvSketch(docs.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id"),
        SketchOps.kmvSketch(docs.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id"))
      SketchOps.kmvEstimate(merged, 64)
        .crossJoin(broadcast(exact))
        .select(col("n_exact"), col("n_sketch"), col("kth_min"), col("kmv_est"))
    }),


    // PORTABLE BLOOM FILTER + SHARD-MERGE LAW — the membership synopsis
    // completing the sketch family (CMS counts, HLL distincts, KMV set
    // ops, MG heavy hitters): the known-keys / decontamination pass
    // that at 100 TB ships m/64 = 512 BIGINT lanes per shard instead of
    // the key set. The ENGINE builds two shard filters over the planted
    // member set (doc_id % 4 != 0, split even/odd) and folds them by
    // lane-wise OR (bloomMerge); the ORACLE builds the un-split filter
    // directly — the hash match certifies state(A) ⊕ state(B) ==
    // state(A ∪ B) for the bit-OR merge AND the Kirsch–Mitzenmacher
    // position function cross-engine. Probing all doc_ids measures the
    // contract: members_hit == n_members (NO false negatives, ever) and
    // the false-positive rate is measured, not assumed.
    "q252_bloom_filter" -> ((s, d) => {
      val keys = Tables.documents(s, d).select("doc_id").distinct()
      val members = keys.where(pmod(col("doc_id"), lit(4)) =!= 0)
      // the merged filter feeds TWO branches (stats agg + probe
      // broadcast) — persist the ≤512-row frame so the shard builds and
      // their documents scans run once, not per branch
      val bloom = graft.GraftCache.register(SketchOps.bloomMerge(
          SketchOps.bloomBuild(members.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id"),
          SketchOps.bloomBuild(members.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val stats = bloom.agg(count(lit(1)).as("lanes_used"),
        sum(bit_count(col("bits"))).cast("long").as("bits_set"))
      SketchOps.bloomProbe(bloom, keys, "doc_id")
        .withColumn("is_member",
          when(pmod(col("doc_id"), lit(4)) =!= 0, 1).otherwise(0))
        .agg(
          sum(when(col("is_member") === 1, 1L).otherwise(0L)).as("n_members"),
          sum(when(col("is_member") === 1 && col("member") === 1, 1L)
            .otherwise(0L)).as("members_hit"),
          sum(when(col("is_member") === 0, 1L).otherwise(0L)).as("n_nonmembers"),
          sum(when(col("is_member") === 0 && col("member") === 1, 1L)
            .otherwise(0L)).as("false_positives"))
        .crossJoin(broadcast(stats))
        .withColumn("fpr_bp", expr("false_positives * 10000 div n_nonmembers"))
    }),


    // KMV MULTISET OPS (Beyer et al. 2007) — the capability q191's
    // comment promises and HLL registers cannot deliver: |A ∪ B|,
    // Jaccard, and |A ∩ B| of two key sets from their two k-row
    // sketches ALONE. The arms plant a NON-trivial overlap (custkey
    // % 3 != 0 vs % 2 == 0 → true Jaccard 2/5), so the sampled-match
    // estimator is exercised away from the 0/1 endpoints — the raw
    // orders-vs-customer overlap is degenerate (every customer has an
    // order at gate SFs, Jaccard exactly 1). This is the cross-dataset
    // contamination / coverage primitive: at 100 TB the two snapshots
    // are sketched independently (possibly on different days, different
    // clusters) and the overlap question costs 2k rows, not a join of
    // two full key sets. Exact sides alongside for the quality check.
    "q251_kmv_intersect" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val o = cust.where(pmod(col("c_custkey"), lit(3)) =!= 0)
        .select(col("c_custkey").as("key"))
      val c = cust.where(pmod(col("c_custkey"), lit(2)) === 0)
        .select(col("c_custkey").as("key"))
      val est = SketchOps.kmvIntersect(
        SketchOps.kmvSketch(o, "key", k = 256),
        SketchOps.kmvSketch(c, "key", k = 256), k = 256)
      val oa = o.distinct()
      val cb = c.distinct()
      val exact = oa.join(cb, Seq("key"))
        .agg(count(lit(1)).as("exact_intersect"))
        .crossJoin(oa.unionByName(cb).distinct()
          .agg(count(lit(1)).as("exact_union")))
      est.crossJoin(broadcast(exact))
    }),


    // Windowed HLL: trailing-3-day distinct-user estimate per day by
    // register merge — each day's registers CONTRIBUTE to 3 target days
    // (bounded explode of tiny (day, bucket) rows), then max per
    // (target day, bucket). The dashboard-at-scale shape: raw user ids
    // shuffle once into per-day registers; the rolling merge never
    // touches them again.
    "q115_windowed_hll" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val dreg = SketchOps.hllRegistersBy(ev, "user_id", Seq("day"))
      val contrib = dreg.select(col("day"), col("bucket"), col("r"),
          explode(array(lit(0), lit(1), lit(2))).as("o"))
        .select(expr("date_add(day, o)").as("day"), col("bucket"), col("r"))
      val days = ev.select("day").distinct()
      val wreg = contrib.join(days, "day")
        .groupBy("day", "bucket").agg(max("r").as("r"))
      SketchOps.hllEstimateFromRegisters(wreg, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_reg"), col("s_scaled"), col("hll_est"))
    }),


    // Exact global NTILE(10) quality binning WITHOUT the global sort:
    // ntile-over-everything is the canonical single-partition-window
    // scale-killer; this derives each row's global rank from distinct-
    // cell cumulative counts (the only unpartitioned window runs over
    // cells, bounded by the n_chars domain) + a per-value row_number,
    // then the bucket is integer arithmetic. Oracle = the naive window.
    "q119_ntile_bins" -> ((s, d) => {
      PercentileOps.ntileExact(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id", k = 10)
        .select(col("doc_id"), col("n_chars"), col("rank"), col("bin"))
    }),


    // Winsorization at per-source exact p05/p95 from the distinct-cell
    // histogram (q56 machinery): group quantiles ride a cell-level
    // shuffle, the bounded quantile frame broadcasts back onto the
    // corpus — outlier clipping without ever sorting rows globally.
    "q128_winsorize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val qs = PercentileOps.histogramQuantiles(docs, "source", "n_chars",
        Seq("p05" -> 0.05, "p95" -> 0.95), decimals = 0)
      docs.join(broadcast(qs), "source")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("p05"), col("p95"),
          least(greatest(col("n_chars").cast("double"), col("p05")),
            col("p95")).cast("long").as("clipped"))
    }),


    // Join-cardinality estimation from two INDEPENDENT count-min
    // sketches (the optimizer-statistics primitive): the CMS inner
    // product upper-bounds |orders ⋈ customer| from two fixed-size
    // artifacts without touching either table again; exact count
    // alongside for the quality check. All-integer.
    "q139_join_cardinality" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey").as("k"))
      val c = Tables.customer(s, d).select(col("c_custkey").as("k"))
      val est = SketchOps.cmsJoinCardinality(
        SketchOps.cmsBuild(o, "k", width = 8192),
        SketchOps.cmsBuild(c, "k", width = 8192))
      val exact = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("exact_join_size"))
      est.crossJoin(broadcast(exact))
        .select(col("est_join_size"), col("exact_join_size"),
          (col("est_join_size") >= col("exact_join_size")).as("overestimate"))
    }),


    // Merkle-style anti-entropy: two replicas (one with planted
    // corruption on keys %5003==0) reduce to per-range (count, xor
    // digest) pairs; only mismatched ranges would pay a row-level diff
    // (q118) — reconciling 100 TB copies without shipping either.
    "q140_range_digest" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val replicaB = o.select(col("o_orderkey"),
        when(pmod(col("o_orderkey"), lit(5003L)) === 0L, col("cents") + 1L)
          .otherwise(col("cents")).as("cents"))
      val da = QualityOps.rangeDigests(o, "o_orderkey", "cents", 1000L)
        .select(col("bucket"), col("n").as("n_a"), col("digest").as("digest_a"))
      val db = QualityOps.rangeDigests(replicaB, "o_orderkey", "cents", 1000L)
        .select(col("bucket"), col("n").as("n_b"), col("digest").as("digest_b"))
      da.join(db, Seq("bucket"), "full_outer")
        .select(col("bucket"), col("n_a"), col("n_b"),
          col("digest_a"), col("digest_b"),
          ((col("n_a") <=> col("n_b")) &&
            (col("digest_a") <=> col("digest_b"))).as("in_sync"))
    }),


    // Quantile normalization: each doc's n_chars maps onto the GLOBAL
    // value at the same within-source percentile — batch-effect
    // correction across sources. Rows shuffle once; the global side is
    // cells + a 10000-row broadcast lookup built by the bucketed range
    // join.
    "q152_quantile_norm" -> ((s, d) =>
      PercentileOps.quantileNormalize(
        Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "n_chars", "doc_id")),


    // Scale-safe percent_rank / cume_dist in integer basis points: the
    // global rank comes from the q119 cell machinery (no global row
    // sort); cume_dist joins the broadcast cell table. The oracle
    // recomputes both from the naive global window's row_number —
    // independent of the cell derivation.
    "q156_percent_rank" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val ranked = PercentileOps.ntileExact(docs, "n_chars", "doc_id", k = 1)
      val cells = docs.groupBy(col("n_chars").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = org.apache.spark.sql.expressions.Window.orderBy("v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      // n_total FOLDS from the domain-bounded cell frame (sum of cell
      // counts) — a separate docs.agg branch was a THIRD scan of the
      // table (q250 lesson); both windows move cells, not rows
      val cum = cells
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("n_total", sum("cnt").over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .select(col("v").as("n_chars"), col("cum"), col("n_total"))
      ranked.join(broadcast(cum), "n_chars")
        .select(col("doc_id"), col("n_chars"),
          expr("((rank - 1) * 10000) div (n_total - 1)").as("pr_bp"),
          expr("(cum * 10000) div n_total").as("cume_bp"))
    }),


    // Smoothed target encoding (the leakage-prone feature done right at
    // corpus scale): per-category positive rate shrunk toward the global
    // prior with pseudo-count m = 10 — enc = (pos·10⁴ + m·prior)/(n+m),
    // all integer. Small categories pull hard to the prior, large ones
    // trust their own rate; one tiny aggregate + a 1-row broadcast.
    "q217_target_encoding" -> ((s, d) => {
      val y = Tables.documents(s, d).select(col("source"),
        when(col("n_chars") >= 300L, 1L).otherwise(0L).as("y"))
      // the global prior FOLDS from the per-source aggregate -- a
      // separate y.agg branch would scan documents twice (q250 lesson);
      // the window moves |sources| rows, not data
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      y.groupBy("source").agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
        .withColumn("n_all", sum("n").over(w))
        .withColumn("pos_all", sum("n_pos").over(w))
        .withColumn("prior_bp", expr("(pos_all * 10000) div n_all"))
        .select(col("source"), col("n"), col("n_pos"), col("prior_bp"),
          expr("(n_pos * 10000 + 10 * prior_bp) div (n + 10)").as("enc_bp"))
    }),


    // Feature-correlation audit: Pearson corr(value_cents, props.k) per
    // event type, from EXACT integer sufficient statistics (n, Σx, Σy,
    // Σxy, Σx², Σy² — order-independent sums of quantized longs); only
    // the final closed-form expression runs in doubles, and both
    // engines evaluate the IDENTICAL expression tree on identical
    // integer inputs, so the e4 result hash-checks. The feature-
    // selection/drift cell a training datasheet reports.
    "q224_correlation" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("x"),
        get_json_object(col("props"), "$.k").cast("long").as("y"))
      ev.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("n"),
          expr("""CAST(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
            |   (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0 THEN 0
            | ELSE floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |   * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 10000 + 0.5)
            |END AS BIGINT)""".stripMargin).as("corr_e4"))
    }),
  )

  /** q104's one-pass HLL derivation — also the q186 oracle verbatim
    * (there the engine folds two shard register sets by max, so the
    * match certifies the merge law against this direct computation).
    */
  private val hllDirectSql =
    """WITH h AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      | FROM documents),
      |br AS (SELECT h & 63 AS bucket,
      |  CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - length(bin(h >> 6)) END AS rho
      | FROM h),
      |reg AS (SELECT bucket, max(rho) AS r FROM br GROUP BY 1),
      |agg AS (SELECT count(*) AS n_reg,
      |  CAST(sum(1::BIGINT << CAST(55 - r AS INTEGER)) AS BIGINT) AS s_nonempty FROM reg),
      |s AS (SELECT n_reg,
      |  s_nonempty + (64 - n_reg) * (1::BIGINT << 55) AS s_scaled FROM agg)
      |SELECT (SELECT count(DISTINCT doc_id) FROM documents) AS n_exact,
      | n_reg, s_scaled,
      | floor((1.0462993238608057e+20 / s_scaled::DOUBLE) * 100 + 0.5) / 100 AS hll_est
      |FROM s""".stripMargin

    /** q56's direct histogram-quantile SQL — SHARED with q187 so the
    * merge-law twin can never drift from the one-pass oracle it
    * certifies against (the hllDirectSql pattern).
    */
  private val histDirectSql =
    """WITH c AS (
        | SELECT l_returnflag, floor(l_extendedprice * 100) / 100 AS qval, count(*) AS cnt
        | FROM lineitem GROUP BY 1, 2),
        |w AS (
        | SELECT l_returnflag, qval,
        |  sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY qval
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(cnt) OVER (PARTITION BY l_returnflag) AS total
        | FROM c)
        |SELECT l_returnflag,
        | min(CASE WHEN cum >= ceil(total * 0.25) THEN qval END) AS p25,
        | min(CASE WHEN cum >= ceil(total * 0.5) THEN qval END) AS p50,
        | min(CASE WHEN cum >= ceil(total * 0.75) THEN qval END) AS p75
        |FROM w GROUP BY l_returnflag""".stripMargin

  /** q103's direct CMS-grid SQL — SHARED with q238 (same rationale). */
  private val cmsDirectSql =
    """WITH ks AS (SELECT unnest([0, 1, 2, 3]) AS k),
        |hb AS (SELECT e.user_id, ks.k,
        |  ('0x' || substr(md5(CAST(ks.k AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)), 1, 15))::BIGINT % 1024 AS bucket
        | FROM events e CROSS JOIN ks),
        |cms AS (SELECT k, bucket, count(*) AS n FROM hb GROUP BY 1, 2),
        |kh AS (SELECT DISTINCT user_id, k, bucket FROM hb),
        |est AS (SELECT kh.user_id, min(coalesce(cms.n, 0)) AS cms_n
        | FROM kh LEFT JOIN cms ON cms.k = kh.k AND cms.bucket = kh.bucket
        | GROUP BY 1),
        |exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1)
        |SELECT x.user_id, x.exact_n, est.cms_n
        |FROM exact x JOIN est ON est.user_id = x.user_id""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "q51_percentiles" ->
      """SELECT l_returnflag,
        | floor(quantile_cont(l_extendedprice, 0.25) * 10000 + 0.5) / 10000 AS p25,
        | floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000 AS p50,
        | floor(quantile_cont(l_extendedprice, 0.75) * 10000 + 0.5) / 10000 AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,


    // Same cell-quantize → cumulative-rank arithmetic as
    // PercentileOps.histogramQuantiles (IEEE double ops are bit-exact in
    // both engines).
    "q56_hist_quantiles" ->
      histDirectSql,


    // IDENTICAL SQL to q56 — the oracle is the one-pass histogram; the
    // engine folds two shard histograms, so the match certifies the
    // cell-merge law.
    "q187_percentile_merge" ->
      histDirectSql,


    // Valid oracle because the Spark side's GK accuracy bound (1e6) keeps
    // rank error < 1 at verify SFs → exactly the discrete quantile.
    "q57_approx_percentiles" ->
      """SELECT l_returnflag,
        | quantile_disc(l_extendedprice, 0.25) AS p25,
        | quantile_disc(l_extendedprice, 0.5) AS p50,
        | quantile_disc(l_extendedprice, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,


    // Rebuilds the identical md5-hashed sketch grid, then probes it:
    // depth 4 x width 1024, estimate = min over rows. The unnest of the
    // hash-row index lives in its own CTE (DuckDB lateral rule).
    "q103_cms_counts" ->
      cmsDirectSql,


    // IDENTICAL SQL to q103 — the oracle computes the one-pass grid; the
    // engine folds two shard grids cell-wise, so the match certifies the
    // CMS merge law.
    "q238_cms_merge" ->
      cmsDirectSql,


    // The identical deterministic batch reduce, replayed: per-shard
    // t = min over the top-17 counts (the top-(k+1) count multiset is
    // unique, so the ORDER BY tie order among keys is free), survivors
    // est = count - t, merged counters re-reduced the same way. The
    // hash match certifies the MG merge law and the n/(k+1) bound.
    "q241_mg_merge" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
         |ca AS (SELECT w, CAST(count(*) AS BIGINT) AS est FROM tok
         | WHERE doc_id % 2 = 0 GROUP BY w),
         |ta AS (SELECT CASE WHEN count(*) = 17 THEN min(est)
         |  ELSE CAST(0 AS BIGINT) END AS t
         | FROM (SELECT est FROM ca ORDER BY est DESC LIMIT 17)),
         |sa AS (SELECT w, ca.est - ta.t AS est FROM ca CROSS JOIN ta
         | WHERE ca.est > ta.t),
         |cb AS (SELECT w, CAST(count(*) AS BIGINT) AS est FROM tok
         | WHERE doc_id % 2 = 1 GROUP BY w),
         |tb AS (SELECT CASE WHEN count(*) = 17 THEN min(est)
         |  ELSE CAST(0 AS BIGINT) END AS t
         | FROM (SELECT est FROM cb ORDER BY est DESC LIMIT 17)),
         |sb AS (SELECT w, cb.est - tb.t AS est FROM cb CROSS JOIN tb
         | WHERE cb.est > tb.t),
         |m AS (SELECT coalesce(sa.w, sb.w) AS w,
         |  coalesce(sa.est, 0) + coalesce(sb.est, 0) AS est
         | FROM sa FULL OUTER JOIN sb ON sa.w = sb.w),
         |tm AS (SELECT CASE WHEN count(*) = 17 THEN min(est)
         |  ELSE CAST(0 AS BIGINT) END AS t
         | FROM (SELECT est FROM m ORDER BY est DESC LIMIT 17)),
         |mg AS (SELECT w, m.est - tm.t AS est FROM m CROSS JOIN tm
         | WHERE m.est > tm.t),
         |ex AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_n FROM tok GROUP BY w),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
         |SELECT mg.w, ex.exact_n, mg.est AS mg_est,
         | ex.exact_n - mg.est AS err,
         | CAST(CASE WHEN (ex.exact_n - mg.est) * 17 <= nn.n
         |  THEN 1 ELSE 0 END AS INT) AS in_bound
         |FROM mg JOIN ex USING (w) CROSS JOIN nn""".stripMargin,


    // Identical HLL state: bucket = low 6 hash bits, rho from bin()
    // (renders without leading zeros in both engines), registers = max,
    // harmonic sum as integer 2^(55-r) units; the alpha*m^2*2^55
    // constant is the 17-digit literal that round-trips to the same
    // double both sides.
    "q104_hll_distinct" -> hllDirectSql,


    // IDENTICAL SQL to q104 — the oracle computes the one-pass sketch;
    // the engine computes two shard sketches folded by register max,
    // so the match certifies the merge law.
    "q186_hll_merge" -> hllDirectSql,


    // Direct one-pass bottom-k — the engine folds two shard sketches,
    // so the match certifies the KMV merge law and the estimate
    // arithmetic (63 · 2^60 and the hash are exactly-representable
    // doubles; one IEEE multiply + divide + floor each side).
    // q252: position function re-derived from md5 (h%m, double-hash
    // step (h//m % m)|1, j in 0..2), the DIRECT un-split build (engine
    // merges shards — the match IS the OR merge-law certificate), and
    // the same probe/threshold fold.
    "q252_bloom_filter" ->
      """WITH keys AS (SELECT DISTINCT doc_id FROM documents),
        |mem AS (SELECT doc_id FROM keys WHERE doc_id % 4 <> 0),
        |hp AS (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM keys),
        |pos AS (SELECT doc_id,
        |  (h % 32768 + j * (((h // 32768) % 32768) | 1)) % 32768 AS p
        | FROM hp CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)),
        |pl AS (SELECT doc_id, p // 64 AS lane,
        |  CASE WHEN p % 64 = 63 THEN (-9223372036854775807 - 1)
        |       ELSE 1::BIGINT << CAST(p % 64 AS INTEGER) END AS mask FROM pos),
        |bloom AS (SELECT lane, bit_or(mask) AS bits
        | FROM pl JOIN mem USING (doc_id) GROUP BY lane),
        |pr AS (SELECT pl.doc_id,
        |  min(CASE WHEN b.bits IS NOT NULL AND (b.bits & pl.mask) <> 0
        |      THEN 1 ELSE 0 END) AS member
        | FROM pl LEFT JOIN bloom b USING (lane) GROUP BY pl.doc_id),
        |fl AS (SELECT doc_id, member,
        |  CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0 END AS is_member FROM pr),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS lanes_used,
        |  CAST(sum(bit_count(bits)) AS BIGINT) AS bits_set FROM bloom)
        |SELECT CAST(sum(is_member) AS BIGINT) AS n_members,
        | CAST(sum(CASE WHEN is_member = 1 AND member = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS members_hit,
        | CAST(sum(1 - is_member) AS BIGINT) AS n_nonmembers,
        | CAST(sum(CASE WHEN is_member = 0 AND member = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS false_positives,
        | st.lanes_used, st.bits_set,
        | CAST(sum(CASE WHEN is_member = 0 AND member = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   * 10000 // CAST(sum(1 - is_member) AS BIGINT) AS fpr_bp
        |FROM fl CROSS JOIN st GROUP BY st.lanes_used, st.bits_set""".stripMargin,


    // q251: the identical bottom-k / flag / estimate chain re-derived —
    // L = bottom-256 of the two sketches' union IS the union's sketch
    // (monotone selector), matches = L rows present in BOTH inputs,
    // then the q191 estimate formula and integer // ratios.
    "q251_kmv_intersect" ->
      """WITH ha AS (SELECT DISTINCT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM customer WHERE c_custkey % 3 <> 0),
        |ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
        |hb AS (SELECT DISTINCT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM customer WHERE c_custkey % 2 = 0),
        |kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
        |u AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 256),
        |fl AS (SELECT u.h,
        |  CASE WHEN ka.h IS NOT NULL AND kb.h IS NOT NULL THEN 1 ELSE 0 END AS m
        | FROM u LEFT JOIN ka ON ka.h = u.h LEFT JOIN kb ON kb.h = u.h),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_union_sketch, max(h) AS kth_min,
        |  CAST(sum(m) AS BIGINT) AS matches FROM fl),
        |e AS (SELECT n_union_sketch, kth_min, matches,
        |  CASE WHEN n_union_sketch < 256 THEN n_union_sketch
        |   ELSE CAST(floor(255.0 * 1152921504606846976 / CAST(kth_min AS DOUBLE)) AS BIGINT)
        |   END AS union_est FROM s)
        |SELECT n_union_sketch, kth_min, matches, union_est,
        | matches * 10000 // n_union_sketch AS jaccard_bp,
        | (matches * union_est) // n_union_sketch AS intersect_est,
        | (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer
        |   WHERE c_custkey % 3 <> 0 AND c_custkey % 2 = 0) AS exact_intersect,
        | (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer
        |   WHERE c_custkey % 3 <> 0 OR c_custkey % 2 = 0) AS exact_union
        |FROM e""".stripMargin,


    "q191_kmv_sketch" ->
      """WITH h AS (SELECT DISTINCT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM documents),
        |b AS (SELECT h FROM h ORDER BY h LIMIT 64),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_sketch, max(h) AS kth_min FROM b)
        |SELECT (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents) AS n_exact,
        | n_sketch, kth_min,
        | CASE WHEN n_sketch < 64 THEN n_sketch
        |  ELSE CAST(floor(63.0 * 1152921504606846976 / CAST(kth_min AS DOUBLE)) AS BIGINT) END AS kmv_est
        |FROM s""".stripMargin,


    // Identical per-day registers (q104 chain grouped by day), the same
    // 3-day contribution explode, register max, integer harmonic sum.
    "q115_windowed_hll" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |h AS (SELECT day,
        |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM ev),
        |br AS (SELECT day, h & 63 AS bucket,
        |  CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - length(bin(h >> 6)) END AS rho
        | FROM h),
        |dreg AS (SELECT day, bucket, max(rho) AS r FROM br GROUP BY 1, 2),
        |offs AS (SELECT unnest([0, 1, 2]) AS o),
        |contrib AS (SELECT day + o AS tday, bucket, r FROM dreg CROSS JOIN offs),
        |days AS (SELECT DISTINCT day FROM ev),
        |wreg AS (SELECT c.tday AS day, c.bucket, max(c.r) AS r
        | FROM contrib c JOIN days dy ON dy.day = c.tday GROUP BY 1, 2),
        |agg AS (SELECT day, count(*) AS n_reg,
        |  CAST(sum(1::BIGINT << CAST(55 - r AS INTEGER)) AS BIGINT) AS s_ne
        | FROM wreg GROUP BY 1),
        |s AS (SELECT day, n_reg,
        |  s_ne + (64 - n_reg) * (1::BIGINT << 55) AS s_scaled FROM agg)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_reg, s_scaled,
        | floor((1.0462993238608057e+20 / s_scaled::DOUBLE) * 100 + 0.5) / 100 AS hll_est
        |FROM s""".stripMargin,


    // The naive global window the Spark side deliberately avoids —
    // fine in DuckDB at oracle SF, a scale-killer in a cluster.
    "q119_ntile_bins" ->
      """SELECT doc_id, n_chars,
        | CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rank,
        | CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS bin
        |FROM documents""".stripMargin,


    // The q56 cum/total cell chain at decimals=0, then clip.
    "q128_winsorize" ->
      """WITH c AS (SELECT source, floor(n_chars * 1.0) / 1.0 AS qval,
        |  count(*) AS cnt FROM documents GROUP BY 1, 2),
        |w AS (SELECT source, qval,
        |  sum(cnt) OVER (PARTITION BY source ORDER BY qval
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(cnt) OVER (PARTITION BY source) AS total FROM c),
        |q AS (SELECT source,
        |  min(CASE WHEN cum >= ceil(total * 0.05) THEN qval END) AS p05,
        |  min(CASE WHEN cum >= ceil(total * 0.95) THEN qval END) AS p95
        | FROM w GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars, q.p05, q.p95,
        | CAST(least(greatest(CAST(d.n_chars AS DOUBLE), q.p05), q.p95) AS BIGINT) AS clipped
        |FROM documents d JOIN q ON q.source = d.source""".stripMargin,


    // The q103 grid chain for both tables, then the row-wise inner
    // product and the min — identical integer arithmetic.
    "q139_join_cardinality" ->
      """WITH ks AS (SELECT unnest([0, 1, 2, 3]) AS k),
        |ga AS (SELECT ks.k,
        |  ('0x' || substr(md5(CAST(ks.k AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT % 8192 AS bucket,
        |  CAST(count(*) AS BIGINT) AS na
        | FROM orders CROSS JOIN ks GROUP BY 1, 2),
        |gb AS (SELECT ks.k,
        |  ('0x' || substr(md5(CAST(ks.k AS VARCHAR) || ':' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 8192 AS bucket,
        |  CAST(count(*) AS BIGINT) AS nb
        | FROM customer CROSS JOIN ks GROUP BY 1, 2),
        |dot AS (SELECT ks.k, CAST(coalesce(sum(ga.na * gb.nb), 0) AS BIGINT) AS d
        | FROM ks LEFT JOIN ga ON ga.k = ks.k
        |  LEFT JOIN gb ON gb.k = ga.k AND gb.bucket = ga.bucket GROUP BY 1),
        |est AS (SELECT min(d) AS est_join_size FROM dot),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_size
        | FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
        |SELECT CAST(est_join_size AS BIGINT) AS est_join_size, exact_join_size,
        | est_join_size >= exact_join_size AS overestimate
        |FROM est CROSS JOIN ex""".stripMargin,


    // Same fingerprints, same xor fold; bit_xor is order-independent
    // in both engines.
    "q140_range_digest" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |rb AS (SELECT k, CASE WHEN k % 5003 = 0 THEN cents + 1 ELSE cents END AS cents
        | FROM o),
        |fa AS (SELECT k // 1000 AS bucket,
        |  ('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)), 1, 15))::BIGINT AS fp
        | FROM o),
        |fb AS (SELECT k // 1000 AS bucket,
        |  ('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)), 1, 15))::BIGINT AS fp
        | FROM rb),
        |da AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_a,
        |  CAST(bit_xor(fp) AS BIGINT) AS digest_a FROM fa GROUP BY 1),
        |db AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_b,
        |  CAST(bit_xor(fp) AS BIGINT) AS digest_b FROM fb GROUP BY 1)
        |SELECT coalesce(da.bucket, db.bucket) AS bucket, n_a, n_b,
        | digest_a, digest_b,
        | n_a IS NOT DISTINCT FROM n_b
        |  AND digest_a IS NOT DISTINCT FROM digest_b AS in_sync
        |FROM da FULL OUTER JOIN db ON db.bucket = da.bucket""".stripMargin,


    // Same rank quantization, same cell-interval lookup (the range
    // join re-derived as an interval predicate).
    "q152_quantile_norm" ->
      """WITH rows_ AS (SELECT doc_id AS id, source AS g, n_chars AS v FROM documents),
        |rk AS (SELECT id, g, v,
        |  row_number() OVER (PARTITION BY g ORDER BY v, id) AS r,
        |  count(*) OVER (PARTITION BY g) AS n_g FROM rows_),
        |rb AS (SELECT id, g, v,
        |  greatest(1, (r * 10000) // n_g) AS rank_bp FROM rk),
        |cells AS (SELECT v, count(*) AS cnt FROM rows_ GROUP BY 1),
        |cum AS (SELECT v, cnt,
        |  sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM cells),
        |n AS (SELECT count(*) AS n_total FROM rows_),
        |lv AS (SELECT unnest(generate_series(1, 10000)) AS bp),
        |lvr AS (SELECT bp, (bp * n_total + 9999) // 10000 AS r_req FROM lv CROSS JOIN n),
        |lut AS (SELECT lvr.bp, c.v AS norm_v FROM lvr
        | JOIN cum c ON lvr.r_req >= c.cum - c.cnt + 1 AND lvr.r_req <= c.cum)
        |SELECT rb.id AS doc_id, rb.g AS source, CAST(rb.v AS BIGINT) AS n_chars,
        | CAST(rb.rank_bp AS BIGINT) AS rank_bp,
        | CAST(l.norm_v AS BIGINT) AS normalized
        |FROM rb JOIN lut l ON l.bp = rb.rank_bp""".stripMargin,


    // Both measures recomputed from the naive global window —
    // independent of the Spark side's cell-histogram ranks.
    "q156_percent_rank" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
        |  count(*) OVER () AS n FROM documents),
        |c AS (SELECT n_chars, max(rn) AS cum FROM r GROUP BY 1)
        |SELECT r.doc_id, r.n_chars,
        | ((r.rn - 1) * 10000) // (r.n - 1) AS pr_bp,
        | (c.cum * 10000) // r.n AS cume_bp
        |FROM r JOIN c ON c.n_chars = r.n_chars""".stripMargin,

    // Identical integer shrinkage arithmetic on the same binary target.
    "q217_target_encoding" ->
      """WITH y AS (SELECT source, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
        | FROM documents),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
        |  CAST(sum(y) AS BIGINT) AS pos_all FROM y),
        |p AS (SELECT (pos_all * 10000) // n_all AS prior_bp FROM g),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos FROM y GROUP BY source)
        |SELECT c.source, c.n, c.n_pos, p.prior_bp,
        | (c.n_pos * 10000 + 10 * p.prior_bp) // (c.n + 10) AS enc_bp
        |FROM c CROSS JOIN p""".stripMargin,


    // Identical integer sufficient statistics, identical final double
    // expression tree (products of exact longs, correctly-rounded IEEE
    // sqrt) — deterministic cross-engine.
    "q224_correlation" ->
      """WITH e AS (SELECT event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
        | FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(y * y) AS BIGINT) AS syy
        | FROM e GROUP BY event_type)
        |SELECT event_type, n,
        | CAST(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0 THEN 0
        |  ELSE floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) * 10000 + 0.5)
        | END AS BIGINT) AS corr_e4
        |FROM g""".stripMargin,
  )
}
