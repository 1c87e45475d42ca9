package graft.queries

import graft.Tables
import graft.functions.{Rounding => R}
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational / warehouse shapes: aggregation, top-k, windows, pivot/unpivot, cube/rollup, outer joins, z-order, data-skipping manifests.
  *
  * Contract queries: q01_pricing_summary, q02_revenue_by_nation, q03_top_orders, q04_order_rank_window, q09_event_counters, q10_state_summary, q52_rollup, q88_json_extract, q89_pivot, q90_lag_delta, q92_cube, q93_unpivot, q94_full_outer, q95_zscore, q96_topk_per_group, q101_zorder, q106_mad_outliers, q109_mv_rollup, q144_skipping_manifest.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object RelationalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A2-style aggregation over the big fact table (TPC-H Q1 shape).
    "q01_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(R.half2(sum("l_quantity")).as("sum_qty"),
          R.half2(sum("l_extendedprice")).as("sum_base"),
          R.half4(avg("l_discount")).as("avg_disc"),
          count(lit(1)).as("n_rows"))),


    // J3-style equi-joins + agg; nation/region are broadcast-size dims.
    "q02_revenue_by_nation" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(R.half2(sum("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))),


    // O1/O2: global top-k with deterministic tiebreak.
    "q03_top_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice")),


    // [gap] window function: first 3 orders per customer.
    "q04_order_rank_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("int").as("rn"))
    }),


    // A1: running counters per group.
    "q09_event_counters" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          R.half2(sum("value")).as("sum_value"),
          R.half4(avg("value")).as("avg_value"))),


    // A3: state summary (max/count/sum per status).
    "q10_state_summary" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          // string-typed on both sides: Spark parquet timestamps are
          // adjusted-to-UTC (read tz-aware) while DuckDB returns naive —
          // a comparator that doesn't tz-normalize would false-fail
          date_format(max("o_orderdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("max_date"),
          R.half2(sum("o_totalprice")).as("total"))),


    // [gap] rollup with grand total.
    "q52_rollup" -> ((s, d) =>
      Tables.orders(s, d).rollup("o_orderstatus")
        .agg(count(lit(1)).as("n"), R.half2(sum("o_totalprice")).as("total"))),


    // Semi-structured extraction: typed JSON field pulled from the
    // events payload column, filtered on the extracted value.
    "q88_json_extract" -> ((s, d) =>
      Tables.events(s, d).select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k") >= 50)),


    // Pivot: per-user event-type counts as columns (the OLAP reshape);
    // absent combinations coalesce to 0 to match the CASE-sum oracle.
    "q89_pivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, d).groupBy("user_id").pivot("event_type", types).count()
        .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }),


    // Lag analytics: day-over-day delta of daily event counts per type
    // (count aggregation reuses the window partitioning).
    "q90_lag_delta" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("day")
      daily.select(col("event_type"), col("day"), col("n"),
        (col("n") - coalesce(lag("n", 1).over(w), lit(0L))).as("delta"))
    }),


    // Cube: event counts + value sums over all subsets of
    // (event_type, user bucket) — the OLAP totals/subtotals reshape.
    "q92_cube" -> ((s, d) =>
      // sum a fixed-point integer form (cents) so the aggregate is
      // accumulation-order independent: a raw double sum can land on
      // either side of a 2-decimal rounding boundary depending on
      // partition order — a cross-engine flake vs the oracle.
      Tables.events(s, d)
        .select(col("event_type"), pmod(col("user_id"), lit(4)).as("ub"),
          round(col("value") * 100).cast("long").as("cents"))
        .cube("event_type", "ub")
        .agg(count(lit(1)).as("n"),
          (sum("cents").cast("double") / 100.0).as("sum_value"))),


    // Unpivot: melt q89's wide per-user counts back to long form
    // (the round-trip of the pivot reshape); zero rows dropped so the
    // pair is lossless.
    "q93_unpivot" -> ((s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = Tables.events(s, d).groupBy("user_id").pivot("event_type", types).count()
        .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      val stackExpr = "stack(5, " +
        types.map(t => s"'$t', $t").mkString(", ") + ") as (event_type, n)"
      wide.select(col("user_id"), expr(stackExpr))
        .select("user_id", "event_type", "n")
    }),


    // Full outer join: per-user event activity vs per-customer order
    // activity — ids present on either side survive with 0-coalesced
    // counts from the missing side.
    "q94_full_outer" -> ((s, d) => {
      val ev = Tables.events(s, d).groupBy(col("user_id").as("id"))
        .agg(count(lit(1)).as("n_events"))
      val ord = Tables.orders(s, d).groupBy(col("o_custkey").as("id"))
        .agg(count(lit(1)).as("n_orders"))
      ev.join(ord, Seq("id"), "full_outer")
        .select(col("id"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    }),


    // Per-source z-score standardization of document length with
    // INTEGER moment sums (sum, sum of squares) so the statistics are
    // order-independent; the mean/std/z derivation is a fixed expression
    // tree mirrored exactly in SQL. Outliers = |z| > 2.
    "q95_zscore" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = docs.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
      val mean = col("s1").cast("double") / col("n").cast("double")
      val variance = col("s2").cast("double") / col("n").cast("double") - mean * mean
      val z = (col("n_chars").cast("double") - mean) / sqrt(variance)
      // zero-variance guard: a source whose docs all share one n_chars
      // value (any single-doc source included) would otherwise divide by
      // zero -> NaN/Inf with engine-dependent handling vs the oracle.
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .join(broadcast(stats), "source")
        .select(col("doc_id"), col("source"), col("n_chars"),
          when(variance <= 0.0, lit(0.0)).otherwise(R.half4(z)).as("z"),
          when(variance <= 0.0, lit(false)).otherwise(abs(z) > 2.0).as("outlier"))
    }),


    // Generic top-k per group via the bounded-heap aggregator (the q28
    // shape on a non-ANN axis): top-3 quality docs per source. Partial
    // aggregation, never a per-group window sort.
    "q96_topk_per_group" -> ((s, d) => {
      import graft.functions.TopK
      val docs = Tables.documents(s, d)
      val scored = TextAnalysisOps.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
        .join(docs.select("doc_id", "source"), "doc_id")
      scored.groupBy("source")
        .agg(TopK.topK(3)(col("quality"), col("doc_id")).as("topk"))
        .select(col("source"), posexplode(col("topk")).as(Seq("rank0", "e")))
        .select(col("source"), (col("rank0") + 1).cast("long").as("rank"),
          col("e.neighborId").as("doc_id"), col("e.sim").as("quality"))
    }),


    // Z-order (Morton) clustering key over (custkey, orderkey) buckets —
    // the multi-column data-skipping layout; the pruning win itself is
    // asserted in ZOrderSpec, this checks the interleave bit-exactly.
    "q101_zorder" -> ((s, d) => {
      val x = pmod(col("o_custkey"), lit(1024L))
      val y = pmod(col("o_orderkey"), lit(1024L))
      Tables.orders(s, d).select(col("o_orderkey"), x.as("xb"), y.as("yb"),
        graft.functions.ZOrder.zValue(x, y, 10).as("zval"))
    }),


    // Robust outliers via MAD (median absolute deviation) — the
    // median-based complement of q95's mean/sigma z-score: immune to the
    // very outliers it hunts. All-integer (discrete medians, integer
    // deviations, integer threshold compare), so hash-exact. The GK
    // sketch at accuracy 1e6 is the exact discrete quantile at this SF
    // (the q57 bound); at scale the same plan degrades gracefully to a
    // mergeable bounded-state approximation. Group stats broadcast.
    "q106_mad_outliers" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val med = docs.groupBy("source").agg(
        expr("approx_percentile(n_chars, 0.5, 1000000)").as("med"))
      val dev = docs.join(broadcast(med), "source")
        .select(col("doc_id"), col("source"), col("n_chars"),
          abs(col("n_chars") - col("med")).as("dev"))
      val mad = dev.groupBy("source").agg(
        expr("approx_percentile(dev, 0.5, 1000000)").as("mad"))
      dev.join(broadcast(mad), "source")
        .select(col("doc_id"), col("source"), col("n_chars"), col("dev"),
          col("mad"), (col("dev") > col("mad") * 3).as("outlier"))
    }),


    // Incremental materialized-view maintenance: the stored per-(type,
    // day) partial state rolls up to per-type totals WITHOUT touching
    // raw events — the algebraic-aggregate (count/sum/min/max) merge a
    // 100 TB nightly pipeline runs on yesterday's partials plus today's
    // delta. All-integer cents. AggMergeSpec asserts partial-merge ==
    // direct aggregation.
    "q109_mv_rollup" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      val state = ev.groupBy("event_type", "day").agg(
        count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
      state.groupBy("event_type").agg(
        sum("n").as("n"), sum("sum_cents").as("sum_cents"),
        min("min_cents").as("min_cents"), max("max_cents").as("max_cents"))
    }),


    // The data-skipping manifest for the q101 z-order layout: per file
    // bucket (64 KiB z-range), row count and min/max of both dimensions
    // — the stats a box query prunes against (ZOrderSpec shows the
    // skipping win; this materializes what it prunes with).
    "q144_skipping_manifest" -> ((s, d) => {
      val x = pmod(col("o_custkey"), lit(1024L))
      val y = pmod(col("o_orderkey"), lit(1024L))
      Tables.orders(s, d)
        .select(x.as("xb"), y.as("yb"),
          graft.functions.ZOrder.zValue(x, y, 10).as("zval"))
        .withColumn("file_bucket", expr("zval div 65536"))
        .groupBy("file_bucket").agg(count(lit(1)).as("n"),
          min("xb").as("min_x"), max("xb").as("max_x"),
          min("yb").as("min_y"), max("yb").as("max_y"),
          min("zval").as("min_z"), max("zval").as("max_z"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty,
        | floor(sum(l_extendedprice) * 100 + 0.5) / 100 AS sum_base,
        | floor(avg(l_discount) * 10000 + 0.5) / 10000 AS avg_disc,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,


    "q02_revenue_by_nation" ->
      """SELECT n_name, floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,


    "q03_top_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,


    "q04_order_rank_window" ->
      """SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 3""".stripMargin,


    "q09_event_counters" ->
      """SELECT event_type, count(*) AS n_events,
        | floor(sum(value) * 100 + 0.5) / 100 AS sum_value, floor(avg(value) * 10000 + 0.5) / 10000 AS avg_value
        |FROM events GROUP BY event_type""".stripMargin,


    "q10_state_summary" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S.%f') AS max_date,
        | floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
        |FROM orders GROUP BY o_orderstatus""".stripMargin,


    "q52_rollup" ->
      """SELECT o_orderstatus, count(*) AS n,
        | floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus)""".stripMargin,


    "q88_json_extract" ->
      """SELECT event_id, event_type,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50""".stripMargin,


    "q89_pivot" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id""".stripMargin,


    "q90_lag_delta" ->
      """WITH d AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
        | FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n,
        | n - coalesce(lag(n, 1) OVER (PARTITION BY event_type ORDER BY day), 0) AS delta
        |FROM d""".stripMargin,


    // Fixed-point cents sum: order-independent, so Spark's partition-order
    // accumulation and DuckDB's sequential accumulation agree exactly.
    "q92_cube" ->
      """WITH e AS (SELECT event_type, user_id % 4 AS ub,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_type, ub, count(*) AS n,
        | CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
        |FROM e GROUP BY CUBE (event_type, ub)""".stripMargin,


    // The wide CTE mirrors q89; the melt is a 5-way UNION ALL (portable
    // across engines, same row multiset as Spark's stack()).
    "q93_unpivot" ->
      """WITH w AS (SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        | FROM events GROUP BY user_id)
        |SELECT user_id, 'click' AS event_type, click AS n FROM w
        |UNION ALL SELECT user_id, 'error', error FROM w
        |UNION ALL SELECT user_id, 'purchase', purchase FROM w
        |UNION ALL SELECT user_id, 'signup', signup FROM w
        |UNION ALL SELECT user_id, 'view', view FROM w""".stripMargin,


    "q94_full_outer" ->
      """WITH ev AS (SELECT user_id AS id, count(*) AS n_events FROM events GROUP BY 1),
        |ord AS (SELECT o_custkey AS id, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT coalesce(ev.id, ord.id) AS id,
        | coalesce(ev.n_events, 0) AS n_events,
        | coalesce(ord.n_orders, 0) AS n_orders
        |FROM ev FULL OUTER JOIN ord ON ev.id = ord.id""".stripMargin,


    // Integer moment sums (count/sum/sum-of-squares) then the identical
    // double expression tree: mean = s1/n, var = s2/n - mean^2,
    // z = (x - mean)/sqrt(var). DuckDB integer sums are HUGEINT -> cast.
    "q95_zscore" ->
      """WITH st AS (SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS s1,
        |  CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
        | FROM documents GROUP BY source),
        |mv AS (SELECT source, s1::DOUBLE / n AS mean,
        |  s2::DOUBLE / n - (s1::DOUBLE / n) * (s1::DOUBLE / n) AS var FROM st)
        |SELECT d.doc_id, d.source, d.n_chars,
        | CASE WHEN mv.var <= 0 THEN 0.0
        |   ELSE floor(((d.n_chars::DOUBLE - mv.mean) / sqrt(mv.var)) * 10000 + 0.5) / 10000
        | END AS z,
        | CASE WHEN mv.var <= 0 THEN FALSE
        |   ELSE abs((d.n_chars::DOUBLE - mv.mean) / sqrt(mv.var)) > 2.0
        | END AS outlier
        |FROM documents d JOIN mv ON mv.source = d.source""".stripMargin,


    // (quality DESC, doc_id ASC) row_number mirrors the TopK
    // aggregator's deterministic tie order.
    "q96_topk_per_group" ->
      s"""WITH $qualityCtes,
         |qs AS (SELECT doc_id, $qualityExprSql AS quality FROM m),
         |j AS (SELECT d.source, qs.doc_id, qs.quality
         | FROM qs JOIN documents d ON d.doc_id = qs.doc_id),
         |r AS (SELECT source, doc_id, quality,
         |  row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
         | FROM j)
         |SELECT source, CAST(rk AS BIGINT) AS rank, doc_id, quality
         |FROM r WHERE rk <= 3""".stripMargin,


    // Morton interleave as a sum of shift-mask terms; list_sum over
    // BIGINT promotes to HUGEINT -> cast back.
    "q101_zorder" ->
      """WITH b AS (SELECT o_orderkey, o_custkey % 1024 AS xb,
        |  o_orderkey % 1024 AS yb FROM orders)
        |SELECT o_orderkey, xb, yb,
        | CAST(list_sum(list_transform(range(0, 10), i ->
        |   ((xb & (1::BIGINT << i)) << i) + ((yb & (1::BIGINT << i)) << (i + 1))))
        |  AS BIGINT) AS zval
        |FROM b""".stripMargin,


    // quantile_disc == approx_percentile at rank error < 1 (the q57
    // bound); everything downstream is integer arithmetic.
    "q106_mad_outliers" ->
      """WITH m AS (SELECT source, quantile_disc(n_chars, 0.5) AS med
        | FROM documents GROUP BY 1),
        |dv AS (SELECT d.doc_id, d.source, d.n_chars,
        |  abs(d.n_chars - m.med) AS dev
        | FROM documents d JOIN m ON m.source = d.source),
        |md AS (SELECT source, quantile_disc(dev, 0.5) AS mad FROM dv GROUP BY 1)
        |SELECT dv.doc_id, dv.source, dv.n_chars, dv.dev, md.mad,
        | dv.dev > 3 * md.mad AS outlier
        |FROM dv JOIN md ON md.source = dv.source""".stripMargin,


    "q109_mv_rollup" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |state AS (SELECT event_type, day, count(*) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(cents) AS min_cents, max(cents) AS max_cents
        | FROM ev GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
        | CAST(sum(sum_cents) AS BIGINT) AS sum_cents,
        | min(min_cents) AS min_cents, max(max_cents) AS max_cents
        |FROM state GROUP BY 1""".stripMargin,


    // The q101 interleave formula, bucketed and reduced to stats.
    "q144_skipping_manifest" ->
      """WITH b AS (SELECT o_custkey % 1024 AS xb, o_orderkey % 1024 AS yb
        | FROM orders),
        |z AS (SELECT xb, yb,
        |  CAST(list_sum(list_transform(range(0, 10), i ->
        |    ((xb & (1::BIGINT << i)) << i) + ((yb & (1::BIGINT << i)) << (i + 1))))
        |   AS BIGINT) AS zval FROM b)
        |SELECT zval // 65536 AS file_bucket, CAST(count(*) AS BIGINT) AS n,
        | min(xb) AS min_x, max(xb) AS max_x,
        | min(yb) AS min_y, max(yb) AS max_y,
        | min(zval) AS min_z, max(zval) AS max_z
        |FROM z GROUP BY 1""".stripMargin,
  )
}
