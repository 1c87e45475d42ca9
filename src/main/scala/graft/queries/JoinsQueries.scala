package graft.queries

import graft.Tables
import graft.functions.{Rounding => R}
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join algorithms beyond equi-join: as-of, range, interval overlap, fuzzy (blocked Levenshtein), salted skew joins.
  *
  * Contract queries: q64_asof_state, q66_range_join, q75_salted_join, q91_fuzzy_match, q148_interval_overlap, q225_skew_report, q253_bucketed_join, q255_mixed_bucket_join, q259_bucket_escape.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object JoinsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // As-of join (union+window pattern — one shuffle, no range-join row
    // explosion): each event gets the latest state checkpoint at-or-before
    // its timestamp per user. DuckDB's native ASOF JOIN is the oracle.
    "q64_asof_state" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
      val ckpt = Tables.events(s, d).where(col("event_id") % 20 === 0)
        .select(col("user_id"), col("ts"), col("event_id").as("state_id"))
      JoinOps.asofJoin(ev, ckpt, "user_id", "ts", "state_id")
        .select("event_id", "user_id", "state_id")
    }),


    // Bucketed range join: events joined to the 2h checkpoint windows
    // covering them — an equi-join on time bucket + exact BETWEEN filter,
    // never the broadcast-nested-loop a naive range predicate plans to.
    "q66_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val pts = ev.select(col("event_id"), unix_timestamp(col("ts")).as("pt"))
      val iv = ev.where(col("event_id") % 50 === 0)
        .select(col("event_id").as("interval_id"),
          unix_timestamp(col("ts")).as("lo"),
          (unix_timestamp(col("ts")) + 7200L).as("hi"))
      JoinOps.rangeJoin(pts, iv, "pt", "lo", "hi", bucketWidth = 3600L)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n_points"), sum("event_id").as("sum_ids"))
    }),


    // Salted equi-join, oracle-proven output-identical to the plain
    // join: lineitem's 3 return flags are the textbook hot keys (every
    // row hits one of 3 join keys); the deterministic row-hash salt
    // spreads each over 8 sub-keys. At this SF the 24-row dim broadcasts
    // anyway — the check is output parity; the salt pays off when the
    // small side outgrows the broadcast threshold and the join shuffles.
    "q75_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"), col("l_quantity"))
      val dim = li.select("flag").distinct()
        .withColumn("flag_label", concat(lit("flag_"), col("flag")))
      JoinOps.saltedEquiJoin(li, dim, "flag", saltFactor = 8)
        .groupBy("flag_label")
        .agg(count(lit(1)).as("n"), R.half2(sum("l_quantity")).as("sum_qty"))
    }),


    // Fuzzy entity matching: supplier names vs variants with one
    // character typo'd mid-string; suffix blocking + Levenshtein <= 1
    // pairs each variant with exactly its origin (any other supplier in
    // the block differs by >= 2 edits).
    "q91_fuzzy_match" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
      val variants = sup.select((col("s_suppkey") + 1000000000000L).as("vid"),
        concat(substring(col("s_name"), 1, 9), lit("X"),
          substring(col("s_name"), 11, 100)).as("vname"))
      JoinOps.fuzzyJoin(sup, variants, "s_suppkey", "s_name", "vid", "vname",
        maxDist = 1, blockLen = 3)
    }),


    // Interval x interval overlap join: per-(user, day) activity spans
    // vs 20 literal outage windows — bucketed to 6h candidates + exact
    // predicate (never a nested-loop); the oracle is the brute-force
    // overlap join, so the bucketing cannot hide lost pairs.
    "q148_interval_overlap" -> ((s, d) => {
      val act = Tables.events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(min(unix_micros(col("ts"))).as("a_start"),
          max(unix_micros(col("ts"))).as("a_end"))
        .select(concat(col("user_id"), lit(":"),
          date_format(col("day"), "yyyy-MM-dd")).as("a_id"),
          col("a_start"), col("a_end"))
      val outages = s.range(0, 20).select(col("id").as("b_id"),
          (lit(1704067200000000L) + col("id") * 129600000000L).as("b_start"))
        .withColumn("b_end", col("b_start") + 28800000000L)
      JoinOps.intervalOverlapJoin(act, outages, bucketSize = 21600000000L)
    }),


    // Join-key skew audit — the diagnostic that DECIDES when q75's
    // salting is worth its shuffle: per-key counts vs the mean, keys
    // over 4× flagged with the salt factor ceil(cnt/mean) a salted
    // join should use. A PLANTED hot key (custkey 7 re-receives every
    // 3rd order) guarantees a flagged row; uniform TPC-H keys stay
    // unflagged. Counts-only shuffle + a 1-row stats broadcast.
    "q225_skew_report" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val keys = o.select(col("o_custkey").as("key"))
        .unionByName(o.where(pmod(col("o_orderkey"), lit(3L)) === 0L)
          .select(lit(7L).as("key")))
      val counts = keys.groupBy("key").agg(count(lit(1)).as("cnt"))
      val stats = counts.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
        .select(expr("total div n_keys").as("mean_cnt"))
      counts.crossJoin(broadcast(stats))
        .where(col("cnt") > col("mean_cnt") * 4L)
        .select(col("key"), col("cnt"), col("mean_cnt"),
          expr("(cnt + mean_cnt - 1) div mean_cnt").as("salt_factor"))
    }),


    // Bucketed co-located join — the write-once/shuffle-never pattern
    // for the repeated fact⋈fact join: lineitem and orders persisted
    // hash-bucketed on their join key (Fixtures.bucketedTables — 8
    // buckets each, built once per JVM as corpus state, like the IVF
    // indexes), so the orderkey join reads bucket i of both sides into
    // the same task with NO exchange under the join (asserted
    // structurally in BucketedJoinSpec). The merge hint forces the
    // SortMergeJoin a 100 TB fact⋈fact join plans anyway — at that
    // scale neither side broadcasts, which is the case bucketing
    // exists for. The oracle runs the same join over the UNBUCKETED
    // parquet: the hash match certifies the layout changes cost, not
    // answers.
    "q253_bucketed_join" -> ((s, d) => {
      val (li, ord) = bucketedTables(s, d)
      li.hint("merge").join(ord.hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          R.half2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
    }),


    // MIXED bucketed⋈unbucketed join — the commonest production shape:
    // the bucketed fact (corpus state) joined to a fresh unbucketed
    // delta batch straight off parquet. EnsureRequirements keeps the
    // bucketed scan exchange-free and shuffles ONLY the delta, onto
    // exactly numBuckets partitions — half the shuffle of the plain
    // join for free when numBuckets >= the join's target parallelism,
    // and the parallelism collapse the BucketedLayout decision rule
    // guards when it is not (BucketedJoinSpec pins both arms; the
    // PlanAuditSpec audit asserts the one-sided exchange on THIS
    // query). The oracle replays the join over unbucketed parquet —
    // layout-invariance of the answers, certified by hash.
    "q255_mixed_bucket_join" -> ((s, d) => {
      val (li, _) = bucketedTables(s, d)
      val delta = Tables.orders(s, d)
        .where(pmod(col("o_orderkey"), lit(10)) === 0)
        .select("o_orderkey", "o_orderpriority")
      li.hint("merge").join(delta.hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          R.half2(sum("l_quantity")).as("sum_qty"))
    }),


    // The BUCKETING ESCAPE HATCH under the oracle gate — q253's
    // deliberate twin (same join, same aggregates, same oracle answer,
    // the q23/q61 cross-audit pattern): the SAME bucketed files read
    // with `spark.sql.sources.bucketing.enabled=false` via a sibling
    // session (Fixtures.escapeHatchTables), the decision rule's second
    // arm for wide-row/fact⋈fact legacy low-bucket tables. Both sides
    // shuffle at conf width again (PlanAuditSpec asserts the exchanges
    // RETURN — the structural inverse of q253's zero-exchange audit),
    // and the hash match certifies config-invariance: flipping the
    // layout OFF changes cost, never answers. Previously this arm was
    // probe/spec-only, so a Spark-upgrade regression in the disabled-
    // bucketing read path would never surface on the correctness board.
    "q259_bucket_escape" -> ((s, d) => {
      val (li, ord) = Fixtures.escapeHatchTables(s, d)
      li.hint("merge").join(ord.hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          R.half2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // DuckDB ASOF JOIN: greatest c.ts <= e.ts per user (inclusive), null
    // when no prior checkpoint — exactly the union+window semantics.
    "q64_asof_state" ->
      """WITH e AS (SELECT event_id, user_id, ts FROM events),
        |c AS (SELECT user_id, ts, event_id AS state_id FROM events
        |      WHERE event_id % 20 = 0)
        |SELECT e.event_id, e.user_id, c.state_id
        |FROM e ASOF LEFT JOIN c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,


    // floor(epoch(ts)) mirrors Spark's unix_timestamp (DuckDB's epoch()
    // keeps fractional seconds); sum(BIGINT) is HUGEINT in DuckDB → cast.
    "q66_range_join" ->
      """WITH pts AS (SELECT event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS pt FROM events),
        |iv AS (SELECT event_id AS interval_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS lo,
        |  CAST(floor(epoch(ts)) AS BIGINT) + 7200 AS hi
        | FROM events WHERE event_id % 50 = 0)
        |SELECT interval_id, count(*) AS n_points,
        | CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM pts JOIN iv ON pt >= lo AND pt <= hi
        |GROUP BY interval_id""".stripMargin,


    "q75_salted_join" ->
      """SELECT 'flag_' || l_returnflag AS flag_label, count(*) AS n,
        | floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,


    "q91_fuzzy_match" ->
      """WITH l AS (SELECT s_suppkey AS left_id, s_name AS left_name FROM supplier),
        |r AS (SELECT s_suppkey + 1000000000000 AS right_id,
        |  substr(s_name, 1, 9) || 'X' || substr(s_name, 11) AS right_name FROM supplier)
        |SELECT l.left_id, r.right_id, l.left_name, r.right_name,
        | CAST(levenshtein(l.left_name, r.right_name) AS INTEGER) AS dist
        |FROM l JOIN r
        | ON right(l.left_name, 3) = right(r.right_name, 3)
        | AND abs(len(l.left_name) - len(r.right_name)) <= 1
        |WHERE levenshtein(l.left_name, r.right_name) <= 1""".stripMargin,


    // Brute-force overlap join — no buckets, so the Spark side's
    // bucketing cannot self-confirm.
    "q148_interval_overlap" ->
      """WITH act AS (SELECT
        |  CAST(user_id AS VARCHAR) || ':' || strftime(CAST(ts AS DATE), '%Y-%m-%d') AS a_id,
        |  min(epoch_us(ts)) AS a_start, max(epoch_us(ts)) AS a_end
        | FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |o AS (SELECT k AS b_id,
        |  1704067200000000 + k * 129600000000 AS b_start,
        |  1704067200000000 + k * 129600000000 + 28800000000 AS b_end
        | FROM (SELECT unnest(generate_series(0, 19)) AS k))
        |SELECT a_id, CAST(b_id AS BIGINT) AS b_id,
        | CAST(least(a_end, b_end) - greatest(a_start, b_start) AS BIGINT) AS overlap
        |FROM act JOIN o ON a_start < b_end AND b_start < a_end""".stripMargin,


    // Same planted hot key, same integer mean/threshold/ceil-div.
    "q225_skew_report" ->
      """WITH k AS (SELECT o_custkey AS key FROM orders
        | UNION ALL SELECT 7 FROM orders WHERE o_orderkey % 3 = 0),
        |c AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt FROM k GROUP BY key),
        |st AS (SELECT CAST(sum(cnt) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_cnt FROM c)
        |SELECT c.key, c.cnt, st.mean_cnt,
        | (c.cnt + st.mean_cnt - 1) // st.mean_cnt AS salt_factor
        |FROM c CROSS JOIN st WHERE c.cnt > st.mean_cnt * 4""".stripMargin,


    // Same join over the unbucketed parquet — layout-invariance check.
    "q253_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,


    // The mixed shape over unbucketed parquet — the delta is the same
    // deterministic orderkey slice.
    "q255_mixed_bucket_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | floor(sum(l_quantity) * 100 + 0.5) / 100 AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderkey % 10 = 0
        |GROUP BY o_orderpriority""".stripMargin,


    // Identical to q253's oracle BY DESIGN: the escape hatch reads the
    // same data through a different physical path, and the shared
    // answer is the config-invariance certificate.
    "q259_bucket_escape" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        | floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
  )
}
