package graft.queries

import graft.Tables
import graft.functions.{Rounding => R}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time analytics: sessionization, windows, funnels, attribution, EWMA spikes, Markov chains, CEP patterns, rolling aggregates.
  *
  * Contract queries: q34_event_hourly, q49_sessionize, q97_hopping_window, q98_funnel, q99_cohort_retention, q110_attribution, q124_ewma_spikes, q130_trend, q132_event_paths, q133_markov, q134_rolling_7d, q142_funnel_latency, q146_multi_touch, q149_cep_pattern, q226_covisitation.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object TimeSeriesQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // T-adjacent: event-time hourly windowed aggregation.
    "q34_event_hourly" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss.SSSSSS").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), R.half2(sum("value")).as("sum_value"))),


    // T6-adjacent: gap-based sessionization + per-session rollup.
    "q49_sessionize" -> ((s, d) =>
      SessionOps.sessionSummary(Tables.events(s, d), "user_id", "ts", "event_id")
        .select(col("user_id"), col("session_seq").cast("long").as("session_seq"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
          col("n_events"), col("sum_value"))),


    // Hopping (sliding) event-time windows: 1 h windows every 30 min —
    // each event lands in exactly two windows.
    "q97_hopping_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n"))),


    // Funnel: signup followed by a purchase within 24 h, per user.
    "q98_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val su = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("s_ts"))
      val pu = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      su.join(pu, "user_id")
        .where(col("p_ts") > col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 24 HOURS"))
        .groupBy("user_id").agg(count(lit(1)).as("n_conversions"))
    }),


    // Cohort retention: users bucketed by first-activity day, activity
    // counted by day offset from the cohort day.
    "q99_cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.distinct().join(cohort, "user_id")
        .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(countDistinct("user_id").as("n_users"))
    }),


    // Last-touch attribution: every purchase attributed to the latest
    // click at-or-before it per user — the q64 as-of machinery (one
    // union+window shuffle, zero amplification) on the funnel axis.
    // Same-timestamp clicks collapse to the max event_id FIRST: DuckDB's
    // ASOF pick among tied right-side timestamps is unspecified, so the
    // as-of input must have unique (user, ts) for a stable oracle.
    "q110_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max("event_id").as("click_id"))
      JoinOps.asofJoin(purchases, clicks, "user_id", "ts", "click_id")
        .select("event_id", "user_id", "click_id")
    }),


    // Per-user integer EWMA anomaly flags: one shuffle on the key, each
    // user's history consumed as a sorted stream with O(1) state (the
    // mapGroupsWithState batch twin). All-integer recurrence
    // s_t = (7*s_{t-1} + x) div 8, so the oracle's recursive CTE
    // reproduces every state bit-for-bit.
    "q124_ewma_spikes" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      TimeSeriesOps.ewmaSpikes(ev, "user_id", "ts_us", "event_id", "cents")
        .withColumnRenamed("value", "cents")
    }),


    // Per-type daily-volume trend as an EXACT integer rational
    // (slope = slope_num/slope_den from integer moments): "is this
    // event type growing?" with no float accumulation anywhere. Five
    // moments per group cross the wire, never rows.
    "q130_trend" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .withColumn("x", datediff(col("day"), lit("2024-01-01").cast("date")))
      TimeSeriesOps.integerTrend(daily, "event_type", "x", "y")
    }),


    // Top user paths: the 20 most common 3-step event sequences. One
    // key shuffle (both leads share the per-user window), partial-agg
    // count, TakeOrderedAndProject top-k — never a global sort.
    "q132_event_paths" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("step2", lead(col("event_type"), 1).over(w))
        .withColumn("step3", lead(col("event_type"), 2).over(w))
        .where(col("step2").isNotNull && col("step3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
        .limit(20)
    }),


    // First-order Markov transition matrix over event types, integer
    // basis points: the per-state normalizing window runs over distinct
    // (state, next) CELLS (at most |types|^2 rows), never events.
    "q133_markov" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next", lead(col("event_type"), 1).over(w))
        .where(col("next").isNotNull)
        .groupBy(col("event_type").as("from_state"), col("next").as("to_state"))
        .agg(count(lit(1)).as("n"))
      val wState = org.apache.spark.sql.expressions.Window.partitionBy("from_state")
      pairs.withColumn("total", sum("n").over(wState))
        .select(col("from_state"), col("to_state"), col("n"),
          expr("(n * 10000) div total").as("prob_bp"))
    }),


    // Trailing-7-day rolling volume per event type: the range-frame
    // window runs over per-day CELLS (one row per (type, day)), so its
    // state is bounded by the calendar, not the event count.
    "q134_rolling_7d" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("x", datediff(col("day"), lit("2024-01-01").cast("date")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("x").rangeBetween(-6, 0)
      daily.select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        sum("n").over(w).as("n_7d"))
    }),


    // Funnel latency distribution: per user, hours from FIRST click to
    // the first purchase at-or-after it, bucketed into an hours
    // histogram — integer microsecond arithmetic end to end.
    "q142_funnel_latency" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val firstClick = ev.where(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val lat = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
        .join(firstClick, "user_id")
        .where(col("ts") >= col("t_click"))
        .groupBy("user_id")
        .agg(min(unix_micros(col("ts")) - unix_micros(col("t_click")))
          .as("lat_us"))
      lat.select(col("user_id"),
          expr("lat_us div 3600000000").as("hours_bucket"))
        .groupBy("hours_bucket").agg(count(lit(1)).as("n_users"))
    }),


    // Linear multi-touch attribution (the q110 last-touch complement):
    // every click within 24h before a purchase shares the purchase's
    // credit equally, in integer basis points; per-click totals sum the
    // shares. The join is user-co-keyed with a bounded time range, so
    // state is the 24h window, and 10000 div n keeps credit hash-exact.
    "q146_multi_touch" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          unix_micros(col("ts")).as("p_us"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          unix_micros(col("ts")).as("c_us"))
      val touches = purchases.join(clicks, Seq("user_id"))
        .where(col("c_us") <= col("p_us") &&
          col("c_us") >= col("p_us") - 86400000000L)
      val shares = touches.groupBy("p_id")
        .agg(count(lit(1)).as("n_touches"))
      touches.join(shares, "p_id")
        .groupBy("click_id")
        .agg(count(lit(1)).as("n_purchases"),
          sum(expr("10000 div n_touches")).as("credit_bp"))
    }),


    // CEP pattern: purchase preceded by a click within 24h with NO
    // error event in between — negation via a SECOND as-of join (last
    // error before the purchase must predate the click) instead of a
    // range scan, so the whole pattern costs two q64-shaped
    // union+window passes and zero amplification.
    "q149_cep_pattern" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      def lastOf(t: String, as: String) = ev.where(col("event_type") === t)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(unix_micros(col("ts"))).as(as))
      val withClick = JoinOps.asofJoin(purchases, lastOf("click", "c_us"),
        "user_id", "ts", "c_us")
      val withBoth = JoinOps.asofJoin(withClick, lastOf("error", "e_us"),
        "user_id", "ts", "e_us")
      withBoth.select(col("event_id"), col("user_id"),
        col("c_us"), col("e_us"),
        (col("c_us").isNotNull &&
          unix_micros(col("ts")) - col("c_us") <= 86400000000L &&
          (col("e_us").isNull || col("e_us") <= col("c_us"))).as("converted"))
    }),


    // Co-visitation counts at skip distance <= 2 — the recommender
    // candidate-generation table ("users who did A soon do B"): per
    // user in (ts, event_id) order, pairs with the next AND
    // next-but-one event fold into one count table. q133's Markov is
    // the distance-1 slice; the skip pair catches the A→x→B pattern an
    // adjacent-only transition matrix misses. One user-keyed window
    // shuffle, count partials only.
    "q226_covisitation" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("n1", lead(col("event_type"), 1).over(w))
        .withColumn("n2", lead(col("event_type"), 2).over(w))
      ev.where(col("n1").isNotNull)
        .select(col("event_type").as("a"), col("n1").as("b"), lit(1L).as("d"))
        .unionByName(ev.where(col("n2").isNotNull)
          .select(col("event_type").as("a"), col("n2").as("b"), lit(2L).as("d")))
        .groupBy("a", "b", "d").agg(count(lit(1)).as("n"))
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q34_event_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS hour, event_type,
        | count(*) AS n, floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,


    "q49_sessionize" ->
      """WITH s AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |   OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |   THEN 1 ELSE 0 END AS is_new
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |t AS (
        | SELECT *, CAST(sum(is_new) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |  AS session_seq
        | FROM s)
        |SELECT user_id, session_seq,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        | strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        | count(*) AS n_events,
        | floor(sum(value) * 100 + 0.5) / 100 AS sum_value
        |FROM t GROUP BY user_id, session_seq""".stripMargin,


    // Each event belongs to exactly two 1-hour windows on the 30-min
    // grid: its own bucket and the one 30 min earlier. time_bucket's
    // origin is midnight-aligned, same as Spark's epoch alignment.
    "q97_hopping_window" ->
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w, event_type FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type FROM events)
        |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS win_start, event_type, count(*) AS n
        |FROM b GROUP BY 1, 2""".stripMargin,


    "q98_funnel" ->
      """WITH su AS (SELECT user_id, ts AS s_ts FROM events WHERE event_type = 'signup'),
        |pu AS (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase')
        |SELECT su.user_id, count(*) AS n_conversions
        |FROM su JOIN pu ON pu.user_id = su.user_id
        |WHERE p_ts > s_ts AND p_ts <= s_ts + INTERVAL '24 hours'
        |GROUP BY su.user_id""".stripMargin,


    "q99_cohort_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        | CAST(date_diff('day', c.cohort_day, ev.day) AS INTEGER) AS day_offset,
        | count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN c ON c.user_id = ev.user_id
        |GROUP BY 1, 2""".stripMargin,


    "q110_attribution" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS click_id
        | FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, c.click_id
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,


    // The EWMA recurrence unrolled as a recursive CTE over per-user row
    // numbers; (ts, event_id) is the same total order, // the same
    // floor division (operands non-negative).
    "q124_ewma_spikes" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        | FROM events),
        |r AS (
        | SELECT user_id, event_id, cents, rn, cents AS ewma FROM e WHERE rn = 1
        | UNION ALL
        | SELECT e.user_id, e.event_id, e.cents, e.rn, (r.ewma * 7 + e.cents) // 8
        | FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1),
        |p AS (SELECT user_id, event_id, cents, ewma, rn,
        |  lag(ewma) OVER (PARTITION BY user_id ORDER BY rn) AS pewma FROM r)
        |SELECT event_id, user_id, cents,
        | CAST(CASE WHEN rn = 1 THEN cents ELSE pewma END AS BIGINT) AS ewma_prev,
        | CAST(ewma AS BIGINT) AS ewma,
        | CASE WHEN rn = 1 THEN FALSE
        |  ELSE abs(cents - pewma) > 30000 END AS spike
        |FROM p""".stripMargin,


    // Same integer moments, same closed-form rational slope.
    "q130_trend" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS y FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type,
        |  CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS x,
        |  CAST(y AS BIGINT) AS y FROM daily),
        |a AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx FROM m GROUP BY 1)
        |SELECT event_type, n,
        | n * sxy - sx * sy AS slope_num,
        | n * sxx - sx * sx AS slope_den,
        | n * sxy - sx * sy > 0 AS rising
        |FROM a""".stripMargin,


    // (n desc, steps) is a unique total order, so the LIMIT is stable.
    "q132_event_paths" ->
      """WITH o AS (SELECT user_id, event_type,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
        | FROM events)
        |SELECT event_type AS step1, step2, step3, count(*) AS n
        |FROM o WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin,


    "q133_markov" ->
      """WITH o AS (SELECT user_id, event_type,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next
        | FROM events),
        |p AS (SELECT event_type AS from_state, next AS to_state, count(*) AS n
        | FROM o WHERE next IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, to_state, n,
        |  sum(n) OVER (PARTITION BY from_state) AS total FROM p)
        |SELECT from_state, to_state, CAST(n AS BIGINT) AS n,
        | CAST((n * 10000) // total AS BIGINT) AS prob_bp
        |FROM t""".stripMargin,


    "q134_rolling_7d" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS n FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, day,
        |  CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS x,
        |  CAST(n AS BIGINT) AS n FROM daily)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
        | CAST(sum(n) OVER (PARTITION BY event_type ORDER BY x
        |   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
        |FROM m""".stripMargin,


    "q142_funnel_latency" ->
      """WITH fc AS (SELECT user_id, min(ts) AS t_click FROM events
        |  WHERE event_type = 'click' GROUP BY 1),
        |lat AS (SELECT e.user_id,
        |  min(epoch_us(e.ts) - epoch_us(fc.t_click)) AS lat_us
        | FROM events e JOIN fc ON fc.user_id = e.user_id
        | WHERE e.event_type = 'purchase' AND e.ts >= fc.t_click
        | GROUP BY 1)
        |SELECT lat_us // 3600000000 AS hours_bucket,
        | CAST(count(*) AS BIGINT) AS n_users
        |FROM lat GROUP BY 1""".stripMargin,


    "q146_multi_touch" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
        | FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
        | FROM events WHERE event_type = 'click'),
        |touch AS (SELECT p.p_id, c.click_id FROM p JOIN c ON c.user_id = p.user_id
        | WHERE c.c_us <= p.p_us AND c.c_us >= p.p_us - 86400000000),
        |sh AS (SELECT p_id, count(*) AS n_touches FROM touch GROUP BY 1)
        |SELECT t.click_id, CAST(count(*) AS BIGINT) AS n_purchases,
        | CAST(sum(10000 // sh.n_touches) AS BIGINT) AS credit_bp
        |FROM touch t JOIN sh ON sh.p_id = t.p_id
        |GROUP BY 1""".stripMargin,


    // Two native ASOF joins; tied right-side timestamps collapse to
    // max first (the q110 discipline).
    "q149_cep_pattern" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, max(epoch_us(ts)) AS c_us FROM events
        | WHERE event_type = 'click' GROUP BY 1, 2),
        |er AS (SELECT user_id, ts, max(epoch_us(ts)) AS e_us FROM events
        | WHERE event_type = 'error' GROUP BY 1, 2),
        |j1 AS (SELECT p.event_id, p.user_id, p.ts, c.c_us
        | FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
        |j2 AS (SELECT j1.event_id, j1.user_id, j1.ts, j1.c_us, er.e_us
        | FROM j1 ASOF LEFT JOIN er ON j1.user_id = er.user_id AND j1.ts >= er.ts)
        |SELECT event_id, user_id, c_us, e_us,
        | c_us IS NOT NULL AND epoch_us(ts) - c_us <= 86400000000
        |  AND (e_us IS NULL OR e_us <= c_us) AS converted
        |FROM j2""".stripMargin,


    // The same (ts, event_id)-ordered leads per user, distances tagged.
    "q226_covisitation" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS n1,
        |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS n2
        | FROM events),
        |pairs AS (
        | SELECT event_type AS a, n1 AS b, CAST(1 AS BIGINT) AS d FROM e WHERE n1 IS NOT NULL
        | UNION ALL
        | SELECT event_type, n2, 2 FROM e WHERE n2 IS NOT NULL)
        |SELECT a, b, d, CAST(count(*) AS BIGINT) AS n
        |FROM pairs GROUP BY 1, 2, 3""".stripMargin,
  )
}
