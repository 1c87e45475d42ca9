package graft.queries

import graft.Tables
import graft.operators._
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental state: delta anti-joins, enrichment, completed/DLQ sets, set algebra, bloom-pruned delta, changed-content delta.
  *
  * Contract queries: q05_delta_anti, q06_enrich_latest, q07_set_except, q08_union_distinct, q37_filter_completed, q38_clear_succeeded, q40_distinct_users, q41_intersect, q46_union_append, q67_bloom_delta, q166_delta_content.
  * Moved verbatim from the pre-split SparkEntry.scala.
  */
object DeltaQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // J1: delta anti-join — customers with no open ('O') orders.
    "q05_delta_anti" -> ((s, d) =>
      DeltaOps.delta(
        Tables.customer(s, d).select("c_custkey", "c_name"),
        Tables.orders(s, d).where(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("c_custkey")),
        "c_custkey")),


    // J3: deterministic last-write-wins enrichment.
    "q06_enrich_latest" -> ((s, d) =>
      DeltaOps.enrich(
        Tables.orders(s, d).select("o_orderkey", "o_totalprice"),
        Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber"), col("l_quantity")),
        "o_orderkey", "l_linenumber")),


    // U2: set difference.
    "q07_set_except" -> ((s, d) =>
      Tables.lineitem(s, d).select(col("l_partkey").as("key"))
        .except(Tables.part(s, d).where(col("p_size") > 40)
          .select(col("p_partkey").as("key")))),


    // U3: idempotent distinct union of key sets.
    "q08_union_distinct" -> ((s, d) =>
      DeltaOps.addCompleted(
        Tables.orders(s, d).where(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("key")),
        Tables.orders(s, d).where(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("key")),
        "key")),


    // J2: completed-set guard.
    "q37_filter_completed" -> ((s, d) =>
      DeltaOps.delta(
        Tables.part(s, d).select("p_partkey", "p_name"),
        Tables.lineitem(s, d).where(col("l_quantity") > 49)
          .select(col("l_partkey").as("p_partkey")),
        "p_partkey")),


    // J4: DLQ anti-membership delete (keyed by event, so the result is
    // non-empty and the anti-join is actually exercised).
    "q38_clear_succeeded" -> ((s, d) =>
      DeltaOps.delta(
        Tables.events(s, d).where(col("value") < 0.1).select("event_id", "user_id"),
        Tables.events(s, d)
          .where(col("value") < 0.1 && pmod(col("user_id"), lit(3)) === 0)
          .select("event_id"),
        "event_id")),


    // [gap] distinct aggregate.
    "q40_distinct_users" -> ((s, d) =>
      Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("n_users"))),


    // [gap] intersect.
    "q41_intersect" -> ((s, d) =>
      Tables.orders(s, d).where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("key"))
        .intersect(Tables.orders(s, d).where(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("key")))),


    // U1: union/append of per-source batches.
    "q46_union_append" -> ((s, d) =>
      Tables.lineitem(s, d).where(col("l_quantity") < 5)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .union(Tables.lineitem(s, d).where(col("l_quantity") > 45)
          .select("l_orderkey", "l_linenumber", "l_quantity"))),


    // Bloom-filter delta: q05's answer, computed the way a state table
    // too big to broadcast requires — broadcast the BITSET, not the rows;
    // anti-join only the mightContain survivors. Output is exactly J1's.
    "q67_bloom_delta" -> ((s, d) =>
      DeltaOps.bloomDelta(
        Tables.customer(s, d).select("c_custkey", "c_name"),
        Tables.orders(s, d).where(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("c_custkey")),
        "c_custkey", expectedItems = 100000L)),

    // T5 upgrade — changed-content delta. State knows doc_id%3!=0; of
    // those, doc_id%7==1 carry a STALE hash (planted changed docs the
    // URL-only q05-style delta provably misses). Output = 'new' rows
    // (doc_id%3==0) + 'changed' rows (known key, stale hash); unchanged
    // rows never appear, so nothing already fetched is refetched.
    "q166_delta_content" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val current = docs.select(did.as("doc_id"),
        md5(col("text")).as("content_hash"))
      val existing = docs.where(pmod(did, lit(3)) =!= 0)
        .select(did.as("doc_id"),
          when(pmod(did, lit(7)) === 1, md5(concat(col("text"), lit("_v1"))))
            .otherwise(md5(col("text"))).as("content_hash"))
      DeltaOps.deltaByContent(current, existing, "doc_id", "content_hash")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q05_delta_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')""".stripMargin,


    "q06_enrich_latest" ->
      """SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber, l.l_quantity
        |FROM orders o LEFT JOIN (
        | SELECT l_orderkey, l_linenumber, l_quantity,
        |  row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber DESC, l_quantity DESC) AS rn
        | FROM lineitem) l ON o.o_orderkey = l.l_orderkey AND l.rn = 1""".stripMargin,


    "q07_set_except" ->
      """SELECT l_partkey AS key FROM lineitem
        |EXCEPT SELECT p_partkey FROM part WHERE p_size > 40""".stripMargin,


    "q08_union_distinct" ->
      """SELECT DISTINCT o_custkey AS key FROM orders
        |WHERE o_orderstatus IN ('F', 'O')""".stripMargin,


    "q37_filter_completed" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)""".stripMargin,


    "q38_clear_succeeded" ->
      """SELECT event_id, user_id FROM events WHERE value < 0.1
        |AND event_id NOT IN (
        |  SELECT event_id FROM events WHERE value < 0.1 AND user_id % 3 = 0)""".stripMargin,


    "q40_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,


    "q41_intersect" ->
      """SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'""".stripMargin,


    "q46_union_append" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 5
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45""".stripMargin,


    // Same oracle as q05: the bloom pre-pass must not change the answer.
    "q67_bloom_delta" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')""".stripMargin,

    "q166_delta_content" ->
      """WITH cur AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
        |ex AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 1 THEN md5(text || '_v1') ELSE md5(text) END AS content_hash
        | FROM documents WHERE doc_id % 3 <> 0)
        |SELECT c.doc_id, c.content_hash,
        | CASE WHEN EXISTS (SELECT 1 FROM ex k WHERE k.doc_id = c.doc_id)
        |      THEN 'changed' ELSE 'new' END AS change_type
        |FROM cur c
        |WHERE NOT EXISTS (SELECT 1 FROM ex e
        |  WHERE e.doc_id = c.doc_id AND e.content_hash = c.content_hash)""".stripMargin,
  )
}
