package graft

import graft.operators.DeltaOps
import org.apache.spark.sql.functions._

/** J1-J4/U2/U3 law tests (SURVEY §5: delta laws). */
class DeltaOpsSpec extends SparkSpec {
  import spark.implicits._

  private val current = Seq(("u1", "a"), ("u2", "b"), ("u3", "c")).toDF("url", "payload")
  private val existing = Seq("u2").toDF("url")

  test("delta laws: delta ∩ existing = ∅ and delta ∪ existing ⊇ current") {
    val d = DeltaOps.delta(current, existing, "url")
    assert(d.select("url").as[String].collect().sorted.toSeq == Seq("u1", "u3"))
    assert(d.join(existing, Seq("url")).count() == 0)
    val keys = d.select("url").union(existing).distinct()
    assert(current.select("url").except(keys).count() == 0)
  }

  test("delta of current against itself is empty (T3 idempotence law)") {
    assert(DeltaOps.delta(current, current.select("url"), "url").count() == 0)
  }

  test("delta as the J2 completed-set guard drops completed keys only") {
    val out = DeltaOps.delta(current, existing, "url")
    assert(out.count() == 2)
  }

  test("a build side with duplicate and null keys gives the rows of its distinct() form") {
    val cur = Seq((Option("u1"), 1), (Option("u2"), 2), (None, 3), (Option("u3"), 4), (Option("u3"), 5))
      .toDF("url", "payload")
    val build = Seq(Option("u2"), Option("u2"), None, None, Option("u3")).toDF("url")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.getString(0)), r.getInt(1))).sortBy(_._2).toSeq
    val got = rows(DeltaOps.delta(cur, build, "url"))
    assert(got == rows(cur.join(build.distinct(), Seq("url"), "left_anti")))
    // the null-key row of `current` matches nothing and is kept
    assert(got == Seq((Some("u1"), 1), (None, 3)))
  }

  test("enrich keeps the max-ordered result per key, deterministically") {
    val products = Seq(("u1", 10.0), ("u2", 20.0)).toDF("url", "price")
    val results = Seq(("u1", 1, "first"), ("u1", 3, "third"), ("u1", 2, "second"))
      .toDF("url", "seq", "tag")
    val out = DeltaOps.enrich(products, results, "url", "seq")
      .orderBy("url").collect()
    assert(out(0).getAs[String]("tag") == "third")
    assert(out(1).isNullAt(out(1).fieldIndex("tag"))) // left join: no result row
  }

  test("enrich ties broken by remaining columns (total order)") {
    val products = Seq(("u1", 1.0)).toDF("url", "price")
    val results = Seq(("u1", 1, "aa"), ("u1", 1, "zz")).toDF("url", "seq", "tag")
    val out = DeltaOps.enrich(products, results, "url", "seq").collect()
    assert(out.head.getAs[String]("tag") == "zz") // max over (seq, tag)
  }

  test("delta as the J4 DLQ removal removes exactly the succeeded keys") {
    val failed = Seq(("u1", "e1"), ("u2", "e2")).toDF("url", "error")
    val out = DeltaOps.delta(failed, Seq("u2").toDF("url"), "url")
    assert(out.select("url").as[String].collect().toSeq == Seq("u1"))
  }

  test("addCompleted is idempotent (U3)") {
    val completed = Seq("u1").toDF("url")
    val once = DeltaOps.addCompleted(completed, Seq("u2", "u2", "u1").toDF("url"), "url")
    val twice = DeltaOps.addCompleted(once, Seq("u2").toDF("url"), "url")
    assert(once.as[String].collect().sorted.toSeq == Seq("u1", "u2"))
    assert(twice.as[String].collect().sorted.toSeq == Seq("u1", "u2"))
  }

  test("delta anti-join broadcasts the small existing side") {
    val plan = DeltaOps.delta(current, existing, "url")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"))
  }

  test("bloomDelta == delta, even under forced false positives") {
    val cur = spark.range(1, 2001).toDF("k").withColumn("payload", col("k") * 2)
    val exist = spark.range(1, 1001).where(col("id") % 3 === 0).toDF("k")
    val want = DeltaOps.delta(cur, exist, "k")
      .select("k").as[Long].collect().sorted.toSeq
    // undersized filter + huge fpp → most keys are mightContain hits; the
    // exact verify join must keep the answer identical
    val got = DeltaOps.bloomDelta(cur, exist, "k", expectedItems = 10L, fpp = 0.5)
      .select("k").as[Long].collect().sorted.toSeq
    assert(got == want)
    assert(got.size == 2000 - 333)
  }

  test("deltaByContent catches a planted same-URL changed doc; unchanged rows are not refetched (T5)") {
    // state: u1 stored with the CURRENT hash (unchanged), u2 stored with a
    // STALE hash (content changed at the same URL), u3 never seen (new).
    val cur = Seq(("u1", "h1", "p1"), ("u2", "h2-new", "p2"), ("u3", "h3", "p3"))
      .toDF("url", "content_hash", "payload")
    val state = Seq(("u1", "h1"), ("u2", "h2-old")).toDF("url", "content_hash")
    val out = DeltaOps.deltaByContent(cur, state, "url", "content_hash")
    val byUrl = out.collect().map(r =>
      r.getAs[String]("url") -> r.getAs[String]("change_type")).toMap
    assert(byUrl == Map("u2" -> "changed", "u3" -> "new"))
    // the URL-only delta is provably blind to the changed doc:
    assert(DeltaOps.delta(cur, state.select("url"), "url")
      .select("url").as[String].collect().toSeq == Seq("u3"))
  }

  test("deltaByContent: hash history makes replay idempotent; null hash fails open") {
    // u1's current content matches an OLDER stored version -> unchanged.
    val cur = Seq(("u1", Option("hA"), "p"), ("u2", Option.empty[String], "p"))
      .toDF("url", "content_hash", "payload")
    val hist = Seq(("u1", "hA"), ("u1", "hB"), ("u2", "h2")).toDF("url", "content_hash")
    val out = DeltaOps.deltaByContent(cur, hist, "url", "content_hash").collect()
    assert(out.length == 1 && out.head.getAs[String]("url") == "u2"
      && out.head.getAs[String]("change_type") == "changed")
  }

  test("bloomDelta keeps null keys, like the anti-join") {
    val cur = Seq(Option(1L), None, Option(5L)).toDF("k")
    val exist = Seq(1L).toDF("k")
    val got = DeltaOps.bloomDelta(cur, exist, "k", expectedItems = 10L)
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    assert(got == Set(None, Some(5L)))
  }
}
