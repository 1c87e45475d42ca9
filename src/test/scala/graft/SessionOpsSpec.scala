package graft

import graft.operators.{SessionOps, SimilarityOps}
import org.apache.spark.sql.functions._

/** Sessionization + k-means tests. */
class SessionOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("sessionize splits on gaps > threshold, deterministic tiebreaks") {
    val events = Seq(
      (1L, 10L, ts("2026-01-01 10:00:00"), 1.0),
      (2L, 10L, ts("2026-01-01 10:10:00"), 1.0), // same session (10 min)
      (3L, 10L, ts("2026-01-01 11:30:00"), 1.0), // gap 80 min → new session
      (4L, 20L, ts("2026-01-01 10:00:00"), 1.0)  // other user
    ).toDF("event_id", "user_id", "ts", "value")
    val out = SessionOps.sessionize(events, "user_id", "ts", "event_id")
      .select("event_id", "session_id").as[(Long, String)].collect().toMap
    assert(out(1L) == "10#1" && out(2L) == "10#1")
    assert(out(3L) == "10#2")
    assert(out(4L) == "20#1")
  }

  test("sessionSummary aggregates bounds and counts per session") {
    val events = Seq(
      (1L, 10L, ts("2026-01-01 10:00:00"), 2.0),
      (2L, 10L, ts("2026-01-01 10:10:00"), 3.0),
      (3L, 10L, ts("2026-01-01 12:00:00"), 5.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = SessionOps.sessionSummary(events, "user_id", "ts", "event_id")
      .orderBy("session_seq").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_events") == 2L)
    assert(out(0).getAs[Double]("sum_value") == 5.0)
    assert(out(1).getAs[java.sql.Timestamp]("session_start") == ts("2026-01-01 12:00:00"))
  }

  test("kmeans converges to the two planted cluster centers") {
    val rng = new scala.util.Random(3)
    def around(c: Double) = Seq.fill(4)((c + rng.nextGaussian() * 0.01).toFloat)
    // ids 0..19 near 0.0; ids 20..39 near 10.0
    val vecs = ((0 until 20).map(i => (i.toLong, around(0.0))) ++
      (20 until 40).map(i => (i.toLong, around(10.0)))).toDF("vec_id", "embedding")
    val cents = SimilarityOps.trainCentroids(vecs, k = 2, iters = 5)
    val means = cents.map(_._2.sum / 4).sorted
    assert(math.abs(means(0) - 0.0) < 0.1, s"got $means")
    assert(math.abs(means(1) - 10.0) < 0.1, s"got $means")
    // assignment with learned centroids separates the clusters perfectly
    val assigned = vecs.withColumn("cid",
      graft.operators.SimilarityOps.assignTo(col("embedding"), cents))
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val c0 = assigned(0L)
    assert((0L until 20L).forall(assigned(_) == c0))
    assert((20L until 40L).forall(assigned(_) != c0))
  }
}
