package graft

import graft.operators.{DedupOps, SimilarityOps}

/** Operator-internal persists must be releasable: after materializing an
  * operator's output and calling GraftCache.releaseAll, no cached blocks
  * may remain in the session (VERDICT r2 "persist leaks" item).
  */
class CacheDisciplineSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (1 to 60).map { i =>
    val base = s"alpha bravo charlie delta echo foxtrot golf hotel india $i"
    (i.toLong, if (i % 10 == 0) base + " near dup tail" else base + s" unique token u$i")
  }.toDF("id", "text")

  private def embeddings = (1 to 40).map { i =>
    (i.toLong, Array.tabulate(64)(d => math.sin(i * 0.37 + d * 0.11).toFloat))
  }.toDF("vec_id", "embedding")

  private def assertReleased(materialize: => Long): Unit = {
    materialize // consume the operator output
    assert(GraftCache.registeredCount(spark) > 0,
      "operator was expected to register its internal persists")
    GraftCache.releaseAll(spark)
    assert(GraftCache.registeredCount(spark) == 0)
    // non-blocking unpersist marks for removal; the RDD must be gone from
    // the persistent registry (Spark drops it there synchronously)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leftover cached RDDs: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  test("minhashNearDupsPortable leaves no cached blocks after release") {
    assertReleased(DedupOps.minhashNearDupsPortable(docs, "id", "text", threshold = 0.5).count())
  }

  test("simhashNearDupsPortable leaves no cached blocks after release") {
    assertReleased(DedupOps.simhashNearDupsPortable(docs, "id", "text").count())
  }

  test("fingerprintOverlap leaves no cached blocks after release") {
    assertReleased(DedupOps.fingerprintOverlap(docs, "id", "text", minContainment = 0.5).count())
  }

  test("embeddingNearDupsPortable leaves no cached blocks after release") {
    assertReleased(SimilarityOps.embeddingNearDupsPortable(embeddings, minCosine = 0.8).count())
  }

  test("releaseAll is idempotent and safe with nothing registered") {
    GraftCache.releaseAll(spark)
    GraftCache.releaseAll(spark)
    assert(GraftCache.registeredCount(spark) == 0)
  }
}
