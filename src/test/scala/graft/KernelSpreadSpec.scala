package graft

import graft.operators.KernelSpread
import org.apache.spark.sql.functions._

/** KernelSpread contract: starved inputs spread to
  * min(defaultParallelism, ceil(rows / rowsPerTask)) — wide enough for
  * the kernel, never wider than the input size justifies (round-18
  * width law; round 17's unconditional all-cores spread measured ~2×
  * slower than 8-way on the 5k-row fixtures at 32 cores) — while
  * already-parallel inputs pass through UNTOUCHED (the
  * production-layout no-op that keeps the helper scale-honest), and a
  * spread never changes a per-row kernel's result set.
  */
class KernelSpreadSpec extends SparkSpec {
  import spark.implicits._

  test("starved large input spreads to defaultParallelism") {
    // rows >> rowsPerTask * cores: the by-rows width exceeds the core
    // count, so the session's parallelism is the binding cap
    val one = spark.range(100000).coalesce(1)
    assert(one.rdd.getNumPartitions == 1)
    val out = KernelSpread.spread(one)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("tiny starved input is NOT spread — width is input-bounded") {
    // ceil(100 / rowsPerTask) = 1: an exchange would cost more task
    // fan-out than the rows can repay, so spread must be the identity
    val one = spark.range(100).coalesce(1)
    val out = KernelSpread.spread(one)
    assert(out eq one)
  }

  test("mid-size input spreads to ceil(rows / rowsPerTask), not all cores") {
    val rpt = KernelSpread.DefaultRowsPerTask
    val want = spark.sparkContext.defaultParallelism
    // rows for an exact 2-task width (well-defined for any rpt >= 1)
    val rows = rpt + 1
    val one = spark.range(rows).coalesce(1)
    val out = KernelSpread.spread(one)
    assert(out.rdd.getNumPartitions == math.min(2, want))
  }

  test("already-parallel input is returned as-is — no exchange added") {
    val want = spark.sparkContext.defaultParallelism
    val wide = spark.range(100000).repartition(want + 1)
    val out = KernelSpread.spread(wide)
    // same plan object: spread must not wrap an input that is already
    // at or above session parallelism
    assert(out eq wide)
  }

  test("spread never changes a per-row kernel's result set") {
    val docs = Seq((1L, "a b c a b"), (2L, "x y"), (3L, "")).toDF("id", "text")
      .coalesce(1)
    val plain = docs.as[(Long, String)]
      .map { case (id, t) => (id, t.split("\\s+").count(_.nonEmpty)) }
      .collect().toSet
    // rowsPerTask = 1 forces a real exchange even on 3 rows
    val spread = KernelSpread.spread(docs, rowsPerTask = 1L)
      .as[(Long, String)]
      .map { case (id, t) => (id, t.split("\\s+").count(_.nonEmpty)) }
      .collect().toSet
    assert(spread == plain)
  }
}
