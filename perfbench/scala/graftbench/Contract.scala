package graftbench

import graft.{GraftCache, SparkEntry}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** `contract`: the declared query surface through `SparkEntry.queries`.
  *
  * One op is one query: build the frame, force it through the noop sink,
  * then release operator caches as `graft.Bench`'s timed rep does. A
  * cycle is one pass over [[Queries]] in a seeded order. Set-up is the
  * untimed compile pass; the cold op is its mean query.
  */
object Contract {

  /** A fixed cross-section of the contract, one query per family shape
    * (aggregate, window, anti-join, page parse, dedup, funnel, tokens),
    * all with oracle SQL. The full 295-query pass takes minutes on four
    * cores, far past the length of one run.
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q04_order_rank_window", "q05_delta_anti", "q35_parse_life",
    "q13_exact_dedup", "q98_funnel", "q14_token_counts")

  /** One warm pass over [[Queries]] on four cores. */
  val NominalPassS = 2.5

  def run(spark: SparkSession, o: Opts): Outcome = {
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val missing = Queries.filterNot(q => fns.contains(q) && oracle.contains(q))
    require(missing.isEmpty, s"contract queries without a function or oracle: $missing")
    val dir = o.tables
    val tracer = if (o.trace) Some(new Tracer("queries")) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val sc = spark.sparkContext
    val failures = ArrayBuffer.empty[String]

    // input rows each query reads: the tables its oracle SQL names
    val tableRows = graft.Tables.names.map(t =>
      t -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap
    val rowsOf = Queries.map { q =>
      q -> tableRows.collect { case (t, n) if s"(?i)\\b$t\\b".r.findFirstIn(oracle(q)).isDefined => n }.sum
    }.toMap

    def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def runOne(q: String, id: Long, traced: Boolean, extra: OpExtra,
               sink: org.apache.spark.sql.DataFrame => Unit = noop): (Double, Boolean) =
      Bench.op(spark, tracer, id, traced) {
        val s0 = Spans.nowUs
        val (gc0, jit0) = (Bench.jvmGcS, Bench.jitS)
        val t0 = System.nanoTime()
        var t1 = t0
        var s1 = s0
        val ok =
          try {
            sc.setLocalProperty("graftbench.phase", "build")
            val df = fns(q)(spark, dir)
            t1 = System.nanoTime(); s1 = Spans.nowUs
            sc.setLocalProperty("graftbench.phase", "action")
            sink(df)
            true
          } catch {
            case e: Exception =>
              failures += s"$q: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
              false
          }
        val t2 = System.nanoTime()
        val s2 = Spans.nowUs
        GraftCache.releaseAll(spark)
        spark.catalog.clearCache()
        if (traced) {
          Spans.add(Span(id, 0L, id, s"op $q", "queries", s0, s2))
          Spans.add(Span(Spans.newId(), id, id, "query.build", "queries", s0, s1))
          Spans.add(Span(Spans.newId(), id, id, "query.action", "queries", s1, s2))
          extra.add("queries.build_s", (t1 - t0) / 1e9)
          extra.add("queries.action_s", (t2 - t1) / 1e9)
          extra.add("driver.gc_s", Bench.jvmGcS - gc0)
          extra.add("driver.jit_s", Bench.jitS - jit0)
        }
        ((t2 - t0) / 1e9, ok)
      }

    // set-up: the untimed compile pass (as graft.Bench's warm pass). It
    // also writes each result for the DuckDB oracle check that run.py
    // applies after the run: the sink differs from the timed ops' noop
    // sink, the query plan does not.
    val checkDir = o.work.resolve("check")
    val coldOps = ArrayBuffer.empty[Double]
    val (_, setupS) = Bench.time {
      Queries.foreach { q =>
        coldOps += runOne(q, 0L, traced = false, new OpExtra,
          _.write.mode("overwrite").parquet(checkDir.resolve(q).toString))._1
      }
    }
    val oracleJson = Queries.map(q => s"${Json.str(q)}: ${Json.str(oracle(q))}").mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(checkDir.resolve("oracle_sql.json"), oracleJson)

    val rng = new scala.util.Random(o.seed)
    val ops = ArrayBuffer.empty[Op]
    val extra = scala.collection.mutable.Map.empty[Long, OpExtra]
    val cpu0 = Bench.processCpuS
    Bench.cycles(o.seconds, NominalPassS, o.trace).zipWithIndex.foreach { case (traced, cycle) =>
      rng.shuffle(Queries).foreach { q =>
        val id = Spans.newId()
        val ex = new OpExtra
        val (s, ok) = runOne(q, id, traced, ex)
        if (traced) {
          val sp = Spans.all.find(_.id == id).get
          ex.add("driver.self_s", Bench.driverSelfS(id, sp.startUs, sp.endUs))
          extra(id) = ex
        }
        ops += Op(q, cycle, s, traced, id, ok, rowsOf(q))
      }
    }
    val cpu = Bench.processCpuS - cpu0

    val metrics =
      if (o.trace) Bench.layers(tracer.get, ops.filter(_.traced).toSeq, extra.toMap, o.cpus,
        Bench.overhead(ops.toSeq))
      else Bench.endToEnd(ops.toSeq, Seq(setupS), Bench.mean(coldOps.toSeq), cpu)
    Outcome(ops.size, ops.count(!_.ok), metrics, failures.take(20).toSeq,
      ops.groupBy(_.kind).map { case (k, v) => k -> (v.size, v.count(!_.ok)) })
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
