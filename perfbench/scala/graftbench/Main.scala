package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Options passed by `perfbench/run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, tables: String, out: Path, cpus: Int)

/** What one run reports back to `run.py`. `queryOps` maps each contract
  * query to its (ops, failed ops), so the oracle check (run afterwards in
  * Python) can mark every op of a wrong query failed, each op once.
  */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[(String, Double, String)],
                         notes: Seq[String], queryOps: Map[String, (Int, Int)] = Map.empty)

/** One op of the timed phase; a `warm` op runs before the first timed
  * one and counts only in `ok_ratio`.
  */
final case class Op(kind: String, cycle: Int, seconds: Double, traced: Boolean, id: Long,
                    ok: Boolean, rows: Long = 0L, warm: Boolean = false)

object Main {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      Paths.get(kv("work")), kv.getOrElse("tables", ""), Paths.get(kv("out")), kv("cpus").toInt)
    if (kv("workload") == "selftest") { SelfTest.run(o); return }
    Files.createDirectories(o.work)
    val spark = Bench.session(o)
    val outcome =
      try o.workload match {
        case "contract"       => Contract.run(spark, o)
        case "ingest_monthly" => Ingest.run(spark, o)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    Bench.writeOutcome(o, outcome)
    if (o.trace) Bench.writeSpans(o.work.resolve("spans.jsonl"))
  }
}

/** Shared pieces of the workloads: session, op timing, statistics. */
object Bench {

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    // contract: configured as graft.Bench configures its session;
    // ingest: as graft.app.Jobs.main does (default broadcast threshold)
    if (o.workload == "contract") b
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` as one op: job group and phase set so the tracer can
    * parent its jobs to the op, and the listener bus drained afterwards.
    */
  def op[T](spark: SparkSession, tracer: Option[Tracer], id: Long, traced: Boolean)
           (body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(if (traced) s"graftbench-op-$id" else "graftbench-plain", s"op $id",
      interruptOnCancel = false)
    tracer.foreach(_.currentOp = if (traced) id else 0L)
    try body
    finally {
      sc.clearJobGroup()
      sc.setLocalProperty("graftbench.phase", null)
      if (traced) tracer.foreach { _ => ListenerBus.drain(sc) }
      tracer.foreach(_.currentOp = 0L)
    }
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def jvmGcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Heap still live after a full collection plus metaspace, in MiB: what
    * the session retains once the timed phase ends (caches, plans,
    * generated classes). Unlike peak RSS it does not follow the
    * collector's heap sizing, and unlike the code cache not the JIT. The
    * second collection runs after threads of dropped HTTP clients exit.
    */
  def liveMb: Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP || p.getName == "Metaspace")
    pools.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Cycle times: one cycle is the workload's natural unit (a pass over
    * the query list, or one delta per product type).
    */
  def cycleSeconds(ops: Seq[Op]): Seq[Double] =
    ops.groupBy(_.cycle).values.map(_.map(_.seconds).sum).toSeq

  /** End-to-end metrics shared by every workload, from the ops of an
    * untraced run; `cpuS` is the process CPU time of the timed phase. A
    * warm-up op counts only in `ok_ratio`.
    */
  def endToEnd(all: Seq[Op], setup: Seq[Double], coldOp: Double,
               cpuS: Double): Seq[(String, Double, String)] = {
    val ops = all.filterNot(_.warm)
    val secs = ops.map(_.seconds)
    val rows = ops.map(_.rows.toDouble).sum
    Seq(
      ("setup_s", median(setup), "s"),
      ("wall_s", median(cycleSeconds(ops)), "s"),
      ("op_p50_s", median(secs), "s"),
      ("cold_op_s", coldOp, "s"),
      ("rows_per_s", rows / secs.sum, "1/s"),
      ("cpu_per_op_s", cpuS / ops.size, "s"),
      ("live_mb", liveMb, "MiB"),
      ("ok_ratio", 1.0 - all.count(!_.ok).toDouble / all.size, "ratio"))
  }

  /** Per-layer metrics from the listener counters of the traced ops:
    * times, counts and bytes as per-op means, ratios as sums over sums.
    */
  def layers(tracer: Tracer, traced: Seq[Op], extra: Map[Long, OpExtra], cores: Int,
             overhead: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, traced.size).toDouble
    val cs = traced.map(o => tracer.counters(o.id))
    val ex = traced.map(o => extra.getOrElse(o.id, new OpExtra))
    def sumL(f: OpCounters => Long): Double = cs.map(f(_).toDouble).sum
    def sumE(k: String): Double = ex.map(_.get(k)).sum
    def per(v: Double): Double = v / n
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val opSec = traced.map(_.seconds).sum
    val fetchCalls = sumE("fetch.calls")
    Seq(
      ("queries.build_s", per(sumE("queries.build_s")), "s"),
      ("queries.eager_jobs", per(sumL(_.eagerJobs.sum)), "count"),
      ("queries.action_s", per(sumE("queries.action_s")), "s"),
      ("catalyst.plan_s", per(sumL(_.planMs.sum) / 1e3), "s"),
      ("scheduler.jobs", per(sumL(_.jobs.sum)), "count"),
      ("scheduler.stages", per(sumL(_.stages.sum)), "count"),
      ("scheduler.tasks", per(sumL(_.tasks.sum)), "count"),
      ("scheduler.delay_s", per(sumL(_.schedDelayMs.sum) / 1e3), "s"),
      ("executor.run_s", per(sumL(_.runMs.sum) / 1e3), "s"),
      ("executor.cpu_s", per(sumL(_.cpuNs.sum) / 1e9), "s"),
      ("executor.gc_s", per(sumL(_.gcMs.sum) / 1e3), "s"),
      ("executor.busy_ratio", ratio(sumL(_.taskWallMs.sum) / 1e3, opSec * cores), "ratio"),
      ("executor.spill_bytes", per(sumL(_.spill.sum)), "bytes"),
      ("shuffle.write_bytes", per(sumL(_.shuffleWrite.sum)), "bytes"),
      ("shuffle.read_bytes", per(sumL(_.shuffleRead.sum)), "bytes"),
      ("shuffle.fetch_wait_s", per(sumL(_.fetchWaitMs.sum) / 1e3), "s"),
      ("driver.gc_s", per(sumE("driver.gc_s")), "s"),
      ("driver.jit_s", per(sumE("driver.jit_s")), "s"),
      ("driver.self_s", per(sumE("driver.self_s")), "s"),
      ("app.jobs_per_op", mean(cs.zip(ex).filter(_._2.get("app.delta_calls") > 0)
        .map(_._1.jobs.sum.toDouble)), "count"),
      ("app.docs_per_s", ratio(sumE("app.docs"), opSec), "1/s"),
      ("sources.scan_s", per(sumE("sources.scan_s")), "s"),
      ("operators.parse_s", per(sumE("operators.parse_s")), "s"),
      ("sources.existing_s", per(sumE("sources.existing_s")), "s"),
      ("operators.delta_s", per(sumE("operators.delta_s")), "s"),
      ("operators.fresh_rows", per(sumE("operators.fresh_rows")), "count"),
      ("state.filter_s", per(sumE("state.filter_s")), "s"),
      ("state.commit_s", per(sumE("state.commit_s")), "s"),
      ("state.bytes_written", per(cs.map(c => c.get(c.outputBytesByLayer, "state").toDouble).sum), "bytes"),
      ("state.completed_rows", per(sumE("state.completed_rows")), "count"),
      ("sources.append_s", per(sumE("sources.append_s")), "s"),
      ("sources.csv_bytes_written", per(sumE("sources.csv_bytes_written")), "bytes"),
      ("sources.csv_write_amp", ratio(sumE("sources.csv_bytes_written"), sumE("sources.csv_bytes_appended")), "ratio"),
      ("fetch.calls", per(fetchCalls), "count"),
      ("fetch.call_s", per(sumE("fetch.call_s")), "s"),
      ("fetch.wait_s", per(sumL(_.fetchTaskOutsideNs.sum) / 1e9), "s"),
      ("fetch.retries", per(sumE("fetch.retries")), "count"),
      ("fetch.bytes", per(sumE("fetch.bytes")), "bytes"),
      ("fetch.useful_ratio", ratio(sumE("app.docs"), fetchCalls), "ratio"),
      ("fetch.rate_ratio", ratio(fetchCalls, sumE("fetch.active_s")) / 10.0, "ratio"),
      ("server.requests", per(sumE("server.requests")), "count"),
      ("server.connections", per(sumE("server.connections")), "count"),
      ("server.errors", per(sumE("server.errors")), "count"),
      ("trace.overhead_ratio", overhead, "ratio"))
  }

  /** Traced cycles ÷ untraced cycles, by mean cycle time; the untraced
    * cycles bracket the traced one (see [[cycles]]).
    */
  def overhead(ops: Seq[Op]): Double = {
    val (t, u) = ops.filterNot(_.warm).partition(_.traced)
    val tm = mean(cycleSeconds(t))
    val um = mean(cycleSeconds(u))
    if (um > 0) tm / um else 0.0
  }

  /** Driver-side self time of an op: its span minus its job spans. */
  def driverSelfS(opId: Long, startUs: Long, endUs: Long): Double = {
    val children = Spans.all.filter(s => s.op == opId && s.parent == opId && s.name.startsWith("job"))
    Spans.selfUs(Span(opId, 0L, opId, "op", "app", startUs, endUs), children) / 1e6
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def writeOutcome(o: Opts, r: Outcome): Unit = {
    val metrics = r.metrics.map { case (k, v, u) =>
      s"${Json.str(k)}: {\"value\": ${num(v)}, \"unit\": ${Json.str(u)}}" }.mkString("{", ", ", "}")
    val notes = r.notes.map(Json.str).mkString("[", ", ", "]")
    val qops = r.queryOps.toSeq.sortBy(_._1).map { case (k, (n, f)) => s"${Json.str(k)}: [$n, $f]" }
      .mkString("{", ", ", "}")
    Files.writeString(o.out,
      s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": $metrics, "notes": $notes, "query_ops": $qops}""" + "\n")
  }

  def writeSpans(p: Path): Unit = {
    val lines = Spans.all.sortBy(_.startUs).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${Json.str(s.name)}, "layer": ${Json.str(s.layer)}, "start_us": ${s.startUs}, "end_us": ${s.endUs}}"""
    }
    Files.write(p, lines.asJava)
    ()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit =
    if (Files.exists(src)) {
      val s = Files.walk(src)
      try s.forEach { f =>
        val t = dst.resolve(src.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(t)
        else Files.copy(f, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** The timed phase, as one traced flag per cycle. Untraced: a fixed
    * number of whole cycles, `seconds` over the workload's nominal cycle
    * time on a 4-core host, so every run does the same work whatever the
    * machine's speed. Traced: untraced, traced, untraced, so the tracing
    * overhead compares the traced cycle with the mean of the two around
    * it, and a JVM still warming up slows both sides alike.
    */
  def cycles(seconds: Double, nominalCycleS: Double, trace: Boolean): Seq[Boolean] =
    if (trace) Seq(false, true, false)
    else Seq.fill(math.max(1, math.ceil(seconds / nominalCycleS).toInt))(false)

}
