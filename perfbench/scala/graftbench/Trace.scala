package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch microseconds; `parent` is 0 for
  * the run span. Spans of one op share its `op` id.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, layer: String,
                      startUs: Long, endUs: Long)

/** In-memory span store; written out once, when the run ends. */
object Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val originNs = System.nanoTime()
  private val originUs = System.currentTimeMillis() * 1000L

  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L
  def newId(): Long = ids.getAndIncrement()
  def add(s: Span): Unit = { buf.add(s); () }
  def all: Seq[Span] = buf.asScala.toSeq

  /** Self time of `s`: its duration minus the union of its children. */
  def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (s.endUs - s.startUs) - covered
  }
}

/** Counters of one traced op, filled by [[Tracer]] from listener events. */
final class OpCounters {
  val jobs = new LongAdder
  val eagerJobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val schedDelayMs = new LongAdder
  val runMs = new LongAdder
  val cpuNs = new LongAdder
  val gcMs = new LongAdder
  val taskWallMs = new LongAdder
  val shuffleWrite = new LongAdder
  val shuffleRead = new LongAdder
  val fetchWaitMs = new LongAdder
  val spill = new LongAdder
  val planMs = new LongAdder
  val fetchTaskOutsideNs = new LongAdder
  val outputBytesByLayer = new ConcurrentHashMap[String, LongAdder]()
  def add(m: ConcurrentHashMap[String, LongAdder], k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new LongAdder).add(v)
  def get(m: ConcurrentHashMap[String, LongAdder], k: String): Long =
    Option(m.get(k)).map(_.sum).getOrElse(0L)
}

/** Log of every call through the traced `fetch` wrapper. */
object FetchLog {
  val calls = new LongAdder
  val callNs = new LongAdder
  val bytes = new LongAdder
  val firstUs = new AtomicLong(Long.MaxValue)
  val lastUs = new AtomicLong(0L)
  val perUrl = new ConcurrentHashMap[String, LongAdder]()
  val perTaskNs = new ConcurrentHashMap[java.lang.Long, LongAdder]()
  @volatile var op: Long = 0L

  def reset(opId: Long): Unit = {
    calls.reset(); callNs.reset(); bytes.reset()
    firstUs.set(Long.MaxValue); lastUs.set(0L)
    perUrl.clear(); perTaskNs.clear()
    op = opId
  }

  /** Wrap the program's pluggable fetch: times each call and records a
    * span under the current op. Runs on executor task threads.
    */
  def wrap(inner: String => Array[Byte]): String => Array[Byte] = { url =>
    val s = Spans.nowUs
    val t0 = System.nanoTime()
    var n = 0L
    try { val b = inner(url); n = b.length.toLong; b }
    finally {
      val ns = System.nanoTime() - t0
      val e = Spans.nowUs
      calls.increment(); callNs.add(ns); bytes.add(n)
      firstUs.accumulateAndGet(s, math.min)
      lastUs.accumulateAndGet(e, math.max)
      perUrl.computeIfAbsent(url, _ => new LongAdder).increment()
      val tc = TaskContext.get()
      if (tc != null)
        perTaskNs.computeIfAbsent(tc.taskAttemptId(), _ => new LongAdder).add(ns)
      Spans.add(Span(Spans.newId(), op, op, "fetch.call", "fetch", s, e))
    }
  }
}

/** Listener the benchmark registers in traced runs. Jobs belong to an op
  * through the job group set before the op (`graftbench-op-<id>`); each
  * job is attributed to a layer by the first `graft.*` frame of its call
  * site, falling back to the op's own layer.
  */
final class Tracer(defaultLayer: String) extends SparkListener with QueryExecutionListener {
  val ops = new ConcurrentHashMap[Long, OpCounters]()
  @volatile var currentOp: Long = 0L

  private case class JobRec(op: Long, span: Long, layer: String, frame: String, startMs: Long,
                            firstLaunchMs: AtomicLong = new AtomicLong(Long.MaxValue))
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  // call site of each SQL execution: jobs that Spark SQL submits from its
  // own threads carry only the execution id, not a `graft.*` frame
  private val execSites = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, s.details); ()
    case _ => ()
  }
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  def counters(op: Long): OpCounters = ops.computeIfAbsent(op, _ => new OpCounters)

  private val packages = Seq(
    "graft.app." -> "app", "graft.state." -> "state", "graft.sources." -> "sources",
    "graft.operators." -> "operators", "graft.fetch." -> "fetch",
    "graft.queries." -> "queries", "graft.SparkEntry" -> "queries",
    "graft.Tables" -> "sources", "graft.functions." -> "operators")

  /** (layer, frame) of the first `graft.*` frame of a call site. */
  def layerOf(callSite: String): (String, String) =
    callSite.split("\n").iterator.map(_.trim.stripPrefix("at "))
      .flatMap(l => packages.find(p => l.startsWith(p._1)).map(p => (p._2, l)))
      .nextOption().getOrElse((defaultLayer, "-"))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("graftbench-op-")).foreach { g =>
      val op = g.stripPrefix("graftbench-op-").toLong
      val c = counters(op)
      val stageSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val execSite = Option(e.properties.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(e.properties.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSites.get(id.toLong))).getOrElse("")
      val site = stageSite + "\n" + execSite
      val (layer, frame) = layerOf(site)
      val phase = Option(e.properties.getProperty("graftbench.phase")).getOrElse("")
      c.jobs.increment()
      if (phase == "build") c.eagerJobs.increment()
      jobs.put(e.jobId, JobRec(op, Spans.newId(), layer, frame, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) {
      val first = j.firstLaunchMs.get
      if (first != Long.MaxValue) counters(j.op).schedDelayMs.add(math.max(0L, first - j.startMs))
      Spans.add(Span(j.span, j.op, j.op, s"job ${e.jobId} ${j.frame}", j.layer, j.startMs * 1000L, e.time * 1000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val j = Option(stageJob.get(info.stageId)).flatMap(id => Option(jobs.get(id)))
    j.foreach { j =>
      counters(j.op).stages.increment()
      for (s <- info.submissionTime; c <- info.completionTime)
        Spans.add(Span(Spans.newId(), j.span, j.op, s"stage ${info.stageId}", "scheduler",
          s * 1000L, c * 1000L))
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      .foreach(_.firstLaunchMs.accumulateAndGet(e.taskInfo.launchTime, math.min))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    j.foreach { j =>
      val c = counters(j.op)
      c.tasks.increment()
      c.taskWallMs.add(math.max(0L, e.taskInfo.finishTime - e.taskInfo.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        c.runMs.add(m.executorRunTime)
        c.cpuNs.add(m.executorCpuTime)
        c.gcMs.add(m.jvmGCTime)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
        c.spill.add(m.diskBytesSpilled + m.memoryBytesSpilled)
        c.add(c.outputBytesByLayer, j.layer, m.outputMetrics.bytesWritten)
        val fetchNs = FetchLog.perTaskNs.get(e.taskInfo.taskId)
        if (fetchNs != null)
          c.fetchTaskOutsideNs.add(math.max(0L, m.executorRunTime * 1000000L - fetchNs.sum))
      }
    }
  }

  private def plan(qe: QueryExecution): Unit = {
    val op = currentOp
    if (op != 0L)
      counters(op).planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
}

/** Per-op metrics the benchmark derives itself, outside the listener. */
final class OpExtra {
  val values = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Double): Unit = values.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def get(k: String): Double = Option(values.get(k)).map(_.sum).getOrElse(0.0)
}
