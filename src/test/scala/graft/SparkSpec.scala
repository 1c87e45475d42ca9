package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started. Listener delivery is async: a sentinel job posted after
    * `body` is seen only once every earlier job start has been delivered.
    */
  protected def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-end" => sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "under test")
      val out = body
      sc.setJobGroup(s"$group-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        graft.queries.Fixtures.scratchIndexDir("graft-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
