package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions

/** Spark work seen while a block ran: SQL executions (one per
  * driver-blocking action), jobs (AQE stages and broadcast builds
  * included) and the bytes the tasks wrote to shuffle files.
  */
final case class SparkWork(sqlExecutions: Int, jobs: Int, shuffleWriteBytes: Long)

/** Shared local session for suites (getOrCreate → one JVM-wide
  * session; never stopped so suites can run in any order).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("graft-test", 4)

  def tmpDir(prefix: String = "graft-test"): String =
    Files.createTempDirectory(prefix).toString

  /** The Spark work started while `body` runs (listener delivery is
    * async — polled until the counts are stable; events of work started
    * earlier but delivered late are told apart by their start time).
    */
  def workDuring(body: => Unit): SparkWork = {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import org.apache.spark.scheduler._
    val sql = new AtomicInteger(0)
    val jobs = new AtomicInteger(0)
    val shuffle = new AtomicLong(0L)
    val t0 = System.currentTimeMillis()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.time >= t0) jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskInfo != null && e.taskInfo.launchTime >= t0)
          shuffle.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.time >= t0 => sql.incrementAndGet()
        case _ => ()
      }
    }
    def now = SparkWork(sql.get(), jobs.get(), shuffle.get())
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last: SparkWork = null
      var stable = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val cur = now
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      now
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
