package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, parent: Long, thread: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: what the listeners saw for the
  * jobs, stages, tasks and SQL executions submitted while it was the
  * innermost active span.
  */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var sqlExecutions = 0L
  var sqlFailed = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val sourceTasks = mutable.ArrayBuffer.empty[Int]
  val taskMs = mutable.ArrayBuffer.empty[Long]
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else taskMs.max.toDouble / math.max(1.0, Stats.median(taskMs.map(_.toDouble).toSeq))
}

/** Spans around the benchmark's calls into graft's layers, kept in
  * memory and written out at exit. Attribution works through Spark job
  * tags: a span adds the tag `graftspan-<id>` on the calling thread,
  * Spark copies the thread's tags onto every job and SQL execution it
  * submits (also from streaming threads started inside the span), and
  * the listeners credit the work to the innermost tagged span, which
  * is the one with the highest id.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val work = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val sqlSpan = new ConcurrentHashMap[Long, java.lang.Long]()
  private val Tag = "graftspan-"
  private val TagsProperty = "spark.job.tags"
  /** Streaming progress per query name: (trigger count, input rows). */
  val streamProgress = new ConcurrentHashMap[String, (Long, Long)]()
  /** Whole-run SQL outcomes from the QueryExecutionListener, which does
    * not see job tags: (succeeded, failed, summed seconds).
    */
  val sqlTotals = new java.util.concurrent.atomic.AtomicReference((0L, 0L, 0.0))

  private def spanOf(tags: Iterable[String]): Long =
    tags.collect { case t if t.startsWith(Tag) => t.drop(Tag.length).toLong }
      .foldLeft(0L)(math.max)

  private def workOf(id: Long): Work = work.computeIfAbsent(id, _ => new Work)

  private def credit(id: Long)(f: Work => Unit): Unit =
    if (id > 0) { val w = workOf(id); w.synchronized(f(w)) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty(TagsProperty)))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val id = spanOf(tags)
      credit(id) { w =>
        w.jobs += 1
        e.stageInfos.foreach { s =>
          stageSpan.put(s.stageId, id)
          if (s.parentIds.isEmpty) w.sourceTasks += s.numTasks
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) credit(Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)) { w =>
        val m = e.taskMetrics
        w.tasks += 1
        w.taskMs += e.taskInfo.duration
        if (m != null) {
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val id = spanOf(s.jobTags)
        sqlSpan.put(s.executionId, id)
        credit(id)(_.sqlExecutions += 1)
      case s: SparkListenerSQLExecutionEnd if s.errorMessage.exists(_.nonEmpty) =>
        credit(Option(sqlSpan.get(s.executionId)).map(_.longValue).getOrElse(0L))(_.sqlFailed += 1)
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def add(ok: Long, bad: Long, ns: Long): Unit =
      sqlTotals.updateAndGet { case (a, b, t) => (a + ok, b + bad, t + ns / 1e9) }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(1, 0, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(0, 1, 0)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val name = Option(e.progress.name).getOrElse("unnamed")
      streamProgress.merge(name, (1L, e.progress.numInputRows),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    }
  }

  private var installed = false

  /** Listeners attached: spans record, and work is attributed. */
  def install(): Unit = if (!installed) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    installed = true
  }

  /** Listeners detached: [[span]] is a plain call again. */
  def uninstall(): Unit = if (installed) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    installed = false
  }

  def span[T](name: String)(body: => T): T =
    if (!installed) body
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get()
      val tag = Tag + id
      sc.addJobTag(tag)
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(tag)
        stack.set(parents)
        done.add(Span(id, name, parents.headOption.getOrElse(0L),
          Thread.currentThread.getName, t0, t1))
      }
    }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.BenchListenerBus.drain(sc)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def workFor(id: Long): Work = Option(work.get(id)).getOrElse(new Work)

  /** Self time per layer: each span's duration minus the part of it
    * that its child spans cover (children run sequentially on their
    * parent's thread).
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val all = spans
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum
    }
  }

  /** Spans with their attributed work, one JSON object per line. */
  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = workFor(s.id)
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""thread":"${s.thread}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${w.jobs},"tasks":${w.tasks},"sql":${w.sqlExecutions},"sql_failed":${w.sqlFailed},""" +
        s""""shuffle_read":${w.shuffleReadBytes},"shuffle_write":${w.shuffleWriteBytes},"spill":${w.spillBytes}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** The run's tracer, if any; [[span]] is a plain call without one and
  * while its listeners are detached.
  */
object Trace {
  @volatile var tracer: Option[Tracer] = None
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}
