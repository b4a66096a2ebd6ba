package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution: the
  * nanosecond timer anchored once to the epoch clock, so spans compare
  * directly with the millisecond timestamps Spark puts on its events. */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Counters sampled at both ends of every span. */
final case class Gauges(readOps: Long, largeReadOps: Long, writeOps: Long,
                        bytesRead: Long, bytesWritten: Long, gcMs: Long)

object Gauges {
  def now(): Gauges = {
    var r, l, w, br, bw = 0L
    // deprecated but still the one view over every scheme's counters
    // (summed over all threads, so executor-side reads count too)
    @annotation.nowarn("cat=deprecation")
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    for (s <- all) {
      r += s.getReadOps; l += s.getLargeReadOps; w += s.getWriteOps
      br += s.getBytesRead; bw += s.getBytesWritten
    }
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Gauges(r, l, w, br, bw, gc)
  }
}

final case class SpanRec(id: Int, name: String, parent: Int, run: String,
                         t0: Double, t1: Double, g0: Gauges, g1: Gauges,
                         extra: Map[String, Any])

/** Outside-in tracer. Every measurement comes from a span the benchmark
  * opens around a call into the program's public API, or from a listener
  * the benchmark registers itself: a scheduler listener (jobs, stages,
  * tasks, SQL executions), a query-execution listener (actions and
  * planning phases), a streaming listener, Hadoop filesystem statistics
  * and the GC bean. When `on` is false nothing is registered and
  * [[span]] is a plain call, so untraced runs time the bare program.
  *
  * Spans stay in memory and are written out once, at the end. */
final class Trace(var on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack = List.empty[(Int, String, Double, Gauges)]
  private var nextId = 0
  var run: String = "setup"

  // scheduler / SQL / streaming events, filled on the listener-bus thread
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val sqlStarts = new ConcurrentLinkedQueue[(Long, Long)]()
  private val sqlEnds = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageDone = new ConcurrentLinkedQueue[(Long, Long)]()
  private val taskEnds = new ConcurrentLinkedQueue[Array[Long]]()
  private val actions = new ConcurrentLinkedQueue[(QueryExecution, Long, Long, Long)]()
  private val progress = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  /** Time `body` as a span named `name`, child of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = open(name)
      try body finally close(id)
    }

  def open(name: String): Int = {
    val id = nextId
    nextId += 1
    stack = (id, name, Clock.nowMs, Gauges.now()) :: stack
    id
  }

  def close(id: Int, extra: => Map[String, Any] = Map.empty): Unit = {
    val t1 = Clock.nowMs
    val (sid, name, t0, g0) = stack.head
    require(sid == id, s"span $name closed out of order")
    stack = stack.tail
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    spans += SpanRec(id, name, parent, run, t0, t1, g0, Gauges.now(), extra)
  }

  // the SQL-execution end events' query executions, by identity, so the
  // action listener's records join to execution ids
  private val qeToExec = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.add((e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add((e.jobId, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageDone.add((e.stageInfo.submissionTime.getOrElse(0L),
        e.stageInfo.completionTime.getOrElse(0L)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) taskEnds.add(Array(i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts.add((s.executionId, s.time))
      case s: SparkListenerSQLExecutionEnd =>
        sqlEnds.add((s.executionId, s.time))
        val qe = org.apache.spark.sql.PerfbenchSqlAccess.queryExecution(s)
        if (qe != null) qeToExec.synchronized(qeToExec.put(qe, s.executionId))
      case _ =>
    }
  }

  private val queries = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      actions.add((qe, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      progress.add((java.time.Instant.parse(p.timestamp).toEpochMilli, trig, p.numInputRows))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Register the listeners and open spans from now on. */
  def enable(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streaming)
    on = true
  }

  /** Deliver every pending event, then unregister the listeners. */
  def disable(spark: SparkSession): Unit = {
    on = false
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    spark.streams.removeListener(streaming)
    spark.listenerManager.unregister(queries)
    spark.sparkContext.removeSparkListener(scheduler)
  }

  /** Every listener event, joined up: jobs as (start, end) intervals,
    * SQL executions likewise, with the action listener's planning phases
    * attached by execution id. */
  def toJson: Map[String, Any] = {
    val jobEnd = jobEnds.asScala.toMap
    val sqlEnd = sqlEnds.asScala.toMap
    val acts = qeToExec.synchronized {
      actions.asScala.flatMap(a => Option(qeToExec.get(a._1)).map(id => id.longValue -> a)).toMap
    }
    Map(
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
          "t0" -> s.t0, "t1" -> s.t1,
          "read_ops" -> (s.g1.readOps - s.g0.readOps),
          "list_ops" -> (s.g1.largeReadOps - s.g0.largeReadOps),
          "write_ops" -> (s.g1.writeOps - s.g0.writeOps),
          "bytes_read" -> (s.g1.bytesRead - s.g0.bytesRead),
          "bytes_written" -> (s.g1.bytesWritten - s.g0.bytesWritten),
          "gc_ms" -> (s.g1.gcMs - s.g0.gcMs)) ++ s.extra
      }.toSeq,
      "jobs" -> jobStarts.asScala.toSeq.flatMap { case (id, t0) =>
        jobEnd.get(id).map(t1 => Seq(t0, t1))
      },
      "sql" -> sqlStarts.asScala.toSeq.flatMap { case (id, t0) =>
        sqlEnd.get(id).map { t1 =>
          val a = acts.get(id)
          Map("t0" -> t0, "t1" -> t1, "action" -> a.isDefined,
            "analysis_ms" -> a.map(_._2).getOrElse(0L),
            "optimization_ms" -> a.map(_._3).getOrElse(0L),
            "planning_ms" -> a.map(_._4).getOrElse(0L))
        }
      },
      "actions_unmatched" -> (actions.size - acts.size),
      "stages" -> stageDone.asScala.toSeq.map { case (a, b) => Seq(a, b) },
      "tasks" -> taskEnds.asScala.toSeq.map(_.toSeq),
      "progress" -> progress.asScala.toSeq.map { case (t, d, n) => Seq(t, d, n) })
  }
}
