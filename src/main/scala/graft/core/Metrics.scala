package graft.core

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** Execution metrics per job group — the engine-level observability the
  * reference's `times.csv` (driver wall-clock only) cannot see: input
  * volume, shuffle traffic, spill, and task counts straight from Spark's
  * scheduler events. [[Batch.run]] scopes each task to its own job group,
  * so aggregating by group id yields faithful per-task totals, written as
  * `metrics.json` next to the digests.
  */
object Metrics {

  final case class Totals(
      var jobs: Long = 0, var tasks: Long = 0,
      var inputRecords: Long = 0, var inputBytes: Long = 0,
      var shuffleReadBytes: Long = 0, var shuffleWriteBytes: Long = 0,
      var spillBytes: Long = 0, var cpuTimeNs: Long = 0) {
    /** metrics.json field name → value. */
    def toMap: Map[String, Long] = Map(
      "jobs" -> jobs, "tasks" -> tasks,
      "input_records" -> inputRecords, "input_bytes" -> inputBytes,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "cpu_time_ns" -> cpuTimeNs)
  }

  /** Scheduler listener aggregating task metrics per job-group id. */
  final class GroupListener extends SparkListener {
    private val byGroup = TrieMap.empty[String, Totals]
    private val stageToGroup = TrieMap.empty[Int, String]

    override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
      val group = Option(jobStart.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      if (group.nonEmpty) {
        jobStart.stageIds.foreach(sid => stageToGroup(sid) = group)
        byGroup.getOrElseUpdate(group, Totals()).jobs += 1
      }
    }

    override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit =
      for (group <- stageToGroup.get(taskEnd.stageId);
           t = byGroup.getOrElseUpdate(group, Totals());
           m <- Option(taskEnd.taskMetrics)) t.synchronized {
        t.tasks += 1
        t.inputRecords += m.inputMetrics.recordsRead
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.cpuTimeNs += m.executorCpuTime
      }

    def totals(group: String): Totals = byGroup.getOrElse(group, Totals())
  }

  /** In-plan row-level metrics (`Dataset.observe` → `CollectMetrics`):
    * named aggregates computed DURING the job that produces the result —
    * no second scan, no extra job. The scheduler listener above sees
    * bytes and task counts; this sees the data itself (row counts, sums,
    * null tallies) at any point in the plan, which is how a 100 TB
    * pipeline asserts volume invariants ("rows out == rows in − dropped")
    * without paying for a recount. Returns the instrumented frame plus
    * the `Observation` handle; read `obs.get` after the first action. */
  def observed(df: org.apache.spark.sql.DataFrame, name: String,
               metrics: org.apache.spark.sql.Column*)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "observe needs at least one metric column")
    val obs = org.apache.spark.sql.Observation(name)
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** Stored-field output row counts, fed by [[Task.store]] wrapping each
    * persisted field's FINAL plan in an observation (top placement — a
    * CollectMetrics node at a stage boundary would block predicate
    * pushdown below it). The counts ride the write job (no recount);
    * entries whose plan never executed stay empty and are skipped (their
    * session-side ObservationManager entry — a name→observation map slot,
    * not a listener — is the one thing Spark keeps for a never-run plan).
    *
    * Entries are scoped by job group so two tasks capturing concurrently
    * in one JVM cannot drain each other's counts; registrations made with
    * no job group set (direct [[Task.store]] callers outside [[Batch]])
    * land in the `""` scope, which every capture also drains. */
  object StageRows {
    private val pending =
      TrieMap.empty[(String, String), org.apache.spark.sql.Observation]
    def register(group: String, key: String,
                 obs: org.apache.spark.sql.Observation): Unit =
      pending((group, key)) = obs
    private def scopes(group: String, ungrouped: Boolean): Set[String] =
      if (ungrouped) Set(group, "") else Set(group)
    def clear(group: String, includeUngrouped: Boolean): Unit =
      pending.keySet.filter(k => scopes(group, includeUngrouped)(k._1))
        .foreach(pending.remove)
    /** Drain this group's observations → key → rows (non-blocking);
      * other groups' entries stay untouched. The shared `""` scope
      * (registrations made with no job group set) is only drained when
      * `includeUngrouped` — with concurrent captures, attributing an
      * ungrouped count to whichever capture drains first would be
      * nondeterministic, so those entries stay pending instead. */
    def drain(group: String, includeUngrouped: Boolean): Map[String, Long] = {
      val mine = pending.toMap
        .filter { case ((g, _), _) => scopes(group, includeUngrouped)(g) }
      mine.keys.foreach(pending.remove)
      mine.flatMap { case ((_, k), o) =>
        org.apache.spark.sql.graftshim.GraftObservation.resultsOrEmpty(o)
          .get("rows").map(v => k -> v.asInstanceOf[Long])
      }
    }
  }

  /** Number of [[capture]] calls currently in flight (gates whether the
    * shared ungrouped observation scope can be attributed safely). */
  private val activeCaptures = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `body` with a listener attached; afterwards write the job
    * group's totals to `out` (canonical JSON), including any per-stage
    * observed row counts registered during the run. The listener bus is
    * asynchronous — wait for it to drain before reading. */
  def capture[T](spark: SparkSession, group: String, out: HPath)(body: => T): T = {
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    StageRows.clear(group,
      includeUngrouped = activeCaptures.incrementAndGet() == 1)
    try body
    finally {
      // flush queued scheduler events so late task-end metrics land
      try org.apache.spark.graftshim.GraftSparkInternals
        .drainListenerBus(spark.sparkContext)
      catch { case _: Throwable => () }
      spark.sparkContext.removeSparkListener(listener)
      // ungrouped registrations are attributable only while this is the
      // sole in-flight capture (see StageRows.drain)
      val rows = StageRows.drain(group,
        includeUngrouped = activeCaptures.get == 1)
      activeCaptures.decrementAndGet()
      val rowsField: Map[String, Any] =
        if (rows.isEmpty) Map.empty else Map("rows_out" -> rows)
      SidecarFs.writeStringAtomic(out.toString,
        Json.canonical(listener.totals(group).toMap ++ rowsField) + "\n")
    }
  }
}
