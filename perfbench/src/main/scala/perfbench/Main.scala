package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.LocalFileSystem
import org.apache.spark.sql.SparkSession

/** Records every timed operation of a run: its kind, round, wall
  * interval and whether its output check passed. Each operation is also
  * a trace span (`op.<kind>`) when tracing is on. */
final class Recorder(val trace: Trace) {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[String]
  var round = -1
  /** Gauges sampled after each operation while tracing. */
  var afterOp: () => Map[String, Any] = () => Map.empty

  /** Attach figures to the most recent operation's record. */
  def annotate(kv: Map[String, Any]): Unit = ops(ops.length - 1) = ops.last ++ kv

  /** Time `body`, then run `check` on its result outside the timed
    * interval; a thrown exception or a failed check marks the operation
    * failed. Returns the result, if there is one. */
  def op[A](kind: String)(body: => A)(check: A => Option[String]): Option[A] = {
    val id = if (trace.on) trace.open(s"op.$kind") else -1
    val t0 = Clock.nowMs
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.nowMs
    if (trace.on) trace.close(id, afterOp())
    val err = res match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) => try check(v) catch {
        case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    err.foreach(m => failures += s"round $round $kind: ${m.take(300)}")
    ops += Map("kind" -> kind, "round" -> round, "t0" -> t0, "t1" -> t1,
      "ok" -> err.isEmpty, "traced" -> trace.on)
    res.toOption
  }

  /** Run rounds until `seconds` have passed (at least `minRounds`);
    * `before` and `after` run outside each round's timed interval. */
  def timed(seconds: Double, minRounds: Int, before: Int => Unit = _ => (),
            after: Int => Unit = _ => ())(body: Int => Unit): Unit = {
    val start = Clock.nowMs
    var n = 0
    while (n < minRounds || Clock.nowMs - start < seconds * 1000) {
      round = rounds.length
      before(round)
      trace.run = s"r$round"
      val id = if (trace.on) trace.open("round") else -1
      val t0 = Clock.nowMs
      body(round)
      val t1 = Clock.nowMs
      if (trace.on) trace.close(id)
      rounds += Map("round" -> round, "t0" -> t0, "t1" -> t1, "traced" -> trace.on)
      after(round)
      n += 1
    }
  }
}

/** A seeded workload: a set-up step, a warm-up, and one round of timed
  * operations, repeated for the measured interval. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def round(r: Int): Unit
  /** Anything run.py needs after the JVM exits. */
  def outputs: Map[String, Any] = Map.empty
}

/** Benchmark JVM entry point (started by run.py, never by hand):
  * `--workload W --seed S --seconds T --trace 0|1 --data DIR --work DIR
  *  --out FILE --cores N --launch-ms EPOCH_MS`.
  * Writes one raw JSON record to `--out`; run.py turns it into metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = a("launch-ms").toDouble
    val cores = a("cores").toInt
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // traced runs count filesystem metadata operations (CountingFs)
      .config("spark.hadoop.fs.file.impl",
        if (traced) classOf[CountingLocalFs].getName else classOf[LocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.DefaultStages.registerAll()
    val sessionMs = Clock.nowMs

    val trace = new Trace(false)
    val rec = new Recorder(trace)
    rec.afterOp = () => Map("persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size)
    val ctx = Ctx(spark, a("data"), work, a("seed").toLong, cores, rec)
    val wl: Workload = a("workload") match {
      case "tasktree" => new TaskTree(ctx)
      case "index_churn" => new IndexChurn(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val s0 = Clock.nowMs
    wl.setup()
    val setupSecs = (Clock.nowMs - s0) / 1000
    val w0 = Clock.nowMs
    wl.warmup()
    val warmupSecs = (Clock.nowMs - w0) / 1000

    // A traced run alternates untraced and traced rounds, from an
    // untraced first one: the difference of their median rounds (without
    // the first, which may still be warming up) is the tracing overhead.
    if (traced)
      rec.timed(seconds, 3, before = r => if (r % 2 == 1) trace.enable(spark),
        after = _ => if (trace.on) trace.disable(spark))(wl.round)
    else rec.timed(seconds, 1)(wl.round)

    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0

    val out = Map(
      "session_s" -> (sessionMs - launchMs) / 1000,
      "setup_step_s" -> setupSecs,
      "warmup_s" -> warmupSecs,
      "ops" -> rec.ops.toSeq,
      "rounds" -> rec.rounds.toSeq,
      "failures" -> rec.failures.toSeq,
      "retained_heap_mb" -> heapMb,
      "outputs" -> wl.outputs,
      "trace" -> (if (traced) trace.toJson else Map.empty))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(a("out")), mapper.writeValueAsBytes(out))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, data: String, work: String,
                     seed: Long, cores: Int, rec: Recorder) {
  def trace: Trace = rec.trace
  def rng(salt: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
}
