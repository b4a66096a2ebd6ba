package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, SparkEntry}

/** The debugging tool main (subcommands in `Usage`): time, explain or
  * trace named queries, list them, or run a bench calibration probe.
  * `time` defaults to sf0.1, `explain` and `trace` to sf0.01. Width and
  * master come from the session factory (`SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_MASTER`). */
object Probe {

  private val Usage =
    "usage: Probe names | time <q,…> [sf] | explain <outDir> <suffix> " +
      "<q,…> [sf] | trace <outFile> <q> [sf] | calibrate cpu|io [reps]"

  def main(args: Array[String]): Unit = {
    def list(qs: String) = qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def sf(rest: List[String], default: String = "/root/testdata/sf0.01") =
      rest.headOption.getOrElse(default)
    args.toList match {
      case List("names") =>
        // the generator for SURVEY.md Appendix A; no Spark session
        SparkEntry.queries.keys.toSeq.sorted.foreach(println)
        System.err.println(s"TOTAL ${SparkEntry.queries.size}")
      case "time" :: qs :: rest =>
        withSession(time(_, list(qs), sf(rest, "/root/testdata/sf0.1")))
      case "explain" :: outDir :: suffix :: qs :: rest =>
        withSession(explain(_, outDir, suffix, list(qs), sf(rest)))
      case "trace" :: outFile :: q :: rest =>
        withSession(trace(_, outFile, q, sf(rest)))
      case "calibrate" :: (kind @ ("cpu" | "io")) :: reps =>
        withSession(calibrate(_, kind, reps.headOption.map(_.toInt)))
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = SparkEntry.session("graft-probe")
    try body(spark) finally spark.stop()
  }

  /** Each query through the bench's own cell runner (warmup first). */
  private def time(spark: SparkSession, qs: Seq[String], sfDir: String): Unit = {
    Bench.warmUp(spark, sfDir)
    for (n <- qs) Bench.runCell(spark, sfDir, n) match {
      case Right(t) =>
        println(f"TIMING $n best=${t.best}%.3f " +
          s"reps=${t.reps.map(r => f"$r%.3f").mkString(",")}")
      case Left(e) => println(s"FAILED $n: $e")
    }
  }

  /** `<outDir>/<q>_<suffix>.txt` = the formatted plan of each query's
    * returned frame. Lifecycle queries (index write + probe) explain the
    * FINAL frame — the probe plan over the index the run just wrote. */
  private def explain(spark: SparkSession, outDir: String, suffix: String,
                      qs: Seq[String], sfDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for (n <- qs) {
      val plan = SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      val out = s"$outDir/${n}_$suffix.txt"
      Files.writeString(Paths.get(out), plan)
      println(s"[explain] wrote $out (${plan.linesIterator.length} lines)")
    }
  }

  /** Run one query into the noop sink and append EVERY executed action's
    * formatted physical plan with its wall duration to `outFile` — index
    * writes, per-round checkpoints, gauge collects, the final write — so
    * the phases of a lifecycle query are checkable in one run. */
  private def trace(spark: SparkSession, outFile: String, name: String,
                    sfDir: String): Unit = {
    val path = Paths.get(outFile)
    def append(s: String): Unit =
      Files.writeString(path, s, StandardOpenOption.APPEND)
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.writeString(path, s"== Probe trace $name sf=$sfDir " +
      s"cpus=${spark.conf.get("spark.sql.shuffle.partitions")} ==\n")
    var n = 0
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = synchronized {
        n += 1
        append(f"%n---- action #$n%d [$funcName] ${durationNs / 1e9}%.3f s ----%n" +
          qe.explainString(FormattedMode))
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })
    val total = Bench.secs(Bench.exec(spark, sfDir, name))
    // the listener delivers asynchronously off the listener bus — drain
    // before reporting so every action's plan is on disk
    org.apache.spark.graftshim.GraftSparkInternals
      .drainListenerBus(spark.sparkContext)
    append(f"%n== total $total%.3f s ==%n")
    println(f"[trace] $name total $total%.3f s -> $outFile")
  }

  /** Re-freeze aid for [[Bench.CalibrationFrozenSec]] (cpu) and
    * [[Bench.IoProbeFrozenSec]] (io): print `reps` probe measurements.
    * Run on an IDLE host (`uptime` load avg < 0.3) and freeze the min. */
  private def calibrate(spark: SparkSession, kind: String,
                        reps: Option[Int]): Unit = {
    val cpus = SparkEntry.cpus(sys.env)
    if (kind == "cpu") {
      Bench.calibrate(spark, cpus) // warmup, untimed
      for (i <- 1 to reps.getOrElse(4))
        println(f"[calibrate] probe $i (best-of-3): " +
          f"${Bench.calibrate(spark, cpus)}%.3f s")
    } else {
      val vals = (1 to reps.getOrElse(3)).flatMap(_ => Bench.calibrateIo(spark, cpus))
      require(vals.nonEmpty, "every I/O probe failed")
      println(f"IOPROBE cpus=$cpus reps=${vals.map(v => f"$v%.3f").mkString(",")} " +
        f"min=${vals.min}%.3f")
    }
  }
}
