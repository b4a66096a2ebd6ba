package graft.tools

import org.apache.spark.sql.SparkSession

/** Standalone runner for [[graft.Bench.calibrateIo]] — used to freeze
  * (and later sanity-check) `Bench.IoProbeFrozenSec` on a quiet
  * machine, the same way the CPU probe's 0.54 s reference was frozen.
  * Prints `reps` consecutive probe measurements (each itself best-of-2)
  * so the freeze can take the min of a quiet run. */
object IoProbeOnce {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val vals = (1 to reps).flatMap(_ => graft.Bench.calibrateIo(spark, cpus.toInt))
    require(vals.nonEmpty, "every I/O probe failed")
    println(f"IOPROBE cpus=$cpus reps=${vals.map(v => f"$v%.3f").mkString(",")} min=${vals.min}%.3f")
    spark.stop()
  }
}
