package graft.core

import org.apache.spark.SparkContext

/** Independent driver-side units of Spark work run at once: a task's
  * field writes ([[Task.store]]) and an IVF-PQ index's two quantizer
  * trainings (`Similarity.trainCoarseAndPq`). */
object Concurrent {

  /** Run `units` concurrently on a pool made for this call (one thread
    * per unit, at most `maxThreads`; a single unit runs on the caller
    * thread), each with the caller's Spark local properties, so a
    * job-group cancel reaches every unit's jobs. Returns the units'
    * results in order once every unit has finished; when any failed, it
    * still waits for the others to end, then rethrows the first failure
    * with the others suppressed on it — so no unit is left launching
    * jobs after the call. */
  def runAll[T](sc: SparkContext, units: Seq[() => T],
                maxThreads: Int): Seq[T] =
    if (units.size <= 1) units.map(_())
    else {
      import org.apache.spark.graftshim.GraftSparkInternals
      // thunks built HERE, so they carry this thread's job group
      val inherited = units.map(u =>
        GraftSparkInternals.withInheritedLocalProperties(sc)(u()))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(units.size, maxThreads))
      try {
        val futures = inherited.map(u =>
          pool.submit(new java.util.concurrent.Callable[T] { def call(): T = u() }))
        val results = futures.map { f =>
          try Right(f.get())
          catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) }
        }
        val failures = results.collect { case Left(e) => e }
        failures.headOption.foreach { first =>
          failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        }
        results.collect { case Right(r) => r }
      } finally pool.shutdownNow()
    }
}
