package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — specs
  * run sequentially under sbt's forked test JVM). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir

  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix)

  /** Specs build fixtures with java.nio but the orchestration tier
    * addresses them as Hadoop paths (SidecarFs); this keeps call sites
    * terse. */
  implicit def nioToHadoopPath(p: java.nio.file.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(p.toString)

  /** `body`'s result and the number of Spark jobs it launched. */
  def jobsIn[A](body: => A): (A, Int) = {
    import org.apache.spark.graftshim.GraftSparkInternals.drainListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      drainListenerBus(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The stored dataset at `dir` carries a schema record equal to the
    * data columns Spark infers (the rest being `name=value` partition
    * columns), and a read with it has the schema and the rows of Spark's
    * own inferring read. */
  def assertReadsAsInferred(dir: String): Unit = {
    import graft.core.{SidecarFs, Stored}
    import org.apache.spark.sql.types.{DataType, StructType}
    val record = SidecarFs.readString(s"$dir/${Stored.SchemaFile}")
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    assert(record.isDefined, s"no record in $dir")
    val inferred = spark.read.parquet(dir)
    val (data, partitions) = inferred.schema.fields.splitAt(record.get.length)
    assert(data.toSeq == record.get.fields.toSeq, dir)
    assert(partitions.forall(p =>
      SidecarFs.listNames(dir).exists(_.startsWith(s"${p.name}="))), dir)
    val recorded = Stored.read(spark, dir)
    assert(recorded.schema == inferred.schema, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(recorded) == rows(inferred), dir)
  }

  /** Delete every schema record under `root`: the layout of a store
    * written before records existed. */
  def dropSchemaRecords(root: String): Unit =
    dropFilesNamed(root, graft.core.Stored.SchemaFile)

  /** Delete every file named `name` under `root`. */
  def dropFilesNamed(root: String, name: String): Unit = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.filter(_.getFileName.toString == name)
      .forEach(p => java.nio.file.Files.delete(p))
    finally s.close()
  }

  /** Run `body` with SQL confs set, restoring prior values after. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
