package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path => HPath}
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `file:` under its own scheme, counting opens of `current` and creates
  * of its publish temp file (`.current.tmp`), with a one-shot hook run
  * when a schema record is opened. */
class TaskCommitFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("taskcommitfs:///")

  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName == "current") TaskCommitFs.opens.incrementAndGet()
    if (f.getName == Stored.SchemaFile)
      Option(TaskCommitFs.onRecordOpen.getAndSet(null)).foreach(_())
    super.open(f, bufferSize)
  }

  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (f.getName == ".current.tmp") TaskCommitFs.writes.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object TaskCommitFs {
  val opens = new AtomicInteger
  val writes = new AtomicInteger
  val onRecordOpen = new AtomicReference[() => Unit]
}

/** [[Task.store]] as one concurrent commit: every field's version is
  * written at once and published in one manifest write, a failed field
  * publishes nothing, and [[Task.load]] resolves every field from one
  * manifest read. Also the local-disk [[SidecarFs.writeStringAtomic]]
  * that every digest, record and manifest write goes through. */
class TaskCommitSpec extends SparkSpec {

  // four fields of one row shape per input, tagged with the config's
  // `tag`; with `fail: true` the `d` field throws when it is written
  StageRegistry.register("commit-gen", () => new Stage {
    override def id = "commit-gen"
    override def outputs = Set("a", "b", "c", "d")
    override def version = 1
    def process(ctx: StageContext, in: Map[String, DataFrame],
                config: Config): Map[String, DataFrame] = {
      val id = ctx.inputId.render.toLong
      val tag = String.valueOf(config.get("tag", "t0"))
      val fail = config.get("fail", false) == true
      val rows = ctx.spark.range(0, 3 * id)
        .select(col("id").as("n"), lit(tag).as("tag"))
      Map(
        "a" -> rows,
        "b" -> rows.filter(col("n") % 2 === 0),
        "c" -> rows.select(concat(lit("w"), col("n")).as("w"), col("tag")),
        "d" -> (if (fail) rows.select(col("n"),
            assert_true(col("n") < -1L, lit("field d fails")).as("tag"))
          else rows.select(col("n"), col("tag"))))
    }
  })

  private val fields = Set("a", "b", "c", "d")

  private def writeSpec(dir: String, tag: String, fail: Boolean = false): Unit = {
    SidecarFs.mkdirs(dir)
    SidecarFs.writeStringAtomic(s"$dir/task.yml",
      s"""runnable: true
         |pipeline: [commit-gen]
         |config: {commit-gen: {tag: $tag, fail: $fail}}
         |input_ids: [1, 2]
         |""".stripMargin)
  }

  /** Run every pending task under `root`; the task at `dir` and whether
    * the batch succeeded. */
  private def runBatch(root: String, dir: String): (Task, Boolean) = {
    val batch = new Batch(spark)
    batch.load(root)
    val ok = batch.run()
    (batch.task(dir).get, ok)
  }

  /** (input id, field) → sorted rows as strings, of a load. */
  private def rowsOf(loaded: Map[InputId, Map[String, DataFrame]]) =
    loaded.toSeq.flatMap { case (id, fs) => fs.toSeq.map { case (f, df) =>
      (id, f) -> df.collect().map(_.toString).sorted.toSeq
    } }.toMap

  /** The distinct `tag` values across a load's fields. */
  private def tagsOf(loaded: Map[InputId, Map[String, DataFrame]]): Set[String] =
    loaded.values.flatMap(_.values)
      .flatMap(_.select("tag").distinct().collect().map(_.getString(0))).toSet

  private def withCountingFs[A](body: String => A): A = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.taskcommitfs.impl", classOf[TaskCommitFs].getName)
    try body("taskcommitfs://" + tempDir("task-commit-"))
    finally {
      TaskCommitFs.onRecordOpen.set(null)
      hc.unset("fs.taskcommitfs.impl")
    }
  }

  /** (opens of `current`, writes of `current`) during `body`. */
  private def manifestIo[A](body: => A): (A, (Int, Int)) = {
    TaskCommitFs.opens.set(0)
    TaskCommitFs.writes.set(0)
    val a = body
    (a, (TaskCommitFs.opens.get, TaskCommitFs.writes.get))
  }

  test("Task.load reads the field manifest once, Task.store writes it " +
      "once for all four fields") {
    withCountingFs { root =>
      writeSpec(s"$root/t", "t0")
      val (t, ok) = runBatch(root, s"$root/t")
      assert(ok)
      val pipeline = t.createPipeline()
      val (loaded, loadIo) = manifestIo(t.load(Some(pipeline)))
      assert(loadIo == ((1, 0)), s"load: $loadIo")
      assert(loaded.values.forall(_.keySet == fields))
      val (_, storeIo) = manifestIo(t.store(pipeline, loaded, t.createConfig(),
        new Benchmark(t.timesFilepath), batchInputs = true))
      assert(storeIo == ((1, 1)), s"store: $storeIo")
      assert(rowsOf(t.load(Some(pipeline))) == rowsOf(loaded))
    }
  }

  test("a load overlapping a store sees every field's prior version, " +
      "never a mix") {
    withCountingFs { root =>
      writeSpec(s"$root/t", "t0")
      val (t, ok) = runBatch(root, s"$root/t")
      assert(ok)
      val pipeline = t.createPipeline()
      val fresh: Map[InputId, Map[String, DataFrame]] =
        Seq(1L, 2L).map { id =>
          val rows = spark.range(0, id).select(col("id").as("n"),
            lit("t1").as("tag"))
          InputId(id) -> Map("a" -> rows, "b" -> rows,
            "c" -> rows.select(lit("w").as("w"), col("tag")), "d" -> rows)
        }.toMap
      // the load's first schema-record read lands between its manifest
      // read and its other fields: a whole store publishes there
      TaskCommitFs.onRecordOpen.set(() => t.store(pipeline, fresh,
        t.createConfig(), new Benchmark(t.timesFilepath), batchInputs = true))
      val overlapped = t.load(Some(pipeline))
      assert(TaskCommitFs.onRecordOpen.get == null, "the store did not run")
      assert(tagsOf(overlapped) == Set("t0"))
      assert(tagsOf(t.load(Some(pipeline))) == Set("t1"))
    }
  }

  test("every job of a Batch.run store carries the task's job group, and " +
      "metrics.json counts each stored field's rows") {
    val root = tempDir("task-commit-group").toString
    writeSpec(s"$root/t", "t0")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    import org.apache.spark.graftshim.GraftSparkInternals.drainListenerBus
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    val (t, ok) =
      try {
        val r = runBatch(root, s"$root/t")
        drainListenerBus(sc)
        r
      } finally sc.removeSparkListener(listener)
    assert(ok)
    val seen = groups.toArray.toSeq
    // four fields, each at least one write job
    assert(seen.size >= fields.size, seen)
    assert(seen.forall(_ == s"graft-task-${t.path}"), seen)
    // the counts a sequential store would record: each stored field's
    // rows per input
    val expected = t.load().toSeq.flatMap { case (id, fs) =>
      fs.toSeq.map { case (f, df) => s"${id.render}/$f" -> df.count() }
    }.toMap
    val metrics = Json.parseJson(
      SidecarFs.readString(new HPath(t.path, "metrics.json").toString).get)
    val rowsOut = metrics("rows_out").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
    assert(rowsOut == expected)
    assert(expected.keySet.size == 2 * fields.size)
  }

  test("a field whose write fails publishes nothing, and the next " +
      "successful run prunes its orphan versions") {
    val root = tempDir("task-commit-fail").toString
    val dir = s"$root/t"
    writeSpec(dir, "t0")
    val (t, ok) = runBatch(root, dir)
    assert(ok)
    val data = t.dataPath.toString
    val manifest = SidecarFs.readString(s"$data/current")
    val sha = SidecarFs.readString(s"$dir/.sha.json")
    val before = rowsOf(t.load(Some(t.createPipeline())))

    writeSpec(dir, "t1", fail = true)
    val (failed, failedOk) = runBatch(root, dir)
    assert(!failedOk)
    assert(SidecarFs.readString(s"$data/current") == manifest)
    assert(SidecarFs.readString(s"$dir/.sha.json") == sha)
    assert(rowsOf(failed.load(Some(failed.createPipeline()))) == before)
    // the units that did finish left unpublished version dirs
    val orphans = SidecarFs.listDirNames(data).toSet --
      Manifest.snapshot(data).dirs.values
    assert(orphans.nonEmpty, SidecarFs.listDirNames(data))

    writeSpec(dir, "t2")
    val (rerun, rerunOk) = runBatch(root, dir)
    assert(rerunOk)
    val snap = Manifest.snapshot(data)
    assert(tagsOf(rerun.load(Some(rerun.createPipeline()))) == Set("t2"))
    // left: each field's live version and the one it superseded
    assert(SidecarFs.listDirNames(data).toSet.intersect(orphans).isEmpty)
    assert(SidecarFs.listDirNames(data).size == 2 * fields.size,
      SidecarFs.listDirNames(data))
    assert(snap.dirs.keySet == fields)
  }

  test("writeStringAtomic on file: replaces the file, leaves no temp " +
      "file, and a concurrent reader only ever sees a complete body") {
    val dir = "file:" + tempDir("atomic-write")
    val path = s"$dir/digest.json"
    def body(i: Int) = s"begin $i " + ("x" * 8192) + s" end $i"
    SidecarFs.writeStringAtomic(path, body(0))
    SidecarFs.writeStringAtomic(path, body(1))
    assert(SidecarFs.readString(path).contains(body(1)))
    assert(SidecarFs.listNames(dir) == Seq("digest.json"))

    val done = new java.util.concurrent.atomic.AtomicBoolean
    val reads = new AtomicInteger
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val Complete = """begin (\d+) x+ end (\d+)""".r
    val reader = new Thread(() =>
      while (!done.get) {
        SidecarFs.readString(path) match {
          case Some(s @ Complete(a, b)) if a == b && s == body(a.toInt) => ()
          case other => bad.add(other.map(_.take(40)).toString)
        }
        reads.incrementAndGet()
      })
    reader.start()
    try (2 until 202).foreach(i => SidecarFs.writeStringAtomic(path, body(i)))
    finally { done.set(true); reader.join() }
    val torn = bad.toArray.toSeq
    assert(torn.size == 0, torn.take(5))
    assert(reads.get > 0)
    assert(SidecarFs.readString(path).contains(body(201)))
    assert(SidecarFs.listNames(dir) == Seq("digest.json"))
  }
}
