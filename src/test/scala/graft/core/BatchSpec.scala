package graft.core

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.DefaultStages

/** `file:` under its own scheme, counting `listStatus` calls: pins how
  * many listings task discovery makes (registered like
  * [[graft.llm.MockSchemeFs]]). */
class ListCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("listcountfs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ListCountingFs.lists.incrementAndGet()
    super.listStatus(f)
  }
}

object ListCountingFs {
  val lists = new java.util.concurrent.atomic.AtomicInteger
}

/** `file:` under a scheme that only one spec registers, and only through
  * the session conf — so no Hadoop FileSystem cache entry can stand in
  * for a conf that missed the registration. */
class SessionConfFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sessionconffs:///")
}

/** Mirrors tests/test_batch.py: discovery, parent linking, contexts,
  * pending transitions, run + abort-on-failure, status events. */
class BatchSpec extends SparkSpec {
  DefaultStages.registerAll()

  private def writeSpec(dir: java.nio.file.Path, yaml: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("task.yml"), yaml)
  }

  private def miniSpec(where: String, inputIds: Seq[Int] = Seq(1)) =
    s"""runnable: true
       |pipeline: [scan-region, count-region]
       |config:
       |  scan-region:
       |    path: $sfDir
       |  count-region:
       |    sql: "SELECT count(*) AS n FROM region WHERE $where"
       |input_ids: [${inputIds.mkString(", ")}]
       |""".stripMargin

  private def register(): Unit = {
    import graft.operators.SqlStage
    StageRegistry.register("count-region",
      () => new SqlStage("count-region", Set("region"), "region_count",
        "SELECT count(*) AS n FROM region"))
  }

  test("load discovers nested task trees with parent links") {
    register()
    val root = tempDir("batch")
    writeSpec(root.resolve("a"), miniSpec("true"))
    writeSpec(root.resolve("a/b"), "config: {}\n")
    writeSpec(root.resolve("c"), "runnable: false\n")
    val batch = new Batch(spark)
    batch.load(root)
    assert(batch.tasks.size == 3)
    assert(batch.task(root.resolve("a/b")).get.parent
      == batch.task(root.resolve("a")))
    // contexts: only runnable tasks (a and its child b inherit runnable)
    assert(batch.contexts.map(_.task.path.getName).toSet == Set("a", "b"))
  }

  test("discovery walks the task tree, never a task's data/ field store") {
    val root = tempDir("discover")
    writeSpec(root.resolve("group/t"), "runnable: false\n")
    // task-like names next to a plain file named like the store manifest
    writeSpec(root.resolve("group/t/exp_v2"), "config: {}\n")
    Files.writeString(root.resolve("group/t/current"), "{}")
    // under a task dir, data/ is the field store: never a task
    writeSpec(root.resolve("group/t/data"), "config: {}\n")
    writeSpec(root.resolve("group/t/data/x"), "config: {}\n")
    // a data/ dir that is not under a task dir is walked as usual
    writeSpec(root.resolve("data/u"), "runnable: false\n")
    val batch = new Batch(spark)
    batch.load(root)
    assert(batch.tasks.keySet.map(p => root.relativize(
      java.nio.file.Paths.get(p.toString)).toString)
      == Set("group/t", "group/t/exp_v2", "data/u"))
  }

  test("a scan's listings do not grow with input ids or stored versions") {
    register()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.listcountfs.impl", classOf[ListCountingFs].getName)
    try {
      /** Listings of a `load` of a stored root → child tree, after
        * `cycles` config edits each followed by a run of both tasks. */
      def listings(inputIds: Seq[Int], cycles: Int): Int = {
        val dir = tempDir("listings")
        val root = "listcountfs://" + dir
        writeSpec(dir.resolve("t/c"), "config: {}\n")
        for (i <- 1 to cycles) {
          writeSpec(dir.resolve("t"), miniSpec(s"r_regionkey >= $i", inputIds))
          val b = new Batch(spark)
          b.load(root)
          assert(b.pendingContexts.size == 2)
          assert(b.run())
        }
        ListCountingFs.lists.set(0)
        val b = new Batch(spark)
        b.load(root)
        val n = ListCountingFs.lists.get
        assert(b.tasks.size == 2 && b.pendingContexts.isEmpty)
        n
      }
      // one listing per directory: the root, t and t/c
      assert(listings(Seq(1, 2), 1) == 3)
      assert(listings(1 to 8, 1) == 3)
      assert(listings(Seq(1, 2), 3) == 3)
    } finally hc.unset("fs.listcountfs.impl")
  }

  test("load and pendingContexts see a session conf set between two calls") {
    register()
    val local = tempDir("conf-file")
    writeSpec(local.resolve("t"), miniSpec("true"))
    val first = new Batch(spark)
    first.load("file:" + local)
    assert(first.pendingContexts.size == 1)
    val dir = tempDir("conf-scheme")
    writeSpec(dir.resolve("t"), miniSpec("true"))
    writeSpec(dir.resolve("t/c"), "config: {}\n")
    // set through the session conf only, after the first load
    withSQLConf("fs.sessionconffs.impl" -> classOf[SessionConfFs].getName) {
      val second = new Batch(spark)
      second.load("sessionconffs://" + dir)
      assert(second.tasks.size == 2)
      assert(second.pendingContexts.map(_.pending) == List("incomplete", "incomplete"))
    }
  }

  test("run executes pending tasks, transitions to not-pending") {
    register()
    val root = tempDir("batch")
    writeSpec(root.resolve("t1"), miniSpec("r_regionkey < 3"))
    val batch = new Batch(spark)
    batch.load(root)
    assert(batch.pendingContexts.size == 1)
    val status = Status.create(root.resolve("status.jsonl"))
    assert(batch.run(status = Some(status)))
    assert(batch.pendingContexts.isEmpty)
    val events = Status.readEvents(root.resolve("status.jsonl"))
    val infos = events.map(_.getOrElse("info", "")).toList
    assert(infos.contains("batch") && infos.contains("completed"))
    assert(Status.render(events).nonEmpty)
  }

  test("run writes per-task execution metrics with real input volume") {
    val root = tempDir("metrics")
    val dir = root.resolve("m")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("task.yml"),
      s"""runnable: true
         |pipeline: [scan-lineitem, filter-shipdate, pricing-summary, sort-summary, sink-parquet]
         |config:
         |  scan-lineitem: {path: $sfDir}
         |  filter-shipdate: {where: "l_shipdate <= '1998-09-02'"}
         |  sort-summary: {by: [l_returnflag]}
         |input_ids: [1]
         |scopes: {result: '${root}/out/%s.parquet'}
         |""".stripMargin)
    val batch = new Batch(spark)
    batch.load(root)
    assert(batch.run())
    val metrics = Json.parseJson(
      Files.readString(dir.resolve("metrics.json")))
    assert(metrics("jobs").asInstanceOf[Long] > 0)
    assert(metrics("tasks").asInstanceOf[Long] > 0)
    assert(metrics("input_records").asInstanceOf[Long] >= 6000) // lineitem rows
    assert(metrics("shuffle_write_bytes").asInstanceOf[Long] > 0) // the sort
    // observed output rows for every stored field ride the write job
    // (no recount): the persisted summary must report its real row count
    val rowsOut = metrics("rows_out").asInstanceOf[Map[String, Any]]
      .map { case (k, v) => k -> v.asInstanceOf[Long] }
    assert(rowsOut.nonEmpty, metrics.toString)
    assert(rowsOut.keys.forall(_.startsWith("1/")), rowsOut.toString)
    assert(rowsOut.values.forall(_ > 0), rowsOut.toString)
    assert(rowsOut.values.max <= 6000L, rowsOut.toString)
    // reset clears the metrics file along with the other artifacts
    batch.task(dir).get.reset()
    assert(!Files.exists(dir.resolve("metrics.json")))
  }

  test("a child may narrow or widen its parent's input ids: it stores " +
      "exactly its own ids and re-runs only what pickup cannot supply") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.lit
    import scala.jdk.CollectionConverters._
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]
    StageRegistry.register("ids-scan", () => new Stage {
      override def id = "ids-scan"
      override def outputs = Set("rows")
      def process(ctx: StageContext, in: Map[String, DataFrame], cfg: Config) = {
        ran.add(s"scan/${ctx.inputId.render}")
        Map("rows" -> ctx.spark.range(0, 3)
          .withColumn("input", lit(ctx.inputId.render)))
      }
    })
    StageRegistry.register("ids-tag", () => new Stage {
      override def id = "ids-tag"
      override def inputs = Set("rows")
      override def outputs = Set("tagged")
      def process(ctx: StageContext, in: Map[String, DataFrame], cfg: Config) = {
        ran.add(s"tag/${ctx.inputId.render}")
        Map("tagged" -> in("rows")
          .withColumn("tag", lit(String.valueOf(cfg.get("tag", "a")))))
      }
    })
    def spec(ids: Seq[Int], tag: String) =
      s"""runnable: true
         |pipeline: [ids-scan, ids-tag]
         |config: {ids-tag: {tag: $tag}}
         |input_ids: [${ids.mkString(", ")}]
         |""".stripMargin
    val root = tempDir("narrow-widen")
    writeSpec(root.resolve("p"), spec(Seq(1, 2), "a"))
    writeSpec(root.resolve("p/narrow"), spec(Seq(1), "b"))
    writeSpec(root.resolve("q"), spec(Seq(1), "a"))
    writeSpec(root.resolve("q/widen"), spec(Seq(1, 2), "b"))
    val batch = new Batch(spark)
    batch.load(root)
    /** Runs the pending task `name`; the stage runs it made, sorted. */
    def runOne(name: String): Seq[String] = {
      ran.clear()
      val ctx = batch.pendingContexts.find(_.task.path.getName == name).get
      val status = Status.create(root.resolve(s"$name.jsonl"))
      assert(batch.run(Some(List(ctx)), Some(status)),
        Status.readEvents(root.resolve(s"$name.jsonl"))
          .find(_.get("info").contains("error")).toString)
      ran.asScala.toSeq.sorted
    }
    assert(runOne("p") == Seq("scan/1", "scan/2", "tag/1", "tag/2"))
    // narrowing: input 1 picks up p's scan; p's input 2 is not this task's
    assert(runOne("narrow") == Seq("tag/1"))
    assert(runOne("q") == Seq("scan/1", "tag/1"))
    // widening: input 2 is not in q's store, so its scan runs too
    assert(runOne("widen") == Seq("scan/2", "tag/1", "tag/2"))
    assert(batch.pendingContexts.isEmpty)
    def stored(name: String): Map[String, Set[String]] = {
      val t = batch.tasks.values.find(_.path.getName == name).get
      Seq("rows", "tagged").map(f =>
        f -> SidecarFs.listDirNames(t.fieldDataDir(f).toString).toSet).toMap
    }
    assert(stored("narrow").values.forall(_ == Set("input_id=1")))
    assert(stored("widen").values.forall(_ == Set("input_id=1", "input_id=2")))
    val narrow = batch.tasks.values.find(_.path.getName == "narrow").get
    assert(narrow.times.shape == (2, 1))
    val tags = narrow.load().apply(InputId(1))("tagged")
      .select("tag").distinct().collect().map(_.getString(0)).toSeq
    assert(tags == Seq("b"))
  }

  test("run aborts on first failure and reports the failing stage") {
    register()
    StageRegistry.register("fail-stage", () => new Stage {
      override def id = "fail-stage"
      override def outputs = Set("never")
      def process(ctx: StageContext, in: Map[String, org.apache.spark.sql.DataFrame],
                  cfg: Config) = throw new RuntimeException("boom")
    })
    val root = tempDir("batch")
    writeSpec(root.resolve("a_fails"),
      """runnable: true
        |pipeline: [fail-stage]
        |input_ids: [1]
        |""".stripMargin)
    writeSpec(root.resolve("b_never_runs"), miniSpec("true"))
    val batch = new Batch(spark)
    batch.load(root)
    val status = Status.create(root.resolve("status.jsonl"))
    assert(!batch.run(status = Some(status)))
    val events = Status.readEvents(root.resolve("status.jsonl"))
    val err = events.find(_.get("info").contains("error")).get
    assert(err("stage") == "fail-stage")
    assert(String.valueOf(err("traceback")).contains("boom"))
    // b_never_runs is still pending (abort-on-failure)
    assert(batch.pendingContexts.exists(
      _.task.path.getName == "b_never_runs"))
  }
}
