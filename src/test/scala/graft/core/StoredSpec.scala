package graft.core

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The stored-dataset writer/reader pair ([[Stored]]) on the task field
  * store: every input dir carries a schema record that reads back as
  * Spark would infer it, loading a stored task launches no Spark job, and
  * a store written before records existed still loads — and gains
  * records at its next publish. The source scans keep every store read of
  * the task and index tiers on the one reader, and every collect of a
  * bounded index tier on its driver-side reader. */
class StoredSpec extends SparkSpec {

  // four fields of assorted shapes: non-nullable columns at the top level
  // and nested, an array, a map, a struct — and one field that is empty
  // for every input but 1
  StageRegistry.register("stored-gen", () => new Stage {
    override def id = "stored-gen"
    override def outputs = Set("nums", "words", "nested", "first_only")
    override def version = 1
    def process(ctx: StageContext, in: Map[String, DataFrame],
                config: Config): Map[String, DataFrame] = {
      val id = ctx.inputId.render.toLong
      val shift = config.get("shift", 0L) match {
        case n: Number => n.doubleValue
        case other => String.valueOf(other).toDouble
      }
      val nums = ctx.spark.range(0, 4 * id)
        .select(col("id").as("n"), (col("id") * 0.5 + shift).as("x"))
      Map(
        "nums" -> nums,
        "words" -> nums.select(concat(lit("w"), col("n")).as("w"),
          array(col("n"), col("n") + 1).as("arr")),
        "nested" -> nums.select(
          struct(col("n"), map(lit("k"), col("x")).as("m")).as("s")),
        "first_only" -> nums.filter(lit(id) === 1L))
    }
  })

  private val fields = Seq("nums", "words", "nested", "first_only")

  /** A runnable `stored-gen` task at `root/name`, run through [[Batch]]. */
  private def runTask(root: java.nio.file.Path, name: String,
                      inputIds: Seq[Int], shift: Int = 0): Task = {
    val dir = root.resolve(name)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("task.yml"),
      s"""runnable: true
         |pipeline: [stored-gen]
         |config: {stored-gen: {shift: $shift}}
         |input_ids: [${inputIds.mkString(", ")}]
         |""".stripMargin)
    val batch = new Batch(spark)
    batch.load(root)
    assert(batch.run())
    batch.task(dir).get
  }

  test("every stored input dir — batched, per-input and 0-row — reads " +
      "back with its record as Spark infers it") {
    val root = tempDir("stored-fields")
    val batched = runTask(root, "batched", Seq(1, 2))
    val single = runTask(root, "single", Seq(1))
    // the layouts under test: one partitioned write per field for two
    // homogeneous inputs (its 0-row input written on its own), one
    // plain write per input dir for a single input
    val nums = batched.fieldDataDir("nums").toString
    assert(SidecarFs.exists(s"$nums/_SUCCESS"))
    assert(!SidecarFs.exists(s"$nums/${Stored.SchemaFile}"))
    assert(SidecarFs.exists(
      s"${batched.fieldDir("first_only", InputId(2))}/_SUCCESS"))
    assert(Stored.read(spark,
      batched.fieldDir("first_only", InputId(2)).toString).count() == 0L)
    assert(SidecarFs.exists(
      s"${single.fieldDir("nums", InputId(1))}/_SUCCESS"))
    for ((t, ids) <- Seq(batched -> Seq(1, 2), single -> Seq(1));
         f <- fields; id <- ids)
      assertReadsAsInferred(t.fieldDir(f, InputId(id)).toString)
  }

  test("Task.load of 4 fields × 2 inputs launches no Spark job (8 " +
      "without records)") {
    val t = runTask(tempDir("stored-load"), "t", Seq(1, 2))
    val (loaded, jobs) = jobsIn(t.load(Some(t.createPipeline())))
    assert(loaded.keySet == Set(InputId(1), InputId(2)))
    assert(loaded.values.forall(_.keySet == fields.toSet))
    assert(jobs == 0, s"$jobs jobs")
    // without records, each of the 8 input dirs runs its own
    // schema-inference job
    dropSchemaRecords(t.dataPath.toString)
    val (_, inferring) = jobsIn(t.load(Some(t.createPipeline())))
    assert(inferring == 8, s"$inferring jobs")
  }

  test("a store written without records loads identically, and its next " +
      "publish writes them") {
    val root = tempDir("stored-legacy")
    val t = runTask(root, "t", Seq(1, 2))
    def snapshot() = t.load(Some(t.createPipeline())).toSeq.flatMap {
      case (id, fs) => fs.toSeq.map { case (f, df) =>
        (id, f) -> (df.schema, df.collect().map(_.toString).sorted.toSeq)
      }
    }.toMap
    val recorded = snapshot()
    dropSchemaRecords(t.dataPath.toString)
    assert(snapshot() == recorded)
    assert(!SidecarFs.exists(
      s"${t.fieldDir("nums", InputId(1))}/${Stored.SchemaFile}"))
    // a config edit re-runs the task: the new versions carry records
    val rerun = runTask(root, "t", Seq(1, 2), shift = 1)
    for (f <- fields; id <- Seq(1, 2))
      assertReadsAsInferred(rerun.fieldDir(f, InputId(id)).toString)
  }

  test("tokenizer models read on the driver: the read of a recorded " +
      "model launches no job, and a model without a record encodes " +
      "identically") {
    import graft.llm.Tokenization
    import SparkSpec.spark.implicits._
    val text = (Seq.fill(6)("walking") ++ Seq.fill(5)("walked") ++
      Seq.fill(4)("talking") ++ Seq.fill(3)("talked")).mkString(" ")
    val docs = Seq((1L, text), (2L, "walker talked walking"))
      .toDF("doc_id", "text")
    val root = tempDir("stored-models")
    val families: Seq[(String, String => Unit, String => DataFrame)] = Seq(
      ("bpe", Tokenization.writeBpeModel(docs, "text", _, numMerges = 3),
        Tokenization.bpeTokenCountsWithModel(docs, "text", "doc_id", _)),
      ("unigram", Tokenization.writeUnigramModel(docs, "text", _,
          vocabMulti = 8, maxPieceLen = 4, iters = 2),
        Tokenization.unigramTokenCountsWithModel(docs, "text", "doc_id", _)),
      ("wordpiece", Tokenization.writeWordpieceModel(docs, "text", _,
          numMerges = 3),
        Tokenization.wordpieceTokenCountsWithModel(docs, "text", "doc_id", _)))
    for ((name, write, counts) <- families) {
      val model = root.resolve(name).toString
      write(model)
      assertReadsAsInferred(model)
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      val (recorded, jobs) = jobsIn(counts(model))
      assert(jobs == 0, s"$name: reading the model launched $jobs jobs")
      val expected = rows(recorded)
      assert(expected.nonEmpty, name)
      dropSchemaRecords(model)
      assert(rows(counts(model)) == expected, name)
    }
  }

  test("source scan: task and index tiers read stored Parquet only " +
      "through Stored.read") {
    // any DataFrameReader use: `read.parquet(…)`, `read.schema(…)`,
    // `read.format(…)`, `read.load(…)`, also split over lines
    val reader = """\bread\s*\.\s*(parquet|schema|format|load|option)\s*\(""".r
    def code(file: String): String =
      Files.readString(java.nio.file.Paths.get(file))
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
    val main = "src/main/scala/graft"
    // the scan sees the one reader itself (it is not vacuous) ...
    assert(reader.findAllIn(code(s"$main/core/Stored.scala")).size == 2)
    // ... and nothing else in the files that own a field store or an
    // index tier: a new bare read there would bring back one
    // footer-sampling job per dataset opened
    for (f <- Seq("core/Task.scala", "llm/Dedup.scala", "llm/Similarity.scala",
                  "llm/GraphAnn.scala", "llm/Tokenization.scala")) {
      val hits = reader.findAllIn(code(s"$main/$f")).toSeq
      assert(hits.isEmpty,
        s"$f reads Parquet outside Stored.read: ${hits.mkString(", ")}")
    }
  }

  /** The reads in `code` that collect stored index state through Spark:
    * a `Stored.read(…)` chained into `.collect()` or `.head` (in the
    * index files every collected dataset is bounded state, which
    * [[Stored.collect]] reads), or a `read.parquet(…)` so chained whose
    * argument names a bounded tier (`meta`, `pq_meta`, `centroids`,
    * `codebooks`, `entry`). */
  private def boundedCollects(code: String): Seq[String] = {
    val tier = """"(?:[^"\n]*/)?(?:meta|pq_meta|centroids|codebooks|entry)"""".r
    val call = ("""(Stored\s*\.\s*read|\bread\s*\.\s*parquet)\s*""" +
      """\(([^()]*(?:\([^()]*\)[^()]*)*)\)\s*\.\s*(?:collect\s*\(|head\b)""").r
    call.findAllMatchIn(code).filter(m =>
      m.group(1).startsWith("Stored") || tier.findFirstIn(m.group(2)).isDefined)
      .map(_.matched).toSeq
  }

  test("source scan: no index call collects a bounded tier through a " +
      "Spark job — Stored.collect reads it on the driver") {
    // the scan catches the shapes such reads had ...
    for (bad <- Seq(
        """Stored.read(spark, s"$indexPath/meta").collect()""",
        "Stored.read(spark, snap.resolve(\"codebooks\"))\n  .collect()",
        "Stored.read(spark, snap.resolve(name)).collect()",
        "Stored.read(spark, entryP)\n  .collect().headOption",
        """spark.read.parquet(s"$idx/centroids").head"""))
      assert(boundedCollects(bad).size == 1, bad)
    // ... and leaves lazy reads and other datasets alone
    for (ok <- Seq(
        """val entry = Stored.read(spark, snap.resolve("entry"))""",
        """Stored.collect(spark, snap.resolve("pq_meta"))""",
        """spark.read.parquet(modelPath).collect()"""))
      assert(boundedCollects(ok).isEmpty, ok)
    for ((f, code) <- llmSources) {
      val hits = boundedCollects(code)
      assert(hits.isEmpty,
        s"$f collects a bounded tier through Spark: ${hits.mkString(", ")}")
    }
  }

  /** Every `graft/llm` source file with its comments stripped. */
  private lazy val llmSources: Seq[(java.nio.file.Path, String)] = {
    val llm = java.nio.file.Paths.get("src/main/scala/graft/llm")
    val files = {
      val s = Files.list(llm)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".scala"))
      finally s.close()
    }
    assert(files.size > 10)
    files.map(f => f -> Files.readString(f)
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", ""))
  }

  /** The places in `code` that count or broadcast a tombstone set: a
    * `.count()` (after any call chain) or a `broadcast(` applied to a
    * tombstone read (`tombstoneIds(…)`, the Spark-side reader the
    * driver-side `pendingTombstones(…)` replaced, or `pendingTombstones(…)`
    * itself) or to a name bound from one — `val x = read(…)`,
    * `read(…) match { case Some(x) =>`, or a lambda `x.map(y =>` over
    * such a name. */
  private def tombstoneSetUses(code: String): Seq[String] = {
    val args = """\((?:[^()]|\([^()]*\))*\)"""
    val read = s"""\\b(?:tombstoneIds|pendingTombstones)\\s*$args"""
    val bound = (s"""(?:\\bval\\s+(\\w+)\\s*=\\s*[\\w.]*)?$read""" +
      s"""(?:\\s*match\\s*\\{\\s*case\\s+Some\\s*\\(\\s*(\\w+)\\s*\\))?""").r
    val names = bound.findAllMatchIn(code)
      .flatMap(_.subgroups.filter(_ != null)).toSet
    val params = names.flatMap(n =>
      s"""\\b$n\\s*\\.\\s*\\w+\\s*\\(\\s*(\\w+)\\s*=>""".r
        .findAllMatchIn(code).map(_.group(1)))
    val set = ((names ++ params).map(n => s"\\b$n\\b") + read).mkString("|")
    val chain = s"""(?:\\s*\\.\\s*\\w+\\s*(?:$args)?)*"""
    (s"(?:$set)$chain\\s*\\.\\s*count\\s*\\(\\s*\\)".r.findAllIn(code) ++
      s"\\bbroadcast\\s*\\(\\s*(?:$set)".r.findAllIn(code)).toSeq
  }

  test("source scan: no index call counts or broadcasts a tombstone set — " +
      "the pending ids are a driver-side set") {
    // the scan catches the shapes the Spark-side reads had ...
    for ((bad, n) <- Seq(
        """tombstoneIds(spark, tombstoneDirs(indexPath)) match {
          |  case Some(t) =>
          |    val side =
          |      if (t.count() <= MaxPendingTombstones) broadcast(t) else t""" -> 2,
        """val after = tombstoneIds(spark, dirs) match {
          |  case Some(t) => t.unionByName(del).distinct().count()""" -> 1,
        """val pending = Dedup.tombstoneIds(spark, tombDirs)
          |Some(broadcast(pending.fold(base)(base.unionByName).distinct()))
          |case None => pending.map(t =>
          |  if (t.count() <= Dedup.MaxPendingTombstones) broadcast(t) else t)""" -> 3,
        """Dedup.tombstoneIds(spark, Dedup.tombstoneDirs(indexPath)) match {
          |  case Some(t) =>
          |    raw.join(broadcast(t), raw("cand_id").cast("string")""" -> 1,
        """broadcast(pendingTombstones(spark, dirs).toSeq.toDF())""" -> 1))
      assert(tombstoneSetUses(bad.stripMargin).size == n, bad)
    // ... and leaves the driver-side set and other frames alone
    for (ok <- Seq(
        """val tombstoned = pendingTombstones(spark, snap.root)
          |if (tombstoned.isEmpty) raw
          |else exceptTombstoned(raw, "cand_id", tombstoned)""",
        """(pendingTombstones(spark, dirs) ++ requested).size.toLong""",
        """ids.map(i => broadcast(i.select(col("del_id"))))""",
        """if (del.count() == 0L) return"""))
      assert(tombstoneSetUses(ok.stripMargin).isEmpty, ok)
    val code = llmSources.toMap.map { case (f, c) => f.getFileName.toString -> c }
    // the driver-side reader is the only one, and every index reads it
    assert(llmSources.forall(!_._2.contains("tombstoneIds")))
    for (f <- Seq("Dedup.scala", "IndexLifecycle.scala", "Similarity.scala",
                  "GraphAnn.scala"))
      assert(code(f).contains("pendingTombstones("), f)
    for ((f, c) <- llmSources) {
      val hits = tombstoneSetUses(c)
      assert(hits.isEmpty,
        s"$f counts or broadcasts a tombstone set: ${hits.mkString(", ")}")
    }
  }
}
