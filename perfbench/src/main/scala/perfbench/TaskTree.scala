package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row}

import graft.core.{Batch, RunContext, StageCallback, StageContext, Status}

/** `tasktree`: the task-tree half of the system. A tree root → child →
  * grandchild of built-in stages over `lineitem`, where each descendant
  * overrides one stage's config. A round, on a fresh tree directory:
  *  1. cold: a `Batch` run of every pending task;
  *  2. scans: fresh-`Batch` `load` + `pendingContexts` of the up-to-date
  *     tree (the CLI dry run), which must find nothing pending;
  *  3. pickup: three config edits, one per task level, each followed by a
  *     run of what it made pending.
  * The scans come in four equal batches, after the cold run and after each
  * pickup run, so that they sample the whole round rather than one stretch
  * of it.
  * The seed draws the config values of the overrides and edits, and the
  * input data.
  * A driver-side model of repype's pickup rule (a task resumes from the
  * stored self or ancestor whose stored config diverges latest) gives
  * the expected stage runs of every task; the status log of each task
  * run gives the actual ones. After the last pickup run, the stored
  * `summary` of every task must equal a direct run of the same SQL.
  */
final class TaskTree(c: Ctx) extends Workload {
  import TaskTree._
  import c.spark

  private val rng = c.rng(11)
  private val tree: Vector[Node] = Overrides.toVector.map { case (p, sts) =>
    Node(p, sts.map(st => st -> value(st, rng)).toMap)
  }

  /** Stage → value overrides along the chain root → `path`. */
  private def effective(nodes: Map[String, Node], path: String): Map[String, String] = {
    val chain = path.split("/").inits.toSeq.reverse.filter(_.nonEmpty).map(_.mkString("/"))
    chain.foldLeft(Defaults)((acc, p) => acc ++ nodes(p).overrides)
  }

  private def stageConfig(st: String, v: String): Map[String, Any] = st match {
    case Filtered => Map("sql" -> filteredSql(v))
    case Summary => Map("sql" -> summarySql(v))
    case SinkSummary => Map("scope" -> "summary", "tag" -> v)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeSpec(root: String, n: Node): Unit = {
    val cfg = n.overrides.map { case (st, v) => st -> stageConfig(st, v) }
    val spec: Map[String, Any] =
      if (n.path == "root") Map(
        "runnable" -> true,
        "pipeline" -> Pipeline,
        "config" -> (Map(
          "scan-lineitem" -> Map("path" -> c.data),
          "query-q1_pricing" -> Map("path" -> c.data)) ++
          (Defaults ++ n.overrides).map { case (st, v) => st -> stageConfig(st, v) }),
        "scopes" -> Map("summary" -> "out/summary_%s.parquet"),
        "input_ids" -> InputIds,
        "marginal_stages" -> Seq("scan-lineitem"))
      else Map("config" -> cfg)
    val dir = Paths.get(root, n.path)
    Files.createDirectories(dir)
    // JSON is YAML: the spec goes through the same parser either way
    Files.write(dir.resolve("task.yml"), mapper.writeValueAsBytes(spec))
  }

  // -- running ---------------------------------------------------------------
  private var statusNo = 0

  /** Stage spans for the traced run, hung on each context's pipeline. */
  private def hookStages(ctxs: List[RunContext]): Unit = if (c.trace.on) {
    val open = mutable.Stack.empty[Int]
    val cb = new StageCallback {
      def apply(event: String, sctx: StageContext, data: Map[String, DataFrame]): Unit =
        if (event == "start") open.push(c.trace.open("core.stage.process"))
        else if (event == "end" && open.nonEmpty) c.trace.close(open.pop())
    }
    ctxs.foreach(_.pipeline.stages.foreach { st =>
      st.addCallback("start", cb); st.addCallback("end", cb)
    })
  }

  private def scan(root: String): List[RunContext] = {
    val b = new Batch(spark)
    c.trace.span("core.batch.load")(b.load(root))
    c.trace.span("core.batch.pendingContexts")(b.pendingContexts)
  }

  /** Run what is pending, one `Batch.run` per task in path order (the
    * order `Batch.run` itself uses), each with its own status log.
    * Returns, per task run: its relative path, its status log and its
    * pipeline stages (counted once per input id). */
  private def runPending(root: String): Seq[(String, HPath, Int)] = {
    val b = new Batch(spark)
    c.trace.span("core.batch.load")(b.load(root))
    val ctxs = c.trace.span("core.batch.pendingContexts")(b.pendingContexts)
      .sortBy(_.task.path.toString)
    hookStages(ctxs)
    val rootPath = b.task(root).get.path.toString
    ctxs.map { ctx =>
      val log = new HPath(s"${c.work}/status/s$statusNo.jsonl")
      statusNo += 1
      val status = Status.create(log)
      val ok = c.trace.span("core.batch.run")(b.run(Some(List(ctx)), Some(status)))
      status.close()
      require(ok, s"task ${ctx.task.path} failed")
      val rel = "root" + ctx.task.path.toString.stripPrefix(rootPath)
      (rel, log, ctx.pipeline.stages.size * ctx.task.inputIds.size)
    }
  }

  /** Task → (stage runs, pipeline stages, status events) of the task
    * runs `runPending` returned, read from their status logs. */
  private def tally(got: Seq[(String, HPath, Int)]): Map[String, (Int, Int, Int)] =
    got.map { case (rel, log, stages) =>
      val events = Status.readEvents(log)
      rel -> (events.count(_.get("info").contains("start-stage")), stages, events.size)
    }.toMap

  /** Expected stage runs of each pending task, replaying the pickup
    * rule over the model's stored configs (updated as tasks store). */
  private def expectedRuns(nodes: Map[String, Node],
                           stored: mutable.Map[String, Map[String, String]],
                           order: Seq[String]): Map[String, Int] = {
    val pending = nodes.keys.toSeq.sorted
      .filter(p => !stored.get(p).contains(effective(nodes, p)))
    pending.map { p =>
      val cur = effective(nodes, p)
      val chain = p.split("/").inits.toSeq.reverse.filter(_.nonEmpty).map(_.mkString("/"))
      val diverge = chain.map { cand =>
        stored.get(cand) match {
          case None => Some(0)
          case Some(s) =>
            val i = order.indexWhere(st => s.get(st) != cur.get(st))
            if (i < 0) None else Some(i)
        }
      }
      val runs =
        if (diverge.contains(None)) 0
        else {
          val best = diverge.flatten.max
          // the scan is marginal (not stored), so resuming at the stage
          // that reads its output re-runs the scan too
          if (best == 0) order.size
          else order.size - best + (if (order(best) == Filtered) 1 else 0)
        }
      stored(p) = cur
      p -> runs * InputIds.size
    }.toMap
  }

  /** The stored `summary` of every task equals a direct run of the
    * same SQL on its effective config. */
  private def checkStored(root: String, nodes: Map[String, Node]): Option[String] = {
    val b = new Batch(spark)
    b.load(root)
    val s2 = spark.newSession()
    s2.read.parquet(s"${c.data}/lineitem.parquet").createOrReplaceTempView("lineitem")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("input_id STRING")
    nodes.keys.toSeq.sorted.iterator.flatMap { rel =>
      val t = b.task(s"${new HPath(root).getParent}/$rel").get
      val stored = t.load(Some(t.createPipeline()))
      val eff = effective(nodes, rel)
      InputIds.flatMap { id =>
        s2.createDataFrame(java.util.List.of(Row(id.toString)), schema)
          .createOrReplaceTempView("input_id")
        s2.sql(filteredSql(eff(Filtered))).createOrReplaceTempView("filtered")
        val direct = s2.sql(summarySql(eff(Summary))).collect().map(_.toString).sorted.toSeq
        val got = stored.collectFirst { case (k, f) if k.render == id.toString => f("summary") }
          .map(_.collect().map(_.toString).sorted.toSeq)
        if (got.contains(direct)) None
        else Some(s"$rel input $id: stored summary ${got.map(_.size)} rows != direct " +
          s"${direct.size} rows")
      }
    }.nextOption()
  }

  private var order: Seq[String] = Nil

  def setup(): Unit = {
    val root = s"${c.work}/setup"
    tree.foreach(writeSpec(root, _))
    c.trace.span("core.batch.load")(new Batch(spark).load(s"$root/root"))
  }

  /** No warm-up run: the round's cold run is the first task run in a
    * fresh JVM, as in a `GraftCli --run` invocation. Only the pipeline's
    * stage order (after the registry's toposort) is read here, for the
    * pickup model. */
  def warmup(): Unit = {
    val b = new Batch(spark)
    b.load(s"${c.work}/setup/root")
    order = b.contexts.head.pipeline.stages.map(_.id)
  }

  def round(r: Int): Unit = {
    val base = s"${c.work}/tree$r"
    var nodes = tree.map(n => n.path -> n).toMap
    nodes.values.foreach(writeSpec(base, _))
    val root = s"$base/root"
    val stored = mutable.Map.empty[String, Map[String, String]]

    /** A run of what is pending, checked against the pickup model and,
      * when `andStored`, the stored fields of every task. */
    def runChecked(kind: String, andStored: Boolean = false): Unit = {
      val expected = expectedRuns(nodes, stored, order)
      var tallies = Map.empty[String, (Int, Int, Int)]
      c.rec.op(kind)(runPending(root)) { got =>
        tallies = tally(got)
        val runs = tallies.map { case (k, v) => k -> v._1 }
        if (runs != expected) Some(s"stage runs $runs != expected $expected")
        else if (andStored) checkStored(root, nodes)
        else None
      }
      if (tallies.nonEmpty)
        c.rec.annotate(Map("stage_runs" -> tallies.values.map(_._1).sum,
          "pipeline_stages" -> tallies.values.map(_._2).sum,
          "status_events" -> tallies.values.map(_._3).sum))
    }

    def scans(): Unit = for (_ <- 1 to ScansPerBatch)
      c.rec.op("pending_scan")(scan(root)) { p =>
        if (p.isEmpty) None else Some(s"${p.size} pending after a complete run")
      }

    runChecked("tree_cold")
    scans()

    // one edit per task level, each a new seeded value for one stage and
    // followed by a pickup run of what it made pending and a batch of
    // scans; after the last run, the stored fields of every task are
    // checked too
    val rr = c.rng(5000L + r)
    for (((p, st), i) <- Edits.zipWithIndex) {
      val old = effective(nodes, p)(st)
      var v = value(st, rr)
      while (v == old) v = value(st, rr)
      val n = nodes(p)
      nodes = nodes.updated(p, n.copy(overrides = n.overrides.updated(st, v)))
      writeSpec(base, nodes(p))
      runChecked("tree_pickup", andStored = i == Edits.size - 1)
      scans()
    }
  }
}

object TaskTree {
  final case class Node(path: String, overrides: Map[String, String])

  /** Scans per batch (four batches a round). A single scan takes either
    * about 8 or about 13 ms on a shared 4-vCPU host, switching between the
    * two for stretches of a second to tens of seconds, so many scans spread
    * over the round are needed for a steady mean. */
  val ScansPerBatch = 150
  val InputIds: Seq[Int] = Seq(1, 2)

  val Filtered = "sql:filtered:lineitem+input_id"
  val Summary = "sql:summary:filtered"
  val SinkSummary = "sink-parquet:summary"
  val Pipeline: Seq[String] = Seq("scan-lineitem", Filtered, Summary,
    "query-q1_pricing", SinkSummary)
  /** The tree and the stage each task overrides (root → child →
    * grandchild), and the edits of phase 3. The stages are fixed so every
    * seed does the same amount of work; the seed draws the values. */
  val Overrides: Seq[(String, Seq[String])] = Seq(
    "root" -> Nil, "root/c1" -> Seq(Summary), "root/c1/g1" -> Seq(SinkSummary))
  val Edits: Seq[(String, String)] =
    Seq("root" -> Summary, "root/c1" -> Filtered, "root/c1/g1" -> SinkSummary)
  val Defaults: Map[String, String] = Map(Filtered -> "5", Summary -> "0.05",
    SinkSummary -> "t0")

  def value(st: String, rng: scala.util.Random): String = st match {
    case Filtered => (1 + rng.nextInt(30)).toString
    case Summary => f"${0.01 * (1 + rng.nextInt(10))}%.2f"
    case _ => s"t${rng.nextInt(1000)}"
  }

  def filteredSql(minQty: String): String =
    s"""SELECT l.l_orderkey, l.l_partkey, l.l_quantity, l.l_extendedprice,
       |  l.l_discount, l.l_returnflag, l.l_linestatus
       |FROM lineitem l JOIN input_id i ON l.l_linenumber = CAST(i.input_id AS INT)
       |WHERE l.l_quantity >= $minQty""".stripMargin

  def summarySql(maxDisc: String): String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
       |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       |FROM filtered WHERE l_discount <= $maxDisc
       |GROUP BY l_returnflag, l_linestatus""".stripMargin
}
