package graft

import org.apache.hadoop.fs.{Path => HPath}

import graft.core.{Batch, SidecarFs, Status, StatusTailer}
import graft.operators.DefaultStages

/** CLI batch runner — counterpart of `python -m repype <root> --run`
  * (repype/cli.py:248-399): dry-run by default (lists pending tasks),
  * `--run` executes, `--reset` clears task artifacts after confirmation
  * (`--yes` skips the prompt), repeatable `--task` selects exact task
  * paths and `--task-dir` selects a directory subtree
  * (repype/cli.py:311-321,336-352). During `--run`, status events stream
  * to `<root>/status.jsonl` and a tailing reader renders them to stdout
  * live (progress bars and stage lines included), not post-hoc.
  */
object GraftCli {

  /** Run `targets`, streaming status events through `<root>/status.jsonl`
    * to stdout live as they happen (shared with the TUI). */
  def runLive(batch: Batch, root: HPath, targets: List[graft.core.RunContext],
              showIntermediate: Boolean = true): Boolean = {
    val statusPath = new HPath(root, "status.jsonl")
    val status = Status.create(statusPath)
    val tailer = new StatusTailer(statusPath,
      s => { System.out.print(s); System.out.flush() },
      showIntermediate = showIntermediate)
    tailer.start()
    try batch.run(Some(targets), Some(status))
    finally { tailer.stop(); status.close() }
  }

  def main(args: Array[String]): Unit = {
    var path: Option[String] = None
    var run = false
    var reset = false
    var yes = false
    var tasks = List.empty[String]
    var taskDirs = List.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--run" => run = true
        case "--reset" => reset = true
        case "--yes" => yes = true
        case "--task" => tasks :+= args(i + 1); i += 1
        case "--task-dir" => taskDirs :+= args(i + 1); i += 1
        case p if path.isEmpty => path = Some(p)
        case other => throw new IllegalArgumentException(s"unexpected arg: $other")
      }
      i += 1
    }
    require(path.isDefined,
      "usage: GraftCli <root> [--run|--reset] [--yes] [--task <path>]... [--task-dir <dir>]...")
    require(!(run && reset), "--run and --reset are mutually exclusive")

    val spark = SparkEntry.session("graft")
    DefaultStages.registerAll()

    // the root may be scheme-qualified (file:/…, hdfs://…, s3a://…) —
    // the whole tree (specs, digests, data, status.jsonl) lives there
    val root = SidecarFs.canon(path.get)
    val batch = new Batch(spark)
    batch.load(root)

    // --task = exact path; --task-dir = the dir's task and its subtree
    // (repype/cli.py:336-352). Bare names resolve against the root.
    def resolve(p: String): HPath = SidecarFs.resolve(root, p)
    val taskPaths = tasks.map(resolve)
    val dirPaths = taskDirs.map(resolve)
    def select(cs: List[graft.core.RunContext]) =
      if (taskPaths.isEmpty && dirPaths.isEmpty) cs
      else cs.filter { c =>
        taskPaths.contains(c.task.path) || dirPaths.exists(d =>
          SidecarFs.isUnder(d, c.task.path))
      }
    // reset applies to all selected runnable tasks (a completed task is
    // exactly what reset is for); run/dry-run only to pending ones
    val selected = select(if (reset) batch.contexts else batch.pendingContexts)

    if (reset) {
      println(s"\n${selected.size} task(s) selected:")
      selected.foreach(c => println(s"- ${c.task.path}"))
      // confirmation unless --yes: type the number of selected tasks
      // (repype/cli.py:355-363)
      val confirmed = yes || {
        print(s"\nReset the selected tasks? Enter the number of selected tasks to confirm: ")
        Console.flush()
        Option(scala.io.StdIn.readLine()).map(_.trim)
          .contains(selected.size.toString)
      }
      if (confirmed) selected.foreach { c =>
        println(s"resetting ${c.task.path}"); c.task.reset()
      } else {
        println("Aborted.")
        spark.stop()
        sys.exit(1)
      }
    } else if (!run) {
      println(s"DRY RUN — ${selected.size} pending task(s):")
      selected.foreach(c => println(s"  ${c.task.path} (${c.pending})"))
    } else {
      // GRAFT_CLI_INTERMEDIATE=0 mutes in-flight \r lines (the reference's
      // REPYPE_CLI_INTERMEDIATE, repype/cli.py:113-116) — for dumb
      // terminals and log capture
      val ok = runLive(batch, root, selected,
        showIntermediate = sys.env.getOrElse("GRAFT_CLI_INTERMEDIATE", "1") != "0")
      if (!ok) { spark.stop(); sys.exit(1) }
    }
    spark.stop()
  }
}
