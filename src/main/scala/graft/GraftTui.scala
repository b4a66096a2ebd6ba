package graft

import org.apache.hadoop.fs.{Path => HPath}

import graft.core.{Batch, SidecarFs}
import graft.operators.DefaultStages
import graft.tui.TuiModel

/** Terminal UI for managing and running task trees — the dependency-free
  * ANSI counterpart of the reference's Textual app
  * (repype/textual/{app,batch,run,editor,confirm}.py): a task tree with
  * pending states and a run queue, plus the reference's key bindings —
  * `x` toggle queue, `r` run (queued, else cursor task), `R` reset with
  * confirmation, `e` edit task.yml in `$EDITOR`, `a` add a sub-task,
  * `d` delete a task directory, `q` quit. Runs stream live status through
  * the same `StatusTailer`/`ConsoleRenderer` pair as the CLI.
  *
  * Terminal control is plain ANSI + `stty` raw mode — no curses
  * dependency; all layout/label logic is in [[graft.tui.TuiModel]]
  * (unit-tested; the interactive shell here stays thin).
  */
object GraftTui {

  private def stty(args: String*): Unit =
    new ProcessBuilder((Seq("stty") ++ args): _*)
      .redirectInput(ProcessBuilder.Redirect.INHERIT)
      .start().waitFor()

  private def rawMode(): Unit = stty("raw", "-echo")
  private def cookedMode(): Unit = stty("sane")

  private val AltScreen = "\u001b[?1049h"
  private val MainScreen = "\u001b[?1049l"
  private val Clear = "\u001b[2J\u001b[H"

  private def readKey(): Char = {
    val first = System.in.read()
    if (first < 0) 'q' // stdin EOF: treat as quit, never busy-loop
    else if (first == 0x1b && System.in.available() > 0) {
      val buf = Array(first, System.in.read(), System.in.read())
      TuiModel.decodeKey(buf)
    } else TuiModel.decodeKey(Array(first))
  }

  /** Prompt for a line of input in cooked mode (used by add-task). */
  private def promptLine(prompt: String): Option[String] = {
    cookedMode()
    print(s"\r\n$prompt")
    Console.flush()
    val line = Option(scala.io.StdIn.readLine()).map(_.trim).filter(_.nonEmpty)
    rawMode()
    line
  }

  /** y/n confirmation in raw mode (reference: confirm.py modal). */
  private def confirmKey(question: String): Boolean = {
    print(s"\r\n$question [y/N] ")
    Console.flush()
    readKey() == 'y'
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GraftTui <task-tree-root>")
    val root = SidecarFs.canon(args(0))

    val spark = SparkEntry.session("graft-tui")
    // log lines on the terminal would corrupt the full-screen UI
    spark.sparkContext.setLogLevel("ERROR")
    DefaultStages.registerAll()

    var batch: Batch = null
    var queued = Set.empty[HPath]
    var cursor = 0
    var message = ""

    def reload(): Unit = {
      batch = new Batch(spark)
      batch.load(root)
      queued = queued.filter(p => batch.tasks.contains(p))
    }
    reload()

    def rows = TuiModel.rows(batch, root, queued)

    /** Leave the TUI, run `body` with a cooked terminal, come back. */
    def suspended[T](body: => T): T = {
      cookedMode()
      print(MainScreen)
      Console.flush()
      try body
      finally { print(AltScreen); rawMode() }
    }

    rawMode()
    print(AltScreen)
    try {
      var running = true
      while (running) {
        val rs = rows
        cursor = math.max(0, math.min(cursor, rs.length - 1))
        print(Clear + TuiModel.renderScreen(rs, cursor, root, message))
        Console.flush()
        message = ""
        val sel = rs.lift(cursor)
        readKey() match {
          case 'q' => running = false
          case 'k' => cursor = math.max(0, cursor - 1)
          case 'j' => cursor = math.min(rs.length - 1, cursor + 1)
          case 'x' =>
            sel.foreach { r =>
              if (queued.contains(r.path)) queued -= r.path
              else if (r.runnable && r.pending.nonEmpty) queued += r.path
              else message = "only pending tasks can be queued"
            }
          case 'r' =>
            val targets = batch.pendingContexts.filter(c =>
              if (queued.nonEmpty) queued.contains(c.task.path)
              else sel.exists(_.path == c.task.path))
            if (targets.isEmpty) message = "nothing pending to run"
            else {
              val ok = suspended {
                val r = GraftCli.runLive(batch, root, targets)
                println(s"\n${if (r) "Done" else "FAILED"} — press Enter")
                scala.io.StdIn.readLine()
                r
              }
              queued = Set.empty
              reload()
              message = if (ok) "run completed" else "run FAILED (see status log)"
            }
          case 'R' =>
            sel.foreach { r =>
              if (confirmKey(s"Reset ${r.path}?")) {
                batch.tasks.get(r.path).foreach(_.reset())
                reload()
                message = s"reset ${r.path}"
              }
            }
          case 'e' =>
            sel.foreach { r =>
              val editor = sys.env.getOrElse("EDITOR", "vi")
              val rc = suspended {
                // $EDITOR can only open LOCAL files; a remote-scheme
                // tree's specs are edited out of band
                new ProcessBuilder(editor,
                    new HPath(r.path, "task.yml").toUri.getPath)
                  .inheritIO().start().waitFor()
              }
              reload()
              message = if (rc == 0) "saved" else s"$editor exited $rc"
            }
          case 'a' =>
            sel.foreach { r =>
              promptLine(s"New sub-task of ${r.path} — name: ").foreach { name =>
                val dir = new HPath(r.path, name)
                if (SidecarFs.exists(dir.toString)) message = s"$dir already exists"
                else {
                  SidecarFs.mkdirs(dir.toString)
                  SidecarFs.writeStringAtomic(
                    new HPath(dir, "task.yml").toString,
                    "# sub-task spec: overrides merge over the parent's\nconfig: {}\n")
                  reload()
                  message = s"created $dir"
                }
              }
            }
          case 'd' =>
            sel.foreach { r =>
              if (confirmKey(s"Delete ${r.path} and all sub-tasks?")) {
                SidecarFs.deleteTree(r.path.toString)
                reload()
                message = s"deleted ${r.path}"
              }
            }
          case _ => ()
        }
      }
    } finally {
      print(MainScreen)
      cookedMode()
      spark.stop()
    }
  }
}
