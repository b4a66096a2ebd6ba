package graft.core

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.SparkSession

/** Everything needed to run a task (repype/batch.py:25-92). */
final case class RunContext(task: Task, pipeline: Pipeline, config: Config) {
  def pending: String = task.isPending(pipeline, config)
  def run(status: Option[Status] = None): Map[InputId, Map[String, org.apache.spark.sql.DataFrame]] =
    task.run(config, Some(pipeline), status = status)
}

/** Task-tree discovery and sequential batch execution.
  *
  * Counterpart of repype/batch.py:132-317: recursive `task.yml` discovery
  * with parent linking by directory nesting, pending filtering, and
  * path-sorted sequential runs that abort on first failure. The reference
  * isolates each task in a subprocess; here each task runs in its own
  * `SparkSession.newSession()` under a job group, so [[cancel]] maps to
  * `cancelJobGroup` (SURVEY.md §7.4 risk 5) — executors, not the driver
  * JVM, hold the heavy state in Spark.
  *
  * Discovery and spec reads go through [[SidecarFs]], so the task tree
  * may live on any Hadoop filesystem (`file:`, `hdfs://`, `s3a://`);
  * paths are canonicalized by [[SidecarFs.canon]] — address one tree in
  * ONE spelling per session (`/x` vs `file:/x` are distinct keys, like
  * two symlinked spellings before).
  *
  * Under a task dir, the child `data` is reserved for the task's field
  * store ([[Task.dataPath]]) and discovery never walks it: a `task.yml`
  * below it is not a task, and a scan costs O(tasks), not O(stored
  * fields × versions × input ids). A child task named `data` is not
  * supported (it would share its dir with the parent's field store,
  * which the parent's `reset()` deletes).
  */
final class Batch(val spark: SparkSession) {

  private var taskMap = Map.empty[HPath, Task]
  @volatile private var currentJobGroup: Option[String] = None

  def tasks: Map[HPath, Task] = taskMap

  /** Load (or get) the task at `path`, creating parents upward as needed
    * (repype/batch.py:168-212). */
  def task(path: HPath): Option[Task] = {
    val norm = SidecarFs.canon(path)
    taskMap.get(norm).orElse {
      val specFile = new HPath(norm, "task.yml")
      SidecarFs.readString(specFile.toString).map { body =>
        val spec = Json.parseYaml(body)
        val parent = Option(norm.getParent).flatMap(task)
        val t = new Task(spark, norm, spec, parent)
        taskMap += (norm -> t)
        t
      }
    }
  }

  def task(path: String): Option[Task] = task(new HPath(path))

  /** Recursively load all `task.yml` trees under `root`
    * (repype/batch.py:214-221). Discovered paths are re-spelled as
    * children of the CALLER's root (listStatus qualifies them), so task
    * keys match what `task(path)` lookups construct. */
  def load(root: HPath): Unit = SidecarFs.withConf {
    val croot = SidecarFs.canon(root)
    SidecarFs.findFilesNamed(croot.toString, "task.yml", Task.DataDir)
      .foreach(p => task(SidecarFs.rebase(croot, p.getParent)))
  }

  def load(root: String): Unit = load(new HPath(root))

  /** Contexts for all runnable tasks, path-sorted (repype/batch.py:223-235). */
  def contexts: List[RunContext] =
    taskMap.values.filter(_.runnable).toList.sortBy(_.path.toString)
      .map { t =>
        val pipeline = t.createPipeline()
        RunContext(t, pipeline, t.createConfig())
      }

  /** Only the contexts whose task is pending (repype/batch.py:231-235). */
  def pendingContexts: List[RunContext] =
    SidecarFs.withConf(contexts.filter(_.pending.nonEmpty))

  /** Run contexts sequentially; abort on first failure
    * (repype/batch.py:249-307). Returns true iff all tasks succeeded. */
  def run(selected: Option[List[RunContext]] = None,
          status: Option[Status] = None): Boolean = {
    val ctxs = selected.getOrElse(pendingContexts).sortBy(_.task.path.toString)
    status.foreach(_.update(Map(
      "info" -> "batch", "batch" -> ctxs.map(_.task.path.toString))))
    for ((ctx, idx) <- ctxs.zipWithIndex) {
      val taskStatus = status.map(_.derive())
      taskStatus.foreach(_.update(Map(
        "info" -> "enter", "task" -> ctx.task.path.toString,
        "step" -> idx.toLong, "step_count" -> ctxs.length.toLong)))
      val jobGroup = s"graft-task-${ctx.task.path}"
      currentJobGroup = Some(jobGroup)
      spark.sparkContext.setJobGroup(jobGroup,
        s"graft task ${ctx.task.path}", interruptOnCancel = true)
      // per-task execution metrics (input/shuffle/spill) → metrics.json
      try Metrics.capture(spark, jobGroup,
        new HPath(ctx.task.path, "metrics.json")) { ctx.run(taskStatus) }
      catch {
        case e: Throwable =>
          val (stageId, cause) = e match {
            case se: StageError => (se.stageId, Option(se.getCause).getOrElse(se))
            case other => (null, other)
          }
          taskStatus.foreach(_.update(Map(
            "info" -> "error",
            "task" -> ctx.task.path.toString,
            "stage" -> stageId,
            "traceback" -> cause.toString)))
          return false
      } finally {
        spark.sparkContext.clearJobGroup()
        currentJobGroup = None
      }
    }
    true
  }

  /** Cancel the currently running task's Spark jobs
    * (repype/batch.py:309-317 → cancelJobGroup). */
  def cancel(): Unit =
    currentJobGroup.foreach(spark.sparkContext.cancelJobGroup)
}
