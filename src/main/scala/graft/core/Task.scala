package graft.core

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** A task: a directory + YAML spec + optional parent, forming a task tree
  * where child specs deep-merge over parents (repype/task.py:113-215).
  *
  * Results are a Parquet field store (one dataset per persistent field,
  * partitioned by `input_id`) instead of the reference's dill.gz blob
  * (repype/task.py:514-515) — columnar, splittable, 100 TB-safe. Each
  * `input_id=<id>` dir carries a `_schema.json` record written by
  * [[Stored]] with the data, so [[load]] opens it without a Spark job;
  * a dir stored before records existed loads with inference. Staleness
  * digests (`.sha.json` / `.task.json`) and the stage×input `times.csv`
  * follow the reference layout (repype/task.py:489-534), driving the same
  * incremental-recompute semantics: `isPending`, first-diverging-stage
  * detection, and ancestor pickup (repype/task.py:371-402,536-627).
  *
  * Paths are Hadoop paths and every metadata read/write goes through
  * [[SidecarFs]], so a task tree — specs, digests, times.csv, the field
  * store — lives wherever the DATA lives: local disk, HDFS, or an object
  * store (`hdfs://…/tree`, `s3a://bucket/tree`), with pickup/staleness
  * semantics intact. Digest and times writes are atomic tmp+rename
  * publishes, so a concurrent `isPending` reader on a remote store never
  * sees a torn digest.
  */
final class Task(
    val spark: SparkSession,
    val path: HPath,
    val spec: Map[String, Any],
    val parent: Option[Task] = None) {

  // -- spec ----------------------------------------------------------------

  /** Deep-merge of the spec chain root→leaf (repype/task.py:163-167). */
  def fullSpec: Map[String, Any] =
    parent.map(p => Config.deepMerge(p.fullSpec, spec)).getOrElse(spec)

  def runnable: Boolean = fullSpec.get("runnable") match {
    case Some(b: Boolean) => b
    case Some(null) | None => false
    case Some(_) => true
  }

  def inputIds: List[InputId] =
    InputId.decode(fullSpec.getOrElse("input_ids", Nil))

  def root: Task = parent.map(_.root).getOrElse(this)

  def parents: List[Task] = parent.map(p => p.parents :+ p).getOrElse(Nil)

  /** Marginal stages: their outputs are stripped before persist
    * (repype/task.py:191-212). */
  def marginalStages: List[String] = fullSpec.get("marginal_stages") match {
    case Some(l: Seq[_]) => l.map(String.valueOf).toList
    case _ => Nil
  }

  // -- artifact paths (repype/task.py:217-262) -----------------------------
  def dataPath: HPath = new HPath(path, Task.DataDir)
  def digestTaskFilepath: HPath = new HPath(path, ".task.json")
  def digestShaFilepath: HPath = new HPath(path, ".sha.json")
  def timesFilepath: HPath = new HPath(path, "times.csv")

  def times: Benchmark = Benchmark.load(timesFilepath)

  /** `{DIRNAME}`/`{ROOTDIR}` expansion, relative→task dir
    * (repype/task.py:320-342). */
  def resolvePath(p: String): HPath = {
    val expanded = p
      .replace("{DIRNAME}", path.getName)
      .replace("{ROOTDIR}", root.path.toString)
    SidecarFs.resolve(path, expanded)
  }

  /** Hyperparameter precedence: parent config ← `base_config_path` YAML ←
    * own `config` section (repype/task.py:287-318). */
  def createConfig(): Config = {
    val own = Config(spec.get("config") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    })
    val withBase = spec.get("base_config_path") match {
      case Some(p: String) =>
        val bp = resolvePath(p)
        val body = SidecarFs.readString(bp.toString).getOrElse(
          throw new java.io.FileNotFoundException(bp.toString))
        Config.fromYaml(body).merge(own)
      case _ => own
    }
    parent.map(_.createConfig().merge(withBase)).getOrElse(withBase)
  }

  /** Pipeline from the spec's stage-registry names + resolved scopes
    * (repype/task.py:344-369; dynamic import replaced by [[StageRegistry]],
    * SURVEY.md R19). */
  def createPipeline(): Pipeline = {
    val scopes = fullSpec.get("scopes") match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> resolvePath(String.valueOf(v)).toString }
      case _ => Map.empty[String, String]
    }
    fullSpec.get("pipeline") match {
      case Some(names: Seq[_]) =>
        Pipeline.create(spark,
          names.map(n => StageRegistry.create(String.valueOf(n))), scopes)
      case other => throw new IllegalArgumentException(
        s"task $path: spec field 'pipeline' must be a list, got $other")
    }
  }

  // -- digests / staleness -------------------------------------------------

  /** Full spec with the effective config substituted in
    * (repype/task.py:264-285). */
  def fullSpecWithConfig(config: Config): Map[String, Any] =
    fullSpec.updated("config", config.entries)

  def computeSha(config: Config): String =
    Json.sha1Of(fullSpecWithConfig(config))

  private def digestSha: Option[Map[String, Any]] =
    SidecarFs.readString(digestShaFilepath.toString).map(Json.parseJson)

  private def digestTask: Option[Map[String, Any]] =
    SidecarFs.readString(digestTaskFilepath.toString).map(Json.parseJson)

  /** `"incomplete" | "pipeline" | "specification" | ""`
    * (repype/task.py:371-402). */
  def isPending(pipeline: Pipeline, config: Config): String = {
    if (!runnable) return ""
    digestSha match {
      case None => "incomplete"
      case Some(hashes) =>
        val stored = hashes.getOrElse("stages", Map.empty)
          .asInstanceOf[Map[String, Any]]
        val pipelineChanged = pipeline.stages.exists(st =>
          !stored.get(st.id).contains(st.sha))
        if (pipelineChanged) "pipeline"
        else if (!hashes.get("task").contains(computeSha(config))) "specification"
        else ""
    }
  }

  /** First stage that is new / impl-changed / config-changed vs the stored
    * digest (repype/task.py:536-580). */
  def findFirstDivergingStage(pipeline: Pipeline, config: Config): Option[Stage] =
    digestSha match {
      case None => pipeline.stages.headOption
      case Some(hashes) =>
        val storedShas = hashes.getOrElse("stages", Map.empty)
          .asInstanceOf[Map[String, Any]]
        val storedConfig = digestTask
          .flatMap(_.get("config")).collect { case m: Map[_, _] =>
            m.asInstanceOf[Map[String, Any]] }.getOrElse(Map.empty)
        pipeline.stages.find { st =>
          !storedShas.contains(st.id) ||
            !storedShas.get(st.id).contains(st.sha) ||
            storedConfig.getOrElse(st.id, Map.empty) !=
              config.entries.getOrElse(st.id, Map.empty)
        }
    }

  /** Among self + ancestors, the task with the *latest* diverging stage;
    * no task if the best diverging stage is stage 0
    * (repype/task.py:582-627). Returns (pickupTask, firstDivergingStage). */
  def findPickupTask(pipeline: Pipeline, config: Config): (Option[Task], Option[Stage]) = {
    val candidates = parents :+ this
    val diverging = candidates.map(t => t -> t.findFirstDivergingStage(pipeline, config))
    diverging.find(_._2.isEmpty) match {
      case Some((t, _)) => (Some(t), None)
      case None =>
        val (bestTask, bestStage) = diverging.maxBy {
          case (_, Some(st)) => pipeline.find(st.id)
          case (_, None) => Int.MaxValue
        }
        if (bestStage.map(_.id) == pipeline.stages.headOption.map(_.id))
          (None, bestStage)
        else (Some(bestTask), bestStage)
    }
  }

  // -- field store ---------------------------------------------------------

  /** Outputs of marginal stages (repype/task.py:415-435). */
  def marginalFields(pipeline: Pipeline): Set[String] = {
    val marginal = marginalStages.toSet
    pipeline.stages.filter(st => marginal.contains(st.id))
      .flatMap(_.outputs).toSet
  }

  def stripMarginals(pipeline: Pipeline,
                     data: Map[String, DataFrame]): Map[String, DataFrame] =
    data -- marginalFields(pipeline)

  /** Live (manifest-resolved) directory of a stored field — the head
    * version after a versioned store, the plain dir on legacy layouts. */
  private[core] def fieldDataDir(field: String): HPath =
    new HPath(Manifest.resolve(dataPath.toString, field))

  private[core] def fieldDir(field: String, inputId: InputId): HPath =
    new HPath(fieldDataDir(field), s"input_id=${inputId.render}")

  /** Persist the task data as ONE commit: Parquet per persistent field ×
    * input (columnar replacement for dill.gz, repype/task.py:489-534),
    * then digests and times.csv.
    *
    * Commit order:
    *  1. on the caller thread, one [[Manifest.snapshot]] of the field
    *     store; per field a fresh `<field>_vN` dir (numbered from the
    *     snapshot's one listing) and its in-plan row observation;
    *  2. every field written CONCURRENTLY, one unit per field — its
    *     write job plus the `_schema.json` record of each input dir — on
    *     a pool made for this call ([[Concurrent.runAll]]: one thread
    *     per field, at most [[Task.MaxConcurrentFieldWrites]]), each unit
    *     carrying the caller's Spark local properties, so
    *     [[Batch.cancel]]'s job group reaches its jobs and metrics.json
    *     attributes them to the task;
    *  3. once every unit has finished, ONE [[Manifest.publishAll]] of all
    *     fields against the snapshot: a concurrent [[load]] sees every
    *     field's prior version or every field's new one, never a mix;
    *  4. `.task.json`, then `.sha.json` — LAST, the completion marker
    *     [[isPending]] reads — then times.csv.
    *
    * Failure contract: when a unit fails, the others still run to their
    * end, then the first failure is rethrown. Nothing is published and
    * no digest is written, so the prior versions stay live and the task
    * stays pending; the orphan version dirs are pruned by the next
    * publish (the same contract as a crash mid-store).
    *
    * When `batchInputs` (homogeneous per-input configs, SURVEY §1.4), each
    * field is written as ONE distributed job — the per-input plans union'd
    * with an `input_id` column and written `partitionBy("input_id")`,
    * which lands in exactly the `data/<field>/input_id=<id>/` layout the
    * per-input loop produces (so [[load]] and pickup are unaffected). This
    * is the scale fix for many-input tasks: N×fields driver-serialized
    * small jobs collapse to `fields` jobs whose partitions fan out across
    * the cluster. Falls back to the per-input loop per field when schemas
    * diverge, an `input_id` column already exists, or an id isn't a safe
    * partition-directory name.
    */
  def store(pipeline: Pipeline, data: Map[InputId, Map[String, DataFrame]],
            config: Config, times: Benchmark,
            batchInputs: Boolean = false): Unit = {
    require(runnable, "not runnable")
    require(data.keySet == inputIds.toSet,
      s"data inputs ${data.keySet} != spec inputs ${inputIds.toSet}")
    val stripped: Map[InputId, Map[String, DataFrame]] =
      data.map { case (id, fields) =>
        id -> (stripMarginals(pipeline, fields) - "input_id")
      }
    val fieldNames = stripped.values.flatMap(_.keys).toSeq.distinct.sorted
    // Immutable-version publish (the graft.core.Manifest contract, shared
    // with the persisted-index lifecycle): each field's complete new
    // dataset lands in a fresh `<field>_vN` dir and all of them go live
    // via ONE atomic pointer write — an in-flight load() of a re-running
    // task keeps reading the prior COMPLETE versions (retained one cycle,
    // pruned by the next publish) instead of racing an in-place
    // overwrite; on object stores the overwrite path would not even be
    // atomic per file set.
    val snap = Manifest.snapshot(dataPath.toString)
    val versions = fieldNames.map(f => f -> Manifest.nextVersionDir(snap, f)).toMap
    val units = fieldNames.map { field =>
      // in-plan row observation at the TOP of each stored field's final
      // plan: the count rides the write job (no recount) and lands in
      // metrics.json as rows_out. Top placement matters — a CollectMetrics
      // node at a stage boundary would sit between filters and the scan
      // and block predicate/partition pushdown; above the full plan it
      // blocks nothing.
      val perInput: Map[InputId, DataFrame] =
        stripped.collect { case (id, fs) if fs.contains(field) =>
          import org.apache.spark.sql.functions.{count, lit}
          val key = s"${id.render}/$field"
          val (wrapped, obs) = Metrics.observed(
            fs(field), s"rows/$key", count(lit(1)).as("rows"))
          // scope by the job group Batch.run set on this thread, so a
          // concurrent capture in the same JVM cannot drain these counts
          val group = Option(fs(field).sparkSession.sparkContext
            .getLocalProperty("spark.jobGroup.id")).getOrElse("")
          Metrics.StageRows.register(group, key, obs)
          id -> wrapped
        }
      () => writeField(new HPath(dataPath, versions(field)), perInput, batchInputs)
    }
    Concurrent.runAll(spark.sparkContext, units, Task.MaxConcurrentFieldWrites)
    if (versions.nonEmpty) Manifest.publishAll(snap, versions)
    SidecarFs.writeStringAtomic(digestTaskFilepath.toString,
      Json.canonical(fullSpecWithConfig(config)))
    val hashes = Map(
      "stages" -> pipeline.stages.map(st => st.id -> st.sha).toMap,
      "task" -> computeSha(config))
    // .sha.json LAST, atomically: it is the completion marker isPending
    // reads, so it must never precede (or tear ahead of) the artifacts
    // it certifies
    SidecarFs.writeStringAtomic(digestShaFilepath.toString,
      Json.canonical(hashes))
    times.retain(pipeline.stages.map(_.id), inputIds)
    times.save()
  }

  /** One field's unit of [[store]]: its inputs written under the version
    * dir `target`, one `input_id=<id>` dir each, every one with its
    * schema record. */
  private def writeField(target: HPath, perInput: Map[InputId, DataFrame],
                         batchInputs: Boolean): Unit = {
    def inputDir(id: InputId) = new HPath(target, s"input_id=${id.render}")
    val canBatch = batchInputs && perInput.size > 1 &&
      perInput.keys.forall(_.render.matches("[A-Za-z0-9._-]+")) &&
      perInput.values.map(_.schema).toSet.size == 1 &&
      !perInput.values.head.columns.contains("input_id")
    if (canBatch) {
      import org.apache.spark.sql.functions.lit
      perInput.toSeq.sortBy(_._1)
        .map { case (id, df) => df.withColumn("input_id", lit(id.render)) }
        .reduce(_ unionByName _)
        .write.mode("overwrite").partitionBy("input_id")
        .parquet(target.toString)
      // a 0-row input produces no partition directory — write it
      // per-input so load()'s per-id existence contract holds; every
      // input dir gets its own schema record either way
      for ((id, df) <- perInput) {
        val dir = inputDir(id).toString
        if (SidecarFs.exists(dir)) Stored.recordSchema(dir, df.schema)
        else Stored.write(df, dir)
      }
    } else
      for ((id, df) <- perInput)
        Stored.write(df, inputDir(id).toString)
  }

  /** Load the stored task data; validates input-id and field sets vs the
    * pipeline (repype/task.py:437-471). Every field resolves from ONE
    * [[Manifest.snapshot]], so a load overlapping a [[store]] pairs no
    * field's new version with another field's old one. */
  def load(pipeline: Option[Pipeline] = None): Map[InputId, Map[String, DataFrame]] = {
    require(runnable, "not runnable")
    require(SidecarFs.exists(dataPath.toString) || inputIds.isEmpty
      || pipeline.isEmpty || requiredFields(pipeline.get).isEmpty,
      s"no stored data at $dataPath")
    val snap = Manifest.snapshot(dataPath.toString)
    val stored = snap.names
    val fields = pipeline.fold(stored)(requiredFields)
    require(stored == fields,
      s"Loaded data is inconsistent with the pipeline: $stored != $fields")
    inputIds.map { id =>
      id -> fields.map { f =>
        val dir = s"${snap.resolve(f)}/input_id=${id.render}"
        require(SidecarFs.exists(dir),
          s"Loaded data is inconsistent with task specification: missing $dir")
        f -> Stored.read(spark, dir)
      }.toMap
    }.toMap
  }

  private def requiredFields(pipeline: Pipeline): Set[String] =
    pipeline.persistentFields - "input_id" -- marginalFields(pipeline)

  /** Delete digests + data (repype/task.py:404-413). */
  def reset(): Unit = {
    SidecarFs.deleteFile(digestShaFilepath.toString)
    SidecarFs.deleteFile(digestTaskFilepath.toString)
    SidecarFs.deleteFile(timesFilepath.toString)
    SidecarFs.deleteFile(new HPath(path, "metrics.json").toString)
    SidecarFs.deleteTree(dataPath.toString)
  }

  // -- run (repype/task.py:629-732) ----------------------------------------

  def run(config: Config,
          pipelineOpt: Option[Pipeline] = None,
          pickup: Boolean = true,
          stripMarginalsFlag: Boolean = true,
          status: Option[Status] = None): Map[InputId, Map[String, DataFrame]] = {
    require(runnable, "Task is not runnable")
    val pipeline = pipelineOpt.getOrElse(createPipeline())

    val (pickupTask, firstDiverging) =
      if (pickup) findPickupTask(pipeline, config) else (None, pipeline.stages.headOption)
    var data: Map[InputId, Map[String, DataFrame]] = Map.empty
    val times = new Benchmark(timesFilepath)
    val doPickup = pickupTask.isDefined
    if (doPickup) {
      // only this task's ids: a child may narrow its parent's input_ids,
      // and an id the pickup source lacks arrives with an empty chunk, so
      // Pipeline.extraStages re-runs its upstream stages
      val own = inputIds.toSet
      data = pickupTask.get.load(Some(pipeline)).filter { case (id, _) => own(id) }
      times.setAll(pickupTask.get.times)
    }
    val firstStage = if (doPickup) firstDiverging else None

    status.foreach(_.update(Map(
      "info" -> "start",
      "task" -> path.toString,
      "pickup" -> pickupTask.map(_.path.toString).orNull,
      "first_stage" -> firstStage.map(_.id).orNull)))

    // Homogeneous inputs (identical per-input configure result — the
    // common case) let the store collapse per-input writes into one
    // distributed job per field (SURVEY §1.4); heterogeneous configs keep
    // the per-input path.
    val homogeneousInputs = inputIds.length > 1 &&
      inputIds.map(id => pipeline.configure(config, id).sha).distinct.size == 1

    // Nothing to do if picking up a fully-valid result
    if (!doPickup || firstStage.isDefined) {
      val ids = inputIds
      for ((inputId, idx) <- ids.zipWithIndex) {
        val inputStatus = status.map(_.derive())
        inputStatus.foreach(_.update(Map(
          "info" -> "process", "task" -> path.toString,
          "input_id" -> inputId.render,
          "step" -> idx.toLong, "step_count" -> ids.length.toLong)))
        val inputConfig = pipeline.configure(config, inputId)
        val chunk = data.getOrElse(inputId, Map.empty)
        val (newChunk, finalConfig, timesChunk) = pipeline.process(
          inputId, inputConfig,
          firstStage = firstStage.map(_.id),
          data = chunk, status = inputStatus)
        val stripped =
          if (stripMarginalsFlag) stripMarginals(pipeline, newChunk) else newChunk
        timesChunk.foreach { case (stageId, dt) => times.set(stageId, inputId, dt) }
        pipeline.resolve("config", inputId).foreach { p =>
          Option(p.getParent).foreach(d => SidecarFs.mkdirs(d.toString))
          SidecarFs.writeStringAtomic(p.toString, finalConfig.yaml)
        }
        data += (inputId -> stripped)
      }
    }

    status.foreach(_.update(Map("info" -> "storing"), intermediate = true))
    store(pipeline, data, config, times, batchInputs = homogeneousInputs)
    status.foreach(_.update(Map(
      "info" -> "completed", "task" -> path.toString)))
    data
  }

  override def toString: String = s"""<Task "$path">"""
}

object Task {
  /** Name of a task dir's field-store child ([[Task.dataPath]]), which
    * task discovery never walks (see [[Batch]]). */
  val DataDir = "data"

  /** Most fields one [[Task.store]] writes at once. */
  private val MaxConcurrentFieldWrites = 8
}

/** Registry of stage factories — the offline replacement for the
  * reference's dotted-path dynamic imports (repype/task.py:98-114). */
object StageRegistry {
  private val factories =
    scala.collection.concurrent.TrieMap.empty[String, () => Stage]
  private val prefixFactories =
    scala.collection.concurrent.TrieMap.empty[String, String => Stage]

  def register(name: String, factory: () => Stage): Unit =
    factories(name) = factory

  /** Parametric stage families: any spec name starting with `prefix`
    * resolves through `factory(fullName)` — e.g. `query-<q>` for the
    * whole analytic query surface, `sink-parquet:<field>` for sinks of
    * arbitrary fields. */
  def registerPrefix(prefix: String, factory: String => Stage): Unit =
    prefixFactories(prefix) = factory

  def create(name: String): Stage =
    factories.get(name) match {
      case Some(f) => f()
      case None =>
        prefixFactories.collectFirst {
          case (p, f) if name.startsWith(p) => f(name)
        }.getOrElse {
          // reflection fallback for fully-qualified class names
          try Class.forName(name).getDeclaredConstructor().newInstance()
            .asInstanceOf[Stage]
          catch {
            case _: Exception => throw new IllegalArgumentException(
              s"Unknown stage: $name (not registered, not a class)")
          }
        }
    }

  def registered: Set[String] = factories.keySet.toSet
}
