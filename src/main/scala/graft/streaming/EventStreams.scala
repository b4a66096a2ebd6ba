package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming operators over the `events` table shape
  * (`event_id, ts, user_id, event_type, value, props`).
  *
  * Each transform is defined on an unbounded DataFrame (works identically
  * on `readStream` input and on batch input — Spark's unified model), so
  * batch-equivalence oracles apply: running the streaming pipeline with
  * `Trigger.AvailableNow` over the static parquet must equal the batch
  * aggregation after all watermarks expire.
  *
  * Reference anchor: repype's long-running incremental batch notion
  * (`repype/task.py:629-732`) mapped onto Structured Streaming per
  * SURVEY.md §2.b (Streaming).
  */
/** Typed state processor for [[EventStreams.statefulUserTotalsTws]]: one
  * ValueState cell per user holding (n_events, sum_value); each input batch
  * folds into the cell and emits the running totals. Top-level class so the
  * closure serializes without capturing the enclosing session. */
private[streaming] class UserTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), (Long, Long, Double)] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)]("totals",
      Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                               timers: TimerValues): Iterator[(Long, Long, Double)] = {
    val (n0, s0) = if (totals.exists()) totals.get() else (0L, 0.0)
    var n = n0
    var s = s0
    rows.foreach { case (_, v) => n += 1; s += v }
    totals.update((n, s))
    Iterator((key, n, s))
  }
}

object EventStreams {

  /** Tumbling-window count/sum per event_type with a watermark. */
  def tumblingAgg(events: DataFrame, window_ : String = "1 hour",
                  watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_v"))
      .select(col("w.start").as("ws"), col("event_type"), col("cnt"), col("sum_v"))

  /** Stream-static enrichment: the stream joins a STATIC dimension (no
    * state, no watermark needed for the join itself — only the downstream
    * windowed aggregate is stateful), the dim side broadcast so enriching
    * never reshuffles the stream. At cluster scale this is the dimension
    * lookup every event pipeline runs; the static side is re-read per
    * micro-batch, so a compact dim table is the contract. */
  def enrichAgg(events: DataFrame, dim: DataFrame,
                window_ : String = "1 hour",
                watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim), events("user_id") === dim("c_custkey"))
      .groupBy(window(col("ts"), window_).as("w"), col("c_mktsegment"))
      // exact integer centi-units: float sums are aggregation-order-
      // dependent and could not hash-match the batch oracle
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_v_centi"))
      .select(col("w.start").as("ws"), col("c_mktsegment"), col("cnt"),
        col("sum_v_centi"))

  /** Sliding-window count. */
  def slidingAgg(events: DataFrame, window_ : String = "1 hour",
                 slide: String = "30 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide).as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("ws"), col("cnt"))

  /** Chained windowed aggregation — TWO stateful operators in one
    * streaming query (Spark 3.4+ stateful-operator chaining): per-10-min
    * event counts, then the per-hour PEAK of those counts. The inner
    * window's event-time column propagates via `window_time` so the outer
    * aggregation stays watermark-driven; before chaining support, this
    * required two queries glued by an intermediate sink. Works identically
    * on batch input → DuckDB oracle via two GROUP BYs. */
  def chainedWindowAgg(events: DataFrame,
                       inner: String = "10 minutes",
                       outer: String = "1 hour",
                       watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), inner).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(window(window_time(col("w")), outer).as("hw"), col("event_type"))
      .agg(max(col("cnt")).as("peak_10m"))
      .select(col("hw.start").as("hs"), col("event_type"), col("peak_10m"))

  /** Session-window (gap-based) aggregation per user. */
  def sessionAgg(events: DataFrame, gap: String = "5 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), date_trunc("second", col("w.start")).as("session_start"),
        col("n_events"))

  /** Stream-stream inner self-join with an event-time range bound:
    * view → purchase conversion pairs per user within `horizon`. Both
    * sides carry watermarks AND the join has a time-range predicate, so
    * Spark can bound the join state buffers — the condition that makes a
    * stream-stream join runnable indefinitely (without it, state grows
    * with the stream). Works identically on batch input, so the DuckDB
    * join oracle applies (q_stream_join).
    */
  def viewPurchaseJoin(events: DataFrame, horizon: String = "10 minutes",
                       watermark: String = "10 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"interval $horizon"))
      .select(col("user_id"), col("view_id"), col("purchase_id"))
  }

  /** Left-outer stream-stream join: every view emits, matched or not —
    * the conversion-funnel query where "no purchase" is the interesting
    * row. Same bounded-state conditions as [[viewPurchaseJoin]]
    * (two-sided watermarks + time-range predicate); the NULL-padded rows
    * additionally depend on state EVICTION — Spark can only declare "no
    * match ever" for a view once the watermark passes `view_ts +
    * horizon`, so unmatched results trail matched ones by the watermark.
    * On a finite stream the tail would be withheld forever; the
    * heartbeat-staging runner ([[runAvailableNowAppendHeartbeat]])
    * supplies the far-future sentinel that flushes it, and this filter
    * drops the sentinels from the result. */
  def viewPurchaseJoinLeftOuter(events: DataFrame,
                                horizon: String = "10 minutes",
                                watermark: String = "10 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"interval $horizon"),
        "left_outer")
      .select(col("user_id"), col("view_id"), col("purchase_id"))
    // NOTE: the heartbeat sentinels (user_id = -1) must be filtered AFTER
    // the sink, not here — a non-event-time predicate inside the streaming
    // plan gets pushed below the watermark operators into the scan, which
    // would drop the sentinels before they ever advance the watermark
    // (observed: stale watermark, stranded outer rows).
  }

  /** Stream-stream FULL OUTER attribution join — both unmatched sides
    * survive: views that never converted (the left-outer rows) AND
    * purchases with no preceding view inside the horizon (the
    * direct-traffic rows a left join silently drops). Same state/eviction
    * mechanics as the left join — watermarks on both sides plus the
    * event-time range condition bound the buffered state, and unmatched
    * rows emit once the watermark passes their eviction bound. `user_id`
    * is coalesced across sides (the view side's is NULL on
    * purchase-only rows). */
  def viewPurchaseJoinFullOuter(events: DataFrame,
                                horizon: String = "10 minutes",
                                watermark: String = "10 minutes"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"interval $horizon"),
        "full_outer")
      .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("view_id"), col("purchase_id"))
    // heartbeat sentinels filter AFTER the sink (see the left-outer note)
  }

  /** Stateful streaming dedup by event_id within the watermark. */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Arbitrary stateful processing (SURVEY.md §2.b "Arbitrary state"):
    * running per-user aggregate via `flatMapGroupsWithState` — the
    * unbounded-state escape hatch when windows/dedup can't express the
    * semantics. Emits one (user_id, n_events, sum_value) row per user per
    * micro-batch; with Trigger.AvailableNow the final rows equal the batch
    * groupBy (StreamingSpec asserts this batch equivalence). */
  def statefulUserTotals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, sum0) = state.getOption.getOrElse((0L, 0.0))
          var (n, sum) = (n0, sum0)
          rows.foreach { case (_, v) => n += 1; sum += v }
          state.update((n, sum))
          Iterator((userId, n, sum))
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Running per-user totals on the Spark 4 `transformWithState` API — the
    * successor to (f)mapGroupsWithState with typed state primitives
    * (ValueState/ListState/MapState, TTL, timers) backed by the RocksDB
    * state store. Same semantics as [[statefulUserTotals]], so the same
    * batch-equivalence ground truth applies (StreamingSpec). The API
    * requires the RocksDB state store provider — callers start the query
    * inside [[withRocksDbStateStore]] (a plain transform must not mutate
    * session config as a side effect).
    */
  def statefulUserTotalsTws(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserTotalsProcessor(),
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Run `body` (which must START its streaming query inside the call —
    * Spark captures the provider conf at query start) with the RocksDB
    * state store provider set, restoring the previous provider after.
    * Required by `transformWithState`; scoping the conf here keeps the
    * other stateful ops on whatever provider the session configured. */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run a streaming transform over the static events parquet with
    * `Trigger.AvailableNow` into an in-memory sink and return the final
    * result table — the batch-equivalence harness used by both the oracle
    * query (q_stream_tumbling) and the streaming specs.
    *
    * `complete` output mode keeps every window (no watermark-based state
    * eviction race for a finite input); checkpoint under target/tmp.
    */
  /** Stage a normalized copy of the events parquet once per (path, JVM)
    * and stream from that: Tables.load absorbs whatever physical encoding
    * the driver generated (ns-legacy, which the parquet streaming source
    * rejects with PARQUET_TYPE_ILLEGAL; µs-NTZ, which `withWatermark`
    * rejects — event time must be TimestampType) and the staged file is
    * always a µs session-local timestamp the watermark machinery accepts.
    * Conversion is lossless (testdata timestamps are µs-aligned, UTC
    * session). */
  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]
  private def stageMicros(spark: SparkSession, eventsPath: String): String =
    staged.getOrElseUpdate(eventsPath, {
      val dir = s"/root/repo/target/tmp/events_us_${math.abs(eventsPath.hashCode)}"
      val parent = eventsPath.stripSuffix("/events.parquet")
      graft.queries.Tables.load(spark, parent, "events")
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** Staged µs copy plus TWO far-future "heartbeat" rounds (a view+purchase
    * sentinel pair at max+1 day, another at max+2 days), written as
    * separate mtime-ordered appends. An outer stream-stream join emits its
    * NULL-padded rows only when the GLOBAL watermark (min over both sides)
    * passes the eviction point, and the watermark a batch EVICTS with is
    * the one committed by the PREVIOUS batch — so a single sentinel round
    * in the final data batch advances the watermark one batch too late
    * (observed: AvailableNow terminates without a closing no-data batch,
    * stranding every view still inside the horizon). Round 1 advances both
    * sides' watermarks past all real data; the round-2 batch then evicts
    * with that watermark. The streaming version of a watermark
    * heartbeat/punctuation event, run with maxFilesPerTrigger=1 so the
    * rounds land in distinct micro-batches (mtime order = append order). */
  private def stageMicrosHeartbeat(spark: SparkSession,
                                   eventsPath: String): String =
    staged.getOrElseUpdate(eventsPath + "#heartbeat", {
      val dir =
        s"/root/repo/target/tmp/events_us_hb_${math.abs(eventsPath.hashCode)}"
      val parent = eventsPath.stripSuffix("/events.parquet")
      val ev = graft.queries.Tables.load(spark, parent, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
      // one data file → one data batch under maxFilesPerTrigger=1: the
      // whole corpus sees watermark 0, so nothing is dropped as late no
      // matter how rows are ordered across the source files
      def partFiles(): Set[java.io.File] =
        new java.io.File(dir).listFiles()
          .filter(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".parquet")).toSet
      // FileStreamSource orders by mtime (path tie-break): pin the
      // data < round1 < round2 batch order by stamping EXPLICIT
      // second-spaced mtimes on the files each write step created —
      // relying on write-time ordering breaks on filesystems with
      // coarse (1 s) mtime granularity, where a tied sentinel could
      // batch BEFORE the data and late-drop the whole corpus.
      val mtimeBase = (System.currentTimeMillis() / 1000L) * 1000L - 60000L
      def pin(fs: Set[java.io.File], step: Int): Unit =
        fs.toSeq.sortBy(_.getName).foreach { f =>
          require(f.setLastModified(mtimeBase + step * 2000L),
            s"could not pin mtime of $f")
        }
      ev.coalesce(1).write.mode("overwrite").parquet(dir)
      val dataFiles = partFiles()
      pin(dataFiles, 0)
      // in-plan epoch-µs max (type-proof: getTimestamp crashes if ts ever
      // loads as TIMESTAMP_NTZ — rows carry LocalDateTime, not Timestamp)
      val maxMicros = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
      def heartbeat(round: Int): Unit = {
        val before = partFiles()
        val hbTs = new java.sql.Timestamp(
          maxMicros / 1000L + round * 86400000L)
        val hb = ev.sparkSession.range(2).select(
          (col("id") - 2L * round).as("event_id"), // negative: disjoint ids
          lit(hbTs).as("ts"),
          lit(-1L).as("user_id"),
          when(col("id") === 0, "view").otherwise("purchase").as("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        hb.coalesce(1).write.mode("append").parquet(dir)
        pin(partFiles() -- before, round)
      }
      heartbeat(1)
      heartbeat(2)
      dir
    })

  private def runWithMode(spark: SparkSession, eventsPath: String,
                          transform: DataFrame => DataFrame,
                          queryName: String, mode: String,
                          heartbeat: Boolean = false): DataFrame = {
    val path =
      if (heartbeat) stageMicrosHeartbeat(spark, eventsPath)
      else stageMicros(spark, eventsPath)
    runAtPath(spark, path, transform, queryName, mode, heartbeat)
  }

  /** The runner tail shared by the events paths and the generic parquet
    * path: schema-pinned file stream → transform → memory sink under
    * Trigger.AvailableNow, with the input-sized state-partition rule. */
  private def runAtPath(spark: SparkSession, path: String,
                        transform: DataFrame => DataFrame,
                        queryName: String, mode: String,
                        heartbeat: Boolean): DataFrame = {
    val schema = spark.read.parquet(path).schema
    val reader = spark.readStream.schema(schema)
    // heartbeat staging needs its sentinel rounds in separate
    // micro-batches (see stageMicrosHeartbeat); file mtime order + one
    // file per trigger guarantees data < round1 < round2 batch order
    val stream =
      (if (heartbeat) reader.option("maxFilesPerTrigger", "1") else reader)
        .parquet(path)
    runStream(spark, stream, transform, queryName, mode,
      dirBytes(path, ".parquet"))
  }

  private def dirBytes(path: String, suffix: String): Long =
    Option(new java.io.File(path).listFiles())
      .map(_.filter(f => f.isFile && f.getName.endsWith(suffix))
        .map(_.length).sum).getOrElse(0L)

  /** The sink/trigger/state-sizing tail over an ALREADY-BUILT streaming
    * DataFrame (parquet table streams and binary container streams share
    * everything past the source). */
  private def runStream(spark: SparkSession, stream: DataFrame,
                        transform: DataFrame => DataFrame,
                        queryName: String, mode: String,
                        dataBytes: Long): DataFrame = {
    val ckpt = s"/root/repo/target/tmp/ckpt_${queryName}_${System.nanoTime()}"
    // Size the STATEFUL shuffle from the input, not the CPU count: each
    // stateful operator pays a state-store open/commit per partition per
    // micro-batch regardless of rows, so 32 CPU-derived partitions over a
    // few-MB micro-batch is ~192 tiny-file commits of pure overhead
    // (measured 12.6 s → 3.5 s on q_stream_chained_agg at sf0.1 going
    // 32 → 8). AQE coalesces exactly this for batch plans but is disabled
    // across stateful streaming stages (partition count is frozen into
    // the checkpoint), so the runner derives it: one partition per 32 MB
    // of input, floor 4, capped at the session setting — a big input on a
    // big session keeps the session's parallelism. Scoped set/restore:
    // the conf is captured at query START (same pattern as
    // [[withRocksDbStateStore]]).
    val key = "spark.sql.shuffle.partitions"
    val sessionParts = spark.conf.get(key).toInt
    val stateParts = math.max(4L,
      math.min(sessionParts.toLong, dataBytes / (32L << 20) + 1)).toInt
    val saved = spark.conf.get(key)
    spark.conf.set(key, stateParts.toString)
    val q =
      try transform(stream).writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      finally spark.conf.set(key, saved)
    q.awaitTermination()
    spark.table(queryName)
  }

  def runAvailableNow(spark: SparkSession, eventsPath: String,
                      transform: DataFrame => DataFrame,
                      queryName: String): DataFrame =
    runWithMode(spark, eventsPath, transform, queryName, "complete")

  /** Update-mode variant for arbitrary-state transforms that emit running
    * rows per micro-batch (the memory sink appends each emission; callers
    * compact to the last row per key). */
  def runAvailableNowUpdate(spark: SparkSession, eventsPath: String,
                            transform: DataFrame => DataFrame,
                            queryName: String): DataFrame =
    runWithMode(spark, eventsPath, transform, queryName, "update")

  /** Append-mode variant for transforms without aggregation (dedup). */
  def runAvailableNowAppend(spark: SparkSession, eventsPath: String,
                            transform: DataFrame => DataFrame,
                            queryName: String): DataFrame =
    runWithMode(spark, eventsPath, transform, queryName, "append")

  /** Append-mode run over the heartbeat-staged input — required for
    * outer stream-stream joins (see [[stageMicrosHeartbeat]]). */
  def runAvailableNowAppendHeartbeat(spark: SparkSession, eventsPath: String,
                                     transform: DataFrame => DataFrame,
                                     queryName: String): DataFrame =
    runWithMode(spark, eventsPath, transform, queryName, "append",
      heartbeat = true)

  /** Append-mode run over an ARBITRARY parquet directory (documents,
    * deltas — anything without the events table's ns-timestamp staging
    * need). The streaming-ingest entry point for non-event tables. */
  def runParquetAvailableNowAppend(spark: SparkSession, parquetDir: String,
                                   transform: DataFrame => DataFrame,
                                   queryName: String): DataFrame =
    runAtPath(spark, parquetDir, transform, queryName, "append",
      heartbeat = false)

  /** The CLOSED continuous-ingest loop — match-then-append inside ONE
    * streaming query: each micro-batch of documents is matched against
    * the persisted MinHash index, survivors are appended back
    * ([[graft.llm.Dedup.ingestBatchIntoMinhashIndex]]), and the next
    * micro-batch sees them as history. This is what a live crawler
    * needs and what the stateless match-only stream
    * ([[graft.llm.Dedup.streamingMinhashMatchesIndexed]]) couldn't do
    * — fold survivors in without stopping the stream for a batch
    * append.
    *
    * `checkpoint` is CALLER-SUPPLIED (unlike the memory-sink runners'
    * throwaway checkpoints) because restart-with-the-same-checkpoint is
    * the contract under test: a killed run resumes at the first
    * uncommitted batch, re-delivered batches are no-ops via the commit
    * marker, and a crash inside the append re-converges via the
    * batch-keyed file sets. One file per trigger keeps batch boundaries
    * deterministic (mtime order), so the stream is reproducible against
    * the equivalent sequential batch loop. */
  def runMinhashIngestLoop(spark: SparkSession, parquetDir: String,
                           indexPath: String, threshold: Double,
                           checkpoint: String): Unit =
    runKeyedLoop(fileByFile(spark, parquetDir), checkpoint)((df, key) =>
      graft.llm.Dedup.ingestBatchIntoMinhashIndex(df, indexPath, key,
        threshold))

  /** A parquet dir as a stream of one file per trigger, so batch
    * boundaries are deterministic (mtime order). */
  private def fileByFile(spark: SparkSession, parquetDir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(parquetDir).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(parquetDir)

  /** The one driver of the keyed loops: run `body` on every micro-batch
    * of `stream` with the batch key `<streamKey>-b<batchId>`, against the
    * caller's `checkpoint`, until the input available at start is
    * drained (AvailableNow). */
  private def runKeyedLoop(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, String) => Unit): Unit = {
    val sk = streamKey(checkpoint)
    stream.writeStream
      .foreachBatch((df: DataFrame, id: Long) => body(df, s"$sk-b$id"))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** Stable identity of a streaming ingest RUN, persisted inside the
    * checkpoint dir and prefixed onto every commit-marker key: batch
    * ids restart at 0 whenever a checkpoint is recreated, so markers
    * keyed by batch id alone would collide across checkpoints sharing
    * one index — a recreated checkpoint's batch 0 would silently
    * short-circuit on the OLD stream's `b0` marker (or purge its
    * committed file set). First use mints a random id; the same live
    * checkpoint keeps it (re-delivery dedup still works), a recreated
    * checkpoint gets a fresh keyspace. */
  private def streamKey(checkpoint: String): String = {
    import graft.core.SidecarFs
    SidecarFs.mkdirs(checkpoint)
    val f = s"$checkpoint/graft_stream_id"
    def current: String = SidecarFs.readString(f).getOrElse("").trim
    if (current.isEmpty) {
      // temp + atomic rename (SidecarFs — the checkpoint can live on
      // any Hadoop-visible FS), and re-mint on a blank read: a crash
      // between create and write would otherwise pin sk = "" forever,
      // restoring the cross-checkpoint collision this id prevents
      val fresh = java.util.UUID.randomUUID().toString
        .replace("-", "").take(12)
      SidecarFs.writeStringAtomic(f, fresh)
    }
    current
  }

  /** The COMPLETE crawl front door in ONE streaming query: WARC
    * segments land as a binaryFile stream, each micro-batch is cracked
    * by the same partition-local frame parser as the batch scan
    * ([[graft.sources.Warc.decodeSegments]] — charset-aware decode
    * included), and the extracted documents run straight through the
    * closed dedup-ingest loop
    * ([[graft.llm.Dedup.ingestBatchIntoMinhashIndex]]): match against
    * the persisted history index, drop near-duplicates, append
    * survivors so the next SEGMENT's records see them as history. A
    * crawler drops segment files; the index stays current — no second
    * job, no intermediate table. Restart/re-delivery semantics are the
    * ingest loop's; one segment file per trigger keeps batch
    * boundaries deterministic (mtime order). Record identity is the
    * WARC-Record-ID (string ids are first-class index citizens). */
  def runWarcIngestLoop(spark: SparkSession, warcDir: String,
                        indexPath: String, threshold: Double,
                        checkpoint: String): Unit = {
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("path", StringType).add("modificationTime", TimestampType)
      .add("length", LongType).add("content", BinaryType)
    val stream = spark.readStream.format("binaryFile").schema(schema)
      .option("maxFilesPerTrigger", "1")
      .load(warcDir)
    val docs = graft.sources.Warc.decodeSegments(spark)(stream)
      .select(col("record_id").as("doc_id"), col("text"))
    runKeyedLoop(docs, checkpoint)((df, key) =>
      graft.llm.Dedup.ingestBatchIntoMinhashIndex(df, indexPath, key,
        threshold))
  }

  /** The embedding-side closed ingest loop — same contract as
    * [[runMinhashIngestLoop]] with
    * [[graft.llm.Similarity.ingestBatchIntoIvfIndex]] as the
    * foreachBatch body: per micro-batch, match vectors against the
    * persisted IVF index, drop embedding near-duplicates of history
    * (cos ≥ minCos — streaming SemDeDup), append survivors with the
    * frozen quantizer. Restart/re-delivery semantics identical. */
  def runIvfIngestLoop(spark: SparkSession, parquetDir: String,
                       indexPath: String, minCos: Double, nprobe: Int,
                       checkpoint: String): Unit =
    runKeyedLoop(fileByFile(spark, parquetDir), checkpoint)((df, key) =>
      graft.llm.Similarity.ingestBatchIntoIvfIndex(df, indexPath, key,
        minCos, nprobe))

  /** The IVF-PQ closed ingest loop — [[runIvfIngestLoop]] for the
    * two-tier PQ artifact
    * ([[graft.llm.Similarity.ingestBatchIntoIvfPqIndex]] as the
    * foreachBatch body): per micro-batch, match vectors against the
    * persisted IVF-PQ index (ADC candidates + exact re-rank when the
    * refine tier exists), drop near-duplicates of history, append
    * survivors to both tiers with the frozen quantizer AND codebooks.
    * Restart/re-delivery semantics identical to the other loops. */
  def runIvfPqIngestLoop(spark: SparkSession, parquetDir: String,
                         indexPath: String, minCos: Double, nprobe: Int,
                         checkpoint: String): Unit =
    runKeyedLoop(fileByFile(spark, parquetDir), checkpoint)((df, key) =>
      graft.llm.Similarity.ingestBatchIntoIvfPqIndex(df, indexPath, key,
        minCos, nprobe))

  /** Continuous WebDataset PUBLISHING — the multimodal crawler's output
    * front door, the write-side mirror of the ingest loops: each
    * micro-batch of flat sample-member rows (sample_key, ext, data)
    * lands as a batch-keyed SEGMENT of tar shards
    * (`shardDir/seg_<streamKey>-b<id>/shard_*.tar` via
    * [[graft.sources.WebDataset.writeShards]]), so a dataloader can
    * start consuming finished segments while the stream keeps
    * appending new ones.
    *
    * Restart/re-delivery semantics without commit markers: the shard
    * writer is IDEMPOTENT per (segment, shard) — a re-delivered batch
    * carries the same rows to the same batch-keyed segment dir, and
    * each shard task rewrites its own file via attempt-suffixed temp +
    * rename (last-wins), so duplicates cannot accumulate; a recreated
    * checkpoint mints a fresh [[streamKey]], so its batch 0 lands in a
    * NEW segment instead of colliding with the old stream's. Readers
    * never see partial shards (`.`-prefixed temps are hidden from the
    * listing by contract). */
  def runWebDatasetPublishLoop(spark: SparkSession, parquetDir: String,
                               shardDir: String, shardsPerBatch: Int,
                               checkpoint: String): Unit =
    runKeyedLoop(fileByFile(spark, parquetDir), checkpoint) { (df, key) =>
      graft.sources.WebDataset.writeShards(df, s"$shardDir/seg_$key",
        shardsPerBatch)
      ()
    }

  /** Append-mode run over a STREAMED binaryFile directory — continuous
    * container ingest (WARC segments landing from a live crawler, media
    * blobs from an uploader): the file stream discovers new blobs per
    * micro-batch and the transform is partition-local decode, so the
    * plan is stateless end to end (no watermark, no state store — the
    * same contract as the streaming indexed dedup). */
  def runBinaryAvailableNowAppend(spark: SparkSession, dir: String,
                                  transform: DataFrame => DataFrame,
                                  queryName: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = new StructType()
      .add("path", StringType).add("modificationTime", TimestampType)
      .add("length", LongType).add("content", BinaryType)
    val stream = spark.readStream.format("binaryFile").schema(schema)
      .load(dir)
    runStream(spark, stream, transform, queryName, "append",
      dirBytes(dir, ""))
  }
}
