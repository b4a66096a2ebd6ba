package graft.queries

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Batch-equivalence oracles for the Structured Streaming operators: the
  * streaming pipeline runs with Trigger.AvailableNow over the static events
  * parquet and must equal the batch SQL once all data is processed
  * (SURVEY.md §7.4 risk 7).
  */
object StreamingQueries {

  /** Stage `df` as the single file `batch_<i>.parquet` under `dir` with
    * an mtime that orders it i-th: the file stream's
    * maxFilesPerTrigger=1 + mtime ordering turns the files into
    * DETERMINISTIC micro-batch boundaries (the ingest-loop queries need
    * batch N's appends visible to batch N+1). */
  private def stageOrderedFile(df: org.apache.spark.sql.DataFrame,
                               dir: String, i: Int): Unit = {
    val tmp = s"$dir/_stage_$i"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
    val part =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
      } finally s.close()
    val dst = java.nio.file.Paths.get(dir, s"batch_$i.parquet")
    java.nio.file.Files.move(part, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setLastModified(1700000000000L + i * 60000L)
    graft.core.Fs.deleteTree(tmp)
  }

  val queries: Seq[QueryDef] = Seq(

    QueryDef(
      "q_stream_tumbling",
      (s, dir) => EventStreams.runAvailableNow(
          s, s"$dir/events.parquet",
          df => EventStreams.tumblingAgg(df), "stream_tumbling")
        .withColumn("ws_us", unix_micros(col("ws"))).drop("ws")
        .orderBy(col("ws_us"), col("event_type")),
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
             |  count(*) AS cnt, round(sum(value), 2) AS sum_v
             |FROM events GROUP BY ws_us, event_type
             |ORDER BY ws_us, event_type""".stripMargin)),

    QueryDef(
      "q_stream_sliding",
      (s, dir) => EventStreams.runAvailableNow(
          s, s"$dir/events.parquet",
          df => EventStreams.slidingAgg(df), "stream_sliding")
        .withColumn("ws_us", unix_micros(col("ws"))).drop("ws")
        .orderBy(col("ws_us")),
      Some("""SELECT epoch_us(ws) AS ws_us, count(*) AS cnt FROM (
             |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws FROM events
             |  UNION ALL
             |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' FROM events)
             |GROUP BY ws ORDER BY ws_us""".stripMargin)),

    QueryDef(
      "q_stream_session",
      (s, dir) => EventStreams.runAvailableNow(
          s, s"$dir/events.parquet",
          df => EventStreams.sessionAgg(df), "stream_session")
        .withColumn("session_start_us", unix_micros(col("session_start")))
        .drop("session_start")
        .orderBy(col("user_id"), col("session_start_us")),
      Some("""WITH d AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
             |              >= INTERVAL '5 minutes'
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM d)
             |SELECT user_id,
             |  epoch_us(date_trunc('second', min(ts))) AS session_start_us,
             |  count(*) AS n_events
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, session_start_us""".stripMargin)),

    QueryDef(
      "q_stream_dedup",
      (s, dir) => EventStreams.runAvailableNowAppend(
          s, s"$dir/events.parquet",
          df => EventStreams.dedupWithinWatermark(df), "stream_dedup")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(DISTINCT event_id) AS cnt
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Arbitrary typed state on the Spark-4 transformWithState API
    // (ValueState + RocksDB store): running per-user totals, update-mode
    // emissions compacted to the final row per user — which equals the
    // batch aggregate, so the plain GROUP BY oracle applies. value is
    // 2-decimal in the testdata, so the rounded sum is an exact rational
    // (no half-boundary risk).
    QueryDef(
      "q_stream_totals_tws",
      (s, dir) => EventStreams.withRocksDbStateStore(s) {
          EventStreams.runAvailableNowUpdate(
            s, s"$dir/events.parquet",
            df => EventStreams.statefulUserTotalsTws(df), "stream_totals_tws")
        }
        .withColumn("rn", monotonically_increasing_id())
        .groupBy(col("user_id"))
        .agg(max(struct(col("rn"), col("n_events"), col("sum_value"))).as("st"))
        .select(col("user_id"), col("st.n_events").as("n_events"),
          round(col("st.sum_value"), 2).as("sum_value"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, count(*) AS n_events,
             |  round(sum(value), 2) AS sum_value
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Stream-stream inner self-join (view → purchase conversions within
    // 10 minutes): watermarked on both sides + a time-range predicate so
    // the join state is bounded. Batch-equivalence oracle = plain join.
    QueryDef(
      "q_stream_join",
      (s, dir) => EventStreams.runAvailableNowAppend(
          s, s"$dir/events.parquet",
          df => EventStreams.viewPurchaseJoin(df), "stream_join")
        .orderBy(col("user_id"), col("view_id"), col("purchase_id")),
      Some("""SELECT v.user_id AS user_id, v.event_id AS view_id,
             |  p.event_id AS purchase_id
             |FROM events v JOIN events p
             |  ON v.user_id = p.user_id
             | AND v.event_type = 'view' AND p.event_type = 'purchase'
             | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
             |ORDER BY v.user_id, view_id, purchase_id""".stripMargin)),

    // Chained windowed aggregation — two stateful operators in one query
    // (per-10-min counts → hourly peak), append mode as chaining
    // requires, run over the heartbeat staging so the tail hour
    // finalizes; the post-sink filter drops the sentinels' own far-future
    // hour (the real data's max ts bounds real windows).
    QueryDef(
      "q_stream_chained_agg",
      (s, dir) => {
        // in-plan epoch-µs max, read back as Long: type-proof against the
        // loaded ts being LTZ vs NTZ (a raw getTimestamp would crash on
        // the LocalDateTime an NTZ row returns)
        val maxMicros = Tables.load(s, dir, "events")
          .agg(max(unix_micros(col("ts")))).head.getLong(0)
        EventStreams.runAvailableNowAppendHeartbeat(
            s, s"$dir/events.parquet",
            df => EventStreams.chainedWindowAgg(df), "stream_chained_agg")
          .filter(col("hs") <= timestamp_micros(lit(maxMicros)))
          .withColumn("hs_us", unix_micros(col("hs"))).drop("hs")
          .orderBy(col("hs_us"), col("event_type"))
      },
      Some("""WITH c AS (
             |  SELECT time_bucket(INTERVAL '10 minutes', ts) AS wten,
             |    event_type, count(*) AS cnt
             |  FROM events GROUP BY wten, event_type)
             |SELECT epoch_us(time_bucket(INTERVAL '1 hour', wten)) AS hs_us,
             |  event_type, max(cnt) AS peak_10m
             |FROM c GROUP BY hs_us, event_type
             |ORDER BY hs_us, event_type""".stripMargin)),

    // Stream-stream LEFT OUTER join: unmatched views must surface with a
    // NULL purchase — semantics the inner join never exercises, because
    // NULL-padding requires watermark-driven state EVICTION ("no match
    // can still arrive"), not just matching. Finite input + heartbeat
    // sentinel (see EventStreams.stageMicrosHeartbeat) makes the
    // streaming result equal the batch LEFT JOIN, so the same DuckDB
    // oracle applies. Spark sorts ASC nulls-first; the oracle says so
    // explicitly (DuckDB defaults nulls-last).
    QueryDef(
      "q_stream_join_left",
      (s, dir) => EventStreams.runAvailableNowAppendHeartbeat(
          s, s"$dir/events.parquet",
          df => EventStreams.viewPurchaseJoinLeftOuter(df), "stream_join_left")
        // sentinel filter on the SINK table (batch side): inside the
        // streaming plan it would be pushed below the watermark and kill
        // the heartbeat before it advances anything
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("view_id"), col("purchase_id")),
      Some("""SELECT v.user_id AS user_id, v.event_id AS view_id,
             |  p.event_id AS purchase_id
             |FROM (SELECT * FROM events WHERE event_type = 'view') v
             |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ON v.user_id = p.user_id
             | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
             |ORDER BY user_id, view_id, purchase_id NULLS FIRST""".stripMargin)),

    // Stream-stream FULL OUTER join — completes the streaming join
    // family: beyond the left join's unconverted views, the purchases
    // with NO preceding view inside the horizon (direct traffic) must
    // also surface, NULL-padded on the view side once the watermark
    // proves no match can still arrive. Both sides' state evicts by
    // watermark + the event-time range bound; user_id coalesces across
    // sides. Same heartbeat mechanics and batch-equivalence oracle as
    // the left join.
    QueryDef(
      "q_stream_join_full",
      (s, dir) => EventStreams.runAvailableNowAppendHeartbeat(
          s, s"$dir/events.parquet",
          df => EventStreams.viewPurchaseJoinFullOuter(df),
          "stream_join_full")
        // sentinel filter on the SINK table (see the left-outer note)
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("view_id"), col("purchase_id")),
      Some("""SELECT coalesce(v.user_id, p.user_id) AS user_id,
             |  v.event_id AS view_id, p.event_id AS purchase_id
             |FROM (SELECT * FROM events WHERE event_type = 'view') v
             |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |  ON v.user_id = p.user_id
             | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTE
             |ORDER BY user_id, view_id NULLS FIRST,
             |  purchase_id NULLS FIRST""".stripMargin)),

    // Stream-static enrichment join: events enriched with the customer
    // dimension (stream-static joins are STATELESS — only the downstream
    // windowed aggregate holds state), dim side broadcast so the stream
    // never reshuffles for the lookup. Batch-equivalence oracle; sums in
    // exact integer centi-units.
    QueryDef(
      "q_stream_enrich",
      (s, dir) => EventStreams.runAvailableNow(
          s, s"$dir/events.parquet",
          df => EventStreams.enrichAgg(df, Tables.load(s, dir, "customer")),
          "stream_enrich")
        .withColumn("ws_us", unix_micros(col("ws"))).drop("ws")
        .orderBy(col("ws_us"), col("c_mktsegment")),
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, c_mktsegment,
             |  count(*) AS cnt,
             |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS sum_v_centi
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY ws_us, c_mktsegment
             |ORDER BY ws_us, c_mktsegment""".stripMargin)),

    // Streaming-ingest dedup against the PERSISTED MinHash index: new
    // documents arrive as a file stream and match the stored history
    // index as they land — the production front door where
    // q_dedup_incremental_indexed is the nightly batch. Statelessness is
    // the point (signature + band explode are per-row expressions, both
    // index probes are stream-STATIC joins — no watermark, no state
    // store; StreamingSpec pins the plan), so multi-band hits dedup
    // after the sink. Same planted-twin fixture and oracle as the batch
    // path: stream ≡ batch ≡ oracle.
    QueryDef(
      "q_stream_dedup_indexed",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val batch = docs.filter(col("doc_id") >= 400)
        val planted = batch.filter(col("doc_id") < 420)
          .select((col("doc_id") + 100000).as("doc_id"), col("text"))
        val history = docs.filter(col("doc_id") < 400).unionByName(planted)
        val tmp = graft.core.Fs.scratchRoot
        val idx = s"$tmp/graft_mh_index_streamq"
        graft.llm.Dedup.writeMinhashIndex(history, idx, numHashes = 64,
          bands = 16, shingleSize = 5, maxBucketSize = 500)
        val batchDir = s"$tmp/graft_stream_docs_batch"
        batch.write.mode("overwrite").parquet(batchDir)
        val matches = EventStreams.runParquetAvailableNowAppend(s, batchDir,
          st => graft.llm.Dedup.streamingMinhashMatchesIndexed(st, idx),
          "stream_dedup_indexed")
        batch.filter(col("doc_id") < 420).select(col("doc_id").as("batch_id"))
          .join(matches
              .filter(col("hist_id") === col("batch_id") + 100000 &&
                col("est_jaccard") >= 0.9999)
              .select(col("batch_id"), lit(true).as("hist_dup"))
              .distinct(), // one row per colliding band before this
            Seq("batch_id"), "left")
          .select(col("batch_id"),
            coalesce(col("hist_dup"), lit(false)).as("hist_dup"))
          .orderBy(col("batch_id"))
      },
      Some("""SELECT doc_id AS batch_id, true AS hist_dup
             |FROM documents WHERE doc_id >= 400 AND doc_id < 420
             |ORDER BY batch_id""".stripMargin)),

    // The CLOSED ingest loop — match-then-append inside ONE streaming
    // query (EventStreams.runMinhashIngestLoop): batch 0 carries novel
    // docs 300-349 plus exact twins of HISTORY (must drop against the
    // index); batch 1 carries novel docs 350-399 plus exact twins of
    // BATCH 0's survivors — which drop ONLY IF the loop actually
    // appended batch 0 back into the index before batch 1 ran. Novel
    // texts are SYNTHESIZED in closed form (id + md5 words) rather than
    // taken from the documents table, because the synthetic corpus
    // carries planted ~0.98-jaccard near-dup pairs whose minhash
    // collision is correct engine behavior but not SQL-expressible —
    // with synthesized texts the ONLY matches are the planted exact
    // twins, so survival is a pure id predicate. The output reports,
    // per streamed doc, whether it survived into the final index's
    // signature table. Restart/re-delivery idempotency is pinned in
    // StreamingSpec.
    QueryDef(
      "q_stream_dedup_append",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        def synth(id: org.apache.spark.sql.Column) = concat_ws(" ",
          lit("ingest stream document"), id, md5(id.cast("string")),
          md5(concat(id.cast("string"), lit("x"))),
          md5(concat(id.cast("string"), lit("y"))))
        val tmp = graft.core.Fs.scratchRoot
        val idx = s"$tmp/mh_index_ingest"
        graft.llm.Dedup.writeMinhashIndex(docs.filter(col("doc_id") < 300),
          idx, numHashes = 64, bands = 16, shingleSize = 5,
          maxBucketSize = 500)
        val novel0 = s.range(300, 350)
          .select(col("id").as("doc_id"), synth(col("id")).as("text"))
        val novel1 = s.range(350, 400)
          .select(col("id").as("doc_id"), synth(col("id")).as("text"))
        val b0 = novel0
          .unionByName(docs.filter(col("doc_id") < 10)
            .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        val b1 = novel1
          .unionByName(s.range(300, 310)
            .select((col("id") + 200000).as("doc_id"),
              synth(col("id")).as("text")))
        val streamDir = s"$tmp/ingest_stream_docs"
        graft.core.Fs.deleteTree(streamDir)
        stageOrderedFile(b0, streamDir, 0)
        stageOrderedFile(b1, streamDir, 1)
        val ckpt = s"$tmp/ingest_ckpt"
        graft.core.Fs.deleteTree(ckpt)
        EventStreams.runMinhashIngestLoop(s, streamDir, idx,
          threshold = 0.9999, checkpoint = ckpt)
        val indexed = s.read
          .parquet(graft.core.Manifest.resolve(idx, "sigs"))
          .select(col("doc_id"), lit(true).as("survived"))
        b0.unionByName(b1).select(col("doc_id"))
          .join(indexed, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("survived"), lit(false)).as("survived"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, (doc_id < 100000) AS survived FROM (
             |  SELECT CAST(i AS BIGINT) AS doc_id
             |  FROM generate_series(300, 399) g(i)
             |  UNION ALL
             |  SELECT doc_id + 100000 AS doc_id FROM documents
             |  WHERE doc_id < 10
             |  UNION ALL
             |  SELECT CAST(i + 200000 AS BIGINT) AS doc_id
             |  FROM generate_series(300, 309) h(i))
             |ORDER BY doc_id""".stripMargin)),

    // The embedding-side CLOSED ingest loop — streaming SemDeDup
    // against the persisted IVF index (EventStreams.runIvfIngestLoop):
    // batch 0 carries novel vectors 300-349 plus exact twins of
    // HISTORY (cos 1.0 ≥ 0.999 → drop); batch 1 carries novel vectors
    // 350-399 plus exact twins of BATCH 0's survivors — dropped ONLY
    // IF the loop appended batch 0 with the frozen quantizer before
    // batch 1 ran (an identical vector lands in its twin's own cell,
    // probe #1). The synthetic embeddings' off-diagonal cosine ceiling
    // is ~0.51, so novel vectors can never trip the 0.999 bar and
    // survival is a pure id predicate the oracle restates.
    QueryDef(
      "q_stream_embed_ingest",
      (s, dir) => {
        val vecs = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val tmp = graft.core.Fs.scratchRoot
        val idx = s"$tmp/ivf_index_ingest"
        graft.llm.Similarity.writeIvfIndex(
          vecs.filter(col("vec_id") < 300), idx, nlist = 16)
        val b0 = vecs.filter(col("vec_id") >= 300 && col("vec_id") < 350)
          .unionByName(vecs.filter(col("vec_id") < 10)
            .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
        val b1 = vecs.filter(col("vec_id") >= 350 && col("vec_id") < 400)
          .unionByName(
            vecs.filter(col("vec_id") >= 300 && col("vec_id") < 310)
              .select((col("vec_id") + 200000).as("vec_id"),
                col("embedding")))
        val streamDir = s"$tmp/ingest_stream_vecs"
        graft.core.Fs.deleteTree(streamDir)
        stageOrderedFile(b0, streamDir, 0)
        stageOrderedFile(b1, streamDir, 1)
        val ckpt = s"$tmp/ingest_vec_ckpt"
        graft.core.Fs.deleteTree(ckpt)
        EventStreams.runIvfIngestLoop(s, streamDir, idx, minCos = 0.999,
          nprobe = 4, checkpoint = ckpt)
        val indexed = s.read
          .parquet(graft.core.Manifest.resolve(idx, "postings"))
          .select(col("cand_id").as("vec_id"), lit(true).as("survived"))
        b0.unionByName(b1).select(col("vec_id"))
          .join(indexed, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("survived"), lit(false)).as("survived"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, (vec_id < 100000) AS survived FROM (
             |  SELECT vec_id FROM embeddings
             |  WHERE vec_id >= 300 AND vec_id < 400
             |  UNION ALL
             |  SELECT vec_id + 100000 AS vec_id FROM embeddings
             |  WHERE vec_id < 10
             |  UNION ALL
             |  SELECT vec_id + 200000 AS vec_id FROM embeddings
             |  WHERE vec_id >= 300 AND vec_id < 310)
             |ORDER BY vec_id""".stripMargin)),

    // The IVF-PQ closed ingest loop (EventStreams.runIvfPqIngestLoop) —
    // the two-tier PQ artifact kept current by the stream: same planted
    // structure as q_stream_embed_ingest (batch 0 = novel vectors +
    // exact twins of HISTORY; batch 1 = novel vectors + exact twins of
    // batch 0's SURVIVORS, dropped only if the loop appended batch 0 to
    // BOTH tiers with the frozen quantizer and codebooks before batch 1
    // ran — the ADC candidate must surface the twin from the appended
    // codes, the exact re-rank from the appended vectors). Survival is
    // read from the CODES tier; the refine tier tracking it is pinned
    // in StreamingSpec along with restart/re-delivery idempotency.
    QueryDef(
      "q_stream_ivfpq_ingest",
      (s, dir) => {
        val vecs = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val tmp = graft.core.Fs.scratchRoot
        val idx = s"$tmp/ivfpq_index_ingest"
        graft.llm.Similarity.writeIvfPqIndex(
          vecs.filter(col("vec_id") < 300), idx, nlist = 16, m = 8,
          ksub = 16)
        val b0 = vecs.filter(col("vec_id") >= 300 && col("vec_id") < 350)
          .unionByName(vecs.filter(col("vec_id") < 10)
            .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
        val b1 = vecs.filter(col("vec_id") >= 350 && col("vec_id") < 400)
          .unionByName(
            vecs.filter(col("vec_id") >= 300 && col("vec_id") < 310)
              .select((col("vec_id") + 200000).as("vec_id"),
                col("embedding")))
        val streamDir = s"$tmp/ingest_stream_pqvecs"
        graft.core.Fs.deleteTree(streamDir)
        stageOrderedFile(b0, streamDir, 0)
        stageOrderedFile(b1, streamDir, 1)
        val ckpt = s"$tmp/ingest_pqvec_ckpt"
        graft.core.Fs.deleteTree(ckpt)
        EventStreams.runIvfPqIngestLoop(s, streamDir, idx, minCos = 0.999,
          nprobe = 4, checkpoint = ckpt)
        val indexed = s.read
          .parquet(graft.core.Manifest.resolve(idx, "codes"))
          .select(col("cand_id").as("vec_id"), lit(true).as("survived"))
        b0.unionByName(b1).select(col("vec_id"))
          .join(indexed, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("survived"), lit(false)).as("survived"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id, (vec_id < 100000) AS survived FROM (
             |  SELECT vec_id FROM embeddings
             |  WHERE vec_id >= 300 AND vec_id < 400
             |  UNION ALL
             |  SELECT vec_id + 100000 AS vec_id FROM embeddings
             |  WHERE vec_id < 10
             |  UNION ALL
             |  SELECT vec_id + 200000 AS vec_id FROM embeddings
             |  WHERE vec_id >= 300 AND vec_id < 310)
             |ORDER BY vec_id""".stripMargin)),

    // The COMPLETE crawl front door in ONE streaming query
    // (EventStreams.runWarcIngestLoop): WARC segments land as a
    // binaryFile stream, the frame parser cracks them per micro-batch,
    // and the extracted documents run the closed dedup-ingest loop
    // against a pre-built history index — segment 0 carries two exact
    // copies of HISTORY bodies (records 3, 7 — drop), segment 1 two
    // exact copies of segment-0 SURVIVORS (records 15, 19 — drop only
    // if the loop folded segment 0 back in before segment 1 ran).
    // Fixture bodies are disjoint-vocabulary md5 words
    // (Warc.crawlBody), so distinct records sit at est_jaccard ~0 and
    // survival is the pure closed form the oracle VALUES restate.
    QueryDef(
      "q_stream_warc_dedup",
      (s, _) => {
        import s.implicits._
        val tmp = graft.core.Fs.scratchRoot
        val idx = s"$tmp/mh_index_crawl"
        val history = Seq(
          ("hist-0", graft.sources.Warc.crawlHistoryBody(0)),
          ("hist-1", graft.sources.Warc.crawlHistoryBody(1)))
          .toDF("doc_id", "text")
        graft.llm.Dedup.writeMinhashIndex(history, idx, numHashes = 64,
          bands = 16, shingleSize = 5, maxBucketSize = 500)
        val ckpt = s"$tmp/crawl_ckpt"
        graft.core.Fs.deleteTree(ckpt)
        EventStreams.runWarcIngestLoop(s,
          graft.sources.Warc.warcCrawlDedupIngestDir, idx,
          threshold = 0.9999, checkpoint = ckpt)
        val indexed = s.read
          .parquet(graft.core.Manifest.resolve(idx, "sigs"))
          .select(col("doc_id").as("record_id"),
            lit(true).as("survived"))
        s.range(0, 24)
          .select(format_string("<urn:uuid:rec-%03d>", col("id"))
            .as("record_id"))
          .join(indexed, Seq("record_id"), "left")
          .select(col("record_id"),
            coalesce(col("survived"), lit(false)).as("survived"))
          .orderBy(col("record_id"))
      },
      Some(s"""SELECT * FROM (VALUES ${(0 until 24).map { i =>
               val rid = f"<urn:uuid:rec-$i%03d>"
               val ok = !graft.sources.Warc.CrawlPlantedDups.contains(i)
               s"('$rid', $ok)"
             }.mkString(", ")})
             |  AS t(record_id, survived)
             |ORDER BY record_id""".stripMargin)),

    // CONTINUOUS crawl ingest: the WARC segments themselves arrive as a
    // binaryFile stream (a live crawler landing segment files) and the
    // SAME partition-local decode stage as the batch scan cracks them
    // per micro-batch — stateless end to end, so the stream must equal
    // the batch scan exactly, and q_scan_warc's closed-form oracle
    // applies verbatim. Spark's unified model doing real work: one
    // decode function, two execution modes, one hash.
    QueryDef(
      "q_stream_warc_ingest",
      (s, _) => {
        EventStreams.runBinaryAvailableNowAppend(
            s, graft.sources.Warc.warcIngestDir,
            df => graft.sources.Warc.decodeSegments(s)(df),
            "stream_warc_ingest")
          .select(col("record_id"), col("url"), col("warc_date"),
            col("http_status"), col("content_type"), col("text"),
            col("n_bytes"))
          .orderBy(col("record_id"))
      },
      Some(SourceQueries.warcScanOracleSql)),

    // Streaming link DISCOVERY — the frontier-feeding half of the
    // crawl loop, streaming like the dedup-ingest half: WARC segments
    // land as a binaryFile stream, each micro-batch cracks its pages
    // and extracts + resolves their outgoing links (stateless per-row
    // work — no watermark, no state store), appending the frontier
    // candidates a scheduler consumes. The oracle replays the whole
    // extraction from the restated fixture bodies, so the STREAMING
    // execution mode is hash-checked against the same closed form as
    // the batch q_warc_links.
    QueryDef(
      "q_stream_warc_links",
      (s, _) => {
        EventStreams.runBinaryAvailableNowAppend(
            s, graft.sources.Warc.warcLinksIngestDir,
            df => graft.sources.Links.resolved(
              graft.sources.Warc.decodeSegments(s)(df)
                .select(col("url"), col("text").as("html"))),
            "stream_warc_links")
          .orderBy(col("page_url"), col("link_url"), col("anchor"))
      },
      Some(s"""WITH pages(url, html) AS (VALUES
             |  ${graft.sources.Warc.linksOracleValuesSql}),
             |${graft.sources.Links.linksExtractCtesSql}
             |SELECT page_url, link_url, anchor FROM linkrows
             |ORDER BY page_url, link_url, anchor""".stripMargin)),

    // CONTINUOUS media-manifest ingest: crawled MP3 files land as a
    // binaryFile stream (a live crawler writing media files) and the
    // SAME header walk as the batch q_multimodal_mp3_meta runs per
    // micro-batch — stateless per-file work, no watermark, no state
    // store, so the stream must equal the batch manifest exactly and
    // ONE oracle covers both execution modes (the q_stream_warc_ingest
    // discipline). The staged files are byte-identical to the
    // in-memory fixture (shared synthMp3Bytes closed forms), ids
    // recovered from filenames like the image-ingest path.
    QueryDef(
      "q_stream_media_manifest",
      (s, _) => {
        EventStreams.runBinaryAvailableNowAppend(
            s, graft.llm.Multimodal.mp3IngestDir,
            df => graft.llm.Multimodal.mp3Meta(
              df.select(
                regexp_extract(col("path"), "mp3_(\\d+)\\.mp3$", 1)
                  .cast("long").as("media_id"),
                col("content"))),
            "stream_media_manifest")
          .orderBy(col("media_id"))
      },
      Some(ExtensionQueries.mp3MetaOracleSql)),

    // CONTINUOUS Avro ingest — the container-format trio's streaming
    // read side (WARC segments and media blobs already stream): Avro
    // containers land as a binaryFile stream (an upstream system
    // dropping interchange files) and each micro-batch's blobs decode
    // through the same framing/quarantine rules as the batch scan,
    // under the schema fixed at PLAN time from the landing dir
    // (AvroIo.schemaJsonOf — a stream cannot discover its schema per
    // batch). Stateless per-file work; the stream must equal the
    // batch rows exactly, so ONE oracle covers both execution modes
    // (the q_stream_warc_ingest discipline).
    QueryDef(
      "q_stream_avro_ingest",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .filter(col("doc_id") < 60)
        val tmp = graft.core.Fs.scratchRoot
        val land = s"$tmp/graft_avro_stream_land"
        if (!new java.io.File(s"$land/_STAGED").exists()) {
          graft.sources.AvroIo.writeAvro(docs, land, numFiles = 3)
          new java.io.FileOutputStream(
            new java.io.File(s"$land/_STAGED")).close()
        }
        val schemaJson = graft.sources.AvroIo.schemaJsonOf(s, land)
        EventStreams.runBinaryAvailableNowAppend(s, land,
            df => graft.sources.AvroIo.decodeBlobs(
              df.filter(col("path").endsWith(".avro")), schemaJson),
            "stream_avro_ingest")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents WHERE doc_id < 60
             |ORDER BY doc_id""".stripMargin)),

    // CONTINUOUS Arrow ingest — completes the container quartet's
    // streaming read side (WARC, Avro, WebDataset already stream):
    // finished IPC files land as a binaryFile stream and each
    // micro-batch's blobs decode under the schema fixed at PLAN time
    // (ArrowIo.schemaJsonOf), with the batch scan's footer/quarantine
    // rules. Stateless, so ONE oracle covers stream ≡ batch.
    QueryDef(
      "q_stream_arrow_ingest",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .filter(col("doc_id") < 60)
        val tmp = graft.core.Fs.scratchRoot
        val land = s"$tmp/graft_arrow_stream_land"
        if (!new java.io.File(s"$land/_STAGED").exists()) {
          graft.sources.ArrowIo.writeArrow(docs, land, numFiles = 3)
          new java.io.FileOutputStream(
            new java.io.File(s"$land/_STAGED")).close()
        }
        val schemaJson = graft.sources.ArrowIo.schemaJsonOf(s, land)
        EventStreams.runBinaryAvailableNowAppend(s, land,
            df => graft.sources.ArrowIo.decodeBlobs(
              df.filter(col("path").endsWith(".arrow")), schemaJson),
            "stream_arrow_ingest")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents WHERE doc_id < 60
             |ORDER BY doc_id""".stripMargin)),

    // CONTINUOUS WebDataset ingest — the read direction of the shard
    // boundary (publishing below is the write direction): shards land
    // as a binaryFile stream (a partner dropping training shards) and
    // each micro-batch's blobs crack through the same USTAR
    // framing/quarantine rules as the batch block walk. Stateless, so
    // the stream must equal the batch reader exactly — the roundtrip
    // oracle covers both execution modes.
    QueryDef(
      "q_stream_webdataset_ingest",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .filter(col("doc_id") < 60)
        def key = concat(lit("doc"),
          lpad(col("doc_id").cast("string"), 5, "0"))
        val members = docs.select(key.as("sample_key"),
            lit("txt").as("ext"), col("text").cast("binary").as("data"))
          .unionByName(docs.select(key.as("sample_key"),
            lit("meta.json").as("ext"),
            concat(lit("{\"id\":"), col("doc_id"),
              lit(",\"source\":\""), col("source"), lit("\"}"))
              .cast("binary").as("data")))
        val land = s"${graft.core.Fs.scratchRoot}/graft_wds_stream_land"
        if (!new java.io.File(s"$land/_STAGED").exists()) {
          graft.sources.WebDataset.writeShards(members, land,
            numShards = 3)
          new java.io.FileOutputStream(
            new java.io.File(s"$land/_STAGED")).close()
        }
        EventStreams.runBinaryAvailableNowAppend(s, land,
            df => graft.sources.WebDataset.decodeShardBlobs(
                df.filter(col("path").endsWith(".tar")))
              .select(col("sample_key"), col("ext"), col("n_bytes"),
                md5(col("data")).as("content_md5")),
            "stream_wds_ingest")
          .orderBy(col("sample_key"), col("ext"))
      },
      Some("""WITH m AS (
             |  SELECT 'doc' || lpad(CAST(doc_id AS VARCHAR), 5, '0')
             |      AS sample_key,
             |    'txt' AS ext, text AS payload
             |  FROM documents WHERE doc_id < 60
             |  UNION ALL
             |  SELECT 'doc' || lpad(CAST(doc_id AS VARCHAR), 5, '0'),
             |    'meta.json',
             |    '{"id":' || doc_id || ',"source":"' || source || '"}'
             |  FROM documents WHERE doc_id < 60)
             |SELECT sample_key, ext,
             |  CAST(octet_length(encode(payload)) AS BIGINT) AS n_bytes,
             |  md5(payload) AS content_md5
             |FROM m ORDER BY sample_key, ext""".stripMargin)),

    // CONTINUOUS WebDataset publishing — the write-side mirror of the
    // ingest streams: sample-member rows arrive as a parquet stream
    // (one file per trigger → 3 micro-batches here) and every batch
    // lands as its own batch-keyed SEGMENT of tar shards; the batch
    // reader then cracks ALL segments recursively. The published
    // member set must equal the batch writer's (one oracle covers the
    // roundtrip exactly as q_webdataset_roundtrip — how rows were
    // batched across segments must be invisible). Fresh per-JVM
    // scratch dirs per run; restart idempotency (same batch → same
    // segment, rewrite-in-place) is spec territory.
    QueryDef(
      "q_stream_webdataset_publish",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .filter(col("doc_id") < 60)
        def key = concat(lit("doc"),
          lpad(col("doc_id").cast("string"), 5, "0"))
        val members = docs.select(key.as("sample_key"),
            lit("txt").as("ext"), col("text").cast("binary").as("data"))
          .unionByName(docs.select(key.as("sample_key"),
            lit("meta.json").as("ext"),
            concat(lit("{\"id\":"), col("doc_id"),
              lit(",\"source\":\""), col("source"), lit("\"}"))
              .cast("binary").as("data")))
        val root = graft.core.Fs.scratchRoot
        val in = s"$root/wds_pub_in"
        val out = s"$root/wds_pub_out"
        val cp = s"$root/wds_pub_cp"
        graft.core.Fs.deleteTree(out); graft.core.Fs.deleteTree(cp)
        members.repartition(3).write.mode("overwrite").parquet(in)
        EventStreams.runWebDatasetPublishLoop(s, in, out,
          shardsPerBatch = 2, cp)
        graft.sources.WebDataset.readSamples(s, out)
          .select(col("sample_key"), col("ext"), col("n_bytes"),
            md5(col("data")).as("content_md5"))
          .orderBy(col("sample_key"), col("ext"))
      },
      Some("""WITH m AS (
             |  SELECT 'doc' || lpad(CAST(doc_id AS VARCHAR), 5, '0')
             |      AS sample_key,
             |    'txt' AS ext, text AS payload
             |  FROM documents WHERE doc_id < 60
             |  UNION ALL
             |  SELECT 'doc' || lpad(CAST(doc_id AS VARCHAR), 5, '0'),
             |    'meta.json',
             |    '{"id":' || doc_id || ',"source":"' || source || '"}'
             |  FROM documents WHERE doc_id < 60)
             |SELECT sample_key, ext,
             |  CAST(octet_length(encode(payload)) AS BIGINT) AS n_bytes,
             |  md5(payload) AS content_md5
             |FROM m ORDER BY sample_key, ext""".stripMargin)),
  )
}
