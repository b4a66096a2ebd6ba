package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.queries.Tables

/** Batch-equivalence tests for the Structured Streaming operators
  * (SURVEY.md §7.4 risk 7): AvailableNow over the static events parquet
  * must equal the batch formulation once all data is processed. */
class StreamingSpec extends SparkSpec {

  test("tumbling streaming agg equals batch window agg") {
    val streamed = EventStreams.runAvailableNow(
      spark, s"$sfDir/events.parquet",
      df => EventStreams.tumblingAgg(df), "spec_tumbling")
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_v"))
      .select(col("w.start").as("ws"), col("event_type"), col("cnt"), col("sum_v"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming parquet file sink + foreachBatch both deliver every row") {
    val events = Tables.load(spark, sfDir, "events")
    val staged = s"/root/repo/target/tmp/spec_sink_${System.nanoTime()}"
    events.write.mode("overwrite").parquet(s"$staged/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$staged/in")

    // parquet file sink (append) — the durable streaming sink path
    val q1 = EventStreams.dedupWithinWatermark(stream).writeStream
      .format("parquet")
      .option("path", s"$staged/out")
      .option("checkpointLocation", s"$staged/ckpt1")
      .trigger(Trigger.AvailableNow())
      .start()
    q1.awaitTermination()
    val sunk = spark.read.parquet(s"$staged/out")
    assert(sunk.count() == events.dropDuplicates("event_id").count())

    // foreachBatch — the programmable sink path
    val counter = new java.util.concurrent.atomic.AtomicLong()
    val q2 = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        counter.addAndGet(batch.count()): Unit
      }
      .option("checkpointLocation", s"$staged/ckpt2")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(counter.get() == events.count())
  }

  test("checkpoint resume: second run processes only new files, exactly once") {
    // The incremental-recompute story for streams (parallel of task
    // pickup): a restarted query resumes from the checkpoint, processes
    // only files that arrived since, and never duplicates earlier output.
    val events = Tables.load(spark, sfDir, "events")
    val base = s"/root/repo/target/tmp/spec_resume_${System.nanoTime()}"
    val (srcDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val half1 = events.filter(col("event_id") % 2 === 0)
    val half2 = events.filter(col("event_id") % 2 =!= 0)
    half1.write.parquet(s"$srcDir/a.parquet")

    def runOnce(): Unit = {
      val q = spark.readStream.schema(events.schema).parquet(s"$srcDir/*")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    runOnce() // processes half1
    assert(spark.read.parquet(outDir).count() == half1.count())

    half2.write.parquet(s"$srcDir/b.parquet")
    runOnce() // same checkpoint: must pick up ONLY b.parquet
    val out = spark.read.parquet(outDir)
    assert(out.count() == events.count()) // nothing duplicated, nothing lost
    assert(out.select("event_id").distinct().count() == events.count())
  }

  test("watermark drops data later than the closed window across restarts") {
    // The semantics the watermark exists for: once a window is finalized
    // (watermark passed its end), a straggler for it must be DROPPED, not
    // double-counted — including across a checkpoint restart, where the
    // watermark must be recovered from the commit log.
    import SparkSpec.spark.implicits._
    val base = s"/root/repo/target/tmp/spec_late_${System.nanoTime()}"
    val (srcDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq(ts("2024-01-01 10:15:00"), ts("2024-01-01 10:45:00"),
        ts("2024-01-01 11:30:00"), ts("2024-01-01 11:45:00"))
      .toDF("ts").write.parquet(s"$srcDir/a.parquet")

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("ts TIMESTAMP").parquet(s"$srcDir/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("ws"), col("cnt"))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    runOnce() // watermark ends at 11:35 → the [10, 11) window is final
    // straggler for the closed window + a fresh event that closes [11, 12)
    Seq(ts("2024-01-01 10:20:00"), ts("2024-01-01 13:00:00"))
      .toDF("ts").write.parquet(s"$srcDir/b.parquet")
    runOnce()
    val out = spark.read.parquet(outDir)
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    // the late 10:20 event must NOT appear: [10, 11) stays at 2
    assert(out("2024-01-01 10:00:00.0") == 2L,
      s"late straggler was counted: $out")
    assert(out("2024-01-01 11:00:00.0") == 2L)
  }

  test("restart with GROWN input keeps the checkpoint's frozen state " +
      "partition count; resizing requires a new checkpoint") {
    // The 100 TB deploy story made explicit: the stateful shuffle count
    // (input-sized at first run — see EventStreams.runWithMode) is
    // FROZEN into the checkpoint by Structured Streaming. A restart
    // against 10× input silently keeps the original count no matter
    // what spark.sql.shuffle.partitions says at restart — correct
    // results, but parallelism pinned at day-one sizing. Re-sizing
    // state means a NEW checkpoint (reprocess or offline state rewrite);
    // this spec pins that documented behavior so the deploy rule is
    // enforced, not folklore.
    import SparkSpec.spark.implicits._
    val base = s"/root/repo/target/tmp/spec_grow_${System.nanoTime()}"
    val (srcDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    (0 until 64).map(i => (i.toLong % 8,
        ts(f"2024-01-01 10:${i % 60}%02d:00")))
      .toDF("k", "ts").write.parquet(s"$srcDir/a.parquet")

    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    def runOnce(parts: Int): Unit = {
      spark.conf.set(key, parts.toString)
      try {
        val q = spark.readStream
          .schema("k BIGINT, ts TIMESTAMP").parquet(s"$srcDir/*")
          .withWatermark("ts", "10 minutes")
          .groupBy(col("k"))
          .agg(count(lit(1)).as("cnt"))
          .writeStream.format("memory").queryName("grow_restart")
          .outputMode("complete")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally spark.conf.set(key, saved)
    }

    def statePartitionDirs(): Set[String] = {
      val d = new java.io.File(s"$ckpt/state/0")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
        .map(_.getName).toSet
    }

    runOnce(parts = 4) // first run freezes 4 state partitions
    assert(statePartitionDirs() == Set("0", "1", "2", "3"))

    // grow the input 10× and restart with a BIGGER session setting: the
    // checkpoint wins — still exactly 4 state partitions, results exact
    (0 until 640).map(i => (i.toLong % 8,
        ts(f"2024-01-01 11:${i % 60}%02d:00")))
      .toDF("k", "ts").write.parquet(s"$srcDir/b.parquet")
    runOnce(parts = 32)
    assert(statePartitionDirs() == Set("0", "1", "2", "3"),
      s"state partition count changed: ${statePartitionDirs()}")
    val out = spark.table("grow_restart")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == (0L until 8L).map(k => k -> 88L).toMap, out)

    // a FRESH checkpoint under the bigger setting re-derives the count —
    // that (reprocessing) is the documented resize path
    val ckpt2 = s"$base/ckpt2"
    spark.conf.set(key, "8")
    try {
      val q = spark.readStream
        .schema("k BIGINT, ts TIMESTAMP").parquet(s"$srcDir/*")
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .writeStream.format("memory").queryName("grow_fresh")
        .outputMode("complete")
        .option("checkpointLocation", ckpt2)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set(key, saved)
    val d2 = new java.io.File(s"$ckpt2/state/0")
    val fresh = Option(d2.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit)).length
    assert(fresh == 8, s"fresh checkpoint should size to 8, got $fresh")
  }

  test("StateResize: reprocess into a new checkpoint at a new partition " +
      "count, state verified key-for-key; restart continues at the new " +
      "count with identical results") {
    import SparkSpec.spark.implicits._
    val base = s"/root/repo/target/tmp/spec_resize_${System.nanoTime()}"
    val (srcDir, ckptA, ckptB) = (s"$base/in", s"$base/ckptA", s"$base/ckptB")
    def write(name: String, n: Int, off: Int): Unit =
      (0 until n).map(i => ((i + off).toLong % 8, (i + off).toLong))
        .toDF("k", "v").write.parquet(s"$srcDir/$name.parquet")
    def runInto(ckpt: String, name: String): Unit = {
      val q = spark.readStream.schema("k BIGINT, v BIGINT")
        .parquet(s"$srcDir/*")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    // N=2 batches through the OLD checkpoint at count 4
    spark.conf.set(key, "4")
    try {
      write("a", 64, 0); runInto(ckptA, "resize_old1")
      write("b", 64, 64); runInto(ckptA, "resize_old2")
    } finally spark.conf.set(key, saved)
    assert(StateResize.statePartitionCount(ckptA) == 4)

    val report = StateResize.resize(spark, ckptA, ckptB, newPartitions = 8,
      (_, ck) => runInto(ck, "resize_rebuild"))
    assert(report.oldPartitions == 4 && report.newPartitions == 8, report)
    assert(report.stateKeys == 8, report)
    assert(report.matched,
      s"rebuilt state must match the old checkpoint key-for-key: $report")

    // new input arrives; the stream restarts against the NEW checkpoint
    // (under a session setting that would fight it — the frozen 8 wins)
    write("c", 64, 128)
    spark.conf.set(key, "2")
    try runInto(ckptB, "resize_cont")
    finally spark.conf.set(key, saved)
    assert(StateResize.statePartitionCount(ckptB) == 8,
      s"count must stay frozen at 8: ${StateResize.statePartitionCount(ckptB)}")
    val out = spark.table("resize_cont")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (0 until 192).map(i => (i.toLong % 8, i.toLong))
      .groupBy(_._1).map { case (k, xs) =>
        (k, xs.size.toLong, xs.map(_._2).sum) }.toSet
    assert(out == want, s"got $out want $want")
    // a resize into a USED checkpoint must refuse (count only writable
    // at first run)
    intercept[IllegalArgumentException] {
      StateResize.resize(spark, ckptA, ckptB, 16,
        (_, ck) => runInto(ck, "resize_refuse"))
    }
  }

  test("synthetic events source matches the testdata schema") {
    import graft.sources.SyntheticSources
    val synth = SyntheticSources.events(spark, 1000)
    val real = Tables.load(spark, sfDir, "events")
    assert(synth.schema.map(f => (f.name, f.dataType)) ==
      real.schema.map(f => (f.name, f.dataType)))
    assert(synth.count() == 1000)
    // deterministic: same seed → same content
    val again = SyntheticSources.events(spark, 1000)
    assert(synth.exceptAll(again).isEmpty)
  }

  test("transformWithState running totals equal batch groupBy at the end") {
    // Spark-4 typed-state API (ValueState + RocksDB store) — same
    // semantics as the flatMapGroupsWithState path, same ground truth
    val events = Tables.load(spark, sfDir, "events")
    val staged = s"/root/repo/target/tmp/spec_tws_${System.nanoTime()}"
    events.write.mode("overwrite").parquet(staged)
    val stream = spark.readStream.schema(events.schema).parquet(staged)
    EventStreams.withRocksDbStateStore(spark) {
      val q = EventStreams.statefulUserTotalsTws(stream).writeStream
        .format("memory").queryName("spec_tws")
        .outputMode("update")
        .option("checkpointLocation", s"$staged/_ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val finals = spark.table("spec_tws")
      .withColumn("rn", monotonically_increasing_id())
      .groupBy(col("user_id"))
      .agg(max(struct(col("rn"), col("n_events"), col("sum_value"))).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        round(col("s.sum_value"), 2).as("sum_value"))
    val batch = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    assert(finals.exceptAll(batch).isEmpty && batch.exceptAll(finals).isEmpty)
  }

  test("flatMapGroupsWithState running totals equal batch groupBy at the end") {
    // update-mode memory sink keeps every emitted row; the LAST row per
    // user is the final state — compare that against the batch aggregate
    val events = Tables.load(spark, sfDir, "events")
    val staged = s"/root/repo/target/tmp/spec_stateful_${System.nanoTime()}"
    events.write.mode("overwrite").parquet(staged)
    val stream = spark.readStream.schema(events.schema).parquet(staged)
    val q = EventStreams.statefulUserTotals(stream).writeStream
      .format("memory").queryName("spec_stateful")
      .outputMode("update")
      .option("checkpointLocation", s"$staged/_ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // one AvailableNow run may process several micro-batches; the memory
    // sink appends per batch — keep the last emission per user
    val finals = spark.table("spec_stateful")
      .withColumn("rn", monotonically_increasing_id())
      .groupBy(col("user_id"))
      .agg(max(struct(col("rn"), col("n_events"), col("sum_value"))).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        round(col("s.sum_value"), 2).as("sum_value"))
    val batch = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
    assert(finals.exceptAll(batch).isEmpty && batch.exceptAll(finals).isEmpty)
  }

  test("streaming indexed dedup is stateless and pair-equal to the batch " +
      "index reader") {
    import graft.llm.Dedup
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val history = docs.filter(col("doc_id") < 40)
    val batch = docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
      // plant a known twin so at least one match exists
      .unionByName(history.filter(col("doc_id") < 5)
        .select((col("doc_id") + 9000).as("doc_id"), col("text")))
    val root = s"/root/repo/target/tmp/spec_stream_idx_${System.nanoTime()}"
    Dedup.writeMinhashIndex(history, s"$root/idx", numHashes = 32,
      bands = 8, shingleSize = 5)
    batch.write.mode("overwrite").parquet(s"$root/batch")
    // the streaming transform must carry no stateful operator: no
    // watermark, no dedup, no aggregation — analyzed plan is state-free
    val streamDf = Dedup.streamingMinhashMatchesIndexed(
      spark.readStream.schema(batch.schema).parquet(s"$root/batch"),
      s"$root/idx")
    assert(streamDf.isStreaming)
    val planStr = streamDf.queryExecution.analyzed.toString
    assert(!planStr.contains("Deduplicate") && !planStr.contains("Aggregate"),
      "streaming path must stay stateless")
    val out = EventStreams.runParquetAvailableNowAppend(spark, s"$root/batch",
      st => Dedup.streamingMinhashMatchesIndexed(st, s"$root/idx"),
      "spec_stream_idx")
    val streamPairs = out
      .select(col("batch_id"), col("hist_id"), col("est_jaccard"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchPairs = Dedup
      .incrementalMinhashMatchesIndexed(batch, s"$root/idx")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamPairs == batchPairs)
    assert(streamPairs.exists { case (b, h, j) => b == h + 9000 && j >= 0.99 },
      "planted twin must match its history source")
  }

  test("closed ingest loop: kill/restart resumes at the first uncommitted " +
      "batch, equals the sequential batch loop, and re-delivery (with or " +
      "without the commit marker) never duplicates index rows") {
    import SparkSpec.spark.implicits._
    import graft.core.Manifest
    import graft.llm.Dedup
    // synthesized texts: distinct ids share no vocabulary, so the ONLY
    // possible matches are the planted exact twins
    def mk(ids: Seq[Long], twinOf: Map[Long, Long] = Map.empty) = ids
      .map { i =>
        val src = twinOf.getOrElse(i, i)
        (i, s"restart ingest document $src token${src * 31} " +
          s"token${src * 57} token${src * 91} closing words $src")
      }.toDF("doc_id", "text")
    val root = s"/root/repo/target/tmp/spec_ingest_${System.nanoTime()}"
    val streamIdx = s"$root/stream_idx"
    val batchIdx = s"$root/batch_idx"
    val history = mk(0L until 20L)
    for (idx <- Seq(streamIdx, batchIdx))
      Dedup.writeMinhashIndex(history, idx, numHashes = 32, bands = 8,
        shingleSize = 5)
    // batch 0: novel 100-119 + an exact twin of HISTORY doc 0
    val b0 = mk((100L until 120L) :+ 900000L, Map(900000L -> 0L))
    // batch 1: novel 200-219 + an exact twin of BATCH 0 survivor 100 —
    // filtered only if the loop appended batch 0 before batch 1 ran
    val b1 = mk((200L until 220L) :+ 910000L, Map(910000L -> 100L))
    val streamDir = s"$root/stream"
    val ckpt = s"$root/ckpt"
    def stage(df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
      val tmp = s"$streamDir/_st$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      val part =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
        } finally s.close()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(streamDir, s"batch_$i.parquet"))
      new java.io.File(s"$streamDir/batch_$i.parquet")
        .setLastModified(1700000000000L + i * 60000L)
      graft.core.Fs.deleteTree(tmp)
    }
    stage(b0, 0)
    // run 1 sees ONLY batch 0, then "dies" (AvailableNow drains + stops)
    EventStreams.runMinhashIngestLoop(spark, streamDir, streamIdx,
      threshold = 0.9999, checkpoint = ckpt)
    def sigIds(idx: String) = spark.read
      .parquet(Manifest.resolve(idx, "sigs"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(sigIds(streamIdx).toSet ==
      (0L until 20L).toSet ++ (100L until 120L).toSet,
      "batch 0 survivors must be appended, its history twin dropped")
    // batch 1 lands; the RESTART with the same checkpoint resumes there
    stage(b1, 1)
    EventStreams.runMinhashIngestLoop(spark, streamDir, streamIdx,
      threshold = 0.9999, checkpoint = ckpt)
    // sequential batch-loop reference over the same batches
    Dedup.ingestBatchIntoMinhashIndex(b0, batchIdx, "r0", 0.9999)
    Dedup.ingestBatchIntoMinhashIndex(b1, batchIdx, "r1", 0.9999)
    val expected = (0L until 20L) ++ (100L until 120L) ++ (200L until 220L)
    assert(sigIds(streamIdx).toSet == expected.toSet,
      "restarted stream must equal the full ingest")
    assert(sigIds(batchIdx).toSet == sigIds(streamIdx).toSet,
      "stream ≡ sequential batch loop")
    val rowsBefore = sigIds(streamIdx).length
    assert(rowsBefore == expected.length, "no duplicate signature rows")
    // re-delivery WITH the marker: a no-op
    val keys = new java.io.File(s"$streamIdx/ingest_commits").list().toSeq
    val lastKey = keys.sorted.last
    Dedup.ingestBatchIntoMinhashIndex(b1, streamIdx, lastKey, 0.9999)
    assert(sigIds(streamIdx).length == rowsBefore, "marker skip must no-op")
    // re-delivery WITHOUT the marker (crash in the append→marker
    // window): the batch-keyed file sets must REPLACE, not duplicate
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$streamIdx/ingest_commits/$lastKey"))
    Dedup.ingestBatchIntoMinhashIndex(b1, streamIdx, lastKey, 0.9999)
    assert(sigIds(streamIdx).length == rowsBefore,
      "keyed file sets must replace on re-delivery, never duplicate")
    assert(sigIds(streamIdx).toSet == expected.toSet)
  }

  test("embedding ingest loop (streaming SemDeDup): restart resumes, " +
      "twins of history AND of earlier survivors drop, re-delivery " +
      "never duplicates postings") {
    import SparkSpec.spark.implicits._
    import graft.core.Manifest
    import graft.llm.Similarity
    val rnd = new scala.util.Random(53)
    def unit() = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    // distinct random unit vectors: pairwise cos ≪ 0.999 with
    // overwhelming margin at d=64; twins are exact copies
    val history = (0L until 30L).map(i => (i, unit()))
    val novel0 = (100L until 115L).map(i => (i, unit()))
    val novel1 = (200L until 215L).map(i => (i, unit()))
    val b0 = (novel0 :+ (900000L, history.head._2)).toDF("vec_id", "embedding")
    val b1 = (novel1 :+ (910000L, novel0.head._2)).toDF("vec_id", "embedding")
    val root = s"/root/repo/target/tmp/spec_vecingest_${System.nanoTime()}"
    val idx = s"$root/idx"
    Similarity.writeIvfIndex(history.toDF("vec_id", "embedding"), idx,
      nlist = 4)
    val streamDir = s"$root/stream"
    def stage(df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
      val tmp = s"$streamDir/_st$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      val part =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
        } finally s.close()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(streamDir, s"batch_$i.parquet"))
      new java.io.File(s"$streamDir/batch_$i.parquet")
        .setLastModified(1700000000000L + i * 60000L)
      graft.core.Fs.deleteTree(tmp)
    }
    stage(b0, 0)
    val ckpt = s"$root/ckpt"
    EventStreams.runIvfIngestLoop(spark, streamDir, idx, minCos = 0.999,
      nprobe = 2, checkpoint = ckpt)
    def postedIds() = spark.read
      .parquet(Manifest.resolve(idx, "postings"))
      .select("cand_id").collect().map(_.getLong(0)).toSeq
    assert(postedIds().toSet ==
      (0L until 30L).toSet ++ (100L until 115L).toSet,
      "batch 0 survivors appended, its history twin dropped")
    stage(b1, 1)
    EventStreams.runIvfIngestLoop(spark, streamDir, idx, minCos = 0.999,
      nprobe = 2, checkpoint = ckpt) // restart: resumes at batch 1
    val expected = (0L until 30L) ++ (100L until 115L) ++ (200L until 215L)
    assert(postedIds().toSet == expected.toSet,
      "restart must process only batch 1; survivor twin must drop")
    val rowsBefore = postedIds().length
    assert(rowsBefore == expected.length, "no duplicate posting rows")
    // re-delivery without the marker: keyed file sets must replace
    val keys = new java.io.File(s"$idx/ingest_commits").list().toSeq
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$idx/ingest_commits/${keys.sorted.last}"))
    Similarity.ingestBatchIntoIvfIndex(b1, idx, keys.sorted.last,
      minCos = 0.999, nprobe = 2)
    assert(postedIds().length == rowsBefore,
      "re-delivery must replace keyed file sets, never duplicate")
    assert(postedIds().toSet == expected.toSet)
  }

  test("IVF-PQ ingest loop: restart resumes, twins of history AND of " +
      "earlier survivors drop, re-delivery never duplicates either tier, " +
      "compaction interlocks on uncommitted batches") {
    import SparkSpec.spark.implicits._
    import graft.core.Manifest
    import graft.llm.{Dedup, Similarity}
    val rnd = new scala.util.Random(59)
    def unit() = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val history = (0L until 30L).map(i => (i, unit()))
    val novel0 = (100L until 115L).map(i => (i, unit()))
    val novel1 = (200L until 215L).map(i => (i, unit()))
    val b0 = (novel0 :+ (900000L, history.head._2)).toDF("vec_id", "embedding")
    val b1 = (novel1 :+ (910000L, novel0.head._2)).toDF("vec_id", "embedding")
    val root = s"/root/repo/target/tmp/spec_pqingest_${System.nanoTime()}"
    val idx = s"$root/idx"
    Similarity.writeIvfPqIndex(history.toDF("vec_id", "embedding"), idx,
      nlist = 4, m = 8, ksub = 8)
    val streamDir = s"$root/stream"
    def stage(df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
      val tmp = s"$streamDir/_st$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      val part =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
        } finally s.close()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(streamDir, s"batch_$i.parquet"))
      new java.io.File(s"$streamDir/batch_$i.parquet")
        .setLastModified(1700000000000L + i * 60000L)
      graft.core.Fs.deleteTree(tmp)
    }
    stage(b0, 0)
    val ckpt = s"$root/ckpt"
    EventStreams.runIvfPqIngestLoop(spark, streamDir, idx, minCos = 0.999,
      nprobe = 2, checkpoint = ckpt)
    def tierIds(tier: String) = spark.read
      .parquet(Manifest.resolve(idx, tier))
      .select("cand_id").collect().map(_.getLong(0)).toSeq
    assert(tierIds("codes").toSet ==
      (0L until 30L).toSet ++ (100L until 115L).toSet,
      "batch 0 survivors appended to codes, its history twin dropped")
    stage(b1, 1)
    EventStreams.runIvfPqIngestLoop(spark, streamDir, idx, minCos = 0.999,
      nprobe = 2, checkpoint = ckpt) // restart: resumes at batch 1
    val expected = (0L until 30L) ++ (100L until 115L) ++ (200L until 215L)
    assert(tierIds("codes").toSet == expected.toSet,
      "restart must process only batch 1; survivor twin must drop")
    assert(tierIds("vectors").toSet == expected.toSet,
      "refine tier must track the codes tier")
    val codesBefore = tierIds("codes").length
    val vecsBefore = tierIds("vectors").length
    assert(codesBefore == expected.length && vecsBefore == expected.length)
    // simulate a crash AFTER an append, BEFORE its marker: keyed files
    // live with no marker → the compaction interlock must trip, and the
    // orphan purge must name exactly that batch
    Similarity.ingestBatchIntoIvfPqIndex(b1, idx, "crashkey",
      minCos = 0.999, nprobe = 2)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$idx/ingest_commits/crashkey"))
    intercept[IllegalArgumentException] {
      Similarity.compactIvfPqIndex(SparkSpec.spark, idx)
    }
    assert(Dedup.purgeOrphanedIngestBatches(idx) == Set("crashkey"))
    // re-delivery without the marker: keyed file sets replace BOTH tiers
    val keys = new java.io.File(s"$idx/ingest_commits").list().toSeq
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$idx/ingest_commits/${keys.sorted.last}"))
    Similarity.ingestBatchIntoIvfPqIndex(b1, idx, keys.sorted.last,
      minCos = 0.999, nprobe = 2)
    assert(tierIds("codes").length == codesBefore,
      "re-delivery must replace keyed code file sets, never duplicate")
    assert(tierIds("vectors").length == vecsBefore)
    assert(tierIds("codes").toSet == expected.toSet)
    // compaction consolidates both tiers and the reader output holds
    Similarity.compactIvfPqIndex(SparkSpec.spark, idx)
    assert(tierIds("codes").toSet == expected.toSet)
    val top = Similarity.ivfPqTopKIndexed(
      Seq((77L, novel0.head._2)).toDF("vec_id", "embedding"), idx,
      k = 1, nprobe = 4)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSet
    assert(top == Set((100L, 1.0)), s"planted twin must rank 1: $top")
  }

  test("WebDataset publish loop: batch-keyed segments, restart no-op, " +
    "incremental input lands only a new segment") {
    import SparkSpec.spark.implicits._
    val root = s"/root/repo/target/tmp/spec_wdspub_${System.nanoTime()}"
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"
    def members(lo: Int, hi: Int) = (lo until hi).flatMap(i => Seq(
      (f"s$i%04d", "txt", s"payload$i".getBytes("UTF-8")),
      (f"s$i%04d", "json", s"""{"i":$i}""".getBytes("UTF-8"))))
      .toDF("sample_key", "ext", "data")
    members(0, 6).repartition(2).write.parquet(in)
    EventStreams.runWebDatasetPublishLoop(spark, in, out,
      shardsPerBatch = 2, cp)
    def listing = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).toSeq.flatten.flatMap(f =>
          if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(out)).filter(_.getName.endsWith(".tar"))
        .map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    }
    val first = listing
    // 2 input files -> 2 batch-keyed segments, each <= 2 shards
    assert(first.map(_._1.split("/").dropRight(1).last).distinct.size == 2)
    def readBack = graft.sources.WebDataset.readSamples(spark, out)
      .select("sample_key", "ext").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val expect6 = (0 until 6).flatMap(i =>
      Seq((f"s$i%04d", "json"), (f"s$i%04d", "txt"))).sorted
    assert(readBack == expect6)
    // restart with the SAME checkpoint and no new input: a no-op — not
    // one shard file touched
    EventStreams.runWebDatasetPublishLoop(spark, in, out,
      shardsPerBatch = 2, cp)
    assert(listing == first)
    // one NEW input file: exactly one new segment, old ones untouched
    members(6, 8).coalesce(1).write.mode("append").parquet(in)
    EventStreams.runWebDatasetPublishLoop(spark, in, out,
      shardsPerBatch = 2, cp)
    val third = listing
    assert(third.filter(f => first.exists(_._1 == f._1)) == first,
      "existing segments were rewritten")
    assert(third.map(_._1.split("/").dropRight(1).last).distinct.size == 3)
    val expect8 = (0 until 8).flatMap(i =>
      Seq((f"s$i%04d", "json"), (f"s$i%04d", "txt"))).sorted
    assert(readBack == expect8)
  }
}
