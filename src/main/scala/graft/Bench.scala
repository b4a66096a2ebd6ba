package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries execute into the `noop` sink — unlike `count()`, that cannot let
  * Catalyst elide sorts/projections, so the measured plan is the plan a
  * user would actually run. One untimed warmup of the flagship query pays
  * JVM/codegen warmup once, not inside every measurement.
  */
object Bench {

  /** Headline set — mirrors the BASELINE.md bench table. */
  val headline: Seq[String] = Seq(
    "q1_pricing",        // scan+filter+hash agg (TPC-H Q1 shape)
    "q_join_multi",      // 5-way join, broadcast dims
    "q_join_left",       // outer join + agg
    "q_topk_per_group",  // window rank
    "q_window_frames",   // running frames
    "q_events_session",  // session windows
    "q_dedup_exact",     // hash dedup
    "q_dedup_minhash",   // minhash+LSH banding
    "q_sim_topk",        // brute-force cosine top-k
    "q_text_stats",      // per-row text analysis
    // round-5 extension — the heaviest round-3/4 additions, added so the
    // driver bench sees regressions in the most expensive new operators
    // (first numbers recorded in BASELINE.md as their own frozen budget)
    "q_sim_ivfpq",       // IVF-PQ ANN (two k-means trainers + ADC scan)
    "q_bm25",            // BM25 ranking (tokenize + postings join)
    "q_dedup_spans",     // repeated-span detection (shingle agg + window)
    "q_stream_chained_agg", // two-level streaming agg, RocksDB state
    // round-5 data-selection additions (own frozen budget in BASELINE.md)
    "q_importance_dsir", // DSIR hashed-unigram importance weights
    "q_ccnet_buckets",   // per-language LM-score terciles
    // round-7 additions (own frozen budget in BASELINE.md): the heaviest
    // new operators — tokenizer training (iterative driver fixed point)
    // and the asymmetric batch-vs-history dedup join
    "q_bpe_learn",       // BPE merge training (8 rounds over word counts)
    "q_dedup_incremental", // new-batch bands × history signature index
    // round-8 additions (own frozen budget in BASELINE.md): the heaviest
    // unbenched round-7 operators, then the heaviest round-8 ones
    "q_temporal_join",   // as-of dimension join over SCD2 versions
    // NOTE: the video query ignores the sf dir (fixed 64-clip fixture
    // generated in-query, the only oracle-able form) — its budget guards
    // decode-path regressions at constant work; SCALING evidence for the
    // decode path is ScaleCheck's container-bytes row, which stages
    // fixtures outside the timed region
    "q_multimodal_video", // GVID demux + per-frame PNG decode
    "q_dedup_suffix",    // suffix-array variable-length duplicate spans
    "q_embed_covariance", // one-pass d(d+1)/2 pair-sum aggregate
    "q_boilerplate",     // per-source line frequency strip + rebuild
    "q_lm_bigram",       // interpolated bigram LM model + scoring join
    // round-9 addition (own frozen budget in BASELINE.md): the heaviest
    // operator previously outside the headline — the 8-sweep exact
    // pagerank fixpoint (iterative rank⋈degree joins + checkpoints)
    "q_graph_pagerank",  // exact-integer pagerank, 8 fixpoint sweeps
    // round-9 additions #2 (first frozen budgets in BASELINE.md): the
    // heaviest of the new index-lifecycle/streaming operators
    "q_stream_dedup_indexed", // streaming ingest vs persisted MinHash index
    "q_dedup_index_append",   // index write + delta append + probe
    "q_sim_ivf_index_append", // IVF write + frozen-quantizer append + probe
    // round-10 additions (first frozen budgets in BASELINE.md): the
    // heaviest round-9 operators still outside the headline
    "q_dedup_clusters_star",  // O(log n) large-star/small-star components
    "q_sim_ivf_indexed",      // IVF write + partition-pruned indexed query
    // round-11 additions (first frozen budgets in BASELINE.md): the
    // heaviest round-10 operators still outside the headline — both pay
    // their FULL lifecycle per run by stated contract (two-tier index
    // write + indexed query; index write + two streamed ingest batches)
    "q_sim_ivfpq_indexed",    // IVF-PQ two-tier write + ADC indexed query
    "q_stream_dedup_append",  // closed streaming ingest loop vs fresh index
    // round-11 additions #2 (first frozen budgets in BASELINE.md): the
    // heaviest of the late-round-11 operators — the LPA fixpoint and the
    // WordPiece pair's full-lifecycle representative (encode re-trains
    // the 8 merges per run: training caches are cleared between reps)
    "q_graph_labelprop",      // synchronous LPA, 4 integer-voting rounds
    "q_wordpiece_encode",     // WordPiece 8-merge train + segmented encode
    // round-11 additions #3 (first frozen budgets in BASELINE.md): the
    // graph pair over the dense co-purchase projection — the heaviest
    // operators of the round (the triangle wedge join alone generates
    // ~41M candidate rows at sf0.1)
    "q_graph_triangles",      // degree-oriented wedge join + closure
    "q_graph_kcore",          // 6 synchronous peel rounds, k=80
    "q_graph_trustrank",      // seed-biased integer pagerank, 8 sweeps
    // round-11 addition #5: the heaviest of the late-round graph ops
    // (q_graph_clustercoef stays off the headline — its cost IS the
    // already-budgeted triangle count plus one projection)
    "q_graph_hits",           // 4 two-direction integer HITS sweeps
    // round-11 addition #6 (first frozen budget in BASELINE.md): the
    // heaviest crawl/graph operator of the late round — capped wedge
    // self-join + pair aggregate over the customer⟷part graph (~12M
    // wedge rows at sf0.1); the crawl-fixture queries (links, robots,
    // linkrank) stay off the headline as fixture-sized constants
    "q_graph_linkpred",       // CN + resource-allocation link prediction
    // round-11 addition #7 (first frozen budget in BASELINE.md): 4
    // md5-argmin walk steps over the symmetrized purchase graph — one
    // frontier⋈edges join + per-start argmin per step
    "q_graph_walks",          // hash-derandomized DeepWalk sampling
    // round-12 additions (first frozen budgets in BASELINE.md): the
    // heaviest round-11 operators still outside the headline — the
    // streamed IVF-PQ ingest lifecycle (index write + AvailableNow
    // batches by contract) and the EM-trained unigram tokenizer (each
    // rep re-trains: invalidateTrained clears the memo)
    "q_stream_ivfpq_ingest",  // IVF-PQ index + streamed delta ingest
    "q_unigram_learn",        // unigram LM tokenizer, EM prune rounds
    // round-12 session-2 additions (first frozen budgets in BASELINE.md):
    // the graph-ANN tier — NN-Descent construction is the expensive half
    // (6 unrolled descent rounds, O(n·K²) candidates/round), and the
    // indexed query pays its FULL lifecycle per rep by the round-9
    // contract (fresh codes+graph+entry write, then the beam walk; the
    // light mining queries — hashed TF-IDF 1.0 s, margin pairs 0.4 s,
    // soft dedup 0.4 s — stay off the headline as sub-second shapes)
    "q_sim_nndescent",        // NN-Descent k-NN graph, K=16, 6 rounds
    "q_sim_graph_indexed",    // k-NN-graph index write + beam search
    "q_sim_graph_index_append", // graph index write + twin append + search
    // round-12 session-2 continuation (first frozen budgets in
    // BASELINE.md): the heaviest of the curation/eval additions — the
    // full-outer streaming join pays the whole AvailableNow lifecycle
    // per rep; entity resolution pays sort+rank, the window join, and
    // the CC rounds. The light ones (q_dedup_paragraphs 1.0 s,
    // q_eval_bleu 0.8 s, rest sub-second) stay off per policy; their
    // scale evidence is ScaleCheck's corpus/record-count rows
    "q_stream_join_full",     // stream-stream full outer, 2-side state
    "q_entity_resolution",    // sorted-neighborhood + levenshtein + CC
    // round-12 session-2 continuation #2 (first frozen budgets in
    // BASELINE.md): the heaviest of the metric/keyword additions — the
    // 6-n char-gram F-score and the co-occurrence-graph pagerank; the
    // rest of the tier measured 0.15-1.5 s and stays off per policy
    "q_eval_chrf",            // chrF2: char 1..6-gram clipped F, fp keys
    "q_text_textrank",        // pagerank over word co-occurrence graph
    // round-13 addition (first frozen budget in BASELINE.md): the
    // heaviest new operator — ANN-composed margin mining pays two IVF
    // trainings + both directions' cell-join k-NN per run; the light
    // round-13 ops (fuzzy paragraph dedup 1.2 s, WebDataset roundtrip
    // 0.2 s) stay off per the sub-2 s policy
    "q_sim_margin_ann",       // bidirectional IVF k-NN + margin tail
    // round-13 session-2 additions (first frozen budgets in
    // BASELINE.md): grid-DBSCAN pays its CC rounds per run; the four
    // takedown queries pay their FULL index lifecycle (write [+append]
    // + delete rewrite + probe) per rep by the round-9 contract; the
    // other session-2 ops measured 0.27-1.6 s and stay off per the
    // sub-2 s policy
    "q_cluster_density",      // eps-grid density clustering + CC
    "q_dedup_index_delete",   // MinHash write + anti-join rewrite + probe
    "q_sim_ivf_index_delete", // IVF write + postings rewrite + probe
    "q_sim_ivfpq_index_delete", // IVF-PQ two-tier delete rewrite + probe
    "q_sim_graph_index_delete", // graph build + append + delete + search
    // round-14 additions (first frozen budgets in BASELINE.md): the
    // takedown-during-live-ingest composition pays index write + a real
    // ingest batch + the tombstone + 60 probes per rep; the health
    // gauge pays the full NN-Descent build + a 40% takedown + two
    // health reads. The light round-14 ops (q_scan_avro_events 0.2 s)
    // stay off per the sub-2 s policy
    "q_dedup_takedown_live",  // MinHash ingest loop + tombstone + probes
    "q_sim_graph_health",     // graph build + heavy delete + health x2
    "q_sim_ivf_drift",        // IVF build + 2 appends + 3 drift scans
    // round-15 additions (first frozen budgets in BASELINE.md): the
    // measured-rebuild actuators pay their FULL lifecycle per rep —
    // IVF: index write + straddle append + probe + gauge + quantizer
    // RETRAIN + re-assignment rewrite + post gauge + post probe; graph:
    // NN-Descent build + takedown delete + RE-DESCENT over survivors +
    // health + beam search
    "q_sim_ivf_rebuild",      // drift trip -> retrain + atomic 3-tier swap
    "q_sim_graph_rebuild",    // health trip -> re-descent + 4-tier swap
    // round-16 addition (first frozen budget in BASELINE.md): the
    // IVF-PQ rebuild landed after r15's final headline run (deferral
    // precedent noted there); a rep pays the full two-tier lifecycle
    // TWICE — write + fresh no-op gauge + drifted append + tripped
    // gauge + BOTH quantizer tiers retrained + re-encode + 5-tier
    // atomic swap + post gauge + rank-1 twin probe
    "q_sim_ivfpq_rebuild",    // IVF-PQ drift trip -> 5-tier rebuild
    // round-17 addition (first frozen budget in BASELINE.md): the
    // MinHash compaction gauge/actuator entered the oracle set in r16
    // (its 376th query) without a bench cell — r16 VERDICT #4 mandates
    // the freeze so the newest maintenance actuator is
    // performance-visible. A rep pays index write + two appends + a
    // tombstone batch + pre gauge/probe + compaction rewrite + post
    // gauge/probe.
    "q_dedup_index_compact")  // backlog trip -> per-band compaction

  /** Frozen per-query budget measures (seconds) — BASELINE.md's freeze
    * tables made machine-readable (r15 VERDICT #3/#4: the in-run
    * sanity rule and the 10× ratio denominators both need the frozen
    * figures in code, not prose). Values are each query's FIRST frozen
    * measurement, superseded only by an explicitly recorded re-freeze
    * (q_graph_pagerank 7.28 → 6.11, BASELINE.md round-11 re-freeze);
    * the original 10 round-1 cells carry the round-7 restated
    * local[32] figures (BASELINE.md round-7 table, bar column ÷ 2).
    * The budget bar is max(2 × frozen, 2.0 s) — the round-13
    * sub-second floor. BenchSpec pins headline ⊆ frozenSec. */
  val frozenSec: Map[String, Double] = Map(
    "q1_pricing" -> 0.46, "q_join_multi" -> 1.30, "q_join_left" -> 0.675,
    "q_topk_per_group" -> 0.53, "q_window_frames" -> 0.435,
    "q_events_session" -> 1.065, "q_dedup_exact" -> 0.34,
    "q_dedup_minhash" -> 2.885, "q_sim_topk" -> 0.62,
    "q_text_stats" -> 0.285,
    "q_sim_ivfpq" -> 4.45, "q_bm25" -> 0.74, "q_dedup_spans" -> 0.73,
    "q_stream_chained_agg" -> 5.25, "q_importance_dsir" -> 0.34,
    "q_ccnet_buckets" -> 0.62, "q_bpe_learn" -> 1.75,
    "q_dedup_incremental" -> 0.82, "q_temporal_join" -> 0.41,
    "q_multimodal_video" -> 0.73, "q_dedup_suffix" -> 2.72,
    "q_embed_covariance" -> 1.91, "q_boilerplate" -> 0.82,
    "q_lm_bigram" -> 1.30, "q_graph_pagerank" -> 6.11,
    "q_stream_dedup_indexed" -> 10.84, "q_dedup_index_append" -> 3.37,
    "q_sim_ivf_index_append" -> 2.89, "q_dedup_clusters_star" -> 2.97,
    "q_sim_ivf_indexed" -> 2.51, "q_sim_ivfpq_indexed" -> 6.09,
    "q_stream_dedup_append" -> 9.86, "q_graph_labelprop" -> 3.87,
    "q_wordpiece_encode" -> 2.44, "q_graph_triangles" -> 8.54,
    "q_graph_kcore" -> 6.18, "q_graph_trustrank" -> 6.64,
    "q_graph_hits" -> 8.42, "q_graph_linkpred" -> 4.31,
    "q_graph_walks" -> 5.80, "q_stream_ivfpq_ingest" -> 9.51,
    "q_unigram_learn" -> 0.58, "q_sim_nndescent" -> 7.79,
    "q_sim_graph_indexed" -> 10.60, "q_sim_graph_index_append" -> 14.38,
    "q_stream_join_full" -> 3.33, "q_entity_resolution" -> 1.81,
    "q_eval_chrf" -> 3.33, "q_text_textrank" -> 3.63,
    "q_sim_margin_ann" -> 3.03, "q_cluster_density" -> 3.29,
    "q_dedup_index_delete" -> 2.57, "q_sim_ivf_index_delete" -> 2.76,
    "q_sim_ivfpq_index_delete" -> 6.75,
    "q_sim_graph_index_delete" -> 11.66,
    "q_dedup_takedown_live" -> 6.94, "q_sim_graph_health" -> 11.40,
    "q_sim_ivf_drift" -> 4.59, "q_sim_ivf_rebuild" -> 9.08,
    "q_sim_graph_rebuild" -> 8.87, "q_sim_ivfpq_rebuild" -> 13.54,
    "q_dedup_index_compact" -> 7.65)

  /** A query's budget bar: max(2 × frozen measure, 2.0 s) — the
    * round-13 sub-second-floor policy, in code. */
  def barSec(name: String): Option[Double] =
    frozenSec.get(name).map(f => math.max(2.0 * f, 2.0))

  /** Single-cell sanity rule (r15 VERDICT #3 — BENCH_r15 shipped
    * q_sim_nndescent at 3.4× its budget with no in-run signal): a
    * best-of-3 RAW figure over the query's own bar triggers ONE
    * automatic in-run re-measure, and BOTH numbers ship in the JSON
    * (`reruns` → {raw, rerun}), so a transient spike never stands as
    * the round's only record. Pure decision function — BenchSpec
    * plants a slowdown against it. */
  def cellNeedsRerun(name: String, rawSec: Double): Boolean =
    barSec(name).exists(rawSec > _)

  /** Fixed-work calibration probe: rows hashed per rep. The probe is
    * pure compute over `spark.range` — no I/O, no shuffle, one codegen'd
    * stage — so its runtime varies ONLY with how much of the machine the
    * bench actually gets. Rounds 5-7 each re-litigated 2-4× "regressions"
    * that turned out to be external machine load; the probe turns that
    * ambiguity into a number recorded next to the measurements. */
  val CalibrationRows = 4_000_000_000L

  /** Quiet-machine probe time (sec), frozen like the per-query budgets:
    * best-of-3 on an idle host (load avg < 0.3), 32 threads — see
    * BASELINE.md "Calibration". measured/frozen ≈ 1 on a quiet machine;
    * sustained external load pushes it up in proportion to how much the
    * same load inflates the per-query numbers. */
  val CalibrationFrozenSec = 0.54

  /** Fixed-work I/O calibration probe (r16 VERDICT #3): [[calibrate]]
    * is pure compute and provably blind to I/O/scheduler-shaped load —
    * BENCH_r16 read load_factor 1.024 while I/O-bound cells inflated
    * 25-60% and the same-morning 8-core run beat the 32-core one
    * outright. This probe writes a fixed ~30 MB INCOMPRESSIBLE parquet
    * dataset (xxhash64 column — compression cannot shrink the disk
    * bytes) to the scratch dir, reads it back through a full scan, and
    * deletes it; its runtime varies with disk/page-cache/commit
    * pressure, the component the compute probe cannot see. Reported
    * next to load_factor in BOTH JSON lines so the driver can flag
    * I/O-shaped noise the way load_factor flags CPU load. */
  val IoProbeRows = 2_000_000L

  /** Quiet-machine I/O probe time (sec), frozen like
    * [[CalibrationFrozenSec]] — best-of-3 on an idle host, 32 threads
    * (BASELINE.md "Calibration", round-17 row). */
  val IoProbeFrozenSec = 0.21

  /** One I/O probe measurement: best-of-2 of the fixed write + scan,
    * None when the probe fails (the bench reports `io_load_factor: null`
    * and goes on). The probe dir sits under the per-process scratch root
    * and is deleted whether or not the probe succeeds. */
  def calibrateIo(spark: SparkSession, cpus: Int): Option[Double] = {
    import org.apache.spark.sql.functions.expr
    val dir = s"${graft.core.Fs.scratchRoot}/bench_io_probe"
    try Some((1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, IoProbeRows, 1L, cpus)
        .select(expr("id"), expr("xxhash64(id)").as("h"))
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).agg(expr("bit_xor(h)"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min)
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] I/O probe failed: $e")
      None
    } finally
      try graft.core.Fs.deleteTree(dir)
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] I/O probe dir $dir not deleted: $e")
      }
  }

  /** One probe measurement: best-of-3 of the fixed work, on the same
    * thread pool the queries use. */
  def calibrate(spark: SparkSession, cpus: Int): Double = {
    import org.apache.spark.sql.functions.expr
    val reps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, CalibrationRows, 1L, cpus)
        .select(expr("xxhash64(id)").as("h"))
        .agg(expr("bit_xor(h)")) // overflow-free fold of all 4B hashes
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    reps.min
  }

  /** Per-query task-metric telemetry (r15 VERDICT #1): GC time, peak
    * per-task execution memory, spill bytes, and task count aggregated
    * over every task a query's reps ran, shipped per cell in the bench
    * JSON — so a cell-level anomaly (q_sim_nndescent's 26.8 s in
    * BENCH_r15, against three same-day in-budget builder runs) is
    * attributed in-run instead of adjudicated from prose afterwards. */
  final class TaskMetricsAgg extends org.apache.spark.scheduler.SparkListener {
    private val gc = new java.util.concurrent.atomic.AtomicLong
    private val spill = new java.util.concurrent.atomic.AtomicLong
    private val peak = new java.util.concurrent.atomic.AtomicLong
    private val tasks = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        gc.addAndGet(m.jvmGCTime)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        tasks.incrementAndGet()
        var p = peak.get()
        while (m.peakExecutionMemory > p &&
          !peak.compareAndSet(p, m.peakExecutionMemory)) p = peak.get()
      }
    }
    def reset(): Unit = { gc.set(0); spill.set(0); peak.set(0); tasks.set(0) }
    /** (gc_ms, peak_task_mem, spill_bytes, tasks) since reset. */
    def snapshot: (Long, Long, Long, Long) =
      (gc.get, peak.get, spill.get, tasks.get)
  }

  private final case class Cell(name: String, sec: Double, seg: Int,
                                rerun: Option[(Double, Double)], // (raw, rerun)
                                gcMs: Long, peakMem: Long,
                                spillBytes: Long, tasks: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val qs = SparkEntry.queries
    def exec(name: String): Unit =
      qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

    exec("q1_pricing") // warmup (JVM + codegen), untimed

    // INTERLEAVED load probes (round-13, replacing the two bookends):
    // a probe runs before the first query and after every SEGMENT of 10
    // queries, and each query normalizes by ITS segment's factor (mean of
    // the probes bracketing the segment). Bookends provably missed
    // mid-run load spikes — rounds 10-12 each burned a TimeOne
    // adjudication cycle on 1.5× "regressions" whose load arrived after
    // the start probe and left before the end one; a ≤10-query bracket
    // bounds how much external load can hide between probes.
    val SegmentLen = 10
    val segments = headline.grouped(SegmentLen).toSeq
    val probes = scala.collection.mutable.ArrayBuffer(
      calibrate(spark, cpus.toInt))
    // the I/O probe rides the same bracket points as the CPU probe (no
    // retry logic — sustained disk pressure is exactly what it reports)
    val ioProbes = scala.collection.mutable.ArrayBuffer(
      calibrateIo(spark, cpus.toInt))
    // Probe-pair sanity (round-14, the BENCH_r13 end-probe lesson: one
    // 3.963 s probe vs 0.54 frozen — factor 4.16 against 1.02-1.24
    // peers — would have DEFLATED a real 4x regression in its segment's
    // normalized figures). A probe disagreeing >2x with its bracketing
    // partner is discarded and re-run once; if the re-run still
    // disagrees, the probe stands (sustained load is real) but every
    // segment it brackets is marked suspect in the JSON, so a
    // normalized figure from a suspect segment is never trusted
    // silently.
    val probeRetries = scala.collection.mutable.ArrayBuffer.empty[Int]
    val probeSuspect = scala.collection.mutable.ArrayBuffer(false)
    def pairDisagrees(a: Double, b: Double): Boolean =
      a / b > 2.0 || b / a > 2.0
    def sanityProbe(): Unit = {
      val prev = probes.last
      var p = calibrate(spark, cpus.toInt)
      var retries = 0
      if (pairDisagrees(p, prev)) { // transient? discard, one re-run
        p = calibrate(spark, cpus.toInt)
        retries = 1
      }
      probes += p
      probeRetries += retries
      probeSuspect += pairDisagrees(p, prev)
      ioProbes += calibrateIo(spark, cpus.toInt)
    }

    val metricsAgg = new TaskMetricsAgg
    spark.sparkContext.addSparkListener(metricsAgg)
    def timedRep(name: String): Double = {
      // every rep pays BPE training: a memo hit would report the cost
      // of not training (see Tokenization.invalidateTrained)
      graft.llm.Tokenization.invalidateTrained()
      val t0 = System.nanoTime()
      try exec(name) catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e6
    }

    // best-of-3: a single rep occasionally catches a JIT/GC transient
    // (observed 10× outliers, and one whole run distorted by external
    // machine load); the min of three reps is the stable figure
    val results = segments.zipWithIndex.flatMap { case (seg, si) =>
      val segResults = seg.map { name =>
        org.apache.spark.graftshim.GraftSparkInternals
          .drainListenerBus(spark.sparkContext)
        metricsAgg.reset()
        val reps = (1 to 3).map(_ => timedRep(name))
        val raw = math.rint(reps.min) / 1e3
        // single-cell sanity (r15 VERDICT #3): one automatic in-run
        // re-measure when the raw best exceeds the query's own bar —
        // both numbers ship, and the reported figure is the best-of-4.
        // The bars are sf0.1-frozen, so the rule only applies on the
        // contract dir: at 10× every heavy cell trivially exceeds its
        // sf0.1 bar and the reruns would just re-pay the heaviest work
        // (observed: 12 misfires in the first r16 10× run)
        val budgetsApply = sfDir.replaceAll("/+$", "").endsWith("sf0.1")
        val rerun =
          if (budgetsApply && cellNeedsRerun(name, raw))
            Some(math.rint(timedRep(name)) / 1e3)
          else None
        // release persisted subtrees BETWEEN QUERIES, deliberately not
        // between reps: CacheManager dedups persists by canonicalized
        // plan, so reps 2-3 REUSE rep 1's cache (no duplicate memory),
        // and best-of-3 therefore measures the warm-cache steady state —
        // the semantics the frozen BASELINE.md budgets were measured
        // under. Releasing per-rep would re-pay every cache build 3× and
        // shift totals ~60% with zero plan change. Caches.release() also
        // drops the registry's plan references.
        graft.llm.Caches.release()
        spark.catalog.clearCache()
        org.apache.spark.graftshim.GraftSparkInternals
          .drainListenerBus(spark.sparkContext)
        val (gcMs, peakMem, spillB, nTasks) = metricsAgg.snapshot
        Cell(name, rerun.fold(raw)(math.min(raw, _)), si,
          rerun.map(r => (raw, r)), gcMs, peakMem, spillB, nTasks)
      }
      sanityProbe()
      segResults
    }

    // per-segment factor: mean of the probes bracketing the segment vs
    // the frozen quiet-machine probe time; the overall factor (mean of
    // ALL probes) is kept for run-level comparisons
    val segFactors = segments.indices.map(i =>
      (probes(i) + probes(i + 1)) / 2 / CalibrationFrozenSec)
    // a segment is suspect when either bracketing probe disagreed >2x
    // with ITS predecessor even after the re-run
    val suspectSegments = segments.indices
      .filter(i => probeSuspect(i) || probeSuspect(i + 1))
    val loadFactor = probes.sum / probes.length / CalibrationFrozenSec
    def r3(v: Double) = math.rint(v * 1000) / 1000
    // null when any I/O probe failed: a mean over the survivors would
    // hide the segments the failure left unbracketed
    val ioLoadFactor =
      if (ioProbes.forall(_.isDefined))
        r3(ioProbes.flatten.sum / ioProbes.length / IoProbeFrozenSec).toString
      else "null"

    val qjson = results.map(c => "\"" + c.name + "\":" + c.sec)
      .mkString("{", ",", "}")
    val njson = results
      .map(c => "\"" + c.name + "\":" + r3(c.sec / segFactors(c.seg)))
      .mkString("{", ",", "}")
    // single-cell sanity records: every over-bar cell's raw best-of-3
    // AND its automatic in-run re-measure (the reported figure above is
    // the best of the four)
    val rerunJson = results.flatMap(c => c.rerun.map { case (raw, rr) =>
      "\"" + c.name + "\":{\"raw\":" + raw + ",\"rerun\":" + rr + "}"
    }).mkString("{", ",", "}")
    // per-cell task metrics: GC ms, max per-task execution memory,
    // spilled bytes, task count over the cell's reps
    val tmJson = results.map(c =>
      "\"" + c.name + "\":{\"gc_ms\":" + c.gcMs +
        ",\"peak_task_mem\":" + c.peakMem +
        ",\"spill_bytes\":" + c.spillBytes +
        ",\"tasks\":" + c.tasks + "}")
      .mkString("{", ",", "}")
    val total = r3(results.map(_.sec).sum)
    val calib = s"""{"start_sec":${r3(probes.head)},"end_sec":${r3(probes.last)},""" +
      s""""frozen_sec":$CalibrationFrozenSec,"load_factor":${r3(loadFactor)},""" +
      s""""probe_sec":${probes.map(r3).mkString("[", ",", "]")},""" +
      s""""segment_factors":${segFactors.map(r3).mkString("[", ",", "]")},""" +
      s""""probe_retries":${probeRetries.mkString("[", ",", "]")},""" +
      s""""suspect_segments":${suspectSegments.mkString("[", ",", "]")},""" +
      s""""io_probe_sec":${ioProbes.map(_.fold("null")(r3(_).toString)).mkString("[", ",", "]")},""" +
      s""""io_frozen_sec":$IoProbeFrozenSec,""" +
      s""""io_load_factor":$ioLoadFactor}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qjson,"queries_normalized":$njson,""" +
      s""""reruns":$rerunJson,"task_metrics":$tmJson,""" +
      s""""calibration":$calib,"sf":"$sfDir"}"""
    // The driver records only the LAST 2000 stdout chars; round 11's
    // single full line outgrew that window and arrived front-truncated
    // (BENCH_r11.json parsed:null). Contract from here on: the full
    // JSON (incl. queries_normalized) goes to BENCH_LAST.json on disk,
    // the full line prints FIRST (human/file redundancy), and a COMPACT
    // line — queries + calibration only; normalized figures are
    // queries[k]/load_factor — prints LAST so the tail always ends with
    // one complete parseable JSON line.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"), full + "\n")
    println(full)
    // the COMPACT line stays queries + slim calibration ONLY: the
    // driver records the last 2000 stdout chars, and rerun/telemetry
    // entries appear exactly on the anomalous runs where
    // front-truncating this line would lose the whole record (the
    // BENCH_r11 lesson) — those fields, and the full probe/segment
    // arrays, live in the full line above and BENCH_LAST.json. At 61
    // queries the full-calibration form measured ~1900 chars — within
    // ~100 of the window; the slim form buys ~250 chars of headroom.
    val calibSlim =
      s"""{"frozen_sec":$CalibrationFrozenSec,""" +
      s""""load_factor":${r3(loadFactor)},""" +
      s""""io_load_factor":$ioLoadFactor,""" +
      s""""probe_retries":${probeRetries.mkString("[", ",", "]")},""" +
      s""""suspect_segments":${suspectSegments.mkString("[", ",", "]")}}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$qjson,"calibration":$calibSlim,"sf":"$sfDir"}""")
    spark.stop()
  }
}
