package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.{Manifest, SidecarFs, Stored}

/** Graph-based approximate nearest neighbours — the published family the
  * IVF/PQ tier deliberately left out, re-expressed in its batch-appropriate
  * form: a k-NN GRAPH built by NN-Descent (Dong, Moses & Li, WWW 2011) and
  * queried by bounded greedy BEAM SEARCH (the HNSW-family search rule,
  * Malkov & Yashunin 2016, restricted to a fixed step budget — an index
  * walk, not an online insert loop, which is the shape a batch engine can
  * actually execute and replay).
  *
  * Everything is EXACT-INTEGER so the whole construction unrolls into
  * bit-identical DuckDB CTEs (the pagerankExact discipline):
  *
  *  - vectors quantize per-vector to int codes `floor(x*127/m + 0.5)` with
  *    `m = max(|x_i|)` (the q_embed_quantize rule: max is order-independent
  *    and exact, so codes are bit-identical across engines — a sum-based
  *    norm would not be);
  *  - similarity is the exact integer key
  *    `sign(dot) * (dot^2 * 1e6 div (n2_a * n2_b))` — micro-units of
  *    cos^2 with the sign of cos, monotone in cosine over the quantized
  *    vectors, computed entirely in BIGINT (dim 64: dot <= 64*127^2 ~ 1.0e6,
  *    dot^2*1e6 ~ 1.1e18 < 2^63; n2 products ~ 1.1e12 — no overflow);
  *  - "randomness" (init ring order, search entry point) is md5-hash
  *    derandomized (the seededWalks discipline): unbiased w.r.t. content,
  *    rerun-stable, replayable where executor RNG never could be.
  *
  * Scale design: NN-Descent is THE batch construction for k-NN graphs —
  * per round only (src, dst) id pairs move through the candidate shuffle
  * (codes join back per distinct pair, the Similarity discipline), and the
  * reverse-neighbour cap bounds per-node candidates at (2k)^2 regardless of
  * hub in-degree (the published sampling parameter rho, made deterministic:
  * keep the k best reverse edges instead of a random sample). Total
  * candidate volume is O(n * k^2) per round — linear in the corpus. Beam
  * search scores |queries| * beam * k pairs per step — independent of
  * corpus size, which is the whole point of a graph index.
  */
object GraphAnn {

  /** Largest dimensionality the exact BIGINT sim key can carry without
    * overflow: dot ≤ dim·127², and `dot²·1e6` must stay below 2⁶³ —
    * dot ≤ ⌊√(2⁶³/10⁶)⌋ = 3 037 000, so dim ≤ 3 037 000/127² = 188.
    * Production embeddings above this (e.g. 768-dim) belong on the
    * IVF / IVF-PQ tier, whose integer discipline scales per-subspace;
    * admitting them here would abort the whole build at runtime under
    * ANSI overflow checking instead of refusing up front. */
  private[llm] val MaxDim = 188

  /** Exact int8 quantization of an embedding column: (id, codes, n2)
    * where codes[i] = floor(x_i * 127 / max_j |x_j| + 0.5) (all-zero
    * vector => all-zero codes) and n2 = sum codes^2 (exact BIGINT).
    * Codes are `array<tinyint>` — values fit a signed byte by
    * construction, and byte arrays are ~6× smaller than double arrays
    * through a shuffle, which is what keeps the candidate joins'
    * exchanges bounded when the codes table outgrows a broadcast
    * (measured on the ScaleCheck k×-vectors axis). */
  private[llm] def quantized(embeddings: DataFrame, vecCol: String,
                             idCol: String): DataFrame = {
    val x0 = col(vecCol).cast("array<double>")
    // per-row guard, fused into the projection (zero extra passes): the
    // overflow bound is a data property, so it must hold row-by-row.
    // NULL vectors pass through untouched (they quantize to null codes
    // and sort below everything, as before the guard) — size(NULL) is
    // NULL, and the otherwise branch would turn them into an opaque
    // raise_error(NULL) crash
    val x = when(x0.isNull || size(x0) <= MaxDim, x0)
      .otherwise(raise_error(concat(
        lit("graph-ann: vector dim "), size(x0).cast("string"),
        lit(s" exceeds $MaxDim — the exact integer sim key (dot^2*1e6) " +
          "would overflow BIGINT; use the IVF/IVF-PQ tier for " +
          "high-dimensional embeddings"))))
    val m = array_max(transform(x, v => abs(v)))
    val codes = when(m === 0, transform(x, _ => lit(0.0)))
      .otherwise(transform(x, v => floor(v * lit(127.0) / m + lit(0.5))))
      .cast("array<tinyint>")
    embeddings
      .select(col(idCol).as("id"), codes.as("codes"))
      .withColumn("n2", dotI8(col("codes"), col("codes")))
  }

  /** Exact integer dot over int8 code arrays — a native codegen'd
    * expression (graft.functions.DotProductI8Expr). */
  private def dotI8(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProductI8(a, b)

  /** The exact integer similarity key over quantized vectors (see object
    * doc). Zero-norm vectors compare below every real key (-1000001 <
    * -1e6, the minimum of the signed micro-cos^2 range). */
  private[llm] def simKey(d: Column, n2a: Column, n2b: Column): Column =
    when(n2a === 0 || n2b === 0, lit(-1000001L))
      .otherwise(
        when(d < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("(d2 * 1000000L) div nprod"))

  /** Attach the sim key to an (src, dst) id-pair frame: codes join back per
    * pair (only ids travelled through the candidate shuffle), dot through
    * the codegen'd expression, key in exact BIGINT. */
  private def scorePairs(pairs: DataFrame, codes: DataFrame): DataFrame =
    // NOTE (r16): a shuffle_hash hint on the codes sides was tried
    // under the graph-sweep telemetry pattern and MEASURED WORSE at
    // 10× (31.1 s vs 21.0 — the wide int8-code rows make a heavy hash
    // build, and the pair set arrives pre-exchanged for the window
    // that follows): reverted, measured-don't-guess both ways.
    // JOIN ORDER (r16, guide §2.4): dst side first, src side LAST — a
    // non-broadcast codes join re-partitions the pair stream by its
    // join key, so ending on the src join leaves hash(src) exactly
    // where the caller's top-k window needs it (broadcast regime:
    // both joins preserve the incoming hash(src) partitioning and the
    // order is indifferent). Inner equi-joins commute — same rows.
    pairs
      .join(codes.select(col("id").as("dst"), col("codes").as("cb"),
        col("n2").as("nb")), "dst")
      .join(codes.select(col("id").as("src"), col("codes").as("ca"),
        col("n2").as("na")), "src")
      .withColumn("d", dotI8(col("ca"), col("cb")))
      .withColumn("d2", col("d") * col("d"))
      .withColumn("nprod", col("na") * col("nb"))
      .withColumn("sim_key", simKey(col("d"), col("na"), col("nb")))
      .select(col("src"), col("dst"), col("sim_key"))

  /** Deterministic dense ranks 0..n-1 in md5 order (the derandomized
    * "random permutation" behind the init ring): one distributed sort +
    * zipWithIndex. The rank of a row is its position in the TOTAL order
    * (md5(id || '|' || seed), id), so the result does not depend on where
    * range-partition boundaries fall. Runs once per build. */
  private[llm] def md5Ranks(ids: DataFrame, idCol: String,
                            seed: Long): DataFrame = {
    val spark = ids.sparkSession
    val sorted = ids.select(col(idCol).as("id"))
      .orderBy(md5(concat(col("id").cast("string"), lit(s"|$seed"))),
        col("id"))
    val schema = StructType(sorted.schema.fields)
      .add("r", LongType, nullable = false)
    // eager materialization (r16, guide §1/§5): the RDD-backed result
    // was consumed 3-4× per build (ring modulus count + both sides of
    // the init-ring join), and every consumer re-ran the distributed
    // sort AND zipWithIndex's size pass — the checkpoint makes the
    // sort run once. n (id, rank) rows — metadata-sized. Callers free
    // the blocks via the getPersistentRDDs diff ([[nnDescentGraph]]'s
    // pattern) once their downstream graph is checkpoint-materialized.
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (row, i) =>
        Row.fromSeq(row.toSeq :+ i)
      }, schema).localCheckpoint()
  }

  /** NN-Descent k-NN graph construction (Dong et al. 2011), hash-
    * derandomized: init each node's neighbour list with the k nodes that
    * follow it on the md5-ordered ring (the deterministic stand-in for the
    * paper's random init — unbiased w.r.t. content because md5 order is),
    * then for `rounds` iterations propose every neighbour-of-neighbour as
    * a candidate and keep each node's k best by (sim_key DESC, id ASC).
    * Reverse neighbour lists are capped at k per node by the same order
    * (the deterministic form of the paper's rho-sampling) so hub in-degree
    * can never blow the candidate volume past O(n * k^2) per round.
    *
    * Returns the directed graph (src, rk, dst, sim_key), k rows per node.
    */
  def nnDescentGraph(embeddings: DataFrame, k: Int, rounds: Int,
                     seed: Long = 42L,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val spark = embeddings.sparkSession
    // eager lineage-free materialization of the descent input:
    // quantization runs ONCE and an evicted block is READ BACK from
    // disk, never recomputed — per-round re-quantization under
    // late-run memory pressure was the most plausible mechanism for
    // the bimodal 7.9 s ↔ 26.8 s driver-bench history of
    // q_sim_nndescent (r15 VERDICT #1). The checkpoint blocks are
    // RDD-level state that neither Caches.release nor clearCache
    // touches, so they are freed EXPLICITLY once the (itself
    // checkpoint-materialized) graph no longer depends on them (r16
    // review: an unfreed copy per call lingered until ContextCleaner).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val codes = quantized(embeddings, vecCol, idCol).localCheckpoint()
    val ckptIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    try nnDescentFromCodes(codes, k, rounds, seed, idCol)
    finally ckptIds.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
  }

  /** [[nnDescentGraph]] body over an ALREADY-quantized (id, codes, n2)
    * frame — the entry point the index write and the measured rebuild
    * share (a persisted index stores codes, never the raw embeddings,
    * so a rebuild must not need them back).
    *
    * INPUT-STABILITY CONTRACT: the loop scans `codes` every round, so
    * the caller must pass a frame whose per-scan cost cannot silently
    * change — file-backed parquet (the index write and the rebuild
    * both read the codes TIER they just wrote) or an eager
    * `localCheckpoint` ([[nnDescentGraph]]). Exactly one materialized
    * copy stays alive (the r16 review caught a first cut checkpointing
    * INSIDE this method, double-holding the corpus under callers that
    * had already persisted it). The returned graph is
    * localCheckpoint-materialized. */
  private[llm] def nnDescentFromCodes(codes: DataFrame, k: Int,
                                      rounds: Int, seed: Long,
                                      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = codes.sparkSession
    // the ranked frame's checkpoint blocks are freed once the init
    // graph below is itself checkpoint-materialized (nothing later
    // reads the ring) — the nnDescentGraph explicit-release pattern
    val beforeRanked = spark.sparkContext.getPersistentRDDs.keySet
    val ranked = md5Ranks(codes.select(col("id").as(idCol)), idCol, seed)
    val rankedCkpt =
      spark.sparkContext.getPersistentRDDs.keySet -- beforeRanked
    // one driver Long (the HITS "one Long" budget): the ring modulus
    val n = ranked.count()
    require(n > 0, "nnDescentGraph over an empty corpus")
    val wTop = Window.partitionBy(col("src"))
      .orderBy(col("sim_key").desc, col("dst"))
    // (src,dst) pair dedup EXCHANGE DISCIPLINE (guide §2.4, r16): the
    // natural `.distinct()` exchanges by hash(src,dst), and the top-k
    // window that follows scoring then re-exchanges by hash(src) — two
    // shuffles of the round's biggest stream. Repartitioning by src
    // FIRST lets ONE exchange serve both: hash(src) co-locates equal
    // (src,dst) rows, so the dedup aggregate runs exchange-free on top
    // of it, the scoring joins preserve the partitioning, and the
    // window's ClusteredDistribution(src) is already satisfied. Same
    // rows, one exchange instead of two.
    def dedupBySrc(pairs: DataFrame): DataFrame =
      pairs.repartition(col("src")).distinct()
    val initPairs = ranked.select(col("id").as("src"), col("r"))
      .withColumn("j", explode(sequence(lit(1), lit(k))))
      .withColumn("r2", (col("r") + col("j")) % lit(n))
      .join(ranked.select(col("id").as("dst"), col("r").as("r2")), "r2")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    val preInit = spark.sparkContext.getPersistentRDDs.keySet
    var b = scorePairs(dedupBySrc(initPairs), codes)
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("src"), col("rk"), col("dst"), col("sim_key"))
      .localCheckpoint()
    rankedCkpt.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    // each round's new checkpoint supersedes the previous one; freeing
    // the old blocks EXPLICITLY (not waiting for ContextCleaner GC)
    // keeps at most one round of graph state resident (guide §5 —
    // persisted leftovers compete with execution memory, and the r15
    // nndescent variance was exactly late-run memory pressure)
    var bCkpt = spark.sparkContext.getPersistentRDDs.keySet -- preInit
    var i = 0
    while (i < rounds) {
      // ADJACENCY-LIST round form (guide §2.4, r16 — same candidate
      // SET as the edge-set form the oracle replays, three exchanges
      // per round instead of six):
      //   L(v) = fwd(v) ∪ revTop_k(v); cand = {(x,y): m∈L(x), y∈L(m)}.
      // The edge-set form paid hash(dst) for the reverse window,
      // hash(src,dst) for the nbrs distinct, hash(dst)+hash(src) for
      // the nbrs⋈nbrs middle join, and hash(src,dst) for the cand
      // distinct. Here: the reverse cap's window is the only hash(dst)
      // exchange and its groupBy reuses it; fwd lists group on b's
      // checkpoint-preserved hash(src) partitioning with NO exchange;
      // the fwd⋈rev list join is co-partitioned (exchange-free); the
      // middle join exchanges the exploded (x,m) edges by hash(m) once
      // against the already-node-keyed L; and the pair dedup runs on
      // one hash(src) exchange that the scoring joins and the top-k
      // window then reuse (dedupBySrc).
      val wRev = Window.partitionBy(col("src"))
        .orderBy(col("sim_key").desc, col("dst"))
      val rev = b
        .select(col("dst").as("src"), col("src").as("dst"), col("sim_key"))
        .withColumn("rr", row_number().over(wRev))
        .filter(col("rr") <= k)
        .groupBy(col("src")).agg(collect_list(col("dst")).as("rl"))
      val fwd = b.groupBy(col("src"))
        .agg(collect_list(col("dst")).as("fl"))
      // per-node neighbour list, both directions, deduped in-row — the
      // list union replaces the edge-set `nbrs.distinct()` exchange
      val nlists = fwd.join(rev, Seq("src"), "left")
        .select(col("src"),
          when(col("rl").isNull, col("fl"))
            .otherwise(array_union(col("fl"), col("rl"))).as("nl"))
      val cand = nlists
        .select(col("src"), explode(col("nl")).as("mid"))
        .join(nlists.withColumnRenamed("src", "mid"), "mid")
        .select(col("src"), explode(col("nl")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .unionByName(b.select(col("src"), col("dst")))
      val preB = spark.sparkContext.getPersistentRDDs.keySet
      b = scorePairs(dedupBySrc(cand), codes)
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= k)
        .select(col("src"), col("rk"), col("dst"), col("sim_key"))
        .localCheckpoint()
      val newB = spark.sparkContext.getPersistentRDDs.keySet -- preB
      bCkpt.foreach(id =>
        spark.sparkContext.getPersistentRDDs.get(id)
          .foreach(_.unpersist(blocking = false)))
      bCkpt = newB
      i += 1
    }
    b
  }

  /** Bounded greedy beam search over a k-NN graph (the HNSW-family query
    * rule in its batch form): all queries start at the SAME md5-argmin
    * entry node, each step expands the current beam's graph neighbours,
    * scores only the NEW candidates, and keeps the `beam` best visited per
    * query; after `steps` expansions the k best visited (excluding the
    * query itself) are the answer. Per step the scored volume is
    * |queries| * beam * k — independent of corpus size.
    *
    * Returns (query_id, rk, cand_id, sim_key).
    */
  def beamSearch(graph: DataFrame, corpus: DataFrame, queries: DataFrame,
                 k: Int, beam: Int, steps: Int, seed: Long = 42L,
                 vecCol: String = "embedding",
                 idCol: String = "vec_id"): DataFrame = {
    val codes = quantized(corpus, vecCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val entry = codes
      .orderBy(md5(concat(col("id").cast("string"), lit(s"|$seed"))),
        col("id"))
      .limit(1)
      .select(col("id").as("cand_id"))
    val out = beamSearchCore(codes, graph, entry,
      quantized(queries, vecCol, idCol), k, beam, steps)
    codes.unpersist(blocking = false)
    out
  }

  /** The search body shared by the in-memory and indexed paths: `codes`
    * is the quantized corpus (id, codes, n2), `entryDf` one (cand_id)
    * row, `qCodes` the quantized queries. */
  private def beamSearchCore(codesIn: DataFrame, graph: DataFrame,
                             entryDf: DataFrame, qCodes: DataFrame,
                             k: Int, beam: Int, steps: Int): DataFrame = {
    require(k >= 1 && beam >= 1 && steps >= 0,
      s"k/beam/steps must be positive, got $k/$beam/$steps")
    val codes = codesIn.persist(StorageLevel.MEMORY_AND_DISK)
    val edges = graph.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val entry = entryDf
    val q = qCodes
      .select(col("id").as("query_id"), col("codes").as("qc"),
        col("n2").as("qn2"))
    // score a (query_id, cand_id) frame against the corpus codes
    def score(pairs: DataFrame): DataFrame =
      pairs
        .join(broadcast(q), "query_id")
        .join(codes.select(col("id").as("cand_id"), col("codes").as("cb"),
          col("n2").as("nb")), "cand_id")
        .withColumn("d", dotI8(col("qc"), col("cb")))
        .withColumn("d2", col("d") * col("d"))
        .withColumn("nprod", col("qn2") * col("nb"))
        .withColumn("sim_key", simKey(col("d"), col("qn2"), col("nb")))
        .select(col("query_id"), col("cand_id"), col("sim_key"))
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_key").desc, col("cand_id"))
    var visited = score(q.select(col("query_id")).crossJoin(broadcast(entry)))
      .localCheckpoint()
    var t = 0
    while (t < steps) {
      val frontier = visited
        .withColumn("rk", row_number().over(wBeam))
        .filter(col("rk") <= beam)
        .select(col("query_id"), col("cand_id"))
      // one hash(query_id) exchange serves the dedup AND the anti-join
      // (the nnDescentFromCodes dedupBySrc discipline, guide §2.4):
      // hash(query_id) co-locates equal (query_id, cand_id) rows, so
      // the distinct aggregates one-phase on top of the repartition and
      // the anti-join's clustering requirement is already satisfied —
      // the natural `.distinct()` exchanged by hash(query_id, cand_id)
      // and the anti-join then re-exchanged BOTH sides
      val expand = frontier
        .join(edges.withColumnRenamed("src", "cand_id"), "cand_id")
        .select(col("query_id"), col("dst").as("cand_id"))
        .repartition(col("query_id"))
        .distinct()
        .join(visited.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_anti")
      visited = visited.unionByName(score(expand)).localCheckpoint()
      t += 1
    }
    codes.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    visited
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("rk", row_number().over(wBeam))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"), col("sim_key"))
  }

  /** Write the PERSISTED k-NN-graph index — the graph-ANN mirror of
    * [[Similarity.writeIvfIndex]]: production builds the graph ONCE
    * (NN-Descent is the expensive half) and every query batch pays only
    * the beam walk. Layout: `path/codes` is the quantized corpus (the
    * scoring payload — persisting it means a query batch never touches
    * the raw embeddings), `path/graph` the NN-Descent edges, `path/entry`
    * the one-row md5-argmin entry point (fixed at build time, so a later
    * append can extend the graph without moving the entry). Versioned
    * through [[IndexLifecycle]] like every other persisted index, and
    * every tier carries its schema record ([[graft.core.Stored]]). */
  def writeKnnGraphIndex(corpus: DataFrame, path: String, k: Int,
                         rounds: Int, seed: Long = 42L,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id"): Unit = {
    IndexLifecycle.reset(path)
    val spark = corpus.sparkSession
    // meta FIRST (r14 ADVICE: the old meta-last order left a crashed
    // build searchable but unmaintainable). seed/k/rounds are
    // derivation-free inputs; the shape counts are unknowable until the
    // data tiers land, so they ride a preliminary -1 row in the plain
    // dir that the final versioned meta write below atomically replaces
    // — a crash between the two leaves delete (seed present) working and
    // health reporting rebuild-pressure (unknown anchor ⇒ rebuild),
    // never a throw.
    Stored.write(graphMetaDf(spark, seed, k, rounds, -1L, -1L), s"$path/meta")
    // shape counts ride the tier writes as Observations (r16, guide
    // §1.4 discipline: zero extra passes) — the old read-back counts
    // were two additional jobs over files just written
    val obsCodes = org.apache.spark.sql.Observation("knn_graph_codes_n")
    Stored.write(quantized(corpus, vecCol, idCol)
      .observe(obsCodes, count(lit(1)).as("n")), s"$path/codes")
    // descend over the codes TIER just written: quantization still runs
    // exactly once (the write above), and the file-backed input is
    // eviction-immune with ZERO extra materialized copies — the
    // nnDescentFromCodes input-stability contract
    val codes = Stored.read(spark, s"$path/codes")
    val graph = nnDescentFromCodes(codes, k, rounds, seed, idCol)
    val obsGraph = org.apache.spark.sql.Observation("knn_graph_edges_n")
    Stored.write(graph.observe(obsGraph, count(lit(1)).as("n")),
      s"$path/graph")
    Stored.write(entryOf(codes, seed), s"$path/entry")
    // final meta with the build-time shape counts, published through
    // the versioned pointer (atomic replace of the preliminary row)
    IndexLifecycle.publishVersion(path, "meta", graphMetaDf(spark, seed, k,
      rounds, obsCodes.get("n").asInstanceOf[Long],
      obsGraph.get("n").asInstanceOf[Long]))
  }

  /** The one-row meta tier (seed, k, rounds, build_nodes, build_edges). */
  private def graphMetaDf(spark: SparkSession, seed: Long, k: Int,
                          rounds: Int, nNodes: Long, nEdges: Long): DataFrame = {
    import spark.implicits._
    Seq((seed, k, rounds, nNodes, nEdges))
      .toDF("seed", "k", "rounds", "build_nodes", "build_edges")
      .coalesce(1)
  }

  /** The one-row entry tier: the md5-argmin of `id|seed` over `codes` —
    * the build rule every maintenance pass re-derives an entry with. */
  private def entryOf(codes: DataFrame, seed: Long): DataFrame =
    codes
      .orderBy(md5(concat(col("id").cast("string"), lit(s"|$seed"))), col("id"))
      .limit(1)
      .select(col("id").as("cand_id"))
      .coalesce(1)

  /** The index's build-time meta row (seed, k, rounds, build_nodes,
    * build_edges), or None for an index that predates the meta tier or
    * whose build crashed before writing it — callers degrade loudly
    * (default seed / rebuild-pressure) instead of throwing, so such an
    * index stays maintainable (r14 ADVICE: the r14 shape broke
    * delete/health on every pre-meta index). */
  private[llm] def knnGraphMeta(spark: SparkSession,
                                snap: Manifest.Snapshot): Option[Row] = {
    val p = snap.resolve("meta")
    if (!SidecarFs.exists(p)) None
    else {
      val meta = Stored.collect(spark, p)
      require(meta.length == 1,
        s"malformed knn-graph index meta at $p")
      Some(meta.head)
    }
  }

  /** The build seed every maintenance pass re-derives entries with:
    * the meta tier's, or the documented [[writeKnnGraphIndex]] default
    * (42) with a loud warning for pre-meta indexes. */
  private def graphSeedOf(spark: SparkSession, snap: Manifest.Snapshot): Long =
    knnGraphMeta(spark, snap) match {
      case Some(m) => m.getAs[Long]("seed")
      case None =>
        System.err.println(s"[graft] knn-graph index at ${snap.root} has " +
          "no meta tier (pre-meta layout or crashed build): falling " +
          "back to the default build seed 42 — if the index was built " +
          "with a custom seed, rebuild it to restore the meta anchor")
        42L
    }

  /** APPEND new vectors to a persisted k-NN-graph index
    * ([[writeKnnGraphIndex]]) — the maintenance half, the HNSW insert
    * rule in batch form: each delta vector's neighbours come from a beam
    * search over the EXISTING graph (navigation graph frozen during the
    * search, the frozen-quantizer contract of [[Similarity.appendToIvfIndex]]),
    * its k best become its out-edges, and each TOUCHED existing node
    * re-ranks its edge list against the reverse candidates — HNSW's
    * bidirectional link-with-pruning, without which appended rows would
    * be unreachable (no in-edges means no walk ever arrives). The entry
    * point is unchanged (append never moves it — a rebuilt entry would
    * invalidate nothing but would force a full re-walk of golden
    * transcripts for zero recall gain).
    *
    * Writes: codes gain the delta by plain parquet append (add-only);
    * the graph — whose affected rows must be REPLACED, not appended —
    * rewrites into a fresh `graph_vN` dir published by one atomic
    * manifest-pointer write ([[IndexLifecycle.publishVersion]]),
    * so a concurrent reader keeps a consistent prior version. The
    * rewrite is one linear pass; the re-rank work is bounded by the
    * affected nodes (≤ |delta|·k), never the corpus. */
  def appendToKnnGraphIndex(delta: DataFrame, indexPath: String,
                            beam: Int = 8, steps: Int = 4,
                            vecCol: String = "embedding",
                            idCol: String = "vec_id"): Unit = {
    val spark = delta.sparkSession
    val snap = Manifest.snapshot(indexPath)
    val codes = Stored.read(spark, snap.resolve("codes"))
    val graph = Stored.read(spark, snap.resolve("graph"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val entry = Stored.read(spark, snap.resolve("entry"))
    // the index's k: from the meta tier (one KB-scale read); only a
    // pre-meta index pays the full-graph max-rank aggregate fallback
    val k = knnGraphMeta(spark, snap) match {
      case Some(m) => m.getAs[Int]("k")
      case None => graph.agg(max(col("rk"))).collect().head.getInt(0)
    }
    val dCodes = quantized(delta, vecCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nbrs = beamSearchCore(codes, graph, entry, dCodes, k, beam, steps)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wTop = Window.partitionBy(col("src"))
      .orderBy(col("sim_key").desc, col("dst"))
    val newOut = nbrs.select(col("query_id").as("src"), col("rk"),
      col("cand_id").as("dst"), col("sim_key"))
    // reverse candidates make the delta reachable; affected nodes
    // re-rank their lists against them (delta ids are fresh, so no
    // (src, dst) duplicates with existing edges are possible)
    val revCand = nbrs.select(col("cand_id").as("src"),
      col("query_id").as("dst"), col("sim_key"))
    val affected = revCand.select(col("src")).distinct()
    val reRanked = graph.join(affected, Seq("src"), "left_semi")
      .select(col("src"), col("dst"), col("sim_key"))
      .unionByName(revCand)
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("src"), col("rk"), col("dst"), col("sim_key"))
    val untouched = graph.join(affected, Seq("src"), "left_anti")
    IndexLifecycle.publishVersion(indexPath, "graph",
      untouched.unionByName(reRanked).unionByName(newOut))
    // add-only, with the tier's own encoder: the record stays valid
    dCodes.write.mode("append").parquet(snap.resolve("codes"))
    graph.unpersist(blocking = false)
    dCodes.unpersist(blocking = false)
    nbrs.unpersist(blocking = false)
  }

  /** Beam search against a PERSISTED k-NN-graph index
    * ([[writeKnnGraphIndex]]): the per-batch query path — reads the
    * stored codes/graph/entry, never the raw embeddings, and scores only
    * |queries| * beam * k candidates per step. Per step the plan is one
    * broadcast-hash join of the (tiny) expansion set against the codes
    * table — a columnar scan with zero shuffle; the per-query cost
    * amortizes across the batched query set, which is the batch-engine
    * form of the HNSW walk. */
  /** Delete vectors from a persisted k-NN-graph index — the graph
    * member of the takedown family ([[Similarity.deleteFromIvfIndex]]):
    * a deleted node must leave the CODES (or it still scores), its OWN
    * out-edges, AND every other node's edge LIST (a dangling dst would
    * keep routing walks toward — and surfacing — removed content).
    * Both per-document tiers rewrite via broadcast anti-joins (edges
    * drop when EITHER endpoint is deleted) in one maintenance pass
    * ([[IndexLifecycle.maintain]]); if the entry point itself was
    * deleted, a new one is re-derived from the surviving codes by the
    * SAME md5-argmin rule —
    * the build seed comes from the index's own meta tier (the no-drift
    * rule every reader and maintainer follows), never from the caller.
    * Surviving nodes whose lists shrank keep their remaining edges —
    * the HNSW hard-delete trade-off: recall degrades gracefully with
    * deletion volume, and a heavily-deleted graph warrants a rebuild;
    * [[knnGraphIndexHealth]] makes that trigger measurable
    * (DESIGN.md §3). */
  def deleteFromKnnGraphIndex(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String, ids: DataFrame): Unit = {
    val snap = Manifest.snapshot(indexPath)
    val seed = graphSeedOf(spark, snap)
    IndexLifecycle.maintain(spark, snap, Some(ids)) { p =>
      val survivors = p.except(p.read("codes"), "id")
        .persist(StorageLevel.MEMORY_AND_DISK)
      p.write("codes", survivors)
      p.write("graph", p.except(p.except(p.read("graph"), "src"), "dst"))
      val entryIds = Stored.collect(spark, snap.resolve("entry"))
        .flatMap(r => Option(r.getAs[Any]("cand_id")).map(String.valueOf))
      if (p.deletesAny(entryIds)) p.write("entry", entryOf(survivors, seed))
      survivors.unpersist(blocking = false)
      true
    }
  }

  /** Operational HEALTH of a persisted k-NN-graph index — the metric
    * that makes the documented hard-delete trade-off operable
    * (DESIGN.md §3: "a heavily-deleted graph warrants a rebuild"):
    * without it, recall degradation after deletions is invisible until
    * queries start missing. Hard deletes remove edges whenever EITHER
    * endpoint is deleted, so surviving nodes' lists shrink and walks
    * lose routing options; the observable proxy is the SURVIVING MEAN
    * OUT-DEGREE versus its build-time value (both from the index's own
    * meta — deleting fraction f of nodes uniformly leaves ≈(1−f) of
    * each survivor's edges, so health_micro ≈ (1−f)·1e6):
    *
    *   health_micro = (edges/nodes) / (build_edges/build_nodes) · 1e6
    *
    * computed exactly from four counts (driver-side BigInt — no
    * overflow at any corpus size). `rebuild` trips when health falls
    * below `minHealthMicro` (default 800 000 = mean lists at 80% of
    * build — ≈20% net deletion, where beam recall measurably sags) OR
    * the entry point lost all out-edges (a disconnected entry stalls
    * every walk at step 0). Cost: two metadata-only counts and two
    * one-row lookups — cheap enough to run after every takedown batch.
    * Returns one row: (build_nodes, build_edges, nodes, edges,
    * health_micro, entry_connected, rebuild). */
  def knnGraphIndexHealth(spark: SparkSession, indexPath: String,
                          minHealthMicro: Long = 800000L): DataFrame = {
    import spark.implicits._
    val snap = Manifest.snapshot(indexPath)
    Seq(graphHealth(spark, snap, knnGraphMeta(spark, snap), minHealthMicro))
      .toDF("build_nodes", "build_edges", "nodes", "edges",
        "health_micro", "entry_connected", "rebuild")
  }

  /** Whether the codes and graph tiers exist: a build that crashed
    * between the preliminary meta and the data tiers left neither. */
  private def hasDataTiers(snap: Manifest.Snapshot): Boolean =
    SidecarFs.exists(snap.resolve("codes")) &&
      SidecarFs.exists(snap.resolve("graph"))

  /** [[knnGraphIndexHealth]]'s row from the call's snapshot and its
    * already-read meta. */
  private def graphHealth(spark: SparkSession, snap: Manifest.Snapshot,
                          meta: Option[Row], minHealthMicro: Long)
      : (Long, Long, Long, Long, Long, Boolean, Boolean) = {
    require(minHealthMicro >= 0, "minHealthMicro must be >= 0")
    // no meta tier (pre-meta layout) or preliminary -1 counts (a build
    // that crashed between meta and the final count write): the anchor
    // is unknown, which is itself rebuild-pressure — report it
    // (health -1, rebuild) rather than throw (r14 ADVICE)
    val buildNodes = meta.map(_.getAs[Long]("build_nodes")).getOrElse(-1L)
    val buildEdges = meta.map(_.getAs[Long]("build_edges")).getOrElse(-1L)
    // a build that crashed between the preliminary meta and the data
    // tiers left no codes/graph to measure: report (-1, rebuild) — the
    // same report-never-crash degrade as the unknown anchor, and the
    // actuator's tier check turns the trip into a reported no-op
    if (!hasDataTiers(snap))
      return (buildNodes, buildEdges, -1L, -1L, -1L, false, true)
    val codes = Stored.read(spark, snap.resolve("codes"))
    val graph = Stored.read(spark, snap.resolve("graph"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nNodes = codes.count()
    val nEdges = graph.count()
    // a FULLY-deleted index has an empty entry tier — exactly the
    // total-takedown state the gauge must report (health 0, rebuild),
    // never crash on
    val entryP = snap.resolve("entry")
    // entry is written AFTER codes/graph: a crash in that window leaves
    // it missing — same degrade as an empty entry (disconnected ⇒
    // rebuild-pressure), never a throw
    val entryId =
      if (!SidecarFs.exists(entryP)) None
      else Stored.collect(spark, entryP)
        .headOption.map(_.getAs[Long]("cand_id"))
    val entryConnected = entryId.exists(id =>
      graph.filter(col("src") === id).limit(1).count() > 0)
    graph.unpersist(blocking = false)
    val healthMicro =
      if (buildNodes < 0 || buildEdges < 0) -1L // unknown anchor
      else if (nNodes == 0 || buildEdges == 0) 0L
      else (BigInt(nEdges) * buildNodes * 1000000L /
        (BigInt(nNodes) * buildEdges)).toLong
    val rebuild = healthMicro < minHealthMicro || !entryConnected
    (buildNodes, buildEdges, nNodes, nEdges, healthMicro, entryConnected,
      rebuild)
  }

  /** Close the measured-rebuild loop for the graph index
    * ([[knnGraphIndexHealth]] is the gauge, this is the ACTUATOR — the
    * graph mirror of [[Similarity.rebuildIvfIndexIfDrifted]]): when the
    * health gauge trips (shrunken edge lists after hard deletes, a
    * disconnected entry, or a lost/preliminary meta anchor), re-run
    * NN-Descent over the SURVIVING stored codes (pending tombstones
    * folded out — a logically-deleted vector must not re-enter the
    * graph), re-derive the entry by the build rule, and publish codes +
    * graph + entry + meta in ONE maintenance pass
    * ([[IndexLifecycle.maintain]]). The new meta's anchor is the rebuilt
    * shape, so health returns to ≈1e6 by construction. No trip ⇒
    * strictly a no-op (nothing written, manifest untouched —
    * spec-pinned).
    *
    * Build parameters come from the index's own meta; a pre-meta index
    * rebuilds with k inferred from the stored graph's rank column,
    * the default seed (42), and 6 NN-Descent rounds (the documented
    * convergence budget) — and the rebuild RESTORES the meta tier, so
    * the fallback fires at most once per index.
    *
    * Cost: one NN-Descent build over the surviving codes — the same as
    * the original build over the current corpus, the floor for any
    * graph rebuild. Single maintenance writer; tombstones consumed.
    *
    * Returns one row: the PRE-rebuild gauge plus `rebuilt`. */
  def rebuildKnnGraphIndexIfUnhealthy(spark: SparkSession,
                                      indexPath: String,
                                      minHealthMicro: Long = 800000L)
      : DataFrame = {
    import spark.implicits._
    val snap = Manifest.snapshot(indexPath)
    val meta = knnGraphMeta(spark, snap) // the gauge's and the rebuild's
    val (buildNodes, buildEdges, nodes, edges, health, entryConnected, trip) =
      graphHealth(spark, snap, meta, minHealthMicro)
    // meta-first write discipline means a build that crashed between
    // the preliminary meta and the data tiers leaves rebuild-pressure
    // with nothing to rebuild FROM — report, never crash mid-maintenance
    // (r15 advice; the Similarity actuators apply the same rule)
    val rebuilt = trip && hasDataTiers(snap) &&
      IndexLifecycle.maintain(spark, snap) { p =>
        val seed = meta.map(_.getAs[Long]("seed")).getOrElse(42L)
        val k = meta.map(_.getAs[Int]("k")).getOrElse(
          // pre-meta index: infer k from the stored ranks; an EMPTY graph
          // tier (everything hard-deleted) aggregates to null — default,
          // don't NPE (the r15 review's finding)
          Option(p.read("graph").agg(max(col("rk"))).collect().head.get(0))
            .map(_.asInstanceOf[Int]).getOrElse(16))
        val rounds = meta.map(_.getAs[Int]("rounds")).getOrElse(6)
        // materialize the survivors ONCE as the new (unpublished) codes
        // version, then build everything downstream from that dir — the
        // anti-join runs once, and graph/entry/counts read parquet
        val survivors = Stored.read(spark,
            p.write("codes", p.except(p.read("codes"), "id")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // a fully-deleted index has nothing to descend over: report
        // no-op rather than crash mid-maintenance (the health gauge
        // documents this exact state as report-never-crash); the
        // unpublished empty codes_vN is swept by the next publish
        try {
          val nNodes = survivors.count()
          nNodes > 0L && {
            val obsGraph = org.apache.spark.sql.Observation(
              s"knn_rebuild_edges_${java.util.UUID.randomUUID()}")
            p.write("graph", nnDescentFromCodes(survivors, k, rounds, seed)
              .observe(obsGraph, count(lit(1)).as("n")))
            p.write("entry", entryOf(survivors, seed))
            p.write("meta", graphMetaDf(spark, seed, k, rounds, nNodes,
              obsGraph.get("n").asInstanceOf[Long]))
            true
          }
        } finally survivors.unpersist(blocking = false)
      }
    Seq((buildNodes, buildEdges, nodes, edges, health, entryConnected, trip,
        rebuilt))
      .toDF("build_nodes", "build_edges", "nodes", "edges",
        "health_micro", "entry_connected", "rebuild", "rebuilt")
  }

  def searchKnnGraphIndexed(queries: DataFrame, indexPath: String,
                            k: Int, beam: Int, steps: Int,
                            vecCol: String = "embedding",
                            idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    val snap = Manifest.snapshot(indexPath)
    val codes = Stored.read(spark, snap.resolve("codes"))
    val graph = Stored.read(spark, snap.resolve("graph"))
    val entry = Stored.read(spark, snap.resolve("entry"))
    val raw = beamSearchCore(codes, graph, entry,
      quantized(queries, vecCol, idCol), k, beam, steps)
    // tombstoned nodes (takedown during live ingest) still ROUTE — the
    // walk keeps their edges until the hard delete rewrites the graph —
    // but must never SURFACE: filter the answer set and re-rank. The
    // structural cleanup (and tombstone consumption) is
    // deleteFromKnnGraphIndex's; knnGraphIndexHealth stays the
    // rebuild-pressure gauge.
    val tombstoned = Dedup.pendingTombstones(spark, indexPath)
    if (tombstoned.isEmpty) raw
    else Dedup.exceptTombstoned(raw, "cand_id", tombstoned)
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("sim_key").desc, col("cand_id"))))
      .select(raw.columns.map(col).toIndexedSeq: _*)
  }
}
