package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics for corpus curation: PageRank-style centrality is
  * the classic crawl-quality prior (rank the page graph, keep/upweight
  * documents from high-centrality hosts).
  *
  * Scale shape (same discipline as [[Dedup.connectedComponents]]): one
  * narrow (node, rank) shuffle join + hash aggregate per iteration; the
  * dangling-mass term stays IN-PLAN as a broadcast 1-row aggregate (no
  * driver collection of data); every iteration `localCheckpoint`s the rank
  * table so the plan stays O(1) instead of doubling per round. Driver
  * state is one Long (the node count).
  */
object Graphs {

  /** Data-derived shuffle width for a sweep's exchanges (guide §2.2/§2.4:
    * size shuffles to the data, not the core count). Every iterative
    * sweep here moves node-sized state — n rows of (node, long) — per
    * round, so a cores-derived `spark.sql.shuffle.partitions` spends
    * more wall-clock on task scheduling than on work once the state is
    * small relative to the cores (r16 scaling block: trustrank 6.95 s
    * at 32 cores vs 2.73 s at 8 — pure partition-count overhead; AQE
    * cannot coalesce these exchanges because every round's plan has a
    * `localCheckpoint` LogicalRDD leaf, which disables
    * CoalesceShufflePartitions). The width is estimated from the
    * optimizer's sizeInBytes of the edge input — file-backed scans
    * size accurately; a join-shaped input inflates the estimate, which
    * degrades to the session width (conservative, never
    * under-parallel) — and clamped to [1, spark.sql.shuffle.partitions],
    * so at production scale the data-derived count meets the cap and
    * the plan is today's. `graft.sweep.targetPartitionBytes`
    * parameterises the goal; the default is MEASURED, not the guide's
    * cluster-shuffle 100 MB+: each sweep round also COMPUTES O(m) rows
    * on the chosen width, so the target is the point where a second
    * task pays for itself on integer per-row work — 1 MB ≈ 60-100 k
    * edge rows (16 MB kept the sf0.1 win but measured +10-22% on the
    * pagerank family at the 10× bench, where it sized the 6 M-row
    * sweeps to 1-2 tasks; 1 MB restores ~full width there while sf0.1
    * still plans 1-2). kcore uses 16 MB (see
    * [[sweepPartitionsForRows]]): its round cost shrinks geometrically
    * after the first peel, and the wider target measured −32% at
    * sf0.1. */
  private[llm] def sweepPartitions(edgesDf: DataFrame,
                                   defaultTarget: Long = 1L << 20): Int = {
    val spark = edgesDf.sparkSession
    val target = spark.conf.getOption("graft.sweep.targetPartitionBytes")
      .map(_.toLong).getOrElse(defaultTarget)
    require(target > 0, s"targetPartitionBytes must be positive, got $target")
    val bytes = edgesDf.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = BigInt(spark.sessionState.conf.numShufflePartitions)
    ((bytes + target - 1) / target).min(cap).max(BigInt(1)).toInt
  }

  /** [[sweepPartitions]] from a MEASURED row count (the kcore path: its
    * edge input is a self-join whose optimizer estimate inflates
    * multiplicatively, but the deduped adjacency is checkpoint-
    * materialized before the rounds, so its true cardinality is one
    * cheap cached count away). 32 bytes ≈ one (long, long) unsafe row
    * with overhead. */
  private[llm] def sweepPartitionsForRows(spark: org.apache.spark.sql.SparkSession,
                                          rows: Long,
                                          defaultTarget: Long = 16L << 20): Int = {
    val target = spark.conf.getOption("graft.sweep.targetPartitionBytes")
      .map(_.toLong).getOrElse(defaultTarget)
    require(target > 0, s"targetPartitionBytes must be positive, got $target")
    val cap = BigInt(spark.sessionState.conf.numShufflePartitions)
    ((BigInt(rows) * 32 + target - 1) / target).min(cap).max(BigInt(1)).toInt
  }

  /** Run `body` with `spark.sql.shuffle.partitions` set to the sweep
    * width, restoring the caller's value after. Only the EAGER work
    * inside the body (the per-round checkpoints and counts) plans under
    * the sweep width; a lazily returned frame is planned later under
    * the caller's own conf, which is exactly right — the sweep state is
    * the thing that is node-sized, not the caller's downstream plan.
    *
    * Single-writer contract: the width is set on the SHARED session
    * conf, so while a sweep runs, the session must have no other writer
    * and no other planner — another thread's query on the same session
    * plans at the sweep width, and two overlapping sweeps restore each
    * other's value out of order. Run concurrent sweeps on separate
    * sessions (`spark.newSession()`). The contract holds for as long
    * as the width is applied through the session conf rather than by
    * partitioning the sweep's join sides explicitly. */
  private def withSweepWidth[T](spark: org.apache.spark.sql.SparkSession,
                                p: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, p.toString)
    try body finally spark.conf.set(key, saved)
  }

  /** Damped PageRank over a directed edge list `(src, dst)`; returns
    * (node, rank) with Σrank = 1 (dangling mass redistributed uniformly).
    * Duplicate edges are collapsed first (multi-edges would double-count
    * contributions); nodes appearing only as destinations still receive
    * the teleport + dangling terms.
    */
  def pagerank(edgesDf: DataFrame, iters: Int = 10,
               damping: Double = 0.85): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    withSweepWidth(edgesDf.sparkSession, sweepPartitions(edgesDf)) {
    // pre-partitioned by src: the once-per-sweep (edges ⋈ state) join
    // reuses this persisted partitioning, so the BIG side of the sweep
    // join never re-exchanges — only the n-row rank table moves
    val edges = edgesDf.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct()
    val n = nodes.count()
    require(n > 0, "pagerank over an empty graph")
    // out-degree per node; deg = 0 marks dangling nodes whose rank mass is
    // redistributed uniformly each sweep. deg rides IN the iterated state
    // (node, deg, rank) — folding the static degree table into the state
    // once removes the per-sweep rank⋈degree join (and its persist) an
    // earlier shape paid; each sweep is exactly one edge join, one
    // contribution aggregate, and one degree-table rejoin.
    val withDeg = nodes
      .join(edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var state = withDeg.withColumn("rank", lit(1.0 / n)).localCheckpoint()
    var i = 0
    while (i < iters) {
      val dangling = state.filter(col("deg") === 0)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dm"))
      val contribs = edges
        .join(state.filter(col("deg") > 0)
          .select(col("node").as("src"), col("rank"), col("deg"))
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("contrib"))
      state = withDeg
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("deg"),
          (lit((1.0 - damping) / n) + lit(damping)
            * (coalesce(col("contrib"), lit(0.0)) + col("dm") / n)).as("rank"))
        .localCheckpoint()
      i += 1
    }
    edges.unpersist(blocking = false)
    withDeg.unpersist(blocking = false)
    state.select(col("node"), col("rank"))
    }
  }

  /** Fixed-point integer PageRank — identical sweep structure to
    * [[pagerank]], but rank mass lives in integer `scale`-units and every
    * operation is exact BIGINT arithmetic (integer div for the per-edge
    * share, the dangling redistribution, and the damping ratio). Float
    * PageRank can never hash-match a second engine (per-node contribution
    * sums are order-dependent); this variant is bit-identical on ANY
    * engine that evaluates the same integer formula, which is what makes
    * q_graph_pagerank oracle-comparable. The floor divisions shed at most
    * one unit per node per sweep, so Σrank drifts low by ≤ iters·n units —
    * noise at scale=1e12 — and ranking quality is unaffected.
    *
    * rank'(v) = ((den−num)·scale) div (den·n)
    *          + (num · (Σ_{u→v} rank(u) div deg(u) + dm div n)) div den
    * where dm = Σ_{deg(u)=0} rank(u), num/den = damping (85/100).
    */
  def pagerankExact(edgesDf: DataFrame, iters: Int = 10,
                    dampingNum: Long = 85L, dampingDen: Long = 100L,
                    scale: Long = 1000000000000L): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    withSweepWidth(edgesDf.sparkSession, sweepPartitions(edgesDf)) {
    // same sweep shape as [[pagerank]]: src-partitioned persisted edges,
    // deg folded into the iterated (node, deg, rank) state
    val edges = edgesDf.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct()
    val n = nodes.count()
    require(n > 0, "pagerank over an empty graph")
    val withDeg = nodes
      .join(edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val teleport = (dampingDen - dampingNum) * scale / (dampingDen * n)
    var state = withDeg.withColumn("rank", lit(scale / n)).localCheckpoint()
    var i = 0
    while (i < iters) {
      val dangling = state.filter(col("deg") === 0)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
      val contribs = edges
        .join(state.filter(col("deg") > 0)
          .select(col("node").as("src"), col("rank"), col("deg"))
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("contrib"))
      state = withDeg
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("deg"),
          (lit(teleport) + expr(
            s"($dampingNum * (coalesce(contrib, 0L) + dm div $n)) div $dampingDen"
          )).as("rank"))
        .localCheckpoint()
      i += 1
    }
    edges.unpersist(blocking = false)
    withDeg.unpersist(blocking = false)
    state.select(col("node"), col("rank"))
    }
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007) over an edge list treated as UNDIRECTED — the other classic
    * curation prior next to centrality: communities in the co-purchase /
    * co-link graph drive domain-level sampling quotas the way
    * [[Dedup.connectedComponents]] drives dedup clusters, but at a finer
    * grain (LPA splits a connected component into densely-linked
    * sub-communities instead of fusing everything reachable).
    *
    * Determinism (what makes q_graph_labelprop oracle-comparable, where
    * the published ASYNCHRONOUS random-order variant never could be):
    * labels start as node ids; each round EVERY node simultaneously
    * takes the most frequent label among its neighbors PLUS ITS OWN
    * current label (the self-vote damps the two-coloring oscillation
    * synchronous LPA is known for on bipartite regions), ties broken to
    * the SMALLEST label. Vote counts are integers and the argmax is
    * (count DESC, label ASC) — every round is exact integer work, so a
    * fixed iteration count unrolls into bit-identical DuckDB CTEs (the
    * pagerankExact discipline).
    *
    * Scale shape (the [[pagerank]] sweep discipline): the symmetrized
    * edge list is deduplicated, pre-partitioned by the join side, and
    * persisted ONCE; each round is one (edges ⋈ labels) shuffle join in
    * which only the n-row label table moves, one (node, label) hash
    * aggregate, and one per-node max — no windows, no driver state
    * beyond the loop counter; `localCheckpoint` bounds the plan to one
    * round. */
  def labelPropagation(edgesDf: DataFrame, iters: Int = 4): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    // NO sweep-width narrowing here (r17, measured): unlike the
    // pagerank-family sweeps, each LPA round hash-aggregates ~2m vote
    // rows whose group count is edge-scale, not node-scale (partial
    // aggregation cannot compress (node, lbl) votes), so the round is
    // m-row COMPUTE, not state-exchange overhead — narrowing to the
    // byte-derived width serialized that work and measured 4.3→7.6 s
    // at sf0.1/local[32]
    // symmetrize + dedup; pre-partition by dst so the per-round
    // (adj ⋈ labels-on-dst) join never re-exchanges the big side
    val adj = edgesDf.select(col("src"), col("dst"))
      .unionByName(edgesDf.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var state = adj.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val votes = adj
        .join(state.select(col("node").as("dst"), col("lbl"))
          .hint("shuffle_hash"), "dst")
        .select(col("src").as("node"), col("lbl"))
        .unionByName(state.select(col("node"), col("lbl"))) // self-vote
        .groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("cv"))
      state = votes
        .groupBy(col("node"))
        .agg(max(struct(col("cv"), (-col("lbl")).as("negl"))).as("m"))
        .select(col("node"), (-col("m.negl")).as("lbl"))
        .localCheckpoint()
      i += 1
    }
    adj.unpersist(blocking = false)
    state.select(col("node"), col("lbl"))
  }

  /** Per-node triangle counts over an edge list treated as UNDIRECTED —
    * the third graph-curation prior next to centrality and communities:
    * triangle density separates organically-linked neighborhoods from
    * link-farm stars (a spam hub has huge degree but few triangles), and
    * (node, deg, triangles) is exactly the input of the local clustering
    * coefficient 2·t/(deg·(deg−1)).
    *
    * Scale shape — the published degree-orientation bound (Cohen 2009 /
    * Suri & Vassilvitskii 2011, the standard MapReduce formulation):
    * every undirected edge is oriented from its LOWER (deg, id) endpoint
    * to its higher one, so each triangle is generated exactly once, a
    * node's oriented out-degree is O(√m), and the wedge join produces
    * O(m^{3/2}) candidate rows TOTAL instead of Σdeg² — the difference
    * between a hub contributing deg² wedges and contributing none.
    * Three equi-joins end to end (never all-pairs): orient (edges ⋈ deg
    * twice), wedge (oriented ⋈ oriented on the shared source), close
    * (wedges ⋈ oriented on the (v,w) pair); per-node counts are one
    * explode + hash aggregate over confirmed triangles. All counting is
    * exact integers, so the result hash-matches any engine that
    * enumerates the same graph (q_graph_triangles replays it in DuckDB
    * via the canonical a<b<c form — orientation-independent ground
    * truth).
    *
    * Returns (node, deg, triangles) for every node of the symmetrized
    * simple graph (triangle-free nodes report 0). */
  def triangleCounts(edgesDf: DataFrame): DataFrame = {
    val und = edgesDf.select(col("src"), col("dst"))
      .unionByName(edgesDf.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // orient toward the higher (deg, id) endpoint; carry BOTH endpoint
    // degree keys so the wedge stage can apply the same total order to
    // its (v, w) pair without re-joining the degree table
    val oriented = und
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
      .filter(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"), col("dd").as("dv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges (u; v ≺ w) from a shared oriented source, then close the
    // (v, w) side against the oriented edge set — (v, w) is already in
    // orientation order because ≺ IS the orientation's total order
    val wedges = oriented.as("a")
      .join(oriented.as("b"), col("a.u") === col("b.u"))
      .filter(col("a.dv") < col("b.dv") ||
        (col("a.dv") === col("b.dv") && col("a.v") < col("b.v")))
      .select(col("a.u").as("u"), col("a.v").as("v"), col("b.v").as("w"))
    // SHUFFLED HASH join for the closure: the streamed side is the
    // wedge set (Θ(Σ d(u)²) rows — the dominant intermediate, ~410M at
    // the 10× bench), the build side the oriented edge set (m rows,
    // far smaller). Catalyst's default sort-merge SORTS the wedge
    // stream, which is where the 10× run's 77 GB of spill and 230 s
    // of GC went (r16 telemetry); hash-building the edge side instead
    // streams the wedges through unsorted — same exchange, no sort,
    // no wedge-sized spill.
    val tris = wedges
      .join(oriented.select(col("u").as("v"), col("v").as("w"))
        .hint("shuffle_hash"),
        Seq("v", "w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    // eager localCheckpoint severs lineage from the staged tables, so
    // releasing them cannot force a recompute under the caller's action
    val out = deg
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .localCheckpoint()
    Seq(und, deg, oriented, tris).foreach(_.unpersist(blocking = false))
    out
  }

  /** Rounds-bounded k-core peel over an edge list treated as UNDIRECTED:
    * repeatedly delete nodes of degree < k (with all incident edges) for
    * exactly `rounds` synchronous rounds, returning (node, deg) for the
    * survivors with their within-subgraph degrees. Once the peel reaches
    * its fixpoint — the k-core — further rounds are no-ops, so for any
    * `rounds` ≥ the graph's peel depth this IS the k-core (the
    * coreness/graph-mining standard for "densely embedded", the
    * complement of the link-farm signal [[triangleCounts]] measures);
    * below the peel depth it is the well-defined rounds-bounded peel,
    * which is what lets a FIXED unroll replay bit-identically in DuckDB
    * (the pagerankExact discipline — all-integer degrees, no floats).
    * GraphsSpec pins a fixture whose peel needs multiple cascading
    * rounds plus the no-op idempotence past the fixpoint.
    *
    * Scale shape: per round one hash aggregate (degrees), one
    * broadcast-resistant semi-join of the shrinking edge table against
    * surviving nodes on EACH endpoint, and a `localCheckpoint` that
    * bounds the plan while the edge set only ever shrinks — the peel is
    * monotone, so round cost decreases; no windows, no driver state
    * beyond the loop counter. */
  def kcore(edgesDf: DataFrame, k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds > 0, s"rounds must be positive, got $rounds")
    var adj = edgesDf.select(col("src"), col("dst"))
      .unionByName(edgesDf.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    // the input is a self-join whose optimizer size estimate inflates
    // multiplicatively, so the sweep width comes from the checkpointed
    // adjacency's TRUE cardinality (one cached count — the peel rounds
    // then run p-wide instead of cores-wide)
    val spark = edgesDf.sparkSession
    val p = sweepPartitionsForRows(spark, adj.count())
    withSweepWidth(spark, p) {
    var i = 0
    while (i < rounds) {
      val keep = adj.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
      adj = adj
        .join(keep.select(col("node").as("src")), "src")
        .join(keep.select(col("node").as("dst")), "dst")
        .select(col("src"), col("dst"))
        .localCheckpoint()
      i += 1
    }
    adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    }
  }

  /** Local clustering coefficient — the per-node ratio actually consumed
    * by link-spam classifiers (a link farm's hub has huge degree but a
    * near-zero coefficient, an organic community sits near 1):
    * cc(v) = 2·t(v) / (deg(v)·(deg(v)−1)), from [[triangleCounts]]'s
    * (node, deg, triangles). Reported in integer `scale`-units via one
    * BIGINT floor division — 2·t·scale div (deg·(deg−1)) — so the result
    * hash-matches any engine computing the same integers (a float ratio
    * would be bit-identical here too, but the integer form keeps the
    * whole graph family on one cross-engine discipline). Nodes of degree
    * < 2 have no defined ratio and report 0 (the classifier convention).
    * Cost: [[triangleCounts]] + one projection — no extra shuffle. */
  def clusteringCoefficient(edgesDf: DataFrame,
                            scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    triangleCounts(edgesDf)
      .select(col("node"), col("deg"), col("triangles"),
        when(col("deg") >= 2,
          expr(s"(2 * triangles * $scale) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("cc"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) with an exact-integer
    * fixpoint — the published complement of PageRank's single score: a
    * directory/link-farm page can be a strong HUB (points at many good
    * pages) while being no AUTHORITY (nothing good points at it), and the
    * hub/authority split is the classic spam-vs-catalog separator on
    * bipartite-ish crawl regions where one PageRank number conflates the
    * two roles.
    *
    * Exact-integer discipline (what makes q_graph_hits oracle-comparable;
    * float HITS could never hash-match — the L2 norm alone is
    * order-dependent): scores live in `scale`-units and the published
    * per-round normalization is L1 BY FLOOR DIVISION against the in-plan
    * global sum, rank'(v) = (raw(v)·scale) div Σraw. Update order is the
    * published one: auth from CURRENT hubs, normalize; hubs from the NEW
    * auths, normalize. Overflow is structural, not hoped-for: after any
    * normalization Σscore ≤ scale, so every raw sum ≤ scale and every
    * raw·scale product ≤ scale² = 1e18 < 2⁶³ (round 1 starts from
    * hub₀ = scale div n each, Σ ≤ scale, same bound); `scale` must be ≥ n
    * so hub₀ ≥ 1 (checked loudly).
    *
    * Scale shape (the [[pagerankExact]] sweep discipline): the edge list
    * persists TWICE, pre-partitioned by src and by dst, so each round's
    * two joins (hubs enter on src, auths return on dst) never re-exchange
    * the big side — only the n-row score tables move; one hash aggregate
    * per direction, checkpointed ONCE so the normalization cannot
    * re-evaluate the edge join; driver state is the node count plus one
    * Long total per direction per round (the [[pagerankExact]] "one
    * Long" budget — never data rows). Returns (node, hub, auth) in
    * scale-units over all nodes (pure sinks hold hub 0, pure sources
    * auth 0). */
  def hitsExact(edgesDf: DataFrame, iters: Int = 4,
                scale: Long = 1000000000L): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    withSweepWidth(edgesDf.sparkSession, sweepPartitions(edgesDf)) {
    val eSrc = edgesDf.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eDst = eSrc.repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = eSrc.select(col("src").as("node"))
      .unionByName(eSrc.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "hits over an empty graph")
    require(scale >= n, s"scale=$scale must be >= node count $n " +
      "(initial hub mass scale div n would floor to 0)")

    var state = nodes
      .select(col("node"), lit(scale / n).as("hub"), lit(0L).as("auth"))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      // each direction's edge-join aggregate is checkpointed ONCE and
      // its total read as a single driver Long (bounded driver state,
      // the pagerankExact "one Long" budget) — an in-plan broadcast
      // total would re-evaluate the expensive m-row join on both the
      // broadcast and probe sides of the normalization
      val authRaw = eSrc
        .join(state.select(col("node").as("src"), col("hub"))
          .hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("hub")).as("raw"))
        .localCheckpoint()
      val aTot = math.max(1L,
        authRaw.agg(coalesce(sum(col("raw")), lit(0L))).first().getLong(0))
      val auth = nodes
        .join(authRaw, Seq("node"), "left")
        .select(col("node"),
          expr(s"(coalesce(raw, 0L) * $scale) div $aTot").as("auth"))
        .localCheckpoint()
      val hubRaw = eDst
        .join(auth.select(col("node").as("dst"), col("auth"))
          .hint("shuffle_hash"), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("auth")).as("raw"))
        .localCheckpoint()
      val hTot = math.max(1L,
        hubRaw.agg(coalesce(sum(col("raw")), lit(0L))).first().getLong(0))
      state = nodes
        .join(hubRaw, Seq("node"), "left")
        .select(col("node"),
          expr(s"(coalesce(raw, 0L) * $scale) div $hTot").as("hub"))
        .join(auth, Seq("node"))
        .select(col("node"), col("hub"), col("auth"))
        .localCheckpoint()
      i += 1
    }
    Seq(eSrc, eDst, nodes).foreach(_.unpersist(blocking = false))
    state
    }
  }

  /** Hop distance from a seed set — synchronous frontier BFS over the
    * DIRECTED edge list as given (callers symmetrize for undirected
    * semantics): dist(v) = the minimum number of edges from any seed,
    * computed for exactly `maxHops` rounds; nodes further than `maxHops`
    * (or unreachable) are absent. The discrete companion of
    * [[trustRankExact]]'s continuous trust mass — "how many hops from a
    * vetted seed" is the published crawl-frontier depth prior (crawl
    * scheduling and spam heuristics both cut on it), and a pure-integer
    * one, so a fixed unroll replays bit-identically in DuckDB (the
    * per-round DISTINCT frontier form — a recursive path-enumeration CTE
    * would blow up combinatorially on dense graphs; the engine never
    * enumerates paths either).
    *
    * Scale shape: per round one (edges ⋈ frontier) equi-join in which
    * only the frontier moves, one DISTINCT, and one anti-join against the
    * visited set; the frontier is a subset of nodes, never of paths;
    * `localCheckpoint` per round bounds the plan. Monotonicity makes the
    * result exactly min-distance: a node enters the state at the FIRST
    * round that reaches it and is excluded from every later frontier. */
  def khopDistance(edgesDf: DataFrame, seeds: DataFrame,
                   maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // no sweep-width narrowing: each hop's frontier⋈edges join emits
    // edge-scale rows into a DISTINCT whose group count is edge-scale —
    // the labelPropagation compute shape, not the pagerank state shape
    val edges = edgesDf.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var state = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0))
      .localCheckpoint()
    var i = 1
    while (i <= maxHops) {
      val reached = edges
        .join(state.filter(col("dist") === i - 1)
          .select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
      val fresh = reached
        .join(state.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(i))
      state = state.unionByName(fresh).localCheckpoint()
      i += 1
    }
    edges.unpersist(blocking = false)
    state
  }

  /** Personalized PageRank with an exact-integer fixpoint — TrustRank
    * (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): the seed-biased
    * random walk that propagates trust from a vetted seed set through
    * the link graph, the published crawl-curation complement of global
    * [[pagerankExact]] centrality (rank mass concentrates near the
    * seeds; low-scoring far pages are the spam candidates). Identical
    * sweep structure to [[pagerankExact]] with two substitutions: the
    * teleport term lands ONLY on seeds (scale/|S| each, not scale/n),
    * and dangling mass returns to the seeds (the walk restarts at a
    * seed, never at a uniformly random page):
    *
    *   rank'(v) = [v∈S]·((den−num)·scale) div (den·|S|)
    *            + (num · (Σ_{u→v} rank(u) div deg(u)
    *                      + [v∈S]·(dm div |S|))) div den
    *
    * All-integer arithmetic (the floor divisions shed ≤ 1 unit per node
    * per sweep), so a fixed iteration count unrolls into bit-identical
    * DuckDB CTEs. The seed set rides as a 0/1 column IN the iterated
    * state — per sweep one edge join, one contribution aggregate, one
    * state rejoin, exactly the [[pagerankExact]] shape; seeds broadcast
    * once into the state build and add no per-sweep work. */
  def trustRankExact(edgesDf: DataFrame, seeds: DataFrame, iters: Int = 8,
                     dampingNum: Long = 85L, dampingDen: Long = 100L,
                     scale: Long = 1000000000000L): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    withSweepWidth(edgesDf.sparkSession, sweepPartitions(edgesDf)) {
    val edges = edgesDf.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct()
    val seedSet = seeds.select(col("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSeeds = seedSet.join(nodes, Seq("node"), "left_semi").count()
    require(nSeeds > 0, "trustRank needs at least one seed present in the graph")
    val withDeg = nodes
      .join(edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
        Seq("node"), "left")
      .join(broadcast(seedSet.withColumn("is_seed", lit(1L))),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("is_seed"), lit(0L)).as("is_seed"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val teleport = (dampingDen - dampingNum) * scale / (dampingDen * nSeeds)
    var state = withDeg
      .withColumn("rank", col("is_seed") * lit(scale / nSeeds))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val dangling = state.filter(col("deg") === 0)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
      val contribs = edges
        .join(state.filter(col("deg") > 0)
          .select(col("node").as("src"), col("rank"), col("deg"))
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("contrib"))
      state = withDeg
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("deg"), col("is_seed"),
          (col("is_seed") * lit(teleport) + expr(
            s"($dampingNum * (coalesce(contrib, 0L)" +
              s" + is_seed * (dm div $nSeeds))) div $dampingDen"
          )).as("rank"))
        .localCheckpoint()
      i += 1
    }
    edges.unpersist(blocking = false)
    withDeg.unpersist(blocking = false)
    seedSet.unpersist(blocking = false)
    state.select(col("node"), col("rank"))
    }
  }

  /** Exact-integer WEIGHTED PageRank — the variant the crawled host
    * graph actually calls for: a host linking another 400 times should
    * pass more rank than one linking it once, so each out-edge carries
    * weight w(u,v) and u's rank splits proportionally —
    * rank(u)·w(u,v) div W(u), W(u) = Σ_v w(u,v) — instead of evenly by
    * out-degree (pagerankExact is the w≡1 special case; same damping,
    * teleport, and dangling-mass rules, same unrolled-CTE oracle
    * discipline). Duplicate (src,dst) rows merge by SUMMING weight.
    * Weights must be positive integers with scale·max(w) < 2⁶³ (the
    * per-edge product before the floor division; loud requires guard
    * the sign, the magnitude is the caller's units contract).
    *
    * Scale shape: identical to [[pagerankExact]] — src-partitioned
    * persisted edges, (node, wout) folded into the iterated state, one
    * narrow shuffle per sweep, localCheckpoint bounding lineage. */
  def pagerankWeightedExact(edgesDf: DataFrame, iters: Int = 10,
                            dampingNum: Long = 85L, dampingDen: Long = 100L,
                            scale: Long = 1000000000000L): DataFrame = {
    require(iters > 0, s"iters must be positive, got $iters")
    withSweepWidth(edgesDf.sparkSession, sweepPartitions(edgesDf)) {
    val edges = edgesDf
      .select(col("src"), col("dst"), col("weight").cast("long").as("w"))
      // reject nulls BEFORE the merge: sum() skips nulls, so a partly
      // null (src,dst) group would silently under-weight instead of
      // failing loudly
      .withColumn("w", when(col("w").isNull || col("w") <= 0,
        raise_error(lit("pagerankWeightedExact: null or non-positive " +
          "edge weight"))).otherwise(col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct()
    val n = nodes.count()
    require(n > 0, "pagerank over an empty graph")
    val withW = nodes
      .join(edges.groupBy(col("src").as("node")).agg(sum(col("w")).as("wout")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("wout"), lit(0L)).as("wout"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val teleport = (dampingDen - dampingNum) * scale / (dampingDen * n)
    var state = withW.withColumn("rank", lit(scale / n)).localCheckpoint()
    var i = 0
    while (i < iters) {
      val dangling = state.filter(col("wout") === 0)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
      val contribs = edges
        .join(state.filter(col("wout") > 0)
          .select(col("node").as("src"), col("rank"), col("wout")), "src")
        .select(col("dst").as("node"), expr("(rank * w) div wout").as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("contrib"))
      state = withW
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("wout"),
          (lit(teleport) + expr(
            s"($dampingNum * (coalesce(contrib, 0L) + dm div $n)) div $dampingDen"
          )).as("rank"))
        .localCheckpoint()
      i += 1
    }
    edges.unpersist(blocking = false)
    withW.unpersist(blocking = false)
    state.select(col("node"), col("rank"))
    }
  }

  /** Link prediction over an undirected graph: for every DISTANCE-2
    * pair (u, w) — not already linked, sharing at least one neighbor —
    * the common-neighbor count and the resource-allocation index
    * (Zhou, Lü & Zhang, Eur. Phys. J. B 2009: Σ_{z∈N(u)∩N(w)} 1/deg(z),
    * here in exact integer micro-units scale div deg(z), the
    * integer-friendly member of the published CN/AA/RA family — RA
    * outperforms Adamic-Adar's 1/ln(deg) in the original study and
    * needs no float log). In a curation pipeline this is the published
    * mirror/farm detector shape: two hosts sharing most outlink
    * neighbors are near-duplicates of each other even when no page
    * hashes match.
    *
    * Hubs contribute noise and quadratic wedges, so neighbors are only
    * counted THROUGH nodes of degree ≤ maxDeg (the standard cap; a
    * hub's RA contribution is ~0 anyway). Wedge rows are bounded by
    * maxDeg·m instead of Σdeg².
    *
    * Output: (u, w, cn, ra_micro) with u < w; existing edges
    * anti-joined away. All-integer, so the DuckDB oracle replays the
    * whole computation. */
  def linkPrediction(edgesDf: DataFrame, maxDeg: Long = 64,
                     scale: Long = 1000000L): DataFrame = {
    require(maxDeg >= 2, s"maxDeg must be >= 2, got $maxDeg")
    // und feeds the degree table, the hinge-neighbor build, and the
    // final anti-join; nb self-joins — track both for the query driver
    // to release (no in-operator unpersist: the result is lazy and an
    // eager checkpoint of the full pair table would be a needless
    // materialization barrier at scale)
    val und = Caches.track(edgesDf.select(col("src"), col("dst"))
      .unionByName(edgesDf.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct())
    val deg = und.groupBy(col("src").as("z")).agg(count(lit(1)).as("zdeg"))
    // neighbors through low-degree hinges only, zdeg carried so the
    // pair stage never re-joins the degree table
    val nb = Caches.track(und.select(col("src").as("z"), col("dst").as("n"))
      .join(deg.filter(col("zdeg") <= maxDeg), "z"))
    val pairs = nb.select(col("z"), col("n").as("u"), col("zdeg"))
      .join(nb.select(col("z"), col("n").as("w")), "z")
      .filter(col("u") < col("w"))
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("cn"),
        sum(expr(s"$scale div zdeg")).as("ra_micro"))
    pairs.join(
      und.select(col("src").as("u"), col("dst").as("w")),
      Seq("u", "w"), "left_anti")
  }

  /** Deterministic graph WALKS — the DeepWalk / node2vec sampling input
    * (Perozzi et al. 2014: corpus of truncated walks feeding a skip-gram
    * model; in a data pipeline, walks also drive graph-aware corpus
    * sampling). The published samplers draw the next hop uniformly at
    * random; executor-side RNG would make runs irreproducible and
    * oracle-incomparable, so this uses the library's md5-ordered
    * sampling discipline (q_mixture_sample's): at step t the walk at v
    * moves to argmin over out-neighbors w of
    * md5(v || '|' || w || '|' || t || '|' || seed) — unbiased w.r.t.
    * content, different per (step, seed), rerun-stable on any cluster,
    * and bit-replayable by the oracle. A walk at a node with no
    * out-edges HALTS (its later steps are absent — the DeepWalk
    * truncation rule).
    *
    * Output: (start, step, node) for step 0..steps while alive.
    *
    * Scale shape: edges dedup'd and pre-partitioned by src, persisted
    * once; per step one (frontier ⋈ edges) join in which only the
    * n-row frontier moves, one per-start argmin aggregate;
    * localCheckpoint bounds lineage to one step. */
  def seededWalks(edgesDf: DataFrame, steps: Int,
                  seed: Long = 42L): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    // no sweep-width narrowing: the per-step frontier⋈edges join emits
    // one row per out-edge of the frontier and computes an md5 PER ROW
    // before the argmin — edge-scale compute that needs the cores
    // (narrowing measured 3.9→26.3 s at sf0.1/local[32])
    val edges = edgesDf.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .distinct()
    var cur = nodes.select(col("node").as("start"), col("node").as("cur"))
      .localCheckpoint()
    var out = cur.select(col("start"), lit(0).as("step"),
      col("cur").as("node"))
    var t = 1
    while (t <= steps) {
      // hash-build the n-row frontier (the q_graph_triangles closure
      // lesson, r16 telemetry): sort-merge re-SORTED the m-row edge
      // table every step — the cell's 3.7 GB of 10× spill
      cur = cur.hint("shuffle_hash")
        .join(edges, col("cur") === col("src"))
        .withColumn("h", md5(concat(
          col("cur").cast("string"), lit("|"),
          col("dst").cast("string"), lit(s"|$t|$seed"))))
        .groupBy(col("start"))
        .agg(min(struct(col("h"), col("dst"))).as("best"))
        .select(col("start"), col("best.dst").as("cur"))
        .localCheckpoint()
      out = out.unionByName(
        cur.select(col("start"), lit(t).as("step"), col("cur").as("node")))
      t += 1
    }
    edges.unpersist(blocking = false)
    out
  }

  /** Skip-gram training pairs off [[seededWalks]] — the actual DeepWalk
    * corpus (Perozzi et al. 2014 §4.2: each walk is a "sentence", pairs
    * within a window feed word2vec): (center, context, n) for every
    * ordered pair of walk positions within `window` steps, counted over
    * all walks. One self-join of the walks table on (start) with the
    * |step delta| ≤ window predicate riding as the join filter, one
    * hash aggregate; output bounded by observed (node, node) pairs. */
  def walkSkipgramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val a = walks.select(col("start"), col("step").as("s1"),
      col("node").as("center"))
    val b = walks.select(col("start"), col("step").as("s2"),
      col("node").as("context"))
    a.join(b, Seq("start"))
      .filter(col("s1") =!= col("s2")
        && abs(col("s1") - col("s2")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-node link reciprocity over a DIRECTED graph — the classic
    * link-exchange / link-farm signal (Gyöngyi & Garcia-Molina's web
    * spam taxonomy: paid and reciprocal link schemes show near-1
    * reciprocity, organic authority links near-0): of a node's distinct
    * out-edges, the fraction whose reverse edge also exists, in exact
    * integer micro-units (scale·n_recip div out_deg). Nodes with no
    * out-edges (pure sinks) are absent — the ratio is undefined there.
    *
    * Scale shape: one distinct, one self-semi-join on the reversed key,
    * two hash aggregates — all equi-shuffles on edge keys, output
    * bounded by nodes. */
  def reciprocity(edgesDf: DataFrame, scale: Long = 1000000L): DataFrame = {
    val e = Caches.track(edgesDf.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val recip = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("n_recip"))
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
      .join(recip, Seq("node"), "left")
      .select(col("node"), col("out_deg"),
        coalesce(col("n_recip"), lit(0L)).as("n_recip"),
        expr(s"($scale * coalesce(n_recip, 0L)) div out_deg")
          .as("recip_micro"))
  }
}
