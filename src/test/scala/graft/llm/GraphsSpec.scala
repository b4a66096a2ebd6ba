package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** PageRank ground truth: the distributed implementation must match a
  * plain driver-side reference implementation on a small graph, conserve
  * rank mass, and order hubs above leaves. */
class GraphsSpec extends SparkSpec {

  /** Reference PageRank on adjacency lists (same semantics: uniform
    * teleport, uniform dangling redistribution). */
  private def referenceRanks(edges: Seq[(Long, Long)], iters: Int,
                             d: Double): Map[Long, Double] = {
    val dedup = edges.distinct
    val nodes = (dedup.map(_._1) ++ dedup.map(_._2)).distinct.sorted
    val n = nodes.size
    val out = dedup.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val dm = nodes.filterNot(out.contains).map(rank).sum
      val contrib = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      for ((s, dsts) <- out; dst <- dsts)
        contrib(dst) += rank(s) / dsts.size
      rank = nodes.map(v =>
        v -> ((1.0 - d) / n + d * (contrib(v) + dm / n))).toMap
    }
    rank
  }

  test("pagerank matches the reference implementation on a mixed graph") {
    import SparkSpec.spark.implicits._
    // hub-and-spoke + chain + dangling node: 1..4 all link to 5 (hub),
    // hub links to 6, 6 is dangling; 7→8→9 chain off to the side
    val edges = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L), (5L, 6L),
      (7L, 8L), (8L, 9L), (1L, 5L)) // duplicate edge must not double-count
    val got = Graphs.pagerank(edges.toDF("src", "dst"), iters = 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = referenceRanks(edges, iters = 12, d = 0.85)
    assert(got.keySet == want.keySet)
    for ((k, w) <- want)
      assert(math.abs(got(k) - w) < 1e-9, s"node $k: got ${got(k)} want $w")
    // mass conservation and sane ordering: hub outranks every spoke
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    assert(got(5L) > got(1L) && got(6L) > got(9L))
  }

  test("labelPropagation finds the two triangle communities across a " +
      "bridge, ignoring duplicates, direction, and self-loops") {
    import SparkSpec.spark.implicits._
    // triangle {1,2,3} — bridge 3-4 — triangle {4,5,6}; hand-unrolled:
    // r1: (1,2,3)→1, 4→3, (5,6)→4; r2: 4→4; r3 stable
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L),
      (2L, 1L),  // reversed duplicate must not double a vote
      (5L, 5L))  // self-loop must be dropped, not self-vote twice
    val got = Graphs.labelPropagation(edges.toDF("src", "dst"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L), got.toString)
  }

  test("labelPropagation's self-vote damps the synchronous two-coloring " +
      "oscillation on bipartite graphs") {
    import SparkSpec.spark.implicits._
    // 4-cycle (bipartite): without the self-vote, synchronous LPA swaps
    // the two color classes' labels forever; with it, hand-unrolling
    // gives r1: (1,2,4)→1, 3→2; r2: all→1; stable thereafter — so both
    // an even and an odd iteration count land on the same fixpoint
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    for (iters <- Seq(3, 4)) {
      val got = Graphs.labelPropagation(edges.toDF("src", "dst"), iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
        s"iters=$iters: $got")
    }
  }

  test("triangleCounts: two triangles sharing an edge, a triangle-free " +
      "star hub, duplicate/reversed/self-loop edges ignored") {
    import SparkSpec.spark.implicits._
    // triangles {1,2,3} and {2,3,4} share edge 2-3; hub 10 fans out to
    // 1,2,3,4 via NOTHING (only to 20,21,22 leaves — star, no triangle)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (4L, 3L),
      (10L, 20L), (10L, 21L), (10L, 22L),
      (3L, 2L),   // reversed duplicate
      (1L, 1L))   // self-loop
    val got = Graphs.triangleCounts(edges.toDF("src", "dst")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((2L, 1L)), 2L -> ((3L, 2L)), 3L -> ((3L, 2L)), 4L -> ((2L, 1L)),
      10L -> ((3L, 0L)), 20L -> ((1L, 0L)), 21L -> ((1L, 0L)),
      22L -> ((1L, 0L))), got.toString)
  }

  test("kcore peels a chain into the clique over cascading rounds and is " +
      "idempotent past the fixpoint; k above the core empties the graph") {
    import SparkSpec.spark.implicits._
    // K4 {1,2,3,4} with a pendant chain 5-6-7 hanging off node 1:
    // k=2 peel needs 3 cascading rounds (7, then 6, then 5)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (5L, 6L), (6L, 7L))
    def run(k: Int, rounds: Int): Map[Long, Long] =
      Graphs.kcore(edges.toDF("src", "dst"), k, rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val core = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
    assert(run(2, 3) == core, run(2, 3).toString)
    assert(run(2, 6) == core) // no-op rounds past the fixpoint
    // 2 rounds is mid-cascade: 5 still present (6 left only this round)
    assert(run(2, 2).keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(run(4, 3).isEmpty) // K4 is a 3-core, not a 4-core
  }

  test("trustRankExact: trust decays along the chain, dangling mass " +
      "returns to the seeds, unreached components hold rank zero") {
    import SparkSpec.spark.implicits._
    // chain 1→2→3 (3 dangling) seeded at 1; 10→11 unreachable.
    // Hand-unrolled at S=1e12, d=85/100, T=0.15e12:
    //  r1: 1→T, 2→0.85S;  r2: 1→T (dm=0), 2→0.85T, 3→0.85²S;
    //  r3: 3's mass returns to the seed: 1→T+0.85·(0.85²S)=764125e6,
    //      2→0.85T, 3→0.85·0.85T
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Graphs.trustRankExact(edges, seeds, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 764125000000L, 2L -> 127500000000L, 3L -> 108375000000L,
      10L -> 0L, 11L -> 0L), got.toString)
    // a seed absent from the graph is refused loudly
    val ex = intercept[IllegalArgumentException] {
      Graphs.trustRankExact(edges, Seq(99L).toDF("node"), iters = 2)
    }
    assert(ex.getMessage.contains("seed"))
  }

  test("clusteringCoefficient: closed triangle at 1.0, hub of a shared " +
      "edge below it, pendant and degree-1 nodes at 0") {
    import SparkSpec.spark.implicits._
    // triangle {1,2,3} with a pendant 4 off node 3: deg 1:2 2:2 3:3 4:1;
    // each of 1,2,3 closes one triangle. Hand-computed micro-units:
    //  cc(1)=cc(2)=2·1·1e6 div (2·1)=1000000, cc(3)=2e6 div 6=333333,
    //  cc(4)=0 (deg<2 — no defined ratio, the classifier convention)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val got = Graphs.clusteringCoefficient(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 1000000L)), 2L -> ((2L, 1L, 1000000L)),
      3L -> ((3L, 1L, 333333L)), 4L -> ((1L, 0L, 0L))), got.toString)
  }

  test("hitsExact: hand-unrolled rounds on a bipartite-ish graph — " +
      "hub/authority roles separate, duplicates collapse") {
    import SparkSpec.spark.implicits._
    // 1→3, 2→3, 2→4 (+ a duplicate 1→3): 2 is the stronger hub (points
    // at both authorities), 3 the stronger authority (both hubs point at
    // it); sources hold auth 0, sinks hub 0. scale=1000, n=4, hub₀=250.
    //  round 1: authRaw 3:500 4:250, Σ=750 → auth 3:666 4:333;
    //           hubRaw 1:666 2:999, Σ=1665 → hub 1:400 2:600
    //  round 2: authRaw 3:1000 4:600, Σ=1600 → auth 3:625 4:375;
    //           hubRaw 1:625 2:1000, Σ=1625 → hub 1:384 2:615
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L), (1L, 3L))
      .toDF("src", "dst")
    def run(iters: Int): Map[Long, (Long, Long)] =
      Graphs.hitsExact(edges, iters = iters, scale = 1000L).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(run(1) == Map(1L -> ((400L, 0L)), 2L -> ((600L, 0L)),
      3L -> ((0L, 666L)), 4L -> ((0L, 333L))), run(1).toString)
    assert(run(2) == Map(1L -> ((384L, 0L)), 2L -> ((615L, 0L)),
      3L -> ((0L, 625L)), 4L -> ((0L, 375L))), run(2).toString)
    // scale below the node count is refused loudly (hub₀ would floor to 0)
    val ex = intercept[IllegalArgumentException] {
      Graphs.hitsExact(edges, iters = 1, scale = 3L)
    }
    assert(ex.getMessage.contains("scale"))
  }

  test("khopDistance: min-distance BFS with a cycle, bounded hops, " +
      "multiple seeds, and off-graph seeds at distance 0") {
    import SparkSpec.spark.implicits._
    // chain 1→2→3→4 with a back-edge 3→1 (the cycle must not re-raise
    // dist(1)); 5→6 unreachable from seed 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 1L), (5L, 6L))
      .toDF("src", "dst")
    def run(seeds: Seq[Long], hops: Int): Map[Long, Int] =
      Graphs.khopDistance(edges, seeds.toDF("node"), hops).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(run(Seq(1L), 2) == Map(1L -> 0, 2L -> 1, 3L -> 2))
    assert(run(Seq(1L), 5) == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    assert(run(Seq(1L), 0) == Map(1L -> 0)) // seeds only
    // a second seed pulls its own component in; an off-graph seed is
    // trivially at distance 0 from itself
    assert(run(Seq(1L, 5L), 1) == Map(1L -> 0, 2L -> 1, 5L -> 0, 6L -> 1))
    assert(run(Seq(99L), 2) == Map(99L -> 0))
  }

  test("linkPrediction: wedge scores, existing-edge anti-join, and the " +
      "hub cap") {
    import SparkSpec.spark.implicits._
    // path 1-2-3 (hinge 2, deg 2) → pair (1,3): cn=1, ra=500000;
    // square 1-2-3-4-1 → (1,3) ALSO via hinge 4 and (2,4) via 1 and 3;
    // triangle edge 5-6,6-7,5-7: (5,7) already linked → anti-joined;
    // star hub 10 with 5 leaves at maxDeg 4 → contributes nothing
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), // square
      (5L, 6L), (6L, 7L), (5L, 7L), // closed triangle
      (10L, 21L), (10L, 22L), (10L, 23L), (10L, 24L), (10L, 25L) // hub
    ).toDF("src", "dst")
    def run(maxDeg: Long): Set[(Long, Long, Long, Long)] =
      Graphs.linkPrediction(edges, maxDeg = maxDeg)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
    // square hinges all have deg 2 → ra per wedge = 1000000 div 2;
    // the triangle's three wedge pairs are all existing edges → gone;
    // hub wedges are capped away; deg-1 leaves hinge nothing
    assert(run(4) === Set(
      (1L, 3L, 2L, 1000000L), // via hinges 2 and 4
      (2L, 4L, 2L, 1000000L))) // via hinges 1 and 3
    // raising the cap to 5 admits the hub: C(5,2)=10 leaf pairs at
    // ra = 1000000 div 5 each, on top of the square pairs
    val opened = run(5)
    val leafPairs = opened.filter { case (u, _, _, _) => u >= 21L }
    assert(leafPairs.size === 10)
    assert(leafPairs.forall { case (_, _, cn, ra) =>
      cn == 1L && ra == 200000L })
  }

  test("pagerankWeightedExact: weight-1 graphs equal pagerankExact, and " +
      "weights redirect rank toward the heavy edge") {
    import SparkSpec.spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    val unw = Graphs.pagerankExact(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = Graphs.pagerankWeightedExact(
        edges.withColumn("weight", lit(1L)), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 === unw)
    // tilt 1's outflow 9:1 toward node 2 — node 2 must now outrank its
    // even-split rank, node 3 drop below it
    val tilted = Graphs.pagerankWeightedExact(
        Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 1L, 1L),
          (4L, 1L, 1L)).toDF("src", "dst", "weight"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tilted(2L) > w1(2L), s"2 should gain: $tilted vs $w1")
    // duplicate (src,dst) rows merge by summing weight
    val merged = Graphs.pagerankWeightedExact(
        Seq((1L, 2L, 4L), (1L, 2L, 5L), (1L, 3L, 1L), (2L, 3L, 1L),
          (3L, 1L, 1L), (4L, 1L, 1L)).toDF("src", "dst", "weight"),
        iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === tilted)
  }

  test("seededWalks: walks halt at dead ends, reruns are identical, " +
      "the seed changes paths, every hop follows a real edge") {
    import SparkSpec.spark.implicits._
    // 1→{2,3}, 2→{1,3}, 3: dead end; 4→4 self-loop only... no self
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L))
      .toDF("src", "dst")
    def run(seed: Long) = Graphs.seededWalks(edges, steps = 3, seed = seed)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    val a = run(42L)
    assert(a === run(42L)) // deterministic
    // node 3 is a dead end: its walk is step 0 only
    assert(a.filter(_._1 == 3L) === Set((3L, 0, 3L)))
    // every (step t-1 → t) transition is a real edge
    val eset = Set((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L))
    val byWalk = a.groupBy(_._1)
    byWalk.values.foreach { w =>
      val path = w.toSeq.sortBy(_._2).map(_._3)
      path.zip(path.tail).foreach(hop => assert(eset.contains(hop), hop))
    }
    // a different seed must change at least one hop somewhere
    assert(run(7L) !== a)
  }

  test("walkSkipgramPairs: window bounds, both directions, counts " +
      "accumulate across walks") {
    import SparkSpec.spark.implicits._
    // two hand-written "walks": 1: a b c d ; 2: a b x
    val walks = Seq(
      (1L, 0, 10L), (1L, 1, 20L), (1L, 2, 30L), (1L, 3, 40L),
      (2L, 0, 10L), (2L, 1, 20L), (2L, 2, 50L))
      .toDF("start", "step", "node")
    val got = Graphs.walkSkipgramPairs(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got((10L, 20L)) === 2L) // step-adjacent in both walks
    assert(got((20L, 10L)) === 2L) // ordered pairs: both directions
    assert(got((10L, 30L)) === 1L) // distance 2: inside window
    assert(!got.contains((10L, 40L))) // distance 3: outside window
    assert(got((10L, 50L)) === 1L) // walk 2's window-2 pair
  }

  test("sweepPartitions: data-derived width clamps to [1, session " +
      "shuffle width], the knob is honored, and the sweep result is " +
      "width-invariant with the session conf restored") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val cap = spark.sessionState.conf.numShufflePartitions
    // a KB-scale local relation sizes to the floor
    val tiny = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(Graphs.sweepPartitions(tiny) === 1)
    // the rows-based estimate: GB-scale clamps to the session width,
    // zero rows to the floor
    assert(Graphs.sweepPartitionsForRows(spark, 1L << 30) === cap)
    assert(Graphs.sweepPartitionsForRows(spark, 0L) === 1)
    // width-invariance: the sweeps are exact integer arithmetic, so
    // forcing the width to the cap (1-byte target) must change nothing
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L))
      .toDF("src", "dst")
    def run() = Graphs.pagerankExact(edges, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val narrow = run()
    spark.conf.set("graft.sweep.targetPartitionBytes", "1")
    try assert(run() === narrow)
    finally spark.conf.unset("graft.sweep.targetPartitionBytes")
    // the sweep restores the caller's shuffle width
    assert(spark.conf.get("spark.sql.shuffle.partitions") === cap.toString)
  }

  test("pagerank (float) is width-tolerant: forcing the sweep to the " +
      "session width moves ranks by at most 1e-12, the conf restored") {
    import SparkSpec.spark.implicits._
    val spark = SparkSpec.spark
    val cap = spark.sessionState.conf.numShufflePartitions
    // enough nodes and fan-in that the rank sums group differently at
    // width 1 and at the cap; floating-point addition is not
    // associative, so only a tolerance holds across widths
    val rnd = new scala.util.Random(17)
    val edges = (Seq.tabulate(60)(i => (i.toLong, ((i + 1) % 60).toLong)) ++
      Seq.fill(240)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)))
      .toDF("src", "dst")
    assert(Graphs.sweepPartitions(edges) === 1)
    def run() = Graphs.pagerank(edges, iters = 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val narrow = run()
    spark.conf.set("graft.sweep.targetPartitionBytes", "1")
    val wide =
      try run()
      finally spark.conf.unset("graft.sweep.targetPartitionBytes")
    assert(wide.keySet == narrow.keySet && narrow.size == 60)
    for ((k, v) <- narrow)
      assert(math.abs(wide(k) - v) <= 1e-12, s"node $k: ${wide(k)} vs $v")
    assert(math.abs(wide.values.sum - 1.0) < 1e-9)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === cap.toString)
  }

  test("reciprocity: mutual pairs count, one-way links do not, pure " +
      "sinks are absent, self-loops and duplicates ignored") {
    import SparkSpec.spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 1L), // mutual
      (1L, 3L), // one-way (3 is a pure sink)
      (1L, 1L), // self-loop: ignored
      (2L, 1L), // duplicate: ignored
      (4L, 1L), (1L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graphs.reciprocity(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got === Map(
      1L -> ((3L, 2L, 666666L)), // out {2,3,4}; 2 and 4 reciprocated
      2L -> ((1L, 1L, 1000000L)),
      4L -> ((2L, 1L, 500000L)))) // 3 and 5 are sinks: absent
  }
}
