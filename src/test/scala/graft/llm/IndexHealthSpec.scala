package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Manifest

/** The measured-rebuild gauges' ground truth on the IVF side
  * ([[GraphAnnSpec]] pins the graph one): quantizer drift is exactly
  * 1e6 on an untouched index, invariant under duplicate-population
  * growth, and trips only when appended vectors genuinely sit farther
  * from the frozen centroids. */
class IndexHealthSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def emb(n: Int) =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < n)

  test("ivf drift: exactly 1e6 untouched, unchanged by twin growth, " +
      "tripped by a genuinely drifted append") {
    val idx = tempDir("ivfdrift-").toString + "/idx"
    Similarity.writeIvfIndex(emb(200), idx, nlist = 8)
    val fresh = Similarity.ivfIndexDrift(spark, idx).collect().head
    assert(fresh.getAs[Long]("drift_micro") === 1000000L)
    assert(!fresh.getAs[Boolean]("rebuild"))
    assert(fresh.getAs[Long]("build_n") === 200L)
    // duplicate-population growth: identical vectors double the integer
    // sum AND the count, so the mean — and the gauge — is bit-unchanged
    Similarity.appendToIvfIndex(
      emb(200).select((col("vec_id") + 100000).as("vec_id"),
        col("embedding")), idx)
    val twin = Similarity.ivfIndexDrift(spark, idx).collect().head
    assert(twin.getAs[Long]("drift_micro") === 1000000L)
    assert(!twin.getAs[Boolean]("rebuild"))
    assert(twin.getAs[Long]("n") === 400L)
    // a genuinely drifted append (+10 in every dim — far outside the
    // trained cells) must push the mean assignment distance over the
    // 25% default bar
    Similarity.appendToIvfIndex(
      emb(100).select((col("vec_id") + 200000).as("vec_id"),
        expr("transform(embedding, x -> x + cast(10 as float))")
          .as("embedding")), idx)
    val far = Similarity.ivfIndexDrift(spark, idx).collect().head
    assert(far.getAs[Long]("drift_micro") > 1250000L,
      far.getAs[Long]("drift_micro").toString)
    assert(far.getAs[Boolean]("rebuild"))
    // and the threshold is caller-tunable (isolating the rule)
    val loose = Similarity.ivfIndexDrift(spark, idx,
      maxDriftMicro = far.getAs[Long]("drift_micro") + 1).collect().head
    assert(!loose.getAs[Boolean]("rebuild"))
  }

  test("ivfpq drift: exactly 1e6 untouched and under twin growth, " +
      "tripped by a drifted append; vectors-less indexes refuse") {
    val idx = tempDir("pqdrift-").toString + "/idx"
    Similarity.writeIvfPqIndex(emb(200), idx, nlist = 8, m = 8, ksub = 16)
    val fresh = Similarity.ivfPqIndexDrift(spark, idx).collect().head
    assert(fresh.getAs[Long]("drift_micro") === 1000000L)
    assert(!fresh.getAs[Boolean]("rebuild"))
    assert(fresh.getAs[Long]("build_n") === 200L)
    Similarity.appendToIvfPqIndex(
      emb(200).select((col("vec_id") + 100000).as("vec_id"),
        col("embedding")), idx)
    val twin = Similarity.ivfPqIndexDrift(spark, idx).collect().head
    assert(twin.getAs[Long]("drift_micro") === 1000000L)
    assert(twin.getAs[Long]("n") === 400L)
    Similarity.appendToIvfPqIndex(
      emb(100).select((col("vec_id") + 200000).as("vec_id"),
        expr("transform(embedding, x -> x + cast(10 as float))")
          .as("embedding")), idx)
    val far = Similarity.ivfPqIndexDrift(spark, idx).collect().head
    assert(far.getAs[Boolean]("rebuild"), far.toString)
    // a codes-only index cannot measure assignment distance — refuse
    val noVecs = tempDir("pqdriftnv-").toString + "/idx"
    Similarity.writeIvfPqIndex(emb(50), noVecs, nlist = 4, m = 8,
      ksub = 8, storeVectors = false)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexDrift(spark, noVecs)
    }
    assert(e.getMessage.contains("storeVectors"))
  }

  test("ivfpq measured rebuild: no trip ⇒ strict no-op; a drift trip " +
      "retrains BOTH quantizer tiers, restores the anchor to exactly " +
      "1e6, and the planted twin reads back through all five swapped " +
      "tiers") {
    val idx = tempDir("pqreb-").toString + "/idx"
    val base = emb(300)
    Similarity.writeIvfPqIndex(base, idx, nlist = 8, m = 8, ksub = 16)
    val noop = Similarity.rebuildIvfPqIndexIfDrifted(spark, idx)
      .collect().head
    assert(!noop.getAs[Boolean]("rebuild"))
    assert(!noop.getAs[Boolean]("rebuilt"))
    // drift trip from a +10 cluster; the recall gate is a planted twin
    // of BASE vector 0 appended in the same batch (the q_sim_ivfpq gate
    // shape — inside the drifted near-clone cluster ADC cannot separate
    // an exact twin from its ~0.9999-cosine neighbours, which is an
    // honest PQ property, not a tier-swap failure)
    import SparkSpec.spark.implicits._
    val drifted = emb(100)
      .select((col("vec_id") + 200000).as("vec_id"),
        expr("transform(embedding, x -> x + cast(10 as float))")
          .as("embedding"))
    Similarity.appendToIvfPqIndex(
      drifted.unionByName(base.filter(col("vec_id") === 0L)
        .select(lit(900001L).as("vec_id"), col("embedding"))), idx)
    val r = Similarity.rebuildIvfPqIndexIfDrifted(spark, idx)
      .collect().head
    assert(r.getAs[Boolean]("rebuild"), r.toString)
    assert(r.getAs[Boolean]("rebuilt"))
    val post = Similarity.ivfPqIndexDrift(spark, idx).collect().head
    assert(post.getAs[Long]("drift_micro") === 1000000L)
    assert(!post.getAs[Boolean]("rebuild"))
    assert(post.getAs[Long]("build_n") === 401L)
    // the twin reads back at rank 1 through the REBUILT five tiers
    // (centroids/codebooks/codes/vectors/pq_meta all swapped)
    val top = Similarity.ivfPqTopKIndexed(
        base.filter(col("vec_id") === 0L), idx,
        k = 3, nprobe = 2, refine = 4)
      .collect()
    assert(top.head.getAs[Long]("cand_id") === 900001L,
      top.map(_.toString).mkString(","))
  }

  test("ivf measured rebuild: no trip ⇒ strict no-op (nothing written, " +
      "manifest untouched)") {
    val idx = tempDir("ivfreb0-").toString + "/idx"
    Similarity.writeIvfIndex(emb(200), idx, nlist = 8)
    // snapshot the on-disk state the fresh write left (incl. its
    // versioned meta publish) — the no-op must change NOTHING
    def snapshot() = (
      graft.core.SidecarFs.readString(s"$idx/current"),
      new java.io.File(idx).list().sorted.toSeq)
    val before = snapshot()
    val r = Similarity.rebuildIvfIndexIfDrifted(spark, idx).collect().head
    assert(!r.getAs[Boolean]("rebuild"))
    assert(!r.getAs[Boolean]("rebuilt"))
    assert(r.getAs[Long]("drift_micro") === 1000000L)
    assert(snapshot() === before)
  }

  /** The straddled-near-twin construction (guaranteed pre-rebuild miss):
    * for the CLOSEST centroid pair (c0, c1) with midpoint m, any third
    * centroid is ≥ (√3/2)·|c0−c1| from m (both pair distances are ≥ the
    * pair's own, which is the minimum), so points within ~0.1·|d| of m
    * have c0 and c1 as their two nearest centroids BY CONSTRUCTION —
    * a query at m+0.05·d and its planted near-twin at m−0.05·d split
    * across the frozen boundary, and an nprobe=1 probe can never see
    * the twin. A 300-point blob centered on m (jittered ±0.3·|d| along
    * an orthogonal direction, so the twin still out-ranks it in cosine)
    * drags a RETRAINED centroid onto the midpoint, co-locating the pair
    * after the rebuild — the measured loop's recall story, end to end. */
  private def straddle(cents: Array[Array[Double]])
      : (Array[Float], Array[Float], Seq[Array[Float]]) = {
    val pairs = for {
      i <- cents.indices; j <- cents.indices if i < j
    } yield (i, j, math.sqrt(
      cents(i).zip(cents(j)).map { case (a, b) => (a - b) * (a - b) }.sum))
    val (i0, j0, _) = pairs.minBy(_._3)
    val c0 = cents(i0); val c1 = cents(j0)
    val m = c0.zip(c1).map { case (a, b) => (a + b) / 2 }
    val d = c0.zip(c1).map { case (a, b) => a - b }
    // orthogonal to d by pairwise swap-negate (even dim): o·d = 0, |o|=|d|
    val o = d.indices.map(i => if (i % 2 == 0) d(i + 1) else -d(i - 1)).toArray
    def at(base: Array[Double], dirV: Array[Double], s: Double) =
      base.zip(dirV).map { case (b, v) => (b + s * v).toFloat }
    val qv = at(m, d, +0.05)
    val tv = at(m, d, -0.05)
    val blob = (0 until 300).map(i =>
      at(m, o, (if (i % 2 == 0) 1 else -1) * 0.3))
    (qv, tv, blob)
  }

  test("ivf measured rebuild: a tripped gauge retrains, restores the " +
      "anchor to exactly 1e6, and recovers the straddled near-twin " +
      "the drifted index provably missed") {
    val idx = tempDir("ivfreb1-").toString + "/idx"
    val base = emb(500)
    Similarity.writeIvfIndex(base, idx, nlist = 16)
    val cents = spark.read.parquet(s"$idx/centroids").orderBy("cell")
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    val (qv, tv, blob) = straddle(cents)
    val twinId = 900001L
    val delta = (Seq((twinId, tv)) ++
      blob.zipWithIndex.map { case (v, i) => (700000L + i, v) } ++
      Seq.empty).toDF("vec_id", "embedding")
      .unionByName(emb(200).select((col("vec_id") + 200000).as("vec_id"),
        expr("transform(embedding, x -> x + cast(10 as float))")
          .as("embedding")))
    Similarity.appendToIvfIndex(delta, idx)
    val q = Seq((999999L, qv)).toDF("vec_id", "embedding")
    def top5 = Similarity.ivfTopKIndexed(q, idx, k = 5, nprobe = 1)
      .collect().map(_.getAs[Long]("cand_id")).toSet
    // pre: the frozen boundary splits the pair — the twin CANNOT appear
    assert(!top5.contains(twinId))
    val r = Similarity.rebuildIvfIndexIfDrifted(spark, idx).collect().head
    assert(r.getAs[Boolean]("rebuild"), r.toString)
    assert(r.getAs[Boolean]("rebuilt"))
    // the anchor is the rebuild's own write-time observation, so the
    // gauge is EXACTLY 1e6 again (integer mean, same postings)
    val post = Similarity.ivfIndexDrift(spark, idx).collect().head
    assert(post.getAs[Long]("drift_micro") === 1000000L)
    assert(!post.getAs[Boolean]("rebuild"))
    // the retrained quantizer co-locates the pair: found at rank 1
    val postTop = Similarity.ivfTopKIndexed(q, idx, k = 5, nprobe = 1)
      .collect()
    assert(postTop.head.getAs[Long]("cand_id") === twinId,
      postTop.map(_.toString).mkString(","))
    // the rebuild is a full-rewrite maintenance pass: versioned tiers
    // published atomically, one manifest
    assert(new java.io.File(s"$idx/current").exists())
  }

  test("ivf measured rebuild with trainFraction SAMPLING (the knob a " +
      "100 TB rebuild actually turns — r15 VERDICT #6): a 0.5-sampled " +
      "retrain still trips, restores the anchor to exactly 1e6, and " +
      "recovers the straddled near-twin") {
    val idx = tempDir("ivfrebs-").toString + "/idx"
    val base = emb(500)
    Similarity.writeIvfIndex(base, idx, nlist = 16)
    val cents = spark.read.parquet(s"$idx/centroids").orderBy("cell")
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    val (qv, tv, blob) = straddle(cents)
    val twinId = 900001L
    val delta = (Seq((twinId, tv)) ++
      blob.zipWithIndex.map { case (v, i) => (700000L + i, v) })
      .toDF("vec_id", "embedding")
      .unionByName(emb(200).select((col("vec_id") + 200000).as("vec_id"),
        expr("transform(embedding, x -> x + cast(10 as float))")
          .as("embedding")))
    Similarity.appendToIvfIndex(delta, idx)
    val q = Seq((999999L, qv)).toDF("vec_id", "embedding")
    assert(!Similarity.ivfTopKIndexed(q, idx, k = 5, nprobe = 1)
      .collect().map(_.getAs[Long]("cand_id")).contains(twinId))
    // the deterministic trainSample keeps ~half the survivors; Lloyd
    // runs on the sample, the RE-ASSIGNMENT (and hence the anchor)
    // covers every survivor — the 100 TB cost split this knob buys
    val r = Similarity.rebuildIvfIndexIfDrifted(spark, idx,
      trainFraction = 0.5).collect().head
    assert(r.getAs[Boolean]("rebuild"), r.toString)
    assert(r.getAs[Boolean]("rebuilt"))
    val post = Similarity.ivfIndexDrift(spark, idx).collect().head
    assert(post.getAs[Long]("drift_micro") === 1000000L)
    assert(!post.getAs[Boolean]("rebuild"))
    val postTop = Similarity.ivfTopKIndexed(q, idx, k = 5, nprobe = 1)
      .collect()
    assert(postTop.head.getAs[Long]("cand_id") === twinId,
      postTop.map(_.toString).mkString(","))
  }

  test("graph measured rebuild: zero survivors (total takedown) reports " +
      "rebuilt=false instead of crashing mid-maintenance") {
    val idx = tempDir("gphreb0-").toString + "/idx"
    GraphAnn.writeKnnGraphIndex(emb(40), idx, k = 4, rounds = 1)
    import SparkSpec.spark.implicits._
    GraphAnn.deleteFromKnnGraphIndex(spark, idx, (0L until 40L).toDF("vec_id"))
    val gauge = GraphAnn.knnGraphIndexHealth(spark, idx).collect().head
    assert(gauge.getAs[Boolean]("rebuild")) // the documented total-takedown state
    val r = GraphAnn.rebuildKnnGraphIndexIfUnhealthy(spark, idx)
      .collect().head
    assert(r.getAs[Boolean]("rebuild"))   // the gauge DID trip…
    assert(!r.getAs[Boolean]("rebuilt"))  // …but there is nothing to rebuild
  }

  test("graph measured rebuild: a lost meta tier (pre-meta/crashed-build " +
      "index) rebuilds on defaults and RESTORES the meta anchor") {
    val idx = tempDir("gphrebm-").toString + "/idx"
    GraphAnn.writeKnnGraphIndex(emb(60), idx, k = 4, rounds = 1)
    graft.core.SidecarFs.deleteTree(
      Manifest.resolve(idx, "meta")) // simulate the legacy layout
    val gauge = GraphAnn.knnGraphIndexHealth(spark, idx).collect().head
    assert(gauge.getAs[Long]("health_micro") === -1L) // unknown anchor
    assert(gauge.getAs[Boolean]("rebuild"))
    val r = GraphAnn.rebuildKnnGraphIndexIfUnhealthy(spark, idx)
      .collect().head
    assert(r.getAs[Boolean]("rebuilt"))
    // the rebuild restored the meta tier — the fallback fires ONCE
    val post = GraphAnn.knnGraphIndexHealth(spark, idx).collect().head
    assert(post.getAs[Long]("health_micro") === 1000000L)
    assert(!post.getAs[Boolean]("rebuild"))
  }

  test("graph measured rebuild: no trip ⇒ strict no-op; a health trip " +
      "re-descends the surviving codes and restores the anchor") {
    val emb120 = emb(120)
    val idx = tempDir("gphreb-").toString + "/idx"
    // plant a twin of vector 0 so the post-rebuild walk has a recall
    // gate, then delete 80 of 121 nodes to trip the health gauge
    val twinId = 900001L
    GraphAnn.writeKnnGraphIndex(
      emb120.unionByName(emb(1).select(lit(twinId).as("vec_id"),
        col("embedding"))), idx, k = 8, rounds = 1)
    val noop = GraphAnn.rebuildKnnGraphIndexIfUnhealthy(spark, idx)
      .collect().head
    assert(!noop.getAs[Boolean]("rebuild"))
    assert(!noop.getAs[Boolean]("rebuilt"))
    assert(noop.getAs[Long]("health_micro") === 1000000L)
    import SparkSpec.spark.implicits._
    GraphAnn.deleteFromKnnGraphIndex(spark, idx,
      (40L until 120L).toDF("vec_id"))
    val r = GraphAnn.rebuildKnnGraphIndexIfUnhealthy(spark, idx)
      .collect().head
    assert(r.getAs[Boolean]("rebuild"), r.toString)
    assert(r.getAs[Boolean]("rebuilt"))
    val post = GraphAnn.knnGraphIndexHealth(spark, idx).collect().head
    assert(post.getAs[Long]("health_micro") === 1000000L)
    assert(post.getAs[Boolean]("entry_connected"))
    assert(!post.getAs[Boolean]("rebuild"))
    assert(post.getAs[Long]("nodes") === 41L) // 40 survivors + twin
    // the planted twin is reachable through the REBUILT graph
    val found = GraphAnn.searchKnnGraphIndexed(
        emb(1), idx, k = 5, beam = 6, steps = 3)
      .collect().map(_.getAs[Long]("cand_id"))
    assert(found.contains(twinId), found.mkString(","))
  }

  test("ivfpq drift gauge on a PRE-r15 pq_meta layout (no anchor/nlist " +
      "columns): degrades to (-1, rebuild) instead of throwing, and the " +
      "actuator rebuilds with nlist inferred from the centroid tier") {
    val idx = tempDir("pqlegacy-").toString + "/idx"
    Similarity.writeIvfPqIndex(emb(200), idx, nlist = 8, m = 8, ksub = 16)
    // regress the published meta to the old 4-column layout
    val dsub = spark.read.parquet(Manifest.resolve(idx, "pq_meta"))
      .collect().head.getAs[Int]("dsub")
    Seq((8, 16, dsub, true)).toDF("m", "ksub", "dsub", "has_vectors")
      .coalesce(1).write.mode("overwrite")
      .parquet(Manifest.resolve(idx, "pq_meta"))
    val g = Similarity.ivfPqIndexDrift(spark, idx).collect().head
    assert(g.getAs[Long]("build_n") === -1L)
    assert(g.getAs[Boolean]("rebuild"))
    val r = Similarity.rebuildIvfPqIndexIfDrifted(spark, idx).collect().head
    assert(r.getAs[Boolean]("rebuilt"), r.toString)
    val post = Similarity.ivfPqIndexDrift(spark, idx).collect().head
    assert(post.getAs[Long]("drift_micro") === 1000000L)
    assert(!post.getAs[Boolean]("rebuild"))
    // nlist was inferred from the quantizer itself: 8 cells survive
    assert(spark.read.parquet(Manifest.resolve(idx, "centroids"))
      .count() === 8L)
  }

  test("crashed-before-data-tiers builds (all three families): the " +
      "gauge reports rebuild-pressure and the actuator reports " +
      "rebuilt=false — never an AnalysisException mid-maintenance") {
    import SparkSpec.spark.implicits._
    // IVF: preliminary meta landed, postings never did
    val ivf = tempDir("ivfcrash-").toString + "/idx"
    Seq((4, -1L, -1L)).toDF("nlist", "build_n", "build_dist_sum_micro")
      .coalesce(1).write.parquet(s"$ivf/meta")
    val g1 = Similarity.ivfIndexDrift(spark, ivf).collect().head
    assert(g1.getAs[Boolean]("rebuild"))
    val r1 = Similarity.rebuildIvfIndexIfDrifted(spark, ivf).collect().head
    assert(r1.getAs[Boolean]("rebuild") && !r1.getAs[Boolean]("rebuilt"))
    // IVF-PQ: quantizer tiers + preliminary pq_meta landed,
    // codes/vectors never did
    val pq = tempDir("pqcrash-").toString + "/idx"
    Seq((0, Seq(0.0, 0.0)), (1, Seq(1.0, 1.0))).toDF("cell", "centroid")
      .coalesce(1).write.parquet(s"$pq/centroids")
    Seq((8, 16, 2, true, 2, -1L, -1L))
      .toDF("m", "ksub", "dsub", "has_vectors", "nlist",
        "build_n", "build_dist_sum_micro")
      .coalesce(1).write.parquet(s"$pq/pq_meta")
    val g2 = Similarity.ivfPqIndexDrift(spark, pq).collect().head
    assert(g2.getAs[Boolean]("rebuild"))
    val r2 = Similarity.rebuildIvfPqIndexIfDrifted(spark, pq).collect().head
    assert(r2.getAs[Boolean]("rebuild") && !r2.getAs[Boolean]("rebuilt"))
    // graph: meta-first discipline — meta landed, codes/graph never did
    val gph = tempDir("gphcrash-").toString + "/idx"
    Seq((42L, 8, 2, -1L, -1L))
      .toDF("seed", "k", "rounds", "build_nodes", "build_edges")
      .coalesce(1).write.parquet(s"$gph/meta")
    val g3 = GraphAnn.knnGraphIndexHealth(spark, gph).collect().head
    assert(g3.getAs[Boolean]("rebuild"))
    assert(g3.getAs[Long]("health_micro") === -1L)
    val r3 = GraphAnn.rebuildKnnGraphIndexIfUnhealthy(spark, gph)
      .collect().head
    assert(r3.getAs[Boolean]("rebuild") && !r3.getAs[Boolean]("rebuilt"))
  }

  test("graph health: a crash between the graph and entry writes (entry " +
      "tier missing) reports disconnected-entry rebuild-pressure, and " +
      "the rebuild restores the entry") {
    val idx = tempDir("gphentry-").toString + "/idx"
    GraphAnn.writeKnnGraphIndex(emb(50), idx, k = 4, rounds = 1)
    graft.core.SidecarFs.deleteTree(Manifest.resolve(idx, "entry"))
    val g = GraphAnn.knnGraphIndexHealth(spark, idx).collect().head
    assert(!g.getAs[Boolean]("entry_connected"))
    assert(g.getAs[Boolean]("rebuild"))
    val r = GraphAnn.rebuildKnnGraphIndexIfUnhealthy(spark, idx)
      .collect().head
    assert(r.getAs[Boolean]("rebuilt"), r.toString)
    val post = GraphAnn.knnGraphIndexHealth(spark, idx).collect().head
    assert(post.getAs[Boolean]("entry_connected"))
    assert(!post.getAs[Boolean]("rebuild"))
  }
}
