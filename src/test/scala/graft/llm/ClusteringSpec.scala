package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Planted-cluster ground truth for k-means (iterative — the DuckDB
  * oracle cannot express it, so q_cluster_kmeans is rows-only and this
  * spec is its correctness gate). */
class ClusteringSpec extends SparkSpec {

  /** 30 vectors in 3 well-separated blobs around (10,0,0,0), (0,10,0,0),
    * (0,0,10,0); deterministic per-id offsets stand in for noise. */
  private lazy val blobs = {
    import SparkSpec.spark.implicits._
    val centers = Seq(
      Array(10.0, 0.0, 0.0, 0.0),
      Array(0.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 0.0))
    (0 until 30).map { i =>
      val c = centers(i % 3)
      val off = (i / 3) * 0.05 - 0.2
      (i.toLong, c.map(_ + off).map(_.toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("kmeans recovers three planted blobs exactly") {
    val out = Clustering.kmeans(blobs, "vec_id", "embedding", k = 3, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.size == 30)
    // every member of a blob lands in the same cluster, and the three
    // blobs land in three different clusters
    val byBlob = (0 until 3).map(b => out.filterKeys(_ % 3 == b).values.toSet)
    assert(byBlob.forall(_.size == 1), s"blob split across clusters: $byBlob")
    assert(byBlob.flatten.toSet.size == 3, s"blobs merged: $byBlob")
  }

  test("wide-dim exploded Lloyd update matches the wide-aggregate path " +
      "(centroids, inertia, assignments) and engages above the threshold") {
    import SparkSpec.spark.implicits._
    // d=96 stays below the 128 threshold, so forcing each path pins
    // parity of the two aggregate shapes on identical data
    val d = 96
    val wide = (0 until 24).map { i =>
      val base = Array.tabulate(d)(j =>
        (if (j % 3 == i % 3) 10.0 else 0.0) + (i / 3) * 0.05 - 0.2)
      (i.toLong, base.map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val (cA, inA) = Clustering.trainCentroidsDiag(wide, "vec_id", "embedding",
      k = 3, iters = 4, explodedUpdate = Some(false))
    val (cB, inB) = Clustering.trainCentroidsDiag(wide, "vec_id", "embedding",
      k = 3, iters = 4, explodedUpdate = Some(true))
    (cA zip cB).zipWithIndex.foreach { case ((a, b), c) =>
      (a zip b).zipWithIndex.foreach { case ((x, y), j) =>
        assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)),
          s"centroid $c dim $j: wide=$x exploded=$y") }
    }
    (inA zip inB).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))) }
    // assignments are integer-identical (blobs are well separated)
    val asgA = Clustering.assignTo(wide, "vec_id", "embedding", cA)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val asgB = Clustering.assignTo(wide, "vec_id", "embedding", cB)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(asgA == asgB)
    // and the default path auto-engages the exploded shape above the
    // threshold without changing the planted-blob outcome
    val big = (0 until 24).map { i =>
      val base = Array.tabulate(256)(j =>
        (if (j % 3 == i % 3) 10.0 else 0.0) + (i / 3) * 0.05 - 0.2)
      (i.toLong, base.map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val out = Clustering.kmeans(big, "vec_id", "embedding", k = 3, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byBlob = (0 until 3).map(b => out.filterKeys(_ % 3 == b).values.toSet)
    assert(byBlob.forall(_.size == 1) && byBlob.flatten.toSet.size == 3)
  }

  test("kmeans is deterministic across reruns") {
    val a = Clustering.kmeans(blobs, "vec_id", "embedding", k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    val b = Clustering.kmeans(blobs, "vec_id", "embedding", k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(a == b)
  }

  test("empty cluster keeps its previous centroid instead of crashing") {
    import SparkSpec.spark.implicits._
    // two far blobs, k=3: one seed centroid is orphaned immediately
    val twoBlobs = (0 until 10).map { i =>
      val base = if (i % 2 == 0) 100.0 else -100.0
      (i.toLong, Array(base.toFloat, 0f, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val out = Clustering.kmeans(twoBlobs, "vec_id", "embedding", k = 3, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.size == 10)
    val even = out.filterKeys(_ % 2 == 0).values.toSet
    val odd = out.filterKeys(_ % 2 == 1).values.toSet
    assert(even.size == 1 && odd.size == 1 && even != odd)
  }

  test("sampled training (trainFraction) still recovers the blobs and " +
      "assigns every row") {
    import SparkSpec.spark.implicits._
    // Blob membership (i/2)%3: the 3 lowest ids the 0.5 hash band keeps
    // (0, 3, 5) land in three DIFFERENT blobs, so lowest-id-of-sample
    // seeding starts one centroid per blob. (Seeding quality under
    // sampling is the caller's fixture concern — the library contract is
    // determinism + full-corpus assignment, which this pins too.)
    val centers = Seq(
      Array(10.0, 0.0, 0.0, 0.0),
      Array(0.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 0.0))
    val sampledBlobs = (0 until 30).map { i =>
      val c = centers((i / 2) % 3)
      val off = (i / 6) * 0.05 - 0.1
      (i.toLong, c.map(_ + off).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val out = Clustering.kmeans(sampledBlobs, "vec_id", "embedding", k = 3,
        iters = 5, trainFraction = 0.5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // assignment covers the FULL corpus even though centroids trained on
    // the deterministic half-sample
    assert(out.size == 30)
    val byBlob = (0 until 3).map(b =>
      out.filterKeys(i => (i / 2) % 3 == b).values.toSet)
    assert(byBlob.forall(_.size == 1), s"blob split across clusters: $byBlob")
    assert(byBlob.flatten.toSet.size == 3, s"blobs merged: $byBlob")
    // deterministic: the hash-band sample is rerun-stable
    val again = Clustering.kmeans(sampledBlobs, "vec_id", "embedding", k = 3,
        iters = 5, trainFraction = 0.5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == again)
  }

  test("trainFraction = 1 is the identity (no sample filter in the plan)") {
    assert(Clustering.trainSample(blobs, "vec_id", 1.0) eq blobs)
    assertThrows[IllegalArgumentException] {
      Clustering.trainSample(blobs, "vec_id", 0.0)
    }
    assertThrows[IllegalArgumentException] {
      Clustering.trainSample(blobs, "vec_id", 1.5)
    }
  }

  test("rejects k larger than the corpus") {
    import SparkSpec.spark.implicits._
    val tiny = Seq((1L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException] {
      Clustering.kmeans(tiny, "vec_id", "embedding", k = 5, iters = 1)
    }
  }

  test("a failing concurrent quantizer training ends both trainers and " +
      "leaves no training copy cached") {
    import org.apache.spark.graftshim.GraftSparkInternals.drainListenerBus
    val sc = spark.sparkContext
    // 6 vectors: too few to seed 10 coarse cells, enough for ksub = 4
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 6L)
    assert(corpus.count() == 6L)
    val persisted = sc.getPersistentRDDs.keySet
    val err = intercept[IllegalArgumentException] {
      Similarity.writeIvfPqIndex(corpus,
        tempDir("train-fail-").toString + "/idx", nlist = 10, m = 8, ksub = 4)
    }
    assert(err.getMessage.contains("to seed 10 clusters"), err.getMessage)
    drainListenerBus(sc)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      sc.statusTracker.getActiveJobIds.toSeq)
    assert(sc.getPersistentRDDs.keySet == persisted)
  }

  test("kmeansWithInertia: Lloyd contraction holds and the sweep converges " +
      "on the blobs") {
    val (assigned, inertia) = Clustering.kmeansWithInertia(
      blobs, "vec_id", "embedding", k = 3, iters = 5)
    assert(assigned.count() == 30)
    assert(inertia.length == 5)
    assert(inertia.forall(_ >= 0.0))
    // non-increasing per Lloyd's contraction (tolerance for FP sum order)
    inertia.indices.drop(1).foreach(t =>
      assert(inertia(t) <= inertia(t - 1) * (1 + 1e-9),
        s"inertia rose at iteration $t: ${inertia.toSeq}"))
    // blob recovery implies the final inertia is the within-blob spread,
    // far below the seed round's (the 3 lowest-id seeds all sit in
    // different blobs here, but their spread still dwarfs convergence)
    assert(inertia.last <= inertia.head)
  }

  test("kCenterGreedy: farthest-first traversal — max-norm seed, each " +
      "pick is the true farthest point, d2_sel never increases") {
    val s = spark
    import s.implicits._
    // a line of points at x = 0, 1, 10, 11, 30 (y = 0): seed is 30
    // (max norm), then 0 (d² from 30 = 900), then 10 or 11 — 10 is
    // 100 from 0 and 400 from 30 -> min 100; 11 -> min 121; 1 -> 1.
    // So third pick is 11 (min-dist 121), fourth 10? after 11: 10's
    // min dist becomes 1. 1's min dist is 1. tie -> lower id.
    val pts = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(10.0f, 0.0f)), (4L, Seq(11.0f, 0.0f)),
      (5L, Seq(30.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Clustering.kCenterGreedy(pts, "vec_id", "embedding", k = 4)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // milli-quantized: 1 unit = 1000 -> d² scales by 1e6
    assert(got.toSeq === Seq(
      (0, 5L, 0L),
      (1, 1L, 900L * 1000000L),
      (2, 4L, 121L * 1000000L),
      (3, 2L, 1L * 1000000L)))
    // non-increasing selection distances after the seed
    val ds = got.drop(1).map(_._3)
    ds.indices.drop(1).foreach(i => assert(ds(i) <= ds(i - 1)))
  }

  test("kCenterGreedy: exact duplicate vectors are never re-selected " +
      "(id exclusion, not distance)") {
    val s = spark
    import s.implicits._
    // three distinct positions, each duplicated; k=3 must pick three
    // DISTINCT positions even though duplicates tie at distance 0
    val pts = Seq(
      (1L, Seq(0.0f)), (2L, Seq(0.0f)),
      (3L, Seq(5.0f)), (4L, Seq(5.0f)),
      (5L, Seq(9.0f)), (6L, Seq(9.0f))).toDF("vec_id", "embedding")
    val got = Clustering.kCenterGreedy(pts, "vec_id", "embedding", k = 3)
      .orderBy("step").collect().map(_.getLong(1)).toSeq
    assert(got.size === 3)
    // positions: 9 (max norm), 0 (farthest), 5 (next) — lowest dup ids
    assert(got === Seq(5L, 1L, 3L))
  }
}
