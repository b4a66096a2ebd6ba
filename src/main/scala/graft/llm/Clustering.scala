package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorExpressions

/** Embedding clustering for corpus curation (domain balancing, diversity
  * sampling, near-dup triage — the step after dedup in a training-data
  * pipeline).
  *
  * Reference anchor: the reference has no clustering; this extends the
  * engine's embedding family (`Similarity`) per the builder brief's
  * "operations a large-scale training-data pipeline would need".
  *
  * Scale shape: Lloyd's k-means where each iteration is ONE corpus scan.
  * Assignment is a per-row codegen'd expression over plan-literal
  * centroids (k×dim doubles travel with the task closure — no join, no
  * shuffle of vectors); the update step is one k-group hash aggregate of
  * per-dimension means (map-side combined, k rows out). Driver state is
  * k×dim doubles per round — corpus size never reaches the driver, so the
  * same plan runs at 100 TB. The two tiny `collect()`s (k rows each) are
  * the deliberate driver-side fixed point of the iteration, not a data
  * path.
  */
object Clustering {

  /** Per-row distance-score array to every centroid: the surrogate
    * |c|² − 2·v·c, monotone in the squared distance |v − c|², so its
    * argmin is the nearest centroid and ties break to the lowest index
    * (array_position finds the first minimum). One
    * [[graft.functions.MatrixScoresExpr]] computes the whole array in a
    * compiled loop over the centroids, so the generated code does not
    * grow with their number. Shared by the k-means assignment, IVF cell
    * routing ([[graft.llm.Similarity.ivfTopK]]), IVF-PQ encoding and the
    * drift gauge, so none of them can diverge. */
  private[llm] def centroidScores(v: Column,
                                  centroids: Array[Array[Double]]): Column =
    VectorExpressions.l2Scores(v, centroids)

  private def assign(df: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    df.withColumn("d", centroidScores(col("v"), centroids))
      .withColumn("cluster",
        (array_position(col("d"), array_min(col("d"))) - 1).cast("int"))
      .drop("d")

  /** Deterministic training subsample: keep rows whose 64-bit id hash
    * lands in the first `fraction` of a fixed 1e6-wide band. Rerun- and
    * partitioning-stable, needs no `count()` pre-scan, and `fraction = 1`
    * is the identity (no filter enters the plan). This is the 100 TB
    * training path: quantizer quality needs a bounded sample (FAISS-style
    * practice), never `iters` full-corpus scans — callers pass e.g. 1e-4
    * at petabyte scale and every Lloyd iteration scans only the sample. */
  private[llm] def trainSample(vecs: DataFrame, idCol: String,
                               fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1.0,
      s"trainFraction must be in (0, 1], got $fraction")
    if (fraction >= 1.0) vecs
    else vecs.filter(pmod(xxhash64(col(idCol)), lit(1000000L)) <
      lit(math.max(1L, math.round(fraction * 1000000))))
  }

  /** Train Lloyd's k-means centroids over `vecCol` and return them as
    * driver-side k×dim doubles (the fixed-point state — corpus data never
    * reaches the driver). Deterministic: seeded from the k lowest-`idCol`
    * vectors, argmin ties to the lowest centroid index. Also the coarse
    * quantizer trainer for [[graft.llm.Similarity.ivfTopK]].
    * `trainFraction` < 1 trains on the deterministic [[trainSample]]
    * subsample (assignment still covers every row — only the centroid
    * fixed point sees the sample). */
  private[llm] def trainCentroids(vecs: DataFrame, idCol: String, vecCol: String,
                                  k: Int, iters: Int,
                                  trainFraction: Double = 1.0): Array[Array[Double]] =
    trainCentroidsDiag(vecs, idCol, vecCol, k, iters, trainFraction)._1

  /** [[trainCentroids]] plus the per-iteration inertia sequence: element t
    * is Σ min_c |v−c_t|² over the training rows, measured against the
    * centroids entering iteration t — computed inside the SAME aggregate
    * scan as the centroid update (one extra sum column, no extra pass).
    * Lloyd's contraction property makes the sequence non-increasing in
    * exact arithmetic; callers surface that as an accuracy-contract
    * boolean (with an FP-rounding tolerance). */
  /** Above this dimensionality the Lloyd update switches from `dim`
    * separate avg columns to the posexplode + (cluster, dim) hash
    * aggregate: thousands of aggregate expressions per round are a
    * codegen-size and planner-time hazard at production embedding dims
    * (768–4096), where the exploded shape stays flat in `dim` (more
    * narrow rows, constant expression count). Below it the wide
    * aggregate wins — fewer rows through the exchange, one combine per
    * partition. */
  private[llm] val WideDimUpdateThreshold = 128

  private[llm] def trainCentroidsDiag(
      vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int,
      trainFraction: Double = 1.0,
      explodedUpdate: Option[Boolean] = None): (Array[Array[Double]], Array[Double]) = {
    require(k > 0, s"k must be positive, got $k")
    require(iters > 0, s"iters must be positive, got $iters")
    val train = trainSample(vecs, idCol, trainFraction)
    // One tokenized copy serves all `iters` scans (Spark does not reuse
    // non-exchange subtrees across actions).
    val cached = train
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      var centroids: Array[Array[Double]] =
        cached.orderBy(col(idCol)).limit(k).collect()
          .map(_.getSeq[Double](1).toArray)
      require(centroids.length == k,
        s"need at least $k vectors to seed $k clusters, got ${centroids.length}")
      val dim = centroids.head.length
      val exploded = explodedUpdate.getOrElse(dim > WideDimUpdateThreshold)
      val inertia = new Array[Double](iters)

      var round = 0
      while (round < iters) {
        // min surrogate score is |c|²−2vc; adding |v|² recovers |v−c|², so
        // the per-cluster sum rides the update aggregate for free
        val assigned = cached
          .withColumn("d", centroidScores(col("v"), centroids))
          .withColumn("cluster",
            (array_position(col("d"), array_min(col("d"))) - 1).cast("int"))
        // deep copy: the exploded path mutates inner arrays per (cluster,
        // dim) row, and sharing them with `centroids` would alias the
        // lost-cluster keep-previous contract
        val next = centroids.map(_.clone())
        if (!exploded) {
          val meanCols = (0 until dim).map(i =>
            avg(element_at(col("v"), i + 1)).as(s"m$i"))
          val sseCol = sum(array_min(col("d")) +
            VectorExpressions.dotProduct(col("v"), col("v"))).as("sse")
          val means = assigned
            .groupBy(col("cluster"))
            .agg(meanCols.head, (meanCols.tail :+ sseCol): _*)
            .collect()
          inertia(round) = means.map(_.getDouble(dim + 1)).sum
          means.foreach { r =>
            next(r.getInt(0)) = Array.tabulate(dim)(i => r.getDouble(i + 1))
          }
        } else {
          // wide-dim shape: one narrow (cluster, i, x) row per vector
          // element, ONE hash aggregate of k·dim groups — expression count
          // constant in dim, so codegen/planner cost stays flat to d=4096.
          // The per-row SSE rides the i=0 slot (every vector has one) so
          // the inertia still needs no second scan.
          val rows = assigned
            .select(col("cluster"),
              (array_min(col("d")) +
                VectorExpressions.dotProduct(col("v"), col("v"))).as("sse"),
              posexplode(col("v")).as(Seq("i", "x")))
            .groupBy(col("cluster"), col("i"))
            .agg(avg(col("x")).as("m"),
              sum(when(col("i") === 0, col("sse"))).as("ssepart"))
            .collect()
          inertia(round) = rows.iterator
            .filter(r => r.getInt(1) == 0 && !r.isNullAt(3))
            .map(_.getDouble(3)).sum
          rows.foreach { r =>
            next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
          }
        }
        centroids = next
        round += 1
      }
      (centroids, inertia)
    } finally cached.unpersist(blocking = false)
  }

  /** Train all `m` product-quantization subspace codebooks at once: ONE
    * corpus scan per Lloyd iteration instead of one per (subspace ×
    * iteration). Rows explode to (s, subv) — m·N narrow rows — the
    * m×ksub×dsub codebooks ride as one plan literal indexed by the
    * subspace column, and the update is a single (s, cluster) hash
    * aggregate collecting m·ksub rows. Seeding matches
    * [[trainCentroids]]: per subspace, the ksub lowest-id subvectors.
    * Driver round trips drop from m·iters to iters — the difference
    * between 24 sequential mini-jobs and 3 at any corpus size.
    */
  private[llm] def trainSubspaceCodebooks(
      vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, dsub: Int, ksub: Int, iters: Int,
      trainFraction: Double = 1.0): IndexedSeq[Array[Array[Double]]] = {
    require(m > 0 && ksub > 0 && iters > 0, "m, ksub, iters must be positive")
    val train = trainSample(vecs, idCol, trainFraction)
    val subRows = train
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .select(col("id"), posexplode(array((0 until m).map(s =>
        slice(col("v"), s * dsub + 1, dsub)): _*)).as(Seq("s", "subv")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    try {
      // seed: the ksub lowest-id subvectors per subspace, in id order
      // (drawn from the training sample so every seed id exists in subRows)
      val seed = subRows
        .join(broadcast(train.select(col(idCol).as("id"))
          .orderBy(col("id")).limit(ksub)), "id")
        .orderBy(col("s"), col("id"))
        .collect()
      require(seed.length == m * ksub,
        s"need at least $ksub vectors to seed $ksub clusters per subspace")
      val books: Array[Array[Array[Double]]] = Array.tabulate(m, ksub) { (s, c) =>
        seed(s * ksub + c).getSeq[Double](2).toArray
      }

      var round = 0
      while (round < iters) {
        val bookLit = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
        val normLit = typedLit(books.map(_.map(b => b.map(x => x * x).sum).toSeq).toSeq)
        val scores = array((0 until ksub).map { c =>
          element_at(element_at(normLit, col("s") + 1), c + 1) -
            lit(2.0) * VectorExpressions.dotProduct(col("subv"),
              element_at(element_at(bookLit, col("s") + 1), c + 1))
        }: _*)
        val meanCols = (0 until dsub).map(i =>
          avg(element_at(col("subv"), i + 1)).as(s"m$i"))
        val means = subRows
          .withColumn("d", scores)
          .withColumn("cluster",
            (array_position(col("d"), array_min(col("d"))) - 1).cast("int"))
          .groupBy(col("s"), col("cluster"))
          .agg(meanCols.head, meanCols.tail: _*)
          .collect()
        means.foreach { r =>
          books(r.getInt(0))(r.getInt(1)) =
            Array.tabulate(dsub)(i => r.getDouble(i + 2))
        }
        round += 1
      }
      books.toIndexedSeq
    } finally subRows.unpersist(blocking = false)
  }

  /** Assign rows of `vecs` to the nearest of the given centroids; returns
    * (idCol, cluster). Pure per-row expression work over plan-literal
    * centroids — no shuffle. */
  private[llm] def assignTo(vecs: DataFrame, idCol: String, vecCol: String,
                            centroids: Array[Array[Double]]): DataFrame =
    assign(vecs.select(col(idCol), col(vecCol).cast("array<double>").as("v")),
        centroids)
      .select(col(idCol), col("cluster"))

  /** Lloyd's k-means over `vecCol`; returns (idCol, cluster).
    *
    * Deterministic: initial centroids are the k lowest-`idCol` vectors
    * and argmin ties break to the lowest centroid index, so reruns give
    * identical assignments on identical data. A cluster that loses every
    * member keeps its previous centroid (no respawn heuristics).
    * `trainFraction` < 1 trains centroids on the deterministic
    * [[trainSample]] subsample; assignment still covers every row.
    */
  def kmeans(vecs: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int, trainFraction: Double = 1.0): DataFrame =
    assignTo(vecs, idCol, vecCol,
      trainCentroids(vecs, idCol, vecCol, k, iters, trainFraction))

  /** [[kmeans]] plus the per-iteration training inertia (see
    * [[trainCentroidsDiag]]): (assignments, inertia sequence). The inertia
    * sequence is non-increasing by Lloyd's contraction — the in-plan
    * accuracy contract q_cluster_kmeans surfaces to the oracle. */
  def kmeansWithInertia(vecs: DataFrame, idCol: String, vecCol: String,
                        k: Int, iters: Int,
                        trainFraction: Double = 1.0): (DataFrame, Array[Double]) = {
    val (centroids, inertia) =
      trainCentroidsDiag(vecs, idCol, vecCol, k, iters, trainFraction)
    (assignTo(vecs, idCol, vecCol, centroids), inertia)
  }

  /** k-center greedy coreset selection (Gonzalez 1985 farthest-point
    * traversal — the 2-approximation behind coreset/active-learning
    * data selection, e.g. Sener & Savarese 2018): seed with the
    * max-norm vector, then repeatedly add the point FARTHEST from the
    * selected set. Returns the k selected rows as (step, idCol,
    * d2_sel) — d2_sel is the squared distance to the previously
    * selected set at selection time (0 for the seed); the sequence is
    * non-increasing (each step covers the space more).
    *
    * INTEGER-EXACT: vectors quantize ONCE to milli-unit integers
    * (`floor(x·1000)` — pure double ops, then all distances are exact
    * BIGINT sums), so selection has no float-comparison ambiguity and
    * any engine replays the argmax bit for bit. Ties break to the
    * smallest id.
    *
    * Scale shape: k passes over the corpus (the published algorithm's
    * O(k·n)); each pass is one broadcast of the SINGLE newest center +
    * a running `least` against the cached min-distance column, and the
    * argmax plans as TakeOrderedAndProject (per-partition heaps, never
    * a global sort). Driver state is k quantized vectors — bounded, the
    * k-means contract. */
  def kCenterGreedy(vecs: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = vecs.sparkSession
    val q = vecs.select(col(idCol),
        expr(s"transform($vecCol, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("qv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def dist2(cvCol: String): Column = expr(
      s"aggregate(zip_with(qv, $cvCol, (a, b) -> (a - b) * (a - b)), " +
        "0L, (acc, x) -> acc + x)")
    val seedRow = q
      .withColumn("s",
        expr("aggregate(transform(qv, v -> v * v), 0L, (acc, x) -> acc + x)"))
      .orderBy(col("s").desc, col(idCol)).limit(1)
      .select(col(idCol), col("qv")).head()
    val selected = scala.collection.mutable.ArrayBuffer[
      (Int, Long, Long)]((0, seedRow.getLong(0), 0L))
    def centerDf(r: org.apache.spark.sql.Row) = {
      import spark.implicits._
      Seq(r.getAs[scala.collection.Seq[Long]](1).toSeq).toDF("cv")
    }
    var cur = q.crossJoin(broadcast(centerDf(seedRow)))
      .withColumn("md", dist2("cv")).drop("cv")
      .persist(StorageLevel.MEMORY_AND_DISK)
    var step = 1
    while (step < k) {
      // exclude already-selected ids: with duplicate vectors in the
      // corpus the global md argmax could otherwise re-pick a selected
      // point once every remaining distance is 0
      val sel = cur.filter(!col(idCol).isInCollection(selected.map(_._2)))
        .orderBy(col("md").desc, col(idCol)).limit(1)
        .select(col(idCol), col("qv"), col("md")).head()
      selected += ((step, sel.getLong(0), sel.getLong(2)))
      if (step < k - 1) {
        val next = cur.crossJoin(broadcast(centerDf(sel)))
          .withColumn("md", least(col("md"), dist2("cv"))).drop("cv")
          .persist(StorageLevel.MEMORY_AND_DISK)
        // materialize BEFORE dropping cur's cache — unpersisting first
        // would force every later pass to rebuild the whole distance-
        // update chain from q (O(k²·n) instead of the documented O(k·n))
        next.count()
        cur.unpersist()
        cur = next
      }
      step += 1
    }
    cur.unpersist(); q.unpersist()
    import spark.implicits._
    selected.toSeq.toDF("step", idCol, "d2_sel")
  }
}
