package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Concurrent, Json, Manifest, SidecarFs, Stored}

/** Similarity search over an `embedding: array<float>` column.
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * streams the corpus once — correct baseline at any corpus size as long as
  * |queries| is broadcastable. The LSH paths are the scale-out variants:
  * rows hash to `tables × bucket` keys, so candidate generation is a bucket
  * equi-join, and — critically — only (id, id) pairs travel through the
  * candidate shuffle/dedup; vectors are joined back per distinct pair
  * (carrying 64-dim arrays through an exploded join was measured at 10-40×
  * the shuffle volume). Cosine math is a native codegen'd expression
  * (graft.functions.DotProductExpr) — no UDFs, no driver collection.
  */
object Similarity {

  /** Dimensionality of the embeddings tables (TESTDATA.md). */
  private[llm] val EmbeddingDim = 64

  /** Per-side row ceiling for the EXACT margin-mining anchor
    * ([[marginPairs]]): 5000×5000 = 25M cosines is the fixture-scale
    * budget; anything bigger belongs on the ANN candidate paths. */
  private[llm] val MaxExactMiningSide = 5000L

  /** Sequential dot product in double precision — a native codegen'd
    * expression (graft.functions.DotProductExpr) rather than a
    * zip_with/aggregate fold: same element-order accumulation (so DuckDB's
    * sequential `list_dot_product` stays bit-identical), none of the
    * per-element interpreted-lambda cost. */
  private[graft] def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  private[graft] def l2norm(v: Column): Column = sqrt(dot(v, v))

  private[llm] def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself). Query side is broadcast; ranking is
    * a per-query window on the raw similarity with id tie-break.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // norms hoisted BEFORE the join: computed once per row, not once per
    // (query, candidate) pair — same IEEE ops in the same order, so the
    // cosine values (and the oracle hash) are bit-identical
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", l2norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", l2norm(col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("cand_id"))
    c.join(broadcast(q), col("cand_id") =!= col("query_id"))
      .withColumn("cos_raw",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most-similar corpus vectors with a DIFFERENT label —
    * the negatives closest to the decision boundary, which is what makes
    * a contrastive batch informative. Same exact brute-force shape as
    * [[bruteForceTopK]] (query side broadcast, norms hoisted before the
    * join, per-query window with id tie-break) plus the label inequality
    * in the join condition — deterministic and oracle-exact; the ANN
    * variants swap in as the scale path exactly as for plain top-k. */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        vecCol: String = "embedding",
                        idCol: String = "vec_id",
                        labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col(labelCol).as("q_label"))
      .withColumn("q_norm", l2norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"),
        col(labelCol).as("c_label"))
      .withColumn("c_norm", l2norm(col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("cand_id"))
    c.join(broadcast(q), col("cand_id") =!= col("query_id") &&
        col("c_label") =!= col("q_label"))
      .withColumn("cos_raw",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"),
        col("c_label").as("neg_label"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** Global top-k most-similar pairs, exact all-pairs formulation.
    * Small-corpus ORACLE HELPER only: the `d1 < d2` theta join plans as a
    * nested-loop O(n²) — use [[bucketedTopPairs]] (same output contract)
    * for anything that has to scale.
    */
  def allPairsTopK(embeddings: DataFrame, k: Int,
                   vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val a = embeddings.select(col(idCol).as("d1"), col(vecCol).as("v1"))
    val b = embeddings.select(col(idCol).as("d2"), col(vecCol).as("v2"))
    a.join(b, col("d1") < col("d2"))
      .withColumn("cos_raw", cosine(col("v1"), col("v2")))
      .orderBy(col("cos_raw").desc, col("d1"), col("d2"))
      .limit(k)
      .select(col("d1"), col("d2"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** Deterministic random hyperplanes for sign-LSH, from a fixed seed. */
  private[llm] def hyperplanes(tables: Int, planes: Int, dim: Int,
                               seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables, planes, dim)(rnd.nextGaussian())
  }

  /** Sign-LSH bucket keys: one int key per table, bit p set iff
    * dot(vec, plane_p) >= 0. Pure per-row expression work. */
  private[llm] def lshKeys(vecCol: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    array(planes.map { tablePlanes =>
      tablePlanes.zipWithIndex.map { case (plane, p) =>
        when(dot(vecCol, typedLit(plane)) >= 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)

  /** (table_id, bucket, <idAs>) rows: one per input row per LSH table. The
    * projection is deliberately narrow — vectors never enter the bucket
    * join; they are joined back per distinct candidate pair. */
  private def bucketKeys(df: DataFrame, hp: Seq[Seq[Seq[Double]]],
                         idAs: String, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as(idAs), posexplode(lshKeys(col(vecCol), hp)))
      .withColumnRenamed("pos", "table_id")
      .withColumnRenamed("col", "bucket")

  /** Distinct (d1 < d2) id pairs sharing ≥1 sign-LSH bucket. */
  private def candidatePairs(embeddings: DataFrame, planes: Int, tables: Int,
                             vecCol: String, idCol: String): DataFrame = {
    val hp = hyperplanes(tables, planes, EmbeddingDim)
    // both sides of the bucket self-join read the same keyed projection:
    // persist so the tables×planes hyperplane dot products run once
    val keyed = Caches.track(bucketKeys(embeddings, hp, "id", vecCol, idCol))
    keyed.select(col("table_id"), col("bucket"), col("id").as("d1"))
      .join(keyed.select(col("table_id"), col("bucket"), col("id").as("d2")),
        Seq("table_id", "bucket"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct() // a pair may collide in several tables
  }

  /** Exact cosine for a set of (d1, d2) id pairs: vectors joined back per
    * pair (two narrow shuffle equi-joins on ids). */
  private def pairCosine(pairs: DataFrame, embeddings: DataFrame,
                         vecCol: String, idCol: String): DataFrame = {
    // norms ride the per-row side of the joins (computed once per
    // embedding, not once per candidate pair); same op order as the
    // inline cosine, so values are bit-identical
    val v1 = embeddings.select(col(idCol).as("d1"), col(vecCol).as("v1"))
      .withColumn("n1", l2norm(col("v1")))
    val v2 = embeddings.select(col(idCol).as("d2"), col(vecCol).as("v2"))
      .withColumn("n2", l2norm(col("v2")))
    pairs.join(v1, "d1").join(v2, "d2")
      .withColumn("cos_raw",
        dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
  }

  /** Global top-k most-similar pairs via sign-LSH bucketed candidates +
    * exact cosine on candidates only — the scale path for embedding
    * near-dup (same output contract as [[allPairsTopK]]). Every join is a
    * narrow equi-join; no nested-loop anywhere; the final top-k is a
    * TakeOrdered, not a global sort.
    *
    * Recall is governed by (planes, tables): collision probability per
    * table is (1 - θ/π)^planes. The defaults (planes=2, tables=24) are
    * sized for full top-k recall even on corpora whose best pairs are only
    * cos≈0.45 (true of the synthetic test embeddings — near the LSH
    * no-prune regime). Real near-dup corpora (target cos ≥ 0.9) should
    * raise `planes` (12-16), which makes the buckets genuinely selective;
    * see [[nearDupPairs]] for that configuration.
    */
  def bucketedTopPairs(embeddings: DataFrame, k: Int,
                       planes: Int = 2, tables: Int = 24,
                       vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    pairCosine(candidatePairs(embeddings, planes, tables, vecCol, idCol),
        embeddings, vecCol, idCol)
      .orderBy(col("cos_raw").desc, col("d1"), col("d2"))
      .limit(k)
      .select(col("d1"), col("d2"), round(col("cos_raw"), 4).as("cos_sim"))

  /** Threshold near-dup detection: all pairs with cosine ≥ minCos, via
    * sign-LSH candidates + exact cosine. This is the honest 100 TB shape:
    * at real near-dup thresholds (≥ 0.9) the 2^planes buckets shatter the
    * corpus and candidates ≈ true dup pairs + ε, so the cost is ~linear in
    * corpus size rather than O(n²). With a multiplicative-perturbation dup
    * (a scaled copy of a vector) sign-LSH recall is exactly 1: scaling by
    * a positive constant can never flip any plane's sign.
    */
  def nearDupPairs(embeddings: DataFrame, minCos: Double,
                   planes: Int = 16, tables: Int = 4,
                   vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    pairCosine(candidatePairs(embeddings, planes, tables, vecCol, idCol),
        embeddings, vecCol, idCol)
      .filter(col("cos_raw") >= minCos)
      .select(col("d1"), col("d2"), round(col("cos_raw"), 4).as("cos_sim"))

  /** Approximate top-k via IVF (inverted-file) cells: a k-means coarse
    * quantizer partitions the corpus into `nlist` cells; each query probes
    * its `nprobe` nearest cells and ranks exact cosine over only those
    * cells' vectors. The other classic ANN scale path next to sign-LSH
    * ([[lshTopK]]) — IVF cells adapt to the data distribution where LSH
    * buckets are data-oblivious.
    *
    * Scale shape: centroids are trained distributed (per-iteration scan +
    * k-row driver fixed point, see [[Clustering.trainCentroids]]) and then
    * ride the plan as literals — cell assignment is per-row codegen'd
    * expression work, NO shuffle of vectors. Candidate generation is one
    * broadcast equi-join of the (small) probed query×cell list against the
    * corpus; each corpus vector lives in exactly one cell so there is no
    * candidate dedup at all (vs LSH's multi-table distinct). The only
    * corpus-sized shuffle is the per-query top-k window. Probing
    * `nprobe = nlist` degenerates to exact brute force (recall 1) — the
    * correctness anchor the spec pins.
    */
  /** Cell assignment of `df` against a fixed coarse quantizer: the SAME
    * scoring expression as the k-means assignment (Clustering) so cell
    * routing can never diverge from the trained assignment — shared by
    * the in-memory path, the index write, and the index append (a drift
    * in any one would silently de-sync index writes from reads). */
  private def assignCells(df: DataFrame, centroids: Array[Array[Double]],
                          vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
      .withColumn("d", Clustering.centroidScores(col("c_vec"), centroids))
      .withColumn("cell",
        (array_position(col("d"), array_min(col("d"))) - 1).cast("int"))
      .drop("d")
      .withColumn("c_norm", l2norm(col("c_vec")))

  /** Probe table of a query set against a fixed quantizer: norms hoisted
    * before the explode, one (query_id, q_vec, q_norm, cell) row per
    * probed cell. */
  private def probeTable(queries: DataFrame,
                         centroids: Array[Array[Double]], nprobe: Int,
                         vecCol: String, idCol: String): DataFrame =
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", l2norm(col("q_vec")))
      .withColumn("d", Clustering.centroidScores(col("q_vec"), centroids))
      .select(col("query_id"), col("q_vec"), col("q_norm"),
        explode(probeCells(col("d"), centroids.length, nprobe)).as("cell"))

  /** The IVF ranking tail shared by the in-memory and indexed paths:
    * broadcast probe join on cell, exact cosine, per-query top-k. */
  private def rankProbed(cands: DataFrame, probed: DataFrame,
                         k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("cand_id"))
    cands.join(broadcast(probed), Seq("cell"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cos_raw",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** Centroid table of a persisted index as bounded driver state (nlist
    * rows — the k-means contract), read on the driver ([[Stored.collect]],
    * no job) and put in cell order there (a distributed sort of nlist
    * rows costs jobs). */
  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                            snap: Manifest.Snapshot): Array[Array[Double]] =
    Stored.collect(spark, snap.resolve("centroids"))
      .sortBy(_.getAs[Int]("cell"))
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)

  /** The stored form of a coarse quantizer: one (cell, centroid) row per
    * cell, in one file. */
  private def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                          centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1)
  }

  /** The stored form of PQ codebooks: one (subspace, code, centroid) row
    * per codeword, in one file. */
  private def codebooksDf(spark: org.apache.spark.sql.SparkSession,
                          pq: Pq): DataFrame = {
    import spark.implicits._
    pq.codebooks.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, j) => (s, j, c.toSeq) }
    }.toDF("subspace", "code", "centroid")
      .coalesce(1)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int, nprobe: Int, trainIters: Int = 3,
              vecCol: String = "embedding", idCol: String = "vec_id",
              trainFraction: Double = 1.0): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, nlist=$nlist], got $nprobe")
    val centroids = Clustering.trainCentroids(
      corpus, idCol, vecCol, nlist, trainIters, trainFraction)
    rankProbed(assignCells(corpus, centroids, vecCol, idCol),
      probeTable(queries, centroids, nprobe, vecCol, idCol), k)
  }

  /** Write the PERSISTED IVF index of a corpus — the ANN mirror of
    * [[Dedup.writeMinhashIndex]]: production builds the index ONCE and
    * every query batch reads only its probed slice, instead of re-training
    * centroids and re-assigning cells per run.
    *
    * Layout: `path/centroids` is the nlist×dim coarse quantizer (tiny —
    * KBs); `path/postings` is the corpus as narrow (cand_id, c_vec,
    * c_norm) rows partitioned BY CELL, so a query batch probing p
    * distinct cells lists and reads exactly p directories — the parquet
    * analogue of FAISS's inverted lists. At 100 TB the postings write is
    * one linear pass (assignment is per-row codegen'd expression work
    * against centroid literals, the only shuffle is the partitioned
    * write), and per-batch query cost becomes independent of corpus
    * growth outside the probed cells. */
  def writeIvfIndex(corpus: DataFrame, path: String, nlist: Int,
                    trainIters: Int = 3,
                    vecCol: String = "embedding", idCol: String = "vec_id",
                    trainFraction: Double = 1.0): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    IndexLifecycle.reset(path) // a fresh write supersedes any old manifest
    val centroids = Clustering.trainCentroids(
      corpus, idCol, vecCol, nlist, trainIters, trainFraction)
    // meta tier (the knnGraphIndexHealth discipline): preliminary row
    // FIRST (the graph-index crash rule — a build that dies mid-write
    // must leave the gauge reporting unknown-anchor rebuild-pressure,
    // never throwing), then the counted anchor publishes atomically
    // after the postings land. The anchor is the build-time mean
    // assignment distance [[ivfIndexDrift]] compares against, collected
    // via an Observation ON the postings write itself (the d2 column is
    // computed, observed, then dropped before the files land) — ZERO
    // extra passes over the corpus.
    Stored.write(ivfMetaDf(spark, nlist, GaugeSums(-1L, -1L)), s"$path/meta")
    Stored.write(centroidsDf(spark, centroids), s"$path/centroids")
    val postings = s"$path/postings"
    val built = writeGauged(assignCells(corpus, centroids, vecCol, idCol),
      centroids) { df => Stored.write(df, postings, "cell"); postings }
    IndexLifecycle.publishVersion(path, "meta", ivfMetaDf(spark, nlist, built))
  }

  /** The one-row IVF meta tier: nlist and the drift anchor. */
  private def ivfMetaDf(spark: org.apache.spark.sql.SparkSession, nlist: Int,
                        anchor: GaugeSums): DataFrame = {
    import spark.implicits._
    Seq((nlist, anchor.n, anchor.sum))
      .toDF("nlist", "build_n", "build_dist_sum_micro").coalesce(1)
  }

  /** The drift gauge's inputs over a set of gauge-tier rows: their
    * count and the sum of their [[assignDistMicroCol]]. Exact integers,
    * so the sums of disjoint row sets add up to the sums of their union,
    * in any order: a maintained sum equals a recomputed one bit for
    * bit. */
  private[llm] final case class GaugeSums(n: Long, sum: Long) {
    def +(o: GaugeSums): GaugeSums = GaugeSums(n + o.n, sum + o.sum)
    def json: String = Json.canonical(Map("n" -> n, "d2_micro_sum" -> sum))
  }

  private[llm] object GaugeSums {
    /** The sums a [[GaugeSums.json]] body holds; None for any other body
      * (empty, partial, or from another writer). */
    def parse(body: String): Option[GaugeSums] =
      scala.util.Try(Json.parseJson(body)).toOption.flatMap { m =>
        (m.get("n"), m.get("d2_micro_sum")) match {
          case (Some(n: Long), Some(s: Long)) => Some(GaugeSums(n, s))
          case _ => None
        }
      }
  }

  /** Name of the gauge record inside a gauge-tier dir (IVF `postings`,
    * IVF-PQ `vectors`): the [[GaugeSums]] of the rows its last full
    * write wrote. A plain append deletes it first; keyed ingests add
    * their deltas in their commit markers instead (see
    * [[maintainedSums]]). */
  private[llm] val GaugeFile = "_gauge.json"

  /** Hand the cell-assigned `vectors` to `write`, observing their
    * [[GaugeSums]] ON that write (the d2 column is computed, observed,
    * then dropped before the files land — zero extra passes). A plain
    * or hash-partitioned write: repartitionByRange would re-execute the
    * observed child for range sampling and double the counts (caught by
    * IndexHealthSpec). Returns `write`'s result and the sums. */
  private def observeSums[A](vectors: DataFrame,
                             centroids: Array[Array[Double]])(
      write: DataFrame => A): (A, GaugeSums) = {
    val obs = org.apache.spark.sql.Observation(
      s"ivf_gauge_${java.util.UUID.randomUUID()}")
    val a = write(vectors
      .withColumn("d2_micro", assignDistMicroCol(col("c_vec"), centroids))
      .observe(obs, sum(col("d2_micro")).as("s"), count(lit(1)).as("n"))
      .drop("d2_micro"))
    val m = obs.get
    (a, GaugeSums(m("n").asInstanceOf[Long],
      m("s") match { case null => 0L; case v => v.asInstanceOf[Long] }))
  }

  /** A FULL write of a gauge tier: [[observeSums]] over `write`, which
    * returns the dir it wrote, then the sums recorded in that dir's
    * [[GaugeFile]] — before the caller publishes it, like its schema
    * record. Returns the sums (a build's drift anchor). */
  private def writeGauged(vectors: DataFrame,
                          centroids: Array[Array[Double]])(
      write: DataFrame => String): GaugeSums = {
    val (dir, sums) = observeSums(vectors, centroids)(write)
    SidecarFs.writeStringAtomic(s"$dir/$GaugeFile", sums.json)
    sums
  }

  /** Per-row exact integer drift ingredient: the squared distance to
    * the ASSIGNED centroid (`|v|² + min(|c|² − 2 v·c)` — the same
    * scoring expression as cell assignment, so the gauge measures
    * exactly what routing pays), floor-quantized to micro BIGINT.
    * Integer sums of this column are order-free and rerun-exact. */
  private def assignDistMicroCol(vec: Column,
                                 centroids: Array[Array[Double]]): Column =
    floor((dot(vec, vec) +
        array_min(Clustering.centroidScores(vec, centroids))) * lit(1e6)
      + lit(0.5)).cast("long")

  /** The [[GaugeSums]] of `postings`, by a scan. */
  private def assignDistMicro(postings: DataFrame,
                              centroids: Array[Array[Double]]): GaugeSums = {
    val r = postings
      .select(assignDistMicroCol(col("c_vec"), centroids).as("d2_micro"))
      .agg(sum(col("d2_micro")), count(lit(1))).collect().head
    GaugeSums(r.getLong(1), if (r.isNullAt(0)) 0L else r.getLong(0))
  }

  /** The [[GaugeSums]] of gauge tier `tier` as the index maintains them,
    * read on the driver with no job: the live dir's [[GaugeFile]] plus
    * the delta in the commit marker of each keyed ingest batch with
    * files in its cell dirs ([[IndexLifecycle.keyedMarkerBodies]]).
    * None unless they provably cover every live file: the dir has no
    * record (a plain append deleted it, or the index predates records),
    * or a keyed batch has no marker (uncommitted) or a marker without a
    * whole delta (written before markers carried one). */
  private def maintainedSums(snap: Manifest.Snapshot,
                             tier: String): Option[GaugeSums] = {
    val live = snap.resolve(tier)
    for {
      base <- SidecarFs.readString(s"$live/$GaugeFile").flatMap(GaugeSums.parse)
      bodies <- IndexLifecycle.keyedMarkerBodies(snap.root,
        Dedup.listDirs(live, "cell=").map(d => s"$live/$d"))
      deltas = bodies.flatMap(GaugeSums.parse)
      if deltas.length == bodies.length
    } yield deltas.foldLeft(base)(_ + _)
  }

  /** Quantizer-DRIFT gauge of a persisted IVF index — the IVF member of
    * the measured-rebuild family ([[GraphAnn.knnGraphIndexHealth]] is
    * the graph one): appends assign new vectors with the FROZEN
    * centroids (the FAISS add-after-train contract), so as the corpus
    * drifts from the trained quantizer, vectors land ever farther from
    * their assigned centroids and probe recall decays invisibly. The
    * observable is the CURRENT mean squared assignment distance versus
    * the build-time value from the index's own meta:
    *
    *   drift_micro = mean_dist_now / mean_dist_build · 1e6
    *
    * exactly 1e6 on an untouched index AND under duplicate-population
    * growth (integer mean: (2s) div (2n) = s div n), rising only when
    * appended vectors genuinely sit farther out. `rebuild` trips above
    * `maxDriftMicro` (default 1 250 000 = mean distance 25% over
    * build). A zero build mean (every vector ON a centroid: nlist ≥ n
    * degenerate fixtures) reports 1e6 when still exact and trips
    * otherwise. Cost: driver reads and no job while the index maintains
    * its sums ([[maintainedSums]]: no pending tombstone, no plain append
    * since the last full postings write, every ingest batch committed);
    * one linear postings scan otherwise. Run it after each append
    * window, next to compactIvfIndexIfNeeded. Returns one row:
    * (build_n, n, drift_micro, rebuild). */
  def ivfIndexDrift(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String,
                    maxDriftMicro: Long = 1250000L): DataFrame =
    driftRow(spark, indexPath, "meta", "postings", maxDriftMicro)

  /** A drift gauge's one-row frame: (build_n, n, drift_micro, rebuild)
    * of gauge tier `tier` against meta tier `metaTier`'s anchor. */
  private def driftRow(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String, metaTier: String, tier: String,
                       maxDriftMicro: Long): DataFrame = {
    require(maxDriftMicro >= 0, "maxDriftMicro must be >= 0")
    import spark.implicits._
    val snap = Manifest.snapshot(indexPath)
    Seq(drift(spark, snap, metaRow(spark, snap, metaTier), tier, maxDriftMicro))
      .toDF("build_n", "n", "drift_micro", "rebuild")
  }

  /** The one row of meta tier `name` (IVF `meta`, IVF-PQ `pq_meta`),
    * read on the driver ([[Stored.collect]], no job). */
  private def metaRow(spark: org.apache.spark.sql.SparkSession,
                      snap: Manifest.Snapshot,
                      name: String): org.apache.spark.sql.Row = {
    val meta = Stored.collect(spark, snap.resolve(name))
    require(meta.length == 1, s"malformed index meta at ${snap.root}/$name")
    meta.head
  }

  /** The drift gauge of both flavours — (build_n, n, drift_micro,
    * rebuild) of gauge tier `tier` (IVF `postings`, IVF-PQ `vectors`)
    * from an already-read meta row. */
  private def drift(spark: org.apache.spark.sql.SparkSession,
                    snap: Manifest.Snapshot, meta: org.apache.spark.sql.Row,
                    tier: String,
                    maxDriftMicro: Long): (Long, Long, Long, Boolean) = {
    val fields = meta.schema.fieldNames.toSet
    require(!fields("has_vectors") || meta.getAs[Boolean]("has_vectors"),
      s"index at ${snap.root} was written with storeVectors=false — " +
        "the drift gauge measures the raw-vector tier; rebuild the " +
        "index with vectors to make it drift-gaugeable")
    // a preliminary meta (a build that crashed before its anchor write)
    // or a pq_meta written before the anchor columns existed (pre-r15
    // layout: m/ksub/dsub/has_vectors only) has no anchor, which is
    // itself rebuild-pressure — report (-1, rebuild) rather than divide
    // by a sentinel or crash on a getAs (the graph-index rule); the
    // rebuild actuator restores the anchor
    def anchor(f: String): Long = if (fields(f)) meta.getAs[Long](f) else -1L
    val (buildN, buildSum) = (anchor("build_n"), anchor("build_dist_sum_micro"))
    if (buildN < 0L || buildSum < 0L) return (buildN, -1L, -1L, true)
    // pending tombstones are excluded like every read path (and like
    // the compaction that will drop them): logically-deleted far-out
    // vectors must not trigger a needless rebuild. The maintained sums
    // cannot subtract them, so a pending tombstone means a scan.
    val tombstoned = Dedup.pendingTombstones(spark, snap.root)
    val cur = (if (tombstoned.isEmpty) maintainedSums(snap, tier) else None)
      .getOrElse(assignDistMicro(
        Dedup.exceptTombstoned(Stored.read(spark, snap.resolve(tier)),
          "cand_id", tombstoned),
        loadCentroids(spark, snap)))
    driftRatio(buildN, buildSum, cur.n, cur.sum, maxDriftMicro)
  }

  /** The drift gauges' shared arithmetic: (build_n, n, drift_micro,
    * rebuild) from the build anchor and the current sums. */
  private def driftRatio(buildN: Long, buildSum: Long, curN: Long,
                         curSum: Long,
                         maxDriftMicro: Long): (Long, Long, Long, Boolean) = {
    val buildMean = if (buildN == 0) 0L else buildSum / buildN
    val curMean = if (curN == 0) 0L else curSum / curN
    // saturate the ratio at Long.MaxValue: an extreme-drift/tiny-anchor
    // ratio must report a huge (tripping) figure, never wrap negative
    def sat(b: BigInt): Long =
      if (b > BigInt(Long.MaxValue)) Long.MaxValue else b.toLong
    val driftMicro =
      if (buildMean == 0L)
        (if (curMean == 0L) 1000000L
         else sat(BigInt(maxDriftMicro) + 1L))
      else sat(BigInt(curMean) * 1000000L / buildMean)
    (buildN, curN, driftMicro, driftMicro > maxDriftMicro)
  }

  /** Close the measured-rebuild loop ([[ivfIndexDrift]] is the gauge,
    * this is the ACTUATOR — DESIGN §3's index lifecycle): when drift
    * trips, RETRAIN the coarse quantizer on the index's CURRENT
    * postings (pending tombstones folded out first — logically-deleted
    * vectors must not vote on centroids), re-assign every surviving
    * vector, and publish centroids + postings + meta in ONE atomic
    * manifest write (an [[IndexLifecycle.maintain]] pass — a reader resolving
    * mid-rebuild must never route new-quantizer cells against old
    * postings). The new meta carries the retrained build anchor, so the
    * gauge returns to ≈1e6 by construction and the next drift episode
    * measures against the NEW quantizer. No trip ⇒ strictly a no-op
    * (nothing written, manifest untouched — spec-pinned).
    *
    * Scale shape: the drift gauge (no job while maintained) +
    * `trainIters` Lloyd scans over the (optionally
    * `trainFraction`-sampled) survivors + one linear
    * re-assignment write — the same cost as the original
    * [[writeIvfIndex]] over the current corpus, which is the floor for
    * any rebuild. Single maintenance writer, like every other
    * full-rewrite pass; pending tombstones are consumed (their ids are
    * gone from the new postings) and ingest commit markers pruned.
    *
    * Returns one row: the PRE-rebuild gauge (build_n, n, drift_micro,
    * rebuild) plus `rebuilt` — true iff the trip fired and the swap
    * published. */
  def rebuildIvfIndexIfDrifted(spark: org.apache.spark.sql.SparkSession,
                               indexPath: String,
                               maxDriftMicro: Long = 1250000L,
                               trainIters: Int = 3,
                               trainFraction: Double = 1.0): DataFrame = {
    require(maxDriftMicro >= 0, "maxDriftMicro must be >= 0")
    import spark.implicits._
    val snap = Manifest.snapshot(indexPath)
    val meta = metaRow(spark, snap, "meta") // the gauge's and the rebuild's
    val (gaugeN, gaugeCurN, gaugeDrift, trip) =
      drift(spark, snap, meta, "postings", maxDriftMicro)
    // a -1 anchor can mean a build that crashed BEFORE its data tiers
    // landed: the gauge correctly reports rebuild-pressure, but there
    // is nothing to rebuild FROM — report, never crash mid-maintenance
    // (r15 advice; the report-never-crash contract)
    val rebuilt = trip && SidecarFs.exists(snap.resolve("postings")) &&
      IndexLifecycle.maintain(spark, snap) { p =>
        val nlist = meta.getAs[Int]("nlist")
        retrainOn(p.except(p.read("postings")
            .select(col("cand_id"), col("c_vec")), "cand_id")) { survivors =>
          val centroids = Clustering.trainCentroids(
            survivors, "cand_id", "c_vec", nlist, trainIters, trainFraction)
          p.write("centroids", centroidsDf(spark, centroids))
          // the re-assignment pass doubles as the NEW build anchor
          val built = writeGauged(
            assignCells(survivors, centroids, "c_vec", "cand_id"),
            centroids)(p.write("postings", _, "cell"))
          p.write("meta", ivfMetaDf(spark, nlist, built))
        }
      }
    Seq((gaugeN, gaugeCurN, gaugeDrift, trip, rebuilt))
      .toDF("build_n", "n", "drift_micro", "rebuild", "rebuilt")
  }

  /** Run a rebuild `body` over the persisted `survivors` (the pass's
    * surviving raw vectors); false, with nothing written, when there are
    * none (nothing to retrain from after a total takedown: a reported
    * no-op, never a mid-maintenance crash). */
  private def retrainOn(survivors: DataFrame)(body: DataFrame => Unit): Boolean = {
    val kept = survivors.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try kept.count() > 0L && { body(kept); true }
    finally kept.unpersist(blocking = false)
  }

  /** APPEND new vectors to a persisted IVF index ([[writeIvfIndex]]) —
    * the maintenance half, mirroring [[Dedup.appendToMinhashIndex]]:
    * the coarse quantizer is FROZEN (new vectors are assigned with the
    * STORED centroids — retraining would silently re-cell the existing
    * postings out from under their directories), so an append is one
    * linear pass over the delta landing in the existing cell=N partition
    * dirs; nothing existing is rewritten. The FAISS add-after-train
    * contract: recall degrades only as far as the data drifts from the
    * trained quantizer, and a drifted index is rebuilt deliberately, not
    * incidentally. */
  def appendToIvfIndex(delta: DataFrame, indexPath: String,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id"): Unit = {
    val snap = Manifest.snapshot(indexPath)
    val centroids = loadCentroids(delta.sparkSession, snap)
    val postings = invalidateGauge(snap, "postings")
    assignCells(delta, centroids, vecCol, idCol)
      .write.mode("append").partitionBy("cell").parquet(postings)
  }

  /** Delete the [[GaugeFile]] of gauge tier `tier`'s live dir — before a
    * plain append writes a file into it, so a crash mid-append leaves
    * the gauge on its scan, never on a stale sum. Returns the dir. */
  private def invalidateGauge(snap: Manifest.Snapshot, tier: String): String = {
    val dir = snap.resolve(tier)
    SidecarFs.deleteFile(s"$dir/$GaugeFile")
    dir
  }

  /** COMPACT a persisted IVF index after many appends — the same
    * LSM/small-files decay (and the same maintenance pass,
    * [[IndexLifecycle.maintain]]) as [[Dedup.compactMinhashIndex]]: each
    * append lands one more file set per touched cell dir; compaction
    * rewrites the postings consolidated per cell into a fresh version
    * dir and publishes it with one atomic pointer write, consuming
    * pending tombstones. Centroids are untouched (KB-scale, never
    * appended to); reader output is unchanged (spec-pinned). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): Unit =
    rewriteIvf(spark, Manifest.snapshot(indexPath), None)

  /** Delete vectors from a persisted IVF index — the ANN mirror of
    * [[Dedup.deleteFromMinhashIndex]] (a takedown must remove the
    * POSTINGS, or probes keep surfacing deleted content as neighbors):
    * one broadcast anti-join over a full postings rewrite preserving
    * the cell layout ([[rewriteCells]]), published by the same
    * maintenance pass — an in-flight probe keeps reading the prior
    * COMPLETE version. The quantizer tiers (centroids/codebooks) are
    * FROZEN model state with no per-document rows, so they carry nothing
    * to delete. O(index) I/O = one compaction; batch requests into one
    * call. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, ids: DataFrame): Unit =
    rewriteIvf(spark, Manifest.snapshot(indexPath), Some(ids))

  /** The IVF maintenance pass: the postings without the deletion set. */
  private def rewriteIvf(spark: org.apache.spark.sql.SparkSession,
                         snap: Manifest.Snapshot, ids: Option[DataFrame]): Unit =
    IndexLifecycle.maintain(spark, snap, ids) { p =>
      rewriteCells(p, "postings", "c_vec", Some(loadCentroids(spark, snap)))
      true
    }

  /** Rewrite cell-partitioned tier `name` — (cell, cand_id, `payload`,
    * c_norm) rows — without the pass's deletion set, cell-clustered and
    * id-sorted in its cell partition dirs. Hash repartition, not range:
    * range SAMPLING re-executes the whole scan+anti-join child once more,
    * and cell pruning is directory-level, so range order buys nothing
    * (guide §2.4/r17). A gauge tier (`centroids` given) records the
    * [[GaugeSums]] of exactly the rows it keeps, observed before the
    * repartition ([[writeGauged]]). */
  private def rewriteCells(p: IndexLifecycle.Pass, name: String,
                           payload: String,
                           centroids: Option[Array[Array[Double]]] = None): Unit = {
    val kept = p.except(p.read(name)
        .select(col("cell").cast("int").as("cell"), col("cand_id"),
          col(payload), col("c_norm")), "cand_id")
    def write(df: DataFrame): String = p.write(name,
      df.repartition(col("cell"))
        .sortWithinPartitions(col("cell"), col("cand_id")), "cell")
    centroids match {
      case Some(c) => writeGauged(kept, c)(write)
      case None => write(kept)
    }
  }

  /** One micro-batch of the CLOSED embedding ingest loop — the ANN
    * mirror of [[Dedup.ingestBatchIntoMinhashIndex]] and the streaming
    * form of SemDeDup: match `batch` vectors against the persisted IVF
    * index ([[writeIvfIndex]]), DROP vectors whose best-match cosine
    * reaches `minCos` (an embedding near-duplicate of history), APPEND
    * the survivors with the FROZEN quantizer so the next micro-batch
    * sees them as history, and record the batch as committed.
    *
    * Same restart contract as the MinHash loop
    * ([[IndexLifecycle.ingestKeyed]]): a commit marker short-circuits
    * fully-delivered batches; the append lands as a batch-keyed file set
    * in the cell=N partition dirs that a re-execution replaces, and the
    * batch's partial files are purged BEFORE matching so a survivor can
    * never be flagged as its own duplicate. Single maintenance writer. */
  def ingestBatchIntoIvfIndex(batch: DataFrame, indexPath: String,
                              batchKey: String, minCos: Double,
                              nprobe: Int = 4,
                              vecCol: String = "embedding",
                              idCol: String = "vec_id"): Unit =
    IndexLifecycle.ingestKeyed(batch.sparkSession, indexPath, batchKey,
        Seq("postings" -> "cell=")) { (snap, stage) =>
      // the frozen quantizer, read once for the match and the append
      val centroids = loadCentroids(batch.sparkSession, snap)
      val dup = ivfTopKWith(batch, snap, centroids, k = 1,
          nprobe = nprobe, vecCol = vecCol, idCol = idCol)
        .filter(col("cos_sim") >= minCos)
        .select(col("query_id")).distinct()
      val survivors = batch.join(dup, batch(idCol) === dup("query_id"),
        "left_anti")
      // the batch's gauge delta, observed on its staged write, is its
      // commit marker's body
      observeSums(assignCells(survivors, centroids, vecCol, idCol), centroids)(
        _.write.mode("overwrite").partitionBy("cell").parquet(s"$stage/postings")
      )._2.json
    }

  /** Write the PERSISTED IVF-PQ index — the production FAISS artifact
    * shape (IVFPQ + refine tier) and the 100 TB memory cut the
    * in-memory [[ivfPqTopK]] only computes transiently:
    *
    *  - `centroids/` — the nlist×dim coarse quantizer (KBs);
    *  - `codebooks/` + `pq_meta/` — the m per-subspace PQ codebooks
    *    (m×ksub×dsub doubles — KBs) and their shape, stored WITH the
    *    index so encode parameters can never drift from query
    *    parameters;
    *  - `codes/` — the HOT tier: (cand_id, code, c_norm) per corpus
    *    row, partitioned by cell — m small ints per vector instead of
    *    d floats, which is what the ADC scan reads;
    *  - `vectors/` — the REFINE tier: the raw-vector postings
    *    ([[writeIvfIndex]]'s shape), touched only for the k·refine
    *    exact-re-rank candidates per query, pruned to probed cells.
    *    OPTIONAL: `storeVectors = false` omits it entirely — the FAISS
    *    no-refine deployment, where storing d floats per vector is
    *    exactly the cost PQ exists to avoid; queries then run ADC-only
    *    ([[ivfPqTopKIndexed]] with `adcOnly = true`) and the index IS
    *    the ~d·4/m-fold smaller artifact.
    *
    * Training is [[trainCoarseAndPq]] — the identical concurrent
    * trainer as the in-memory path, so index results ≡ in-memory
    * results for the same corpus and parameters (spec-pinned). */
  def writeIvfPqIndex(corpus: DataFrame, path: String, nlist: Int,
                      m: Int = 8, ksub: Int = 16, trainIters: Int = 3,
                      vecCol: String = "embedding", idCol: String = "vec_id",
                      trainFraction: Double = 1.0,
                      storeVectors: Boolean = true): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    IndexLifecycle.reset(path) // a fresh write supersedes any old manifest
    val (cells, pq) = trainCoarseAndPq(corpus, nlist, m, ksub, trainIters,
      vecCol, idCol, trainFraction)
    Stored.write(centroidsDf(spark, cells), s"$path/centroids")
    Stored.write(codebooksDf(spark, pq), s"$path/codebooks")
    // preliminary pq_meta BEFORE the data tiers (the writeIvfIndex /
    // graph-index crash rule), then the counted drift anchor publishes
    // atomically after the vectors land — collected via an Observation
    // ON the vectors write (zero extra passes). A vectors-less index
    // keeps the -1 sentinel: [[ivfPqIndexDrift]] requires the raw
    // tier anyway (codes alone cannot measure assignment distance).
    Stored.write(pqMetaDf(spark, pq, ksub, storeVectors, nlist,
      GaugeSums(-1L, -1L)), s"$path/pq_meta")
    Stored.write(encodeIvfPq(corpus, cells, pq, vecCol, idCol).drop("cv"),
      s"$path/codes", "cell")
    if (storeVectors) {
      val vectors = s"$path/vectors"
      val built = writeGauged(assignCells(corpus, cells, vecCol, idCol),
        cells) { df => Stored.write(df, vectors, "cell"); vectors }
      IndexLifecycle.publishVersion(path, "pq_meta",
        pqMetaDf(spark, pq, ksub, storeVectors, nlist, built))
    }
  }

  /** The one-row IVF-PQ meta tier: the PQ shape, whether the refine
    * tier is stored, nlist and the drift anchor. */
  private def pqMetaDf(spark: org.apache.spark.sql.SparkSession, pq: Pq,
                       ksub: Int, hasVectors: Boolean, nlist: Int,
                       anchor: GaugeSums): DataFrame = {
    import spark.implicits._
    Seq((pq.m, ksub, pq.dsub, hasVectors, nlist, anchor.n, anchor.sum))
      .toDF("m", "ksub", "dsub", "has_vectors", "nlist",
        "build_n", "build_dist_sum_micro")
      .coalesce(1)
  }

  /** Quantizer-DRIFT gauge of a persisted IVF-PQ index — the third
    * member of the measured-rebuild family ([[ivfIndexDrift]] /
    * [[GraphAnn.knnGraphIndexHealth]]): appends encode with the FROZEN
    * coarse centroids AND codebooks, so corpus drift decays both the
    * cell routing and the ADC approximation invisibly. The observable
    * is the same integer mean-assignment-distance ratio as the raw-IVF
    * gauge, measured over the raw-vector refine tier (the codes tier
    * cannot carry it — m small ints per row say nothing about distance
    * to the coarse centroid). Requires `storeVectors=true` (refused
    * loudly otherwise); a preliminary/crashed-build anchor reports
    * (-1, rebuild) — the actuator restores it. Cost: as
    * [[ivfIndexDrift]]'s, over the vectors tier — no job while the
    * index maintains its sums, one linear scan otherwise. Returns
    * (build_n, n, drift_micro, rebuild). */
  def ivfPqIndexDrift(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String,
                      maxDriftMicro: Long = 1250000L): DataFrame =
    driftRow(spark, indexPath, "pq_meta", "vectors", maxDriftMicro)

  /** Close the measured-rebuild loop for IVF-PQ — the third actuator
    * ([[rebuildIvfIndexIfDrifted]] / [[GraphAnn.rebuildKnnGraphIndexIfUnhealthy]]):
    * when [[ivfPqIndexDrift]] trips, retrain BOTH quantizer tiers
    * (coarse centroids and PQ codebooks — parallel trainings, the
    * writeIvfPqIndex shape) on the surviving raw vectors (pending
    * tombstones folded out), re-encode every survivor, and publish
    * centroids + codebooks + codes + vectors + pq_meta in ONE atomic
    * manifest write. The vectors re-write's Observation is the new
    * anchor, so the gauge returns to exactly 1e6. No trip ⇒ strict
    * no-op; zero survivors ⇒ reported no-op (never a mid-maintenance
    * crash). Single maintenance writer; tombstones consumed. */
  def rebuildIvfPqIndexIfDrifted(spark: org.apache.spark.sql.SparkSession,
                                 indexPath: String,
                                 maxDriftMicro: Long = 1250000L,
                                 trainIters: Int = 3,
                                 trainFraction: Double = 1.0): DataFrame = {
    require(maxDriftMicro >= 0, "maxDriftMicro must be >= 0")
    import spark.implicits._
    val snap = Manifest.snapshot(indexPath)
    val meta = metaRow(spark, snap, "pq_meta") // the gauge's and the rebuild's
    val (gaugeN, gaugeCurN, gaugeDrift, trip) =
      drift(spark, snap, meta, "vectors", maxDriftMicro)
    // crashed-before-data-tiers build: rebuild-pressure with nothing to
    // rebuild from — report, never crash (the rebuildIvfIndexIfDrifted
    // rule)
    val rebuilt = trip && SidecarFs.exists(snap.resolve("vectors")) &&
      IndexLifecycle.maintain(spark, snap) { p =>
        val m = meta.getAs[Int]("m")
        val ksub = meta.getAs[Int]("ksub")
        // pre-r15 pq_meta has no nlist column: infer it from the coarse
        // quantizer itself (nlist IS the centroid count) instead of
        // crashing a maintenance pass on an old index (r15 advice)
        val nlist =
          if (meta.schema.fieldNames.contains("nlist")) meta.getAs[Int]("nlist")
          else loadCentroids(spark, snap).length
        retrainOn(p.except(p.read("vectors")
            .select(col("cand_id"), col("c_vec")), "cand_id")) { survivors =>
          val (cells, pq) = trainCoarseAndPq(survivors, nlist, m, ksub,
            trainIters, "c_vec", "cand_id", trainFraction)
          p.write("centroids", centroidsDf(spark, cells))
          p.write("codebooks", codebooksDf(spark, pq))
          p.write("codes", encodeIvfPq(survivors, cells, pq, "c_vec", "cand_id")
            .drop("cv"), "cell")
          // the vectors re-write's Observation is the new anchor
          val built = writeGauged(
            assignCells(survivors, cells, "c_vec", "cand_id"),
            cells)(p.write("vectors", _, "cell"))
          p.write("pq_meta",
            pqMetaDf(spark, pq, ksub, hasVectors = true, nlist, built))
        }
      }
    Seq((gaugeN, gaugeCurN, gaugeDrift, trip, rebuilt))
      .toDF("build_n", "n", "drift_micro", "rebuild", "rebuilt")
  }

  /** (PQ, has_vectors) reconstructed from a persisted index's
    * codebooks + meta — bounded driver state (m×ksub rows, KBs), both
    * read on the driver ([[Stored.collect]], no job). */
  private def loadPq(spark: org.apache.spark.sql.SparkSession,
                     snap: Manifest.Snapshot): (Pq, Boolean) = {
    val meta = metaRow(spark, snap, "pq_meta")
    val m = meta.getAs[Int]("m")
    val ksub = meta.getAs[Int]("ksub")
    val dsub = meta.getAs[Int]("dsub")
    val books = Array.fill(m)(Array.ofDim[Array[Double]](ksub))
    Stored.collect(spark, snap.resolve("codebooks")).foreach { r =>
      books(r.getAs[Int]("subspace"))(r.getAs[Int]("code")) =
        r.getAs[scala.collection.Seq[Double]]("centroid").toArray
    }
    (Pq(books.toIndexedSeq, m, dsub), meta.getAs[Boolean]("has_vectors"))
  }

  /** APPEND new vectors to a persisted IVF-PQ index: coarse quantizer
    * AND codebooks are FROZEN (the [[appendToIvfIndex]] add-after-train
    * contract, extended to the PQ tier — re-trained codebooks would
    * silently re-code the existing postings out from under the ADC
    * scan). One linear pass over the delta into both tiers' existing
    * cell dirs; nothing existing is rewritten. */
  def appendToIvfPqIndex(delta: DataFrame, indexPath: String,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id"): Unit = {
    val spark = delta.sparkSession
    val snap = Manifest.snapshot(indexPath)
    val cells = loadCentroids(spark, snap)
    val (pq, hasVectors) = loadPq(spark, snap)
    val vectors = invalidateGauge(snap, "vectors")
    encodeIvfPq(delta, cells, pq, vecCol, idCol).drop("cv")
      .write.mode("append").partitionBy("cell")
      .parquet(snap.resolve("codes"))
    if (hasVectors)
      assignCells(delta, cells, vecCol, idCol)
        .write.mode("append").partitionBy("cell").parquet(vectors)
  }

  /** One micro-batch of the CLOSED IVF-PQ ingest loop — the
    * [[ingestBatchIntoIvfIndex]] contract extended to the two-tier PQ
    * artifact: match `batch` against the persisted IVF-PQ index
    * ([[ivfPqTopKIndexed]] — exact re-rank when the refine tier exists,
    * ADC-only otherwise), DROP vectors whose best match reaches
    * `minCos`, and append the survivors to BOTH tiers (codes always,
    * raw vectors when stored) with the FROZEN quantizer and codebooks.
    * Restart safety is the shared keyed ingest
    * ([[IndexLifecycle.ingestKeyed]]) over both tiers' cell dirs. On an
    * ADC-only index `minCos` applies to the quantized ADC cosine (exact
    * twins still score at the top — the query's own codes maximize its
    * ADC). Single maintenance writer. */
  def ingestBatchIntoIvfPqIndex(batch: DataFrame, indexPath: String,
                                batchKey: String, minCos: Double,
                                nprobe: Int = 4, refine: Int = 4,
                                vecCol: String = "embedding",
                                idCol: String = "vec_id"): Unit = {
    val spark = batch.sparkSession
    // an ADC-only index has no vectors dir: its purge and move are empty
    IndexLifecycle.ingestKeyed(spark, indexPath, batchKey,
        Seq("codes" -> "cell=", "vectors" -> "cell=")) { (snap, stage) =>
      // the frozen model state, read once for the match and the append
      val cells = loadCentroids(spark, snap)
      val (pq, hasVectors) = loadPq(spark, snap)
      val dup = ivfPqTopKWith(batch, snap, cells, pq, hasVectors,
          k = 1, nprobe = nprobe, refine = refine, vecCol = vecCol,
          idCol = idCol, adcOnly = !hasVectors)
        .filter(col("cos_sim") >= minCos)
        .select(col("query_id")).distinct()
      val survivors = batch.join(dup, batch(idCol) === dup("query_id"),
        "left_anti")
      encodeIvfPq(survivors, cells, pq, vecCol, idCol).drop("cv")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$stage/codes")
      // the gauge delta of the staged vectors is the marker's body
      if (hasVectors)
        observeSums(assignCells(survivors, cells, vecCol, idCol), cells)(
          _.write.mode("overwrite").partitionBy("cell")
            .parquet(s"$stage/vectors"))._2.json
      else ""
    }
  }

  /** COMPACT a persisted IVF-PQ index: both tiers consolidate per cell
    * ([[rewriteCells]]) into fresh version dirs, published together by
    * one maintenance pass ([[IndexLifecycle.maintain]] — the MinHash/IVF
    * compactors' interlock, tombstone consumption and commit-marker
    * pruning). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String): Unit =
    rewriteIvfPq(spark, Manifest.snapshot(indexPath), None)

  /** Delete vectors from a persisted IVF-PQ index — BOTH per-document
    * tiers rewrite (the ADC code postings AND, when stored, the raw
    * refine vectors; a takedown that left either tier would keep
    * surfacing deleted content in one scan mode). Same contract as
    * [[deleteFromIvfIndex]]: broadcast anti-joins, cell layout
    * preserved, one manifest swap; codebook/centroid tiers are frozen
    * model state with nothing per-document. */
  def deleteFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, ids: DataFrame): Unit =
    rewriteIvfPq(spark, Manifest.snapshot(indexPath), Some(ids))

  /** The IVF-PQ maintenance pass: codes and, when stored, vectors
    * without the deletion set. */
  private def rewriteIvfPq(spark: org.apache.spark.sql.SparkSession,
                           snap: Manifest.Snapshot,
                           ids: Option[DataFrame]): Unit =
    IndexLifecycle.maintain(spark, snap, ids) { p =>
      rewriteCells(p, "codes", "code")
      if (metaRow(spark, snap, "pq_meta").getAs[Boolean]("has_vectors"))
        rewriteCells(p, "vectors", "c_vec", Some(loadCentroids(spark, snap)))
      true
    }

  /** The [[compactIvfIndexIfNeeded]] hook for the IVF-PQ index: compact
    * when any CODES cell dir's live parquet-file count exceeds the bar
    * (the ADC scan's per-probe cost measure; the refine tier decays in
    * lockstep since both tiers append together). Returns whether a
    * compaction ran. */
  def compactIvfPqIndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
                                indexPath: String,
                                maxFilesPerCell: Int = 16): Boolean = {
    val snap = Manifest.snapshot(indexPath)
    val decayed =
      Dedup.maxFilesPerDir(snap.resolve("codes"), "cell=") > maxFilesPerCell
    if (decayed) rewriteIvfPq(spark, snap, None)
    decayed
  }

  /** Approximate top-k against a PERSISTED IVF-PQ index
    * ([[writeIvfPqIndex]]): centroids and codebooks load as bounded
    * driver state, the ADC candidate scan reads ONLY the probed cells
    * of the CODES tier (static partition filter — m ints per row, the
    * 100 TB scan-cost cut), and the exact re-rank touches the raw
    * VECTORS tier for candidate rows in probed cells only. Output ≡
    * the in-memory [[ivfPqTopK]] for the same corpus/parameters: the
    * shared trainer, encoder, candidate stage, and re-rank make
    * divergence structurally impossible (and the spec pins it).
    *
    * `adcOnly = true` (REQUIRED for a `storeVectors = false` index)
    * skips the exact re-rank and returns the top k ranked by the
    * approximate ADC cosine itself — the FAISS no-refine deployment:
    * `cos_sim` is then the quantized approximation (its error is
    * bounded by the codebook reconstruction error; rank-1 for an exact
    * planted twin is still guaranteed, since an identical vector
    * encodes to the query's own codes and maximizes its own ADC
    * score — spec-pinned). */
  def ivfPqTopKIndexed(queries: DataFrame, indexPath: String, k: Int,
                       nprobe: Int, refine: Int = 4,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id",
                       adcOnly: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    val snap = Manifest.snapshot(indexPath)
    val (pq, hasVectors) = loadPq(spark, snap)
    ivfPqTopKWith(queries, snap, loadCentroids(spark, snap), pq,
      hasVectors, k, nprobe, refine, vecCol, idCol, adcOnly)
  }

  /** [[ivfPqTopKIndexed]] against the call's snapshot, with the index's
    * model state — centroids, codebooks, has_vectors — already loaded
    * (the ingest loop loads it once for the match and the append). */
  private def ivfPqTopKWith(queries: DataFrame, snap: Manifest.Snapshot,
                            cells: Array[Array[Double]], pq: Pq,
                            hasVectors: Boolean, k: Int, nprobe: Int,
                            refine: Int, vecCol: String, idCol: String,
                            adcOnly: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    require(nprobe >= 1 && nprobe <= cells.length,
      s"nprobe must be in [1, nlist=${cells.length}], got $nprobe")
    require(hasVectors || adcOnly,
      s"index at ${snap.root} was written with storeVectors=false — " +
        "exact re-rank is impossible; query with adcOnly=true")
    val probed = Caches.track( // consumed twice: cell collect + probe join
      ivfPqProbeTable(queries, cells, pq, nprobe, vecCol, idCol))
    val probedCells = probed.select("cell").distinct().collect()
      .map(_.getInt(0)).sorted // ≤ nlist values
    def pruneToProbed(df: DataFrame): DataFrame =
      df.filter(col("cell").isin(probedCells.map(c => c: Any).toSeq: _*))
    // tombstone filter on the CODES tier only: both scan modes generate
    // candidates from codes, so the refine tier cannot resurface an id
    // filtered here
    val codes = Dedup.exceptTombstoned(
      pruneToProbed(Stored.read(spark, snap.resolve("codes"))), "cand_id",
      Dedup.pendingTombstones(spark, snap.root))
    if (adcOnly) {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").desc, col("cand_id"))
      codes.join(broadcast(probed), Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("adc",
          pq.adc(col("lut"), col("code")) / (col("q_norm") * col("c_norm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("cand_id"),
          round(col("adc"), 4).as("cos_sim"))
    } else {
      val cand = ivfPqCandidates(codes, probed, pq, k * refine)
      val corpusVecs = pruneToProbed(Stored.read(spark, snap.resolve("vectors")))
        .select(col("cand_id").as(idCol), col("c_vec").as(vecCol))
      rerankExact(cand, corpusVecs, queries, k, vecCol, idCol)
    }
  }

  /** The [[Dedup.compactMinhashIndexIfNeeded]] hook for the IVF index:
    * compact when any cell dir's live parquet-file count exceeds
    * `maxFilesPerCell` (per-probe cost is files-per-probed-cell).
    * Returns whether a compaction ran. */
  def compactIvfIndexIfNeeded(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String,
                              maxFilesPerCell: Int = 16): Boolean = {
    val snap = Manifest.snapshot(indexPath)
    val decayed =
      Dedup.maxFilesPerDir(snap.resolve("postings"), "cell=") > maxFilesPerCell
    if (decayed) rewriteIvf(spark, snap, None)
    decayed
  }

  /** Approximate top-k against a PERSISTED index ([[writeIvfIndex]]):
    * centroids load as bounded driver state (nlist rows — the k-means
    * contract), each query probes its nprobe nearest cells, and the
    * postings read is PRUNED to the batch's distinct probed cells with a
    * static partition filter (provably `PartitionFilters` in the scan, vs
    * trusting DPP to fire) — ≤ nlist ints of driver state buys a scan
    * that touches only the probed fraction of the index on disk. The
    * ranking tail is [[ivfTopK]]'s: broadcast probe join, exact cosine,
    * per-query top-k window. */
  def ivfTopKIndexed(queries: DataFrame, indexPath: String, k: Int,
                     nprobe: Int, vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val snap = Manifest.snapshot(indexPath)
    ivfTopKWith(queries, snap, loadCentroids(queries.sparkSession, snap), k,
      nprobe, vecCol, idCol)
  }

  /** [[ivfTopKIndexed]] against the call's snapshot, with the index's
    * centroids already loaded (the ingest loop loads them once for the
    * match and the append). */
  private def ivfTopKWith(queries: DataFrame, snap: Manifest.Snapshot,
                          centroids: Array[Array[Double]], k: Int,
                          nprobe: Int, vecCol: String,
                          idCol: String): DataFrame = {
    val spark = queries.sparkSession
    require(nprobe >= 1 && nprobe <= centroids.length,
      s"nprobe must be in [1, nlist=${centroids.length}], got $nprobe")
    val probed = Caches.track( // consumed twice: cell collect + probe join
      probeTable(queries, centroids, nprobe, vecCol, idCol))
    val cells = probed.select("cell").distinct().collect()
      .map(_.getInt(0)).sorted // ≤ nlist values
    // pending tombstones (takedown during live ingest) must not
    // surface as neighbours; they leave the tiers at the next compaction
    val postings = Dedup.exceptTombstoned(
      Stored.read(spark, snap.resolve("postings"))
        .filter(col("cell").isin(cells.map(c => c: Any).toSeq: _*)),
      "cand_id", Dedup.pendingTombstones(spark, snap.root))
    rankProbed(postings, probed, k)
  }

  // ---- shared ANN machinery -------------------------------------------

  /** Exact cosine re-rank of bare (query_id, cand_id) candidate pairs:
    * vectors join back by id (query side broadcast), a per-query window
    * keeps the top k. THE single re-rank implementation — every
    * candidate-generating path (LSH, PQ, IVF-PQ) ends here, so
    * tie-breaking, rounding, and output shape cannot diverge between
    * paths. */
  private def rerankExact(cand: DataFrame, corpus: DataFrame,
                          queries: DataFrame, k: Int,
                          vecCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", l2norm(col("q_vec")))
    val cv = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", l2norm(col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("cand_id"))
    cand.join(broadcast(qv), "query_id")
      .join(cv, "cand_id")
      .withColumn("cos_raw",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("cand_id"),
        round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** PQ expressions shared by [[pqTopK]] and [[ivfPqTopK]] — one
    * implementation of encode/LUT/score so the standalone and composed
    * paths cannot diverge. Encoding and the lookup table each score a
    * subvector against a whole codebook in one
    * [[graft.functions.MatrixScoresExpr]]: m expressions per row, not
    * m·ksub dot products over literal codewords. */
  private final case class Pq(codebooks: IndexedSeq[Array[Array[Double]]],
                              m: Int, dsub: Int) {
    private def sub(v: Column, s: Int): Column = slice(v, s * dsub + 1, dsub)

    /** m argmin codes per row — same scoring expression as the trainer,
      * so encoding can never diverge from training. */
    def codes(v: Column): Column = array((0 until m).map { s =>
      val d = Clustering.centroidScores(sub(v, s), codebooks(s))
      (array_position(d, array_min(d)) - 1).cast("int")
    }: _*)

    /** Per-query ADC lookup table: dot of each query subvector against
      * every codebook centroid (m×ksub doubles on the broadcast side). */
    def lut(qVec: Column): Column = array((0 until m).map(s =>
      graft.functions.VectorExpressions.dotScores(sub(qVec, s), codebooks(s))): _*)

    /** ADC score of a code row: m array lookups, no vector math. */
    def adc(lutCol: Column, codeCol: Column): Column =
      (0 until m).map(s => element_at(element_at(lutCol, s + 1),
        element_at(codeCol, s + 1) + 1)).reduce(_ + _)
  }

  private def trainPq(corpus: DataFrame, m: Int, ksub: Int, trainIters: Int,
                      vecCol: String, idCol: String,
                      trainFraction: Double = 1.0): Pq = {
    require(EmbeddingDim % m == 0, s"m=$m must divide dim=$EmbeddingDim")
    val dsub = EmbeddingDim / m
    Pq(Clustering.trainSubspaceCodebooks(
      corpus, idCol, vecCol, m, dsub, ksub, trainIters, trainFraction), m, dsub)
  }

  /** The `nprobe` nearest cell indices from a per-row cell-score array
    * (shared by [[ivfTopK]] and [[ivfPqTopK]]). */
  private def probeCells(d: Column, nlist: Int, nprobe: Int): Column =
    transform(
      slice(sort_array(transform(sequence(lit(0), lit(nlist - 1)),
        i => struct(element_at(d, i + 1).as("s"), i.as("i")))),
        1, nprobe),
      x => x.getField("i").cast("int"))

  /** Top k·refine per query by approximate ADC cosine over (query, code)
    * rows already carrying `adc`, returning bare (query_id, cand_id). */
  private def adcTopCandidates(scored: DataFrame, kRefine: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("cand_id"))
    scored
      .select(col("query_id"), col("cand_id"), col("adc"))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= kRefine)
      .select(col("query_id"), col("cand_id"))
  }

  /** Product-quantization top-k (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): the memory-compression tier of
    * the ANN family, complementing IVF's candidate pruning.
    *
    * Encode: the D-dim space splits into `m` subspaces of D/m dims; each
    * subspace gets its own `ksub`-centroid k-means codebook (trained with
    * the shared [[Clustering.trainCentroids]]), and every corpus vector
    * compresses to `m` small ints — 64 floats become 8 nibble-codes, a
    * 32× memory cut, computed per-row over plan-literal codebooks with no
    * shuffle.
    *
    * Query (ADC — asymmetric distance computation): each query
    * precomputes, once, a lookup table of its subvector dot products
    * against every codebook centroid (m×ksub doubles, built on the
    * broadcast query side); scoring a corpus row is then `m` array
    * lookups on its code — O(m) per row instead of O(D) multiply-adds,
    * and the scan touches codes only, never the raw vectors. The top
    * k·`refine` ADC candidates per query are re-ranked with exact cosine
    * (vectors join back by id for candidates only), absorbing the
    * quantization error the way production IVF-PQ stacks do.
    *
    * Scale shape: codes scan (narrow) + per-query window on
    * (query_id, cand_id, adc) id-sized rows + candidate-only vector
    * join-back. The corpus' full vectors are never broadcast, shuffled,
    * or scanned in the hot loop.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, refine: Int = 4,
             trainIters: Int = 3,
             vecCol: String = "embedding", idCol: String = "vec_id",
             trainFraction: Double = 1.0): DataFrame = {
    val pq = trainPq(corpus, m, ksub, trainIters, vecCol, idCol, trainFraction)
    // exact norm rides beside the code (1 double — still narrow) so ADC
    // can rank by approximate COSINE; ranking by raw approximate dot
    // would bias candidates toward large-norm vectors
    val codes = corpus
      .select(col(idCol).as("cand_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .select(col("cand_id"), pq.codes(col("cv")).as("code"),
        l2norm(col("cv")).as("c_norm"))
    // broadcast query side: norm + the per-subspace ADC LUTs
    val qv = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("q_vec"))
      .select(col("query_id"), l2norm(col("q_vec")).as("q_norm"),
        pq.lut(col("q_vec")).as("lut"))
    val cand = adcTopCandidates(
      codes.crossJoin(broadcast(qv))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("adc",
          pq.adc(col("lut"), col("code")) / (col("q_norm") * col("c_norm"))),
      k * refine)
    rerankExact(cand, corpus, queries, k, vecCol, idCol)
  }

  /** IVF-PQ: the production ANN composition — IVF's coarse quantizer
    * prunes the search to `nprobe` cells, PQ's codes compress what gets
    * scanned inside them. The scan cost is (nprobe/nlist)·N rows × O(m)
    * ADC lookups over code rows; raw vectors appear only in the final
    * k·refine exact re-rank. Both stages reuse their standalone trainers
    * ([[Clustering.trainCentroids]] twice: once for cells, once per PQ
    * subspace), so the composed path can never diverge from the parts
    * the specs pin individually.
    */
  /** Train the coarse quantizer and the PQ codebooks CONCURRENTLY — two
    * INDEPENDENT Lloyd loops over the same corpus, so the composed cost
    * is max(coarse, pq) driver round-trips instead of their sum (each
    * round is a small aggregate job; with both loops in flight the
    * scheduler interleaves them). Results are identical to the
    * sequential order — neither loop reads the other's state. Both run
    * through [[Concurrent.runAll]]: each carries the caller's local
    * properties (job group / pool), so Batch-scoped cancellation still
    * reaches the training jobs, and when one trainer throws the call
    * waits for the other to end before rethrowing, so no training job
    * outlives the call. Shared by the in-memory [[ivfPqTopK]] and the
    * index write [[writeIvfPqIndex]], so the two paths can never train
    * differently. */
  private def trainCoarseAndPq(corpus: DataFrame, nlist: Int, m: Int,
                               ksub: Int, trainIters: Int,
                               vecCol: String, idCol: String,
                               trainFraction: Double): (Array[Array[Double]], Pq) =
    Concurrent.runAll[Any](corpus.sparkSession.sparkContext, Seq(
      () => Clustering.trainCentroids(
        corpus, idCol, vecCol, nlist, trainIters, trainFraction),
      () => trainPq(corpus, m, ksub, trainIters, vecCol, idCol, trainFraction)),
      maxThreads = 2) match {
      case Seq(cells: Array[Array[Double]] @unchecked, pq: Pq) => (cells, pq)
    }

  /** (cand_id, cell, code, c_norm, cv) rows of a corpus under a FIXED
    * coarse quantizer + PQ — the one encode implementation behind the
    * in-memory path, the index write, and the index append (parameter
    * drift between them would silently de-sync writes from reads). */
  private def encodeIvfPq(corpus: DataFrame, cells: Array[Array[Double]],
                          pq: Pq, vecCol: String, idCol: String): DataFrame =
    corpus
      .select(col(idCol).as("cand_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("d", Clustering.centroidScores(col("cv"), cells))
      .withColumn("cell",
        (array_position(col("d"), array_min(col("d"))) - 1).cast("int"))
      .select(col("cand_id"), col("cell"), pq.codes(col("cv")).as("code"),
        l2norm(col("cv")).as("c_norm"), col("cv"))

  /** Probed-query broadcast side of an IVF-PQ scan: probed cells + norm
    * + ADC LUTs (the raw query vector is NOT carried — the re-rank
    * re-derives it by id). */
  private def ivfPqProbeTable(queries: DataFrame, cells: Array[Array[Double]],
                              pq: Pq, nprobe: Int,
                              vecCol: String, idCol: String): DataFrame =
    queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("q_vec"))
      .withColumn("q_norm", l2norm(col("q_vec")))
      .withColumn("lut", pq.lut(col("q_vec")))
      .withColumn("d", Clustering.centroidScores(col("q_vec"), cells))
      .select(col("query_id"), col("q_norm"), col("lut"),
        explode(probeCells(col("d"), cells.length, nprobe)).as("cell"))

  /** The ADC candidate stage shared by the in-memory and indexed IVF-PQ
    * paths: broadcast probe join on cell, O(m)-lookup approximate
    * cosine, top k·refine per query. */
  private def ivfPqCandidates(codes: DataFrame, probed: DataFrame,
                              pq: Pq, kRefine: Int): DataFrame =
    adcTopCandidates(
      codes.join(broadcast(probed), Seq("cell"))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("adc",
          pq.adc(col("lut"), col("code")) / (col("q_norm") * col("c_norm"))),
      kRefine)

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nlist: Int, nprobe: Int, m: Int = 8, ksub: Int = 16,
                refine: Int = 4, trainIters: Int = 3,
                vecCol: String = "embedding", idCol: String = "vec_id",
                trainFraction: Double = 1.0): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, nlist=$nlist], got $nprobe")
    val (cells, pq) = trainCoarseAndPq(corpus, nlist, m, ksub, trainIters,
      vecCol, idCol, trainFraction)
    // the index: (cell, code, norm) per corpus row — one narrow table
    val index = encodeIvfPq(corpus, cells, pq, vecCol, idCol)
      .drop("cv")
    val probed = ivfPqProbeTable(queries, cells, pq, nprobe, vecCol, idCol)
    val cand = ivfPqCandidates(index, probed, pq, k * refine)
    rerankExact(cand, corpus, queries, k, vecCol, idCol)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-dup pairs
    * via cluster-partitioned candidate generation. Embeddings are
    * partitioned by a coarse quantizer (k-means by default, the paper's
    * construction); candidate pairs are an equi-join ON THE CLUSTER ID —
    * at any reasonable k a near-duplicate pair shares a cell, so
    * candidates shrink from n²/2 to Σ|cell|²/2 — and exact cosine
    * verifies candidates only. The data-adaptive sibling of
    * [[nearDupPairs]]' sign-LSH buckets; same output contract plus the
    * cluster id.
    *
    * Scale shape: assignment is per-row codegen over plan-literal
    * centroids (no vector shuffle); the candidate join shuffles bare
    * (cluster, id) rows; vectors join back per candidate pair only —
    * the minhashLsh narrowness rule applied to the semantic tier.
    *
    * `assignments` (idCol, cluster) overrides the trained quantizer:
    * the oracle-exact fixed-prototype path and externally trained
    * clusterings both enter here; None trains k-means on the input.
    */
  def semanticNearDupPairs(embeddings: DataFrame, minCos: Double,
                           k: Int = 64, trainIters: Int = 3,
                           trainFraction: Double = 1.0,
                           assignments: Option[DataFrame] = None,
                           vecCol: String = "embedding",
                           idCol: String = "vec_id"): DataFrame = {
    val assigned = assignments
      .getOrElse(Clustering.kmeans(embeddings, idCol, vecCol, k, trainIters,
        trainFraction))
      .select(col(idCol).as("id"), col("cluster"))
    val pairs = assigned.select(col("cluster"), col("id").as("d1"))
      .join(assigned.select(col("cluster"), col("id").as("d2")), Seq("cluster"))
      .filter(col("d1") < col("d2"))
      .select(col("cluster"), col("d1"), col("d2"))
    pairCosine(pairs, embeddings, vecCol, idCol)
      .filter(col("cos_raw") >= minCos)
      .select(col("cluster"), col("d1"), col("d2"),
        round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** Approximate top-k via random-hyperplane LSH: candidates = corpus
    * vectors sharing ≥1 table bucket with the query, then exact cosine +
    * per-query window rank on candidates only. Increasing `tables` raises
    * recall, increasing `planes` shrinks buckets (cost). Candidate dedup
    * runs on bare (query_id, cand_id) ids; vectors join back afterwards
    * (query side broadcast — it is small by contract).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int, tables: Int,
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val hp = hyperplanes(tables, planes, EmbeddingDim)
    val q = bucketKeys(queries, hp, "query_id", vecCol, idCol)
    val c = bucketKeys(corpus, hp, "cand_id", vecCol, idCol)
    val cand = q.join(c, Seq("table_id", "bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id")
      .distinct() // a pair may collide in several tables; ids only here
    rerankExact(cand, corpus, queries, k, vecCol, idCol)
  }

  /** Margin-based pair mining (Artetxe & Schwenk, ACL 2019 — the
    * published bitext-mining criterion, used for any aligned-pair
    * harvesting across two embedding sets): raw cosine over-selects
    * pairs in dense "hubness" regions, so each candidate is scored by
    * its cosine RELATIVE to the average cosine of both endpoints' k
    * nearest neighbours (the paper's `ratio` variant):
    *
    *   margin(x, y) = cos(x, y) / ( (Σ_{z∈NNk(x)} cos(x,z) / k
    *                               + Σ_{z∈NNk(y)} cos(y,z) / k) / 2 )
    *
    * Exactness: per-pair cosines go to 4 dp fixed-point BIGINTs FIRST
    * (`round(round(cos,4)*10000)` — the established bit-identical cosine
    * then integer arithmetic), neighbour sums are integer sums (order-
    * free), and the margin is one exact integer division
    * `(c * 2k * 1e6) div (sum_x + sum_y)` — micro-units of the ratio.
    * Pairs whose denominator is ≤ 0 drop (a negative-neighbourhood
    * anchor has no meaningful margin; documented contract).
    *
    * Candidates are the FORWARD k-NN lists (x → its k nearest y), the
    * paper's `fwd` strategy; `topN` best margins win under a total
    * order. This exact variant scores O(|src|·|tgt|) cosines — the
    * DuckDB-replayable correctness anchor at fixture scale;
    * [[marginPairsAnn]] is the production path (IVF candidates, same
    * margin tail via [[marginFromKnn]]). */
  def marginPairs(src: DataFrame, tgt: DataFrame, k: Int, topN: Int,
                  vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && topN >= 1, s"k/topN must be positive, got $k/$topN")
    // The exact anchor scores |src|·|tgt| cosines by design — a
    // DuckDB-replayable correctness fixture, NOT a production path. A
    // corpus-scale call here is one mistake away from a 100M×100M
    // cartesian, so oversize inputs refuse up front and steer to the
    // ANN variant. The probe is limit(N+1).count() — it stops after at
    // most N+1 rows, so the corpus-scale mistake pays a bounded scan,
    // not a full pass, before the refusal
    val probe = MaxExactMiningSide + 1
    val (nSrc, nTgt) = (src.limit(probe.toInt).count(),
      tgt.limit(probe.toInt).count())
    require(nSrc <= MaxExactMiningSide && nTgt <= MaxExactMiningSide,
      s"marginPairs is the exact all-pairs anchor (scores |src|*|tgt| " +
        s"cosines) and refuses sides beyond $MaxExactMiningSide rows; " +
        "use marginPairsAnn / marginPairsIndexed for corpus-scale mining")
    val s = src.select(col(idCol).as("src_id"), col(vecCol).as("s_vec"))
      .withColumn("s_norm", l2norm(col("s_vec")))
    val t = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("t_vec"))
      .withColumn("t_norm", l2norm(col("t_vec")))
    val pairs = s.crossJoin(t)
      .withColumn("c_micro",
        round(round(dot(col("s_vec"), col("t_vec"))
          / (col("s_norm") * col("t_norm")), 4) * 10000).cast("long"))
      .select(col("src_id"), col("tgt_id"), col("c_micro"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fwd = pairs.withColumn("rk", row_number().over(
        Window.partitionBy(col("src_id"))
          .orderBy(col("c_micro").desc, col("tgt_id"))))
      .filter(col("rk") <= k)
      .select(col("src_id"), col("tgt_id"), col("c_micro"))
    val bwd = pairs.withColumn("rk", row_number().over(
        Window.partitionBy(col("tgt_id"))
          .orderBy(col("c_micro").desc, col("src_id"))))
      .filter(col("rk") <= k)
      .select(col("src_id"), col("tgt_id"), col("c_micro"))
    val out = marginFromKnn(fwd, bwd, k, topN)
    pairs.unpersist(blocking = false)
    out
  }

  /** The margin tail shared by the exact and ANN mining paths: given the
    * FORWARD k-NN lists (src → its ≤k nearest tgt, with 4-dp fixed-point
    * cosine `c_micro`) and the BACKWARD lists (tgt → its ≤k nearest src),
    * compute `margin(x, y) = (c · 2k · 1e6) div (sum_x + sum_y)` and keep
    * the global `topN` under a total order. Joins move only (id, id,
    * BIGINT) rows — the vectors never reach this stage, which is why the
    * candidate GENERATION is the only part that changes between the exact
    * and ANN variants. */
  private def marginFromKnn(fwdIn: DataFrame, bwd: DataFrame, k: Int,
                            topN: Int): DataFrame = {
    // fwd feeds BOTH the neighbourhood sum and the candidate join — for
    // the ANN paths that is the whole cell-join k-NN; untracked it
    // would run twice per action
    val fwd = Caches.track(fwdIn)
    val sumX = fwd.groupBy(col("src_id"))
      .agg(sum(col("c_micro")).as("sum_x"))
    val sumY = bwd.groupBy(col("tgt_id"))
      .agg(sum(col("c_micro")).as("sum_y"))
    // c_micro >= 0 keeps the integer division's operands non-negative,
    // where Spark's `div` (trunc) and DuckDB's `//` (floor) agree — and a
    // negative-cosine candidate is never a meaningful mined pair anyway
    fwd.filter(col("c_micro") >= 0)
      .join(sumX, "src_id")
      .join(sumY, "tgt_id")
      .filter(col("sum_x") + col("sum_y") > 0)
      .withColumn("num", col("c_micro") * lit(2L * k) * lit(1000000L))
      .withColumn("margin_micro", expr("num div (sum_x + sum_y)"))
      .select(col("src_id"), col("tgt_id"), col("c_micro"),
        col("margin_micro"))
      .orderBy(col("margin_micro").desc, col("src_id"), col("tgt_id"))
      .limit(topN)
  }

  /** Margin-based pair mining composed on the IVF ANN tier — the scale
    * path of [[marginPairs]] (same Artetxe & Schwenk margin, same integer
    * math, same output contract): candidates come from nprobe-cell IVF
    * probing in BOTH directions instead of the exact all-pairs table, so
    * the scored-pair volume is |src|·nprobe·(|tgt|/nlist) +
    * |tgt|·nprobe·(|src|/nlist) — sub-quadratic whenever `nlist` grows
    * with the corpus (the FAISS sizing rule, nlist ∝ √n), where the exact
    * path is O(|src|·|tgt|) cosines and dies at bitext-mining scale
    * (100M × 100M sides).
    *
    * Plan shape: each direction is one k-means training pass (k·dim
    * driver doubles), per-row codegen'd cell assignment, and a cell
    * EQUI-JOIN — deliberately NOT the broadcast-probe tail of
    * [[ivfTopK]], because in mining the "query" side is itself
    * corpus-scale; the join shuffles on the cell key and Catalyst/AQE
    * still broadcasts when a side is genuinely small. No cartesian
    * anywhere (QueryPlanShapeSpec pins it).
    *
    * Contract: src/tgt id spaces must be disjoint (mining is cross-set;
    * there is no self-pair exclusion). An exact twin planted in `tgt`
    * is structurally guaranteed to be its source's candidate: identical
    * vectors produce identical centroid-score arrays, so the twin's
    * assigned cell IS the source's probe #1 ([[ivfTopK]]'s twin-gate
    * argument), and cos 1.0 puts it at the top of the forward list.
    * Lists shorter than k (sparse probed cells) inflate the margin —
    * fewer competitors is genuinely weaker hubness evidence, the
    * direction a miner wants. */
  def marginPairsAnn(src: DataFrame, tgt: DataFrame, k: Int, topN: Int,
                     nlist: Int, nprobe: Int, trainIters: Int = 3,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    require(k >= 1 && topN >= 1, s"k/topN must be positive, got $k/$topN")
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, nlist=$nlist], got $nprobe")
    def knn(corpus: DataFrame, queries: DataFrame): DataFrame = {
      val centroids = Clustering.trainCentroids(
        corpus, idCol, vecCol, nlist, trainIters)
      cellKnn(assignCells(corpus, centroids, vecCol, idCol),
        probeTable(queries, centroids, nprobe, vecCol, idCol), k)
    }
    val fwd = knn(tgt, src).select(col("query_id").as("src_id"),
      col("cand_id").as("tgt_id"), col("c_micro"))
    val bwd = knn(src, tgt).select(col("cand_id").as("src_id"),
      col("query_id").as("tgt_id"), col("c_micro"))
    marginFromKnn(fwd, bwd, k, topN)
  }

  /** The mining k-NN tail shared by the in-memory and indexed margin
    * paths: cell EQUI-JOIN (no broadcast hint — both sides are
    * corpus-scale in mining; Catalyst/AQE still broadcasts a genuinely
    * small side), exact cosine, per-query top-k, 4-dp fixed-point. */
  private def cellKnn(cands: DataFrame, probed: DataFrame,
                      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_raw").desc, col("cand_id"))
    cands.join(probed, Seq("cell"))
      .withColumn("cos_raw",
        dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("cand_id"),
        round(round(col("cos_raw"), 4) * 10000).cast("long").as("c_micro"))
  }

  /** Margin mining over two PERSISTED IVF indexes ([[writeIvfIndex]]) —
    * the production refresh shape of [[marginPairsAnn]]: a daily bitext
    * refresh re-mines against corpora whose indexes were built (and are
    * appended/compacted) once, so the per-run cost is ONLY the two
    * bidirectional probe joins — no re-training, no re-assignment, and
    * both sides' vectors and norms come straight from the postings
    * (norms were computed at index-write time). Candidates, scoring,
    * and the integer margin tail are byte-identical to the in-memory
    * path ([[cellKnn]] / [[marginFromKnn]] shared), so mined pairs
    * cannot drift between the two.
    *
    * Same contracts as [[marginPairsAnn]]: disjoint id spaces, twins
    * structurally guaranteed candidacy (identical vectors share
    * centroid-score arrays against the FROZEN quantizer, so an appended
    * twin lands in its source's probe-#1 cell — the
    * [[appendToIvfIndex]] add-after-train rule extends to mining). */
  def marginPairsIndexed(spark: org.apache.spark.sql.SparkSession,
                         srcIndexPath: String, tgtIndexPath: String,
                         k: Int, topN: Int, nprobe: Int): DataFrame = {
    require(k >= 1 && topN >= 1, s"k/topN must be positive, got $k/$topN")
    // pending tombstones filter BOTH sides: a taken-down vector must
    // neither mine as an anchor nor surface as a mined partner
    val snaps = Seq(srcIndexPath, tgtIndexPath).distinct
      .map(p => p -> Manifest.snapshot(p)).toMap
    val tombstoned = snaps.keys
      .map(p => p -> Dedup.pendingTombstones(spark, p)).toMap
    def postings(path: String): DataFrame =
      Dedup.exceptTombstoned(Stored.read(spark, snaps(path).resolve("postings")),
        "cand_id", tombstoned(path))
    def knn(queryIdx: String, corpusIdx: String): DataFrame = {
      val centroids = loadCentroids(spark, snaps(corpusIdx))
      require(nprobe >= 1 && nprobe <= centroids.length,
        s"nprobe must be in [1, nlist=${centroids.length}], got $nprobe")
      val probed = postings(queryIdx)
        .select(col("cand_id").as("query_id"), col("c_vec").as("q_vec"),
          col("c_norm").as("q_norm"))
        .withColumn("d", Clustering.centroidScores(col("q_vec"), centroids))
        .select(col("query_id"), col("q_vec"), col("q_norm"),
          explode(probeCells(col("d"), centroids.length, nprobe)).as("cell"))
      cellKnn(postings(corpusIdx), probed, k)
    }
    val fwd = knn(srcIndexPath, tgtIndexPath)
      .select(col("query_id").as("src_id"),
        col("cand_id").as("tgt_id"), col("c_micro"))
    val bwd = knn(tgtIndexPath, srcIndexPath)
      .select(col("cand_id").as("src_id"),
        col("query_id").as("tgt_id"), col("c_micro"))
    marginFromKnn(fwd, bwd, k, topN)
  }
}
