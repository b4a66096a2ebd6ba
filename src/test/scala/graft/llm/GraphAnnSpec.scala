package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.core.Manifest

/** Ground truth for the graph-ANN tier: exact int quantization, the
  * integer sim key, md5-ring init, NN-Descent convergence on planted
  * cluster structure, and beam search reaching a planted twin. */
class GraphAnnSpec extends SparkSpec {
  private def vecs(rows: (Long, Seq[Double])*) = {
    import SparkSpec.spark.implicits._
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
  }

  test("quantized: codes are floor(x*127/maxabs + 0.5), n2 exact") {
    val df = vecs(1L -> Seq(0.5, -1.0, 0.25, 0.0))
    val r = GraphAnn.quantized(df, "embedding", "vec_id").collect().head
    // m = 1.0: codes floor(63.5+0.5)=64, floor(-127+0.5)=-127,
    // floor(31.75+0.5)=32, 0 — as int8 (byte) values
    assert(r.getAs[Seq[Byte]]("codes") === Seq[Byte](64, -127, 32, 0))
    assert(r.getAs[Long]("n2") === 64L * 64 + 127L * 127 + 32L * 32)
  }

  test("quantized: the all-zero vector gets zero codes and n2 = 0") {
    val df = vecs(7L -> Seq(0.0, 0.0, 0.0))
    val r = GraphAnn.quantized(df, "embedding", "vec_id").collect().head
    assert(r.getAs[Seq[Byte]]("codes") === Seq[Byte](0, 0, 0))
    assert(r.getAs[Long]("n2") === 0L)
  }

  test("sim key: parallel = 1e6, antiparallel = -1e6, orthogonal = 0, " +
    "zero-norm below everything") {
    val df = vecs(
      1L -> Seq(1.0, 0.0), 2L -> Seq(0.5, 0.0), // parallel to 1
      3L -> Seq(-1.0, 0.0), // antiparallel to 1
      4L -> Seq(0.0, 1.0), // orthogonal to 1
      5L -> Seq(0.0, 0.0)) // zero norm
    val g = GraphAnn.nnDescentGraph(df, k = 4, rounds = 1, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    assert(g((1L, 2L)) === 1000000L)
    assert(g((1L, 3L)) === -1000000L)
    assert(g((1L, 4L)) === 0L)
    assert(g((1L, 5L)) === -1000001L)
    // ranking for src=1 follows the keys: parallel, orthogonal,
    // antiparallel, zero-norm
    val ranked = GraphAnn.nnDescentGraph(df, k = 4, rounds = 1, seed = 42L)
      .filter(col("src") === 1L).orderBy(col("rk"))
      .collect().map(_.getLong(2)).toSeq
    assert(ranked === Seq(2L, 4L, 3L, 5L))
  }

  test("md5 ring init wraps mod n and never links a node to itself") {
    val df = vecs((1L to 5L).map(i => i -> Seq(i.toDouble, 1.0)): _*)
    val g = GraphAnn.nnDescentGraph(df, k = 4, rounds = 0, seed = 42L)
    val bySrc = g.collect().groupBy(_.getLong(0))
    assert(bySrc.keySet === (1L to 5L).toSet)
    // n=5, k=4: each node's ring covers all other 4 nodes exactly
    bySrc.foreach { case (src, rows) =>
      assert(rows.map(_.getLong(2)).toSet === (1L to 5L).toSet - src)
    }
  }

  test("NN-Descent converges to planted clusters the ring init mixes") {
    // two tight clusters far apart; md5 ring order interleaves them, so
    // round-0 lists are mixed — after 2 rounds each node's top-3 must be
    // exactly its own cluster (neighbour-of-neighbour propagation)
    val a = (0 until 4).map(i => (i.toLong, Seq(10.0 + i * 0.01, 1.0, 0.0)))
    val b = (0 until 4).map(i => (100L + i, Seq(-1.0, 0.02 * i - 10.0, 0.0)))
    val df = vecs((a ++ b): _*)
    val init = GraphAnn.nnDescentGraph(df, k = 3, rounds = 0, seed = 42L)
    val mixedInit = init.collect().exists { r =>
      (r.getLong(0) < 100L) != (r.getLong(2) < 100L)
    }
    assert(mixedInit, "ring init should interleave the clusters")
    val g = GraphAnn.nnDescentGraph(df, k = 3, rounds = 2, seed = 42L)
    g.collect().foreach { r =>
      assert((r.getLong(0) < 100L) === (r.getLong(2) < 100L),
        s"cross-cluster edge survived 2 rounds: $r")
    }
  }

  test("NN-Descent is rerun-identical and k rows per node") {
    val df = vecs((1L to 9L).map(i =>
      i -> Seq(math.sin(i.toDouble), math.cos(i * 0.7), 0.5 * i)): _*)
    val r1 = GraphAnn.nnDescentGraph(df, k = 3, rounds = 2).collect()
    val r2 = GraphAnn.nnDescentGraph(df, k = 3, rounds = 2).collect()
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
    assert(r1.length === 9 * 3)
    assert(r1.groupBy(_.getLong(0)).forall(_._2.map(_.getInt(1)).sorted
      .toSeq === Seq(1, 2, 3)))
  }

  test("beam search reaches a planted twin through the graph") {
    // corpus: 20 vectors on a smooth curve + an exact twin (id 999) of the
    // query (id 3). The graph links near neighbours, so the greedy walk
    // from the md5 entry point must reach the twin and rank it first with
    // sim key exactly 1e6.
    val base = (0 until 20).map { i =>
      (i.toLong, Seq(math.cos(i * 0.3), math.sin(i * 0.3), 0.1 * i))
    }
    val twin = Seq((999L, base(3)._2))
    val df = vecs((base ++ twin): _*)
    val graph = GraphAnn.nnDescentGraph(df, k = 4, rounds = 3, seed = 42L)
    val queries = df.filter(col("vec_id") === 3L)
    val res = GraphAnn.beamSearch(graph, df, queries,
      k = 5, beam = 4, steps = 6, seed = 42L)
      .orderBy(col("rk")).collect()
    assert(res.head.getLong(2) === 999L, s"twin not first: ${res.toSeq}")
    assert(res.head.getLong(3) === 1000000L)
    // the query itself never appears among its own results
    assert(!res.exists(_.getLong(2) == 3L))
  }

  test("beam search scores only beam*k new candidates per step " +
    "(visited never rescored: result has one row per candidate)") {
    val df = vecs((0L to 11L).map(i =>
      i -> Seq(math.cos(i * 0.5), math.sin(i * 0.5))): _*)
    val graph = GraphAnn.nnDescentGraph(df, k = 3, rounds = 2)
    val res = GraphAnn.beamSearch(graph, df, df.filter(col("vec_id") < 2),
      k = 12, beam = 3, steps = 4)
    val dups = res.groupBy(col("query_id"), col("cand_id"))
      .count().filter(col("count") > 1).count()
    assert(dups === 0L)
  }

  test("persisted k-NN-graph index: indexed search equals the " +
    "in-memory path (codes/graph/entry round-trip)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 120)
    val dir = tempDir("knngraph").toString
    GraphAnn.writeKnnGraphIndex(emb, dir, k = 8, rounds = 2)
    val queries = emb.filter(col("vec_id") < 5)
    val inMem = GraphAnn.beamSearch(
        GraphAnn.nnDescentGraph(emb, k = 8, rounds = 2), emb, queries,
        k = 5, beam = 6, steps = 3)
      .orderBy(col("query_id"), col("rk")).collect().map(_.toSeq).toSeq
    val indexed = GraphAnn.searchKnnGraphIndexed(queries, dir,
        k = 5, beam = 6, steps = 3)
      .orderBy(col("query_id"), col("rk")).collect().map(_.toSeq).toSeq
    assert(indexed === inMem)
    // the index layout carries all three artifacts plus the build meta
    for (part <- Seq("codes", "graph", "entry", "meta"))
      assert(new java.io.File(
        Manifest.resolve(dir, part)).exists(), part)
    // meta pins the build parameters delete/health re-derive from — the
    // seed is the INDEX's, not a caller argument (a wrong caller seed
    // used to silently re-derive a different entry point). It is
    // written TWICE (r15): a preliminary row BEFORE the data tiers (so
    // a crashed build stays maintainable) and the final counted row
    // published through the manifest pointer — resolve() must see the
    // final one.
    val meta = spark.read.parquet(Manifest.resolve(dir, "meta"))
      .collect()
    assert(meta.length === 1)
    assert(meta.head.getAs[Long]("seed") === 42L)
    assert(meta.head.getAs[Int]("k") === 8)
    assert(meta.head.getAs[Long]("build_nodes") === 120L)
    assert(meta.head.getAs[Long]("build_edges") > 0L)
  }

  test("vectors beyond the BIGINT-safe dimensionality refuse loudly") {
    // dot ≤ dim·127² and dot²·1e6 < 2⁶³ hold only to dim 188; a 768-dim
    // production embedding must be rejected up front, not abort the
    // whole build later under ANSI overflow checking
    import SparkSpec.spark.implicits._
    val wide = Seq((1L, Array.fill(189)(0.5f)), (2L, Array.fill(189)(0.25f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      GraphAnn.nnDescentGraph(wide, k = 1, rounds = 1).collect()
    }
    assert(e.getMessage.contains("exceeds 188"), e.getMessage)
    // at the bound itself the build still runs
    val ok = Seq((1L, Array.fill(188)(0.5f)), (2L, Array.fill(188)(0.25f)),
      (3L, Array.fill(188)(-0.5f)))
      .toDF("vec_id", "embedding")
    assert(GraphAnn.nnDescentGraph(ok, k = 1, rounds = 1).count() > 0)
  }

  test("index append: HNSW-style insert — appended twins are reachable " +
    "(reverse links) and untouched nodes keep their lists") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 150)
    val dir = tempDir("knnapp").toString
    GraphAnn.writeKnnGraphIndex(emb, dir, k = 8, rounds = 3)
    val before = spark.read.parquet(
        Manifest.resolve(dir, "graph"))
      .collect().map(_.toSeq).toSet
    val queries = emb.filter(col("vec_id") < 5)
    GraphAnn.appendToKnnGraphIndex(
      queries.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding")), dir)
    val after = spark.read.parquet(
      Manifest.resolve(dir, "graph"))
    // appended nodes carry full out-lists (k inferred from the index)
    val outDeg = after.filter(col("src") >= 100000)
      .groupBy(col("src")).count().collect()
    assert(outDeg.length === 5 && outDeg.forall(_.getLong(1) === 8L))
    // twins are REACHABLE: the walk must arrive via re-ranked reverse
    // links and rank them first with sim key exactly 1e6
    val res = GraphAnn.searchKnnGraphIndexed(queries, dir,
      k = 3, beam = 8, steps = 5)
    val top1 = res.filter(col("rk") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    (0L to 4L).foreach { q =>
      assert(top1(q) === ((q + 100000, 1000000L)), s"query $q: ${top1(q)}")
    }
    // nodes NOT adjacent to any twin keep their exact pre-append lists
    val touched = after.filter(col("dst") >= 100000)
      .select(col("src")).distinct().collect().map(_.getLong(0)).toSet
    val untouchedAfter = after
      .filter(!col("src").isin(touched.toSeq: _*) && col("src") < 100000)
      .collect().map(_.toSeq).toSet
    assert(untouchedAfter.subsetOf(before))
    // the graph republished as a fresh manifest version
    assert(Manifest.resolve(dir, "graph") !== s"$dir/graph")
  }

  test("beam search on sf0.001 embeddings: recall@5 vs quantized " +
    "brute force is high") {
    // uniform-random 64-d embeddings are the hardest case for a k-NN
    // graph (no intrinsic low-dim structure): K=16/6 descent rounds
    // reaches ~0.92 graph recall, and beam 8 / 4 steps then recovers the
    // exact quantized top-5 (measured 1.0 here; asserted >= 0.9)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val graph = GraphAnn.nnDescentGraph(emb, k = 16, rounds = 6)
    val queries = emb.filter(col("vec_id") < 10)
    val approx = GraphAnn.beamSearch(graph, emb, queries,
      k = 5, beam = 8, steps = 4)
      .select(col("query_id"), col("cand_id"))
    // exact top-5 under the SAME quantized integer key (brute force over
    // all pairs) — the recall target the graph approximates
    val codes = GraphAnn.quantized(emb, "embedding", "vec_id")
    val q = codes.filter(col("id") < 10)
      .select(col("id").as("query_id"), col("codes").as("qc"),
        col("n2").as("qn2"))
    val exact = codes.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("d", graft.functions.VectorExpressions
        .dotProductI8(col("qc"), col("codes")))
      .withColumn("d2", col("d") * col("d"))
      .withColumn("nprod", col("qn2") * col("n2"))
      .withColumn("key", GraphAnn.simKey(col("d"), col("qn2"), col("n2")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("key").desc, col("id"))))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("id").as("cand_id"))
    val hits = approx.join(exact, Seq("query_id", "cand_id")).count()
    val total = exact.count()
    assert(hits >= (total * 0.9).toLong,
      s"recall ${hits.toDouble / total} below 0.9")
  }

  test("deleteFromKnnGraphIndex: deleting the ENTRY node re-derives a " +
      "surviving entry by the build rule and search still walks") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val idx = tempDir("graft-knn-del-").toString + "/idx"
    GraphAnn.writeKnnGraphIndex(emb, idx, k = 8, rounds = 3, seed = 42L)
    import SparkSpec.spark.implicits._
    val entryBefore = spark.read
      .parquet(Manifest.resolve(idx, "entry")).head.getLong(0)
    GraphAnn.deleteFromKnnGraphIndex(spark, idx,
      Seq(entryBefore).toDF("vec_id"))
    val entryAfter = spark.read
      .parquet(Manifest.resolve(idx, "entry")).head.getLong(0)
    assert(entryAfter != entryBefore)
    // the deleted node is gone from every tier
    assert(spark.read.parquet(Manifest.resolve(idx, "codes"))
      .filter(col("id") === entryBefore).isEmpty)
    val g = spark.read.parquet(Manifest.resolve(idx, "graph"))
    assert(g.filter(col("src") === entryBefore
      || col("dst") === entryBefore).isEmpty)
    // search from the re-derived entry still returns ranked results
    val out = GraphAnn.searchKnnGraphIndexed(
      emb.filter(col("vec_id") < 3), idx, k = 3, beam = 8, steps = 4)
    assert(out.count() > 0)
    assert(out.filter(col("cand_id") === entryBefore).isEmpty,
      "deleted node must never surface as a result")
  }

  test("index health: light deletion stays healthy, heavy deletion " +
      "trips the rebuild trigger, a disconnected entry always trips") {
    import SparkSpec.spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 100)
    val idx = tempDir("graft-knn-health-").toString + "/idx"
    GraphAnn.writeKnnGraphIndex(emb, idx, k = 8, rounds = 3)
    // untouched index: health is exactly 1e6 and nothing trips
    val fresh = GraphAnn.knnGraphIndexHealth(spark, idx).collect().head
    assert(fresh.getAs[Long]("health_micro") === 1000000L)
    assert(fresh.getAs[Boolean]("entry_connected"))
    assert(!fresh.getAs[Boolean]("rebuild"))
    // light deletion (2%): mean out-degree barely moves
    GraphAnn.deleteFromKnnGraphIndex(spark, idx,
      Seq(0L, 1L).toDF("vec_id"))
    val light = GraphAnn.knnGraphIndexHealth(spark, idx).collect().head
    assert(light.getAs[Long]("health_micro") > 900000L)
    assert(!light.getAs[Boolean]("rebuild"))
    // heavy deletion (~40%): survivors lose ~40% of their lists —
    // health ~ 0.6e6, well under the 0.8e6 default threshold
    GraphAnn.deleteFromKnnGraphIndex(spark, idx,
      emb.filter(col("vec_id") % 5 < 2).select(col("vec_id")))
    val heavy = GraphAnn.knnGraphIndexHealth(spark, idx).collect().head
    assert(heavy.getAs[Long]("health_micro") < 800000L,
      heavy.getAs[Long]("health_micro").toString)
    assert(heavy.getAs[Boolean]("rebuild"))
    // the trigger is also caller-tunable: the same heavy state passes
    // under a permissive threshold (isolating the threshold rule)
    val loose = GraphAnn.knnGraphIndexHealth(spark, idx,
      minHealthMicro = 100000L).collect().head
    assert(!loose.getAs[Boolean]("rebuild"))
  }
}
