package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Manifest, SidecarFs, Stored}

/** Schema records on the persisted-index tiers ([[graft.core.Stored]]):
  * every MinHash, IVF, IVF-PQ and k-NN-graph tier a write, rebuild,
  * delete or compaction publishes — and
  * every tombstone request — reads back with its record as Spark would
  * infer it, appends and ingests keep the live dir's record valid, a
  * probe and a drift gauge launch fewer jobs than inferring reads cost,
  * every bounded tier reads on the driver with no job, and an index
  * written before records existed queries identically. */
class IndexSchemaSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def emb(from: Long, until: Long, shift: Long = 0L) =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") >= from && col("vec_id") < until)
      .select((col("vec_id") + shift).as("vec_id"), col("embedding"))

  private def docs(ids: Seq[Long]) = ids
    .map(i => (i, s"document number $i with some repeated filler words $i"))
    .toDF("doc_id", "text")

  private def checkTiers(idx: String, tiers: String*): Unit =
    tiers.foreach(t => assertReadsAsInferred(Manifest.resolve(idx, t)))

  private val pqTiers =
    Seq("centroids", "codebooks", "pq_meta", "codes", "vectors")

  test("IVF-PQ: every tier reads back with its record as Spark infers " +
      "it, after the write, an append, an ingest, a delete, a " +
      "compaction and a rebuild") {
    val idx = tempDir("schema-pq-").toString + "/idx"
    Similarity.writeIvfPqIndex(emb(0, 120), idx, nlist = 4, m = 8, ksub = 8)
    checkTiers(idx, pqTiers: _*)
    // appends write into the live cell dirs with the tier's own encoder
    Similarity.appendToIvfPqIndex(emb(0, 60, shift = 100000L), idx)
    checkTiers(idx, "codes", "vectors")
    // minCos above 1 keeps every vector: the whole batch is appended
    Similarity.ingestBatchIntoIvfPqIndex(emb(60, 90, shift = 200000L), idx,
      "b1", minCos = 2.0)
    checkTiers(idx, "codes", "vectors")
    Similarity.deleteFromIvfPqIndex(spark, idx, Seq(1L, 2L).toDF("vec_id"))
    checkTiers(idx, "codes", "vectors")
    Similarity.compactIvfPqIndex(spark, idx)
    checkTiers(idx, "codes", "vectors")
    // a zero bar trips on any index: all five tiers are rewritten
    val reb = Similarity.rebuildIvfPqIndexIfDrifted(spark, idx,
      maxDriftMicro = 0L).collect().head
    assert(reb.getAs[Boolean]("rebuilt"))
    checkTiers(idx, pqTiers: _*)
  }

  test("IVF: every tier reads back with its record as Spark infers it, " +
      "after the write, an append, an ingest, a delete, a compaction and " +
      "a rebuild") {
    val idx = tempDir("schema-ivf-").toString + "/idx"
    val tiers = Seq("centroids", "postings", "meta")
    Similarity.writeIvfIndex(emb(0, 120), idx, nlist = 4)
    checkTiers(idx, tiers: _*)
    Similarity.appendToIvfIndex(emb(0, 60, shift = 100000L), idx)
    checkTiers(idx, "postings")
    Similarity.ingestBatchIntoIvfIndex(emb(60, 90, shift = 200000L), idx,
      "b1", minCos = 2.0)
    checkTiers(idx, "postings")
    Similarity.deleteFromIvfIndex(spark, idx, Seq(1L, 2L).toDF("vec_id"))
    checkTiers(idx, "postings")
    Similarity.compactIvfIndex(spark, idx)
    checkTiers(idx, "postings")
    val reb = Similarity.rebuildIvfIndexIfDrifted(spark, idx,
      maxDriftMicro = 0L).collect().head
    assert(reb.getAs[Boolean]("rebuilt"))
    checkTiers(idx, tiers: _*)
  }

  test("MinHash: every tier and tombstone request reads back with its " +
      "record as Spark infers it, after the write, an append, an ingest, " +
      "a compaction and a delete") {
    val idx = tempDir("schema-mh-").toString + "/idx"
    val tiers = Seq("bands", "sigs", "meta")
    Dedup.writeMinhashIndex(docs(0L until 30L), idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    checkTiers(idx, tiers: _*)
    Dedup.appendToMinhashIndex(docs(100L until 120L), idx)
    checkTiers(idx, "bands", "sigs")
    Dedup.ingestBatchIntoMinhashIndex(docs(200L until 210L), idx, "b1",
      threshold = 0.9)
    checkTiers(idx, "bands", "sigs")
    // the request is recorded in its staging dir, before the rename
    Dedup.addTombstones(spark, idx, Seq(3L, 4L).toDF("doc_id"))
    val reqs = Dedup.tombstoneDirs(idx)
    assert(reqs.size == 1)
    assertReadsAsInferred(reqs.head)
    Dedup.compactMinhashIndex(spark, idx)
    assert(Dedup.tombstoneDirs(idx).isEmpty)
    checkTiers(idx, "bands", "sigs")
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(5L).toDF("doc_id"))
    checkTiers(idx, "bands", "sigs")
  }

  test("k-NN graph: every tier reads back with its record as Spark " +
      "infers it, after the write, an append, a delete and a rebuild") {
    val idx = tempDir("schema-graph-").toString + "/idx"
    val tiers = Seq("codes", "graph", "entry", "meta")
    GraphAnn.writeKnnGraphIndex(emb(0, 120), idx, k = 4, rounds = 2)
    checkTiers(idx, tiers: _*)
    // the graph is rewritten; codes take an append with their own encoder
    GraphAnn.appendToKnnGraphIndex(emb(0, 30, shift = 100000L), idx)
    checkTiers(idx, "codes", "graph")
    // deleting the entry point makes the delete re-derive it
    val entry = Stored.read(spark, Manifest.resolve(idx, "entry"))
      .head.getAs[Long]("cand_id")
    GraphAnn.deleteFromKnnGraphIndex(spark, idx,
      Seq(entry, entry + 1L).toDF("vec_id"))
    assert(Manifest.resolve(idx, "entry") != s"$idx/entry")
    checkTiers(idx, "codes", "graph", "entry")
    val reb = GraphAnn.rebuildKnnGraphIndexIfUnhealthy(spark, idx,
      minHealthMicro = Long.MaxValue).collect().head
    assert(reb.getAs[Boolean]("rebuilt"))
    checkTiers(idx, tiers: _*)
  }

  test("a probe and a drift gauge of a fresh IVF-PQ index launch fewer " +
      "jobs than inferring reads cost") {
    val idx = tempDir("schema-jobs-").toString + "/idx"
    Similarity.writeIvfPqIndex(emb(0, 120), idx, nlist = 4, m = 8, ksub = 8)
    val queries = emb(0, 6, shift = 500000L)
    def probe() = Similarity.ivfPqTopKIndexed(queries, idx, k = 3,
      nprobe = 2).collect().map(_.toString).sorted.toSeq
    def drift() = Similarity.ivfPqIndexDrift(spark, idx).collect().head
      .toString
    probe(); drift() // warm: the counts below are steady-state
    val (hits, probeJobs) = jobsIn(probe())
    val (gauge, driftJobs) = jobsIn(drift())
    assert(hits.nonEmpty)
    // a pass that does not trip launches no more than its gauge: none
    // while the index maintains the gauge's sums
    val (noTrip, noTripJobs) = jobsIn(Similarity.rebuildIvfPqIndexIfDrifted(
      spark, idx, maxDriftMicro = Long.MaxValue).collect().head)
    assert(!noTrip.getAs[Boolean]("rebuilt"))
    assert(noTripJobs == driftJobs, s"$noTripJobs vs $driftJobs jobs")
    // an index written before schema and gauge records existed
    dropSchemaRecords(idx)
    dropFilesNamed(idx, Similarity.GaugeFile)
    val (legacyHits, legacyProbeJobs) = jobsIn(probe())
    val (legacyGauge, legacyDriftJobs) = jobsIn(drift())
    assert(legacyHits == hits && legacyGauge == gauge)
    // the tiers a probe opens (centroids, pq_meta, codebooks, codes,
    // vectors) each cost an inference job without a record; a gauge
    // without a gauge record scans the vectors tier
    assert(probeJobs < legacyProbeJobs, s"$probeJobs vs $legacyProbeJobs")
    assert(driftJobs < legacyDriftJobs, s"$driftJobs vs $legacyDriftJobs")
    assert((probeJobs, driftJobs) == ((PinnedProbeJobs, PinnedDriftJobs)))
  }

  // measured on SparkSpec's session (local[4], 4 shuffle partitions);
  // the same calls cost 17 and 9 jobs when every tier was read with
  // inference, centroids were range-sorted and pq_meta read twice, 10
  // and 4 while the bounded tiers (pq_meta, centroids, codebooks) were
  // collected through a Spark job each, and 7 and 2 while the gauge
  // scanned the vectors tier on every call
  private val PinnedProbeJobs = 7
  private val PinnedDriftJobs = 0

  test("Stored.collect reads every bounded index tier on the driver as " +
      "Stored.read(...).collect() does, with no job, broadcast or cache") {
    val root = tempDir("schema-local-").toString
    val (ivf, pq, mh, graph) =
      (s"$root/ivf", s"$root/pq", s"$root/mh", s"$root/graph")
    Similarity.writeIvfIndex(emb(0, 120), ivf, nlist = 4)
    Similarity.writeIvfPqIndex(emb(0, 120), pq, nlist = 4, m = 8, ksub = 8)
    Dedup.writeMinhashIndex(docs(0L until 30L), mh,
      numHashes = 32, bands = 8, shingleSize = 5)
    GraphAnn.writeKnnGraphIndex(emb(0, 120), graph, k = 4, rounds = 2)
    def bounded(): Seq[String] = Seq(
      ivf -> Seq("centroids", "meta"),
      pq -> Seq("centroids", "codebooks", "pq_meta"),
      mh -> Seq("meta"),
      graph -> Seq("meta", "entry")).flatMap { case (idx, tiers) =>
        tiers.map(Manifest.resolve(idx, _)) }
    val sc = spark.sparkContext
    def readsLikeSpark(dir: String): Unit = {
      val expected = Stored.read(spark, dir)
      val persisted = sc.getPersistentRDDs.keySet
      // broadcast ids are sequential: the second probe's id shows how
      // many broadcasts were made in between
      val before = sc.broadcast(0)
      val (rows, jobs) = jobsIn(Stored.collect(spark, dir))
      val after = sc.broadcast(0)
      try {
        assert(jobs == 0, s"$dir: $jobs jobs")
        assert(after.id == before.id + 1, s"$dir: a broadcast was made")
        assert(sc.getPersistentRDDs.keySet == persisted, dir)
        assert(rows.nonEmpty && rows.forall(_.schema == expected.schema), dir)
        assert(rows.toSeq == expected.collect().toSeq, dir)
      } finally { before.destroy(); after.destroy() }
    }
    bounded().foreach(readsLikeSpark)
    // rebuilds publish every bounded tier as a new version
    assert(Similarity.rebuildIvfIndexIfDrifted(spark, ivf, maxDriftMicro = 0L)
      .collect().head.getAs[Boolean]("rebuilt"))
    assert(Similarity.rebuildIvfPqIndexIfDrifted(spark, pq, maxDriftMicro = 0L)
      .collect().head.getAs[Boolean]("rebuilt"))
    assert(GraphAnn.rebuildKnnGraphIndexIfUnhealthy(spark, graph,
      minHealthMicro = Long.MaxValue).collect().head.getAs[Boolean]("rebuilt"))
    assert(Manifest.resolve(pq, "pq_meta") != s"$pq/pq_meta")
    bounded().foreach(readsLikeSpark)
    // the pre-anchor 4-column pq_meta layout
    val legacy = s"$root/legacy_pq_meta"
    Stored.write(Seq((8, 8, 4, true)).toDF("m", "ksub", "dsub", "has_vectors")
      .coalesce(1), legacy)
    readsLikeSpark(legacy)
    // a partitioned data tier is refused, not read without its partitions
    intercept[IllegalArgumentException](
      Stored.collect(spark, Manifest.resolve(pq, "codes")))
  }

  test("an IVF-PQ index written without records queries identically, " +
      "and its next publish writes records for what it rewrites") {
    val idx = tempDir("schema-legacy-").toString + "/idx"
    Similarity.writeIvfPqIndex(emb(0, 120), idx, nlist = 4, m = 8, ksub = 8)
    val queries = emb(0, 6, shift = 500000L)
    def probe() = Similarity.ivfPqTopKIndexed(queries, idx, k = 3,
      nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    val recorded = probe()
    dropSchemaRecords(idx)
    assert(probe() == recorded)
    // the delete publishes new code and vector versions, with records;
    // the untouched model tiers never get one synthesized
    Similarity.deleteFromIvfPqIndex(spark, idx, Seq(1L).toDF("vec_id"))
    checkTiers(idx, "codes", "vectors")
    for (t <- Seq("centroids", "codebooks", "pq_meta"))
      assert(!SidecarFs.exists(
        s"${Manifest.resolve(idx, t)}/${Stored.SchemaFile}"), t)
    val after = probe()
    assert(after.nonEmpty && !after.exists(_._3 == 1L))
  }
}
