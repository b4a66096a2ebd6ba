package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Manifest, SidecarFs}

/** The takedown-during-live-ingest contract (tombstones): a tombstone
  * request (a) registers while an ingest batch is in flight — exactly
  * when the hard `deleteFrom*Index` rewrites refuse, (b) takes effect at
  * the NEXT read of every indexed search/match entry point, and (c) is
  * consumed by the next full-rewrite maintenance pass (compaction or
  * hard delete), which folds the ids into its anti-join and clears the
  * request dirs it snapshotted. */
class TombstoneSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def docs(n: Int) =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < n)

  private def emb(n: Int) =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < n)

  /** Simulate an IN-FLIGHT ingest batch: run a real batch, then strip
    * its commit marker — live keyed files without a marker is the
    * crashed/in-flight state the maintenance interlock guards. */
  private def stripMarker(idx: String, key: String): Unit =
    assert(SidecarFs.deleteFile(s"$idx/ingest_commits/$key"))

  test("minhash: tombstone lands mid-ingest where the hard delete " +
      "refuses; matches stop immediately; compaction consumes") {
    val idx = tempDir("tomb-mh-").toString + "/idx"
    val history = docs(100)
    Dedup.writeMinhashIndex(history, idx, numHashes = 64, bands = 16,
      shingleSize = 5, maxBucketSize = 500)
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") >= 100 && col("doc_id") < 110)
    Dedup.ingestBatchIntoMinhashIndex(batch, idx, "spec-b0", 0.9)
    stripMarker(idx, "spec-b0")
    // the stop-the-world: both full-rewrite passes refuse in flight
    intercept[IllegalArgumentException] {
      Dedup.deleteFromMinhashIndex(spark, idx, Seq(1L).toDF("doc_id"))
    }
    intercept[IllegalArgumentException] {
      Dedup.compactMinhashIndex(spark, idx)
    }
    // the tombstone races nothing
    Dedup.addTombstones(spark, idx, Seq(1L, 2L).toDF("doc_id"))
    assert(Dedup.tombstoneDirs(idx).size === 1)
    // idempotent re-delivery: the same request overwrites itself
    Dedup.addTombstones(spark, idx, Seq(2L, 1L).toDF("doc_id"))
    assert(Dedup.tombstoneDirs(idx).size === 1)
    // effect is immediate: twins of tombstoned docs no longer match
    // their origin, retained history and the IN-FLIGHT batch still do
    val probes = docs(3).select((col("doc_id") + 1000).as("doc_id"),
        col("text"))
      .unionByName(batch.select((col("doc_id") + 2000).as("doc_id"),
        col("text")))
    val m = Dedup.incrementalMinhashMatchesIndexed(probes, idx)
      .filter(col("est_jaccard") >= 0.9999)
      .select(col("batch_id"), col("hist_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!m.contains((1001L, 1L)) && !m.contains((1002L, 2L)))
    assert(m.contains((1000L, 0L)), "retained history must still flag")
    assert(m.contains((2100L, 100L)),
      "the in-flight batch's rows must stay fully readable")
    // stream converges (marker restored) -> compaction consumes: the
    // ids leave BOTH tiers and the request dir clears
    SidecarFs.mkdirs(s"$idx/ingest_commits")
    SidecarFs.writeStringAtomic(s"$idx/ingest_commits/spec-b0", "")
    Dedup.compactMinhashIndex(spark, idx)
    assert(Dedup.tombstoneDirs(idx).isEmpty, "requests consumed")
    assert(spark.read.parquet(Manifest.resolve(idx, "sigs"))
      .filter(col("doc_id").isin(1L, 2L)).isEmpty)
    assert(spark.read.parquet(Manifest.resolve(idx, "bands"))
      .filter(col("hist_id").isin(1L, 2L)).isEmpty)
    val after = Dedup.incrementalMinhashMatchesIndexed(probes, idx)
      .filter(col("est_jaccard") >= 0.9999)
      .select(col("batch_id")).collect().map(_.getLong(0)).toSet
    assert(!after.contains(1001L) && !after.contains(1002L))
  }

  test("ivf: tombstoned vectors never surface from the indexed probe; " +
      "the hard delete folds pending requests in and clears them") {
    val idx = tempDir("tomb-ivf-").toString + "/idx"
    Similarity.writeIvfIndex(emb(200), idx, nlist = 8)
    val queries = emb(5)
    val before = Similarity.ivfTopKIndexed(queries, idx, k = 5, nprobe = 8)
      .select(col("cand_id")).distinct().collect().map(_.getLong(0)).toSet
    // tombstone every current neighbour of the probe set: none may
    // resurface, proving the filter sits on the read path itself
    Dedup.addTombstones(spark, idx, before.toSeq.toDF("vec_id"))
    val after = Similarity.ivfTopKIndexed(queries, idx, k = 5, nprobe = 8)
      .select(col("cand_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(after.intersect(before).isEmpty)
    assert(after.nonEmpty, "the probe still answers from survivors")
    // hard delete (no ingest in flight) consumes the pending requests
    Similarity.deleteFromIvfIndex(spark, idx, Seq(199L).toDF("vec_id"))
    assert(Dedup.tombstoneDirs(idx).isEmpty)
    assert(spark.read
      .parquet(Manifest.resolve(idx, "postings"))
      .filter(col("cand_id").isin(before.map(x => x: Any).toSeq: _*))
      .isEmpty, "consumed tombstones left the postings tier")
  }

  test("ivf-pq: the codes-tier tombstone filter holds in both scan modes") {
    val idx = tempDir("tomb-ivfpq-").toString + "/idx"
    Similarity.writeIvfPqIndex(emb(200), idx, nlist = 8, m = 8, ksub = 16)
    val queries = emb(3)
    val hit = Similarity.ivfPqTopKIndexed(queries, idx, k = 3, nprobe = 8)
      .select(col("cand_id")).distinct().collect().map(_.getLong(0)).toSet
    Dedup.addTombstones(spark, idx, hit.toSeq.toDF("vec_id"))
    for (adcOnly <- Seq(false, true)) {
      val after = Similarity.ivfPqTopKIndexed(queries, idx, k = 3,
          nprobe = 8, adcOnly = adcOnly)
        .select(col("cand_id")).distinct().collect().map(_.getLong(0)).toSet
      assert(after.intersect(hit).isEmpty, s"adcOnly=$adcOnly")
    }
    // compaction consumes across BOTH per-document tiers
    Similarity.compactIvfPqIndex(spark, idx)
    assert(Dedup.tombstoneDirs(idx).isEmpty)
    for (tier <- Seq("codes", "vectors"))
      assert(spark.read.parquet(Manifest.resolve(idx, tier))
        .filter(col("cand_id").isin(hit.map(x => x: Any).toSeq: _*))
        .isEmpty, tier)
  }

  test("graph: tombstoned nodes still ROUTE but never SURFACE; ranks " +
      "re-pack; the hard delete consumes") {
    val idx = tempDir("tomb-graph-").toString + "/idx"
    val corpus = emb(100)
    GraphAnn.writeKnnGraphIndex(corpus, idx, k = 8, rounds = 3)
    val queries = corpus.filter(col("vec_id") < 3)
    val before = GraphAnn.searchKnnGraphIndexed(queries, idx,
      k = 5, beam = 8, steps = 4)
    val top = before.filter(col("rk") === 1)
      .select(col("cand_id")).collect().map(_.getLong(0)).toSet
    Dedup.addTombstones(spark, idx, top.toSeq.toDF("vec_id"))
    val after = GraphAnn.searchKnnGraphIndexed(queries, idx,
      k = 5, beam = 8, steps = 4)
    assert(after.filter(col("cand_id")
      .isin(top.map(x => x: Any).toSeq: _*)).isEmpty)
    // ranks re-pack densely from 1 per query
    val rks = after.groupBy(col("query_id"))
      .agg(min(col("rk")).as("lo"), max(col("rk")).as("hi"),
        count(lit(1)).as("n")).collect()
    rks.foreach { r =>
      assert(r.getInt(1) === 1 && r.getLong(3) === r.getInt(2).toLong, r)
    }
    // the structural cleanup consumes the standing requests
    GraphAnn.deleteFromKnnGraphIndex(spark, idx, Seq(99L).toDF("vec_id"))
    assert(Dedup.tombstoneDirs(idx).isEmpty)
    val codes = spark.read.parquet(Manifest.resolve(idx, "codes"))
    assert(codes.filter(col("id").isin(top.map(x => x: Any).toSeq: _*))
      .isEmpty, "hard delete must fold tombstoned ids into its rewrite")
  }

  test("the tombstone tier refuses bulk deletions (read-path broadcast " +
      "ceiling) and steers to the hard path") {
    val idx = tempDir("tomb-bulk-").toString + "/idx"
    Similarity.writeIvfIndex(emb(50), idx, nlist = 4)
    val bulk = spark.range(Dedup.MaxPendingTombstones + 1)
      .select(col("id").as("vec_id"))
    val e = intercept[IllegalArgumentException] {
      Dedup.addTombstones(spark, idx, bulk)
    }
    assert(e.getMessage.contains("deleteFrom"), e.getMessage)
    assert(Dedup.tombstoneDirs(idx).isEmpty, "nothing may land on refusal")
  }

  /** The request key as the tombstone writer once computed it in Spark:
    * md5 of the sorted, comma-joined distinct ids cast to string. */
  private def sparkKey(ids: org.apache.spark.sql.DataFrame): String =
    ids.select(col(ids.columns.head).cast("string").as("del_id")).distinct()
      .agg(md5(concat_ws(",", sort_array(collect_list(col("del_id"))))))
      .head.getString(0)

  private def files(dir: String): Seq[String] =
    SidecarFs.listNames(dir).sorted

  test("the driver request key equals Spark's md5 expression: non-ASCII " +
      "ids, byte order against UTF-16 order, int/long/string callers") {
    // U+1F600 is a surrogate pair in UTF-16 (D83D DE00 < FFFD) but sorts
    // AFTER U+FFFD by UTF-8 bytes (F0 9F … > EF BF BD); "10" < "2" too
    val texts = Seq("\uFFFD", "\uD83D\uDE00", "\u00E9", "\u65E5\u672C", "\u00DF",
      "Z", "10", "2")
    assert("\uD83D\uDE00" < "\uFFFD", "UTF-16 order puts U+1F600 first")
    assert(Dedup.requestKey(texts) === sparkKey(texts.toDF("id")))
    assert(Dedup.requestKey(texts.reverse) === Dedup.requestKey(texts))
    val ints = Seq(10, 2, 3, 2)
    val callers = Seq(ints.toDF("id"), ints.map(_.toLong).toDF("id"),
      ints.map(_.toString).toDF("id"))
    // one takedown delivered with three caller types: one key, Spark's,
    // and every delivery finds the first one's request dir
    val idx = tempDir("tomb-key-").toString + "/idx"
    for (c <- callers) {
      assert(Dedup.requestKey(Seq("10", "2", "3")) === sparkKey(c))
      Dedup.addTombstones(spark, idx, c)
      assert(Dedup.tombstoneDirs(idx) ===
        Seq(s"$idx/tombstones/req-${sparkKey(c)}"))
    }
  }

  test("re-delivering a request whose dir the Spark-side writer made " +
      "short-circuits: no second dir, the first untouched") {
    val idx = tempDir("tomb-redeliver-").toString + "/idx"
    val ids = Seq(7L, 3L, 11L).toDF("doc_id")
    val fin = s"$idx/tombstones/req-${sparkKey(ids)}"
    graft.core.Stored.write(
      ids.select(col("doc_id").cast("string").as("del_id")).coalesce(1), fin)
    val before = files(fin)
    Dedup.addTombstones(spark, idx, Seq("11", "3", "7").toDF("id"))
    assert(Dedup.tombstoneDirs(idx) === Seq(fin))
    assert(files(fin) === before)
    assert(SidecarFs.listNames(s"$idx/tombstones") === Seq(fin.split('/').last))
  }

  test("an r14-style request dir (no schema record, bigint del_id) " +
      "filters exactly like a current request") {
    val idx = tempDir("tomb-r14-").toString + "/idx"
    Similarity.writeIvfIndex(emb(200), idx, nlist = 8)
    def probe() = Similarity.ivfTopKIndexed(emb(5), idx, k = 5, nprobe = 8)
      .collect().sortBy(_.toString).toSeq
    val hit = probe().map(_.getAs[Long]("cand_id")).distinct
    val r14 = s"$idx/tombstones/req-r14"
    hit.toDF("del_id").coalesce(1).write.parquet(r14)
    assert(!SidecarFs.exists(s"$r14/${graft.core.Stored.SchemaFile}"))
    assert(Dedup.pendingTombstones(spark, idx) === hit.map(_.toString).toSet)
    val legacy = probe()
    SidecarFs.deleteTree(r14)
    Dedup.addTombstones(spark, idx, hit.toDF("vec_id"))
    assert(probe() === legacy)
    assert(legacy.nonEmpty &&
      legacy.map(_.getAs[Long]("cand_id")).intersect(hit).isEmpty, legacy)
  }

  test("a request that contains a null registers as before: keyed by its " +
      "non-null ids, the null stored, and null ids are never filtered") {
    val idx = tempDir("tomb-null-").toString + "/idx"
    val withNull = Seq(Some(5L), None, Some(1L)).toDF("doc_id")
    Dedup.addTombstones(spark, idx, withNull)
    val dir = s"$idx/tombstones/req-${sparkKey(withNull)}"
    assert(Dedup.tombstoneDirs(idx) === Seq(dir))
    assert(graft.core.Stored.read(spark, dir).collect().map(_.getString(0))
      .toSeq.sortBy(Option(_)) === Seq(null, "1", "5"))
    assert(Dedup.pendingTombstones(spark, idx) === Set("1", "5"))
    // a null-only request registers too (its key is md5 of "")
    val onlyNull = Seq(Option.empty[Long]).toDF("doc_id")
    Dedup.addTombstones(spark, idx, onlyNull)
    assert(Dedup.tombstoneDirs(idx).toSet ===
      Set(dir, s"$idx/tombstones/req-${sparkKey(onlyNull)}"))
    // the read filter keeps a null id, as the anti-join it replaced did
    val rows = Dedup.exceptTombstoned(
        Seq(Some(1L), None, Some(2L), Some(5L)).toDF("id"), "id",
        Dedup.pendingTombstones(spark, idx))
      .collect().map(r => Option(r.get(0))).toSeq
    assert(rows.sortBy(_.toString) === Seq(None, Some(2L)).sortBy(_.toString))
  }

  test("request dirs that together exceed the pending ceiling (a broken " +
      "single-writer contract) still filter correctly") {
    val idx = tempDir("tomb-over-").toString + "/idx"
    Similarity.writeIvfIndex(emb(50), idx, nlist = 4)
    // two hand-planted requests: every vec_id from 10 up is tombstoned
    val half = Dedup.MaxPendingTombstones / 2 + 1
    for ((lo, name) <- Seq((10L, "a"), (10L + half, "b")))
      graft.core.Stored.write(spark.range(lo, lo + half)
        .select(col("id").cast("string").as("del_id")).coalesce(1),
        s"$idx/tombstones/req-$name")
    assert(Dedup.pendingTombstones(spark, idx).size > Dedup.MaxPendingTombstones)
    val hits = Similarity.ivfTopKIndexed(emb(50), idx, k = 5, nprobe = 4)
      .select(col("query_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.nonEmpty)
    assert(hits.forall(_._2 < 10L), hits.toSeq)
  }

  test("a pending request adds no Spark job to a MinHash or IVF probe") {
    val root = tempDir("tomb-jobs-").toString
    val (mh, ivf) = (s"$root/mh", s"$root/ivf")
    Dedup.writeMinhashIndex(docs(100), mh, numHashes = 32, bands = 8,
      shingleSize = 5)
    Similarity.writeIvfIndex(emb(100), ivf, nlist = 4)
    def jobs(): (Int, Int) = (
      jobsIn(Dedup.incrementalMinhashMatchesIndexed(docs(5), mh).collect())._2,
      jobsIn(Similarity.ivfTopKIndexed(emb(5), ivf, k = 5, nprobe = 4)
        .collect())._2)
    jobs() // warm
    val none = jobs()
    Dedup.addTombstones(spark, mh, Seq(1L, 2L).toDF("doc_id"))
    Dedup.addTombstones(spark, ivf, Seq(1L, 2L).toDF("vec_id"))
    assert(jobs() === none)
  }

  test("health gauge survives a TOTAL takedown: health 0, rebuild, no crash") {
    val idx = tempDir("tomb-total-").toString + "/idx"
    val corpus = emb(40)
    GraphAnn.writeKnnGraphIndex(corpus, idx, k = 4, rounds = 2)
    GraphAnn.deleteFromKnnGraphIndex(spark, idx, corpus.select("vec_id"))
    val h = GraphAnn.knnGraphIndexHealth(spark, idx).collect().head
    assert(h.getAs[Long]("nodes") === 0L)
    assert(h.getAs[Long]("health_micro") === 0L)
    assert(!h.getAs[Boolean]("entry_connected"))
    assert(h.getAs[Boolean]("rebuild"))
  }
}
