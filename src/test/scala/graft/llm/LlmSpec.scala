package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Manifest

/** Ground-truth tests for the hash-family LLM operators (MinHash/SimHash/
  * sign-LSH) that the DuckDB oracle cannot express, plus language-ID and
  * fingerprint invariants. */
class LlmSpec extends SparkSpec {

  private lazy val docs = {
    import SparkSpec.spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away now"),
      (3L, "a completely different document about spark engines and big data"),
      (4L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (5L, "unrelated text with nothing shared at all zebra xylophone quasar"),
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs).orderBy("doc_id").collect()
    // docs 1 and 4 identical → one row keyed by min id 1 with dup_cnt 2
    assert(out.length == 4)
    val row1 = out.find(_.getLong(0) == 1L).get
    assert(row1.getLong(1) == 2L)
  }

  test("minhashLsh finds the near-duplicate pair and not unrelated ones") {
    val pairs = Dedup.minhashLsh(docs, numHashes = 64, bands = 16, shingleSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 4L))) // identical
    assert(keys.contains((1L, 2L)) || keys.contains((2L, 4L))) // near-dup
    assert(!keys.contains((3L, 5L))) // unrelated
    val est14 = pairs.find(p => (p._1, p._2) == (1L, 4L)).get._3
    assert(est14 == 1.0) // identical texts → identical signatures
  }

  test("minhashLsh degenerate bucket: 1k identical docs emit linear star pairs") {
    import SparkSpec.spark.implicits._
    // 1000 identical docs + 2 distinct ones. Without the hot-bucket cap the
    // identical docs form a ~500k-pair clique in EVERY band; with it, each
    // oversized bucket links members to the bucket-minimum representative:
    // exactly 999 pairs, all with estimate 1.0, all transitively joined.
    val many = (0L until 1000L).map(i => (i, "same boilerplate page body " * 4))
    val distinctDocs = Seq(
      (5000L, "a completely different document about spark engines"),
      (5001L, "unrelated text zebra xylophone quasar"))
    val corpus = (many ++ distinctDocs).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(corpus, numHashes = 64, bands = 16,
        shingleSize = 5, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length == 999)
    assert(pairs.forall { case (d1, _, est) => d1 == 0L && est == 1.0 })
    assert(pairs.map(_._2).toSet == (1L until 1000L).toSet)
  }

  test("simhash: identical texts at hamming 0; unrelated far apart") {
    // radius 10 needs 16 bands (the guard that exposed the old 8-band
    // call as silently lossy above radius 7)
    val out = Dedup.simhash(docs, maxHamming = 10, numBands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val h14 = out.find(p => (p._1, p._2) == (1L, 4L))
    assert(h14.exists(_._3 == 0))
    assert(!out.exists(p => (p._1, p._2) == (3L, 5L)))
  }

  test("simhash degenerate bucket: identical docs emit linear star pairs") {
    import SparkSpec.spark.implicits._
    // 500 identical docs: every byte-band bucket holds all of them, so
    // without the cap each of the 8 bands forms a ~125k-pair clique. With
    // maxBucketSize=100 each oversized bucket stars to the min-id
    // representative: exactly 499 distinct pairs, all at hamming 0.
    val corpus = (0L until 500L)
      .map(i => (i, "same boilerplate page body " * 4)).toDF("doc_id", "text")
    val pairs = Dedup.simhash(corpus, maxHamming = 3, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.length == 499)
    assert(pairs.forall { case (d1, _, h) => d1 == 0L && h == 0 })
    assert(pairs.map(_._2).toSet == (1L until 500L).toSet)
  }

  test("editDistancePairs: composite blocking finds within-distance pairs") {
    import SparkSpec.spark.implicits._
    val corpus = Seq(
      (1L, "hello world this is fine"),
      (2L, "hello world this is finer"),     // dist 1, same first token
      (3L, "hello world that is fine"),      // dist 2 vs doc 1
      (4L, "goodbye world this is fine"),    // different first token: blocked
      (5L, "hello totally different content here and much longer text"),
    ).toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(corpus, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out.contains((1L, 2L, 1)))
    assert(out.contains((1L, 3L, 2)))
    assert(out.contains((2L, 3L, 3)))
    // first-token blocking (documented): doc 4 is 'goodbye ...' — never
    // a candidate even though its distance to doc 1 is 7 > maxDist anyway
    assert(!out.exists(p => p._2 == 4L || p._1 == 4L))
    // doc 5 shares the block token but its length bucket is ≥ 2 buckets
    // away AND the length pre-filter kills it
    assert(!out.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("editDistancePairs hot block: shared first token emits star pairs") {
    import SparkSpec.spark.implicits._
    // 400 identical one-token-prefixed docs: one (token, length-bucket)
    // block far over the cap → star pairs to the min id, exact verify
    // still runs (dist 0), every member transitively linked.
    val corpus = (0L until 400L)
      .map(i => (i, "boilerplate repeated body text")).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(corpus, maxDist = 2,
        maxBlockSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.length == 399)
    assert(pairs.forall { case (d1, _, d) => d1 == 0L && d == 0 })
    assert(pairs.map(_._2).toSet == (1L until 400L).toSet)
  }

  test("ngramJaccardPairs exact-set math") {
    val out = Dedup.ngramJaccardPairs(docs, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // identical docs → jaccard 1.0
    assert(out.find(p => (p._1, p._2) == (1L, 4L)).exists(_._3 == 1.0))
    // 1 vs 2 share 12 of 14 distinct words: J = 12/(13+13-12)
    val j12 = out.find(p => (p._1, p._2) == (1L, 2L)).get._3
    assert(math.abs(j12 - 12.0 / 14.0) < 1e-3)
  }

  test("containment catches subset duplication that Jaccard misses") {
    import SparkSpec.spark.implicits._
    // doc 100 = the first 5 words of doc 1: containment of the smaller
    // side is exactly 1.0, while Jaccard ≈ 5/13 — the excerpt case
    val excerpt = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = docs.unionByName(excerpt)
    val cont = Dedup.ngramContainmentPairs(corpus, minContainment = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.exists { case (d1, d2, c) => d1 == 1L && d2 == 100L && c == 1.0 })
    val jac = Dedup.ngramJaccardPairs(corpus, minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!jac.contains((1L, 100L)), "jaccard should miss the excerpt")
  }

  test("bruteForceTopK ranks by cosine with deterministic ties") {
    import SparkSpec.spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)),
      (4L, Array(-1f, 0f, 0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1), k = 3)
      .orderBy("rk").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 3L, 4L)) // by similarity
    assert(out.head.getDouble(3) > 0.99)
  }

  test("lshTopK finds planted near-neighbours (high recall on clustered data)") {
    // Near-uniform random vectors have no meaningful neighbours, so recall
    // there measures luck. Plant structure instead: 20 base vectors, each
    // with a tight noisy twin — sign-LSH must bucket the twins together.
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(11)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 20).map(i => (i.toLong, unit(64)))
    val twins = base.map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val queries = base.toDF("vec_id", "embedding")
    val found = Similarity.lshTopK(corpus, queries, k = 3, planes = 8, tables = 8)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = base.count { case (i, _) => found.contains((i, i + 100L)) } / 20.0
    assert(recall >= 0.8, s"planted-twin recall too low: $recall")
  }

  test("ivfTopK: exhaustive probing (nprobe = nlist) is exactly brute force") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(19)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val corpus = (0 until 60).map(i => (i.toLong, unit(64))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = rows(Similarity.bruteForceTopK(corpus, queries, k = 4))
    val ivf = rows(Similarity.ivfTopK(corpus, queries, k = 4,
      nlist = 8, nprobe = 8))
    assert(ivf == exact, s"ivf=$ivf exact=$exact")
  }

  test("ivfTopKIndexed: persisted index reproduces in-memory ivfTopK and " +
      "the postings scan partition-prunes to the probed cells") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(19)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val corpus = (0 until 60).map(i => (i.toLong, unit(64))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    val idx = tempDir("graft-ivf-idx-").toString
    Similarity.writeIvfIndex(corpus, idx, nlist = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    // same trainCentroids fixpoint on the same corpus → identical cells,
    // identical scores: the index round-trip must be value-exact
    val mem = rows(Similarity.ivfTopK(corpus, queries, k = 4,
      nlist = 8, nprobe = 3))
    val onDisk = Similarity.ivfTopKIndexed(queries, idx, k = 4, nprobe = 3)
    assert(rows(onDisk) == mem)
    val scan = onDisk.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      "postings scan must prune by probed cell partitions")
  }

  test("compactMinhashIndex consolidates append file sets and preserves " +
      "reader output exactly") {
    import SparkSpec.spark.implicits._
    def mk(ids: Seq[Long]) = ids
      .map(i => (i, s"document number $i with some repeated filler words $i"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-mh-compact-").toString + "/idx"
    Dedup.writeMinhashIndex(mk(0L until 30L), idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    Dedup.appendToMinhashIndex(mk(100L until 120L), idx)
    Dedup.appendToMinhashIndex(mk(200L until 220L), idx)
    // one probe twin per write generation: original, append 1, append 2
    val probe = mk(Seq(5L, 105L, 205L))
      .select((col("doc_id") + 9000).as("doc_id"), col("text"))
    def matches() = Dedup.incrementalMinhashMatchesIndexed(probe, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def bandFiles() = {
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(Manifest.resolve(idx, "bands")))
      try s.filter(_.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val before = matches()
    assert(Set(5L, 105L, 205L).subsetOf(
      before.filter(_._3 >= 0.999).map(_._2)),
      s"twins across all generations must match: $before")
    val filesBefore = bandFiles()
    Dedup.compactMinhashIndex(spark, idx)
    assert(matches() == before, "compaction must not change reader output")
    assert(bandFiles() < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> ${bandFiles()})")
  }

  test("an indexed MinHash probe persists nothing: the batch signatures' " +
      "two consumers share one exchange, and matches equal the " +
      "from-scratch path's") {
    import SparkSpec.spark.implicits._
    def mk(ids: Seq[Long]) = ids
      .map(i => (i, s"document number $i with some repeated filler words $i"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-mh-probe-").toString + "/idx"
    val history = mk(0L until 30L)
    Dedup.writeMinhashIndex(history, idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    val probe = mk(Seq(5L, 12L, 40L))
      .select((col("doc_id") + 9000).as("doc_id"), col("text"))
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val df = Dedup.incrementalMinhashMatchesIndexed(probe, idx)
    val got = df.collect().map(_.toString).sorted.toSeq
    assert(sc.getPersistentRDDs.keySet == persisted)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), p)
    assert(got.nonEmpty && got == Dedup.incrementalMinhashMatches(history,
      probe, numHashes = 32, bands = 8, shingleSize = 5)
      .collect().map(_.toString).sorted.toSeq)
    Caches.release()
  }

  test("deleteFromMinhashIndex removes a doc's signatures from BOTH " +
      "tiers, publishes a new version, and leaves every other doc's " +
      "reader output untouched") {
    import SparkSpec.spark.implicits._
    def mk(ids: Seq[Long]) = ids
      .map(i => (i, s"document number $i with some repeated filler words $i"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-mh-delete-").toString + "/idx"
    Dedup.writeMinhashIndex(mk(0L until 30L), idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    val probe = mk(Seq(5L, 12L))
      .select((col("doc_id") + 9000).as("doc_id"), col("text"))
    def matches() = Dedup.incrementalMinhashMatchesIndexed(probe, idx)
      .collect().filter(_.getDouble(2) >= 0.999)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matches().map(_._2) == Set(5L, 12L))
    val bandsBefore = Manifest.resolve(idx, "bands")
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(5L).toDF("doc_id"))
    // deleted doc gone from both tiers; retained twin still flags
    assert(matches().map(_._2) == Set(12L),
      "deleted doc must stop matching; retained docs must not")
    assert(spark.read.parquet(Manifest.resolve(idx, "sigs"))
      .filter(col("doc_id") === 5L).isEmpty)
    assert(spark.read.parquet(Manifest.resolve(idx, "bands"))
      .filter(col("hist_id") === 5L).isEmpty)
    // published as a NEW version (snapshot semantics, not in-place)
    assert(Manifest.resolve(idx, "bands") != bandsBefore)
  }

  test("compactMinhashIndex re-applies the global hot-bucket cap that " +
      "appends can only honor within their own rows") {
    import SparkSpec.spark.implicits._
    // identical texts → identical signatures → every doc in the SAME
    // band buckets; cap 3 at write time, then two appends of exactly 3
    // copies each — WITHIN cap per append, so every row is kept and the
    // bucket creeps to up to 1 + 3 + 3 rows until compaction restores
    // the global bound
    def copies(ids: Seq[Long]) = ids
      .map(i => (i, "the very same boilerplate page body repeated"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-mh-recap-").toString + "/idx"
    Dedup.writeMinhashIndex(copies(0L until 10L), idx,
      numHashes = 32, bands = 8, shingleSize = 5, maxBucketSize = 3)
    Dedup.appendToMinhashIndex(copies(100L until 103L), idx)
    Dedup.appendToMinhashIndex(copies(200L until 203L), idx)
    def maxBucket() = SparkSpec.spark.read
      .parquet(Manifest.resolve(idx, "bands"))
      .groupBy("band", "bucket").count()
      .agg(max("count")).collect().head.getLong(0)
    assert(maxBucket() > 3, "appends should have grown a hot bucket")
    Dedup.compactMinhashIndex(SparkSpec.spark, idx)
    assert(maxBucket() <= 3,
      s"compaction must restore the write-time cap, got ${maxBucket()}")
    // the bucket-minimum representative (doc 0) must survive the re-cap
    val kept = SparkSpec.spark.read
      .parquet(Manifest.resolve(idx, "bands"))
      .select("hist_id").distinct().collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L))
  }

  test("manifest-pointer compaction: a reader resolved BEFORE compaction " +
      "finishes against the retained prior version; versions prune on " +
      "the next cycle") {
    import SparkSpec.spark.implicits._
    def mk(ids: Seq[Long]) = ids
      .map(i => (i, s"manifest lifecycle document $i with filler words $i"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-mh-manifest-").toString + "/idx"
    Dedup.writeMinhashIndex(mk(0L until 30L), idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    Dedup.appendToMinhashIndex(mk(100L until 110L), idx)
    val probe = mk(Seq(5L, 105L))
      .select((col("doc_id") + 9000).as("doc_id"), col("text"))
    // reader OPENED (file listing resolved) before compaction runs
    val preReader = Dedup.incrementalMinhashMatchesIndexed(probe, idx)
    val expected = preReader.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Dedup.compactMinhashIndex(SparkSpec.spark, idx)
    // the prior version is retained one cycle, so the pre-compaction
    // plan still scans complete data and must not error or change
    val afterSwap = preReader.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(afterSwap == expected,
      "pre-compaction reader must resolve a consistent retained version")
    // a FRESH reader resolves the new version through the manifest
    assert(Dedup.incrementalMinhashMatchesIndexed(probe, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == expected)
    def versionDirs(name: String) = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(idx))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(d => d == name || d.startsWith(name + "_v")).toSet
      } finally s.close()
    }
    // after one compaction: live v1 + retained plain dir
    assert(versionDirs("bands") == Set("bands", "bands_v1"),
      versionDirs("bands").toString)
    Dedup.compactMinhashIndex(SparkSpec.spark, idx)
    // after two: live v2 + retained v1; the plain dir is pruned
    assert(versionDirs("bands") == Set("bands_v1", "bands_v2"),
      versionDirs("bands").toString)
    assert(Dedup.incrementalMinhashMatchesIndexed(probe, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == expected)
    // a FRESH write over the compacted index resets the manifest: the
    // stale pointer must not shadow the new plain-layout dirs
    Dedup.writeMinhashIndex(mk(500L until 520L), idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    val fresh = Dedup.incrementalMinhashMatchesIndexed(
      mk(Seq(505L)).select((col("doc_id") + 9000).as("doc_id"), col("text")),
      idx).collect().map(_.getLong(1)).toSet
    assert(fresh.contains(505L) && !fresh.exists(_ < 500L),
      s"fresh write must supersede the old index: $fresh")
  }

  test("compaction refuses while an UNCOMMITTED ingest batch has live " +
      "keyed files; committed batches absorb fine and their markers " +
      "still short-circuit re-delivery afterwards") {
    import SparkSpec.spark.implicits._
    def mk(ids: Seq[Long]) = ids
      .map(i => (i, s"interlock doc $i token${i * 31} token${i * 57} end"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-mh-interlock-").toString + "/idx"
    Dedup.writeMinhashIndex(mk(0L until 20L), idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    Dedup.ingestBatchIntoMinhashIndex(mk(100L until 110L), idx, "k1",
      threshold = 0.9999)
    // a crashed delivery: keyed file present, no commit marker
    val bandDir = java.nio.file.Paths.get(
      Manifest.resolve(idx, "bands"), "band=0")
    val dead = bandDir.resolve("ingest-deadkey-0.parquet")
    java.nio.file.Files.write(dead, Array.emptyByteArray)
    val err = intercept[IllegalArgumentException] {
      Dedup.compactMinhashIndex(SparkSpec.spark, idx)
    }
    assert(err.getMessage.contains("deadkey"))
    // the abandoned-stream recovery: purge removes exactly the
    // orphaned key's files (committed k1 untouched) and unwedges
    // compaction without manual file surgery
    assert(Dedup.purgeOrphanedIngestBatches(idx) == Set("deadkey"))
    assert(!java.nio.file.Files.exists(dead))
    assert(Dedup.purgeOrphanedIngestBatches(idx).isEmpty)
    // with only COMMITTED batches, compaction absorbs their file sets
    def sigIds() = SparkSpec.spark.read
      .parquet(Manifest.resolve(idx, "sigs"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val before = sigIds().toSet
    Dedup.compactMinhashIndex(SparkSpec.spark, idx)
    assert(sigIds().toSet == before)
    // the absorbed batch's marker still short-circuits a re-delivery
    Dedup.ingestBatchIntoMinhashIndex(mk(100L until 110L), idx, "k1",
      threshold = 0.9999)
    assert(sigIds().toSet == before && sigIds().length == before.size,
      "re-delivery of an absorbed committed batch must no-op")
  }

  test("compactIfNeeded: below the per-dir file bar it is a no-op, past " +
      "it a real compaction runs") {
    import SparkSpec.spark.implicits._
    def mk(ids: Seq[Long]) = ids
      .map(i => (i, s"threshold compaction doc $i filler words $i"))
      .toDF("doc_id", "text")
    val idx = tempDir("graft-mh-ifneeded-").toString + "/idx"
    Dedup.writeMinhashIndex(mk(0L until 20L), idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    Dedup.appendToMinhashIndex(mk(100L until 110L), idx)
    def versions() = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(idx))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .count(_.startsWith("bands_v"))
      } finally s.close()
    }
    // generous bar: one append's file sets don't warrant a rewrite
    assert(!Dedup.compactMinhashIndexIfNeeded(SparkSpec.spark, idx,
      maxFilesPerBand = 1000))
    assert(versions() == 0, "no-op must not create a version dir")
    // bar of 0: any file count trips it → real compaction, new version
    assert(Dedup.compactMinhashIndexIfNeeded(SparkSpec.spark, idx,
      maxFilesPerBand = 0))
    assert(versions() == 1, "triggered compaction must publish a version")
  }

  test("leakageFreeSplit hashes non-numeric ids instead of silently " +
      "routing every row to 'test'") {
    import SparkSpec.spark.implicits._
    val docs = (0 until 300).map(i => s"doc-$i").toDF("doc_id")
    val pairs = Seq(("doc-1", "doc-2"), ("doc-10", "doc-11"))
      .toDF("d1", "d2")
    val out = Dedup.leakageFreeSplit(docs, pairs).collect()
    val bySplit = out.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    // the multiplicative rule on a string key used to null the bucket →
    // 100% 'test'; hashed keys must land near the 205/25/26 shares
    assert(bySplit.getOrElse("train", 0) > 200, bySplit.toString)
    assert(bySplit.getOrElse("val", 0) > 0 && bySplit.getOrElse("test", 0) > 0,
      bySplit.toString)
    // cluster atomicity still holds for string ids
    val splitOf = out.map(r => r.getString(0) -> r.getString(2)).toMap
    assert(splitOf("doc-1") == splitOf("doc-2"))
    assert(splitOf("doc-10") == splitOf("doc-11"))
  }

  test("keepBestPerCluster: score argmax with min-id ties, transitive " +
      "clusters, surviving singletons, and a loud string-id refusal") {
    import SparkSpec.spark.implicits._
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), // chain cluster, tie 2v3
      (10L, 4L),                                 // singleton
      (20L, 1L), (21L, 7L)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), // transitive: 1-2-3 one cluster
      (20L, 21L)).toDF("d1", "d2")
    val got = Dedup.keepBestPerCluster(docs, pairs, "score").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 9L, 3L)),   // max score 9 twice → min id 2 wins
      10L -> ((10L, 4L, 1L)), // singleton survives as its own cluster
      20L -> ((21L, 7L, 2L))), got.toString) // argmax NOT the min id
    val ex = intercept[IllegalArgumentException] {
      Dedup.keepBestPerCluster(
        Seq(("a", 1L)).toDF("doc_id", "score"),
        Seq(("a", "a")).toDF("d1", "d2"), "score")
    }
    assert(ex.getMessage.contains("numeric id"))
  }

  test("compactIvfIndex consolidates appended postings and preserves " +
      "reader output exactly") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(29)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val corpus = (0 until 40).map(i => (i.toLong, unit(64)))
      .toDF("vec_id", "embedding")
    val idx = tempDir("graft-ivf-compact-").toString + "/idx"
    Similarity.writeIvfIndex(corpus, idx, nlist = 4)
    Similarity.appendToIvfIndex(
      (100 until 120).map(i => (i.toLong, unit(64)))
        .toDF("vec_id", "embedding"), idx)
    val queries = corpus.filter($"vec_id" < 5)
    def rows() = Similarity.ivfTopKIndexed(queries, idx, k = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    def files() = {
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(Manifest.resolve(idx, "postings")))
      try s.filter(_.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val before = rows()
    val filesBefore = files()
    Similarity.compactIvfIndex(spark, idx)
    assert(rows() == before, "compaction must not change reader output")
    assert(files() < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> ${files()})")
  }

  test("ivfPqTopKIndexed equals the in-memory ivfPqTopK exactly; the " +
      "codes tier is measurably smaller than the raw-vector postings") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(31)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    // 2000 rows so parquet data outweighs per-file overhead — the size
    // assertion below compares real payload, not footers
    val corpus = (0 until 2000).map(i => (i.toLong, unit(64)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 6)
    val mem = Similarity.ivfPqTopK(corpus, queries, k = 4,
        nlist = 8, nprobe = 3, m = 8, ksub = 16, refine = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val idx = tempDir("graft-ivfpq-idx-").toString + "/idx"
    Similarity.writeIvfPqIndex(corpus, idx, nlist = 8, m = 8, ksub = 16)
    val onDisk = Similarity.ivfPqTopKIndexed(queries, idx, k = 4,
      nprobe = 3, refine = 4)
    assert(onDisk.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getDouble(3))).toSet == mem,
      "persisted IVF-PQ must reproduce the in-memory path exactly")
    // the ADC scan must prune to probed cell partitions
    val scan = onDisk.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      "codes scan must prune by probed cell partitions")
    // the memory cut: codes (m ints + norm per row) vs raw vectors
    // (64 floats + norm per row) — the on-disk ratio must be material
    def dirBytes(d: String) = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try s.filter(_.toString.endsWith(".parquet"))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
    val codesBytes = dirBytes(Manifest.resolve(idx, "codes"))
    val vecBytes = dirBytes(Manifest.resolve(idx, "vectors"))
    assert(codesBytes * 3 < vecBytes,
      s"codes tier must be << raw postings: $codesBytes vs $vecBytes")
  }

  test("IVF-PQ index lifecycle: frozen-codebook append makes twins " +
      "first-class; compaction preserves reader output via the manifest") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(37)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 100).map(i => (i.toLong, unit(64)))
      .toDF("vec_id", "embedding")
    val queries = base.filter($"vec_id" < 5)
    val idx = tempDir("graft-ivfpq-app-").toString + "/idx"
    Similarity.writeIvfPqIndex(base, idx, nlist = 8, m = 8, ksub = 16)
    // append exact twins of the queries with the FROZEN quantizer and
    // codebooks: identical vectors share the query's cell and codes, so
    // each twin must surface at rank 1 with cosine ~1
    Similarity.appendToIvfPqIndex(
      queries.select(($"vec_id" + 100000).as("vec_id"), $"embedding"), idx)
    def top1() = Similarity.ivfPqTopKIndexed(queries, idx, k = 3,
        nprobe = 2, refine = 4)
      .filter($"rk" === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    val afterAppend = top1()
    assert(afterAppend.forall { case (q, c, cos) =>
      c == q + 100000 && cos >= 0.999 },
      s"appended twins must be first-class index citizens: $afterAppend")
    Similarity.compactIvfPqIndex(SparkSpec.spark, idx)
    assert(top1() == afterAppend,
      "compaction must not change IVF-PQ reader output")
  }

  test("ADC-only IVF-PQ index (storeVectors=false): no refine tier on " +
      "disk, twin still rank-1 by ADC, exact re-rank refused") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(41)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 150).map(i => (i.toLong, unit(64)))
      .toDF("vec_id", "embedding")
    val queries = base.filter($"vec_id" < 5)
    val corpus = base.unionByName(
      queries.select(($"vec_id" + 100000).as("vec_id"), $"embedding"))
    val lean = tempDir("graft-ivfpq-lean-").toString + "/idx"
    Similarity.writeIvfPqIndex(corpus, lean, nlist = 8, m = 8, ksub = 16,
      storeVectors = false)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$lean/vectors")),
      "no refine tier may exist on disk")
    // an identical planted twin encodes to the query's own codes, so it
    // maximizes the query's ADC score — rank 1 without any re-rank
    val top1 = Similarity.ivfPqTopKIndexed(queries, lean, k = 3,
        nprobe = 2, adcOnly = true)
      .filter($"rk" === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(top1 == (0L until 5L).map(q => (q, q + 100000)).toSet, top1)
    // exact re-rank against a vectorless index must refuse loudly, not
    // silently return approximations
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKIndexed(queries, lean, k = 3, nprobe = 2)
    }
    assert(err.getMessage.contains("adcOnly"))
    // the lean index is the point: materially smaller than the same
    // index with the refine tier
    val full = tempDir("graft-ivfpq-full-").toString + "/idx"
    Similarity.writeIvfPqIndex(corpus, full, nlist = 8, m = 8, ksub = 16)
    def bytes(root: String) = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.filter(_.toString.endsWith(".parquet"))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
    assert(bytes(lean) * 2 < bytes(full),
      s"lean index must be materially smaller: ${bytes(lean)} vs ${bytes(full)}")
  }

  test("ivfTopK: selective probing keeps planted-twin recall high") {
    // Twins sit ~on top of their base vector, so k-means puts each pair in
    // the same cell and the query's nearest (own) cell contains its twin —
    // probing 2 of 12 cells must still retrieve it.
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(23)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 20).map(i => (i.toLong, unit(64)))
    val twins = base.map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val queries = base.toDF("vec_id", "embedding")
    val found = Similarity.ivfTopK(corpus, queries, k = 3,
        nlist = 12, nprobe = 2)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = base.count { case (i, _) => found.contains((i, i + 100L)) } / 20.0
    assert(recall >= 0.9, s"planted-twin recall too low: $recall")
  }

  test("prefix-filtered Jaccard equals the plain inverted index exactly") {
    val docs = graft.queries.Tables.load(spark, sfDir, "documents")
    val plain = Dedup.ngramJaccardPairs(docs, minJaccard = 0.7)
    val pref = Dedup.prefixFilteredJaccardPairs(docs, minJaccard = 0.7)
    assert(pref.exceptAll(plain).isEmpty && plain.exceptAll(pref).isEmpty)
    assert(plain.count() > 0) // non-vacuous: planted near-dups exist
  }

  test("prefix-filtered Jaccard keeps an exact-threshold boundary pair " +
      "(float-ceil regression)") {
    import SparkSpec.spark.implicits._
    // jac = 28/(30+33-28) = 0.8 EXACTLY at t = 0.8. The pruning thresholds
    // compute 0.8/1.8·63 = 28.000000000000004 in doubles; a plain ceil
    // demands overlap 29 and the positional filter then kills every prefix
    // match (first common token at ranks (3,6): bound 1+min(27,27) = 28).
    // ceilExact must keep the pair; the exact verify confirms it.
    val shared = (1 to 28).map(i => f"s$i%02d").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $shared"),
      (2L, s"b1 b2 b3 b4 b5 $shared")).toDF("doc_id", "text")
    val out = Dedup.prefixFilteredJaccardPairs(docs, minJaccard = 0.8)
      .collect()
    assert(out.length == 1, s"boundary pair dropped: ${out.toSeq}")
    assert(math.abs(out(0).getAs[Double]("jaccard") - 0.8) < 1e-12)
  }

  test("prefix filter indexes strictly fewer tokens than the full index") {
    // measures the REAL production prefix (Dedup.prefixTokens), not a
    // re-derivation that could go stale if the prefix formula changes
    val docs = graft.queries.Tables.load(spark, sfDir, "documents")
    val tok = Dedup.distinctTokens(docs, "text", "doc_id")
    val full = tok.count()
    val prefix = Dedup.prefixTokens(tok, minJaccard = 0.7).count()
    assert(prefix < full / 2,
      s"prefix index not materially smaller: $prefix vs $full")
  }

  test("pqTopK: refine window covering the corpus is exactly brute force") {
    // With k·refine >= |corpus|, every row reaches the exact re-rank, so
    // train→encode→ADC→re-rank must reproduce brute force bit-for-bit.
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(29)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val corpus = (0 until 60).map(i => (i.toLong, unit(64))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = rows(Similarity.bruteForceTopK(corpus, queries, k = 4))
    val pq = rows(Similarity.pqTopK(corpus, queries, k = 4,
      m = 8, ksub = 8, refine = 15)) // 4*15 = 60 >= |corpus|
    assert(pq == exact, s"pq=$pq exact=$exact")
  }

  test("pqTopK: selective refine keeps planted-twin recall high") {
    // A twin quantizes to (nearly) the same codes as its base, so the ADC
    // scan must surface it inside a small refine window.
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(31)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 20).map(i => (i.toLong, unit(64)))
    val twins = base.map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val queries = base.toDF("vec_id", "embedding")
    val found = Similarity.pqTopK(corpus, queries, k = 3,
        m = 8, ksub = 8, refine = 3)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = base.count { case (i, _) => found.contains((i, i + 100L)) } / 20.0
    assert(recall >= 0.9, s"planted-twin recall too low: $recall")
  }

  test("ivfPqTopK: exhaustive probe + corpus-wide refine is brute force") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(37)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val corpus = (0 until 60).map(i => (i.toLong, unit(64))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = rows(Similarity.bruteForceTopK(corpus, queries, k = 4))
    val ivfpq = rows(Similarity.ivfPqTopK(corpus, queries, k = 4,
      nlist = 8, nprobe = 8, m = 8, ksub = 8, refine = 15))
    assert(ivfpq == exact, s"ivfpq=$ivfpq exact=$exact")
  }

  test("ivfPqTopK: selective probe + refine keeps planted-twin recall") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(41)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 20).map(i => (i.toLong, unit(64)))
    val twins = base.map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val queries = base.toDF("vec_id", "embedding")
    val found = Similarity.ivfPqTopK(corpus, queries, k = 3,
        nlist = 12, nprobe = 2, m = 8, ksub = 8, refine = 3)
      .select("query_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = base.count { case (i, _) => found.contains((i, i + 100L)) } / 20.0
    assert(recall >= 0.9, s"planted-twin recall too low: $recall")
  }

  test("sharedShinglesBloom matches the exact shared-shingle counts") {
    import SparkSpec.spark.implicits._
    val train = docs.filter($"doc_id" =!= 3L)
    val bench = docs.filter($"doc_id" === 3L)
      .unionByName(Seq((99L, docs.head.getString(1))).toDF("doc_id", "text"))
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val exact = counts(Contamination.sharedShingles(train, bench))
    val bloomed = counts(Contamination.sharedShinglesBloom(train, bench))
    assert(exact.nonEmpty) // doc 1's text is planted in the benchmark
    assert(bloomed == exact, s"bloom=$bloomed exact=$exact")
  }

  test("bucketedTopPairs matches the exact all-pairs top-k on planted twins") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(7)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 30).map(i => (i.toLong, unit(64)))
    val twins = base.take(10).map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val exact = Similarity.allPairsTopK(corpus, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.bucketedTopPairs(corpus, k = 10,
        planes = 2, tables = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == exact, s"bucketed=$bucketed exact=$exact")
  }

  test("nearDupPairs: scaled copies found with recall 1, nothing else") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(13)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 50).map(i => (i.toLong, unit(64)))
    val copies = base.map { case (i, v) => (i + 1000L, v.map(_ * 1.0001f)) }
    val corpus = (base ++ copies).toDF("vec_id", "embedding")
    val found = Similarity.nearDupPairs(corpus, minCos = 0.99,
        planes = 16, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // positive scaling never flips a sign-LSH plane → recall exactly 1
    assert(found == base.map { case (i, _) => (i, i + 1000L) }.toSet)
  }

  test("connectedComponents: chains, cliques, and isolated pairs") {
    import SparkSpec.spark.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // chain: needs 3 propagation hops
      (10L, 11L),                   // isolated pair
      (20L, 21L), (20L, 22L), (21L, 22L), // clique
      (31L, 30L),                   // reversed order: still min-labelled
    ).toDF("d1", "d2")
    val out = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("connectedComponents refuses to return unconverged labels") {
    import SparkSpec.spark.implicits._
    // a 5-node chain needs >1 sweep; with maxIter=1 it must fail loudly
    val chain = (1L until 5L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1).collect()
    }
  }

  test("connectedComponentsStar: identical labels on chains, cliques, " +
      "and isolated pairs") {
    import SparkSpec.spark.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (20L, 22L), (21L, 22L),
      (31L, 30L),
    ).toDF("d1", "d2")
    val star = Dedup.connectedComponentsStar(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val prop = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(star == prop, s"star $star vs propagation $prop")
  }

  test("connectedComponentsStar finishes a diameter-120 chain that the " +
      "propagation loop's default bound cannot") {
    import SparkSpec.spark.implicits._
    // chain-shaped clusters are exactly what suffix/span dedup produces;
    // min-label propagation needs one SHUFFLE PER HOP and its default
    // bound (20 sweeps) correctly refuses a 120-hop chain — the star
    // rounds halve the diameter instead and finish well inside their
    // default bound
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain).collect()
    }
    val out = Dedup.connectedComponentsStar(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 121 && out.forall(_._2 == 0L),
      out.filter(_._2 != 0L).take(5).mkString(";"))
  }

  test("sharedShingles flags planted contamination only") {
    import SparkSpec.spark.implicits._
    val bench = Seq((100L, "the secret benchmark answer is forty two exactly"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix text then the secret benchmark answer is forty two exactly and more"),
      (2L, "a completely unrelated document about spark and scala engines"),
    ).toDF("doc_id", "text")
    val out = Contamination.sharedShingles(train, bench, shingleSize = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.contains(1L) && out(1L) > 0) // contains an exact substring
    assert(!out.contains(2L))               // no 20-char overlap
  }

  test("topNgrams counts the dominant bigram first") {
    import SparkSpec.spark.implicits._
    val docs = Seq(
      (1L, "big data big data big data"),
      (2L, "small data"),
    ).toDF("doc_id", "text")
    val out = Contamination.topNgrams(docs, n = 2, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.head == ("big data", 3L))
    assert(out.toMap.apply("data big") == 2L)
  }

  test("languageId classifies clear-cut texts") {
    import SparkSpec.spark.implicits._
    val texts = Seq(
      ("en", "the cat is in the house and it is warm"),
      ("es", "el gato es de la casa y que es un gato"),
      ("de", "der hund und die katze das ist ein tier"),
      ("fr", "le chien et le chat est une belle chose les deux"),
    ).toDF("lang", "text")
    val out = TextAnalysis.languageId(texts).select("lang", "pred_lang").collect()
    assert(out.forall(r => r.getString(0) == r.getString(1)))
  }

  test("approx ppl buckets agree with the exact ntile terciles") {
    val docs = graft.queries.Tables.load(spark, sfDir, "documents")
    val approx = TextAnalysis.pplBucketsApprox(docs)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val exact = graft.SparkEntry.queries("q_ccnet_buckets")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(approx.keySet == exact.keySet)
    // the sort-free cutoff path must reproduce the exact terciles except
    // at quantile boundaries; every (bucket) must be populated
    val agree = approx.count { case (id, b) => exact(id) == b }
    assert(agree >= (approx.size * 0.9).toInt,
      s"only $agree/${approx.size} bucket assignments agree")
    assert(approx.values.toSet == Set("head", "middle", "tail"))
  }

  test("importance weights score target-vocabulary docs above raw-only docs") {
    import SparkSpec.spark.implicits._
    // Target slice (lang=en) speaks alpha/beta/gamma, the rest speaks
    // delta/epsilon/zeta. The two probes have their labels FLIPPED, so a
    // correct importance weight must follow the vocabulary, not the label:
    // doc 21 (target-vocab, non-target label) outweighs doc 22.
    val docs = (
      (1 to 10).map(i => (i.toLong, "alpha beta gamma", "en")) ++
      (11 to 20).map(i => (i.toLong, "delta epsilon zeta", "de")) ++
      Seq((21L, "alpha beta", "de"), (22L, "delta epsilon", "en"))
    ).toDF("doc_id", "text", "lang")
    val w = TextAnalysis.importanceWeights(docs, col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w.size == 22)
    assert(w(21L) > 0, s"target-vocab doc not positive: ${w(21L)}")
    assert(w(22L) < 0, s"raw-vocab doc not negative: ${w(22L)}")
  }

  test("fingerprint invariant to whitespace runs and case, sensitive to content") {
    import SparkSpec.spark.implicits._
    val t = Seq(
      (1L, "Hello   World"),
      (2L, "hello world"),
      (3L, "hello worlds"),
    ).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("covarianceUpperTriangle matches the hand-computed 2x2 matrix") {
    import SparkSpec.spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f)),
      (2L, Array(3.0f, 4.0f)),
      (3L, Array(5.0f, 8.0f)),
    ).toDF("vec_id", "embedding")
    val out = EmbedStats.covarianceUpperTriangle(vecs)
      .orderBy("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // means (3, 14/3); cov00 = 35/3 - 9, cov01 = 18 - 14, cov11 = 28 - 196/9
    assert(out.length == 3)
    assert(out(0) == ((0L, 0L, BigDecimal(8.0 / 3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(1) == ((0L, 1L, 4.0)))
    assert(out(2) == ((1L, 1L, BigDecimal(56.0 / 9).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("bigramLmScore penalizes scrambled word order that unigram " +
      "statistics cannot see") {
    import SparkSpec.spark.implicits._
    val natural = "the quick fox runs home"
    val scrambled = "home the runs quick fox" // same unigrams, new order
    // corpus dominated by the natural order, plus one scrambled copy
    val docs = ((1 to 20).map(i => (i.toLong, natural)) :+
      (100L, scrambled)).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // same bigram count per doc; the scrambled doc's transitions are
    // rare under the corpus model -> strictly lower log-likelihood
    assert(out(1L)._1 == out(100L)._1)
    assert(out(100L)._2 < out(1L)._2, out.toString)
    // unigram scores are IDENTICAL (same bag of words) — the bigram
    // model is what separates them
    val uni = TextAnalysis.unigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(uni(1L) == uni(100L))
  }

  test("kneserNeyBigramScore matches the hand-computed model on a " +
      "closed-form corpus") {
    import SparkSpec.spark.implicits._
    // bigram types: (a,b)×2, (a,c)×1, (b,b)×1 → ntypes=3;
    // left: a:(c1=3,n1p=2), b:(c1=1,n1p=1); right: nl(b)=2, nl(c)=1
    // p(b|a) = 1.25/3 + (1.5/3)·(2/3) = 0.75        → micro −2877
    // p(c|a) = 0.25/3 + (1.5/3)·(1/3) = 0.25        → micro −13863
    // p(b|b) = 0.25/1 + 0.75·(2/3)    = 0.75        → micro −2877
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "b b"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.kneserNeyBigramScore(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> ((1L, -2877L)), 2L -> ((1L, -2877L)),
      3L -> ((1L, -13863L)), 4L -> ((1L, -2877L))), out.toString)
  }

  test("kneserNeyTrigramScore matches the hand-computed interpolated " +
      "model on a closed-form corpus") {
    import SparkSpec.spark.implicits._
    // trigram types: (a,b,c)×2, (d,b,c)×1, (a,b,d)×1
    // ctx: (a,b): cctx=3, n3=2; (d,b): cctx=1, n3=1
    // mid around b: nm(·,b,c)=2 {a,d}, nm(·,b,d)=1 {a}; n2mid(b)=3
    // bigram types {(a,b),(b,c),(d,b),(b,d)}: nr(b·)=2, nl(·c)=nl(·d)=1,
    // ntypes=4
    // p(c|a,b) = 1.25/3 + (1.5/3)·[1.25/3 + (1.5/3)·(1/4)] = 0.6875
    //   → ln → −0.3747 → micro −3747
    // p(c|d,b) = 0.25/1 + 0.75·[0.546875-ish base] … = 0.65625 → −4212
    // p(d|a,b) = 0.25/3 + 0.5·[0.25/3 + 0.5·0.25] = 0.1875 → −16740
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "d b c"),
      (4L, "a b d")).toDF("doc_id", "text")
    val out = TextAnalysis.kneserNeyTrigramScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((1L, -3747L)), 2L -> ((1L, -3747L)),
      3L -> ((1L, -4212L)), 4L -> ((1L, -16740L))), out.toString)
  }

  test("kneserNeyBigramScore penalizes single-context words in novel " +
      "contexts where the interpolated model cannot distinguish") {
    import SparkSpec.spark.implicits._
    // the published motivating case: 'francisco' and 'york' are equally
    // FREQUENT, but francisco follows only 'san' while york follows many
    // contexts — so york's continuation probability is higher and the
    // novel bigram 'the york' outscores 'the francisco' under KN, while
    // the unigram-interpolated model (identical cb, c(w1), unigram
    // counts) scores them IDENTICALLY
    val docs = ((1 to 15).map(i => (i.toLong, "san francisco")) ++
      (21 to 25).map(i => (i.toLong, "new york")) ++
      (31 to 35).map(i => (i.toLong, "old york")) ++
      (41 to 45).map(i => (i.toLong, "in york")) :+
      (100L, "the francisco") :+ (200L, "the york")).toDF("doc_id", "text")
    val kn = TextAnalysis.kneserNeyBigramScore(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kn(200L) > kn(100L), kn.toString)
    val interp = TextAnalysis.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(interp(200L) == interp(100L), interp.toString)
  }

  test("learnWordpieceMerges picks the likelihood argmax where BPE picks " +
      "raw pair frequency") {
    import SparkSpec.spark.implicits._
    // aa×4: pair (a,##a) cnt 4, syms a:4(+6 from ab-less bc words? no)
    // corpus: aa×4, bc×6 → pairs (a,##a):4 score 4/(4·4)=0.25,
    // (b,##c):6 score 6/(6·6)=0.167 — WordPiece merges the RARER but
    // more predictive (a,##a); frequency-greedy BPE merges b|c
    val text = (Seq.fill(4)("aa") ++ Seq.fill(6)("bc")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val wp = Tokenization.learnWordpieceMerges(docs, "text", numMerges = 1)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(wp.toSeq == Seq((1, "a|##a", 4L, 4L, 4L)), wp.toSeq.toString)
    val bpe = Tokenization.learnBpeMerges(docs, "text", numMerges = 1)
      .collect().map(r => r.getString(1))
    assert(bpe.toSeq == Seq("b|c"))
  }

  test("wordpiece merges strip the '##' continuation marker at the " +
      "junction and encode through the trained segmentation") {
    import SparkSpec.spark.implicits._
    // abc×2: round 1 ties (a,##b)=(##b,##c)=2/(2·2) → '##b|##c' wins the
    // lexicographic tie ('#' < 'a'), merging to ##bc; round 2 merges
    // (a,##bc) into the whole word abc
    val docs = Seq((1L, "abc abc")).toDF("doc_id", "text")
    val wp = Tokenization.learnWordpieceMerges(docs, "text", numMerges = 2)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(wp.toSeq == Seq((1, "##b|##c", 2L), (2, "a|##bc", 2L)),
      wp.toSeq.toString)
    def ntok(m: Int): Long = Tokenization.wordpieceTokenCounts(
      docs, "text", "doc_id", numMerges = m).collect().head.getLong(2)
    assert(ntok(1) == 4L) // a ·##bc per word
    assert(ntok(2) == 2L) // abc whole-word piece
  }

  test("htmlStrip drops script/style subtrees whole, decodes entities, " +
      "and collapses whitespace") {
    import SparkSpec.spark.implicits._
    val t = Seq(
      (1L, "<p>a &amp; b</p><script>if (x<y) beep()</script><p>c</p>"),
      (2L, "<div>one</div>  <style>.a{}</style> <b>two</b>"),
      (3L, "plain text, no markup"),
      // two script blocks: greedy matching would also delete KEEP
      (4L, "<script>a()</script><p>KEEP</p><script>b()</script>"),
      // multi-line + uppercase script must still vanish whole (DOTALL,
      // case-insensitive); escaped entity must not double-decode
      (5L, "<SCRIPT>\nvar x = 1;\n</SCRIPT><p>ok &amp;lt; here</p>"),
    ).toDF("doc_id", "html")
    val out = TextAnalysis.htmlStrip(t).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L)._1 == "a & b c")
    assert(out(2L)._1 == "one two")
    assert(out(3L) == (("plain text, no markup", 0L)))
    assert(out(4L)._1 == "KEEP")
    assert(out(5L)._1 == "ok &lt; here", out(5L))
  }

  test("compressionRatio orders repetitive < natural < noise and is " +
      "deterministic") {
    import SparkSpec.spark.implicits._
    val rng = new scala.util.Random(7)
    val natural = (0 until 200).map(_ =>
      Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy",
        "dogs", "while", "rivers", "flow")(rng.nextInt(11))).mkString(" ")
    val t = Seq(
      (1L, "ab " * 400),                                   // repetitive
      (2L, natural),                                       // natural-ish
      (3L, (0 until 1200).map(_ =>                          // noise
        (33 + rng.nextInt(90)).toChar).mkString),
      (4L, ""),                                            // empty
    ).toDF("doc_id", "text")
    val out = TextAnalysis.compressionRatio(t).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) < out(2L) && out(2L) < out(3L), out.toString)
    assert(out(4L) == 0L)
    val again = TextAnalysis.compressionRatio(t).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == again)
  }

  test("canonicalizeUrl applies each rule and keeps non-tracking params") {
    import SparkSpec.spark.implicits._
    val cases = Seq(
      ("https://WWW.Ex.COM:443/a/", "https://www.ex.com/a"),
      ("http://ex.com:80/a?utm_s=1", "http://ex.com/a"),
      ("https://ex.com/a?utm_s=1&ref=2", "https://ex.com/a?ref=2"),
      ("https://ex.com/a?ref=2&utm_s=1#frag", "https://ex.com/a?ref=2"),
      ("https://ex.com:8080/a?b=1&c=2", "https://ex.com:8080/a?b=1&c=2"),
      ("https://ex.com", "https://ex.com"),
      // 'utm_' as a SUBSTRING of a name/value must survive intact
      ("https://ex.com/a?xutm_b=1&q=utm_t", "https://ex.com/a?xutm_b=1&q=utm_t"),
      // query with no path: host must not absorb it
      ("https://Ex.com:443?utm_s=1&ID=AbC", "https://ex.com?ID=AbC"),
      // repeated trailing slashes strip in ONE application (idempotence)
      ("https://ex.com/a//", "https://ex.com/a"),
      // an embedded URL in the query must not hijack the parse
      ("https://ex.com/a?next=https://b.com/x",
        "https://ex.com/a?next=https://b.com/x"),
      // only the scheme's OWN default port is redundant
      ("http://ex.com:443/a", "http://ex.com:443/a"),
    )
    val out = cases.map(_._1).toDF("url")
      .select(Domains.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0))
    assert(out.toSeq == cases.map(_._2),
      out.zip(cases).filter(p => p._1 != p._2._2).mkString(";"))
  }

  test("registrableDomain: PSL longest-match with wildcard, exception, " +
      "private-section, and unknown-TLD rules; no host maps to an " +
      "empty key") {
    import SparkSpec.spark.implicits._
    val cases = Seq(
      // multi-label ICANN suffix: co.uk keeps THREE labels
      "news.bbc.co.uk" -> "bbc.co.uk",
      "news.bbc.com" -> "bbc.com",
      // PRIVATE-section suffix: github.io is a public suffix, so a
      // project site keeps three labels
      "docs.myproj.github.io" -> "myproj.github.io",
      // wildcard rule *.ck: every 2-label suffix under ck is public, so
      // a.b.ck registers at THREE labels
      "a.b.ck" -> "a.b.ck",
      // ...but the exception rule !www.ck punches through the wildcard:
      // ck itself is the public suffix there
      "sub.www.ck" -> "www.ck",
      "www.ck" -> "www.ck",
      // wildcard under jp with its exception: city.kawasaki.jp IS
      // registrable (the !city rule), any other label is a registry
      "www.city.kawasaki.jp" -> "city.kawasaki.jp",
      "a.shop.kawasaki.jp" -> "a.shop.kawasaki.jp",
      // unknown TLD → implicit "*" rule: last two labels
      "foo.bar.unknowntld" -> "bar.unknowntld",
      // single-label hosts are their OWN domain — an empty string would
      // pool localhost+intranet under one blocklist/cap key; a host
      // that IS a public suffix likewise keeps itself
      "localhost" -> "localhost",
      "intranet" -> "intranet",
      "a.b.c.org" -> "c.org",
      "co.uk" -> "co.uk",
      "github.io" -> "github.io")
    val out = cases.map(_._1)
      .toDF("host")
      .select(Domains.registrableDomain(col("host")).as("d"))
      .collect().map(_.getString(0))
    assert(out.toSeq == cases.map(_._2),
      out.zip(cases).filter(p => p._1 != p._2._2).mkString(";"))
    assert(out.forall(_.nonEmpty))
  }

  test("Psl parses wildcard/exception grammar and the bundled list " +
      "round-trips through the oracle VALUES table") {
    val r = Psl.parse(Iterator(
      "// comment", "", "com", "co.uk", "*.ck", "!www.ck",
      "UPPER.CASE  trailing junk"))
    assert(r.exact.contains("com") && r.exact.contains("co.uk"))
    assert(r.exact.contains("upper.case")) // lowercased, junk stripped
    assert(r.wildcardBases == Set("ck") && r.exceptions == Set("www.ck"))
    assert(r.maxLabels == 2)
    // bundled list: the families the fixture and the docs rely on
    val b = Psl.rules
    assert(b.exact.contains("co.uk") && b.exact.contains("github.io"))
    assert(b.wildcardBases.contains("ck") &&
      b.wildcardBases.contains("kawasaki.jp"))
    assert(b.exceptions.contains("www.ck") &&
      b.exceptions.contains("city.kawasaki.jp"))
    // the oracle VALUES table carries every rule exactly once
    val values = Psl.oracleValuesSql
    assert(values.contains("('co.uk', 0)") && values.contains("('ck', 1)")
      && values.contains("('www.ck', 2)"))
    val nRows = values.split("\\), \\(").length
    assert(nRows ==
      b.exact.size + b.wildcardBases.size + b.exceptions.size)
  }

  test("temperature allocation sums exactly to budget and upweights the " +
      "low-resource source relative to its raw share") {
    val out = graft.SparkEntry.queries("q_mixture_temperature")(
      SparkSpec.spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(out.map(_._3).sum == 100000L) // largest-remainder completes
    val nTot = out.map(_._2).sum.toDouble
    val (minSrc, maxSrc) = (out.minBy(_._2), out.maxBy(_._2))
    // α = 1/2 flattens the mixture: smallest source's quota share must
    // exceed its raw corpus share, largest source's must shrink
    assert(minSrc._3 / 100000.0 > minSrc._2 / nTot)
    assert(maxSrc._3 / 100000.0 < maxSrc._2 / nTot)
  }

  test("pcaProject: top component recovers the planted direction, " +
      "whitening gives identity covariance, output is deterministic") {
    import SparkSpec.spark.implicits._
    // planted: x = t·(0.6, 0.8, 0, 0) + small deterministic noise — one
    // dominant variance direction, three near-noise ones
    val rows = (0 until 200).map { i =>
      val t = ((i % 21) - 10).toDouble
      val x = Array.tabulate(4) { j =>
        val base = j match { case 0 => 0.6 * t; case 1 => 0.8 * t; case _ => 0.0 }
        (base + ((i * 31 + j * 17) % 7 - 3) * 0.01).toFloat
      }
      (i.toLong, x, t)
    }
    val df = rows.map(r => (r._1, r._2)).toDF("vec_id", "embedding")

    // top-1 projection correlates (almost perfectly) with the planted t
    val p1 = EmbedStats.pcaProject(df, k = 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).head).toMap
    val ts = rows.map(r => r._1 -> r._3).toMap
    val xs = rows.map(r => p1(r._1))
    val ys = rows.map(r => ts(r._1))
    def corr(a: Seq[Double], b: Seq[Double]): Double = {
      val (ma, mb) = (a.sum / a.size, b.sum / b.size)
      val cab = a.zip(b).map { case (u, v) => (u - ma) * (v - mb) }.sum
      val (va, vb) = (a.map(u => (u - ma) * (u - ma)).sum,
        b.map(v => (v - mb) * (v - mb)).sum)
      cab / math.sqrt(va * vb)
    }
    assert(math.abs(corr(xs, ys)) > 0.999)

    // whitened full-rank projection has (population) identity covariance
    val white = EmbedStats.pcaProject(df, k = 4, whiten = true)
    val cov = EmbedStats.covarianceUpperTriangle(white, "proj")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    for (i <- 0 until 4; j <- i until 4) {
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(cov((i.toLong, j.toLong)) - expect) < 0.02,
        s"cov($i,$j) = ${cov((i.toLong, j.toLong))}")
    }

    // deterministic: a second run produces identical projections
    val p1b = EmbedStats.pcaProject(df, k = 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).head).toMap
    assert(p1 == p1b)
  }

  test("stripBoilerplate drops per-source recurring lines, scoped to the " +
      "source, and rebuilds affected docs") {
    import SparkSpec.spark.implicits._
    val header = (1 to 10).map(i => s"h$i").mkString(" ")
    val tailA = (1 to 10).map(i => s"a$i").mkString(" ")
    val tailB = (1 to 10).map(i => s"b$i").mkString(" ")
    val tailC = (1 to 10).map(i => s"c$i").mkString(" ")
    val t = Seq(
      (1L, s"$header $tailA", "srcA"), // header recurs in srcA → stripped
      (2L, s"$header $tailB", "srcA"),
      (3L, s"$header $tailC", "srcB"), // sole occurrence in srcB → kept
      (4L, header, "srcA"), // all-boilerplate doc → empty rebuild
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis
      .stripBoilerplate(t, lineWords = 10, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set(1L, 2L, 4L)) // doc 3 untouched → absent
    assert(out(1L) == ((2L, 1L, tailA)))
    assert(out(2L) == ((2L, 1L, tailB)))
    assert(out(4L) == ((1L, 1L, "")))
  }

  test("semanticNearDupPairs (trained k-means path) finds planted twins " +
      "with cluster-bounded candidates") {
    import SparkSpec.spark.implicits._
    // 3 far-apart blobs of 10 vectors; ids 0/10/20 get exact twins
    // (id+1000). A correct SemDeDup must (a) recover each twin pair at
    // cosine 1.0, (b) emit NO cross-blob pair (cross-blob cosine is ~0,
    // far under the threshold, and cluster partitioning should not even
    // generate most of those candidates).
    val centers = Seq(
      Array(10.0, 0.0, 0.0, 0.0),
      Array(0.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 0.0))
    val basePts = (0 until 30).map { i =>
      val c = centers(i / 10)
      (i.toLong, c.map(x => (x + (i % 10) * 0.01).toFloat))
    }
    val twins = Seq(0, 10, 20).map { i =>
      (i.toLong + 1000, basePts(i)._2.clone())
    }
    val corpus = (basePts ++ twins).toDF("vec_id", "embedding")
    val pairs = Similarity.semanticNearDupPairs(corpus, minCos = 0.999,
        k = 3, trainIters = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val twinPairs = pairs.filter { case (d1, d2, _) => d2 == d1 + 1000 }
    assert(twinPairs.map(_._1).toSet == Set(0L, 10L, 20L),
      s"missing planted twin pairs in ${pairs.toSeq}")
    assert(twinPairs.forall(_._3 == 1.0))
    // nothing across blobs survives the threshold
    assert(pairs.forall { case (d1, d2, _) =>
      (d1 % 1000) / 10 == (d2 % 1000) / 10 })
  }

  test("incrementalMinhashMatches: batch finds its historical twins, " +
      "never pairs history with itself") {
    import SparkSpec.spark.implicits._
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "a completely different document about spark engines and big data"),
      (3L, "boilerplate legal disclaimer text repeated on every single page"),
      (4L, "boilerplate legal disclaimer text repeated on every single page"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (101L, "the quick brown fox jumps over the lazy dog and runs far away now"),
      (102L, "fresh unseen content zebra xylophone quasar nothing shared here"),
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalMinhashMatches(history, batch,
        numHashes = 64, bands = 16, shingleSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exact twin across the boundary at estimate 1.0
    assert(out.exists { case (b, h, est) => b == 100L && h == 1L && est == 1.0 })
    // near-dup (one word differs) surfaces too
    assert(out.exists { case (b, h, _) => b == 101L && h == 1L })
    // fresh content matches nothing; history-history pairs never emitted
    assert(out.forall(_._1 >= 100L))
    assert(!out.exists(_._1 == 102L))
  }

  test("incrementalMinhashMatches hot history bucket: representative " +
      "membership survives the cap") {
    import SparkSpec.spark.implicits._
    // 500 identical historical docs (one boilerplate page stored 500×);
    // cap 100 keeps only the bucket representative on the history side.
    // A batch copy of that page must STILL report a historical dup — via
    // the representative — with estimate 1.0.
    val history = (0L until 500L)
      .map(i => (i, "same boilerplate page body " * 4)).toDF("doc_id", "text")
    val batch = Seq((9000L, "same boilerplate page body " * 4))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalMinhashMatches(history, batch,
        numHashes = 64, bands = 16, shingleSize = 5, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((9000L, 0L, 1.0)))
  }

  test("hashed-trigram langid model: held-out accuracy on the 6-language " +
      "fixture") {
    import SparkSpec.spark.implicits._
    val fx = TextAnalysis.langIdFixture
    val train = fx.filter(_._2 == 0).map(x => (x._1, x._3))
      .toDF("lang", "text")
    val test = fx.filter(_._2 == 1).zipWithIndex
      .map { case ((l, _, t), i) => (i.toLong, l, t) }
    val model = TextAnalysis.trainLangIdModel(train)
    val pred = TextAnalysis.langIdScore(
        test.map(x => (x._1, x._3)).toDF("sid", "text"), model,
        idCol = "sid")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val results = test.map { case (sid, truth, _) => (sid, truth, pred(sid)) }
    val correct = results.count { case (_, truth, p) => truth == p }
    // pinned held-out accuracy: 18 unseen sentences across 6 languages
    // (including the es/pt and fr/it near-pairs); the NB trigram model
    // must separate all of them — a drop below 18/18 means the feature
    // hashing, smoothing, or scoring drifted
    assert(correct == 18, results.filter(r => r._2 != r._3).mkString(";"))
  }

  test("the langid model machinery doubles as a supervised QUALITY " +
      "classifier: hq/lq labels train the same hashed-trigram NB and " +
      "separate held-out docs") {
    // the published fastText-style quality filter (CCNet/RefinedWeb
    // shape) is the SAME linear-model-over-hashed-ngrams as language ID
    // — the label column is data, not code. Train on prose vs two lq
    // failure modes (keyboard mash, token spam) and require clean
    // held-out separation.
    import SparkSpec.spark.implicits._
    val fx = TextAnalysis.qualityFixture
    val train = fx.filter(_._2 == 0).map(x => (x._1, x._3))
      .toDF("lang", "text")
    val held = fx.filter(_._2 == 1)
      .zipWithIndex.map { case ((l, _, t), i) => (i.toLong, l, t) }
    val model = TextAnalysis.trainLangIdModel(train)
    val pred = TextAnalysis.langIdScore(
        held.map(x => (x._1, x._3)).toDF("sid", "text"), model, idCol = "sid")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val wrong = held.filter { case (sid, truth, _) => pred(sid) != truth }
    assert(wrong.isEmpty, wrong.mkString(";"))
  }

  test("monotonically_increasing_id assigned in a SEPARATE select before " +
      "an explode stays per-document (the invariant trainQualityLogistic " +
      "depends on)") {
    import SparkSpec.spark.implicits._
    // in the SAME select as the explode, the id evaluates per exploded
    // row (verified on this Spark build) — Catalyst must not collapse
    // the two projections across the nondeterministic expression
    val ids = Seq("aaa bbb ccc", "ddd eee").toDF("text")
      .select(monotonically_increasing_id().as("id"), col("text").as("t"))
      .select(col("id"), explode(split(col("t"), " ")).as("w"))
      .select("id").distinct().count()
    assert(ids == 2, s"expected 2 per-document ids, got $ids")
  }

  test("logistic quality classifier: discriminative training on the same " +
      "hashed-trigram features, scored by the shared langIdScore path, " +
      "held-out accuracy >= the NB baseline") {
    import SparkSpec.spark.implicits._
    val fx = TextAnalysis.qualityFixture
    val train = fx.filter(_._2 == 0).map(x => (x._1, x._3))
      .toDF("lang", "text")
    val held = fx.filter(_._2 == 1)
      .zipWithIndex.map { case ((l, _, t), i) => (i.toLong, l, t) }
    val heldDf = held.map(x => (x._1, x._3)).toDF("sid", "text")
    def wrongOf(model: org.apache.spark.sql.DataFrame) = {
      val pred = TextAnalysis.langIdScore(heldDf, model, idCol = "sid")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      held.filter { case (sid, truth, _) => pred(sid) != truth }
    }
    val logWrong = wrongOf(
      TextAnalysis.trainQualityLogistic(train, "hq", "lq"))
    val nbWrong = wrongOf(TextAnalysis.trainLangIdModel(train))
    assert(logWrong.isEmpty, logWrong.mkString(";"))
    assert(logWrong.size <= nbWrong.size,
      s"logistic (${logWrong.size} wrong) must be >= NB baseline " +
        s"(${nbWrong.size} wrong)")
    // the model really is the trained-linear shape: one positive class
    // with folded intercept, a zero default row for the negative class
    val m = TextAnalysis.trainQualityLogistic(train, "hq", "lq")
    val langs = m.select("lang").distinct().collect()
      .map(_.getString(0)).toSet
    assert(langs == Set("hq", "lq"))
    assert(m.filter(col("lang") === "lq").count() == 1)
    assert(m.filter(col("lang") === "lq").collect().head
      .getAs[Long]("w_micro") == 0L)
  }

  test("persisted MinHash index: write → read → match reproduces the " +
      "from-scratch incremental result; layout is band-partitioned with " +
      "self-describing meta") {
    import SparkSpec.spark.implicits._
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "a completely different document about spark engines and big data"),
      (3L, "boilerplate legal disclaimer text repeated on every single page"),
      (4L, "boilerplate legal disclaimer text repeated on every single page"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (101L, "the quick brown fox jumps over the lazy dog and runs far away now"),
      (102L, "fresh unseen content zebra xylophone quasar nothing shared here"),
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files
      .createTempDirectory("graft_mh_idx_spec").toString
    Dedup.writeMinhashIndex(history, idx, numHashes = 64, bands = 16,
      shingleSize = 5)
    // layout: one directory per band (partition pruning surface) + meta
    val bandDirs = new java.io.File(s"$idx/bands").listFiles()
      .filter(_.getName.startsWith("band=")).map(_.getName).toSet
    assert(bandDirs == (0 until 16).map(b => s"band=$b").toSet, bandDirs)
    val meta = SparkSpec.spark.read.parquet(s"$idx/meta").collect()
    assert(meta.length == 1 && meta.head.getAs[Int]("num_hashes") == 64 &&
      meta.head.getAs[Int]("bands") == 16 &&
      meta.head.getAs[Int]("shingle_size") == 5)
    // the indexed match — history signatures NOT recomputed — must equal
    // the from-scratch formulation row for row
    val indexed = Dedup.incrementalMinhashMatchesIndexed(batch, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scratch = Dedup.incrementalMinhashMatches(history, batch,
        numHashes = 64, bands = 16, shingleSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(indexed == scratch,
      s"indexed missing ${scratch -- indexed}, extra ${indexed -- scratch}")
    assert(indexed.exists { case (b, h, est) =>
      b == 100L && h == 1L && est == 1.0 })
  }

  test("learnBpeMerges matches the hand-computed classic fixture") {
    import SparkSpec.spark.implicits._
    // Sennrich-style toy corpus as one document: counts are word-weighted.
    // Words: low ×5, lower ×2, newest ×6, widest ×3.
    // Pair counts round 1: e|s = 9 (newest 6 + widest 3), s|t = 9,
    // e|w = 6, l|o = 7, o|w = 7, … — argmax ties 9/9 break lexicographically:
    // 'e|s' < 's|t', so merge 1 = e|s, then merge 2 = es|t (count 9).
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val out = Tokenization.learnBpeMerges(
        Seq((1L, text)).toDF("doc_id", "text"), "text", numMerges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out(0) == ((1, "e|s", 9L)), s"got ${out.toSeq}")
    assert(out(1) == ((2, "es|t", 9L)))
    // round 3: l|o = 7 and o|w = 7 remain; 'l|o' wins the tie
    assert(out(2) == ((3, "l|o", 7L)))
  }

  test("bpeTokenCounts encodes the classic fixture exactly") {
    import SparkSpec.spark.implicits._
    // after merges e|s, es|t, l|o the segmentations are: low → lo|w (2),
    // lower → lo|w|e|r (4), newest → n|e|w|est (4), widest → w|i|d|est (4)
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val out = Tokenization.bpeTokenCounts(
        Seq((1L, text)).toDF("doc_id", "text"), "text", "doc_id",
        numMerges = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 16L, 5L * 2 + 2 * 4 + 6 * 4 + 3 * 4)),
      s"got ${out.toSeq}")
  }

  test("pretrained encode with the learned merges equals learn-then-encode, " +
      "and the persisted model round-trips") {
    import SparkSpec.spark.implicits._
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text), (2L, "lowest newest low")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val learned = rows(Tokenization.bpeTokenCounts(docs, "text", "doc_id",
      numMerges = 3))
    // hand the trainer's own merges to the pretrained path
    val merges = Tokenization.learnBpeMerges(docs, "text", numMerges = 3)
      .orderBy("rank").collect().map(_.getString(1)).toSeq
    assert(rows(Tokenization.bpeTokenCountsPretrained(docs, "text", "doc_id",
      merges)) == learned)
    // and through the persisted model artifact
    val model = tempDir("graft-bpe-model-").toString
    Tokenization.writeBpeModel(docs, "text", model, numMerges = 3)
    assert(rows(Tokenization.bpeTokenCountsWithModel(docs, "text", "doc_id",
      model)) == learned)
  }

  test("unigram pretrained encode with the learned pieces equals " +
      "learn-then-encode, and the persisted model round-trips") {
    import SparkSpec.spark.implicits._
    val text = (Seq.fill(6)("walking") ++ Seq.fill(5)("walked") ++
      Seq.fill(4)("talking") ++ Seq.fill(3)("talked")).mkString(" ")
    val docs = Seq((1L, text), (2L, "walker talked walking")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val learned = rows(Tokenization.unigramTokenCounts(docs, "text",
      "doc_id", vocabMulti = 8, maxPieceLen = 4, iters = 2))
    // hand the trainer's own pieces to the pretrained path
    val pieces = Tokenization.learnUnigram(docs, "text", vocabMulti = 8,
        maxPieceLen = 4, iters = 2)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(rows(Tokenization.unigramTokenCountsPretrained(docs, "text",
      "doc_id", pieces)) == learned)
    // and through the persisted model artifact
    val model = tempDir("graft-unigram-model-").toString
    Tokenization.writeUnigramModel(docs, "text", model, vocabMulti = 8,
      maxPieceLen = 4, iters = 2)
    assert(rows(Tokenization.unigramTokenCountsWithModel(docs, "text",
      "doc_id", model)) == learned)
  }

  test("wordpiece pretrained encode with the learned merges equals " +
      "learn-then-encode, and the persisted model round-trips") {
    import SparkSpec.spark.implicits._
    val text = (Seq.fill(5)("hugs") ++ Seq.fill(4)("bugs") ++
      Seq.fill(3)("hug") ++ Seq.fill(2)("bug")).mkString(" ")
    val docs = Seq((1L, text), (2L, "hugs bug hug")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val learned = rows(Tokenization.wordpieceTokenCounts(docs, "text",
      "doc_id", numMerges = 3))
    // hand the trainer's own merges to the pretrained path
    val merges = Tokenization.learnWordpieceMerges(docs, "text",
        numMerges = 3)
      .orderBy("rank").collect().map(_.getString(1)).toSeq
    assert(rows(Tokenization.wordpieceTokenCountsPretrained(docs, "text",
      "doc_id", merges)) == learned)
    // and through the persisted model artifact
    val model = tempDir("graft-wp-model-").toString
    Tokenization.writeWordpieceModel(docs, "text", model, numMerges = 3)
    assert(rows(Tokenization.wordpieceTokenCountsWithModel(docs, "text",
      "doc_id", model)) == learned)
  }

  test("greedyWordpiece: longest-match wins, mid-word dead ends become " +
      "one [UNK], and per-doc counts aggregate words correctly") {
    import SparkSpec.spark.implicits._
    val vocab = Seq("a", "b", "c", "q", "the", "##he", "##b", "##c",
      "##bc", "##eo")
    // longest-match: "abc" → a ·##bc (2), NOT a ·##b ·##c (3)
    assert(Tokenization.greedyWordpiece("abc", vocab.toSet, 3)
      == Some(2))
    // whole-word piece beats any decomposition
    assert(Tokenization.greedyWordpiece("the", vocab.toSet, 3)
      == Some(1))
    // dead end at pos 0 (no 'x' piece) and mid-word (no '##x'):
    assert(Tokenization.greedyWordpiece("xab", vocab.toSet, 3).isEmpty)
    assert(Tokenization.greedyWordpiece("axb", vocab.toSet, 3).isEmpty)
    // greedy ≠ optimal: "theo" takes 'the' then dead-ends on '##o'
    // even though t·##he... no 't' piece — use 'q': no, assert the
    // documented greedy failure shape instead: 'the'+nothing for ##o
    assert(Tokenization.greedyWordpiece("theo", vocab.toSet, 3).isEmpty)
    val docs = Seq((1L, "abc the abc"), (2L, "the axb")).toDF("doc_id", "text")
    val out = Tokenization.wordpieceTokenCountsGreedy(docs, "text",
        "doc_id", vocab).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc1: abc(2)+the(1)+abc(2) = 5 tokens, 0 unk
    // doc2: the(1) + axb([UNK]=1) = 2 tokens, 1 unk
    assert(out == Map(1L -> ((3L, 5L, 0L)), 2L -> ((2L, 2L, 1L))),
      out.toString)
  }

  test("fuzzyContamination flags a paraphrased benchmark twin and leaves " +
      "disjoint-vocabulary docs clean") {
    import SparkSpec.spark.implicits._
    val benchText = "the quick brown fox jumps over the lazy dog " +
      "and runs far away home tonight while everyone sleeps quietly"
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val train = Seq(
      // one word swapped — exact 20-char shingles break around the edit,
      // but the 5-char shingle Jaccard stays high
      (10L, benchText.replace("lazy", "idle")),
      (11L, "completely different subject matter entirely unrelated " +
        "vocabulary zebra xylophone quartz jigsaw")).toDF("doc_id", "text")
    val out = Contamination.fuzzyContamination(train, bench,
        minJaccard = 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out(10L) == ((1, 1L)), out.toString)
    assert(out(11L) == ((0, 0L)), out.toString)
  }

  test("semanticContamination flags the embedding twin a paraphrase " +
      "leaves shingle-invisible; orthogonal vectors stay clean") {
    import SparkSpec.spark.implicits._
    val bench = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val train = Seq(
      (10L, Seq(1.0, 0.0, 0.0, 0.0)),   // the leak: cos 1.0
      (11L, Seq(0.9, 0.1, 0.0, 0.0)),   // near-leak: cos ~0.9939
      (12L, Seq(0.0, 1.0, 0.0, 0.0)),   // orthogonal: cos 0
      (13L, Seq(0.89, 0.46, 0.0, 0.0))) // cos ~0.888 — below the bar
      .toDF("vec_id", "embedding")
    val out = Contamination.semanticContamination(train, bench,
        minCosMicro = 9000L).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(10L) == ((1, 1L, 10000L)), out.toString)
    assert(out(11L)._1 == 1 && out(11L)._3 >= 9900L, out.toString)
    assert(out(12L) == ((0, 0L, 0L)), out.toString)
    assert(out(13L) == ((0, 0L, 0L)), out.toString)
  }

  test("learnBpeMerges replace is left-to-right non-overlapping") {
    import SparkSpec.spark.implicits._
    // 'aaaa' has three overlapping a|a positions but greedy left-to-right
    // merges exactly two: a|a|a|a → aa|aa. The pair count (weighted, non-
    // overlapping) is 2 per word occurrence — matching SQL replace
    // semantics on both engines is the contract this pins.
    val out = Tokenization.learnBpeMerges(
        Seq((1L, "aaaa aaaa")).toDF("doc_id", "text"), "text", numMerges = 2)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out(0)._2 == "a|a")
    assert(out(1) == ((2, "aa|aa", 2L)), s"got ${out.toSeq}")
  }

  test("learnBpeMerges merges whole symbols only, never across boundaries") {
    import SparkSpec.spark.implicits._
    // th ×6, the ×2, he ×3. Round 1: t|h (8) beats h|e (5) → "the" becomes
    // th|e. Round 2 merges h|e (count 3 — only "he" still has h·e
    // adjacent) — a plain string replace would ALSO rewrite "th|e" to the
    // single symbol "the" across the t·h boundary, corrupting the
    // segmentation AND leaving round 3 with no pairs at all.
    // Boundary-aware merging leaves th|e intact, so round 3 learns
    // exactly (th, e) with count 2.
    val text = (Seq.fill(6)("th") ++ Seq.fill(2)("the") ++
      Seq.fill(3)("he")).mkString(" ")
    val out = Tokenization.learnBpeMerges(
        Seq((1L, text)).toDF("doc_id", "text"), "text", numMerges = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, "t|h", 8L), (2, "h|e", 3L), (3, "th|e", 2L)),
      s"got ${out.toSeq}")
  }

  test("batched learnBpeMerges equals the sequential greedy formulation " +
      "at depth 64 (independent pure-Scala reference)") {
    import SparkSpec.spark.implicits._
    // A corpus diverse enough that batches genuinely accept MULTIPLE
    // disjoint merges per scan (the whole point of batching) while the
    // reference below replays the textbook one-merge-at-a-time greedy
    // loop: same (count desc, pair asc) argmax, same left-to-right
    // non-overlapping replace. Any batching unsoundness — a created
    // pair outrunning a batched one, a tie resolved differently — shows
    // up as a diverging merge table.
    val words = Seq(
      "low" -> 5, "lower" -> 2, "newest" -> 6, "widest" -> 3,
      "the" -> 9, "quick" -> 4, "brown" -> 4, "fox" -> 7, "jumps" -> 3,
      "over" -> 5, "lazy" -> 2, "dog" -> 8, "pack" -> 3, "my" -> 6,
      "box" -> 4, "with" -> 5, "five" -> 2, "dozen" -> 3, "liquor" -> 2,
      "jugs" -> 4, "zebra" -> 3, "night" -> 5, "light" -> 6, "might" -> 2,
      "string" -> 4, "spring" -> 3, "strong" -> 5, "mining" -> 2)
    val text = words.flatMap { case (w, c) => Seq.fill(c)(w) }.mkString(" ")

    // independent sequential reference on the exact word-count table
    def refBpe(numMerges: Int): Seq[(Int, String, Long)] = {
      var vocab: Seq[(List[String], Long)] =
        words.map { case (w, c) => (w.split("").toList, c.toLong) }
      def mergeList(s: List[String], a: String, b: String): List[String] =
        s match {
          case x :: y :: rest if x == a && y == b =>
            (a + b) :: mergeList(rest, a, b)
          case x :: rest => x :: mergeList(rest, a, b)
          case Nil => Nil
        }
      (1 to numMerges).flatMap { rank =>
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, c) =>
          syms.zip(syms.tail).foreach(p =>
            counts(p) = counts.getOrElse(p, 0L) + c)
        }
        if (counts.isEmpty) None
        else {
          val ((a, b), c) = counts.minBy { case ((x, y), n) =>
            (-n, x + "|" + y)
          }
          vocab = vocab.map { case (s, n) => (mergeList(s, a, b), n) }
          Some((rank, a + "|" + b, c))
        }
      }
    }

    val expected = refBpe(64)
    val out = Tokenization.learnBpeMerges(
        Seq((1L, text)).toDF("doc_id", "text"), "text", numMerges = 64)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == expected,
      out.toSeq.zip(expected).filter(p => p._1 != p._2).mkString(";"))
  }

  test("suffixDuplicateSpans recovers a planted 60-word duplicate exactly") {
    import SparkSpec.spark.implicits._
    // docs A and B share EXACTLY a 60-word run — longer than the 32-word
    // per-row LCP cap, so the span must chain across capped starts; all
    // other words are globally unique so the boundaries are exact. Doc C
    // has no duplicated text and must be absent.
    val dup = (1 to 60).map(i => s"d$i").mkString(" ")
    val a = "a1 a2 a3 a4 a5 " + dup + " a6 a7 a8"
    val b = "b1 b2 b3 b4 " + dup + " b5 b6"
    val c = (1 to 70).map(i => s"c$i").mkString(" ")
    val out = Dedup.suffixDuplicateSpans(
        Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 1L, 60L, 60L), (2L, 1L, 60L, 60L)),
      s"got ${out.toSeq}")
  }

  test("suffixDuplicateSpans counts within-doc repeats as duplicated text") {
    import SparkSpec.spark.implicits._
    // one doc repeats its own 20-word block twice with unique words
    // between and around: two islands of exactly 20 words each
    val block = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = "u1 u2 u3 " + block + " u4 u5 " + block + " u6 u7 u8"
    val out = Dedup.suffixDuplicateSpans(
        Seq((7L, d)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq((7L, 2L, 40L, 20L)), s"got ${out.toSeq}")
  }

  test("unigram trainer: planted morphemes emerge, compositional words " +
      "encode to their morpheme count, hard-EM NLL is non-increasing") {
    import SparkSpec.spark.implicits._
    // a morpheme-compositional corpus: stems × suffixes, frequent enough
    // that the unigram objective must keep the stems and suffixes as
    // pieces (splitting "walk" into chars costs 4 low-prob factors vs 1)
    val stems = Seq("walk", "talk", "jump", "play")
    val suffixes = Seq("ing", "ed", "er")
    val docs = (0 until 40).map { i =>
      val ws = (0 until 6).map(j =>
        stems((i + j) % 4) + suffixes((i + 2 * j) % 3))
      (i.toLong, ws.mkString(" "))
    }.toDF("doc_id", "text")
    val vocab = Tokenization.learnUnigram(docs, "text",
        vocabMulti = 8, maxPieceLen = 4, iters = 3)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    val pieces = vocab.map(_._1).toSet
    stems.foreach(st => assert(pieces.contains(st),
      s"stem $st missing from $pieces"))
    Seq("ing", "ed").foreach(sf => assert(pieces.contains(sf),
      s"suffix $sf missing from $pieces"))
    // encode: every word is stem+suffix → exactly 2 tokens per word
    val enc = Tokenization.unigramTokenCounts(docs, "text", "doc_id",
        vocabMulti = 8, maxPieceLen = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    enc.foreach { case (id, nw, nt) =>
      assert(nw == 6 && nt == 12, s"doc $id: n_words=$nw n_tokens=$nt") }
    // hard-EM monotonicity: per-round Viterbi NLL non-increasing (the
    // char-count floor can perturb by at most its unit mass — tolerance)
    val (_, nll) = Tokenization.unigramTrain(docs, "text",
      vocabMulti = 8, maxPieceLen = 4, iters = 4, seedMulti = 48)
    nll.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a * (1 + 1e-9), s"NLL increased: ${nll.toSeq}") }
  }

  test("lshPlan: S-curve midpoint tracks the threshold, more selective " +
      "thresholds buy more rows per band, and every grid point's argmin " +
      "gap is wide enough for the cross-engine oracle") {
    val grid = Seq((64, 0.5), (64, 0.8), (128, 0.5), (128, 0.7),
      (128, 0.9), (256, 0.8))
    grid.foreach { case (n, t) =>
      val (b, r) = Dedup.lshPlan(n, t)
      assert(b * r == n, s"($n,$t): $b*$r != $n")
      // the curve's 50% point (1/b)^(1/r) sits near the target
      val mid = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(mid - t) < 0.2, s"($n,$t): midpoint $mid far from $t")
      // argmin separation: best vs runner-up error gap must dwarf the
      // ~1e-13 cross-engine pow/summation drift the oracle replay carries
      val errs = (1 to n).filter(n % _ == 0)
        .map(bb => Dedup.lshPlanError(bb, n / bb, t, 0.5)).sorted
      assert(errs(1) - errs(0) > 1e-6,
        s"($n,$t): argmin gap ${errs(1) - errs(0)} too tight for the oracle")
    }
    // higher threshold → more rows per band (a steeper, later curve)
    assert(Dedup.lshPlan(128, 0.9)._2 > Dedup.lshPlan(128, 0.5)._2)
    // weighting FP harder shifts toward more selective bands (r up or eq)
    assert(Dedup.lshPlan(128, 0.7, fpWeight = 0.9)._2 >=
      Dedup.lshPlan(128, 0.7, fpWeight = 0.1)._2)
  }

  test("viterbiSegment equals brute-force best segmentation under the " +
      "same (prob, k, seg) order") {
    val probs = Map("a" -> 0.08, "b" -> 0.06, "c" -> 0.05, "ab" -> 0.2,
      "bc" -> 0.18, "abc" -> 0.11, "ca" -> 0.13, "aa" -> 0.19)
    def brute(w: String): Seq[String] = {
      def all(s: String): Seq[List[String]] =
        if (s.isEmpty) Seq(Nil)
        else (1 to math.min(3, s.length)).flatMap { l =>
          val (h, t) = (s.take(l), s.drop(l))
          if (probs.contains(h)) all(t).map(h :: _) else Seq.empty
        }
      val cands = all(w).map { seg =>
        (seg.map(probs).product, seg.length, seg.mkString(" "))
      }
      if (cands.isEmpty) Seq.empty
      else cands.minBy { case (p, k, s) => (-p, k, s) }._3.split(" ").toSeq
    }
    for (w <- Seq("abc", "abca", "aabbcc", "cabcab", "aaaa", "abcabcab",
        "b", "ccc")) {
      val dp = Tokenization.viterbiSegment(w, probs, maxPieceLen = 3)
      assert(dp == brute(w), s"$w: dp=$dp brute=${brute(w)}")
    }
  }

  test("c4Clean: per-line rules cascade (punct → short → js), the quote-" +
      "terminated line keeps, and kept lines rebuild in order") {
    import SparkSpec.spark.implicits._
    val text = Seq(
      "this first line is long enough to keep.", // kept
      "short one.", // punct ok, <5 words → dropped_short
      "no terminal punctuation on this line here", // dropped_punct
      "short no punct", // fails punct FIRST → dropped_punct (cascade)
      "please enable javascript for this content now.", // dropped_js
      "she said \"a quote after the period still counts.\"", // kept
      "is this question line long enough to stay?" // kept
    ).mkString("\n")
    val out = TextAnalysis.c4Clean(Seq((1L, text)).toDF("doc_id", "text"))
      .collect().head
    assert(out.getAs[Int]("n_lines") === 7)
    assert(out.getAs[Int]("n_kept") === 3)
    assert(out.getAs[Int]("dropped_punct") === 2)
    assert(out.getAs[Int]("dropped_short") === 1)
    assert(out.getAs[Int]("dropped_js") === 1)
    assert(out.getAs[Boolean]("keep"))
    assert(out.getAs[String]("clean_text") === Seq(
      "this first line is long enough to keep.",
      "she said \"a quote after the period still counts.\"",
      "is this question line long enough to stay?").mkString("\n"))
  }

  test("c4Clean: page drops — lorem ipsum, curly brace, whole-word bad " +
      "word (substring must NOT trigger), and the kept-lines floor") {
    import SparkSpec.spark.implicits._
    val goodLines = Seq(
      "a perfectly fine line number one stays here.",
      "a perfectly fine line number two stays here.",
      "a perfectly fine line number three stays here.")
    val docs = Seq(
      (1L, goodLines.mkString("\n")), // keep
      (2L, (goodLines :+ "some Lorem Ipsum generator output follows now.")
        .mkString("\n")), // case-folded lorem → drop
      (3L, (goodLines :+ "var config = { mode: production } stays.")
        .mkString("\n")), // curly → drop
      (4L, (goodLines :+ "this mentions badword1 in plain form today.")
        .mkString("\n")), // bad word → drop
      (5L, (goodLines :+ "but notbadword1ish is only a substring here.")
        .mkString("\n")), // substring: must KEEP
      (6L, goodLines.take(2).mkString("\n")) // 2 kept < 3 floor → drop
    ).toDF("doc_id", "text")
    val keep = TextAnalysis.c4Clean(docs, badWords = Seq("badword1"))
      .orderBy("doc_id").collect().map(_.getAs[Boolean]("keep")).toSeq
    assert(keep === Seq(true, false, false, false, true, false))
  }
}
