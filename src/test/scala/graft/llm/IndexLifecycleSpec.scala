package graft.llm

import java.nio.file.{Files, Path, Paths}

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `file:` under its own scheme, counting opens of index manifests
  * (`current`) and creates of their publish temp file (`.current.tmp`). */
class ManifestCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("manifestcountfs:///")

  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName == "current") ManifestCountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (f.getName == ".current.tmp") ManifestCountingFs.writes.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object ManifestCountingFs {
  val opens = new java.util.concurrent.atomic.AtomicInteger
  val writes = new java.util.concurrent.atomic.AtomicInteger
}

/** The index lifecycle's shared skeletons ([[IndexLifecycle]]): a public
  * index call reads the `current` manifest once, a maintenance pass
  * writes it once, and only the two helpers publish, version, interlock
  * or move keyed files. */
class IndexLifecycleSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def emb(from: Long, until: Long, shift: Long = 0L) =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") >= from && col("vec_id") < until)
      .select((col("vec_id") + shift).as("vec_id"), col("embedding"))

  private def docs(ids: Seq[Long]) = ids
    .map(i => (i, s"document number $i with some repeated filler words $i"))
    .toDF("doc_id", "text")

  /** (opens of `current`, writes of `current`) during `body`. */
  private def manifestIo(body: => Unit): (Int, Int) = {
    ManifestCountingFs.opens.set(0)
    ManifestCountingFs.writes.set(0)
    body
    (ManifestCountingFs.opens.get, ManifestCountingFs.writes.get)
  }

  /** A probe or ingest reads the manifest once. */
  private def readsOnce(what: String)(body: => Unit): Unit =
    assert(manifestIo(body) == ((1, 0)), what)

  /** A maintenance pass writes the manifest once and reads it `reads`
    * times: its snapshot, which the publish's read-modify-write starts
    * from (none while the index has no manifest yet). */
  private def onePass(what: String, reads: Int = 1)(body: => Unit): Unit = {
    val (opens, writes) = manifestIo(body)
    assert(writes == 1 && opens == reads, s"$what: $opens opens, $writes writes")
  }

  test("a probe or an ingest batch reads the index manifest once, a " +
      "maintenance pass writes it once") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.manifestcountfs.impl", classOf[ManifestCountingFs].getName)
    try {
      val root = "manifestcountfs://" + tempDir("manifest-io-")
      val pq = s"$root/pq"
      Similarity.writeIvfPqIndex(emb(0, 120), pq, nlist = 4, m = 8, ksub = 8)
      readsOnce("ivfPqTopKIndexed") {
        Similarity.ivfPqTopKIndexed(emb(0, 6, shift = 500000L), pq, k = 3,
          nprobe = 2).collect()
      }
      // minCos above 1 keeps every vector: the whole batch is appended
      readsOnce("ingestBatchIntoIvfPqIndex") {
        Similarity.ingestBatchIntoIvfPqIndex(emb(60, 90, shift = 200000L),
          pq, "b1", minCos = 2.0)
      }
      Dedup.addTombstones(spark, pq, Seq(7L).toDF("vec_id"))
      onePass("compactIvfPqIndex")(Similarity.compactIvfPqIndex(spark, pq))
      onePass("deleteFromIvfPqIndex") {
        Similarity.deleteFromIvfPqIndex(spark, pq, Seq(1L, 2L).toDF("vec_id"))
      }
      onePass("rebuildIvfPqIndexIfDrifted") {
        assert(Similarity.rebuildIvfPqIndexIfDrifted(spark, pq,
          maxDriftMicro = 0L).collect().head.getAs[Boolean]("rebuilt"))
      }

      val mh = s"$root/mh"
      Dedup.writeMinhashIndex(docs(0L until 30L), mh, numHashes = 32,
        bands = 8, shingleSize = 5)
      Dedup.addTombstones(spark, mh, Seq(3L).toDF("doc_id"))
      // a fresh MinHash index has no manifest until its first pass
      onePass("compactMinhashIndex", reads = 0)(Dedup.compactMinhashIndex(spark, mh))
      readsOnce("incrementalMinhashMatchesIndexed") {
        Dedup.incrementalMinhashMatchesIndexed(docs(0L until 5L), mh).collect()
      }
      Dedup.addTombstones(spark, mh, Seq(4L).toDF("doc_id"))
      onePass("deleteFromMinhashIndex") {
        Dedup.deleteFromMinhashIndex(spark, mh, Seq(5L).toDF("doc_id"))
      }
      // the passes consumed every id they were given or found pending:
      // each remaining document still matches itself, no removed one does
      val hits = Dedup.incrementalMinhashMatchesIndexed(
        docs(0L until 10L), mh).select("hist_id").distinct()
        .as[Long].collect().toSet
      assert(Set(0L, 1L, 2L, 6L, 7L, 8L, 9L).subsetOf(hits), hits)
      assert(hits.intersect(Set(3L, 4L, 5L)).isEmpty, hits)
    } finally hc.unset("fs.manifestcountfs.impl")
  }

  test("a MinHash index whose meta is a published version probes and " +
      "ingests with that version") {
    import graft.core.{Manifest, SidecarFs, Stored}
    val root = tempDir("mh-meta-version-").toString
    // `plain` keeps its meta in the plain dir, `versioned` as a published
    // version: the same calls must see the same index through both
    val (plain, versioned) = (s"$root/plain", s"$root/versioned")
    for (idx <- Seq(plain, versioned))
      Dedup.writeMinhashIndex(docs(0L until 30L), idx, numHashes = 32,
        bands = 8, shingleSize = 5)
    val meta = Stored.read(spark, s"$versioned/meta")
    IndexLifecycle.publishVersion(versioned, "meta",
      spark.createDataFrame(java.util.Arrays.asList(meta.collect(): _*),
        meta.schema))
    assert(Manifest.resolve(versioned, "meta") != s"$versioned/meta")
    // only a read through the manifest finds the meta now
    SidecarFs.deleteTree(s"$versioned/meta")
    def probe(idx: String, ids: Seq[Long]) =
      Dedup.incrementalMinhashMatchesIndexed(docs(ids), idx).collect()
        .map(_.toString).sorted.toSeq
    assert(probe(plain, 0L until 10L).nonEmpty)
    assert(probe(versioned, 0L until 10L) == probe(plain, 0L until 10L))
    for (idx <- Seq(plain, versioned))
      Dedup.ingestBatchIntoMinhashIndex(docs(200L until 210L), idx, "b1",
        threshold = 0.9)
    assert(probe(versioned, 195L until 215L) == probe(plain, 195L until 215L))
    assert(probe(plain, 200L until 210L).nonEmpty)
  }

  test("source scan: only the lifecycle helpers publish, version, " +
      "interlock or move keyed files") {
    val re = ("""\b(Manifest\s*\.\s*(publishAll|publish|nextVersionDir)|""" +
      """requireNoUncommittedIngest|moveKeyedFiles)\b""").r
    def code(p: Path): String = Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    def scalaFiles(dir: String): Seq[Path] = {
      val s = Files.walk(Paths.get(dir))
      try s.filter(_.toString.endsWith(".scala")).toArray.toSeq
        .map(_.asInstanceOf[Path])
      finally s.close()
    }
    val main = "src/main/scala/graft"
    val helpers = Paths.get(s"$main/llm/IndexLifecycle.scala")
    for (f <- scalaFiles(s"$main/llm") ++ scalaFiles(s"$main/queries")
         if f != helpers) {
      val hits = re.findAllIn(code(f)).toSeq
      assert(hits.isEmpty, s"$f bypasses IndexLifecycle: ${hits.mkString(", ")}")
    }
    // in the helpers' file, each appears at its one place: the version
    // writer, the pass's interlock and the keyed ingest's move (the
    // last two also at their definitions) — the scan is not vacuous
    val own = re.findAllIn(code(helpers)).toSeq.map(_.replaceAll("\\s", ""))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    assert(own == Map("Manifest.publishAll" -> 1,
      "Manifest.nextVersionDir" -> 1, "requireNoUncommittedIngest" -> 2,
      "moveKeyedFiles" -> 2), own)
  }
}
