package graft.llm

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.core.{Manifest, SidecarFs, Stored}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

/** A NON-`file` scheme backed by the local FS, registered as
  * `fs.mockfs.impl`: proves the sidecar ops dispatch through the Hadoop
  * FileSystem API by URI scheme with no hidden `file:`/`java.nio`
  * assumptions — the closest a single-machine test gets to an
  * HDFS/object-store deployment. (RawLocalFileSystem, not the
  * checksummed LocalFileSystem, so the mock adds no .crc siblings.) */
class MockSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

/** The index-lifecycle sidecar ops run through the Hadoop FileSystem API
  * ([[graft.core.SidecarFs]]), so the persisted-index tier works wherever
  * the index DATA lives. These specs exercise the full lifecycle under
  * SCHEME-QUALIFIED `file:` URIs — paths the old `java.nio.file`
  * implementation could not even parse (Files.exists("file:/...") is
  * silently false, sending every sidecar op to a wrong relative dir) —
  * plus a `mockfs://` run proving scheme dispatch, plus the
  * commit-marker pruning compaction performs. */
class SidecarFsSpec extends SparkSpec {

  private def schemeDir(prefix: String): String =
    "file:" + tempDir(prefix).toString

  test("SidecarFs primitives round-trip under a file: scheme URI") {
    val root = schemeDir("graft-sidecar-prim-")
    assert(!SidecarFs.exists(s"$root/nope"))
    SidecarFs.writeStringAtomic(s"$root/m", "a=1\n")
    assert(SidecarFs.readString(s"$root/m").contains("a=1\n"))
    SidecarFs.writeStringAtomic(s"$root/m", "a=2\n") // overwrite-swap
    assert(SidecarFs.readString(s"$root/m").contains("a=2\n"))
    SidecarFs.mkdirs(s"$root/d")
    SidecarFs.writeStringAtomic(s"$root/d/k1", "")
    SidecarFs.writeStringAtomic(s"$root/d/k2", "")
    assert(SidecarFs.listNames(s"$root/d").toSet == Set("k1", "k2"))
    assert(SidecarFs.deleteFile(s"$root/d/k1"))
    assert(SidecarFs.listNames(s"$root/d") == Seq("k2"))
    SidecarFs.renameOverwrite(s"$root/m", s"$root/d/k2") // replace existing
    assert(SidecarFs.readString(s"$root/d/k2").contains("a=2\n"))
    assert(!SidecarFs.exists(s"$root/m"))
    SidecarFs.deleteTree(s"$root/d")
    assert(!SidecarFs.exists(s"$root/d"))
    assert(SidecarFs.listNames(s"$root/d").isEmpty) // absent dir lists empty
  }

  private def mk(ids: Seq[Long]) = {
    import SparkSpec.spark.implicits._
    ids.map(i => (i, s"scheme path lifecycle document $i filler words $i"))
      .toDF("doc_id", "text")
  }

  test("MinHash index lifecycle (write, append, ingest, compact, match) " +
      "runs under a file: scheme URI") {
    val idx = schemeDir("graft-mh-scheme-") + "/idx"
    Dedup.writeMinhashIndex(mk(0L until 20L), idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    Dedup.appendToMinhashIndex(mk(100L until 110L), idx)
    // closed ingest loop: batch with one twin of history and one novel doc
    val batch = mk(Seq(5L, 300L))
      .select((col("doc_id") + 9000).as("doc_id"), col("text"))
    Dedup.ingestBatchIntoMinhashIndex(batch, idx, "sk1-b0", threshold = 0.9)
    assert(SidecarFs.exists(s"$idx/ingest_commits/sk1-b0"))
    // 9005 (twin of 5) dropped; 9300 (novel) appended into the index
    val sigs = SparkSpec.spark.read
      .parquet(Manifest.resolve(idx, "sigs"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigs.contains(9300L) && !sigs.contains(9005L))
    // compaction publishes fresh versions through the manifest on the
    // scheme path, and the reader still matches every generation's twin
    Dedup.compactMinhashIndex(SparkSpec.spark, idx)
    val probe = mk(Seq(7L, 105L))
      .select((col("doc_id") + 5000).as("doc_id"), col("text"))
    val matched = Dedup.incrementalMinhashMatchesIndexed(probe, idx)
      .filter(col("est_jaccard") >= 0.999)
      .select("hist_id").collect().map(_.getLong(0)).toSet
    assert(Set(7L, 105L).subsetOf(matched), s"got $matched")
    // the manifest itself lives on the scheme path
    assert(SidecarFs.readString(s"$idx/current").exists(_.contains("bands_v")))
  }

  test("IVF index ingest loop and compaction run under a file: scheme URI") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(23)
    def unit() = {
      val v = Array.fill(16)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0L until 40L).map(i => (i, unit()))
    val corpus = base.toDF("vec_id", "embedding")
    val idx = schemeDir("graft-ivf-scheme-") + "/idx"
    Similarity.writeIvfIndex(corpus, idx, nlist = 4)
    // ingest: one exact twin of vec 3 (dropped) + one novel vector
    val batch = Seq((900L, base(3)._2), (901L, unit())).toDF("vec_id", "embedding")
    Similarity.ingestBatchIntoIvfIndex(batch, idx, "sk2-b0", minCos = 0.99)
    assert(SidecarFs.exists(s"$idx/ingest_commits/sk2-b0"))
    val ids = SparkSpec.spark.read
      .parquet(Manifest.resolve(idx, "postings"))
      .select("cand_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(901L) && !ids.contains(900L))
    Similarity.compactIvfIndex(SparkSpec.spark, idx)
    val top = Similarity.ivfTopKIndexed(
      Seq((77L, base(3)._2)).toDF("vec_id", "embedding"), idx,
      k = 1, nprobe = 4)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSet
    assert(top == Set((3L, 1.0)), s"planted twin must rank 1: $top")
  }

  test("MinHash index lifecycle runs under a NON-file scheme (mockfs://) " +
      "— sidecar ops dispatch by URI scheme, data and sidecars coherent") {
    val hc = SparkSpec.spark.sparkContext.hadoopConfiguration
    hc.set("fs.mockfs.impl", classOf[MockSchemeFs].getName)
    try {
      val idx = "mockfs://" + tempDir("graft-mh-mockfs-").toString + "/idx"
      Dedup.writeMinhashIndex(mk(0L until 20L), idx,
        numHashes = 32, bands = 8, shingleSize = 5)
      Dedup.appendToMinhashIndex(mk(100L until 110L), idx)
      Dedup.ingestBatchIntoMinhashIndex(
        mk(Seq(5L, 300L)).select((col("doc_id") + 9000).as("doc_id"),
          col("text")),
        idx, "cccccccccccc-b0", threshold = 0.9)
      assert(SidecarFs.exists(s"$idx/ingest_commits/cccccccccccc-b0"))
      Dedup.compactMinhashIndex(SparkSpec.spark, idx)
      assert(SidecarFs.readString(s"$idx/current")
        .exists(_.contains("bands_v")))
      val matched = Dedup.incrementalMinhashMatchesIndexed(
          mk(Seq(7L, 105L)).select((col("doc_id") + 5000).as("doc_id"),
            col("text")), idx)
        .filter(col("est_jaccard") >= 0.999)
        .select("hist_id").collect().map(_.getLong(0)).toSet
      assert(Set(7L, 105L).subsetOf(matched), s"got $matched")
      val sigs = SparkSpec.spark.read
        .parquet(Manifest.resolve(idx, "sigs"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(sigs.contains(9300L) && !sigs.contains(9005L))
    } finally hc.unset("fs.mockfs.impl")
  }

  test("compaction prunes retired commit markers, keeping the newest per " +
      "stream key, and the kept marker still short-circuits re-delivery") {
    val idx = tempDir("graft-mh-markers-").toString + "/idx"
    // stream keys in the EXACT 12-hex shape streamKey mints — anything
    // looser (a caller key merely ending in -b<digits>) must be KEPT,
    // since direct-API orchestrators may re-deliver any old batch
    val (skA, skB) = ("aaaaaaaaaaaa", "bbbbbbbbbbbb")
    Dedup.writeMinhashIndex(mk(0L until 10L), idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    Dedup.ingestBatchIntoMinhashIndex(mk(Seq(500L)), idx, s"$skA-b0", 0.9)
    Dedup.ingestBatchIntoMinhashIndex(mk(Seq(501L)), idx, s"$skA-b1", 0.9)
    Dedup.ingestBatchIntoMinhashIndex(mk(Seq(502L)), idx, s"$skA-b2", 0.9)
    Dedup.ingestBatchIntoMinhashIndex(mk(Seq(600L)), idx, s"$skB-b0", 0.9)
    Dedup.ingestBatchIntoMinhashIndex(mk(Seq(601L)), idx, "nightly-b2", 0.9)
    assert(SidecarFs.listNames(s"$idx/ingest_commits").size == 5)
    Dedup.compactMinhashIndex(SparkSpec.spark, idx)
    // skA keeps only b2, skB keeps b0; the caller-shaped key is kept
    // even though it ends in -b<digits> (not a minted stream id)
    assert(SidecarFs.listNames(s"$idx/ingest_commits").toSet ==
      Set(s"$skA-b2", s"$skB-b0", "nightly-b2"))
    // the kept newest marker still short-circuits a re-delivery: the
    // batch's rows are in the compacted index exactly once afterwards
    Dedup.ingestBatchIntoMinhashIndex(mk(Seq(502L)), idx, s"$skA-b2", 0.9)
    val n502 = SparkSpec.spark.read
      .parquet(Manifest.resolve(idx, "sigs"))
      .filter(col("doc_id") === 502L).count()
    assert(n502 == 1L, s"re-delivered committed batch must be a no-op, got $n502")
  }

  /** The checksumming local filesystem (Spark's `file:` default): a read
    * through it verifies the file against its `.crc` sibling, if any. */
  private def checksummed: FileSystem =
    FileSystem.getLocal(SparkSpec.spark.sparkContext.hadoopConfiguration)

  private def readVerified(p: String): Array[Byte] = {
    val in = checksummed.open(new Path(p))
    try in.readAllBytes() finally in.close()
  }

  private def crcOf(p: java.nio.file.Path) =
    p.resolveSibling(s".${p.getFileName}.crc")

  test("renameOverwrite on local disk replaces an existing target and " +
      "carries the checksum sibling, or drops the target's stale one") {
    val root = tempDir("graft-rename-")
    def write(name: String, body: String): Unit = {
      val out = checksummed.create(new Path(root.resolve(name).toString), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    def read(name: String) = new String(readVerified(root.resolve(name).toString), "UTF-8")
    write("a", "old bytes")
    write("b", "new, longer bytes")
    SidecarFs.renameOverwrite(root.resolve("b").toString, root.resolve("a").toString)
    assert(read("a") == "new, longer bytes")
    assert(!Files.exists(root.resolve("b")) && !Files.exists(crcOf(root.resolve("b"))))
    assert(Files.exists(crcOf(root.resolve("a"))))
    // a source written without a checksum replaces a target that has
    // one: the target's checksum would no longer match, so it goes
    Files.writeString(root.resolve("c"), "third")
    SidecarFs.renameOverwrite(root.resolve("c").toString, root.resolve("a").toString)
    assert(read("a") == "third")
    assert(!Files.exists(crcOf(root.resolve("a"))))
  }

  test("after an IVF-PQ ingest every moved part file reads back through " +
      "Spark with checksum verification") {
    val idx = tempDir("graft-pq-moves-").toString + "/idx"
    val emb = SparkSpec.spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    Similarity.writeIvfPqIndex(emb.filter(col("vec_id") < 60), idx,
      nlist = 4, m = 8, ksub = 8)
    val batch = emb.filter(col("vec_id") >= 60 && col("vec_id") < 90)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    // minCos above 1 keeps every vector: the whole batch is appended
    Similarity.ingestBatchIntoIvfPqIndex(batch, idx, "b1", minCos = 2.0)
    for (tier <- Seq("codes", "vectors")) {
      val moved = {
        val s = Files.walk(Paths.get(Manifest.resolve(idx, tier)))
        try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.matches("ingest-b1-\\d+\\.parquet"))
        finally s.close()
      }
      assert(moved.nonEmpty, tier)
      for (f <- moved) {
        assert(Files.exists(crcOf(f)), s"$f has no checksum")
        readVerified(f.toString) // throws ChecksumException on a mismatch
      }
      val n = moved.map(f => SparkSpec.spark.read.parquet(f.toString).count()).sum
      assert(n == 30L, s"$tier: $n rows in the moved files")
    }
  }

  test("a tombstone request's staged directory still publishes by rename") {
    import SparkSpec.spark.implicits._
    val idx = tempDir("graft-mh-tomb-").toString + "/idx"
    Dedup.writeMinhashIndex(mk(0L until 10L), idx,
      numHashes = 32, bands = 8, shingleSize = 5)
    Dedup.addTombstones(SparkSpec.spark, idx, Seq(3L, 4L).toDF("doc_id"))
    val reqs = Dedup.tombstoneDirs(idx)
    assert(reqs.size == 1)
    assert(SidecarFs.listNames(s"$idx/tombstones") ==
      Seq(reqs.head.split("/").last), "the staging dir is left behind")
    assert(Stored.read(SparkSpec.spark, reqs.head).collect()
      .map(_.getString(0)).toSet == Set("3", "4"))
  }

  test("source scan: FileContext is used only in core/SidecarFs.scala, " +
      "the one overwrite-rename") {
    val main = Paths.get("src/main/scala/graft")
    val files = {
      val s = Files.walk(main)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".scala"))
      finally s.close()
    }
    val users = files.filter(f => Files.readString(f)
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      .contains("FileContext"))
      .map(main.relativize(_).toString)
    assert(files.size > 50)
    assert(users == Seq("core/SidecarFs.scala"), users.mkString(", "))
  }
}
