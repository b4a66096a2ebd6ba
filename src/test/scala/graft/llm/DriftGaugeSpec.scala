package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.{Manifest, SidecarFs, Stored}
import graft.streaming.EventStreams

/** The IVF and IVF-PQ drift gauges keep their inputs up to date instead
  * of rescanning ([[Similarity.ivfIndexDrift]]): every full write of the
  * gauge tier records its sums, every keyed ingest stores its delta in
  * its commit marker, and a plain append deletes the record. The gauge
  * row read from them equals the full recompute exactly after any
  * sequence of index operations, reads with no job when they cover
  * every live file, and falls back to the scan in every other state —
  * crash points and indexes written before records existed included. */
class DriftGaugeSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def emb(from: Long, until: Long, shift: Long = 0L) =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") >= from && col("vec_id") < until)
      .select((col("vec_id") + shift).as("vec_id"), col("embedding"))

  /** One index flavour, through its public calls. */
  private case class Flavour(
      name: String, tier: String,
      write: (DataFrame, String) => Unit,
      gauge: String => Row,
      rebuild: (String, Long) => Row,
      append: (DataFrame, String) => Unit,
      ingest: (DataFrame, String, String) => Unit,
      loop: (String, String, String) => Unit,
      delete: (String, DataFrame) => Unit,
      compact: String => Unit)

  private val MinCos = 0.999

  private val ivf = Flavour("ivf", "postings",
    Similarity.writeIvfIndex(_, _, nlist = 4),
    Similarity.ivfIndexDrift(spark, _).collect().head,
    (idx, max) => Similarity.rebuildIvfIndexIfDrifted(spark, idx,
      maxDriftMicro = max).collect().head,
    Similarity.appendToIvfIndex(_, _),
    Similarity.ingestBatchIntoIvfIndex(_, _, _, MinCos),
    (dir, idx, ckpt) => EventStreams.runIvfIngestLoop(spark, dir, idx,
      MinCos, nprobe = 4, checkpoint = ckpt),
    Similarity.deleteFromIvfIndex(spark, _, _),
    Similarity.compactIvfIndex(spark, _))

  private val ivfPq = Flavour("ivfpq", "vectors",
    Similarity.writeIvfPqIndex(_, _, nlist = 4, m = 8, ksub = 8),
    Similarity.ivfPqIndexDrift(spark, _).collect().head,
    (idx, max) => Similarity.rebuildIvfPqIndexIfDrifted(spark, idx,
      maxDriftMicro = max).collect().head,
    Similarity.appendToIvfPqIndex(_, _),
    Similarity.ingestBatchIntoIvfPqIndex(_, _, _, MinCos),
    (dir, idx, ckpt) => EventStreams.runIvfPqIngestLoop(spark, dir, idx,
      MinCos, nprobe = 4, checkpoint = ckpt),
    Similarity.deleteFromIvfPqIndex(spark, _, _),
    Similarity.compactIvfPqIndex(spark, _))

  private def record(f: Flavour, idx: String): String =
    s"${Manifest.resolve(idx, f.tier)}/${Similarity.GaugeFile}"

  /** The gauge row by a full recompute: the gauge with the live record
    * set aside, which leaves it no sums but a scan. */
  private def recomputed(f: Flavour, idx: String): Row = {
    val rec = record(f, idx)
    val saved = SidecarFs.readString(rec)
    SidecarFs.deleteFile(rec)
    try f.gauge(idx)
    finally saved.foreach(SidecarFs.writeStringAtomic(rec, _))
  }

  /** The gauge equals its recompute, read with no job when `maintained`
    * and by a scan otherwise. */
  private def assertExact(f: Flavour, idx: String, maintained: Boolean,
                          step: String): Unit = {
    val (row, jobs) = jobsIn(f.gauge(idx))
    assert(row == recomputed(f, idx), s"${f.name} $step")
    assert((jobs == 0) == maintained, s"${f.name} $step: $jobs jobs")
  }

  /** Land `df` as the next file of the stream dir a loop reads. */
  private def stageBatch(df: DataFrame, dir: String, i: Int): Unit = {
    val tmp = s"$dir/_st$i"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = SidecarFs.listNames(tmp).find(_.endsWith(".parquet")).get
    SidecarFs.renameOverwrite(s"$tmp/$part", s"$dir/batch_$i.parquet")
    new java.io.File(s"$dir/batch_$i.parquet")
      .setLastModified(1700000000000L + i * 60000L)
    SidecarFs.deleteTree(tmp)
  }

  private val Steps = Seq("write", "ingest", "loop", "append", "delete",
    "tombstone", "compact", "rebuild", "no-trip")

  /** A seeded random sequence of every step kind (twice, shuffled) on a
    * fresh index, the gauge checked against its recompute after each. */
  private def randomSequence(f: Flavour, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val root = tempDir(s"gauge-${f.name}-").toString
    val idx = s"$root/idx"
    var shift = 0L
    // a batch of `n` vectors from a random slice of the fixture, under
    // fresh ids: twins of indexed vectors and novel ones alike
    def batch(n: Int): DataFrame = {
      shift += 100000L
      val from = rnd.nextInt(500 - n).toLong
      emb(from, from + n, shift)
    }
    def someIds(): DataFrame =
      Seq.fill(3)(rnd.nextInt(120).toLong).toDF("vec_id")
    var (covered, tombstoned, streamed) = (true, false, 0)
    f.write(emb(0, 120), idx)
    assertExact(f, idx, maintained = true, "write")
    rnd.shuffle(Steps ++ Steps).zipWithIndex.foreach { case (step, i) =>
      step match {
        case "write" =>
          f.write(emb(0, 80 + rnd.nextInt(80)), idx)
          covered = true; tombstoned = false
        case "ingest" => f.ingest(batch(12), idx, s"k$i")
        case "loop" =>
          stageBatch(batch(12), s"$root/stream", streamed)
          streamed += 1
          f.loop(s"$root/stream", idx, s"$root/ckpt")
        case "append" => f.append(batch(8), idx); covered = false
        case "delete" =>
          f.delete(idx, someIds()); covered = true; tombstoned = false
        case "tombstone" =>
          Dedup.addTombstones(spark, idx, someIds()); tombstoned = true
        case "compact" => f.compact(idx); covered = true; tombstoned = false
        case "rebuild" =>
          assert(f.rebuild(idx, 0L).getAs[Boolean]("rebuilt"))
          covered = true; tombstoned = false
        case "no-trip" =>
          val (row, jobs) = jobsIn(f.rebuild(idx, Long.MaxValue))
          assert(!row.getAs[Boolean]("rebuilt"))
          assert((jobs == 0) == (covered && !tombstoned), s"no-trip: $jobs jobs")
      }
      assertExact(f, idx, covered && !tombstoned, s"step $i ($step), seed $seed")
    }
  }

  test("IVF: after every step of a random sequence of writes, keyed and " +
      "streamed ingests, appends, deletes, tombstones, compactions and " +
      "rebuilds, the gauge equals the full recompute") {
    randomSequence(ivf, seed = 11L)
  }

  test("IVF-PQ: after every step of a random sequence of writes, keyed " +
      "and streamed ingests, appends, deletes, tombstones, compactions " +
      "and rebuilds, the gauge equals the full recompute") {
    randomSequence(ivfPq, seed = 29L)
  }

  /** A fresh index with one committed keyed batch, `key`. */
  private def withIngest(f: Flavour, key: String): String = {
    val idx = tempDir(s"gauge-crash-${f.name}-").toString + "/idx"
    f.write(emb(0, 120), idx)
    f.ingest(emb(100, 140, shift = 100000L), idx, key)
    assertExact(f, idx, maintained = true, "ingest")
    idx
  }

  /** The gauge scans, and a compaction's publish restores the no-job
    * path. */
  private def scansUntilPublish(f: Flavour, idx: String, state: String): Unit = {
    assertExact(f, idx, maintained = false, state)
    f.compact(idx)
    assertExact(f, idx, maintained = true, s"$state, compacted")
  }

  for (f <- Seq(ivf, ivfPq)) {
    test(s"${f.name}: keyed files with no marker (a crash before the " +
        "marker write) make the gauge scan; maintenance refuses until the " +
        "re-delivery commits") {
      val idx = withIngest(f, "k1")
      SidecarFs.deleteFile(s"$idx/ingest_commits/k1")
      assertExact(f, idx, maintained = false, "no marker")
      intercept[IllegalArgumentException](f.compact(idx))
      f.ingest(emb(100, 140, shift = 100000L), idx, "k1") // re-delivered
      assertExact(f, idx, maintained = true, "re-delivered")
      f.compact(idx)
      assertExact(f, idx, maintained = true, "compacted")
    }

    test(s"${f.name}: an empty marker (as markers were written before " +
        "they carried a delta) or a partial one makes the gauge scan") {
      val idx = withIngest(f, "k1")
      val marker = s"$idx/ingest_commits/k1"
      val body = SidecarFs.readString(marker).get
      assert(Similarity.GaugeSums.parse(body).isDefined, body)
      SidecarFs.writeStringAtomic(marker, body.take(body.length / 2))
      assertExact(f, idx, maintained = false, "partial marker")
      SidecarFs.writeStringAtomic(marker, "")
      scansUntilPublish(f, idx, "empty marker")
    }

    test(s"${f.name}: a live dir with no record makes the gauge scan") {
      val idx = withIngest(f, "k1")
      SidecarFs.deleteFile(record(f, idx))
      scansUntilPublish(f, idx, "no record")
    }

    test(s"${f.name}: an append that died after deleting the record " +
        "leaves the gauge on its scan") {
      val idx = withIngest(f, "k1")
      val failing = emb(200, 220, shift = 200000L).withColumn("embedding",
        when(col("vec_id") < 0L, col("embedding"))
          .otherwise(raise_error(lit("append dies")).cast("array<float>")))
      intercept[Exception](f.append(failing, idx))
      assert(!SidecarFs.exists(record(f, idx)))
      scansUntilPublish(f, idx, "died append")
    }
  }

  test("an IVF-PQ index in the layout written before records existed " +
      "(no schema or gauge records, empty markers) gauges, ingests, " +
      "deletes and rebuilds as a current one does") {
    val root = tempDir("gauge-legacy-").toString
    val (cur, old) = (s"$root/cur", s"$root/old")
    def vectors(idx: String) = Stored.read(spark, Manifest.resolve(idx, "vectors"))
      .select("cand_id").collect().map(_.getLong(0)).sorted.toSeq
    def both[A](op: String => A): (A, A) = (op(cur), op(old))
    def same(step: String): Unit = {
      val (c, o) = both(ivfPq.gauge)
      assert(c == o, step)
      assert(vectors(cur) == vectors(old), step)
    }
    both(ivfPq.write(emb(0, 120), _))
    ivfPq.ingest(emb(100, 140, shift = 100000L), cur, "k1")
    ivfPq.ingest(emb(100, 140, shift = 100000L), old, "k1")
    dropSchemaRecords(old)
    dropFilesNamed(old, Similarity.GaugeFile)
    SidecarFs.writeStringAtomic(s"$old/ingest_commits/k1", "")
    assertExact(ivfPq, old, maintained = false, "legacy")
    same("legacy")
    ivfPq.ingest(emb(300, 330, shift = 300000L), cur, "k2")
    ivfPq.ingest(emb(300, 330, shift = 300000L), old, "k2")
    same("ingest")
    both(ivfPq.delete(_, Seq(1L, 2L, 100105L).toDF("vec_id")))
    same("delete")
    val (rc, ro) = both(ivfPq.rebuild(_, 0L))
    assert(rc == ro && rc.getAs[Boolean]("rebuilt"))
    same("rebuild")
    assertExact(ivfPq, old, maintained = true, "rebuilt legacy")
  }
}
