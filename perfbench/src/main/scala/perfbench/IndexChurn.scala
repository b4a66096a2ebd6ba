package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}
import graft.streaming.EventStreams

/** `index_churn`: the index-maintenance tier. Set-up writes a MinHash
  * index over the first `HistDocs` documents and an IVF-PQ index over
  * the first `HistVecs` embeddings; each round then runs an IVF-PQ
  * streaming ingest, a MinHash tombstone and an IVF-PQ delete, a probe of
  * each index, and a maintenance pass over both after each of those four
  * steps. A driver-side model of which ids are live or removed is the
  * expected output every probe is checked against:
  *  - a planted twin (exact copy, fresh id) of a live item must match
  *    exactly its source;
  *  - a twin of a tombstoned or deleted item must match nothing;
  *  - a never-indexed item must match nothing;
  *  - ingest keeps the batch's novel items and drops its planted twins:
  *    the next IVF-PQ probe asks for some of the novel items and for the
  *    twins' sources, which would otherwise match twice.
  */
final class IndexChurn(c: Ctx) extends Workload {
  import c.spark
  import IndexChurn._

  private val docs: Map[Long, String] =
    spark.read.parquet(s"${c.data}/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  private val vecs: Map[Long, Array[Float]] =
    spark.read.parquet(s"${c.data}/embeddings.parquet").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  private val mh = s"${c.work}/index/minhash"
  private val pq = s"${c.work}/index/ivfpq"

  def setup(): Unit = {
    c.trace.span("llm.dedup.writeMinhashIndex") {
      Dedup.writeMinhashIndex(docFrame(0L until HistDocs), mh, numHashes = 64,
        bands = 16, shingleSize = 5, maxBucketSize = 500)
    }
    c.trace.span("llm.similarity.writeIvfPqIndex") {
      Similarity.writeIvfPqIndex(vecFrame(0L until HistVecs), pq, nlist = 8, m = 8, ksub = 16,
        trainIters = 2)
    }
  }

  // -- model ---------------------------------------------------------------
  private val rng = c.rng(7)
  private val mhLive = mutable.LinkedHashSet.from(0L until HistDocs)
  private val mhDead = mutable.LinkedHashSet.empty[Long]
  private val pqLive = mutable.LinkedHashSet.from(0L until HistVecs)
  private val pqDead = mutable.LinkedHashSet.empty[Long]
  private var nextVec = HistVecs
  private var nextTwin = TwinBase
  /** planted twin id → source id */
  private val twinOf = mutable.Map.empty[Long, Long]
  private var batchNo = 0
  /** The last ingest's novel ids and its planted twins' sources: the
    * next IVF-PQ probe always asks for these. */
  private var lastIngest = Seq.empty[Long]

  private def pick(s: mutable.LinkedHashSet[Long], n: Int): Seq[Long] = {
    val v = s.toVector
    if (v.isEmpty) Nil else Seq.fill(n)(v(rng.nextInt(v.size))).distinct
  }
  private def twins(srcs: Seq[Long]): Seq[Long] = srcs.map { s =>
    nextTwin += 1
    twinOf(nextTwin) = s
    nextTwin
  }
  private def text(id: Long) = docs(twinOf.getOrElse(id, id))
  private def vec(id: Long) = vecs(twinOf.getOrElse(id, id))

  private def docFrame(ids: Iterable[Long]): DataFrame = {
    import spark.implicits._
    ids.toSeq.map(i => (i, text(i))).toDF("doc_id", "text")
  }
  private def vecFrame(ids: Iterable[Long]): DataFrame = {
    import spark.implicits._
    ids.toSeq.map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  /** One parquet file per arriving batch, mtime-ordered like a landing
    * directory, so the file stream picks up exactly the new file. */
  private def stage(df: DataFrame, dir: String): Unit = {
    val tmp = s"$dir/_staging"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = Paths.get(dir, f"batch_$batchNo%05d.parquet")
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setLastModified(1700000000000L + batchNo * 60000L)
    graft.core.Fs.deleteTree(tmp)
    batchNo += 1
  }

  // -- operations ------------------------------------------------------------
  private def ingestIvfPq(stream: String, ckpt: String): Unit = {
    val novel = nextVec until (nextVec + 25L).min(vecs.size.toLong)
    nextVec += novel.size
    val planted = twins(pick(pqLive, 3))
    stage(vecFrame(novel ++ planted), stream)
    lastIngest = novel.take(3) ++ planted.map(twinOf)
    c.rec.op("ingest.ivfpq") {
      c.trace.span("streaming.runIvfPqIngestLoop") {
        EventStreams.runIvfPqIngestLoop(spark, stream, pq, minCos = 0.999, nprobe = 4,
          checkpoint = ckpt)
      }
    }(_ => None)
    pqLive ++= novel
  }

  /** Expected: live twins match exactly their source; others nothing. */
  private def expectOnly(hits: Map[Long, Set[Long]], live: Seq[Long],
                         others: Seq[Long]): Option[String] = {
    val bad = live.filter(t => hits.getOrElse(t, Set.empty) != Set(twinOf(t))) ++
      others.filter(t => hits.getOrElse(t, Set.empty).nonEmpty)
    if (bad.isEmpty) None
    else Some(s"${bad.size} of ${live.size + others.size} probes wrong, e.g. " +
      bad.take(3).map(t => s"$t->${hits.getOrElse(t, Set.empty)}").mkString(", "))
  }

  private def probeMinhash(): Unit = {
    val live = twins(pick(mhLive, 12))
    val dead = twins(pick(mhDead, 5))
    val novel = HistDocs until HistDocs + 3L
    val batch = docFrame(live ++ dead ++ novel)
    c.rec.op("probe.minhash") {
      c.trace.span("llm.dedup.incrementalMinhashMatchesIndexed") {
        Dedup.incrementalMinhashMatchesIndexed(batch, mh)
          .filter(col("est_jaccard") >= 0.9999)
          .select(col("batch_id").cast("long"), col("hist_id").cast("long"))
          .collect()
      }
    } { rows =>
      val hits = rows.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      expectOnly(hits, live, dead ++ novel)
    }
  }

  private def probeIvfPq(): Unit = {
    val live = twins(pick(pqLive, 7) ++ lastIngest.filter(pqLive.contains))
    val dead = twins(pick(pqDead, 5))
    val batch = vecFrame(live ++ dead)
    c.rec.op("probe.ivfpq") {
      c.trace.span("llm.similarity.ivfPqTopKIndexed") {
        Similarity.ivfPqTopKIndexed(batch, pq, k = 5, nprobe = 4, refine = 4)
          .filter(col("cos_sim") >= 0.999)
          .select(col("query_id").cast("long"), col("cand_id").cast("long"))
          .collect()
      }
    } { rows =>
      val hits = rows.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      expectOnly(hits, live, dead)
    }
  }

  private def idFrame(ids: Seq[Long], name: String): DataFrame = {
    import spark.implicits._
    ids.toDF(name)
  }

  /** Takedowns: a MinHash tombstone request and an IVF-PQ delete, five
    * live ids each. */
  private def takedown(): Unit = {
    val tomb = pick(mhLive, 5)
    c.rec.op("takedown.tombstone") {
      c.trace.span("llm.dedup.addTombstones") {
        Dedup.addTombstones(spark, mh, idFrame(tomb, "doc_id"))
      }
    }(_ => None)
    mhLive --= tomb; mhDead ++= tomb
    val vdel = pick(pqLive, 5)
    c.rec.op("takedown.ivfpq") {
      c.trace.span("llm.similarity.deleteFromIvfPqIndex") {
        Similarity.deleteFromIvfPqIndex(spark, pq, idFrame(vdel, "vec_id"))
      }
    }(_ => None)
    pqLive --= vdel; pqDead ++= vdel
  }

  private def maintain(): Unit =
    c.rec.op("maintain") {
      c.trace.span("llm.dedup.compactMinhashIndexIfBacklogged") {
        Dedup.compactMinhashIndexIfBacklogged(spark, mh).collect()
      }
      c.trace.span("llm.similarity.compactIvfPqIndexIfNeeded") {
        Similarity.compactIvfPqIndexIfNeeded(spark, pq)
      }
      c.trace.span("llm.similarity.rebuildIvfPqIndexIfDrifted") {
        Similarity.rebuildIvfPqIndexIfDrifted(spark, pq).collect()
      }
    }(_ => None)

  /** No separate warm-up: the index writes of set-up already run the
    * engine's read and write paths, and the index tier is the costliest
    * workload per run. */
  def warmup(): Unit = {
    val base = c.rec.afterOp
    c.rec.afterOp = () => base() ++ Map("index_files" -> (parquetFiles(mh) + parquetFiles(pq)))
  }

  /** Ingest, takedown and probes, each followed by a maintenance pass,
    * in a fixed order (the seed draws the data each operation sees); the
    * probes check what the ingest and the takedowns before them did.
    * A single pass takes about a second, which a shared host may run at
    * either of two speeds; four passes spread over the round give a
    * steadier mean. */
  def round(r: Int): Unit = {
    ingestIvfPq(s"${c.work}/pq_stream", s"${c.work}/pq_ckpt")
    maintain()
    takedown()
    maintain()
    probeMinhash()
    maintain()
    probeIvfPq()
    maintain()
  }

  override def outputs: Map[String, Any] = Map(
    "minhash_live" -> mhLive.size, "minhash_removed" -> mhDead.size,
    "ivfpq_live" -> pqLive.size, "ivfpq_removed" -> pqDead.size)
}

object IndexChurn {
  val HistDocs = 1000L
  val HistVecs = 600L
  val TwinBase = 100000000L

  def parquetFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }
}
