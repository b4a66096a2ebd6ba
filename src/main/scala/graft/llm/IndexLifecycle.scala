package graft.llm

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.core.{Manifest, SidecarFs, Stored}

/** The persisted-index lifecycle's two skeletons, shared by the MinHash
  * ([[Dedup]]), IVF and IVF-PQ ([[Similarity]]) and k-NN-graph
  * ([[GraphAnn]]) indexes: one MAINTENANCE PASS ([[maintain]]) behind
  * every compaction, hard delete and rebuild, and one KEYED INGEST
  * ([[ingestKeyed]]) behind every closed-loop ingest batch. Every tier a
  * call writes becomes live through [[Versions]]: a fresh immutable
  * version dir per tier and ONE atomic [[graft.core.Manifest.publishAll]].
  *
  * A public index call reads the index's `current` manifest ONCE
  * ([[graft.core.Manifest.snapshot]]) and resolves every tier it touches
  * from that snapshot, so a call overlapping another writer's publish
  * sees one consistent set of versions, never old codebooks beside new
  * codes.
  */
private[graft] object IndexLifecycle {

  /** Reset an index path for a FRESH write (writeMinhashIndex /
    * writeIvfIndex / writeIvfPqIndex / writeKnnGraphIndex over a
    * pre-existing index at `path`): delete the WHOLE index tree.
    * Anything narrower leaves a trap — a stale manifest pointer, a stale
    * ingest commit marker, or (worst) a stale sibling-FLAVOR tier:
    * writing an IVF-PQ index over an old raw-IVF one would leave the old
    * `postings/` dir for ivfTopKIndexed to silently serve the OLD corpus
    * from. The index directory is dedicated to the index by contract, so
    * a fresh write owns all of it. */
  def reset(indexPath: String): Unit = SidecarFs.deleteTree(indexPath)

  /** The fresh version dirs one call writes under `snap.root`, made
    * live together by [[publish]] — one atomic manifest replace against
    * the call's snapshot, so a reader never resolves a mix of this
    * call's tiers and the prior ones. The superseded version of each
    * tier is retained one publish cycle (the grace window for a reader
    * that resolved just before the swap) and pruned by the next. */
  private final class Versions(snap: Manifest.Snapshot) {
    private val written = mutable.LinkedHashMap.empty[String, String]

    /** Write `df` as a fresh version of tier `name` (through
      * [[graft.core.Stored.write]], so it carries its schema record)
      * and return its dir. Not live until [[publish]]. One version per
      * tier per call. */
    def write(name: String, df: DataFrame, partitionBy: String*): String = {
      require(!written.contains(name), s"tier $name written twice in one call")
      val v = Manifest.nextVersionDir(snap, name)
      Stored.write(df, s"${snap.root}/$v", partitionBy: _*)
      written(name) = v
      s"${snap.root}/$v"
    }

    /** Publish every version written so far in one manifest write. */
    def publish(): Unit =
      if (written.nonEmpty) Manifest.publishAll(snap, written.toMap)
  }

  /** Write one tier as a fresh version and publish it. */
  def publishVersion(root: String, name: String, df: DataFrame,
                     partitionBy: String*): Unit = {
    val v = new Versions(Manifest.snapshot(root))
    v.write(name, df, partitionBy: _*)
    v.publish()
  }

  /** What a maintenance pass body sees: the call's snapshot, its
    * deletion set — the caller's ids (a broadcast `del_id` frame, hard
    * deletes only) and the snapshotted tombstoned ids (a driver-side
    * set) — and the versions it writes. */
  final class Pass private[IndexLifecycle] (val spark: SparkSession,
                                            val snap: Manifest.Snapshot,
                                            ids: Option[DataFrame],
                                            tombstoned: Set[String]) {
    private[IndexLifecycle] val versions = new Versions(snap)

    /** Tier `name` as the snapshot resolves it. */
    def read(name: String): DataFrame = Stored.read(spark, snap.resolve(name))

    /** `df` without the rows whose `idCol` is in the deletion set (the id
      * compared as a string, the tombstone request type). */
    def except(df: DataFrame, idCol: String): DataFrame =
      Dedup.exceptTombstoned(ids.fold(df)(d =>
          df.join(d, col(idCol).cast("string") === col("del_id"), "left_anti")),
        idCol, tombstoned)

    /** Whether the deletion set holds any of the (string) ids `of`. */
    def deletesAny(of: Seq[String]): Boolean =
      of.exists(tombstoned) || (of.nonEmpty && ids.exists(d =>
        !d.filter(col("del_id").isin(of: _*)).isEmpty))

    /** Write tier `name` as a fresh version, published when the pass
      * completes. */
    def write(name: String, df: DataFrame, partitionBy: String*): String =
      versions.write(name, df, partitionBy: _*)
  }

  /** Run ONE maintenance pass — a compaction, hard delete or rebuild —
    * over the index at `snap.root`. The pass:
    *
    *  1. refuses while an uncommitted ingest batch has live keyed files
    *     in the snapshot's tiers: absorbing them into a consolidated
    *     version erases the keyed identity their restart recovery
    *     depends on (see [[uncommittedIngestKeys]]);
    *  2. snapshots the pending tombstone request dirs before reading
    *     anything;
    *  3. builds the deletion set ONCE: the snapshotted tombstones are
    *     read on the driver ([[Dedup.pendingTombstones]]: no job, no
    *     count, no broadcast) and filter every tier as a set, past
    *     [[Dedup.MaxPendingTombstones]] too (a ceiling two racing
    *     takedowns can overshoot); caller `ids` (a hard delete, first
    *     column) add a broadcast anti-join;
    *  4. runs `body`, which rewrites tiers through [[Pass.write]];
    *  5. publishes every tier the body wrote in ONE manifest write,
    *     against `snap` (no second read of `current`);
    *  6. clears exactly the snapshotted tombstone dirs — a request that
    *     arrived mid-pass survives to the next pass, and a crash between
    *     publish and clear merely re-applies idempotent tombstones.
    *
    * A pass without caller ids also prunes retired ingest commit markers
    * ([[pruneCommitMarkers]]). A body that returns false (nothing to
    * rebuild from: zero survivors) publishes and clears nothing; a
    * version dir it already wrote stays unpublished and is swept by the
    * tier's next publish. Returns the body's result.
    *
    * Contract: a single maintenance writer per index. Readers resolve at
    * open time and the superseded versions are retained one cycle, so
    * in-flight probes finish against complete data. */
  def maintain(spark: SparkSession, snap: Manifest.Snapshot,
               ids: Option[DataFrame] = None)(body: Pass => Boolean): Boolean = {
    val root = snap.root
    requireNoUncommittedIngest(root, ingestKeyedDirs(snap))
    val tombDirs = Dedup.tombstoneDirs(root)
    val pass = new Pass(spark, snap,
      ids.map(i => broadcast(
        i.select(col(i.columns.head).cast("string").as("del_id")))),
      Dedup.pendingTombstones(spark, tombDirs))
    val done = body(pass)
    if (done) {
      pass.versions.publish()
      tombDirs.foreach(SidecarFs.deleteTree)
      if (ids.isEmpty) pruneCommitMarkers(root)
    }
    done
  }

  /** Ingest ONE batch under `batchKey` into the index at `indexPath`,
    * idempotently. `tiers` names each tier that takes keyed files with
    * the prefix of its partition dirs (`"cell="`; `""` for a flat tier).
    *
    *  - A commit marker under `ingest_commits/` short-circuits a
    *    re-delivered batch whose append fully finished.
    *  - Any `ingest-<batchKey>-*` files a crashed earlier delivery left
    *    in the live tiers are purged BEFORE `stage` runs, so the batch's
    *    match never sees its own rows (it would flag every survivor as
    *    its own duplicate).
    *  - `stage(snap, stageDir)` matches against the snapshot and writes
    *    each tier's survivors to `stageDir/<tier>`, inside
    *    [[Caches.scoped]] (one leaked cache per micro-batch is unbounded
    *    over a long-running crawl).
    *  - The staged part-files move into the live partition dirs under
    *    deterministic `ingest-<batchKey>-<i>.parquet` names, which a
    *    re-execution REPLACES instead of duplicating; then the marker is
    *    written, whole or not at all, with the body `stage` returns (the
    *    batch's gauge delta for IVF and IVF-PQ, see
    *    [[keyedMarkerBodies]]; empty for the other indexes).
    *
    * So however many times a batch is re-delivered, the index ends with
    * exactly one copy of its rows. Appends keep the tier's own encoder,
    * so the live dir's schema record stays valid. Single maintenance
    * writer: a stream's ingest must not race a concurrent pass. */
  def ingestKeyed(spark: SparkSession, indexPath: String, batchKey: String,
                  tiers: Seq[(String, String)])(
      stage: (Manifest.Snapshot, String) => String): Unit = {
    val marker = s"$indexPath/ingest_commits/$batchKey"
    if (SidecarFs.exists(marker)) return // fully committed
    val snap = Manifest.snapshot(indexPath)
    // a tier's keyed dirs relative to its root: itself, or its partitions
    def parts(dir: String, prefix: String): Seq[String] =
      if (prefix.isEmpty) Seq("")
      else Dedup.listDirs(dir, prefix).map("/" + _)
    tiers.foreach { case (name, prefix) =>
      val live = snap.resolve(name)
      parts(live, prefix).foreach(p => clearKeyedFiles(live + p, batchKey))
    }
    val stageDir = s"$indexPath/ingest_staging/$batchKey"
    val body = Caches.scoped(spark)(stage(snap, stageDir))
    tiers.foreach { case (name, prefix) =>
      val (staged, live) = (s"$stageDir/$name", snap.resolve(name))
      parts(staged, prefix).foreach(p =>
        moveKeyedFiles(staged + p, live + p, batchKey))
    }
    SidecarFs.deleteTree(stageDir)
    SidecarFs.mkdirs(s"$indexPath/ingest_commits")
    SidecarFs.writeStringAtomic(marker, body)
  }

  /** Move the parquet part-files of `srcDir` into `dstDir` under
    * deterministic `ingest-<key>-<i>.parquet` names (sorted source
    * order → stable numbering). File moves are local-rename cheap; on
    * object stores they are copies of the batch's own (delta-sized)
    * data. */
  private def moveKeyedFiles(srcDir: String, dstDir: String,
                             batchKey: String): Unit = {
    SidecarFs.mkdirs(dstDir)
    val parts = SidecarFs.listNames(srcDir).filter(_.endsWith(".parquet")).sorted
    parts.zipWithIndex.foreach { case (f, i) =>
      SidecarFs.renameOverwrite(s"$srcDir/$f", s"$dstDir/ingest-$batchKey-$i.parquet")
    }
  }

  private[llm] def clearKeyedFiles(dir: String, batchKey: String): Unit =
    SidecarFs.listNames(dir)
      .filter(_.startsWith(s"ingest-$batchKey-"))
      .foreach(f => SidecarFs.deleteFile(s"$dir/$f"))

  /** Every live dir of the snapshot that can hold ingest-keyed files,
    * across all index layouts (MinHash: sigs + band dirs; IVF: postings
    * cell dirs; IVF-PQ: codes + vectors cell dirs). Dirs absent from a
    * layout list empty. */
  private[llm] def ingestKeyedDirs(snap: Manifest.Snapshot): Seq[String] = {
    def parts(name: String, prefix: String): Seq[String] = {
      val dir = snap.resolve(name)
      Dedup.listDirs(dir, prefix).map(d => s"$dir/$d")
    }
    Seq(snap.resolve("sigs")) ++ parts("bands", "band=") ++
      parts("postings", "cell=") ++ parts("codes", "cell=") ++
      parts("vectors", "cell=")
  }

  private val KeyedFileRe = "^ingest-(.+)-\\d+\\.parquet$".r

  /** Ingest batch keys with live keyed files in `dirs` but NO commit
    * marker — an in-flight or crashed delivery. A maintenance pass must
    * refuse while any exist: absorbing an UNCOMMITTED batch's keyed files
    * into a consolidated version erases their keyed identity, so the
    * restart's purge-before-rematch would find nothing to purge, the
    * re-match would flag every survivor as its own (absorbed) duplicate,
    * and the batch would silently vanish from the index. */
  private[llm] def uncommittedIngestKeys(indexPath: String,
                                         dirs: Seq[String]): Set[String] =
    keyedBatches(dirs) --
      Dedup.listDirs(s"$indexPath/ingest_commits", "").toSet

  /** The commit-marker body of each ingest batch with live keyed files
    * in `dirs`; None when one of them has no marker (uncommitted). A
    * keyed file lands in a live dir only after the last full write of
    * that dir, so a full write's record plus these bodies cover every
    * file in it. */
  private[llm] def keyedMarkerBodies(indexPath: String,
                                     dirs: Seq[String]): Option[Seq[String]] = {
    val bodies = keyedBatches(dirs).toSeq
      .map(k => SidecarFs.readString(s"$indexPath/ingest_commits/$k"))
    if (bodies.contains(None)) None else Some(bodies.flatten)
  }

  /** Keys of the ingest batches with keyed files in `dirs`. */
  private def keyedBatches(dirs: Seq[String]): Set[String] =
    dirs.flatMap { d =>
      SidecarFs.listNames(d).collect { case KeyedFileRe(k) => k }
    }.toSet

  private def requireNoUncommittedIngest(indexPath: String,
                                         dirs: Seq[String]): Unit = {
    val inflight = uncommittedIngestKeys(indexPath, dirs)
    require(inflight.isEmpty,
      s"refusing to compact $indexPath: uncommitted ingest batches " +
        s"${inflight.mkString(", ")} have live keyed files — absorbing " +
        "them would erase the keyed identity their restart recovery " +
        "depends on. Restart the owning stream to converge, or — if its " +
        "checkpoint is gone for good — purgeOrphanedIngestBatches first")
  }

  /** Anchored to the EXACT marker shape the streaming loops mint
    * ([[graft.streaming.EventStreams]] streamKey: 12 lowercase hex chars
    * + `-b<batchId>`): a looser `.+-b\d+` would also claim CALLER-chosen
    * idempotency keys that merely end in `-b<digits>` ("nightly-b2"),
    * and pruning those breaks direct-API re-delivery — unlike a
    * Structured Streaming checkpoint, a caller's orchestrator may
    * re-deliver ANY old batch, and with its marker pruned and its keyed
    * files compacted away the IVF self-id-excluding re-match would
    * re-append every vector as a duplicate. */
  private val MarkerRe = "^([0-9a-f]{12})-b(\\d+)$".r

  /** Prune retired ingest commit markers, keeping only the NEWEST
    * marker per stream key. Without this, a long-running ingest loop
    * leaves one marker file per micro-batch forever — the
    * machinery built to fight small-files decay accruing its own
    * unbounded small-file growth (and `uncommittedIngestKeys` listing
    * all of them on every pass).
    *
    * Why newest-per-stream is the exact safe boundary: a marker exists
    * to short-circuit a RE-DELIVERED batch, and Structured Streaming
    * only re-delivers the latest batch whose offset commit didn't reach
    * the checkpoint — the moment the same stream delivered batch N+1,
    * batch N's commit was durably recorded, so N can never be
    * re-delivered and its marker is dead weight. Blanket deletion would
    * NOT be safe: the newest batch can still be re-delivered, and once
    * compaction has absorbed its keyed files the IVF re-match excludes
    * self-id pairs, so a markerless re-delivery would re-append its
    * vectors as duplicates. Markers that don't match the
    * `<stream>-b<id>` shape (caller-chosen keys) are kept. Runs inside
    * a pass — the single-maintenance-writer window, so no live append
    * races the listing. */
  private def pruneCommitMarkers(indexPath: String): Unit = {
    val dir = s"$indexPath/ingest_commits"
    val parsed = SidecarFs.listNames(dir).flatMap {
      // toLongOption: an id beyond Long range is not a minted marker —
      // keep it rather than abort the surrounding pass
      case MarkerRe(stream, id) => id.toLongOption.map(stream -> _)
      case _ => None
    }
    val newest = parsed.groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2).max) }
    parsed.foreach { case (stream, id) =>
      if (id != newest(stream)) SidecarFs.deleteFile(s"$dir/$stream-b$id")
    }
  }
}
