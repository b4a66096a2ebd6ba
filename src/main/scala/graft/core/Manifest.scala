package graft.core

/** Version-pointer manifest for directories of immutable dataset
  * versions — the publication mechanism shared by the persisted-index
  * lifecycle ([[graft.llm.IndexLifecycle]] drives it for the MinHash,
  * IVF, IVF-PQ and k-NN-graph indexes) and the task field store
  * ([[Task.store]]).
  *
  * Problem: maintenance rewrites a data subdir (`bands`, `sigs`, a task
  * field) wholesale. Swapping the fresh copy in via directory renames
  * has a window where the subdir is absent — a crash mid-swap leaves a
  * broken store, and a concurrent reader sees a hole. Object stores
  * don't even have atomic directory renames.
  *
  * The Iceberg/Delta answer, applied at the smallest useful scale: data
  * directories are IMMUTABLE VERSIONS (`bands_v3`), and a tiny `current`
  * manifest file maps logical names to the live version. A writer
  * produces a complete new version dir, then publishes it with ONE
  * atomic pointer write (temp file + replacing rename — `rename(2)` on
  * local disk, an OVERWRITE rename on HDFS, a single-object swap on
  * stores without atomic rename; see [[SidecarFs.renameOverwrite]] for
  * the exact contract). Every
  * reader resolves through the manifest at open time, so it either sees
  * the old complete version or the new complete version — never a hole.
  * The immediately superseded version is RETAINED for one publish cycle
  * (pruned by the next), so a reader that resolved just before the swap
  * can still finish its scan.
  *
  * Concurrency contract: many readers + one maintenance writer — the
  * manifest write is atomic, but two CONCURRENT publishes under the same
  * root are a caller error (last publish wins; both version dirs remain
  * until pruned).
  *
  * One read per call: a caller that opens several names reads `current`
  * ONCE into a [[Snapshot]] and resolves every name from it. Resolving
  * name by name re-reads the file each time, and a publish landing
  * between two reads would pair one name's old version with another's
  * new one (old codebooks with new codes) — the torn read the single
  * atomic [[publishAll]] exists to prevent. Every public index call
  * and every [[Task.load]] takes one snapshot; [[resolve]] is the
  * one-name shorthand. A writer publishes against the snapshot it took
  * ([[publishAll]]), so a maintenance pass or a task commit reads
  * `current` once and writes it once.
  *
  * Back-compat: a store written before versioning has plain subdirs and
  * no manifest; `resolve` falls back to the plain name, and the first
  * versioned publish migrates it.
  *
  * A version dir's writer records the dataset's schema inside it
  * (`_schema.json`, see [[Stored]]) before publishing it, so a reader
  * that resolves through the manifest opens the version without a
  * schema-inference job. [[names]] lists directories only, so the
  * record never reads as a logical name.
  *
  * Reference anchor: repype/task.py:280-287 (compute_sha — artifact
  * identity tracked in small sidecar metadata, not directory layout).
  */
object Manifest {

  private val ManifestName = "current"

  private def manifestPath(root: String): String = s"$root/$ManifestName"

  /** name→dirname map in the manifest (empty when absent). */
  private[core] def readMap(root: String): Map[String, String] =
    SidecarFs.readString(manifestPath(root)).toSeq
      .flatMap(_.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .flatMap { line =>
          val eq = line.indexOf('=')
          if (eq <= 0) None else Some(line.take(eq) -> line.drop(eq + 1))
        }).toMap

  /** Logical names published under `root`: manifest keys plus plain
    * (pre-versioning) subdirs — version dirs themselves never count. */
  def names(root: String): Set[String] = snapshot(root).names

  /** The name→dir map of `root` as ONE read of `current` saw it. A
    * writer takes one snapshot per call and hands it to
    * [[nextVersionDir]] and [[publishAll]]: the publish's
    * read-modify-write starts from the snapshot's map instead of
    * re-reading `current` (one maintenance writer per root, so nothing
    * else published in between), and the version numbering and the
    * publish's prunes share the snapshot's one listing of `root`. */
  final case class Snapshot(root: String, dirs: Map[String, String]) {

    /** Logical subdir `name` to its live ABSOLUTE path at the snapshot:
      * the manifest's entry when present, the plain name otherwise
      * (pre-versioning stores). */
    def resolve(name: String): String = s"$root/${dirs.getOrElse(name, name)}"

    /** Logical names: manifest keys plus plain (pre-versioning) subdirs,
      * from one directory listing — version dirs never count, and files
      * (`current`, a schema record) are not names. */
    def names: Set[String] = {
      val versionDirs = dirs.values.toSet
      dirs.keySet ++ SidecarFs.listDirNames(root)
        .filterNot(d => versionDirs.contains(d) || d.matches(".*_v\\d+"))
    }

    /** Entry names of `root`, listed once, on first use. Entries a
      * writer creates after that are its own fresh versions, which the
      * numbering and the prunes never need to see. */
    private[Manifest] lazy val entries: Seq[String] = SidecarFs.listNames(root)
  }

  /** Read `current` once (an empty map when absent). */
  def snapshot(root: String): Snapshot = Snapshot(root, readMap(root))

  /** `snapshot(root).resolve(name)` — for a caller that opens one name. */
  def resolve(root: String, name: String): String =
    snapshot(root).resolve(name)

  /** A fresh version dirname for `name`: one past the largest
    * `name_v<N>` in the snapshot's listing of the root — counting disk,
    * not just the manifest, so an unpublished dir left by a crashed
    * writer is never reused. One name per call: two versions of one
    * name from the same snapshot would collide. */
  def nextVersionDir(snap: Snapshot, name: String): String = {
    val re = (java.util.regex.Pattern.quote(name) + "_v(\\d+)").r
    val existing = snap.entries.collect { case re(n) => n.toInt }
    s"${name}_v${(existing :+ 0).max + 1}"
  }

  /** Publish SEVERAL names in ONE atomic manifest replace — the
    * multi-tier swap a whole-index rebuild needs (centroids + postings
    * + meta must flip together: a reader resolving between two separate
    * publishes would route new-quantizer cells against old postings),
    * and the one commit of a task's fields. The new manifest is the
    * caller's snapshot with `updates` applied (other names' entries are
    * carried over): no second read of `current`. Then, per updated name,
    * every version in the snapshot's listing that is neither the new
    * live dir nor the one it superseded is pruned — including a dir a
    * crashed writer left unpublished. The superseded dir is retained
    * for one cycle, the grace window for in-flight readers, and pruned
    * by the NEXT publish. */
  def publishAll(snap: Snapshot, updates: Map[String, String]): Unit = {
    require(updates.nonEmpty, "publishAll of nothing")
    val root = snap.root
    val superseded = updates.keySet.map(n => snap.dirs.getOrElse(n, n))
    val next = snap.dirs ++ updates
    val body = next.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n")
    SidecarFs.writeStringAtomic(manifestPath(root), body)
    // prune stale versions: everything matching an updated `name` or
    // `name_v*` that is neither its new live dir nor its immediate
    // predecessor
    updates.foreach { case (name, versionDir) =>
      val re = (java.util.regex.Pattern.quote(name) + "(_v\\d+)?").r
      val stale = snap.entries.filter {
        case d @ re(_*) => d != versionDir && !superseded.contains(d)
        case _ => false
      }
      stale.foreach(d => SidecarFs.deleteTree(s"$root/$d"))
    }
  }
}
