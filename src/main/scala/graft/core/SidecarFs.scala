package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path, RawLocalFileSystem}

/** Driver-side sidecar I/O for the persisted-index lifecycle (manifest
  * pointers, ingest commit markers, keyed-file moves, compaction
  * listings) routed through the Hadoop FileSystem API, so the lifecycle
  * runs wherever the index DATA lives — local disk, HDFS, or an object
  * store — instead of silently assuming a POSIX filesystem the way the
  * original `java.nio.file` implementation did. The Hadoop conf comes
  * from the active Spark session (credentials, fs.defaultFS, per-bucket
  * settings all inherited), falling back to a bare `Configuration` for
  * session-less unit contexts; scheme-less paths resolve against
  * `fs.defaultFS` exactly like Spark's own reads of the same index.
  *
  * Atomicity contract (manifest publish, digests, schema records,
  * stream-id mint — [[writeStringAtomic]]): temp file + a rename that
  * replaces the target in one step wherever the store can express it:
  *  - raw local disk (`file:`, checksumming unwrapped): a plain
  *    `rename`, i.e. POSIX `rename(2)`, which atomically replaces an
  *    existing target — a reader opens the old file or the new one;
  *  - HDFS and any scheme with an AbstractFileSystem binding:
  *    `FileContext.rename(OVERWRITE)`, atomic on HDFS;
  *  - S3A-like stores, where rename is copy+delete and no binding may
  *    exist: delete+rename of a single small object, which leaves a
  *    read-absent window but never a torn read (S3 PUTs are atomic
  *    per-object, and every reader treats an absent manifest as
  *    "pre-versioning layout", the safe fallback).
  * [[renameOverwrite]] is the same swap for a file or dir the caller
  * already wrote, and the only place the codebase uses `FileContext`.
  * One writer per target is already the lifecycle's contract, so
  * last-writer-wins suffices.
  *
  * These are METADATA operations — a handful of round-trips per
  * append/compaction cycle, never per row — so per-call FileSystem
  * resolution (cached by scheme+authority inside Hadoop) is fine. The
  * conf copy each call makes is not free; a caller making many calls in
  * a row (the task-tree scan) shares one through [[withConf]].
  */
object SidecarFs {

  /** The session's Hadoop conf when a session is up (the normal case —
    * every lifecycle entry point takes or derives a SparkSession), else
    * a default conf (unit tests of pure path logic). Inside [[withConf]]
    * it is the conf that scope built; outside, a fresh one per call. */
  def hadoopConf: Configuration =
    Option(scopedConf.get).getOrElse(sessionConf)

  private def sessionConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private val scopedConf = new ThreadLocal[Configuration]

  /** Run `body` with ONE Hadoop conf shared by every sidecar call it
    * makes on this thread. Building the conf copies the whole session
    * conf, and a task-tree scan makes a few such calls per task, so
    * `Batch.load` / `Batch.pendingContexts` build it once per call. The
    * conf lives only as long as `body` and is never reused by a later
    * scope, so a session conf change between two calls still takes
    * effect. A nested scope uses the outer one's conf. */
  def withConf[A](body: => A): A =
    if (scopedConf.get != null) body
    else {
      scopedConf.set(sessionConf)
      try body finally scopedConf.remove()
    }

  /** The path's filesystem with client-side checksumming unwrapped:
    * LocalFileSystem maintains a `.crc` sibling per file, which litters
    * task trees/index dirs with noise files and can throw on
    * read-while-write (the status tailer); these are driver-side
    * METADATA writes where the raw store's own integrity is the
    * contract (HDFS checksums server-side; object stores have ETags).
    * Non-checksummed filesystems pass through untouched. */
  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(hadoopConf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fsOf(p).exists(p)
  }

  /** File contents as UTF-8, None when absent. */
  def readString(path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Write `body` to a same-directory temp file, then swap it live —
    * the single-pointer-write publication shape, per scheme as the
    * atomicity contract above states. On raw local disk the swap is a
    * plain `rename` (`rename(2)`); the temp file is written through the
    * raw filesystem, so it has no `.crc` sibling to carry along. */
  def writeStringAtomic(path: String, body: String): Unit = {
    val p = new Path(path)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    val fs = fsOf(p)
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs match {
      case local: RawLocalFileSystem => localRename(local, tmp, p)
      case _ => renameOverwrite(tmp.toString, path)
    }
  }

  /** Rename `src` over `dst`, replacing it. The one overwrite-rename of
    * the codebase (index file moves, tombstone request dirs, container
    * generation publishes); per scheme:
    *  - raw local disk (`file:`, checksumming unwrapped): a plain
    *    `rename`, i.e. POSIX `rename(2)`, which atomically replaces an
    *    existing file. A file written through the checksumming local
    *    filesystem (a Spark part file) has a `.crc` sibling: it moves
    *    with the file, and a target's stale `.crc` is deleted when the
    *    source has none, so a moved file always reads back with
    *    checksum verification. A directory moves only onto an absent
    *    name;
    *  - HDFS and any scheme with an AbstractFileSystem binding:
    *    `FileContext.rename(OVERWRITE)`, atomic on HDFS;
    *  - other stores (s3a et al. ship no binding): delete, then rename —
    *    a brief window where `dst` is absent, never a partial file. */
  def renameOverwrite(src: String, dst: String): Unit = {
    val s = new Path(src)
    val d = new Path(dst)
    fsOf(d) match {
      case local: RawLocalFileSystem =>
        localRename(local, s, d)
        val (sCrc, dCrc) = (crcOf(s), crcOf(d))
        if (local.exists(sCrc)) localRename(local, sCrc, dCrc)
        else local.delete(dCrc, false)
      case fs =>
        try {
          val fc = FileContext.getFileContext(fs.getUri, hadoopConf)
          fc.rename(fs.makeQualified(s), fs.makeQualified(d),
            Options.Rename.OVERWRITE)
        } catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            fs.delete(d, false)
            if (!fs.rename(s, d))
              throw new java.io.IOException(s"rename $src -> $dst failed")
        }
    }
  }

  private def localRename(local: RawLocalFileSystem, s: Path, d: Path): Unit =
    if (!local.rename(s, d))
      throw new java.io.IOException(s"rename $s -> $d failed")

  /** The checksumming local filesystem's sibling name for `p`'s `.crc`. */
  private def crcOf(p: Path): Path = new Path(p.getParent, s".${p.getName}.crc")

  /** Child entry NAMES of `dir` (files and subdirs), empty when absent. */
  def listNames(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsOf(p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  /** Child DIRECTORY names of `dir`, empty when absent — the field-store
    * listing shape (a parquet field dataset is a directory; stray files
    * like _SUCCESS markers must not read as fields). */
  def listDirNames(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fsOf(p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  def isDirectory(path: String): Boolean = {
    val p = new Path(path)
    val fs = fsOf(p)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  /** Every file named `name` under `root`, recursively, path-sorted —
    * the task-tree discovery walk. A directory that holds `name` is a
    * task dir, and its child `reserved` (the task's field store,
    * `Task.dataPath`) is never walked: under a task dir, that name
    * belongs to the store, so the walk lists directories the user made,
    * never the store's field / version / input-id tree. One listing per
    * directory; a child that vanishes between its parent's listing and
    * its own counts as empty. */
  def findFilesNamed(root: String, name: String, reserved: String): Seq[Path] = {
    val r = new Path(root)
    val fs = fsOf(r)
    def walk(d: Path): Seq[Path] = {
      val (dirs, files) =
        try fs.listStatus(d).toSeq.partition(_.isDirectory)
        catch { case _: java.io.FileNotFoundException => (Nil, Nil) }
      val found = files.map(_.getPath).filter(_.getName == name)
      val sub = if (found.isEmpty) dirs else dirs.filterNot(_.getPath.getName == reserved)
      found ++ sub.flatMap(st => walk(st.getPath))
    }
    walk(r).sortBy(_.toString)
  }

  // ---- path algebra for the orchestration tier ----------------------
  //
  // Task trees address their artifacts by Hadoop Path so the SAME tree
  // layout works on local disk, HDFS, or an object store. The canonical
  // form deliberately PRESERVES the caller's scheme spelling (never
  // auto-qualifies against fs.defaultFS): printed task paths match what
  // the operator typed, and golden transcripts stay byte-stable. The
  // flip side is documented: one tree must be addressed in ONE spelling
  // per session — "/x" and "file:/x" name two distinct Task objects,
  // exactly like two symlinked spellings under java.nio did.

  /** Canonical task path: absolute (a scheme-less relative path resolves
    * against the process working directory), `.`/`..` segments removed,
    * scheme/authority preserved verbatim. */
  def canon(p: Path): Path = {
    val u = p.toUri
    val abs =
      if (u.getScheme != null || p.isAbsolute) p
      else new Path(new Path(System.getProperty("user.dir")), p)
    val au = abs.toUri
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    au.getPath.split("/").foreach {
      case "" | "." => ()
      case ".." => if (out.nonEmpty) out.remove(out.length - 1)
      case s => out += s
    }
    val prefix = Option(au.getScheme).map(_ + ":").getOrElse("") +
      Option(au.getAuthority).map("//" + _).getOrElse("")
    new Path(prefix + "/" + out.mkString("/"))
  }

  def canon(s: String): Path = canon(new Path(s))

  /** Resolve `child` against `base`: absolute or scheme-qualified child
    * stands alone; a relative child joins under `base`. */
  def resolve(base: Path, child: String): Path = {
    val c = new Path(child)
    if (c.toUri.getScheme != null || c.isAbsolute) canon(c)
    else canon(new Path(base, child))
  }

  /** `p` rendered relative to `root` ("" when equal); `p` must be equal
    * to or under `root` (both canonical). */
  def relativize(root: Path, p: Path): String = {
    val r = root.toString
    val s = p.toString
    if (s == r) ""
    else if (s.startsWith(r + "/")) s.substring(r.length + 1)
    else throw new IllegalArgumentException(s"$p is not under $root")
  }

  /** True when `p` equals `root` or sits under it (both canonical). */
  def isUnder(root: Path, p: Path): Boolean =
    p.toString == root.toString || p.toString.startsWith(root.toString + "/")

  /** `p` fully qualified against its filesystem (scheme + authority
    * added) — the spelling listStatus results carry. */
  def qualified(p: Path): Path = fsOf(p).makeQualified(p)

  /** Re-spell `p` (a listing result, fs-qualified) as a child of `root`
    * (the CALLER's spelling): discovery must hand back paths that
    * compare equal to what the caller would construct, or scheme-less
    * and scheme-qualified addressing of the same tree would mix. */
  def rebase(root: Path, p: Path): Path = {
    val q = qualified(root).toString
    val s = p.toString
    if (s == q || s == root.toString) root
    else if (s.startsWith(q + "/")) new Path(root, s.substring(q.length + 1))
    else if (s.startsWith(root.toString + "/")) p
    else throw new IllegalArgumentException(s"$p is not under $root")
  }

  // ---- status-log streaming ------------------------------------------

  /** An open, flushed-per-write append sink (the status log's shape:
    * one long-lived stream, hflush after every event so tailing readers
    * see complete lines promptly — per-event open/append round-trips
    * would be 2 metadata RPCs per event on a remote store, and plain
    * append() is unsupported on LocalFileSystem and S3A anyway). */
  final class AppendSink private[SidecarFs] (path: Path) {
    private val out = {
      val fs = fsOf(path)
      Option(path.getParent).foreach(fs.mkdirs)
      fs.create(path, true)
    }
    def append(line: String): Unit = {
      out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.hflush()
    }
    def close(): Unit = out.close()
  }

  def createAppendSink(path: String): AppendSink =
    new AppendSink(new Path(path))

  /** Current byte length of `path`, -1 when absent (tailer polling). */
  def length(path: String): Long = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (!fs.exists(p)) -1L else fs.getFileStatus(p).getLen
  }

  /** Bytes of `path` from `offset` (exclusive of anything written after
    * the corresponding [[length]] call) — the tailer's incremental read. */
  def readBytesFrom(path: String, offset: Long, len: Long): Array[Byte] = {
    val p = new Path(path)
    val in = fsOf(p).open(p)
    try {
      in.seek(offset)
      val buf = new Array[Byte](len.toInt)
      var done = 0
      while (done < buf.length) {
        val n = in.read(buf, done, buf.length - done)
        if (n < 0) return buf.take(done)
        done += n
      }
      buf
    } finally in.close()
  }

  def mkdirs(dir: String): Unit = {
    val p = new Path(dir)
    fsOf(p).mkdirs(p)
  }

  /** Delete a single file if present (false when absent). */
  def deleteFile(path: String): Boolean = {
    val p = new Path(path)
    fsOf(p).delete(p, false)
  }

  /** Recursive delete; missing paths are a no-op. */
  def deleteTree(path: String): Unit = {
    val p = new Path(path)
    fsOf(p).delete(p, true)
  }
}
