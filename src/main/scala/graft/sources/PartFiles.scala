package graft.sources

import graft.core.SidecarFs

/** Driver-side overwrite discipline shared by the partition-local
  * container writers (Arrow / Avro / WebDataset / WARC). Each writer
  * task streams its file into a hidden STAGING GENERATION
  * (`<dir>/.gen/<name>`, via an attempt-suffixed temp + rename), so the
  * live directory's previous generation is untouched while the
  * distributed job runs: a job (or any task) that dies mid-write leaves
  * the complete old generation readable plus a staging dir the next
  * attempt clears — unpublished generations never reach readers. Only
  * after the job SUCCEEDS does the driver swap the generation in.
  *
  * The swap's exact atomicity contract (r14 ADVICE — stated precisely
  * rather than over-claimed):
  *
  *  - PER FILE the swap is an overwrite-rename
  *    ([[graft.core.SidecarFs.renameOverwrite]]: `rename(2)` on local
  *    disk, `FileContext.rename(OVERWRITE)` on HDFS) — a reader opening
  *    that name sees the old bytes or the new bytes, never a missing
  *    file and never a partial one. Object stores without an atomic
  *    rename get delete-then-rename: a brief missing-name window, never
  *    a partial file.
  *  - ACROSS files it is a driver loop (milliseconds, not job-sized),
  *    not a transaction. The `_GEN` marker bounds the damage: it is
  *    DELETED before the first rename and REWRITTEN (with the
  *    generation's file list) only after the last cleanup step, so a
  *    driver crash mid-publish leaves a dir whose mixed state is
  *    DETECTABLE (`_GEN` absent) and repairable by re-running the
  *    writer; and a reader that checks the marker can refuse a
  *    mid-swap dir. Readers of EXTERNALLY-produced dirs (no marker —
  *    plain parquet/arrow layouts) cannot require it, so the scans
  *    treat it as advisory.
  *  - CONCURRENT readers during a republish of the same directory may
  *    observe a cross-generation mix of files for the duration of the
  *    loop — the same single-maintenance-writer contract as the
  *    persisted indexes; workloads that need versioned isolation use
  *    the [[graft.core.Manifest]] pointer layout instead, at the
  *    cost of plain-directory interop (pyarrow/DuckDB read these dirs
  *    directly, which is the point of the container writers).
  */
private[sources] object PartFiles {

  /** Post-publish marker: present + listing the generation's files ⇒
    * the last publish completed; absent ⇒ never published, or a driver
    * died mid-swap. */
  private[sources] val MarkerName = "_GEN"

  /** The staging path for final name `name` under `dir`; clears any
    * previous crashed attempt's staging tree once per job (driver call,
    * before tasks launch). */
  def stagingDir(dir: String): String = s"$dir/.gen"

  def clearStaging(dir: String,
                   conf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = new org.apache.hadoop.fs.Path(stagingDir(dir))
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Publish a successful job's staged generation: atomically rename
    * each staged file over its final name, delete matching finals not
    * in this generation, drop the staging dir, write the `_GEN` marker.
    * `names` are the final file names the tasks REPORTED (the single
    * source of truth — re-deriving them driver-side from a duplicated
    * format string would delete the new generation on any drift between
    * the two sites). */
  def publishGeneration(dir: String, prefix: String, suffix: String,
                        names: Seq[String],
                        conf: org.apache.hadoop.conf.Configuration): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(conf)
    // entering the swap window: the marker goes first, so a crash
    // anywhere below leaves the window detectably open
    fs.delete(new org.apache.hadoop.fs.Path(dir, MarkerName), false)
    names.foreach { n =>
      SidecarFs.renameOverwrite(s"${stagingDir(dir)}/$n", s"$dir/$n")
    }
    val keep = names.toSet
    fs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.startsWith(prefix) && n.endsWith(suffix)
          && !keep(n))
        fs.delete(st.getPath, false)
    }
    clearStaging(dir, conf)
    // swap complete: write the marker through its own temp + atomic
    // overwrite-rename (never a partially-written marker)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$MarkerName.tmp")
    val out = fs.create(tmp, true)
    try out.write(names.sorted.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    SidecarFs.renameOverwrite(tmp.toString, s"$dir/$MarkerName")
  }
}
