package graft.sources

/** The one manifest commit protocol of every persisted ledger here
  * ([[DedupLedger]], [[MinhashLedger]], [[NgramLedger]],
  * [[SketchLedger]], [[MomentLedger]], [[IndexLedger]] and the
  * composed [[CorpusIncrement]] root). A ledger's state is data dirs
  * under `statePath` plus:
  * {{{
  *   CURRENT          text manifest: the version, an optional
  *                    `lastBatch=<id>` line, then one line per
  *                    committed part (ledgers may add marker lines,
  *                    e.g. IndexLedger's `cv=`/`dist=`)
  *   manifests/v_<N>  the immutable snapshot of every committed version
  *                    — the as-of (time-travel) surface
  * }}}
  *
  * Crash safety follows the [[Incremental]] ledger discipline: data
  * first, manifest last. A crash between a part write and the manifest
  * rename leaves an orphan part dir that reads ignore (only manifest-
  * listed parts are read), and re-running the same call is idempotent
  * — the manifest never advanced, so the replay sees the identical
  * prior state and derives the identical data. [[writeManifest]] is
  * the single commit point of every ledger. */
object Ledger {

  /** `lastBatchId` records the streaming micro-batch whose absorb this
    * manifest version committed (the [[admit]] exactly-once marker);
    * None for batch-mode absorbs. */
  final case class Manifest(
      version: Long, keyParts: Seq[String],
      lastBatchId: Option[Long] = None)

  private def currentFile(statePath: String) =
    new java.io.File(statePath, "CURRENT")

  private val BatchMarker = "lastBatch="

  private def snapshotFile(statePath: String, version: Long) =
    new java.io.File(new java.io.File(statePath, "manifests"),
      f"v_$version%08d")

  private def parseManifest(f: java.io.File): Manifest = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try {
      val lines = src.getLines().filter(_.nonEmpty).toList
      val (markers, parts) = lines.tail.partition(_.startsWith(BatchMarker))
      Manifest(lines.head.toLong, parts,
        markers.headOption.map(_.stripPrefix(BatchMarker).toLong))
    } finally src.close()
  }

  def readManifest(statePath: String): Option[Manifest] = {
    val f = currentFile(statePath)
    if (!f.exists()) None else Some(parseManifest(f))
  }

  /** The committed manifest (CURRENT); refuses a path with no ledger. */
  private[sources] def current(statePath: String): Manifest =
    readManifest(statePath).getOrElse(throw new IllegalStateException(
      s"no ledger at $statePath — call init first"))

  /** `init`'s guard: a ledger is built once and never overwritten. */
  private[sources] def requireFresh(statePath: String): Unit =
    require(readManifest(statePath).isEmpty,
      s"ledger already initialized at $statePath")

  /** The manifest as committed at `version` — the TIME-TRAVEL surface
    * every ledger inherits. Snapshots are written by every
    * [[writeManifest]] commit; an as-of read resolves the snapshot and
    * unions exactly the parts committed then (superseded parts are
    * never deleted by absorb/compact, so they remain readable until an
    * explicit vacuum ([[vacuumState]]) ages them out).
    * Refuses versions the state cannot honestly serve:
    *  - beyond CURRENT (an orphan snapshot from a crashed commit is
    *    not committed state);
    *  - before the latest purge (purge truncates older snapshots —
    *    resurrecting purged fingerprints via time travel would defeat
    *    erasure; this is the explicit refusal, not a silent miss);
    *  - before this as-of facility existed for the ledger (no
    *    snapshot on disk). */
  private[sources] def readManifestAt(
      statePath: String, version: Long): Manifest = {
    val cur = current(statePath)
    require(version <= cur.version,
      s"as-of version $version is beyond the committed ${cur.version} " +
        s"at $statePath")
    if (version == cur.version) cur
    else {
      val f = snapshotFile(statePath, version)
      require(f.exists(),
        s"no manifest snapshot for version $version at $statePath — " +
          "either the version predates a purge (older snapshots are " +
          "truncated so erased fingerprints cannot resurface) or it " +
          "predates versioned-manifest support for this ledger")
      parseManifest(f)
    }
  }

  /** The manifest in force for a read: CURRENT for a negative
    * `asOfVersion` (every ledger read's default), else the as-of one. */
  private[sources] def at(statePath: String, asOfVersion: Long): Manifest =
    if (asOfVersion < 0) current(statePath)
    else readManifestAt(statePath, asOfVersion)

  /** Drop manifest snapshots older than `before` — the purge commit's
    * history truncation (erasure must close the time-travel door too).
    * The physical bytes of superseded part dirs remain on disk
    * (crash-safety orphans); full physical erasure additionally
    * requires removing those, which is a filesystem GC concern outside
    * the manifest contract. */
  private[sources] def truncateSnapshots(
      statePath: String, before: Long): Unit = {
    val dir = new java.io.File(statePath, "manifests")
    if (dir.exists()) dir.listFiles().foreach { f =>
      if (f.getName.startsWith("v_") &&
        f.getName.stripPrefix("v_").toLong < before) f.delete()
    }
  }

  /** Data is already durable when this runs; the rename is the commit
    * point (same tmp+rename the [[Incremental]] ledger uses). Also
    * records an immutable per-version snapshot under `manifests/`
    * BEFORE the CURRENT rename (an orphan snapshot from a crash here
    * is overwritten by the idempotent replay, and as-of reads refuse
    * versions beyond CURRENT). */
  private[sources] def writeManifest(statePath: String, m: Manifest): Unit = {
    val dir = new java.io.File(statePath)
    dir.mkdirs()
    def writeTo(f: java.io.File): Unit = {
      val w = new java.io.PrintWriter(f, "UTF-8")
      try {
        w.println(m.version)
        m.lastBatchId.foreach(id => w.println(s"$BatchMarker$id"))
        m.keyParts.foreach(w.println)
      } finally w.close()
    }
    val snap = snapshotFile(statePath, m.version)
    snap.getParentFile.mkdirs()
    writeTo(snap)
    val tmp = new java.io.File(dir, ".current_tmp")
    writeTo(tmp)
    if (currentFile(statePath).exists()) currentFile(statePath).delete()
    require(tmp.renameTo(currentFile(statePath)),
      s"CURRENT rename failed under $statePath")
  }

  private[sources] def partName(version: Long) = f"part_$version%08d"

  /** The exactly-once guard of every `foreachBatch` sink (and of
    * [[CorpusIncrement.increment]]), despite foreachBatch's
    * at-least-once replay. Returns the manifest micro-batch `batchId`
    * absorbs against, or None when CURRENT already committed it.
    *
    *  1. the sink's output lands FIRST, in a per-batch dir written with
    *     mode=overwrite, so a replay of a half-done batch (state not yet
    *     committed → it re-derives the identical output) redoes the
    *     same deterministic dir;
    *  2. the state commit records the batchId in the manifest LAST — a
    *     replay of a FULLY-committed batch (crash after commit, before
    *     the stream checkpoint advanced) sees its own id and becomes a
    *     no-op (None here), instead of re-absorbing against the
    *     advanced ledger (which would derive an EMPTY output and clobber
    *     the batch's real one).
    *
    * Checkpoint/state drift guard: valid ids are last (replay) or
    * last+1 (progress). Anything else means the stream checkpoint and
    * the ledger diverged — most commonly a FRESH checkpoint over
    * existing state, whose replayed early batches would re-absorb
    * against the advanced ledger and overwrite the real per-batch
    * output dirs. That fails loudly, named by `what`. One stream per
    * ledger (single-writer, as everywhere here). */
  private[sources] def admit(
      statePath: String, batchId: Long,
      what: String = "stream/ledger"): Option[Manifest] = {
    val m = current(statePath)
    m.lastBatchId.foreach { last =>
      require(batchId == last || batchId == last + 1,
        s"$what mismatch at $statePath: committed micro-batch $last " +
          s"but $batchId was delivered; ids are consecutive and " +
          "single-writer — the checkpoint, the ledger state, and the " +
          "output dir form one unit, so restarting a stream with a " +
          "fresh checkpoint over existing state is not recoverable here")
    }
    if (m.lastBatchId.contains(batchId)) None else Some(m)
  }

  /** The one maintenance commit of every `compact` and row-level
    * `purge`: `write(next)` writes the replacement part(s) for version
    * `next = m.version + 1`, then a manifest whose part lines are the
    * one `partName(next)` commits it. Every other line — the
    * `lastBatch=` marker and ledger marker lines such as IndexLedger's
    * `cv=`/`dist=` — is carried forward unchanged: maintenance rewrites
    * parts, never the stream position, so a replay of the committed
    * micro-batch stays a no-op after it. With `erase` (purge), the
    * snapshots before `next` are truncated so as-of reads cannot
    * resurface erased rows. Superseded parts stay on disk for as-of
    * reads until a vacuum. */
  private[sources] def maintain(
      statePath: String, m: Manifest, erase: Boolean)(
      write: Long => Unit): Unit = {
    val next = m.version + 1
    write(next)
    val markers = m.keyParts.filterNot(_.startsWith("part_"))
    writeManifest(statePath,
      m.copy(version = next, keyParts = partName(next) +: markers))
    if (erase) truncateSnapshots(statePath, next)
  }

  private[sources] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  // ---- age-based retention (vacuum) --------------------------------

  /** Generic ledger vacuum: reclaim state referenced ONLY by manifest
    * versions older than CURRENT − keepVersions, and truncate those
    * snapshots so the reclaimed versions are REFUSED (the purge
    * refusal semantics generalized to age) rather than half-served.
    * Without this, as-of support keeps every superseded part forever
    * and state dirs grow without bound at production cadence.
    *
    * Order of operations is the crash-safety argument:
    *  1. snapshot truncation FIRST — once a version's snapshot is
    *     gone, [[readManifestAt]] refuses it loudly, so no as-of read
    *     can observe a half-vacuumed version;
    *  2. then delete data dirs not referenced by ANY surviving
    *     version (CURRENT + snapshots above the horizon). A crash
    *     between 1 and 2 leaves unreferenced orphans — the same class
    *     absorb crashes leave — and re-running vacuum reclaims them.
    * CURRENT and every surviving as-of version are untouched (their
    * referenced dirs are the live set). Also reclaims commit orphans
    * (dirs written by a crashed absorb whose manifest never landed).
    *
    * `referenced` maps a manifest to the state-relative dirs it
    * needs; `dataRoots` are the dirs vacuum may sweep. Each ledger
    * wraps this with its own layout. Returns reclaimed dir count. */
  private[sources] def vacuumState(
      statePath: String,
      keepVersions: Int,
      referenced: Manifest => Seq[String],
      dataRoots: Seq[String]): Long = {
    require(keepVersions >= 1, "vacuum: keepVersions must be >= 1")
    val cur = current(statePath)
    val horizon = cur.version - keepVersions
    val snapsDir = new java.io.File(statePath, "manifests")
    val snapped: Seq[Manifest] =
      if (!snapsDir.exists()) Seq.empty
      else snapsDir.listFiles().toSeq
        .filter(_.getName.startsWith("v_"))
        .map(parseManifest)
        .filter(m => m.version > horizon && m.version <= cur.version)
    val live = (snapped :+ cur).flatMap(referenced).toSet
    if (horizon >= 1) truncateSnapshots(statePath, horizon + 1)
    var reclaimed = 0L
    for (root <- dataRoots) {
      val dir = new java.io.File(statePath, root)
      if (dir.exists()) Option(dir.listFiles()).foreach(_.foreach { d =>
        if (!live.contains(s"$root/${d.getName}")) {
          deleteRecursively(d); reclaimed += 1
        }
      })
    }
    reclaimed
  }
}
