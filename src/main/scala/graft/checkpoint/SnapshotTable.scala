package graft.checkpoint

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A minimal, from-scratch SNAPSHOT TABLE FORMAT — the Iceberg metadata
  * pattern (immutable data files + a versioned metadata pointer advanced by
  * an atomic compare-and-swap) implemented over any HDFS-compatible
  * filesystem with zero dependencies beyond Spark's own jars. This is the
  * storage layer under the pipeline's sinks and registry (the reference's
  * registrar/statestore role, filebeat/registrar/registrar.go:139-214 and
  * filebeat/input/filestream/internal/input-logfile/store.go:37-300, redone
  * as a table format rather than a mutable key-value store).
  *
  * Layout:
  * {{{
  *   <root>/data/f-<run>-<uuid>-<i>.parquet   immutable data files
  *   <root>/metadata/v<NNNNNN>.json           one complete metadata doc per
  *                                            version; the LARGEST version
  *                                            is the table state
  * }}}
  *
  * A version doc holds the table's whole snapshot history — per snapshot its
  * id, run, operation, optional txn key and the data files it `added` — plus
  * the txn-key map. The history is the ONLY record of data files: the live
  * file list is derived from it (an append adds its files, a merge replaces
  * the list with its own), so each data file is written once per doc.
  *
  * Commit protocol (optimistic concurrency, Iceberg-style):
  *   1. the writer stages parquet files and MOVES them under data/ with
  *      run-unique names — unreferenced files are invisible to every reader,
  *      so this step needs no coordination;
  *   2. it reads the current metadata version N and writes a candidate
  *      v(N+1).json to a temp name;
  *   3. an atomic create-if-absent publish of v(N+1).json is the commit
  *      point — rename-without-replace on HDFS-like filesystems, link(2) on
  *      `file:` URIs (POSIX rename REPLACES an existing destination; a hard
  *      link fails with EEXIST atomically) — so exactly one writer wins
  *      each version; a loser re-reads the new state, re-validates, and
  *      retries (bounded).
  *
  * Snapshot isolation: readers resolve the largest committed version and
  * read EXACTLY the files it lists — concurrent writers never perturb an
  * in-flight read, and a killed writer's staged files are garbage, not
  * corruption.
  *
  * Transactional idempotence: a commit may carry a `txn` key. The metadata
  * records every committed txn key; a commit whose key is already present
  * is rejected as `alreadyCommitted` (with the original snapshot id), which
  * is what makes job retries and multi-writer races effectively-once — the
  * same role as the reference's registrar ACK gate
  * (filebeat/beater/acker.go:37-68).
  *
  * Operations: `append` (adds files), `merge` (copy-on-write MERGE INTO —
  * latest rows win by key columns; the snapshot's file list REPLACES the
  * previous one). Every version's metadata is retained, so any historical
  * snapshot remains readable (time travel).
  *
  * Growth: every commit rewrites the whole doc, so a doc grows with the
  * commit count (one entry per snapshot and per data file it added) — the
  * history must stay, since [[readCommittedTxns]], txn idempotence and time
  * travel read it. At sink commit-log rates that is KBs/day;
  * [[expireSnapshots]] bounds the number of docs kept, not their size.
  */
final class SnapshotTable(val root: String, spark: SparkSession,
                          val runId: String = Registry.newRunId()) {

  import SnapshotTable._

  private val fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val metaDir = new Path(root, "metadata")
  private val dataDir = new Path(root, "data")

  // ------------------------------------------------------------- metadata

  /** current committed state; version 0 = the empty table. */
  def state(): TableState =
    liveVersions().lastOption.fold(TableState.Empty)(readState)

  private def readState(v: Long): TableState =
    parseMeta(readBytes(fs, versionPath(v)))

  private def versionPath(v: Long): Path = new Path(metaDir, f"v$v%06d.json")

  /** CAS: write candidate metadata for version prev+1; true iff this writer
    * won the publish race. The atomic claim primitive is scheme-dependent:
    * HDFS-like filesystems reject a rename onto an existing destination at
    * the namenode, but POSIX rename(2) — what Hadoop's LocalFileSystem
    * ultimately calls — silently REPLACES it, which would let two racing
    * writers both "win" and lose one commit. On `file:` URIs we therefore
    * publish with link(2) (hard link), which fails with EEXIST atomically
    * at the syscall level. */
  private def casCommit(prev: TableState, doc: ObjectNode): Boolean = {
    fs.mkdirs(metaDir)
    val tmp = new Path(metaDir, s".tmp-$runId-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(Mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(doc))
    finally out.close()
    publishAtomic(fs, tmp, versionPath(prev.version + 1))
  }

  private def buildMeta(prev: TableState, snap: SnapshotInfo): ObjectNode = {
    val doc = Mapper.createObjectNode()
    doc.put("format", "graft-snapshot-v1")
    doc.put("version", prev.version + 1)
    doc.put("snapshot_id", snap.id)
    prev.snapshotId.foreach(doc.put("parent_snapshot_id", _))
    val tk = doc.putObject("txn_keys")
    (prev.txnKeys ++ snap.txn.map(_ -> snap.id)).foreach { case (k, v) => tk.put(k, v) }
    val sArr = doc.putArray("snapshots")
    (prev.snapshots :+ snap).foreach { s =>
      val o = sArr.addObject()
      o.put("id", s.id); o.put("run", s.run); o.put("operation", s.operation)
      s.txn.foreach(o.put("txn", _))
      val a = o.putArray("added")
      s.added.foreach { f =>
        val fo = a.addObject(); fo.put("path", f.path); fo.put("size", f.size)
      }
    }
    doc
  }

  // ------------------------------------------------------------- reading

  private def absolute(files: Seq[FileEntry]): Seq[String] =
    files.map(f => new Path(root, f.path).toString)

  /** snapshot-isolated read of the current table state. None when empty. */
  def read(): Option[DataFrame] = {
    val st = state()
    if (st.files.isEmpty) None else Some(spark.read.parquet(absolute(st.files): _*))
  }

  /** read ONLY the files added by snapshots whose txn key passes `admit`
    * (plus untagged snapshots) — the cross-table read-committed view: a sink
    * table exposes a group's rows only once the pipeline-level commit log
    * admits that group, even though the sink's own append landed earlier. */
  def readCommittedTxns(admit: String => Boolean): Option[DataFrame] = {
    val st = state()
    val files = st.snapshots
      .filter(s => s.operation == "append" && s.txn.forall(admit))
      .flatMap(_.added)
    if (files.isEmpty) None else Some(spark.read.parquet(absolute(files): _*))
  }

  def snapshotForTxn(txn: String): Option[SnapshotInfo] =
    state().snapshots.find(_.txn.contains(txn))

  // --------------------------------------------------------- time travel

  /** all metadata versions still on disk, ascending (1 = first commit).
    * Retention is [[expireSnapshots]]' `keepVersions` — expired versions
    * are no longer time-travelable, exactly like Iceberg's
    * `expire_snapshots`. */
  def liveVersions(): Seq[Long] =
    if (!fs.exists(metaDir)) Seq.empty
    else fs.listStatus(metaDir).flatMap(f => versionOf(f.getPath.getName))
      .sorted.toSeq

  /** committed state AT `version`; None once expired (or never committed). */
  def stateAt(version: Long): Option[TableState] = {
    val p = versionPath(version)
    if (version < 1 || !fs.exists(p)) None else Some(readState(version))
  }

  /** time-travel read: the table exactly as of `version`. None when the
    * version is expired/unknown or held no files. Every commit (append,
    * merge, staged fan-out) is one version, so this is also
    * read-as-of-snapshot — resolve ids via [[readSnapshot]]. */
  def readVersion(version: Long): Option[DataFrame] =
    stateAt(version).filter(_.files.nonEmpty)
      .map(st => spark.read.parquet(absolute(st.files): _*))

  /** read the table as of the commit that produced `snapshotId` (the id
    * recorded in sink lineage rows and [[CommitResult]]s). */
  def readSnapshot(snapshotId: String): Option[DataFrame] =
    liveVersions().reverse
      .find(v => stateAt(v).exists(_.snapshotId.contains(snapshotId)))
      .flatMap(readVersion)

  // ------------------------------------------------------------- writing

  /** move externally staged parquet files (e.g. one sink's slice of a
    * dynamic-partitioned write) into the table and commit them as one
    * append snapshot. Files become visible atomically at the CAS. The
    * txn pre-check runs BEFORE the move, so a resumed group's re-commit
    * never churns files through data/ (and cannot strand them if the
    * process dies before the already-committed branch cleans up). */
  def commitStagedDir(stagedDir: String, txn: Option[String]): CommitResult = {
    state() match {
      case st if txn.exists(st.txnKeys.contains) =>
        return alreadyCommittedResult(st, txn.get)
      case _ =>
    }
    val staged = listParquet(fs, new Path(stagedDir))
    commitMoved(moveIn(staged), txn)
  }

  /** append a DataFrame as one snapshot (stages through a temp dir). */
  def append(df: DataFrame, txn: Option[String]): CommitResult = {
    state() match { // cheap pre-check: skip the Spark write when a retry
      case st if txn.exists(st.txnKeys.contains) => // already committed
        return alreadyCommittedResult(st, txn.get)
      case _ =>
    }
    val tmp = new Path(root, s"_tmp-append-$runId-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(tmp.toString)
    val res = commitMoved(moveIn(listParquet(fs, tmp)), txn)
    fs.delete(tmp, true)
    res
  }

  /** MERGE INTO (copy-on-write): rows of `df` replace current rows with the
    * same `keys` values; everything else survives. The committed snapshot's
    * file list REPLACES the table contents. Retries recompute the merge
    * against the fresh state, so concurrent mergers serialize correctly. */
  def merge(df: DataFrame, keys: Seq[String], txn: Option[String]): CommitResult = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      val st = state()
      txn.filter(st.txnKeys.contains).foreach { t =>
        return alreadyCommittedResult(st, t)
      }
      val merged = if (st.files.isEmpty) df else {
        val cur = spark.read.parquet(absolute(st.files): _*)
        df.unionByName(
          cur.join(df.select(keys.map(org.apache.spark.sql.functions.col): _*)
            .distinct(), keys, "left_anti"))
      }
      val tmp = new Path(root, s"_tmp-merge-$runId-$attempt-${java.util.UUID.randomUUID()}")
      merged.write.mode("overwrite").parquet(tmp.toString)
      val moved = moveIn(listParquet(fs, tmp))
      fs.delete(tmp, true)
      val snap = SnapshotInfo(newSnapId(st), runId, txn, "merge", moved)
      if (casCommit(st, buildMeta(st, snap)))
        return CommitResult(snap.id, alreadyCommitted = false,
          moved.map(_.size).sum, moved.size)
      moved.foreach(f => fs.delete(new Path(root, f.path), false)) // lost: retry
      attempt += 1
    }
    throw new java.io.IOException(
      s"merge into $root failed after $MaxCommitAttempts CAS attempts — " +
        "the metadata pointer is not advancing (filesystem fault?)")
  }

  /** Maintenance: expire old table versions — the Iceberg expire_snapshots
    * analogue. Keeps the newest `keepVersions` metadata docs and deletes
    * (a) older metadata files and (b) every data file referenced ONLY by
    * expired versions (a merge's copy-on-write rewrite strands its
    * predecessors' files — this is what reclaims them). Returns the number
    * of data files deleted. Run as a maintenance job, never concurrently
    * with readers that may still be resolving an expired version. Live
    * writers are protected by `orphanGraceMs` alone: their commits CAS
    * against the newest version, but their not-yet-committed files (moved
    * into data/, staged under `_tmp-*`, or a candidate doc) look exactly
    * like crash debris until they are older than the grace. Note
    * [[readCommittedTxns]] is an append-only-table view: on such tables
    * every snapshot's added files are still in the current file list, so
    * expiry never deletes files that view can reach. */
  def expireSnapshots(keepVersions: Int = 1,
                      orphanGraceMs: Long = 3600000L): Int = {
    require(keepVersions >= 1, "must keep at least the current version")
    if (!fs.exists(metaDir)) return 0
    val versions = liveVersions()
    val (drop, keep) = versions.splitAt(math.max(0, versions.length - keepVersions))
    val retained: Set[String] = keep.flatMap(readState(_).files.map(_.path)).toSet
    var deleted = 0
    drop.foreach { v =>
      readState(v).files.foreach { f =>
        if (!retained.contains(f.path) &&
            fs.delete(new Path(root, f.path), false)) deleted += 1
      }
      fs.delete(versionPath(v), false)
    }
    // ORPHANS: data files referenced by NO retained version — crash debris
    // from a writer that died between moving files in and its CAS commit.
    // The age grace protects a LIVE concurrent writer's just-moved,
    // not-yet-committed files (Iceberg's remove_orphan_files guards the
    // same way); pass 0 only when no writers are running.
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir).foreach { f =>
        val rel = s"data/${f.getPath.getName}"
        if (!f.getPath.getName.startsWith(".") && !retained.contains(rel) &&
            f.getModificationTime < cutoff &&
            fs.delete(f.getPath, false)) deleted += 1
      }
    }
    // METADATA DEBRIS: every aged entry of metadata/ that is not a version
    // doc — a writer that died between creating its candidate doc (.tmp-*)
    // and publishAtomic, and side files an older format version kept there
    // (no version doc refers to them any more).
    fs.listStatus(metaDir).foreach { f =>
      if (versionOf(f.getPath.getName).isEmpty && f.getModificationTime < cutoff)
        fs.delete(f.getPath, false)
    }
    // STAGING DEBRIS: an append/merge that died before its staging directory
    // (_tmp-append-*/_tmp-merge-*) was consumed. Spark writes INTO
    // subdirectories, which leaves the staging directory's own mtime at its
    // creation time, so the grace is judged on the newest mtime anywhere in
    // the tree — a live write that stages for longer than the grace keeps
    // touching it. Without this pass a crashed writer's staged parquet
    // (potentially the size of a whole commit) accumulates forever.
    fs.listStatus(new Path(root)).foreach { f =>
      if (f.getPath.getName.startsWith("_tmp-") && newestMtime(f) < cutoff)
        fs.delete(f.getPath, true)
    }
    deleted
  }

  /** newest modification time in `f`'s tree; Long.MaxValue (never aged)
    * when part of it vanishes mid-walk — its writer is alive and cleaning. */
  private def newestMtime(f: FileStatus): Long =
    try {
      if (!f.isDirectory) f.getModificationTime
      else fs.listStatus(f.getPath)
        .foldLeft(f.getModificationTime)((m, c) => math.max(m, newestMtime(c)))
    } catch { case _: java.io.FileNotFoundException => Long.MaxValue }

  // ------------------------------------------------------------- internals

  private def newSnapId(st: TableState): String =
    s"s-$runId-${st.version + 1}"

  private def alreadyCommittedResult(st: TableState, txn: String): CommitResult = {
    val snap = st.snapshots.find(_.txn.contains(txn)).get
    CommitResult(snap.id, alreadyCommitted = true,
      snap.added.map(_.size).sum, snap.added.size)
  }

  /** move staged files under data/ with run-unique names; returns entries
    * RELATIVE to the table root (invisible until some commit lists them). */
  private def moveIn(staged: Seq[(Path, Long)]): Seq[FileEntry] = {
    fs.mkdirs(dataDir)
    staged.zipWithIndex.map { case ((p, size), i) =>
      val name = s"f-$runId-${java.util.UUID.randomUUID().toString.take(8)}-$i.parquet"
      val dst = new Path(dataDir, name)
      if (!fs.rename(p, dst))
        throw new java.io.IOException(s"failed to move $p into $dst")
      FileEntry(s"data/$name", size)
    }
  }

  /** append pre-moved files with txn idempotence via the CAS loop. */
  private def commitMoved(moved: Seq[FileEntry], txn: Option[String]): CommitResult = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val st = state()
      txn.filter(st.txnKeys.contains).foreach { t =>
        // another writer (or a previous run of this job) already committed
        // this transaction: our files are redundant — remove and defer
        moved.foreach(f => fs.delete(new Path(root, f.path), false))
        return alreadyCommittedResult(st, t)
      }
      val snap = SnapshotInfo(newSnapId(st), runId, txn, "append", moved)
      if (casCommit(st, buildMeta(st, snap)))
        return CommitResult(snap.id, alreadyCommitted = false,
          moved.map(_.size).sum, moved.size)
    }
    throw new java.io.IOException(
      s"append into $root failed after $MaxCommitAttempts CAS attempts — " +
        "the metadata pointer is not advancing (filesystem fault?)")
  }
}

object SnapshotTable {

  /** CAS retry bound: a lost race always advances the observed version, so
    * a writer that exhausts this many attempts is fighting a filesystem
    * fault (rename/link returning false without progress), not contention —
    * fail loudly instead of spinning rewrite jobs forever. */
  private val MaxCommitAttempts = 50

  /** the commit point's atomic claim primitive, publish-once semantics
    * ACROSS PROCESSES: exactly one caller of all concurrent callers (same
    * JVM or not) gets `true` per target; `tmp` is consumed either way.
    * On `file:` URIs this is link(2) — hard-link creation fails with
    * EEXIST atomically at the syscall level, where POSIX rename(2) (what
    * Hadoop's LocalFileSystem rename ultimately calls) silently REPLACES
    * an existing destination and would let two racing writers both "win"
    * and silently lose one commit. On HDFS-like schemes rename-without-
    * replace is atomic at the namenode. Exercised cross-process by
    * CasRaceSpec (two JVMs racing one version). */
  private[graft] def publishAtomic(fs: FileSystem, tmp: Path, target: Path): Boolean = {
    if (fs.getScheme == "file") {
      val won =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      fs.delete(tmp, false)
      won
    } else if (fs.rename(tmp, target)) true
    else { fs.delete(tmp, false); false }
  }

  /** the version a metadata file name holds (`v<N>.json`), if it is a doc. */
  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".json"))
      name.substring(1, name.length - 5).toLongOption
    else None

  final case class FileEntry(path: String, size: Long)

  final case class SnapshotInfo(id: String, run: String, txn: Option[String],
                                operation: String, added: Seq[FileEntry])

  /** one committed version; `files` is the live file list, derived from
    * `snapshots` (see [[parseMeta]]). */
  final case class TableState(version: Long, snapshotId: Option[String],
                              files: Seq[FileEntry],
                              txnKeys: Map[String, String],
                              snapshots: Seq[SnapshotInfo])
  object TableState {
    val Empty: TableState = TableState(0L, None, Seq.empty, Map.empty, Seq.empty)
  }

  final case class CommitResult(snapshotId: String, alreadyCommitted: Boolean,
                                addedBytes: Long, addedFiles: Int)

  private val Mapper = new ObjectMapper()

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  /** parse a version doc. The live file list is the fold of the history:
    * an append adds its files, a merge replaces the list with its own. Keys
    * this parser does not use (e.g. a `files` list an older writer stored
    * next to the history) are ignored. */
  private def parseMeta(bytes: Array[Byte]): TableState = {
    val doc = Mapper.readTree(bytes)
    def fileEntries(n: com.fasterxml.jackson.databind.JsonNode): Seq[FileEntry] = {
      val it = n.elements()
      val buf = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
      while (it.hasNext) {
        val f = it.next()
        buf += FileEntry(f.get("path").asText(), f.get("size").asLong())
      }
      buf.toSeq
    }
    val txn = {
      val it = doc.get("txn_keys").properties().iterator()
      val m = scala.collection.mutable.Map.empty[String, String]
      while (it.hasNext) { val e = it.next(); m += e.getKey -> e.getValue.asText() }
      m.toMap
    }
    val snaps = {
      val it = doc.get("snapshots").elements()
      val buf = scala.collection.mutable.ArrayBuffer.empty[SnapshotInfo]
      while (it.hasNext) {
        val s = it.next()
        buf += SnapshotInfo(
          s.get("id").asText(), s.get("run").asText(),
          Option(s.get("txn")).map(_.asText()),
          s.get("operation").asText(),
          fileEntries(s.get("added")))
      }
      buf.toSeq
    }
    val files = snaps.foldLeft(Vector.empty[FileEntry]) { (acc, s) =>
      if (s.operation == "merge") s.added.toVector else acc ++ s.added
    }
    TableState(doc.get("version").asLong(),
      Option(doc.get("snapshot_id")).map(_.asText()), files, txn, snaps)
  }

  private def listParquet(fs: FileSystem, dir: Path): Seq[(Path, Long)] = {
    if (!fs.exists(dir)) return Seq.empty
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet"))
        buf += ((f.getPath, f.getLen))
    }
    buf.toSeq
  }
}
