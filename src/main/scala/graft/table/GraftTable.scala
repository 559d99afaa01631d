package graft.table

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, GraftFileIndex, GraftWriter, Materialized}
import org.apache.spark.sql.types.StructType

/** Partitioned-parquet table with a versioned commit log — the engine's
  * replacement for the reference's Delta Lake layer (SURVEY.md §7.3; the
  * environment ships no delta jar).
  *
  * Layout:
  * {{{
  *   <path>/<part>=.../part-*.parquet        data files (never mutated)
  *   <path>/_graft_log/v<N>.json             the record of commit N (the commit)
  *   <path>/_graft_log/v<N>.ckpt.parquet/    table-state checkpoint (periodic)
  *   <path>/_graft_log/index/<md5>.bloom     per-data-file bloom filters
  *   <path>/_graft_log/cdc/<id>/             change rows of an UPDATE/MERGE
  * }}}
  *
  * Every commit writes exactly one record, published put-if-absent through
  * the [[LogStore]]: JSON lines after Delta's protocol — `commitInfo`
  * (operation, timestamp, metrics, txn markers), then the files it `add`s
  * (path, size, stats) and `remove`s, the deletion vectors it replaces
  * (`dv`), and `metaData` (physical schema, column map, constraints,
  * generated columns, properties) only when the commit changed it. A
  * one-row append to a million-file table writes one small record, never
  * an O(live-files) manifest. Every `graft.checkpointInterval` commits
  * (and before log truncation) the whole state — files, stats, vectors,
  * metadata, txn map — goes into a parquet checkpoint written and read as
  * a DataFrame. A reader rebuilds any version from the nearest checkpoint
  * plus the records after it into one [[GraftTable.Snapshot]], cached per
  * version, so the common v-1 → v step reads one record.
  *
  * Every operation writes NEW files, once, at their final paths through
  * [[GraftWriter]] (the one writer of data files, change-feed sidecars
  * and checkpoints), which returns each file's size and footer stats, and
  * commits NEW actions naming them; a commit reads no data file. Files
  * leaving the live set, and files of writes that never committed, are
  * orphans that `vacuum` reclaims after a retention window. Readers resolve the snapshot and scan only its
  * files — this is what makes OPTIMIZE (M1), VACUUM (M2), history (M3)
  * and DESCRIBE DETAIL (D5) expressible over plain parquet. Everything a
  * commit derives from its predecessor is computed against the version
  * it is about to follow; losing the put-if-absent race means recomputing
  * against the winner: blind appends retry, and snapshot-derived rewrites
  * retry iff their inputs are still live (Delta's WriteSerializable
  * conflict rules). A writer that dies before its put leaves orphaned
  * data files and at most a temp file, both for VACUUM.
  *
  * Scale notes: data files are hive-partitioned so partition pruning is
  * free. Planning a scan still materializes the file list on the
  * driver, like Delta's driver-side snapshot — the checkpoint itself is
  * written/read as a distributed DataFrame, so the one remaining
  * driver-sized artifact is the live-file LIST, not the log history.
  */
final class GraftTable private (
    val spark: SparkSession,
    val path: String,
    val partitionColumns: Seq[String]) {

  import GraftTable.{ColMap, Meta, Snapshot}

  private val root = new Path(path)
  private val logDir = new Path(root, "_graft_log")
  private lazy val fs: FileSystem = root.getFileSystem(spark.sessionState.newHadoopConf())

  // ---- the log: one record per commit ---------------------------------

  private def rootKey: String = root.toUri.getPath
  private def recordPath(v: Long) = new Path(logDir, f"v$v%020d.json")
  private def checkpointPath(v: Long) = new Path(logDir, f"v$v%020d.ckpt.parquet")
  private def cdcPath(id: String) = new Path(logDir, s"cdc/$id")

  private def versionOf(name: String, ext: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(ext))
      name.stripPrefix("v").stripSuffix(ext).toLongOption
    else None

  private def listLog(): Seq[String] =
    if (!fs.exists(logDir)) Nil else fs.listStatus(logDir).toSeq.map(_.getPath.getName)

  private def logNames(): Seq[String] = { legacyConverted; listLog() }

  /** Retained committed versions, ascending. */
  private def versions(): Seq[Long] = logNames().flatMap(versionOf(_, ".json")).sorted

  def currentVersion: Long = versions().lastOption.getOrElse(-1L)

  /** Whether `version`'s commit record is still retained (false once
    * `cleanupLog` truncated it — time travel/CDF from it is gone). */
  def hasVersion(version: Long): Boolean = version >= 0 && fs.exists(recordPath(version))

  /** Live data files (relative paths) of a version's snapshot. */
  def manifestFiles(version: Long = currentVersion): Seq[String] =
    snapshotAt(version).files

  // A version-1 log (a marker plus eight sidecars per commit) is converted
  // once, when a handle first lists or reads the log: a v2 checkpoint of
  // its latest version N, `vN.json` rewritten as a v2 record, every other
  // v1 file deleted. Only [[LegacyLog]] reads v1 files.
  private lazy val legacyConverted: Unit = {
    val names = listLog().toSet
    names.flatMap(versionOf(_, ".json")).maxOption
      .filter(n => LegacyLog.isLegacy(names, n) &&
        !firstLine(recordPath(n)).exists(_.startsWith("{\"commitInfo\"")))
      .foreach { n =>
        val (snap, record) = LegacyLog.read(spark, fs, logDir, names, n)
        if (!writeCheckpoint(n, snap)) throw new IllegalStateException(
          s"could not write the checkpoint converting the graft log at $logDir")
        LogStore.writeAtomic(fs, recordPath(n),
          LogRecord.encode(record).getBytes(StandardCharsets.UTF_8))
        names.filter(x => LegacyLog.isSidecar(x) ||
            versionOf(x, ".json").exists(_ < n) || versionOf(x, ".ckpt.parquet").exists(_ < n))
          .foreach(x => fs.delete(new Path(logDir, x), true))
        GraftTable.invalidateSnapshotsFrom(rootKey, 0L)
      }
  }

  /** Commit `v`'s record, parsed. */
  private[graft] def readRecord(v: Long): Record = {
    legacyConverted
    val in = fs.open(recordPath(v))
    try LogRecord.decode(new String(in.readAllBytes(), StandardCharsets.UTF_8))
    finally in.close()
  }

  private def firstLine(p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Option(new java.io.BufferedReader(new java.io.InputStreamReader(
        in, StandardCharsets.UTF_8)).readLine()) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** The first line of `v`'s record — its commit info — or None once the
    * record is gone. */
  private def commitInfoLine(v: Long): Option[String] = {
    legacyConverted
    firstLine(recordPath(v))
  }

  /** Commit `v`'s commit info (no actions), if the record is retained. */
  private def commitInfo(v: Long): Option[Record] =
    if (v < 0) None else commitInfoLine(v).map(LogRecord.decode)

  /** Full table state at `version`: the nearest base (a cached snapshot
    * or a checkpoint) plus the records after it. Cached per (table,
    * version) — committed versions are immutable. */
  private[graft] def snapshotAt(version: Long): Snapshot = {
    if (version < 0) return Snapshot.Empty
    GraftTable.cachedSnapshot(rootKey, version).getOrElse {
      val names = logNames().toSet
      if (!names(recordPath(version).getName) && !names(checkpointPath(version).getName))
        throw new IllegalStateException(s"graft table at $path has no committed version $version")
      // walk down to the nearest base — a checkpoint AT the version itself
      // counts (the post-truncation shape: the oldest retained version
      // keeps a checkpoint, its ancestry is gone)
      var b = version
      var base: Snapshot = null
      while (base == null && b >= 0) {
        GraftTable.cachedSnapshot(rootKey, b) match {
          case Some(s) => base = s
          case None =>
            if (names(checkpointPath(b).getName)) base = readCheckpoint(b)
            else if (names(recordPath(b).getName)) b -= 1
            else throw new IllegalStateException(
              s"cannot reconstruct version $version of the graft table " +
              s"at $path: no log record for v$b (log cleaned up?)")
        }
      }
      val snap = ((b + 1) to version).foldLeft(Option(base).getOrElse(Snapshot.Empty)) {
        (s, v) => GraftTable.applyRecord(s, readRecord(v))
      }
      GraftTable.cacheSnapshot(rootKey, version, snap)
      snap
    }
  }

  /** Checkpoint of `snap`, the state at `v`, as a PARQUET DATASET written
    * and read through Spark — at a million files a distributed write/scan,
    * not a driver-serialized text blob (Delta's multi-part parquet
    * checkpoint). One row per live file (seq, file, size, dv runs, stats)
    * plus a state row (seq −1) holding metadata, txn map and commit
    * timestamp. Best-effort: a failed write only costs replay length.
    * Returns success. */
  private def writeCheckpoint(v: Long, snap: Snapshot): Boolean = try {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("seq", LongType, nullable = false),
      StructField("file", StringType),
      StructField("size", LongType),
      StructField("dv", StringType),
      StructField("stats", ArrayType(StructType(Seq(
        StructField("c", StringType), StructField("t", StringType),
        StructField("lo", StringType), StructField("hi", StringType))))),
      StructField("state", StringType)))
    val rows = org.apache.spark.sql.Row(-1L, null, null, null, Seq.empty,
        LogRecord.encodeState(snap)) +:
      snap.files.zipWithIndex.map { case (f, i) =>
        org.apache.spark.sql.Row(i.toLong, f,
          snap.sizes.get(f).map(java.lang.Long.valueOf).orNull,
          snap.dv.get(f).map(GraftTable.encodeRuns).orNull,
          snap.stats.get(f).map(_.toSeq.sortBy(_._1).map {
            case (c, (t, lo, hi)) => org.apache.spark.sql.Row(c, t, lo, hi)
          }).getOrElse(Seq.empty), null)
      }
    val target = checkpointPath(v)
    val tmp = new Path(logDir, s".${target.getName}.${java.util.UUID.randomUUID}.tmp")
    val slices = math.max(1, math.min(rows.size / 50000 + 1,
      spark.sparkContext.defaultParallelism))
    GraftWriter.write(spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema), tmp)
    fs.delete(target, true)
    fs.rename(tmp, target) || { fs.delete(tmp, true); false }
  } catch { case scala.util.control.NonFatal(_) => false }

  private def readCheckpoint(v: Long): Snapshot = {
    val rows = spark.read.parquet(checkpointPath(v).toString)
      .select("seq", "file", "dv", "stats", "size", "state").collect()
      .sortBy(_.getLong(0))
    val (meta, txn, ts) = LogRecord.decodeState(rows.head.getString(5))
    GraftTable.checkpointFiles(rows.tail.toSeq).copy(meta = meta, txn = txn, timestamp = ts)
  }

  /** Commit version `currentVersion + 1`: publish one record through the
    * [[LogStore]]. The record adds `written` with the size and stats
    * their write returned, or that a re-add (RESTORE, CLONE: `carried`)
    * carries; files without stats are simply never pruned. No data file
    * is read. Bloom sidecars for written files are built once per
    * operation, before the first put; re-adds keep their sidecars and
    * the row ids their stats hold.
    * Everything derived from the predecessor — `removes`, `dvChanges`
    * (per-file vector REPLACEMENTS, empty runs clear), metadata,
    * row-tracking ids, `extraStats` (stat additions for live files) — is
    * computed on every attempt against the version the record is about
    * to follow, so a concurrent commit is never clobbered. With
    * `retry`, losing the race re-runs the attempt against the winner.
    * Commit I/O is O(adds + removes), never O(live-files). The commit
    * info carries the operation's `metrics` plus `numAddedFiles`,
    * `numRemovedFiles`, `numOutputBytes` and `numOutputRows`, read from
    * the adds' logged sizes and row counts, and with `timed` the
    * `commitTimeMs` from this call to the record it publishes. */
  private def commit(operation: String, written: Seq[GraftWriter.Written],
      metrics: Map[String, String],
      removes: Long => Seq[String] = _ => Nil,
      newConstraints: Option[Map[String, String]] = None,
      carried: Boolean = false,
      newGenerated: Option[Map[String, String]] = None,
      dvChanges: Option[Long => Map[String, Seq[(Long, Long)]]] = None,
      newColMap: Option[Long => ColMap] = None,
      newSchema: Option[Long => StructType] = None,
      newProperties: Option[Long => Map[String, String]] = None,
      extraStats: Long => Map[String, Map[String, (String, String, String)]] =
        _ => Map.empty,
      retry: Boolean = false,
      timed: Boolean = false): Long = {
    val began = System.nanoTime()
    val adds = written.map(_.path)
    val preStats = written.map(w => w.path -> w.stats).toMap
    fs.mkdirs(logDir)
    var bloomsBuilt = carried || adds.isEmpty
    def attempt(): Long = {
      val v = currentVersion + 1
      val base = snapshotAt(v - 1)
      val removed = removes(v - 1)
      // metadata rides the version like Delta's metaData action: carried
      // unchanged unless this commit alters it; property, column-map and
      // schema changes are functions of the predecessor, so a concurrent
      // commit's keys survive
      val props0 = newProperties.fold(base.meta.properties)(_(v - 1))
      val cmap = newColMap.fold(base.meta.colMap)(_(v - 1))
      val dvc = dvChanges.fold(Map.empty[String, Seq[(Long, Long)]])(_(v - 1))
      val live = base.files.toSet -- removed
      // manifest-compatibility tables validate the POST-commit state
      // before the commit lands (Delta parity: raw-parquet symlink
      // consumers cannot see DV masks or physical column names, so the
      // write is refused rather than landing a commit whose manifest
      // regeneration can only throw)
      if (props0.get(GraftTable.SymlinkManifestProp).contains("true")) {
        val liveSet = live ++ adds
        val postDv = dvc.foldLeft(base.dv -- removed) { case (m, (f, runs)) =>
          if (!liveSet(f)) m else if (runs.isEmpty) m - f else m + (f -> runs)
        }
        if (postDv.values.exists(_.nonEmpty))
          throw new IllegalStateException(
            "deletion vectors are not representable in a symlink " +
            s"manifest: disable ${GraftTable.SymlinkManifestProp}, use " +
            "copy-on-write DELETE/UPDATE (mergeOnRead=false), or REORG " +
            "TABLE ... APPLY (PURGE) before enabling the property")
        if (!(cmap.entries.forall { case (l, p) => l == p } && cmap.retired.isEmpty))
          throw new IllegalStateException(
            "column mapping is not representable in a symlink manifest " +
            "(raw-parquet consumers would see physical column names): " +
            s"disable ${GraftTable.SymlinkManifestProp} before renaming " +
            "columns, or keep the table on identity mapping")
      }
      // row tracking: per-added-file base row ids above the hwm property,
      // advanced in THIS commit (the put decides the order, so concurrent
      // appends can't overlap ranges); carried bases (RESTORE/CLONE) kept
      val (props, stats) = RowTracking.assign(props0, preStats, adds, _ => carried)
      val meta = Meta(newSchema.map(f => f(v - 1)).orElse(base.meta.schema), cmap,
        newConstraints.getOrElse(base.meta.constraints),
        newGenerated.getOrElse(base.meta.generated), props)
      // bloom index for freshly ADDED files (Delta bloom-index parity), once
      // per operation, under the first attempt's properties and column map.
      // Re-adds skip: their files already carry sidecars (same data file,
      // same md5 key) or backfill via buildBloomIndex(). Sidecars are pure
      // optimization: a build failure must not lose the commit.
      if (!bloomsBuilt) {
        bloomsBuilt = true
        if (BloomIndex.declaredColumns(props).nonEmpty)
          try {
            val sizes = written.map(w => w.path -> w.size).toMap
            val schema = meta.schema.getOrElse(new StructType())
            buildBloomsFor(adds, props, cmap, stats, schema, batch => filesScan(schema, batch, sizes,
              batch.headOption.map(GraftTable.partitionValues(_).map(_._1)).getOrElse(Nil)))
          }
          catch { case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"bloom index build skipped for $v: ${e.getMessage}") }
      }
      // post-hoc stat additions for live files (ANALYZE's NDV sketches):
      // a re-add replaces the file's whole stat map, so each is the
      // predecessor's map plus the additions
      val extra = extraStats(v - 1)
      val added = written.map(w => Add(w.path, Some(w.size),
        stats.getOrElse(w.path, Map.empty) ++ extra.getOrElse(w.path, Map.empty)))
      val restats = extra.collect { case (f, st) if live(f) && !adds.contains(f) =>
        Add(f, base.sizes.get(f), base.stats.getOrElse(f, Map.empty) ++ st, dataChange = false)
      }
      val fresh = added.filterNot(a => live(a.path))
      val rows = fresh.map(_.stats.get("").collect { case ("rows", n, _) => n.toLong })
      val out = Map("numAddedFiles" -> fresh.size.toString,
        "numRemovedFiles" -> removed.size.toString,
        "numOutputBytes" -> fresh.flatMap(_.size).sum.toString) ++
        (if (rows.forall(_.isDefined)) Map("numOutputRows" -> rows.flatten.sum.toString)
         else Map.empty)
      // in-commit timestamp, strictly after the predecessor's:
      // versionAtTime/versionBeforeTime walk the log under a monotonicity
      // contract wall clocks alone don't keep (NTP step-backs, multi-writer
      // skew) — Delta's inCommitTimestamp makes the same max(prev+1, now)
      // promise
      val took =
        if (timed) Map("commitTimeMs" -> ((System.nanoTime() - began) / 1000000).toString)
        else Map.empty
      val record = Record(v, math.max(base.timestamp + 1, System.currentTimeMillis()),
        operation, metrics ++ out ++ took, added ++ restats, removed, dvc,
        if (v == 0 || meta != base.meta) Some(meta) else None)
      LogStore.resolve(spark).putIfAbsent(fs, recordPath(v),
        LogRecord.encode(record).getBytes(StandardCharsets.UTF_8))
      // a landed commit invalidates any STALE cache entries at >= v (a
      // table recreated at the same path after external deletion), then
      // caches its own state — the next read at v replays nothing
      GraftTable.invalidateSnapshotsFrom(rootKey, v)
      GraftTable.cacheSnapshot(rootKey, v, GraftTable.applyRecord(base, record))
      // checkpoint cadence: `graft.checkpointInterval` (Delta's
      // delta.checkpointInterval), default CheckpointInterval
      val ckptEvery: Long = props.get("graft.checkpointInterval")
        .flatMap(_.toLongOption).filter(_ > 0)
        .getOrElse(GraftTable.CheckpointInterval)
      if (v > 0 && v % ckptEvery == 0) writeCheckpoint(v, snapshotAt(v))
      v
    }
    val committed = if (retry) retryOnConflict()(attempt()) else attempt()
    // auto-regenerated symlink manifest (Delta's
    // delta.compatibility.symlinkFormatManifest.enabled parity): tables
    // that opted in keep _symlink_format_manifest/ current after every
    // landed commit. Runs AFTER the commit point — a regeneration failure
    // surfaces loudly but never unwinds the commit.
    if (propertiesOf(committed).get(GraftTable.SymlinkManifestProp).contains("true"))
      generateSymlinkManifest()
    committed
  }

  /** Commit for SNAPSHOT-DERIVED rewrites (OPTIMIZE/DELETE/UPDATE/MERGE
    * and metadata-only commits): the new manifest is computed against the
    * version the record follows, so files added by a concurrent append
    * between this operation's snapshot read and its commit are carried
    * over instead of silently dropped (Delta's WriteSerializable rule:
    * concurrent inserts survive a snapshot-based rewrite). If any of this
    * operation's INPUT files is no longer live — a concurrent commit
    * rewrote or removed it — or its deletion vector differs from the state
    * this rewrite READ (`readDv`; a concurrent merge-on-read DELETE
    * touched rows the rewrite copied), the rewrite's outputs are stale and
    * the commit aborts (the orphaned output files await VACUUM; Delta
    * likewise conflicts on DV changes to read files). Put-race losers
    * retry. */
  private def commitRewrite(operation: String, inputs: Seq[String],
      added: Seq[GraftWriter.Written], metrics: Map[String, String],
      readDv: Map[String, Seq[(Long, Long)]] = Map.empty,
      newConstraints: Option[Map[String, String]] = None,
      newGenerated: Option[Map[String, String]] = None,
      newColMap: Option[Long => ColMap] = None,
      newSchema: Option[Long => StructType] = None,
      newProperties: Option[Long => Map[String, String]] = None,
      preCommitCheck: Long => Unit = _ => (),
      extraStats: Long => Map[String, Map[String, (String, String, String)]] =
        _ => Map.empty,
      timed: Boolean = false): Long =
    commit(operation, added, metrics,
      newConstraints = newConstraints, newGenerated = newGenerated,
      newColMap = newColMap, newSchema = newSchema,
      newProperties = newProperties,
      extraStats = extraStats, retry = true, timed = timed,
      removes = { base =>
        preCommitCheck(base)
        val nowLive = manifestFiles(base)
        val gone = inputs.filterNot(nowLive.toSet)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"$operation aborted: ${gone.size} of its input files (e.g. " +
          s"${gone.head}) were removed by a concurrent commit; " +
          "re-run against the new snapshot")
        if (inputs.nonEmpty) {
          val baseDv = dvOf(base)
          val dvChanged = inputs.filter(f =>
            baseDv.getOrElse(f, Nil) != readDv.getOrElse(f, Nil))
          if (dvChanged.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"$operation aborted: deletion vectors of ${dvChanged.size} " +
              s"of its input files (e.g. ${dvChanged.head}) changed under " +
              "a concurrent merge-on-read DELETE; re-run against the new " +
              "snapshot")
        }
        inputs
      })


  /** All data files currently on disk (relative paths), manifest or
    * not; the log is not walked. */
  private[graft] def listDataFiles(): Seq[(String, Long, Long)] = {
    if (!fs.exists(root)) return Nil
    val rootUri = root.toUri.getPath
    GraftTable.listTree(fs, root, _ != "_graft_log")
      .map(s => (s.getPath.toUri.getPath, s))
      .collect { case (p, s) if p.endsWith(".parquet") =>
        (p.stripPrefix(rootUri).stripPrefix("/"), s.getLen, s.getModificationTime)
      }
  }

  // ---- per-file min/max stats → data skipping (Delta parity) -----------
  //
  // Every add action carries, for its data file, the min/max of its
  // top-level primitive columns (read once from the parquet footer when
  // the file is first committed). Every
  // scan's file index prunes its FILE LIST against these bounds under
  // the scan's filters (`Skipping`) — at 100 TB a time-range query on a
  // cluster-sorted table opens the handful of files whose range
  // intersects, not every file of the partition (hive pruning handles
  // partition columns; this handles everything OPTIMIZE sorted).

  /** file → column → (type tag, min, max) live at `version`. */
  def statsOf(version: Long): Map[String, Map[String, (String, String, String)]] =
    snapshotAt(version).stats

  // ---- deletion vectors (Delta merge-on-read DELETE parity) ------------
  //
  // A merge-on-read DELETE records the POSITIONS of deleted rows instead
  // of rewriting data files: the commit's `dv` actions map each file to
  // the run-length-encoded sorted row indices of its deleted rows, and
  // the manifest's file list is unchanged. Readers
  // anti-join `_metadata.row_index` against the vector — only files that
  // HAVE a vector pay that join; clean files keep today's plan. This is
  // what makes "delete 0.1% of a 100 TB table" a metadata-sized commit
  // instead of a 100 TB rewrite (Delta's deletion-vector feature; at
  // that scale Delta stores roaring bitmaps in sidecar bin files —
  // the runs live under the same "commit metadata fits on the driver"
  // assumption as the manifest, isolated in the same place).
  // File min/max stats stay sound under a vector (they bound a superset
  // of the live rows), OPTIMIZE/PURGE materialize vectors away, and a
  // copy-on-write rewrite of a vectored file drops its entry with the
  // file. Runs encode as "start:len,start:len" with starts ascending.

  /** file → sorted disjoint (start, len) runs of deleted row positions
    * live at `version` (empty when the version has no vectors). */
  def dvOf(version: Long): Map[String, Seq[(Long, Long)]] =
    snapshotAt(version).dv

  /** Rows deleted by vectors of `version` (sum of run lengths). */
  def deletedRowCount(version: Long = currentVersion): Long =
    dvOf(version).values.flatten.map(_._2).sum

  /** Exact row count served from commit metadata alone — the per-file
    * counts recorded in the file stats (reserved "" pseudo-column)
    * minus deletion-vector rows. None when any live file lacks a count
    * (clone/convert with stats skipped) — callers fall back to a scan.
    * This is Delta's count-from-log fast path: `count(*)` on a 100 TB
    * table reads the log, not the table. */
  def rowCountFromStats(version: Long = currentVersion): Option[Long] = {
    val stats = statsOf(version)
    val perFile = manifestFiles(version).map(f =>
      stats.get(f).flatMap(_.get("")).collect { case ("rows", lo, _) => lo.toLong })
    if (perFile.exists(_.isEmpty)) None
    else Some(perFile.flatten.sum - deletedRowCount(version))
  }

  /** Row count: metadata-served when possible, scan otherwise. */
  def count(): Long = rowCountFromStats().getOrElse(read().count())

  // ---- column mapping (Delta column-mapping parity) --------------------
  //
  // RENAME/DROP COLUMN without touching data files: the column map in
  // each version's metadata maps LOGICAL column names (what users see)
  // to PHYSICAL names (what parquet files store). An empty map is the
  // identity mapping and pays zero overhead — the
  // mapping only materializes on the first rename/drop. Physical names
  // are stable across renames (stats, files and vectors never change);
  // a DROPPED column's physical name is recorded as RETIRED so a later
  // re-add of the same logical name gets a FRESH physical name and the
  // old files' values can never resurrect (Delta solves the same
  // problem with column-id physical names). Time travel, RESTORE and
  // CLONE carry the map like every other versioned metadata.

  // ---- schema in the log (Delta metadata-action parity) ----------------
  //
  // The table's PHYSICAL schema is part of every version's metadata, and
  // it is the schema every scan reads under (Delta's metadata action): no
  // footer is merged to plan a read. A file written before ALTER TABLE ADD
  // COLUMN or a mergeSchema append reads the columns it lacks as nulls, a
  // narrow file under a widened column upcasts in the reader, and a
  // FILE-LESS version (SQL CREATE TABLE, DELETE-everything) still has its
  // schema. Only a table adopted without one (CONVERT) infers it from its
  // files' footers ([[physicalSchemaAt]]).

  /** Physical schema recorded with `version`, if any. */
  def schemaOf(version: Long): Option[StructType] = snapshotAt(version).meta.schema

  /** ALTER TABLE ADD COLUMN (metadata-only): the column joins the
    * recorded schema; no file carries it, so reads align it in as
    * nulls until writes populate it. A name retired by DROP COLUMN
    * gets a fresh physical name via the column map (no resurrection). */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType): Long = {
    require(!name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "column names must not contain tabs or newlines")
    val logical = read().columns.toSeq
    require(!logical.contains(name), s"column $name already exists")
    // the physical name derives from the predecessor the commit lands on inside the
    // commit closures (deterministically: both closures agree given the
    // same base), never from pre-commit state — under the conflict retry
    // the commit can land on a different base where a concurrent commit
    // took the name (or materialized the map), and a stale-derived
    // physical would silently alias two logical columns onto one
    // physical or read back null
    def physFor(base: Long): String = {
      val conflict = () => new java.util.ConcurrentModificationException(
        s"ADD COLUMN $name aborted: a concurrent commit added the same " +
        "column; re-run against the new snapshot")
      val bm0 = colMapOf(base)
      if (bm0.isIdentity) {
        val cur = physicalSchemaAt(base)
        if (cur.fieldNames.contains(name)) throw conflict()
        name
      } else {
        if (bm0.entries.exists(_._1 == name)) throw conflict()
        val taken = bm0.entries.map(_._2).toSet ++ bm0.retired.toSet
        if (taken(name)) s"${name}__v${base + 1}" else name
      }
    }
    commitRewrite("ADD COLUMN", Nil, Nil,
      Map("name" -> name, "dataType" -> dataType.simpleString),
      newColMap = Some { base =>
        val bm0 = colMapOf(base)
        if (bm0.isIdentity) { physFor(base); bm0 } // stays identity
        else bm0.copy(entries = bm0.entries :+ (name -> physFor(base)))
      },
      newSchema = Some { base =>
        val cur = physicalSchemaAt(base)
        cur.add(org.apache.spark.sql.types.StructField(physFor(base), dataType))
      })
  }

  /** Physical schema of `version`: the recorded one, or, for a version
    * recorded without one, the footers of its files (or of the latest
    * earlier version whose files still read) merged with their hive
    * partition columns. The one data-file read that plans no scan. */
  private def physicalSchemaAt(version: Long): StructType =
    schemaOf(version).filter(_.nonEmpty).getOrElse {
      (version to 0L by -1).iterator.flatMap { v =>
        scala.util.Try {
          val files = manifestFiles(v).filterNot(_.startsWith("/"))
          require(files.nonEmpty)
          spark.read.option("basePath", path).option("mergeSchema", "true")
            .parquet(files.map(f => s"$path/$f"): _*).schema
        }.toOption
      }.nextOption().getOrElse(new StructType())
    }

  def colMapOf(version: Long): ColMap = snapshotAt(version).meta.colMap

  def colMap: ColMap = colMapOf(currentVersion)

  /** Physical frame → logical view: select mapped columns (in map
    * order) plus any internal bookkeeping columns present (__path,
    * __pos survive the rename so DV plumbing composes). Entries whose
    * physical column is absent from this frame subset (schema
    * evolution) are skipped — unionByName fills them as null. */
  private def toLogical(df: DataFrame, cm: ColMap): DataFrame = {
    if (cm.isIdentity) return df
    val have = df.columns.toSet
    val internals = Seq("__path", "__pos").filter(have)
    df.select(cm.entries.collect { case (l, ph) if have(ph) => col(ph).as(l) } ++
      internals.map(col): _*)
  }

  /** Logical frame → physical layout for writing. Columns not in the
    * map are NEW (mergeSchema evolution): they keep their own name as
    * physical unless that name is retired or already used as another
    * column's physical — then they get a fresh versioned physical name.
    * Returns the physical frame plus the map additions to commit. */
  private def toPhysical(df: DataFrame, cm: ColMap): (DataFrame, Seq[(String, String)]) = {
    if (cm.isIdentity) return (df, Nil)
    val taken = cm.entries.map(_._2).toSet ++ cm.retired.toSet
    val additions = df.columns.toSeq.filterNot(cm.physicalOf.contains).map { l =>
      l -> (if (taken(l)) s"${l}__v${currentVersion + 1}" else l)
    }
    val physOf = cm.physicalOf ++ additions.toMap
    (df.select(df.columns.toIndexedSeq.map(c => col(c).as(physOf(c))): _*), additions)
  }

  /** Commit closure extending the predecessor the commit lands on's map with
    * pre-chosen (logical → physical) additions: a concurrent rename's
    * entries survive (physical names are stable, so the additions stay
    * valid), and an addition a concurrent writer already registered is
    * not duplicated. The data files were ALREADY written under the
    * pre-commit physical names, so if the base the commit lands on disagrees — a
    * concurrent commit registered the same logical under a different
    * physical, or took/retired a chosen physical — the commit must
    * ABORT (the written files would read back null or alias another
    * column); the orphaned files await VACUUM and the caller re-runs
    * against the new snapshot. */
  private def colMapExtension(op: String,
      mapAdds: Seq[(String, String)]): Long => ColMap = { base =>
    val cm = colMapOf(base)
    if (cm.isIdentity) cm // concurrent schema reset: stay identity
    else {
      val taken = cm.entries.map(_._2).toSet ++ cm.retired.toSet
      mapAdds.foreach { case (l, ph) =>
        cm.physicalOf.get(l) match {
          case Some(existing) if existing != ph =>
            throw new java.util.ConcurrentModificationException(
              s"$op aborted: concurrent commit mapped " +
              s"column $l to physical $existing (this write staged $ph); " +
              "re-run against the new snapshot")
          case Some(_) => () // same mapping already registered
          case None if taken(ph) =>
            throw new java.util.ConcurrentModificationException(
              s"$op aborted: physical name $ph for new " +
              s"column $l was taken by a concurrent commit; re-run " +
              "against the new snapshot")
          case None => ()
        }
      }
      cm.copy(entries = cm.entries ++
        mapAdds.filterNot(a => cm.physicalOf.contains(a._1)))
    }
  }

  /** Rewrite frames derive from read() and can never ADD columns. */
  private def toPhysicalStrict(df: DataFrame): DataFrame = {
    val (phys, additions) = toPhysical(df, colMap)
    require(additions.isEmpty,
      s"internal: rewrite introduced unmapped columns ${additions.map(_._1)}")
    phys
  }

  private def parseRefs(sqlExpr: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sqlExpr).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
    }.toSet

  private def guardMappable(name: String, op: String): Unit = {
    require(!partitionColumns.contains(name),
      s"cannot $op partition column $name (hive directory layout is physical)")
    val usedBy = (constraints.view.mapValues(parseRefs) ++
      generatedColumns.view.mapValues(parseRefs))
      .collect { case (n, refs) if refs(name) => n }.toSeq
    require(usedBy.isEmpty,
      s"cannot $op column $name: referenced by constraint/generated column ${usedBy.mkString(", ")}")
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only commit; the data files,
    * stats and deletion vectors are untouched (physical name stable). */
  def renameColumn(oldName: String, newName: String): Long = {
    require(!Seq(oldName, newName).exists(_.exists(c => c == '\t' || c == '\n' || c == '\r')),
      "column names must not contain tabs or newlines")
    val logical = read().columns.toSeq
    require(logical.contains(oldName), s"no such column $oldName (have: ${logical.mkString(", ")})")
    require(!logical.contains(newName), s"column $newName already exists")
    guardMappable(oldName, "rename")
    // the transformation applies to the predecessor the commit lands on's map, so a
    // concurrent commit's map changes (e.g. an evolving append) are
    // never overwritten by this rename's pre-commit snapshot
    commitRewrite("RENAME COLUMN", Nil, Nil,
      Map("oldName" -> oldName, "newName" -> newName),
      newColMap = Some { base =>
        val cm = materializedAt(base)
        cm.copy(entries = cm.entries.map {
          case (l, ph) if l == oldName => newName -> ph
          case e => e
        })
      })
  }

  /** ALTER TABLE DROP COLUMN — metadata-only commit; the physical
    * column stays in the files (invisible) and its name is RETIRED so
    * a re-added column of the same name starts empty. */
  def dropColumn(name: String): Long = {
    val logical = read().columns.toSeq
    require(logical.contains(name), s"no such column $name (have: ${logical.mkString(", ")})")
    require(logical.size > 1, "cannot drop the last column")
    guardMappable(name, "drop")
    commitRewrite("DROP COLUMN", Nil, Nil, Map("name" -> name),
      newColMap = Some { base =>
        val cm = materializedAt(base)
        val ph = cm.physicalOf.getOrElse(name, name)
        ColMap(cm.entries.filterNot(_._1 == name), cm.retired :+ ph)
      })
  }

  /** ALTER TABLE ALTER COLUMN … TYPE — type widening
    * ([[TypeWidening]]): metadata-only; no data file is touched at any
    * table size. The recorded schema gets the wider type, the marker
    * property gates the explicit-schema scan path, and the recorded
    * schema is what reconciles narrow old files with wide new ones. */
  def alterColumnType(name: String, to: org.apache.spark.sql.types.DataType): Long = {
    val logical = read().schema
    val f = logical.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no such column $name (have: ${logical.fieldNames.mkString(", ")})"))
    require(TypeWidening.allowed(f.dataType, to),
      s"unsupported type change ${f.dataType.simpleString} -> " +
      s"${to.simpleString} for column $name: only safe widenings " +
      "(byte -> short -> int -> long, float -> double) are metadata-only")
    val phys = colMap.physicalOf.getOrElse(name, name)
    commitRewrite("ALTER COLUMN TYPE", Nil, Nil,
      Map("column" -> name, "from" -> f.dataType.simpleString,
        "to" -> to.simpleString),
      newSchema = Some { base =>
        val cur = physicalSchemaAt(base)
        val bf = cur.fields.find(_.name == phys).getOrElse(
          throw new java.util.ConcurrentModificationException(
            s"ALTER COLUMN TYPE $name aborted: the column vanished under " +
            "a concurrent commit; re-run against the new snapshot"))
        if (bf.dataType != to)
          require(TypeWidening.allowed(bf.dataType, to),
            s"ALTER COLUMN TYPE $name: concurrent commit changed the " +
            s"column to ${bf.dataType.simpleString}; " +
            s"${to.simpleString} is no longer a safe widening")
        StructType(cur.fields.map(x =>
          if (x.name == phys) x.copy(dataType = to) else x))
      },
      newProperties = Some(base =>
        propertiesOf(base) + (TypeWidening.Prop -> "true")))
  }

  /** `base`'s map, materialized from its logical schema when still the
    * implicit identity. */
  private def materializedAt(base: Long): ColMap = {
    val cm = colMapOf(base)
    if (cm.isIdentity)
      ColMap(readVersion(base).columns.toSeq.map(l => l -> l), Nil)
    else cm
  }

  private def utf8Compare(a: String, b: String): Int = GraftTable.utf8Compare(a, b)

  /** `filters` plus every filter implied on a generated column by a
    * pushed filter on its base column ([[GeneratedPruning]]): a query
    * constraining `ts` also constrains `d GENERATED AS (to_date(ts))`,
    * and the implied predicate is what partition pruning and stats/
    * bloom skipping can act on when the table is laid out by `d`. */
  def augmentedFilters(version: Long,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Seq[org.apache.spark.sql.sources.Filter] =
    skippingAt(version).augment(filters)

  /** The subset of `version`'s files that MAY contain rows matching all
    * `filters` (conservative: a file is kept unless its stats prove no
    * row can match). */
  def dataSkippedFiles(version: Long,
      rawFilters: Seq[org.apache.spark.sql.sources.Filter]): Seq[String] = {
    val skipping = skippingAt(version)
    skipping.kept(skipping.augment(rawFilters), manifestFiles(version))
  }

  // the last Skipping built, reused at the same version while that
  // version's snapshot stays cached (a recreated table drops it): a
  // scan's statistics and its file index then augment the same filters
  // once
  @volatile private var lastSkipping: Skipping = _

  private def skippingAt(version: Long): Skipping = {
    val snap = snapshotAt(version)
    val last = lastSkipping
    if (last != null && last.version == version && (last.snap eq snap)) last
    else { val s = new Skipping(version, snap); lastSkipping = s; s }
  }

  /** Data skipping at `version`: generated-column augmentation, then
    * [[GraftTable.statsMayMatch]] over each file's footer stats and
    * partition-value point intervals, then bloom sidecars, all from
    * the version's snapshot — the file index of a scan holds one and
    * asks it each time Spark lists files. Filters carry LOGICAL column
    * names. */
  private final class Skipping(val version: Long, val snap: Snapshot) {
    private type Filter = org.apache.spark.sql.sources.Filter
    private def cm = snap.meta.colMap
    private def defs = snap.meta.generated
    private def props = snap.meta.properties
    private lazy val partitionCols = layoutPartitionColumns(version).toSet
    // footer stats are keyed by the PHYSICAL column name — re-keyed to
    // the logical names through the version's column map (identity map:
    // no-op). A dropped column's stats become unreachable (no logical
    // name maps to them) — conservative, never wrong.
    private lazy val stats = {
      val raw = snap.stats
      if (cm.isIdentity) raw
      else {
        val logicalOf = cm.entries.map(_.swap).toMap
        raw.view.mapValues(_.flatMap { case (ph, b) =>
          logicalOf.get(ph).map(_ -> b) }).toMap
      }
    }
    // the recorded schema answers base-column types without constructing
    // a scan frame; a version without one falls back to the frame's schema
    private lazy val schema = snap.meta.schema.filter(_.nonEmpty)
      .map(phys => logicalSchema(phys, cm))
      .orElse(scala.util.Try(readVersion(version).schema).toOption)

    /** A scan's filters, which name PHYSICAL columns, in logical names;
      * a conjunct the renaming cannot carry is dropped. */
    def logical(filters: Seq[Filter]): Seq[Filter] =
      if (cm.isIdentity) filters
      else {
        val logicalOf = cm.entries.map(_.swap).toMap
        filters.flatMap(GraftTable.renameFilterAttrs(_, logicalOf))
      }

    // the last augmentation and the filter set it answered: a scan's
    // statistics and its file index ask with the same filters
    @volatile private var lastAugmented: (Set[Filter], Seq[Filter]) = (Set.empty, Nil)

    def augment(filters: Seq[Filter]): Seq[Filter] =
      if (filters.isEmpty || defs.isEmpty) filters
      else {
        val (key, last) = lastAugmented
        if (key == filters.toSet) last
        else {
          val baseType = (c: String) =>
            schema.flatMap(_.fields.find(_.name == c).map(_.dataType))
          val out = (filters ++ GeneratedPruning.derive(spark, defs, baseType, filters,
            g => props.get(GraftTable.GeneratedTzKey + g))).distinct
          lastAugmented = (filters.toSet, out)
          out
        }
      }

    /** The subset of `files` that MAY hold rows matching all of the
      * (augmented) `filters`. */
    def kept(filters: Seq[Filter], files: Seq[String]): Seq[String] = {
      if (filters.isEmpty) return files
      // hive-path partition values join the proof set as point
      // intervals: a partition predicate (pushed directly, or derived
      // from a generated-column definition) prunes the FILE LIST, so
      // scan estimates see the pruned list too
      val prefs = filters.iterator.flatMap(_.references).filter(partitionCols).toSet
      val ranged = files.filter { f =>
        val cols = stats.getOrElse(f, Map.empty) ++
          GraftTable.partitionValueStats(f, prefs)
        filters.forall(GraftTable.statsMayMatch(cols, _))
      }
      // bloom proofs: only equality/IN conjuncts on indexed columns, only
      // over the min/max survivors, and only when the table declares an
      // index — a point lookup on a high-cardinality column skips every
      // file whose filter proves absence (interval proofs can't).
      bloomSkipped(filters, ranged)
    }

    /** The subset of `candidates` whose bloom sidecars (if any) admit
      * the equality probes in `filters`. Missing sidecar/column ⇒ kept. */
    private def bloomSkipped(filters: Seq[Filter],
        candidates: Seq[String]): Seq[String] = {
      if (candidates.isEmpty) return candidates
      // the property gates PROBING cheaply (no sidecar lookups on
      // unindexed tables); which columns are actually provable comes
      // from each sidecar's own keys — rename-stable, and stale property
      // spellings can't disable files already indexed
      if (BloomIndex.declaredColumns(props).isEmpty) return candidates
      val demandedLogical = BloomIndex.probes(filters)
      if (demandedLogical.isEmpty) return candidates
      // sidecars are keyed by PHYSICAL column name (rename-stable, like
      // the file stats): re-key the demanded probes through the map
      val demanded =
        if (cm.isIdentity) demandedLogical
        else {
          val physOf = cm.entries.toMap
          demandedLogical.flatMap { case (l, s) => physOf.get(l).map(_ -> s) }
        }
      if (demanded.isEmpty) return candidates
      candidates.filter(f => BloomIndex.mayContain(
        BloomIndex.filtersOf(fs, logDir, rootKey, f), demanded))
    }
  }

  /** Total live data bytes at `version`. Sizes come from the commit log
    * (recorded per add action); a status RPC happens only for legacy
    * files committed before sizes were logged, never per live file. */
  def sizeInBytes(version: Long = currentVersion): Long = {
    val snap = snapshotAt(version)
    snap.files.iterator.map(f =>
      snap.sizes.getOrElse(f, fs.getFileStatus(dataPath(f)).getLen)).sum
  }

  /** (bytes, rows) estimate of the scan that survives data skipping for
    * `filters` at `version` — what the relation layers report to
    * Catalyst so join strategy (auto-broadcast, CBO) sees the PRUNED
    * scan, not the whole table: a selective point lookup over a huge
    * table still qualifies for the build side of a broadcast join.
    * Rows subtract each file's deletion-vector cardinality and are
    * `None` when any surviving file lacks a footer row count (estimate
    * must never under-claim). */
  def scanStats(version: Long,
      filters: Seq[org.apache.spark.sql.sources.Filter]): (Long, Option[Long]) = {
    val snap = snapshotAt(version)
    val kept = dataSkippedFiles(version, filters)
    val bytes = kept.iterator.map(f =>
      snap.sizes.getOrElse(f, fs.getFileStatus(dataPath(f)).getLen)).sum
    (bytes, liveRows(version, kept))
  }

  /** Rows of `files` at `version`: footer counts minus deletion-vector
    * cardinality, None when a file logged no count. */
  private[graft] def liveRows(version: Long, files: Seq[String]): Option[Long] = {
    val snap = snapshotAt(version)
    val perFile = files.map(f =>
      snap.stats.get(f).flatMap(_.get("")).collect { case ("rows", lo, _) =>
        math.max(0L, lo.toLong -
          snap.dv.getOrElse(f, Nil).iterator.map(_._2).sum)
      })
    if (perFile.forall(_.isDefined)) Some(perFile.flatten.sum) else None
  }

  /** Per-partition-value row counts for a metadata-only
    * `GROUP BY <partition cols> → COUNT(*)` answer (the Delta
    * "metadata-optimized query" shape extended to grouped counts): every
    * live file's hive path names its partition values, footer stats give
    * its row count, and deletion vectors subtract per file — so the
    * whole answer folds over the manifest without opening a data file.
    * Returns raw (still-string) group values in `cols` order; the scan
    * layer casts them to the table's partition types. `None` (no proof)
    * when any requested column is not a layout partition column, any
    * live file lacks a row count or the column's path segment, or the
    * group values need a column-mapping indirection. A
    * `__HIVE_DEFAULT_PARTITION__` segment surfaces as null — the same
    * value the scan path would produce. */
  private[graft] def partitionGroupCounts(version: Long, cols: Seq[String])
      : Option[Seq[(Seq[Option[String]], Long)]] = scala.util.Try {
    if (cols.isEmpty) return None
    if (!colMapOf(version).isIdentity) return None
    val layout = layoutPartitionColumns(version)
    if (!cols.forall(layout.contains)) return None
    val snap = snapshotAt(version)
    val perFile: Seq[Option[(Seq[Option[String]], Long)]] =
      snap.files.toSeq.map { f =>
        val segs = GraftTable.partitionValues(f).toMap
        val rows = snap.stats.get(f).flatMap(_.get("")).collect {
          case ("rows", lo, _) =>
            math.max(0L, lo.toLong -
              snap.dv.getOrElse(f, Nil).iterator.map(_._2).sum)
        }
        val vals: Option[Seq[Option[String]]] =
          if (cols.forall(segs.contains)) Some(cols.map(segs))
          else None // segment missing → no proof
        for { r <- rows; v <- vals } yield (v, r)
      }
    if (perFile.exists(_.isEmpty)) None
    else Some(perFile.flatten.groupBy(_._1).toSeq
      .map { case (k, fs) => (k, fs.map(_._2).sum) }
      // SQL GROUP BY emits NO row for a group with zero surviving rows:
      // a group whose every row is DV-masked (or whose files are empty)
      // must vanish from the grouped answer and from DISTINCT, exactly
      // as the scan path would drop it
      .filter(_._2 > 0))
  }.toOption.flatten

  /** Per-partition-group folded footer bounds of `column` — the grouped
    * companion of [[foldedBounds]], for metadata-only
    * `GROUP BY <partition cols> → MIN/MAX(col)`. Same proof rules as
    * the global fold (no deletion vectors ANYWHERE — a masked row may
    * hold a group's extremum; every live file carries the column's
    * stats under one exactly-encoded tag) plus the grouping proof of
    * [[partitionGroupCounts]]. Returns group values (raw strings, in
    * `cols` order) → (tag, min, max). */
  private[graft] def partitionGroupBounds(version: Long, cols: Seq[String],
      column: String): Option[Seq[(Seq[Option[String]], (String, String, String))]] =
    scala.util.Try {
      if (cols.isEmpty) return None
      if (!colMapOf(version).isIdentity) return None
      if (!cols.forall(layoutPartitionColumns(version).contains)) return None
      if (dvOf(version).values.exists(_.nonEmpty)) return None
      val snap = snapshotAt(version)
      val perFile: Seq[Option[(Seq[Option[String]], (String, Long, Long))]] =
        snap.files.toSeq.map { f =>
          val segs = GraftTable.partitionValues(f).toMap
          val vals: Option[Seq[Option[String]]] =
            if (cols.forall(segs.contains)) Some(cols.map(segs))
            else None
          val b = snap.stats.get(f).flatMap(_.get(column)).collect {
            case (tag, lo, hi) if tag == "long" || tag == "date" =>
              (tag, lo.toLong, hi.toLong)
          }
          for { v <- vals; bb <- b } yield (v, bb)
        }
      if (perFile.exists(_.isEmpty)) None
      else {
        val flat = perFile.flatten
        if (flat.map(_._2._1).distinct.length > 1) None // mixed tags
        else Some(flat.groupBy(_._1).toSeq.map { case (k, fs) =>
          (k, (fs.head._2._1,
            fs.map(_._2._2).min.toString, fs.map(_._2._3).max.toString))
        })
      }
    }.toOption.flatten

  /** Fold per-file footer bounds of `column` over the WHOLE live set —
    * the proof a metadata-only MIN/MAX answer needs. Sound only when:
    * no deletion vectors anywhere (a masked row may hold the extremum),
    * EVERY live file carries the column's stats (an absent entry may
    * mean an all-null or pre-stats file — no proof), and the tag is an
    * exactly-encoded total order ("long" integrals, "date" epoch days;
    * doubles/strings stay scan-path). Returns (tag, min, max). */
  private[graft] def foldedBounds(version: Long,
      column: String): Option[(String, String, String)] = scala.util.Try {
    if (dvOf(version).values.exists(_.nonEmpty)) return None
    val snap = snapshotAt(version)
    if (snap.files.isEmpty) return None
    val phys = colMapOf(version).phys(column)
    val per = snap.files.map(f => snap.stats.get(f).flatMap(_.get(phys)))
    if (per.exists(_.isEmpty)) return None
    val stats = per.flatten
    val tags = stats.map(_._1).distinct
    if (tags.length != 1 || (tags.head != "long" && tags.head != "date"))
      return None
    Some((tags.head, stats.map(_._2.toLong).min.toString,
      stats.map(_._3.toLong).max.toString))
  }.toOption.flatten

  /** Backfill bloom sidecars for every live file of the current version
    * missing one (the commit path indexes files as they are ADDED while
    * `graft.bloom.columns` is set; this covers files that predate the
    * property). Returns the number of sidecars written. */
  def buildBloomIndex(): Int = {
    val props = properties
    val logical = BloomIndex.declaredColumns(props)
    require(logical.nonEmpty,
      s"set TBLPROPERTIES('${BloomIndex.ColumnsProp}'='col,…') before building")
    val v = currentVersion
    buildBloomsFor(manifestFiles(v), props, colMapOf(v), statsOf(v), physicalSchemaAt(v),
      batch => scan(v, batch, Map.empty))
  }

  /** ANALYZE: record per-file approx-distinct (HLL) sketches for
    * `cols` (logical names; default every analyzable column) in ONE
    * metadata commit. Sketches ride the file stats keyed per file
    * ([[NdvStats]]), so OPTIMIZE invalidates only rewritten files'
    * entries and [[columnNdv]] unions exactly the surviving files.
    * The sketch job runs in driver-budgeted batches like the bloom
    * backfill. Returns the committed version. */
  def analyzeColumns(cols: Seq[String] = Nil): Long = {
    val v = currentVersion
    require(v >= 0, "nothing to analyze: empty table")
    val files = manifestFiles(v)
    require(files.nonEmpty, "nothing to analyze: no live files")
    val schema = readVersion(v).schema
    val cm = colMapOf(v)
    val physOf: Map[String, String] =
      if (cm.isIdentity) schema.fieldNames.map(c => c -> c).toMap
      else cm.entries.toMap
    val chosen: Seq[org.apache.spark.sql.types.StructField] =
      if (cols.isEmpty) schema.fields.toSeq
      else {
        val missing = cols.filterNot(schema.fieldNames.contains)
        require(missing.isEmpty, s"no such column(s): ${missing.mkString(", ")}")
        cols.map(c => schema.fields.find(_.name == c).get)
      }
    val physCols = chosen.flatMap { f =>
      NdvStats.sketchable(f.dataType)
        .flatMap(norm => physOf.get(f.name).map(p => (p, norm)))
    }
    require(physCols.nonEmpty,
      s"no analyzable columns among ${chosen.map(_.name).mkString(", ")}")
    val entries = NdvStats.sketchFiles(batch => scan(v, batch, Map.empty),
      files, dataPath, carriedColumns(physicalSchemaAt(v), statsOf(v)), physCols)
    commitRewrite("ANALYZE", Nil, Nil, Map(
      "analyzedColumns" -> chosen.map(_.name).sorted.mkString(","),
      "numFiles" -> entries.size.toString),
      // files rewritten by a concurrent commit drop their (now stale)
      // entries: only still-live files carry the annotation forward
      extraStats = base => {
        val live = manifestFiles(base).toSet
        entries.view.filterKeys(live).toMap
      })
  }

  /** Approx distinct counts (logical column → NDV) of `files` of
    * `version` (default: all its live files): the union of their
    * ANALYZE sketches. Columns not sketched in EVERY file are omitted — a
    * partial union under-claims NDV, which over-claims join
    * selectivity, the direction that mis-plans. */
  def columnNdv(version: Long = currentVersion,
      files: Option[Seq[String]] = None): Map[String, Long] = {
    if (version < 0) return Map.empty
    val snap = snapshotAt(version)
    val cm = colMapOf(version)
    val logicalOf: String => Option[String] =
      if (cm.isIdentity) Some(_)
      else cm.entries.map(_.swap).toMap.get _
    NdvStats.cachedUnion(rootKey, version, files.getOrElse(snap.files), snap.stats, logicalOf)
  }

  /** The physical columns of `schema` a file carries, as its `stats`
    * tell: those they name, plus those of types footer stats may not
    * describe (boolean, binary, floating, timestamp, wide decimal). */
  private def carriedColumns(schema: StructType,
      stats: Map[String, Map[String, (String, String, String)]]): String => Set[String] = {
    import org.apache.spark.sql.types._
    val (described, other) = schema.fields.map(_.name).toSet.partition(c =>
      schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType | StringType => true
        case d: DecimalType => d.precision <= 18
        case _ => false
      })
    f => stats.get(f).filter(_.nonEmpty).fold(described ++ other)(_.keySet ++ other)
  }

  /** Index `files` over the declared bloom columns; no-op when the
    * property is unset. `read` scans a batch of them under the logged
    * physical `schema`. Row-count hints ride the file stats' reserved
    * pseudo-column so filter sizing needs no extra I/O. */
  private def buildBloomsFor(files: Seq[String], props: Map[String, String],
      cm: ColMap,
      stats: Map[String, Map[String, (String, String, String)]],
      schema: StructType, read: Seq[String] => DataFrame): Int = {
    val logical = BloomIndex.declaredColumns(props)
    if (logical.isEmpty || files.isEmpty) return 0
    val physOf = if (cm.isIdentity) logical.map(c => c -> c).toMap
      else cm.entries.toMap
    val phys = logical.flatMap(physOf.get).distinct
    val rowsHint = stats.flatMap { case (f, cols) =>
      cols.get("").collect { case ("rows", lo, _) => f -> lo.toLong }
    }
    val n = BloomIndex.build(read, fs, logDir, files, dataPath,
      carriedColumns(schema, stats), phys, rowsHint, props)
    // cached NEGATIVE lookups (probed before the sidecar existed) must
    // not mask the fresh filters
    if (n > 0) BloomIndex.invalidate(rootKey)
    n
  }

  /** Force a checkpoint at the current version (Delta's
    * `DeltaLog.checkpoint()` parity): writes the parquet checkpoint that
    * snapshot reconstruction starts from instead of replaying the log. */
  def checkpoint(): Unit = {
    val v = currentVersion
    require(v >= 0, "nothing to checkpoint: no committed version")
    writeCheckpoint(v, snapshotAt(v))
  }

  // ---- CHECK constraints (Delta table-constraint parity) ---------------
  //
  // Versioned table metadata: the constraint set is part of every
  // version's metadata, so add/drop are commits visible in history() and RESTORE/time
  // travel restore the constraint set along with the file list — the
  // same "constraints are metadata actions in the transaction log"
  // contract Delta keeps. Enforced on every row-adding operation
  // (write / merge / update) with one validation pass over the incoming
  // rows. SQL CHECK semantics: a row violates only when the expression
  // is FALSE; NULL passes.

  /** Constraint set committed with `version` (empty before any). */
  def constraintsOf(version: Long): Map[String, String] =
    snapshotAt(version).meta.constraints

  def constraints: Map[String, String] = constraintsOf(currentVersion)

  /** ALTER TABLE ADD CONSTRAINT name CHECK (sqlExpr). Existing rows are
    * scanned first and must all satisfy it (Delta behavior); the add is
    * a commit. */
  def addConstraint(name: String, sqlExpr: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n' || c == '\r') &&
      !sqlExpr.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "constraint names/expressions must not contain tabs or newlines")
    require(!constraints.contains(name), s"constraint $name already exists")
    if (currentVersion >= 0) {
      val violations = read().filter(expr(sqlExpr) <=> lit(false)).count()
      require(violations == 0,
        s"cannot add constraint $name: $violations existing rows violate ($sqlExpr)")
    }
    commitRewrite("ADD CONSTRAINT", Nil, Nil,
      Map("name" -> name, "expr" -> sqlExpr),
      newConstraints = Some(constraints + (name -> sqlExpr)))
  }

  /** DROP CONSTRAINT as a commit. */
  def dropConstraint(name: String): Unit =
    commitRewrite("DROP CONSTRAINT", Nil, Nil, Map("name" -> name),
      newConstraints = Some(constraints - name))

  // ---- TBLPROPERTIES (Delta metadata-configuration parity) -------------
  //
  // A free-form string map versioned with the commit exactly like
  // constraints: SET/UNSET are commits visible in history(), and
  // RESTORE/CLONE/time travel carry the set of the version they
  // reference.

  /** Property map committed with `version` (empty before any SET). */
  def propertiesOf(version: Long): Map[String, String] =
    snapshotAt(version).meta.properties

  def properties: Map[String, String] = propertiesOf(currentVersion)

  /** ALTER TABLE SET TBLPROPERTIES (k=v, …) as one commit. */
  def setProperties(props: Map[String, String]): Long = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one property")
    val reserved = props.keys.filter(k =>
      k.startsWith("graft.identity.") ||
      k.startsWith(GraftTable.GeneratedTzKey) || k == RowTracking.HwmProp)
    require(reserved.isEmpty,
      s"system-managed metadata: ${reserved.mkString(", ")}")
    commitRewrite("SET TBLPROPERTIES", Nil, Nil,
      Map("properties" -> props.keys.toSeq.sorted.mkString(",")),
      newProperties = Some(base => propertiesOf(base) ++ props))
  }

  /** ALTER TABLE UNSET TBLPROPERTIES (k, …) as one commit. */
  def unsetProperties(keys: Seq[String]): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    // same reserved guard as setProperties: dropping an identity or
    // row-tracking high-water mark would restart allocation and mint
    // duplicate values; dropping a generated-column zone record would
    // un-pin the zone its stored values were computed under
    val reserved = keys.filter(k =>
      k.startsWith("graft.identity.") ||
      k.startsWith(GraftTable.GeneratedTzKey) || k == RowTracking.HwmProp)
    require(reserved.isEmpty,
      s"system-managed metadata: ${reserved.mkString(", ")}")
    commitRewrite("UNSET TBLPROPERTIES", Nil, Nil,
      Map("properties" -> keys.sorted.mkString(",")),
      newProperties = Some(base => propertiesOf(base) -- keys))
  }

  // ---- identity columns (Delta GENERATED ALWAYS AS IDENTITY parity) ----
  //
  // Metadata lives in reserved TBLPROPERTIES (`graft.identity.<col>` =
  // "start,step,highWaterMark"), versioned with every commit like all
  // properties. Semantics are GENERATED ALWAYS: the engine assigns
  // every value — user-supplied values are rejected on write, UPDATE of
  // an identity column is rejected, and MERGE fills the column only for
  // inserted rows. Values are unique and move in `step` direction but
  // are NOT gap-free (Delta's identity contract): each batch allocates
  // a contiguous range above the high-water mark and the mark advances
  // in the SAME commit; a concurrent writer racing the allocation
  // aborts with ConcurrentModificationException (Delta likewise
  // serializes identity-generating transactions). RESTORE restores the
  // old mark along with the data — the same caveat Delta documents.

  /** name → (start, step, highWaterMark) from the reserved properties. */
  def identityColumns: Map[String, (Long, Long, Long)] =
    properties.collect {
      case (k, v) if k.startsWith("graft.identity.") =>
        val parts = v.split(',')
        k.stripPrefix("graft.identity.") ->
          (parts(0).toLong, parts(1).toLong, parts(2).toLong)
    }

  /** ALTER TABLE ADD COLUMN c BIGINT GENERATED ALWAYS AS IDENTITY:
    * adds the column (metadata-only, existing rows read NULL — they
    * predate the identity) and registers the generator. */
  def addIdentityColumn(name: String, start: Long = 1L, step: Long = 1L): Unit = {
    require(step != 0, "identity step must be nonzero")
    addColumn(name, org.apache.spark.sql.types.LongType)
    commitRewrite("ADD IDENTITY", Nil, Nil,
      Map("name" -> name, "start" -> start.toString, "step" -> step.toString),
      newProperties = Some(base => propertiesOf(base) +
        (s"graft.identity.$name" -> s"$start,$step,${start - step}")))
  }

  /** Fill NULL identity values of `df` with a fresh contiguous range per
    * column and return the filled frame plus the commit-closure guard:
    * `newProperties` advancing each mark, and a check that the
    * predecessor's marks still match what this allocation read (a
    * concurrent identity write moved them ⇒ the baked values could
    * collide ⇒ abort). Costs one extra pass over `df` per identity
    * column (the range needs the row count). */
  private def assignIdentity(df: DataFrame)
      : (DataFrame, Option[Long => Map[String, String]], Long => Unit) = {
    val ids = identityColumns
    if (ids.isEmpty) return (df, None, _ => ())
    var out = ids.keys.filterNot(df.columns.contains)
      .foldLeft(df)((d, c) => d.withColumn(c, lit(null).cast("bigint")))
    // only the moved identity keys are recorded, applied as a DELTA over
    // the base's properties — a concurrent non-identity
    // SET TBLPROPERTIES survives this write's commit (the guard below
    // still aborts if the identity marks themselves moved)
    var delta = Map.empty[String, String]
    ids.foreach { case (c, (start, step, hwm)) =>
      val toFill = out.filter(col(c).isNull)
      val n = toFill.count()
      if (n > 0) {
        // window over a constant key would single-partition the batch;
        // zipWithIndex keeps the existing partitioning (one extra job)
        val schema = out.schema
        val idx = schema.fieldIndex(c)
        val filledRdd = toFill.rdd.zipWithIndex().map { case (row, i) =>
          org.apache.spark.sql.Row.fromSeq(
            row.toSeq.updated(idx, hwm + step * (i + 1)))
        }
        val filled = spark.createDataFrame(filledRdd, schema)
        out = out.filter(col(c).isNotNull).unionByName(filled)
        delta = delta.updated(s"graft.identity.$c",
          s"$start,$step,${hwm + step * n}")
      }
    }
    val expected = ids.map { case (k, v) => s"graft.identity.$k" ->
      s"${v._1},${v._2},${v._3}" }
    val guard: Long => Unit = { base =>
      val baseProps = propertiesOf(base)
      val moved = expected.keys.filter(k => baseProps.get(k) != expected.get(k))
      if (moved.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"identity allocation aborted: ${moved.mkString(", ")} advanced " +
        "under a concurrent write; re-run against the new snapshot")
    }
    val d = delta
    (out, if (d.isEmpty) None else Some(base => propertiesOf(base) ++ d), guard)
  }

  /** One validation job over rows about to be committed. */
  private def enforceConstraints(df: DataFrame): Unit =
    constraints.foreach { case (name, e) =>
      val violations = df.filter(expr(e) <=> lit(false)).count()
      if (violations > 0)
        throw new IllegalArgumentException(
          s"CHECK constraint $name ($e) violated by $violations incoming rows")
    }

  // ---- generated columns (Delta GENERATED ALWAYS AS parity) ------------
  //
  // Versioned metadata like constraints: a name → expression map in
  // the version's metadata, carried per commit, restored by RESTORE,
  // copied by CLONE. On write, an ABSENT generated column is computed
  // from its expression; a PRESENT one is validated against it (a
  // writer supplying inconsistent values is rejected). UPDATE recomputes
  // generated columns it doesn't explicitly assign for the rewritten
  // rows, and validates explicitly-assigned ones.

  /** Generated-column set committed with `version`. */
  def generatedOf(version: Long): Map[String, String] =
    snapshotAt(version).meta.generated

  def generatedColumns: Map[String, String] = generatedOf(currentVersion)

  /** Declare `name` GENERATED ALWAYS AS (sqlExpr). Existing rows must
    * already satisfy the definition (scanned first, like addConstraint);
    * the add is a commit. */
  def addGeneratedColumn(name: String, sqlExpr: String): Unit = {
    require(!name.exists(c => c == '\t' || c == '\n' || c == '\r') &&
      !sqlExpr.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "generated-column names/expressions must not contain tabs or newlines")
    require(!generatedColumns.contains(name), s"$name is already generated")
    if (currentVersion >= 0 && manifestFiles().nonEmpty) {
      val cur = read()
      require(cur.columns.contains(name),
        s"cannot declare $name generated: the column does not exist " +
        "(generated columns are declared over an existing column; new " +
        "columns arrive via mergeSchema writes)")
      val bad = cur.filter(!(col(name) <=> expr(sqlExpr))).count()
      require(bad == 0,
        s"cannot declare $name GENERATED AS ($sqlExpr): $bad existing rows disagree")
    }
    // the declaring session's zone is part of the rule: stored values
    // are f-under-THIS-zone, so later writes must match it and filter
    // derivation must evaluate under it (reader zones may differ)
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    commitRewrite("ADD GENERATED COLUMN", Nil, Nil,
      Map("name" -> name, "expr" -> sqlExpr),
      newGenerated = Some(generatedColumns + (name -> sqlExpr)),
      newProperties = Some(base =>
        propertiesOf(base) + (GraftTable.GeneratedTzKey + name -> tz)))
  }

  /** Drop the generation rule (the column stays, values keep). */
  def dropGeneratedColumn(name: String): Unit =
    commitRewrite("DROP GENERATED COLUMN", Nil, Nil, Map("name" -> name),
      newGenerated = Some(generatedColumns - name),
      newProperties = Some(base =>
        propertiesOf(base) - (GraftTable.GeneratedTzKey + name)))

  /** Reject compute/validate of a TZ-sensitive generated definition
    * under a session zone other than the one recorded at declaration:
    * the same row would otherwise generate different stored values in
    * different sessions, and [[GeneratedPruning]]'s implications over
    * the column would silently drop matching rows. */
  private def requireGeneratedTz(gen: Map[String, String],
      baseType: String => Option[org.apache.spark.sql.types.DataType]): Unit = {
    val sessionTz = spark.sessionState.conf.sessionLocalTimeZone
    val props = properties
    gen.foreach { case (name, e) =>
      props.get(GraftTable.GeneratedTzKey + name).foreach { declared =>
        if (declared != sessionTz && GeneratedPruning.tzSensitive(spark, e,
            GeneratedPruning.baseRef(spark, e).flatMap(baseType)))
          throw new IllegalArgumentException(
            s"generated column $name ($e) was declared under session time " +
            s"zone $declared but this session uses $sessionTz; its value " +
            "depends on the zone, so writing now would store values " +
            "inconsistent with the existing data. Set " +
            s"spark.sql.session.timeZone=$declared for this write.")
      }
    }
  }

  // ---- column DEFAULT values (Delta/ANSI parity) -----------------------
  //
  // Stored as CURRENT_DEFAULT metadata on the field in the recorded
  // schema — the same key Spark itself records for DSv2 column
  // defaults — so defaults version WITH the schema: carried by every
  // commit, restored by RESTORE, copied by CLONE, visible to time
  // travel, and attached to the PHYSICAL field so logical RENAME keeps
  // them. ANSI/Delta write semantics: the default applies to FUTURE
  // writes that omit the column; existing rows are untouched, and files
  // written before the column existed still read NULL (Delta rejects
  // ADD COLUMN … DEFAULT for exactly this reason — so do we, by only
  // offering SET DEFAULT on existing columns). Delta scopes application
  // to SQL INSERT; here the completion lives in write(), so the
  // DataFrame API and every SQL path funneling through it behave
  // identically (a strictly wider application, documented divergence).

  /** Logical column → DEFAULT expression recorded with `version`. */
  def defaultsOf(version: Long): Map[String, String] =
    schemaOf(version).map { phys =>
      logicalSchema(phys, colMapOf(version)).fields.iterator.flatMap { f =>
        if (f.metadata.contains(GraftTable.DefaultKey))
          Some(f.name -> f.metadata.getString(GraftTable.DefaultKey))
        else None
      }.toMap
    }.getOrElse(Map.empty)

  def columnDefaults: Map[String, String] = defaultsOf(currentVersion)

  /** ALTER TABLE … ALTER COLUMN `name` SET DEFAULT (`sqlExpr`). The
    * expression must be a constant (no column references) that casts to
    * the column's type — Spark/Delta's own requirement for defaults. */
  def setColumnDefault(name: String, sqlExpr: String): Long = {
    require(parseRefs(sqlExpr).isEmpty,
      s"DEFAULT ($sqlExpr) must be a constant expression " +
      "(column references are not allowed)")
    require(!generatedColumns.contains(name) && !identityColumns.contains(name),
      s"column $name is generated; generated/identity columns cannot " +
      "carry a DEFAULT")
    val cur = schemaOf(currentVersion).map(logicalSchema(_, colMap))
      .getOrElse(read().schema)
    val dt = cur.fields.find(_.name == name).map(_.dataType).getOrElse(
      throw new IllegalArgumentException(
        s"cannot set DEFAULT on unknown column $name"))
    // evaluate once: unresolvable functions and ANSI cast failures
    // surface here, at SET time, not at some later writer's commit; a
    // non-null value casting to null (non-ANSI) is the same rejection
    val probe =
      try spark.range(1)
        .select(expr(sqlExpr).as("raw"), expr(sqlExpr).cast(dt).as("casted"))
        .head()
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"DEFAULT ($sqlExpr) does not cast to ${dt.simpleString} for " +
          s"column $name: ${e.getMessage}", e)
      }
    require(probe.isNullAt(0) || !probe.isNullAt(1),
      s"DEFAULT ($sqlExpr) does not cast to ${dt.simpleString} for column $name")
    commitRewrite("ALTER COLUMN SET DEFAULT", Nil, Nil,
      Map("name" -> name, "default" -> sqlExpr),
      newSchema = Some(base => withFieldMetadata(base, name, m =>
        m.putString(GraftTable.DefaultKey, sqlExpr))))
  }

  /** ALTER TABLE … ALTER COLUMN `name` DROP DEFAULT (the column and its
    * existing values keep; future writes must supply it again). */
  def dropColumnDefault(name: String): Long =
    commitRewrite("ALTER COLUMN DROP DEFAULT", Nil, Nil, Map("name" -> name),
      newSchema = Some(base => withFieldMetadata(base, name, m =>
        m.remove(GraftTable.DefaultKey))))

  /** Schema of `base` with `name`'s field metadata rewritten through
    * `f` — resolved against the base the commit lands on, inside the closure,
    * so a conflict-retry lands on the schema that actually won. */
  private def withFieldMetadata(base: Long, name: String,
      f: org.apache.spark.sql.types.MetadataBuilder =>
         org.apache.spark.sql.types.MetadataBuilder): StructType = {
    val cur = physicalSchemaAt(base)
    val cm = colMapOf(base)
    val phys =
      if (cm.isIdentity) name
      else cm.entries.find(_._1 == name).map(_._2).getOrElse(name)
    require(cur.fieldNames.contains(phys),
      s"column $name does not exist (a concurrent commit may have " +
      "dropped or renamed it); re-run against the new snapshot")
    StructType(cur.fields.map { fld =>
      if (fld.name != phys) fld
      else fld.copy(metadata = f(new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(fld.metadata)).build())
    })
  }

  /** Complete absent DEFAULT-carrying columns from their expressions
    * (cast to the column type); present columns pass through untouched —
    * defaults never validate, unlike generated columns. */
  private def applyDefaults(df: DataFrame): DataFrame = {
    if (currentVersion < 0) return df
    val defaults = columnDefaults
    if (defaults.isEmpty) return df
    val types = schemaOf(currentVersion).map(logicalSchema(_, colMap))
      .map(_.fields.map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty)
    val present = df.columns.toSet
    defaults.foldLeft(df) { case (d, (name, e)) =>
      if (present(name) || !types.contains(name)) d
      else d.withColumn(name, expr(e).cast(types(name)))
    }
  }

  /** Complete absent generated columns from their expressions; validate
    * the ones the writer supplied. Returns the completed frame. */
  private def applyGenerated(df: DataFrame): DataFrame = {
    val gen = generatedColumns
    if (gen.isEmpty) return df
    requireGeneratedTz(gen,
      c => df.schema.fields.find(_.name == c).map(_.dataType))
    val present = df.columns.toSet
    gen.foreach { case (name, e) =>
      if (present(name)) {
        val bad = df.filter(!(col(name) <=> expr(e))).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"generated column $name ($e): $bad incoming rows supply a " +
          "different value; omit the column to have it computed")
      }
    }
    gen.foldLeft(df) { case (d, (name, e)) =>
      if (present(name)) d else d.withColumn(name, expr(e))
    }
  }

  // ---- S4/S5: write ----------------------------------------------------

  /** Write `df`, hive-partitioned. Physical files are always appended;
    * `Overwrite` is logical (the new manifest simply stops referencing
    * old files — they await vacuum).
    *
    * Schema enforcement (the Delta behavior the reference relies on,
    * README.md:25): once a version exists, appends must match its
    * column names and types exactly; pass `mergeSchema = true` to allow
    * new nullable columns (existing columns still cannot change type).
    */
  def write(df: DataFrame, mode: SaveMode = SaveMode.Overwrite,
      mergeSchema: Boolean = false,
      overwriteSchema: Boolean = false,
      extraMetrics: Map[String, String] = Map.empty,
      replaceWhere: Option[String] = None,
      dynamicPartitionOverwrite: Boolean = false): Long = {
    // targeted overwrites are PARTIAL: they never replace the table
    // schema and never apply in append mode (Delta rejects the same
    // combinations)
    require(replaceWhere.isEmpty || mode != SaveMode.Append,
      "replaceWhere requires SaveMode.Overwrite")
    require(!dynamicPartitionOverwrite || mode != SaveMode.Append,
      "dynamic partition overwrite requires SaveMode.Overwrite")
    require(replaceWhere.isEmpty || !dynamicPartitionOverwrite,
      "replaceWhere and dynamic partition overwrite cannot be combined")
    require((replaceWhere.isEmpty && !dynamicPartitionOverwrite) || !overwriteSchema,
      "overwriteSchema cannot apply to a partial (replaceWhere / dynamic " +
      "partition) overwrite")
    require(!dynamicPartitionOverwrite || partitionColumns.nonEmpty,
      "dynamic partition overwrite needs a partitioned table")
    // absent generated and DEFAULT-carrying columns complete BEFORE
    // schema enforcement (the completed column is part of the incoming
    // schema, not a mismatch)
    val df0g = applyDefaults(applyGenerated(df))
    // identity columns are GENERATED ALWAYS: user-supplied values are
    // rejected; absent/NULL values fill from the high-water mark (the
    // mark advances in this write's own commit, guarded below)
    identityColumns.keys.filter(df0g.columns.contains).foreach { c =>
      require(df0g.filter(col(c).isNotNull).isEmpty,
        s"column $c is GENERATED ALWAYS AS IDENTITY; values cannot be supplied")
    }
    val (df0i, idProps, idGuard) = assignIdentity(df0g)
    // schema enforcement applies to OVERWRITE too (Delta behavior: an
    // accidental overwrite with a different schema must not silently
    // replace the table schema); `overwriteSchema = true` is the
    // explicit escape hatch, mirroring Delta's overwriteSchema option
    val df0 = if (currentVersion >= 0 &&
        (manifestFiles().nonEmpty || schemaOf(currentVersion).exists(_.nonEmpty)) &&
        (mode == SaveMode.Append || !overwriteSchema)) {
      // recorded-schema fast path: enforcement needs the SCHEMA, not a
      // scan — a blind append to a recorded-schema table never plans a
      // read over the live file list
      val existing = schemaOf(currentVersion).filter(_.nonEmpty)
        .map(logicalSchema(_, colMap)).getOrElse(read().schema)
      val incoming = df0i.schema
      val eTypes = existing.fields.map(f => f.name -> f.dataType).toMap
      val iTypes = incoming.fields.map(f => f.name -> f.dataType).toMap
      val changed = eTypes.keySet.intersect(iTypes.keySet)
        .filter(c => eTypes(c) != iTypes(c))
      // on a table that OPTED INTO widening, a narrower incoming column
      // under a widened table column upcasts silently (Delta
      // type-widening write behavior); un-widened tables keep strict
      // enforcement — a type drift there is a bug to surface, not mend
      val upcast =
        if (propertiesOf(currentVersion).contains(TypeWidening.Prop))
          changed.filter(c => TypeWidening.allowed(iTypes(c), eTypes(c)))
        else Set.empty[String]
      val hard = changed -- upcast
      if (hard.nonEmpty)
        throw new IllegalArgumentException(
          s"schema enforcement: column type changes rejected: ${hard.mkString(", ")}")
      val extra = iTypes.keySet -- eTypes.keySet
      val missing = eTypes.keySet -- iTypes.keySet
      if (!mergeSchema && (extra.nonEmpty || missing.nonEmpty))
        throw new IllegalArgumentException(
          "schema enforcement: column set mismatch " +
          s"(extra: $extra, missing: $missing); pass mergeSchema=true to evolve" +
          (if (mode != SaveMode.Append) " or overwriteSchema=true to replace" else ""))
      upcast.foldLeft(df0i)((d, c) => d.withColumn(c, col(c).cast(eTypes(c))))
    } else df0i
    enforceConstraints(df0)
    // every incoming row must satisfy the replaceWhere predicate (Delta
    // rejects rows outside the replaced region) — checked BEFORE any
    // file is written
    replaceWhere.foreach { w =>
      val viol = df0.filter(!coalesce(expr(w), lit(false))).count()
      require(viol == 0,
        s"replaceWhere ($w): $viol incoming rows do not satisfy the predicate")
    }
    // incoming LOGICAL columns land under their mapped PHYSICAL names;
    // mergeSchema-new columns extend the map (fresh physical when the
    // name was retired by a DROP — old files' values never resurrect).
    // An overwriteSchema overwrite REPLACES every live file, so the
    // map resets to identity and the new data lands under its own
    // names (earlier versions keep their own maps for time travel).
    val schemaReset = mode != SaveMode.Append && overwriteSchema
    val (physDf, mapAdds) =
      if (schemaReset) (df0, Nil) else toPhysical(df0, colMap)
    val nextMap: Option[Long => ColMap] =
      if (schemaReset) Some(_ => ColMap(Nil, Nil))
      else if (mapAdds.isEmpty) None
      else Some(colMapExtension("mergeSchema write", mapAdds))
    // optimized writes (Delta optimizeWrite parity): shuffle the rows
    // by the partition columns before writing, so each partition dir
    // gets ONE task's worth of full files instead of one sliver per
    // (task × partition) — at 1000 executors an un-shuffled write of a
    // 3-partition frame plants 3000 small files per batch. Prevention
    // at write time; `graft.autoCompact` remains the repair path.
    val physOut =
      if (partitionColumns.nonEmpty &&
          propertiesOf(currentVersion).get("graft.optimizeWrite")
            .exists(_.toBoolean))
        physDf.repartition(partitionColumns
          .map(c => col(colMap.physicalOf.getOrElse(c, c))): _*)
      else physDf
    val added = appendDataFiles(physOut)
    // record the physical schema: append and PARTIAL overwrites UNION
    // new columns onto the base schema (mergeSchema evolution; a
    // replaceWhere / dynamic overwrite leaves untouched partitions'
    // columns intact); a full overwrite REPLACES it
    val partialOverwrite = replaceWhere.isDefined || dynamicPartitionOverwrite
    val nextSchema: Option[Long => StructType] =
      if (mode == SaveMode.Append || partialOverwrite) Some { base =>
        val cur = physicalSchemaAt(base)
        val have = cur.fieldNames.toSet
        physDf.schema.fields.filterNot(f => have(f.name)).foldLeft(cur)(_ add _)
      }
      else Some(_ => physDf.schema)
    val v = mode match {
      // a blind append is a pure ADD action: no file-list read at all —
      // this is the O(delta) commit (a one-row append to a million-file
      // table writes one action line). Blind appends are commutative: a
      // writer losing the put race re-commits ITS files on top of the
      // winner (Delta's rule for AddFile-only transactions)
      case SaveMode.Append => commit("APPEND", added, extraMetrics,
        newColMap = nextMap, newSchema = nextSchema,
        newProperties = idProps, retry = true,
        removes = base => { idGuard(base); Nil })
      // replaceWhere: replace EXACTLY the rows matching the predicate in
      // one commit — a partition-column predicate resolves its file set
      // from hive paths alone (no data read, whole files dropped); a
      // data predicate rewrites only the files that may hold matching
      // rows, keeping their non-matching rows. Conflict-checked like any
      // snapshot-derived rewrite: inputs gone or DV-changed under a
      // concurrent commit ⇒ abort (orphaned written files await VACUUM).
      case _ if replaceWhere.isDefined =>
        val w = replaceWhere.get
        val matches = coalesce(expr(w), lit(false))
        val dvRead = dvOf(currentVersion)
        val refs = parseRefs(w)
        val partitionOnly =
          refs.nonEmpty && refs.subsetOf(partitionColumns.toSet)
        val affected =
          if (currentVersion < 0 || manifestFiles().isEmpty) Nil
          else if (partitionOnly) partitionScopedFiles(w, manifestFiles())
          else affectedFiles(expr(w), dvRead)
        // data-predicate files keep their rows NOT matching the
        // predicate; partition-scoped files match wholesale (no read)
        val kept =
          if (partitionOnly || affected.isEmpty) Nil
          else appendDataFiles(toPhysicalStrict(
            readLive(affected, dvRead).filter(!matches)))
        commitRewrite("WRITE", affected, added ++ kept,
          extraMetrics ++ Map("replaceWhere" -> w,
            "numFilesReplaced" -> affected.size.toString),
          readDv = dvRead, preCommitCheck = idGuard,
          newColMap = nextMap, newSchema = nextSchema,
          newProperties = idProps)
      // dynamic partition overwrite: replace exactly the partitions the
      // incoming data landed in (Delta's partitionOverwriteMode=dynamic)
      // — untouched partitions carry over unread
      case _ if dynamicPartitionOverwrite =>
        def dirOf(f: String): String = f.lastIndexOf('/') match {
          case -1 => ""
          case i => f.take(i)
        }
        val touched = added.map(a => dirOf(a.path)).toSet
        commit("WRITE", added,
          extraMetrics ++ Map("partitionOverwriteMode" -> "dynamic",
            "numPartitionsReplaced" -> touched.size.toString),
          removes = base => {
            idGuard(base)
            manifestFiles(base).filter(f => touched(dirOf(f)))
          },
          newColMap = nextMap, newSchema = nextSchema,
          newProperties = idProps)
      // overwrite removes the predecessor the commit lands on's whole live set —
      // inherently O(live-files), as the operation's semantics demand
      case _ => commit("WRITE", added, extraMetrics,
        removes = base => { idGuard(base); manifestFiles(base) },
        newColMap = nextMap, newSchema = nextSchema,
        newProperties = idProps)
    }
    maybeAutoCompact(added.map(_.path))
    v
  }

  /** Post-commit auto-compaction (Delta autoCompact parity, opt-in via
    * `TBLPROPERTIES ('graft.autoCompact' = 'true')`): when a partition
    * this write touched has accumulated at least
    * `graft.autoCompact.minNumFiles` (default 8) live files below 1/8
    * of the OPTIMIZE target size, compact EXACTLY those partitions with
    * a scoped OPTIMIZE — streaming/micro-batch ingest then self-heals
    * its small-file debt right where it accrues instead of waiting for
    * a table-wide maintenance pass. Best-effort: a compaction lost to a
    * concurrent commit is dropped (the next write retriggers), never
    * failing the write that landed. */
  private def maybeAutoCompact(justAdded: Seq[String]): Unit = {
    val props = properties
    if (!props.get("graft.autoCompact").exists(_.equalsIgnoreCase("true")))
      return
    val minFiles = props.get("graft.autoCompact.minNumFiles")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(8)
    val smallCut = GraftTable.DefaultTargetFileSizeBytes / 8
    val snap = snapshotAt(currentVersion)
    def partOf(f: String): String = f.lastIndexOf('/') match {
      case -1 => ""
      case i => f.take(i)
    }
    val touched = justAdded.map(partOf).toSet
    val smallByPart = snap.files
      .filter(f => touched(partOf(f)))
      .filter(f => snap.sizes.get(f).forall(_ < smallCut))
      .groupBy(partOf)
      .filter(_._2.size >= minFiles)
    if (smallByPart.isEmpty) return
    val where =
      if (partitionColumns.isEmpty) None
      else Some(smallByPart.values.map { files =>
        GraftTable.partitionValues(files.head).map {
          case (c, None) => s"$c IS NULL"
          case (c, Some(value)) => s"$c = '${value.replace("'", "''")}'"
        }.mkString("(", " AND ", ")")
      }.mkString(" OR "))
    scala.util.Try(optimize(Nil, where = where))
  }

  /** Files of `live` whose hive-path partition values satisfy a
    * partition-column predicate — resolved from the paths ALONE, no data
    * read (at scale the predicate prunes directories, not rows), and a
    * fully-vectored partition still matches (a DV-applied row scan
    * would see no live rows and skip it). */
  private def partitionScopedFiles(w: String, live: Seq[String]): Seq[String] = {
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__file",
        org.apache.spark.sql.types.StringType) +:
      partitionColumns.map(c => org.apache.spark.sql.types.StructField(
        c, org.apache.spark.sql.types.StringType)))
    val rows = live.map { f =>
      val kvs = GraftTable.partitionValues(f).toMap
      org.apache.spark.sql.Row.fromSeq(f +: partitionColumns.map(c =>
        kvs.get(c).flatten.orNull))
    }
    // parsed values are strings; cast them to the TABLE'S partition
    // column types before evaluating the predicate, so `year > 9`
    // compares numerically exactly as a data scan would (string
    // coercion would scope `"10" > "9"` wrongly)
    val partTypes = read().schema.fields
      .filter(f => partitionColumns.contains(f.name))
      .map(f => f.name -> f.dataType).toMap
    // a local relation: the optimizer folds the casts and the predicate
    // into it, so the driver evaluates them and no Spark job runs
    import scala.jdk.CollectionConverters._
    val typed = partTypes.foldLeft(spark.createDataFrame(rows.asJava, schema)) {
      case (d, (c, t)) => d.withColumn(c, col(c).cast(t)) }
    typed.filter(expr(w)).select("__file").collect().map(_.getString(0)).toSeq
  }

  /** Bounded retry for commits losing the put race for the next version.
    * Only a live concurrent writer can win a race — a crashed one leaves
    * no record — so running out of attempts means sustained contention.
    *
    * Budget sizing: each lost race re-runs the attempt, and on a busy
    * cluster a commit takes seconds — N concurrent writers make N
    * consecutive losses ROUTINE, not exceptional (Delta's own commit
    * retry allows ~10^7 ms for exactly this reason; the old 20×5 ms
    * linear budget gave up after ~1 s of total backoff and failed real
    * 6-writer runs on a loaded box). Quadratic backoff capped at 1 s,
    * plus jitter so lockstep writers don't re-collide every round. */
  private def retryOnConflict[T](maxAttempts: Int = 50)(body: => T): T = {
    val jitter = new scala.util.Random()
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: GraftTable.CommitConflictException =>
          if (attempt >= maxAttempts) throw new IllegalStateException(
            s"commit still conflicting after $maxAttempts attempts: every " +
            "attempt lost the next version to a concurrent writer", e)
          attempt += 1
          Thread.sleep(math.min(1000L, 5L * attempt * attempt) +
            jitter.nextInt(25).toLong)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- idempotent writes (Delta txnAppId/txnVersion parity) ------------
  //
  // Txn markers ride the commit info of the commit they protect; every
  // snapshot folds them into an appId → max txnVersion map, and every
  // checkpoint carries that map, so the lookup reads no record at all
  // once the current snapshot is cached, and log truncation never loses
  // replay protection (exactly-once streams span cleanups).

  /** Latest checkpoint at or below `upTo`, if any. */
  def latestCheckpointVersion(upTo: Long = currentVersion): Option[Long] =
    logNames().flatMap(versionOf(_, ".ckpt.parquet")).filter(_ <= upTo).maxOption

  /** Highest transaction version committed for `appId`, −1 if none —
    * Delta's SetTransaction lookup, served by the current snapshot. */
  def lastTxnVersion(appId: String): Long =
    snapshotAt(currentVersion).txn.getOrElse(appId, -1L)

  /** Exactly-once append for streaming sinks: the batch commits only if
    * `txnVersion` is strictly newer than the last committed version for
    * `appId` — a replayed micro-batch (restart after a sink commit but
    * before the checkpoint advanced) becomes a no-op instead of a
    * duplicate. Returns the committed version, or None when skipped. */
  def idempotentAppend(df: DataFrame, appId: String, txnVersion: Long): Option[Long] = {
    if (txnVersion <= lastTxnVersion(appId)) None
    else Some(write(df, SaveMode.Append, extraMetrics = Map(
      "txnAppId" -> appId, "txnVersion" -> txnVersion.toString)))
  }

  /** COPY INTO (Delta parity): idempotent bulk file ingestion — each
    * SOURCE file loads exactly once (identified by its path, Delta's
    * contract; `force` reloads). Per-file markers ride the loading
    * commit itself ("txnMulti" metric → the txn map, checkpoint-folded
    * like streaming txns), so a crash between commits re-skips exactly
    * the loaded files. Files load in bounded batches (one commit per
    * [[GraftTable.CopyIntoBatchFiles]] files) — marker records stay
    * driver-sized and a 100 k-file backfill is a sequence of ordinary
    * append commits, resumable at any boundary.
    *
    * Returns (files loaded this call, last committed version). */
  def copyInto(source: String, format: String = "parquet",
      formatOptions: Map[String, String] = Map.empty,
      force: Boolean = false,
      mergeSchema: Boolean = false): (Int, Long) = {
    require(currentVersion >= 0,
      s"COPY INTO target at $path does not exist — CREATE TABLE first " +
      "(Delta's contract: the target table must exist)")
    val conf = spark.sessionState.newHadoopConf()
    val src = new Path(source)
    val sfs = src.getFileSystem(conf)
    val listed: Seq[Path] =
      if (source.exists("*?[{".contains(_)))
        sfs.globStatus(src).toSeq.filter(_.isFile).map(_.getPath)
      else if (sfs.getFileStatus(src).isFile) Seq(src)
      else GraftTable.listTree(sfs, src).map(_.getPath).filter { p =>
        val n = p.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    def markerOf(p: Path): String = s"graft-copy-into:${p.toUri.getPath}"
    val known = snapshotAt(currentVersion).txn
    val fresh = (if (force) listed
      else listed.filterNot(p => known.contains(markerOf(p))))
      .sortBy(_.toUri.getPath)
    var last = currentVersion
    fresh.grouped(GraftTable.CopyIntoBatchFiles).foreach { chunk =>
      val df = spark.read.format(format).options(formatOptions)
        .load(chunk.map(_.toString): _*)
      val multi = chunk.map(p =>
        java.net.URLEncoder.encode(markerOf(p), "UTF-8")).mkString(",")
      last = write(df, SaveMode.Append, mergeSchema = mergeSchema,
        extraMetrics = Map("txnMulti" -> multi, "sourceOp" -> "COPY INTO"))
    }
    (fresh.size, last)
  }

  // ---- S6/S7: read -----------------------------------------------------

  /** Scan the current manifest's files. basePath keeps the hive partition
    * columns in the schema. */
  def read(): DataFrame = readVersion(currentVersion)

  /** Hive partition columns of `version`'s layout: parsed from the
    * manifest's file paths, or — for a file-less table — from the most
    * recent commit that recorded them (CREATE TABLE). */
  def layoutPartitionColumns(version: Long = currentVersion): Seq[String] =
    manifestFiles(version).headOption match {
      case Some(f) => GraftTable.partitionValues(f).map(_._1)
      case None =>
        (version to 0L by -1).iterator
          .flatMap(v => commitInfo(v).flatMap(_.metrics.get("partitionColumns")))
          .collectFirst { case s if s.nonEmpty => s.split(',').toSeq }
          .getOrElse(Nil)
    }

  /** Commit wall-clock of `version` (epoch ms), from its commit info. */
  def commitTimestamp(version: Long): Option[Long] = commitInfo(version).map(_.timestamp)

  /** Latest version committed at or before `epochMs` — Delta's
    * `TIMESTAMP AS OF` resolution. Fails when the timestamp predates
    * every RETAINED commit (earlier records may have been cleaned up —
    * same contract as Delta's log retention). */
  def versionAtTime(epochMs: Long): Long = {
    val cur = currentVersion
    require(cur >= 0, s"graft table at $path has no commits")
    // walk BACKWARD from the current version and stop at the first
    // retained commit at/before the bound: timestamps are
    // commit-monotonic (Delta's contract), so the first hit is the
    // answer and a long history costs only the versions AFTER the
    // target instead of a full 0..currentVersion log read
    var v = cur
    while (v >= 0) {
      if (commitTimestamp(v).exists(_ <= epochMs)) return v
      v -= 1
    }
    throw new IllegalArgumentException({
      val earliest = (0L to cur).find(hasVersion).flatMap(commitTimestamp)
        .map(java.time.Instant.ofEpochMilli(_).toString).getOrElse("?")
      s"requirement failed: timestamp " +
      s"${java.time.Instant.ofEpochMilli(epochMs)} predates the " +
      s"earliest retained commit ($earliest) of the graft table at $path"
    })
  }

  /** Latest retained version committed strictly BEFORE `epochMs`; None
    * when every retained commit is at/after it (or the table is empty).
    * The streaming `startingTimestamp` resolver: commits at/after the
    * timestamp flow as changes past this exclusive start. */
  def versionBeforeTime(epochMs: Long): Option[Long] = {
    // walk BACKWARD from the current version and stop at the first
    // retained commit whose timestamp is earlier than the bound: Delta
    // assumes monotonic commit timestamps, so the first hit is the
    // answer and a long history costs only the versions AFTER the
    // target, not all of 0..currentVersion per stream start
    var v = currentVersion
    while (v >= 0) {
      if (commitTimestamp(v).exists(_ < epochMs)) return Some(v)
      v -= 1
    }
    None
  }

  /** Physical recorded schema → logical view (mapped names, map order). */
  private def logicalSchema(phys: StructType, cm: ColMap): StructType =
    if (cm.isIdentity) phys
    else StructType(cm.entries.flatMap { case (l, ph) =>
      phys.fields.find(_.name == ph).map(f => f.copy(name = l)) })

  /** Time travel: scan the file set of an older committed version. Files
    * of past versions remain on disk until VACUUM reclaims them, so any
    * un-vacuumed version stays readable (vacuumed versions fail at scan
    * time with missing files — same contract as Delta). A committed
    * version CAN be legitimately FILE-LESS (SQL CREATE TABLE before any
    * data, DELETE that matched every row): it reads as an empty frame
    * with the version's schema. Only a table that never had data or
    * schema — or whose history was fully vacuumed — is unreadable. */
  def readVersion(version: Long): DataFrame = {
    val files = manifestFiles(version)
    if (files.isEmpty && ((!hasVersion(version) && version != currentVersion) ||
        physicalSchemaAt(version).isEmpty))
      throw new IllegalStateException(
        s"graft table at $path has no committed version $version")
    toLogical(scan(version, files, dvOf(version), pinned = true), colMapOf(version))
  }

  /** Snapshot read surfacing each row's stable `_row_id`
    * ([[RowTracking]]): file base + `_metadata.row_index`, attached via
    * a broadcast file→base join (rows ∝ file count, never data size).
    * Deletion vectors apply first, so surviving rows keep the ids they
    * were born with. Rows in files committed without a base (adoption
    * paths without stats, or rows predating the property) read a null
    * `_row_id`. */
  def readWithRowIds(version: Long = currentVersion): DataFrame = {
    require(RowTracking.enabled(propertiesOf(version)),
      s"row tracking is not enabled on the graft table at $path — set " +
      s"TBLPROPERTIES('${RowTracking.Prop}'='true') and write data first")
    val baseRows = RowTracking.bases(statsOf(version)).toSeq
      .map { case (f, b) => (dataPath(f).toUri.getPath, b) }
    import spark.implicits._
    toLogical(scan(version, manifestFiles(version), dvOf(version), withMeta = true,
        pinned = true), colMapOf(version))
      .join(broadcast(baseRows.toDF("__path", "__base")), Seq("__path"), "left")
      .withColumn("_row_id",
        when(col("__base").isNotNull, col("__base") + col("__pos"))
          .cast("bigint"))
      .drop("__path", "__pos", "__base")
  }

  // ---- M1: OPTIMIZE (compact + cluster + bin-pack) ---------------------

  /** Compact the table toward `targetFileSizeBytes` files, clustered by
    * `clusterBy` within each file — the reference's `OPTIMIZE … ZORDER BY
    * (timestamp_ms)` (maintenance.py:140-154), whose compaction is a
    * bin-packing toward ~1 GB files (DESIGN.md:20-24). For a single
    * cluster column, a plain sort is exactly a 1-D Z-order (SURVEY.md
    * §7.4); parquet row-group min/max stats on the sorted column then
    * give the same time-range file skipping Delta's Z-order targets.
    * Multi-column clustering composes with [[graft.functions.ZOrder]]'s
    * interleaved key.
    *
    * Bin-packing: the number of output tasks is
    * `ceil(liveBytes / targetFileSizeBytes)` and rows are RANGE-
    * partitioned on (partitionColumns ++ clusterKey). Range partitioning
    * balances tasks by row count, so a hive partition holding k× the
    * table's bytes gets ~k× the files — no single-task straggler and no
    * unsplittable multi-hundred-GB file at scale — and because the split
    * is by contiguous cluster-key RANGE (not a salt), the files of one
    * hive partition cover disjoint key ranges: min/max file skipping is
    * strictly better than salted round-robin would give. Small
    * partitions share a task and still emit one file each (partitionBy
    * splits the write). One shuffle total.
    */
  def optimize(clusterBy0: Seq[String],
      targetFileSizeBytes: Long = GraftTable.DefaultTargetFileSizeBytes,
      where: Option[String] = None,
      full: Boolean = false): Long = {
    require(targetFileSizeBytes > 0, "targetFileSizeBytes must be positive")
    // clustering keys as table metadata (liquid-clustering-lite): an
    // OPTIMIZE without explicit ZORDER columns clusters by the
    // `graft.clusterBy` property, so layout policy lives with the table
    // instead of in every maintenance invocation
    val clusterBy =
      if (clusterBy0.nonEmpty) clusterBy0
      else properties.get(GraftTable.ClusterByProp).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    // partition-scoped OPTIMIZE (Delta's `OPTIMIZE t WHERE part = v`):
    // the predicate may reference PARTITION columns only, so the scope
    // resolves by directory pruning and untouched partitions' files are
    // carried over without being read or rewritten — at 100 TB you
    // compact the partitions that churned, not the table
    where.foreach { w =>
      // parse the predicate and walk it for attribute names (unresolved)
      val refs = spark.sessionState.sqlParser.parseExpression(w).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }.toSet
      val bad = refs -- partitionColumns.toSet
      require(bad.isEmpty,
        s"OPTIMIZE WHERE may reference partition columns only; got: ${bad.mkString(", ")}")
    }
    val live = manifestFiles()
    val scopeFiles = where match {
      case None => live
      case Some(w) => partitionScopedFiles(w, live)
    }
    if (scopeFiles.isEmpty)
      return commitRewrite("OPTIMIZE", Nil, Nil, Map(
        "numFilesAdded" -> "0", "numFilesRemoved" -> "0",
        "targetFileSizeBytes" -> targetFileSizeBytes.toString,
        "zOrderBy" -> clusterBy.mkString(","),
        "where" -> where.getOrElse("")))
    val dvRead = dvOf(currentVersion)
    val sizesNow = snapshotAt(currentVersion).sizes
    // INCREMENTAL optimize: a scoped file already produced by an
    // OPTIMIZE with the SAME cluster keys (provenance in its file
    // stats), carrying no deletion vector, and at least half the
    // target size is skipped — repeated OPTIMIZE converges instead of
    // re-churning a 100 TB table, and a post-append OPTIMIZE rewrites
    // only what the append added (liquid-clustering-style per-batch
    // clustering: min/max stay tight per file; cross-batch ranges may
    // overlap, which data skipping tolerates by design).
    // `full` (Delta's OPTIMIZE ... FULL): bypass the provenance skip and
    // re-cluster everything in scope — the escape hatch when per-batch
    // clustering has accumulated too much cross-batch range overlap
    val keysTag = clusterBy.mkString(",")
    val statsNow = statsOf(currentVersion)
    def provenanceMatched(f: String): Boolean =
      statsNow.get(f).flatMap(_.get(GraftTable.ClusteredKey))
        .exists { case (_, k, _) => k == keysTag } &&
      dvRead.getOrElse(f, Nil).isEmpty
    // r17: files a parallelism-split rewrite deliberately emitted below
    // target/2 (ClusteredKindSplit — see clusterRewriteCommit) count as
    // converged: they are already key-clustered and range-disjoint
    // within their commit, and re-binning them would shatter again
    // under the same floor — forever-churn with no layout gain. An
    // OPTIMIZE FULL still re-packs them (the escape hatch), and a DV
    // landing on one re-qualifies it like any other file.
    def splitConverged(f: String): Boolean =
      statsNow.get(f).flatMap(_.get(GraftTable.ClusteredKey))
        .exists { case (kind, k, _) =>
          kind == GraftTable.ClusteredKindSplit && k == keysTag } &&
      dvRead.getOrElse(f, Nil).isEmpty
    val (alreadyDone0, todo0) =
      if (full) (Nil, scopeFiles)
      else scopeFiles.partition(f => provenanceMatched(f) &&
        (sizesNow.getOrElse(f, 0L) >= targetFileSizeBytes / 2 ||
          splitConverged(f)))
    // churn guard, per PARTITION (r11 — the global lone-file rule let a
    // partitioned table re-churn forever: each partition's undersized
    // clustered tail made todo.size = #partitions > 1, so every tail
    // was rewritten into an identical tail on every run): a partition
    // whose todo set is a LONE provenance-matched file skips — there is
    // nothing to combine it with, rewriting reproduces the same file.
    // Two or more todo files in one partition (appends to merge, or
    // multiple small tails to combine) still rewrite — real compaction.
    val (alreadyDone, todoFiles) =
      if (full) (alreadyDone0, todo0)
      else {
        def partDir(f: String): String = f.lastIndexOf('/') match {
          case -1 => ""
          case i => f.take(i)
        }
        val (skip, work) = todo0.groupBy(partDir).partition {
          case (_, fs) => fs.size == 1 && provenanceMatched(fs.head)
        }
        (alreadyDone0 ++ skip.values.flatten.toSeq.sorted,
          work.values.flatten.toSeq.sorted)
      }
    if (todoFiles.isEmpty)
      return commitRewrite("OPTIMIZE", Nil, Nil, Map(
        "numFilesAdded" -> "0", "numFilesRemoved" -> "0",
        "numFilesSkipped" -> alreadyDone.size.toString,
        "targetFileSizeBytes" -> targetFileSizeBytes.toString,
        "zOrderBy" -> keysTag,
        "where" -> where.getOrElse("")))
    clusterRewriteCommit(todoFiles, clusterBy, keysTag,
      targetFileSizeBytes, where.getOrElse(""), alreadyDone.size,
      dvRead, sizesNow, provenance = keysTag)
  }

  /** Shared cluster-rewrite tail of [[optimize]] and
    * [[optimizeFullWaved]]: read `todo` live (DVs applied), sort into
    * byte-targeted range bins by (partition columns ++ cluster key),
    * append the files and commit ONE OPTIMIZE version. `provenance`
    * lands in the ClusteredKey stat's third slot — the keys tag for
    * plain OPTIMIZE (unchanged), the wave epoch for waved re-clusters
    * (what lets a resumed waved run skip completed waves). */
  private def clusterRewriteCommit(todo: Seq[String], clusterBy: Seq[String],
      keysTag: String, targetFileSizeBytes: Long, whereStr: String,
      skippedCount: Int, dvRead: Map[String, Seq[(Long, Long)]],
      sizesNow: Map[String, Long], provenance: String,
      extraMetrics: Map[String, String] = Map.empty): Long = {
    val df = readLive(todo, dvRead) // logical view; clusterBy names are logical
    // bin count from LOGGED sizes (status-RPC fallback for legacy files
    // only): sizing a million-file compaction costs zero filesystem calls
    val scopeBytes = todo.map(f =>
      sizesNow.getOrElse(f, fs.getFileStatus(dataPath(f)).getLen)).sum
    val byBytes = math.max(1L,
      (scopeBytes + targetFileSizeBytes - 1) / targetFileSizeBytes).toInt
    // r17 parallelism floor on the range path (guide §2.5, §5): the
    // range bin count IS the rewrite's reduce-task count, and a scope
    // needing fewer bins than the session has cores serializes its
    // sort on a handful of tasks — stage-counted at sf10: 5 tasks ×
    // ~11 s cpu each with 27 cores idle, and a noop-sink A/B pinned
    // the SORT (not the parquet encode) as the wall: 48 s at 5 bins
    // vs 56 s with encode, 18 s at 32 bins. Split bins up to the
    // session parallelism, never below `minSplitBytes` per file (4 MiB
    // or target/16) so toy scopes don't shatter into confetti. Split
    // outputs are sub-target BY DESIGN — they commit under the
    // "keys-split" kind in the ClusteredKey stat and the plain-
    // OPTIMIZE churn guard treats them as converged (the ≥ target/2
    // size test alone would re-churn them forever). At real scale the
    // floor is inert: scope/cores ≥ target makes byBytes ≥ cores.
    val minSplitBytes = math.max(targetFileSizeBytes / 16, 4L * 1024 * 1024)
    val capBins = math.max(1L, (scopeBytes + minSplitBytes - 1) / minSplitBytes)
    val bins = math.max(byBytes.toLong,
      math.min(spark.sparkContext.defaultParallelism.toLong, capBins)).toInt
    // single cluster column: plain sort ≡ 1-D Z-order; multi-column:
    // Morton key from graft.functions.ZOrder (one extra min/max job)
    val clusterKey: Seq[org.apache.spark.sql.Column] =
      if (clusterBy.size <= 1) clusterBy.map(col)
      else Seq(graft.functions.ZOrder.zorderKey(df, clusterBy))
    val sortCols = partitionColumns.map(col) ++ clusterKey
    // When the WHOLE todo set needs no more files than it has hive
    // partitions (bins ≤ partition dirs), global range binning is the
    // wrong tool: sampled bin boundaries land INSIDE partitions, so a
    // 3-partition/2-bin rewrite emits ~2 undersized files per
    // partition — a layout the next OPTIMIZE rewrites into the same
    // shape forever (the lone-file churn guard never engages; surfaced
    // by the r14 bench retarget as a 25× converged-op flag). Compact
    // by PARTITION HASH instead: deterministically one file per
    // partition (key-sorted within — a single file is trivially
    // range-disjoint), which IS the churn guard's fixed point. Big
    // partitions (bins > dirs) keep the global range split so no task
    // ever sorts more than ~one target file of input.
    val todoDirs = todo.map(f => f.lastIndexOf('/') match {
      case -1 => ""
      case i => f.take(i)
    }).distinct
    // path choice stays on byBytes (how many files the scope NEEDS) —
    // the parallelism floor must not flip a small partitioned compaction
    // off the one-file-per-partition fixed point. The fixed point is
    // only kept while its per-dir file sorts cheaply (≤ minSplitBytes):
    // past that, one serial sort per partition is the wave wall (sf1:
    // 3 dirs × 33 MB = a 3-task 19 s campaign) and the range path with
    // the parallelism floor takes over — its boundaries landing inside
    // partitions is exactly the r14 churn case, now inert because the
    // sub-target outputs carry the keys-split convergence marker.
    val (compacted, splitKind) =
      if (partitionColumns.nonEmpty && byBytes <= todoDirs.size &&
          scopeBytes <= todoDirs.size.toLong * minSplitBytes)
        (df.repartition(todoDirs.size, partitionColumns.map(col): _*)
          .sortWithinPartitions(sortCols: _*), "keys")
      else {
        // split-marked when files may come out under target/2 by
        // CONSTRUCTION: a parallelism-floored bin count, or range
        // boundaries that can straddle hive partitions (byBytes ≤
        // dirs) — re-running either rewrite reproduces its own layout,
        // so the churn guard must treat it as converged
        val kind =
          if (bins > byBytes ||
              (partitionColumns.nonEmpty && byBytes <= todoDirs.size))
            GraftTable.ClusteredKindSplit
          else "keys"
        if (sortCols.nonEmpty)
          (df.repartitionByRange(bins, sortCols: _*)
            .sortWithinPartitions(sortCols: _*), kind)
        else (df.repartition(bins), kind)
      }
    // every output file's stats carry the cluster-key provenance
    val added = appendDataFiles(toPhysicalStrict(compacted)).map(w => w.copy(stats =
      w.stats.updated(GraftTable.ClusteredKey, (splitKind, keysTag, provenance))))
    commitRewrite("OPTIMIZE", todo, added, Map(
      "numFilesAdded" -> added.size.toString,
      "numFilesRemoved" -> todo.size.toString,
      "numFilesSkipped" -> skippedCount.toString,
      "targetFileSizeBytes" -> targetFileSizeBytes.toString,
      "zOrderBy" -> keysTag,
      "where" -> whereStr) ++ extraMetrics, readDv = dvRead)
  }

  /** OPTIMIZE FULL in byte-budgeted, independently-committed WAVES —
    * the interruptible form of a full-table re-cluster. A 100 TB
    * OPTIMIZE cannot be one sort job + one commit: a failure anywhere
    * repeats everything, and the cluster holds a table-sized shuffle in
    * flight. Each wave takes up to `maxWaveBytes` of
    * not-yet-reclustered files (partition order, then name —
    * deterministic membership, waves roughly aligned with partition
    * boundaries), cluster-rewrites exactly those, and commits: one
    * bounded sort and one bounded commit per wave, so wall time is
    * linear in waves and a kill costs at most the in-flight wave.
    *
    * RESUMABILITY is the epoch tag: every wave's outputs carry `epoch`
    * in their ClusteredKey stat slot, and wave selection skips files
    * already tagged with this epoch — a run killed between waves (or
    * mid-wave: the partial wave never committed, its files are vacuum
    * orphans) resumes under the same `epoch` and redoes nothing that
    * committed. A NEW epoch re-clusters everything: the OPTIMIZE FULL
    * semantic, for when per-batch clustering has accumulated too much
    * cross-batch range overlap. Cross-WAVE key ranges may likewise
    * overlap — the same per-batch trade [[optimize]] already makes for
    * appends, tolerated by data skipping; per-wave files still cover
    * disjoint ranges within their wave.
    *
    * `maxWaves` bounds the waves run in THIS call (a driver that wants
    * one wave per scheduler tick passes 1); the return is the committed
    * version per wave. Reference anchor: the reference's OPTIMIZE is
    * delta-spark's single-commit form (maintenance.py:140-158); this is
    * the scale path that form lacks. */
  def optimizeFullWaved(clusterBy0: Seq[String] = Nil,
      targetFileSizeBytes: Long = GraftTable.DefaultTargetFileSizeBytes,
      maxWaveBytes: Long = 8L * GraftTable.DefaultTargetFileSizeBytes,
      epoch: String = "epoch-1",
      where: Option[String] = None,
      maxWaves: Int = Int.MaxValue): Seq[Long] = {
    require(targetFileSizeBytes > 0, "targetFileSizeBytes must be positive")
    require(maxWaveBytes >= targetFileSizeBytes,
      "maxWaveBytes must cover at least one target file")
    require(epoch.nonEmpty, "epoch must be non-empty")
    val clusterBy =
      if (clusterBy0.nonEmpty) clusterBy0
      else properties.get(GraftTable.ClusterByProp).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val keysTag = clusterBy.mkString(",")
    where.foreach { w =>
      val refs = spark.sessionState.sqlParser.parseExpression(w).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }.toSet
      val bad = refs -- partitionColumns.toSet
      require(bad.isEmpty,
        s"OPTIMIZE WHERE may reference partition columns only; got: ${bad.mkString(", ")}")
    }
    val versions = Seq.newBuilder[Long]
    var waves = 0
    var done = false
    while (!done && waves < maxWaves) {
      val live = manifestFiles()
      val scope = where match {
        case None => live
        case Some(w) => partitionScopedFiles(w, live)
      }
      val statsNow = statsOf(currentVersion)
      val sizesNow = snapshotAt(currentVersion).sizes
      val dvRead = dvOf(currentVersion)
      // epoch-tagged and DV-free = this epoch already re-clustered it
      // (a DV landing later re-qualifies the file: the rewrite folds
      // the vector in, same as plain OPTIMIZE)
      def thisEpoch(f: String): Boolean =
        statsNow.get(f).flatMap(_.get(GraftTable.ClusteredKey))
          .exists { case (_, k, e) => k == keysTag && e == epoch } &&
        dvRead.getOrElse(f, Nil).isEmpty
      val todoAll = scope.filterNot(thisEpoch)
      if (todoAll.isEmpty) done = true
      else {
        def partDir(f: String): String = f.lastIndexOf('/') match {
          case -1 => ""
          case i => f.take(i)
        }
        val ordered = todoAll.sortBy(f => (partDir(f), f))
        val sel = Seq.newBuilder[String]
        var bytes = 0L
        var n = 0
        ordered.foreach { f =>
          if (n == 0 || bytes < maxWaveBytes) {
            sel += f
            // legacy/converted files may carry no logged size — counting
            // them as 0 would let a wave exceed maxWaveBytes without
            // bound (the bounded-sort guarantee is the feature's point);
            // pay one status RPC for the unlogged minority instead, the
            // same fallback clusterRewriteCommit uses for bin sizing
            bytes += sizesNow.getOrElse(f,
              scala.util.Try(fs.getFileStatus(dataPath(f)).getLen)
                .getOrElse(0L))
            n += 1
          }
        }
        val wave = sel.result()
        versions += clusterRewriteCommit(wave, clusterBy, keysTag,
          targetFileSizeBytes, where.getOrElse(""),
          skippedCount = todoAll.size - wave.size, dvRead, sizesNow,
          provenance = epoch,
          extraMetrics = Map("wave" -> waves.toString, "epoch" -> epoch,
            "waveBytes" -> bytes.toString))
        waves += 1
      }
    }
    versions.result()
  }

  // ---- M2: VACUUM ------------------------------------------------------

  /** Delete orphaned data files older than the retention window —
    * maintenance.py:159-173, including the production-retention guard
    * (168 h default; shorter windows need `retentionCheckEnabled=false`,
    * mirroring spark.databricks.delta.retentionDurationCheck). Never
    * touches files referenced by the current manifest. A write's files
    * sit at their final paths, unnamed, until its commit lands: as in
    * Delta, only the retention window keeps VACUUM off them. Change-feed
    * sidecars no retained record names go under the same window. */
  def vacuum(retainHours: Double = 168.0,
      retentionCheckEnabled: Boolean = true,
      nowMs: Long = System.currentTimeMillis(),
      dryRun: Boolean = false,
      lite: Boolean = false): (Long, Int) = {
    if (retainHours < 168.0 && retentionCheckEnabled)
      throw new IllegalArgumentException(
        s"retention of $retainHours h is below the 168 h safety floor; " +
        "pass retentionCheckEnabled=false to override (demo mode)")
    val live = manifestFiles().toSet
    val cutoff = nowMs - (retainHours * 3600 * 1000).toLong
    // LITE (Delta 3.3 parity): candidates come from the LOG's remove
    // tombstones — every file a retained commit removed at/before the
    // cutoff — instead of a full recursive directory listing. At 100 TB
    // the listing is the dominant vacuum cost (millions of objects, an
    // S3 LIST storm); the log walk is O(retained versions), each record
    // already driver-sized. The trade: LITE cannot find files the log
    // never knew (crashed-write leftovers, foreign files) — run a full
    // vacuum occasionally for those, exactly Delta's guidance. mtimes
    // are not consulted: the REMOVAL commit's timestamp is the
    // retention clock, and existence is delegated to the idempotent
    // delete (a file already gone counts as swept).
    val onDisk: Seq[(String, Long, Long)] =
      if (lite) {
        versions().iterator.map(readRecord)
          .filter(_.timestamp <= cutoff)
          .flatMap(r => r.removes.map(f => (f, 0L, r.timestamp)))
          .toSeq.distinctBy(_._1)
      } else listDataFiles()
    val deletable = onDisk
      .filter { case (f, _, mtime) => !live.contains(f) && mtime <= cutoff }
    // DRY RUN (Delta parity): report what would be reclaimed, delete
    // nothing, commit nothing
    if (dryRun) return (currentVersion, deletable.size)
    if (deletable.size < GraftTable.DistributedStatsThreshold)
      deletable.foreach { case (f, _, _) =>
        fs.delete(new Path(root, f), false)
        fs.delete(BloomIndex.indexPath(logDir, f), false)
      }
    else {
      // wide vacuums delete on executors — a 100 TB table's retention
      // sweep removes millions of files, far beyond a driver loop.
      // Bloom sidecars ride their data file into the same delete job.
      val paths = deletable.map { case (f, _, _) => new Path(root, f).toString } ++
        deletable.map { case (f, _, _) => BloomIndex.indexPath(logDir, f).toString }
      val sconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val bc = spark.sparkContext.broadcast(sconf)
      val slices = math.min(paths.size, spark.sparkContext.defaultParallelism * 2)
      try spark.sparkContext.parallelize(paths, slices).foreachPartition { it =>
        val conf = bc.value.value
        it.foreach { p =>
          val hp = new Path(p)
          hp.getFileSystem(conf).delete(hp, false)
        }
      } finally bc.destroy()
    }
    // orphaned bloom sidecars (a crashed earlier vacuum deleted the data
    // file but not the sidecar): matched by md5 NAME against every file
    // that still exists or is live — no sidecar reads. The mtime guard
    // protects a concurrent commit's fresh sidecar whose data file
    // postdates our listing.
    val idxDir = BloomIndex.indexDir(logDir)
    if (!lite && fs.exists(idxDir)) { // orphan sweep needs the full listing
      val gone = deletable.map(_._1).toSet
      val keepNames = (onDisk.map(_._1).filterNot(gone).toSet ++ live)
        .map(f => BloomIndex.indexPath(logDir, f).getName)
      fs.listStatus(idxDir).foreach { s =>
        if (s.getPath.getName.endsWith(".bloom") &&
            !keepNames(s.getPath.getName) && s.getModificationTime <= cutoff)
          fs.delete(s.getPath, false)
      }
    }
    // temp files of log writes that never published (a writer killed
    // mid-put, a failed checkpoint): hidden `.…tmp` entries of the log
    if (fs.exists(logDir)) fs.listStatus(logDir).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith(".") && n.endsWith(".tmp") && s.getModificationTime <= cutoff)
        fs.delete(s.getPath, true)
    }
    val cdcDir = new Path(logDir, "cdc")
    val staleCdc =
      if (!fs.exists(cdcDir)) Nil
      else fs.listStatus(cdcDir).toSeq.filter(_.getModificationTime <= cutoff)
    if (staleCdc.nonEmpty) {
      val named = versions().flatMap(v => commitInfo(v).flatMap(_.metrics.get("cdc"))).toSet
      staleCdc.filterNot(s => named(s.getPath.getName)).foreach(s => fs.delete(s.getPath, true))
    }
    val v = commitRewrite("VACUUM", Nil, Nil, Map(
      "numFilesDeleted" -> deletable.size.toString,
      "retainHours" -> retainHours.toString,
      "mode" -> (if (lite) "LITE" else "FULL")))
    (v, deletable.size)
  }

  // ---- row mutations: DELETE / UPDATE / MERGE --------------------------
  //
  // Copy-on-write at file granularity, the same strategy Delta Lake uses
  // for these commands: a distributed scan finds the files that contain
  // affected rows (only the file LIST comes back to the driver — same
  // driver-side assumption as the manifest itself), those files are
  // rewritten in full, and the new manifest swaps them out. Untouched
  // files are carried over verbatim, so a predicate that prunes to one
  // hive partition rewrites only that partition's files no matter how
  // large the table is. Old versions stay time-travel-readable until
  // VACUUM.

  /** Absolute `_metadata.file_path` URI → manifest entry: relative when
    * the file lives under this table's root, the absolute path itself
    * otherwise (shallow-clone entries reference the SOURCE table's
    * files by absolute path). */
  private def relPath(abs: String): String = {
    val p = scala.util.Try(new java.net.URI(abs).getPath).toOption
      .filter(_ != null).getOrElse(abs)
    val prefix = root.toUri.getPath
    if (p == prefix || p.startsWith(prefix + "/"))
      p.stripPrefix(prefix).stripPrefix("/")
    else p
  }

  /** Filesystem path of a manifest entry (relative or clone-absolute). */
  private def dataPath(f: String): Path =
    if (f.startsWith("/")) new Path(f) else new Path(root, f)

  /** The one scan of table files: `files` read under `version`'s
    * recorded physical schema through a [[GraftFileIndex]] built from the
    * log — sizes from the snapshot, partition values from the hive paths
    * typed by the schema — so planning lists nothing and merges no
    * footers, and clone entries outside the root sit in the same index.
    * The index skips files by `version`'s [[Skipping]] under whatever
    * filters Spark pushes into the scan.
    * `dv`'s deleted positions are filtered INSIDE the scan by the
    * codegen'd [[DvDeleted]] predicate over `_metadata` (no join, whatever
    * the vector size; see [[DeletionVectors]]). `withMeta` keeps `__path`
    * (the file's filesystem path, scheme stripped) and `__pos` (its
    * `_metadata.row_index`) on every row. `pinned` marks a scan of the
    * whole version under its own vectors (see [[GraftFileIndex]]).
    * Physical column names. */
  private def scan(version: Long, files: Seq[String],
      dv: Map[String, Seq[(Long, Long)]], withMeta: Boolean = false,
      pinned: Boolean = false): DataFrame = {
    val sizes = snapshotAt(version).sizes
    val skipping = skippingAt(version)
    val all = filesScan(physicalSchemaAt(version), files,
      f => sizes.getOrElse(f, fs.getFileStatus(dataPath(f)).getLen),
      files.headOption.map(GraftTable.partitionValues(_).map(_._1))
        .getOrElse(layoutPartitionColumns(version)),
      filters => skipping.kept(skipping.augment(skipping.logical(filters)), files).toSet,
      if (pinned) Some(GraftFileIndex.Snapshot(path, version)) else None)
    lazy val live = files.toSet
    val runs = dv.collect {
      case (f, rs) if rs.nonEmpty && live(f) => dataPath(f).toUri.getPath -> rs
    }
    if (!withMeta && runs.isEmpty) return all
    val meta = all
      .withColumn("__path", regexp_extract(
        col("_metadata.file_path"), GraftTable.UriPathRegex, 1))
      .withColumn("__pos", col("_metadata.row_index"))
    val kept = if (runs.isEmpty) meta
      else meta.filter(!DeletionVectors.deletedColumn(spark, runs,
        col("__path"), col("__pos")))
    if (withMeta) kept else kept.drop("__path", "__pos")
  }

  /** `files` (log keys) read under physical `schema` through a
    * [[GraftFileIndex]]: `sizeOf` gives each file's byte size, its hive
    * path its values of the `layout` partition columns, and `skip` the
    * files that may hold rows under a scan's filters. */
  private def filesScan(schema: StructType, files: Seq[String], sizeOf: String => Long,
      layout: Seq[String],
      skip: Seq[org.apache.spark.sql.sources.Filter] => String => Boolean = _ => _ => true,
      snapshot: Option[GraftFileIndex.Snapshot] = None): DataFrame = {
    val partSchema = StructType(layout.flatMap(c => schema.find(_.name == c)))
    val partCols = partSchema.fieldNames.toSeq
    val entries = files.map { f =>
      val vals = GraftTable.partitionValues(f).toMap
      GraftFileIndex.Entry(f, fs.makeQualified(dataPath(f)), sizeOf(f),
        partCols.map(c => vals.get(c).flatten))
    }
    val index = new GraftFileIndex(entries, partSchema,
      spark.sessionState.conf.sessionLocalTimeZone, skip, snapshot)
    GraftFileIndex.scan(spark, index, StructType(schema.filterNot(f => partCols.contains(f.name))))
  }

  /** Manifest files holding at least one LIVE row for which `cond`
    * (logical column names) is TRUE. The raw predicate, not its
    * `coalesce(_, false)`, reaches the scan: the two keep the same rows,
    * but only the raw one translates into the filters the file index
    * skips by, so the scan touches only candidate files. */
  private def affectedFiles(cond: Column,
      dv: Map[String, Seq[(Long, Long)]]): Seq[String] =
    toLogical(scan(currentVersion, manifestFiles(), dv, withMeta = true), colMap)
      .filter(cond)
      .select("__path").distinct()
      .collect().map(r => relPath(r.getString(0))).toSeq

  /** DV-applied LOGICAL view of a live-file subset — what every
    * copy-on-write rewrite reads before writing back physical. Callers
    * pin `dv` ONCE per operation and hand the same map to
    * [[commitRewrite]], which aborts if a concurrent merge-on-read
    * DELETE moved any input file's vector past what was read. */
  private def readLive(files: Seq[String],
      dv: Map[String, Seq[(Long, Long)]]): DataFrame =
    toLogical(scan(currentVersion, files, dv), colMap)

  /** Write `df`'s files at their final paths in the table layout and
    * return each with its size and footer stats ([[GraftWriter]]). The
    * files join the table only when a commit names them; until then
    * they are orphans no reader sees, which VACUUM's retention window
    * keeps while the write is in flight. */
  private def appendDataFiles(df: DataFrame): Seq[GraftWriter.Written] = {
    // parquet-NATIVE bloom filters on the declared index columns: the
    // sidecar index skips whole FILES at planning; these skip ROW
    // GROUPS inside files that must be read (parquet readers consult
    // them during pushdown, executor-side, no driver involvement)
    val cm = colMap
    val physOf = if (cm.isIdentity) (c: String) => Some(c) else cm.entries.toMap.get _
    val blooms = BloomIndex.declaredColumns(properties)
      .flatMap(physOf(_)).filter(df.columns.contains)
      .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap
    GraftWriter.write(df, root, partitionColumns, blooms)
  }

  /** Distinct `__path`s of `hits` as manifest entries. Each task
    * deduplicates its own rows (a file's rows sit in few tasks), so the
    * query adds no shuffle to the plan it collects. */
  private def distinctPaths(hits: DataFrame): Seq[String] =
    hits.select("__path").as(Encoders.STRING)
      .mapPartitions((it: Iterator[String]) => it.toSet.iterator)(Encoders.STRING)
      .collect().distinct.map(relPath).toSeq

  /** A DML pass's output, the one frame both its writes read: each row
    * of `in` yields its new image (kind `newKind`, values `newVals`) and
    * its old image (kind `oldKind`, values `oldVals`) from one generator;
    * a NULL kind yields no row. Columns: `fields`, then `extras`, then the
    * kind `__k` ([[GraftTable.RowCopied]] …). Rows are counted per kind
    * as the frame is computed (returned accumulators, read after the
    * writes), so the commit's row metrics cost no job of their own. */
  private def tagRows(in: DataFrame, fields: Seq[org.apache.spark.sql.types.StructField],
      newVals: Seq[Column], newKind: Column, oldVals: Seq[Column], oldKind: Column,
      extras: Seq[Column] = Nil): (DataFrame, IndexedSeq[org.apache.spark.util.LongAccumulator]) = {
    val counts = IndexedSeq.fill(5)(spark.sparkContext.longAccumulator)
    val tally = udf((k: Int) => { counts(k).add(1L); k }).asNondeterministic()
    def image(vals: Seq[Column], kind: Column): Column = when(kind.isNotNull,
      struct(fields.zip(vals).map { case (f, v) => v.cast(f.dataType).as(f.name) } ++
        extras :+ kind.as("__k"): _*))
    (in.select(explode(array(image(newVals, newKind), image(oldVals, oldKind))).as("__r"))
      .filter(col("__r").isNotNull).select(col("__r.*"))
      .withColumn("__k", tally(col("__k"))), counts)
  }

  /** A tagged frame as its writes should read it: computed once into
    * blocks (added to `held` for release) when more than its data write
    * reads it — the change-feed write, CHECK constraints, generated-column
    * checks or identity fills — so the join behind it runs once. */
  private def materializeTagged(tagged: DataFrame,
      held: scala.collection.mutable.Buffer[Materialized]): DataFrame =
    if (cdcSidecarsEnabled || constraints.nonEmpty || generatedColumns.nonEmpty ||
        identityColumns.nonEmpty) {
      val m = Materialized.lazily(tagged)
      held += m
      m.frame
    } else tagged

  /** The writes of a tagged frame ([[tagRows]]): its data rows —
    * `physData`, their physical projection — as table files and, unless
    * the table opted out, its change rows as this commit's CDC sidecar
    * under `_graft_log/cdc/<id>` (physical columns plus `_change_type`,
    * one flat parquet directory [[versionChanges]] serves instead of
    * inferring from the file diff). Both land BEFORE the commit is
    * published — an aborted commit leaves orphans nobody references,
    * never a commit whose feed is missing; `cleanupLog` deletes the
    * sidecars of the records it drops, and VACUUM deletes sidecars no
    * retained record names once they are older than its retention
    * window. The two writes run at once: each of the frame's blocks is
    * computed by whichever write reaches it first, and read by the
    * other. Returns the added files and the sidecar id ("" if none). */
  private def writeTagged(tagged: DataFrame,
      physData: DataFrame): (Seq[GraftWriter.Written], String) = {
    if (!cdcSidecarsEnabled) return (appendDataFiles(physData), "")
    val k = col("__k")
    val changeType = when(k === GraftTable.RowUpdated, "update_postimage")
      .when(k === GraftTable.RowInserted, "insert")
      .when(k === GraftTable.RowPreImage, "update_preimage")
      .otherwise("delete")
    val id = java.util.UUID.randomUUID().toString
    val changes = tagged.filter(k >= GraftTable.RowUpdated).select(
      tagged.columns.filterNot(_ == "__k").toSeq.zip(physData.columns).map {
        case (l, p) => col(l).as(p) } :+ changeType.as("_change_type"): _*)
    val sidecar = GraftWriter.background(spark)(GraftWriter.write(changes, cdcPath(id)))
    val added = try appendDataFiles(physData) finally scala.util.Try(sidecar())
    sidecar()
    (added, id)
  }

  /** DELETE FROM … WHERE cond. Rows where `cond` is NULL are kept (SQL
    * three-valued semantics: DELETE removes only where the predicate is
    * TRUE). Returns the committed version.
    *
    * `mergeOnRead = true` records deletion VECTORS instead of rewriting
    * files (Delta's deletion-vector DELETE): the commit stores the row
    * positions of deleted rows per file and the data files are untouched
    * — a sub-percent delete on a 100 TB table costs a metadata-sized
    * commit, at the price of a position anti-join on reads of vectored
    * files until OPTIMIZE or [[purge]] materializes them. The vector is
    * merged INTO the predecessor's vectors at commit time, so a
    * concurrent merge-on-read delete's positions are never lost (union
    * of position sets ≡ sequential application: deletes are idempotent
    * and row-local). */
  def delete(cond: Column, mergeOnRead: Boolean = false): Long = {
    val matches = coalesce(cond, lit(false))
    val base = currentVersion
    val dvRead = dvOf(base)
    val affected = affectedFiles(cond, dvRead)
    if (affected.isEmpty)
      return commitRewrite("DELETE", Nil, Nil,
        Map("numFilesRewritten" -> "0", "numDeletedRows" -> "0"))
    if (mergeOnRead) {
      // positions of newly deleted rows among LIVE rows (already-vectored
      // positions excluded by the dv-applied scan). The RLE compression
      // happens ON EXECUTORS (gaps-and-islands: pos − row_number is
      // constant within a consecutive run), so the driver receives each
      // file's RUNS — for the clustered deletes vectors exist for, that
      // is kilobytes where the raw position list would be gigabytes.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__path")).orderBy(col("__pos"))
      val hit = toLogical(scan(currentVersion, affected, dvRead, withMeta = true),
        colMap).filter(matches)
        .select(col("__path"), col("__pos"))
        .withColumn("__rk", col("__pos") - row_number().over(w))
        .groupBy(col("__path"), col("__rk"))
        .agg(min(col("__pos")).as("start"),
          org.apache.spark.sql.functions.count(lit(1)).as("len"))
        .groupBy(col("__path"))
        .agg(sort_array(collect_list(struct(col("start"), col("len")))).as("runs"))
        .collect()
      val newRuns: Map[String, Seq[(Long, Long)]] = hit.map { r =>
        relPath(r.getString(0)) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1)))
      }.toMap
      val numDeleted = newRuns.values.flatten.map(_._2).sum
      return retryOnConflict()(commit("DELETE", Nil, Map(
        "mode" -> "merge-on-read",
        "numDeletionVectorsUpdated" -> newRuns.size.toString,
        "numDeletedRows" -> numDeleted.toString),
        removes = { base =>
          val nowLive = manifestFiles(base)
          val gone = affected.filterNot(nowLive.toSet)
          if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
            s"DELETE aborted: ${gone.size} of its input files (e.g. " +
            s"${gone.head}) were removed by a concurrent commit; " +
            "re-run against the new snapshot")
          Nil
        },
        // per-file replacement vectors MERGED into the base's
        // (a concurrent merge-on-read delete's positions are never lost:
        // union of position sets ≡ sequential application)
        dvChanges = Some { base =>
          val cur = dvOf(base)
          newRuns.map { case (f, r) =>
            f -> GraftTable.mergeRuns(cur.getOrElse(f, Nil), r) }
        }))
    }
    val added = appendDataFiles(toPhysicalStrict(
      readLive(affected, dvRead).filter(!matches)))
    // rows in the rewritten files minus rows written back, both from the
    // footer counts; absent when a rewritten file logged no count
    val kept = added.map(_.stats.get("").collect { case ("rows", n, _) => n.toLong })
    val deleted = liveRows(base, affected).filter(_ => kept.forall(_.isDefined))
      .map(n => "numDeletedRows" -> (n - kept.flatten.sum).toString)
    commitRewrite("DELETE", affected, added, Map(
      "numFilesRewritten" -> affected.size.toString,
      "numFilesAdded" -> added.size.toString) ++ deleted, readDv = dvRead)
  }

  /** REORG … APPLY (PURGE) parity: materialize deletion vectors by
    * rewriting ONLY the vectored files without their deleted rows —
    * untouched files carry over unread. No-op without vectors. */
  def purge(): Long = {
    val dv = dvOf(currentVersion)
    val vectored = manifestFiles().filter(f => dv.get(f).exists(_.nonEmpty))
    if (vectored.isEmpty) return currentVersion
    val added = appendDataFiles(toPhysicalStrict(readLive(vectored, dv)))
    commitRewrite("PURGE", vectored, added, Map(
      "numFilesRewritten" -> vectored.size.toString,
      "numFilesAdded" -> added.size.toString,
      "numDeletedRowsMaterialized" ->
        vectored.flatMap(dv(_)).map(_._2).sum.toString), readDv = dv)
  }

  /** UPDATE … SET col = expr WHERE cond. Assignments may target partition
    * columns — rewritten rows land in their new hive partitions. */
  def update(cond: Column, set: Map[String, Column]): Long = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    val schemaCols = read().columns.toSet
    val unknown = set.keySet -- schemaCols
    require(unknown.isEmpty, s"UPDATE of unknown columns: ${unknown.mkString(", ")}")
    val idTouched = identityColumns.keySet & set.keySet
    require(idTouched.isEmpty,
      s"cannot UPDATE identity columns: ${idTouched.mkString(", ")}")
    val matches = coalesce(cond, lit(false))
    val dvRead = dvOf(currentVersion)
    val affected = affectedFiles(cond, dvRead)
    if (affected.isEmpty)
      return commitRewrite("UPDATE", Nil, Nil, Map("numFilesRewritten" -> "0"))
    // assignments cast to the column's existing type — schema enforcement
    // holds under UPDATE exactly as under append (Delta's store-assignment)
    val types = read().schema.fields.map(f => f.name -> f.dataType).toMap
    requireGeneratedTz(generatedColumns, types.get)
    // the match flag is PINNED before any assignment: an assignment that
    // mutates a column the predicate references must not change which
    // rows the remaining assignments (or recomputes) apply to. The row's
    // old image rides along in __old for the change feed
    val live = readLive(affected, dvRead)
    val fields = live.schema.fields.toIndexedSeq
    val marked = live.withColumn("__upd", matches)
      .withColumn("__old", struct(fields.map(f => col(f.name)): _*))
    val hit = col("__upd")
    val afterSet = set.foldLeft(marked) { case (d, (name, value)) =>
      d.withColumn(name, when(hit, value.cast(types(name))).otherwise(col(name)))
    }
    // generated columns NOT explicitly assigned recompute for the
    // updated rows (Delta's UPDATE semantics); explicitly-assigned ones
    // are validated below via the generation rule over updated rows
    val regenerated = generatedColumns.filterNot(g => set.contains(g._1))
      .foldLeft(afterSet) { case (d, (name, e)) =>
        d.withColumn(name,
          when(hit, expr(e).cast(types(name))).otherwise(col(name)))
      }
    // one pass over the affected files: every row's new image, plus the
    // old image of each updated row (update_preimage/update_postimage in
    // the change feed instead of an inferred delete+insert)
    val (tagged0, tally) = tagRows(regenerated, fields, fields.map(f => col(f.name)),
      when(hit, lit(GraftTable.RowUpdated)).otherwise(lit(GraftTable.RowCopied)),
      fields.map(f => col("__old").getField(f.name)), when(hit, lit(GraftTable.RowPreImage)))
    val held = scala.collection.mutable.ArrayBuffer.empty[Materialized]
    try {
      val tagged = materializeTagged(tagged0, held)
      generatedColumns.filter(g => set.contains(g._1)).foreach { case (name, e) =>
        val bad = tagged.filter(col("__k") === GraftTable.RowUpdated &&
          !(col(name) <=> expr(e))).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"UPDATE assigns generated column $name a value disagreeing with " +
          s"its definition ($e) on $bad rows; omit it to have it recomputed")
      }
      val written = tagged.filter(col("__k") <= GraftTable.RowInserted).drop("__k")
      enforceConstraints(written)
      val (added, cdcId) = writeTagged(tagged, toPhysicalStrict(written))
      commitRewrite("UPDATE", affected, added, Map(
        "numFilesRewritten" -> affected.size.toString,
        "numFilesAdded" -> added.size.toString,
        "numUpdatedRows" -> tally(GraftTable.RowUpdated).value.toString,
        "numCopiedRows" -> tally(GraftTable.RowCopied).value.toString) ++
        (if (cdcId.isEmpty) Map.empty else Map("cdc" -> cdcId)),
        readDv = dvRead)
    } finally held.foreach(_.release())
  }

  /** MERGE (plain upsert): WHEN MATCHED THEN UPDATE ALL, WHEN NOT
    * MATCHED THEN INSERT ALL, matching on equality of `on` key columns.
    * Shorthand for the conditional [[mergeInto]] builder; raises the
    * Delta multiple-source-matches error when a target row matches more
    * than one source row. */
  def merge(source: DataFrame, on: Seq[String]): Long =
    mergeInto(source, on).whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()

  /** Conditional MERGE builder — the Delta `DeltaTable.merge` clause
    * surface (the most-used DML after plain upsert): `WHEN MATCHED [AND
    * cond] THEN UPDATE SET …/UPDATE ALL/DELETE`, `WHEN NOT MATCHED [AND
    * cond] THEN INSERT ALL`. Clauses apply in declaration order: the
    * first whose condition holds wins; a matched target row satisfying
    * no clause is kept, an unmatched source row satisfying no clause is
    * dropped. Conditions and assignment values may reference both sides
    * as `target.<col>` / `source.<col>`.
    *
    * Copy-on-write at file granularity like DELETE/UPDATE, in one pass
    * over each input: the source is computed once; only target files
    * containing a matched row are rewritten, found by a semi-join that
    * broadcasts `source`'s per-key row counts when small and raises the
    * multiple-match error as it goes; one join of those files with the
    * source feeds both the data files and the change feed. The commit
    * records Delta's row metrics (`numSourceRows`,
    * `numTargetRowsUpdated/Deleted/Inserted/Copied`) and the ms of
    * discovery, rewrite and commit. */
  def mergeInto(source: DataFrame, on: Seq[String]): MergeBuilder = {
    require(on.nonEmpty, "MERGE needs at least one key column")
    new MergeBuilder(this, source, on.map(k => k -> k), None)
  }

  /** MERGE with explicit (targetCol, sourceCol) key pairs — the keys
    * need not share names — plus an optional arbitrary residual
    * condition over `target.<col>` / `source.<col>` references ANDed
    * onto the key equality. The equi keys drive affected-file discovery
    * (the reason at least one pair is required: a keyless merge is a
    * cross join, which is never the plan you want at scale); the
    * residual narrows which joined pairs count as MATCHED. */
  def mergeIntoOn(source: DataFrame, keys: Seq[(String, String)],
      residual: Option[Column] = None): MergeBuilder = {
    require(keys.nonEmpty, "MERGE needs at least one (target, source) key pair")
    new MergeBuilder(this, source, keys, residual)
  }

  /** Delta-style MERGE on an arbitrary condition: the conjunction is
    * split into `target.<x> = source.<y>` equi pairs (which drive file
    * discovery) and a residual; conditions with no recognizable equi
    * conjunct are rejected with a clear error. */
  def mergeInto(source: DataFrame, condition: Column): MergeBuilder = {
    val (keys, resid) =
      ColumnBridge.splitMergeCondition(condition)
    require(keys.nonEmpty,
      "MERGE condition needs at least one target.<x> = source.<y> equi " +
      s"conjunct to drive file discovery; got: $condition")
    mergeIntoOn(source, keys, resid)
  }

  private[table] def executeMerge(source: DataFrame, keys: Seq[(String, String)],
      residual: Option[Column],
      matched: Seq[MergeBuilder.Matched],
      notMatched: Seq[MergeBuilder.NotMatched],
      notMatchedBySource: Seq[MergeBuilder.NotMatchedBySource] = Nil,
      schemaEvolution: Boolean = false,
      extraMetrics: Map[String, String] = Map.empty): Long = {
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    if (currentVersion >= 0)
      requireGeneratedTz(generatedColumns,
        c => scala.util.Try(read().schema).toOption
          .flatMap(_.fields.find(_.name == c).map(_.dataType)))
    def holds(cond: Option[Column]): Column =
      cond.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
    if (currentVersion < 0) {
      // empty table: only NOT MATCHED clauses can apply (there are no
      // target rows for matched / not-matched-by-source), and explicit
      // insert lists need a target schema to define unmentioned columns
      require(notMatched.forall(_.set.isEmpty),
        "MERGE with an explicit INSERT column list needs an existing table " +
        "(unmentioned columns are defined by the target schema)")
      val first = notMatched.zipWithIndex
        .foldLeft(lit(-1)) { case (acc, (nm, i)) =>
          when(holds(nm.cond) && acc === -1, lit(i)).otherwise(acc) }
      return write(source.alias("source").filter(first >= 0), SaveMode.Overwrite)
    }
    // WITH SCHEMA EVOLUTION: new source columns join the target schema
    // IN THE MERGE'S OWN COMMIT (Delta applies schema change and row
    // change atomically — an aborted merge must not leave the schema
    // evolved with no data). The merge plans against a null-extended
    // view of the target; the commit threads the evolved schema and
    // column-map additions through commitRewrite below. New columns
    // only; no type migration.
    val evolveCols: Seq[org.apache.spark.sql.types.StructField] =
      if (!schemaEvolution) Nil
      else {
        val have = read().columns.toSet
        source.schema.fields.filterNot(f => have.contains(f.name)).toSeq
      }
    // target rows read during planning align the evolving columns in as
    // NULL, exactly as committed metadata-only columns would read
    def extendEvolved(df: DataFrame): DataFrame =
      evolveCols.foldLeft(df)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    val tgt = extendEvolved(read())
    val missing = tgt.columns.toSet -- source.columns.toSet
    // UPDATE ALL / INSERT ALL copy every target column from the source;
    // explicit-assignment clauses only need what they reference, so a
    // narrower source is fine (the sync shape: source carries the key +
    // changed columns) — absent target columns align in as NULL
    val hasAllClause = matched.exists(m => !m.delete && m.set.isEmpty) ||
      notMatched.exists(_.set.isEmpty)
    if (hasAllClause) require(missing.isEmpty,
      s"MERGE source lacks target columns: ${missing.mkString(", ")} " +
      "(required by UPDATE ALL / INSERT ALL clauses)")
    val idCols = identityColumns.keySet
    if (idCols.nonEmpty) {
      val idAssigned = (matched.flatMap(_.set).flatMap(_.keys) ++
        notMatched.flatMap(_.set).flatMap(_.keys) ++
        notMatchedBySource.flatMap(_.set).flatMap(_.keys)).toSet & idCols
      require(idAssigned.isEmpty,
        s"cannot assign identity columns in MERGE: ${idAssigned.mkString(", ")}")
      require(!hasAllClause,
        "UPDATE ALL / INSERT ALL is unsupported on identity tables " +
        "(identity values are engine-assigned, never source-copied); " +
        "use explicit assignment clauses")
    }
    require(keys.forall(k => source.columns.contains(k._2)),
      s"MERGE source lacks key columns: ${keys.map(_._2).filterNot(source.columns.contains).mkString(", ")}")
    require(keys.forall(k => tgt.columns.contains(k._1)),
      s"MERGE target lacks key columns: ${keys.map(_._1).filterNot(tgt.columns.contains).mkString(", ")}")
    // align column order AND types to the target (schema enforcement:
    // source values store-assign into the target's column types); source
    // columns with no target counterpart — differently-named keys,
    // residual inputs — ride along unaligned so the join condition can
    // still cite them as source.<name>
    val fields = tgt.schema.fields.toIndexedSeq
    val tgtType = fields.map(f => f.name -> f.dataType).toMap
    val extraSrc = source.columns.filterNot(fields.map(_.name).toSet).toIndexedSeq
    val aligned = source.select(fields.map(f =>
      (if (missing(f.name)) lit(null) else col(f.name))
        .cast(f.dataType).as(f.name)) ++ extraSrc.map(col): _*)
    val held = scala.collection.mutable.ArrayBuffer.empty[Materialized]
    def run(): Long = {
    val began = System.nanoTime()
    // the aligned source is materialized once, up front, in one job that
    // counts numSourceRows and measures the bytes the discovery broadcast
    // (and the planner's choice for the rewrite join) is decided by; the
    // discovery and rewrite joins read its blocks instead of re-running
    // the source pipeline (for a sync-shaped merge whose source derives
    // from the TARGET, each re-run is a full-table scan). Released on
    // every exit path below, with the tagged frame.
    val (srcBlocks, numSourceRows) = Materialized.measured(aligned)
    held += srcBlocks
    val src = srcBlocks.frame
    val tKeys = keys.map(_._1)
    def joinCond(tAlias: String, sAlias: String): Column =
      keys.map { case (t, s) => col(s"$tAlias.$t") === col(s"$sAlias.$s") }
        .reduce(_ && _) && residual.getOrElse(lit(true))
    val dvNow = dvOf(currentVersion)
    // DISCOVERY: the files to rewrite are those holding a matched row —
    // plus, under NOT MATCHED BY SOURCE clauses, those holding an
    // unmatched row some clause applies to (clause conditions reference
    // the target only, so they evaluate on the scan; a sync-merge whose
    // source covers a partition's keys rewrites only files with genuinely
    // retired rows). The same query carries Delta's
    // DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW guard: a target row
    // that two source rows would update or delete is nondeterministic.
    val metaScan = extendEvolved(toLogical(
      scan(currentVersion, manifestFiles(), dvNow, withMeta = true), colMap)).alias("target")
    val nmbsApplies = notMatchedBySource.foldLeft(lit(false))((acc, c) => acc || holds(c.cond))
    val affected = try {
      if (residual.isEmpty) {
        // per-key source row counts under the target-side names. The
        // source is materialized, so their size estimate is its measured
        // bytes scaled to the key columns' share of the row: under the
        // gate they are counted in one task and broadcast, which keeps
        // the planner from shuffling the whole __path-carrying meta scan
        // against them (stage-counted at sf10: a 495 MB exchange + 597 MB
        // sort spill to probe 190 K keys). The gate is in BYTES, so a
        // wide or composite key cannot slip a huge broadcast under it;
        // above it the shuffle is the right plan.
        val keyRows = src.select(keys.map { case (t, s) =>
          col(s).cast(tgtType(t)).as(t) }.toIndexedSeq: _*)
        val small = keyRows.queryExecution.optimizedPlan.stats.sizeInBytes <=
          GraftTable.MergeBroadcastKeyBytes
        val counts = (if (small) keyRows.coalesce(1) else keyRows)
          .groupBy(tKeys.map(col).toIndexedSeq: _*)
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n"))
        val keyCounts = (if (small) broadcast(counts) else counts).alias("source")
        // key-precise guard: a matched key counted twice raises on the
        // executor. The raise cites the target row's file — a column no
        // key equality can substitute — so it stays in the join condition
        // and runs on matched pairs only
        val guard =
          if (matched.isEmpty) lit(true)
          else when(col("source.__n") > 1,
            raise_error(concat(lit(GraftTable.MultiMatchTag), col("target.__path"))))
            .otherwise(lit(true))
        val keyEq = tKeys.map(k => col(s"target.$k") === col(s"source.$k")).reduce(_ && _)
        distinctPaths(
          if (notMatchedBySource.isEmpty) metaScan.join(keyCounts, keyEq && guard, "left_semi")
          // the guard filters the left join's rows: in its condition it
          // would vanish with the join, which the optimizer drops (the
          // counts are unique per key) when nothing above reads the
          // source side, as under an unconditional NOT MATCHED BY SOURCE
          // clause
          else metaScan.join(keyCounts, keyEq, "left")
            .filter(guard && (col("source.__n").isNotNull || nmbsApplies)))
      } else {
        // row-precise guard: with a residual a key count over-counts (the
        // residual can disqualify one of two key dups), so discovery
        // joins on the full condition and counts each target row's
        // (__path, __pos) matches
        val perFile = metaScan
          .join(src.withColumn("__sk", lit(1)).alias("source"), joinCond("target", "source"),
            if (notMatchedBySource.isEmpty) "inner" else "left")
          .groupBy(col("__path"), col("__pos"))
          .agg(org.apache.spark.sql.functions.count(col("source.__sk")).as("__n"),
            max(nmbsApplies.cast("int")).as("__nb"))
          .filter(col("__n") > 0 || col("__nb") > 0)
          .groupBy(col("__path")).agg(max(col("__n")))
          .collect()
        if (matched.nonEmpty && perFile.exists(_.getLong(1) > 1))
          throw new IllegalStateException(
            "MERGE: multiple source rows match the same target row under " +
            "the merge condition (nondeterministic update/delete); " +
            "de-duplicate the source")
        perFile.map(r => relPath(r.getString(0))).toSeq
      }
    } catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => Option(c.getMessage).exists(_.contains(GraftTable.MultiMatchTag))) =>
        throw new IllegalStateException(
          "MERGE: multiple source rows match the same target row " +
          "(nondeterministic update/delete); de-duplicate the source on " +
          tKeys.mkString(", "), e)
    }
    val discovered = System.nanoTime()
    // REWRITE: one join of the affected files' live rows with the source
    // yields matched pairs, unmatched target rows (carried, or NOT
    // MATCHED BY SOURCE) and, when an insert clause exists, unmatched
    // source rows (FULL OUTER; without insert clauses a left join, whose
    // source side may broadcast). Matched clauses apply to matched pairs,
    // not-matched-by-source clauses to target-only rows, insert clauses
    // to source-only rows; in each set the first applicable clause wins.
    // Without a matched clause nothing keeps a target row from matching
    // several source rows, yet it is written once: the joined rows are
    // cut to one per target row (its file and position) and one per
    // unmatched source row
    val once = matched.isEmpty && affected.nonEmpty
    val live =
      if (affected.isEmpty) spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), tgt.schema)
      else extendEvolved(toLogical(scan(currentVersion, affected, dvNow, withMeta = once), colMap))
    val hasT = col("target.__t").isNotNull
    val hasS = col("source.__s").isNotNull
    def firstClause(conds: Seq[Option[Column]], applies: Column): Column =
      conds.zipWithIndex.foldLeft(when(lit(false), lit(-1))) { case (acc, (c, i)) =>
        acc.when(applies && holds(c), lit(i)) }.otherwise(lit(-1))
    // insert clauses see the source row alone: bare names in them are
    // source columns
    def fromSource(c: Column): Column = ColumnBridge.qualifyBare(c, "source")
    val joined = live.withColumn("__t", lit(true)).alias("target")
      .join((if (once) src.withColumn("__sid", monotonically_increasing_id()) else src)
        .withColumn("__s", lit(true)).alias("source"), joinCond("target", "source"),
        if (notMatched.isEmpty) "left" else "full")
    val indexed = (if (!once) joined
      else joined.withColumn("__row", when(hasT, concat_ws(":", col("__path"), col("__pos")))
        .otherwise(col("__sid").cast("string"))).dropDuplicates("__row"))
      .withColumn("__ci", firstClause(matched.map(_.cond), hasT && hasS))
      .withColumn("__ni", firstClause(notMatchedBySource.map(_.cond), hasT && !hasS))
      .withColumn("__nmi", firstClause(notMatched.map(_.cond.map(fromSource)), !hasT && hasS))
    def clauseIn(c: String, idx: Seq[Int]): Column =
      if (idx.isEmpty) lit(false) else col(c).isin(idx: _*)
    val isDeleted =
      clauseIn("__ci", matched.zipWithIndex.collect { case (m, i) if m.delete => i }) ||
      clauseIn("__ni", notMatchedBySource.zipWithIndex.collect { case (c, i) if c.delete => i })
    // a row is UPDATED when a non-delete clause applied (carried rows,
    // __ci = __ni = -1, are rewritten verbatim and are NOT changes)
    val isUpdated = !isDeleted && (col("__ci") >= 0 || col("__ni") >= 0)
    val newVals = fields.map { f =>
      val target = col(s"target.${f.name}")
      val byMatched = matched.zipWithIndex.filterNot(_._1.delete).map { case (m, i) =>
        (col("__ci") === i) -> m.set.fold(col(s"source.${f.name}"))(_.getOrElse(f.name, target)) }
      val byNmbs = notMatchedBySource.zipWithIndex.filterNot(_._1.delete).map { case (c, i) =>
        (col("__ni") === i) -> c.set.get.getOrElse(f.name, target) }
      // INSERT ALL copies the aligned source row; an explicit column list
      // inserts its assignments, NULL for unmentioned columns
      val byInsert = notMatched.zipWithIndex.map { case (nm, i) =>
        (col("__nmi") === i) -> nm.set.fold(col(s"source.${f.name}"))(
          _.get(f.name).map(fromSource).getOrElse(lit(null))) }
      (byMatched ++ byNmbs ++ byInsert).foldLeft(when(lit(false), lit(null))) {
        case (acc, (c, v)) => acc.when(c, v) }.otherwise(target)
    }
    val (tagged0, tally) = tagRows(indexed, fields, newVals,
      when(col("__nmi") >= 0, lit(GraftTable.RowInserted))
        .when(isUpdated, lit(GraftTable.RowUpdated))
        .when(hasT && !isDeleted, lit(GraftTable.RowCopied)),
      fields.map(f => col(s"target.${f.name}")),
      when(isDeleted, lit(GraftTable.RowDeleted)).when(isUpdated, lit(GraftTable.RowPreImage)),
      if (generatedColumns.isEmpty) Nil else Seq(col("__ni"), col("__nmi")))
    // generated columns a not-matched-by-source UPDATE or an explicit
    // INSERT list didn't assign recompute from their definitions over the
    // new row (same semantics as UPDATE); matched-clause rows keep the
    // full-source-row contract (validated below)
    val tagged1 = generatedColumns.foldLeft(tagged0) { case (d, (g, e)) =>
      val nmbsOmit = notMatchedBySource.zipWithIndex.collect {
        case (MergeBuilder.NotMatchedBySource(_, Some(s), _), i) if !s.contains(g) => i }
      val insOmit = notMatched.zipWithIndex.collect {
        case (MergeBuilder.NotMatched(_, Some(s)), i) if !s.contains(g) => i }
      if (nmbsOmit.isEmpty && insOmit.isEmpty) d
      else d.withColumn(g, when(
        (col("__k") === GraftTable.RowUpdated && clauseIn("__ni", nmbsOmit)) ||
        (col("__k") === GraftTable.RowInserted && clauseIn("__nmi", insOmit)),
        expr(e).cast(tgtType(g))).otherwise(col(g)))
    }.drop("__ni", "__nmi")
    val out0 = materializeTagged(tagged1, held)
    // identity fills apply to INSERTED rows only: rewritten rows keep
    // their existing values, and legacy NULLs (rows predating the
    // identity column) stay NULL exactly as Delta leaves them
    val (out, idProps, idGuard) =
      if (identityColumns.isEmpty) (out0, None, (_: Long) => ())
      else {
        val isInsert = col("__k") === GraftTable.RowInserted
        val (ins, p, g) = assignIdentity(out0.filter(isInsert))
        (out0.filter(!isInsert).unionByName(ins), p, g)
      }
    val written = out.filter(col("__k") <= GraftTable.RowInserted).drop("__k")
    // every written row now carries a value for each generated column
    // (copied, recomputed, or explicitly assigned): validate the set
    generatedColumns.foreach { case (name, e) =>
      val bad = written.filter(!(col(name) <=> expr(e))).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"MERGE writes generated column $name disagreeing with its " +
        s"definition ($e) on $bad rows")
    }
    enforceConstraints(written)
    // schema evolution commits WITH the rewrite: the output frame's new
    // columns get fresh physical names (write()'s mergeSchema path) and
    // the evolved schema + map additions land in the merge's own commit
    // — an aborted merge leaves the schema untouched
    val (physOut, mapAdds) =
      if (evolveCols.isEmpty) (toPhysicalStrict(written), Nil)
      else toPhysical(written, colMap)
    val (added, cdcId) = writeTagged(out, physOut)
    val rewritten = System.nanoTime()
    commitRewrite("MERGE", affected, added, extraMetrics ++ Map(
      "numFilesRewritten" -> affected.size.toString,
      "numFilesAdded" -> added.size.toString,
      "numColumnsEvolved" -> evolveCols.size.toString,
      "numSourceRows" -> numSourceRows.toString,
      "numTargetRowsUpdated" -> tally(GraftTable.RowUpdated).value.toString,
      "numTargetRowsDeleted" -> tally(GraftTable.RowDeleted).value.toString,
      "numTargetRowsInserted" -> tally(GraftTable.RowInserted).value.toString,
      "numTargetRowsCopied" -> tally(GraftTable.RowCopied).value.toString,
      "discoveryTimeMs" -> ((discovered - began) / 1000000).toString,
      "rewriteTimeMs" -> ((rewritten - discovered) / 1000000).toString) ++
      (if (cdcId.isEmpty) Map.empty else Map("cdc" -> cdcId)),
      readDv = dvNow,
      newProperties = idProps, preCommitCheck = idGuard,
      newColMap =
        if (mapAdds.isEmpty) None
        else Some(colMapExtension("MERGE WITH SCHEMA EVOLUTION", mapAdds)),
      newSchema =
        if (evolveCols.isEmpty) None
        else Some { base =>
          val cur = physicalSchemaAt(base)
          val have = cur.fieldNames.toSet
          physOut.schema.fields.filterNot(f => have(f.name))
            .foldLeft(cur)(_ add _)
        },
      timed = true)
    }
    try run()
    finally held.foreach(_.release())
  }

  /** Change data feed between two committed versions (Delta CDF
    * parity): the union of every covered commit's changes — `insert` /
    * `delete` rows from the per-commit file diff, and, for UPDATE and
    * MERGE commits that recorded a CDC sidecar (Delta's _change_data
    * files), `update_preimage` / `update_postimage` rows with exact
    * `insert` / `delete` classification. Per-commit, nothing nets out
    * across the window — a row inserted then deleted inside it surfaces
    * twice, exactly as Delta's table_changes does.
    *
    * Cost scales with the CHANGED files of each covered commit —
    * identical manifest entries carry over, so each per-version diff
    * reads just the files that commit added or removed (or its CDC
    * sidecar, which is update-churn-sized), never the whole table. */
  /** Added file keys of commit `v` in commit order, when the commit is
    * append-only (adds files, removes none, touches no deletion
    * vector) — the only commit shape a streaming source may subdivide
    * at FILE granularity ([[graft.sources.GraftStreamSource]]'s
    * maxFilesPerTrigger): its change rows are exactly the added files'
    * contents, so any file subset is a sound partial delivery. None
    * for rewrite and metadata commits. */
  def appendOnlyAdds(v: Long): Option[Seq[String]] =
    appendOnlyAddsWithSizes(v).map(_.map(_._1))

  /** Live files of `version`'s snapshot with their logged byte sizes,
    * in a deterministic (sorted) order — the unit list an
    * initial-snapshot streaming split admits over. Sizes come from the
    * log (0 for legacy entries committed before sizes were recorded —
    * the byte cap then treats them as free rather than paying a
    * per-file status probe). */
  def manifestFilesWithSizes(version: Long = currentVersion)
      : Seq[(String, Long)] = {
    val snap = snapshotAt(version)
    snap.files.sorted.map(f => f -> snap.sizes.getOrElse(f, 0L))
  }

  /** [[appendOnlyAdds]] plus each file's byte size — the unit
    * `maxBytesPerTrigger` admission counts in. Sizes come from the
    * commit's record; an add without one falls back to a driver fs probe
    * (bounded by that commit's file count). */
  def appendOnlyAddsWithSizes(v: Long): Option[Seq[(String, Long)]] = {
    if (!hasVersion(v)) return None
    val r = readRecord(v)
    if (r.removes.isEmpty && r.dv.isEmpty && r.adds.nonEmpty && r.adds.forall(_.dataChange))
      Some(r.adds.map(a => a.path -> a.size.getOrElse(
        scala.util.Try(fs.getFileStatus(dataPath(a.path)).getLen).getOrElse(0L))))
    else None
  }

  /** The rows of `files` (keys from [[appendOnlyAdds]] of commit `v`)
    * exactly as [[changes]] delivers an append-only commit: raw file
    * contents under v's column map and deletion vectors. */
  def readAddedFiles(v: Long, files: Seq[String]): DataFrame =
    toLogical(scan(v, files, dvOf(v)), colMapOf(v))

  def changes(from: Long, to: Long): DataFrame = {
    require(from >= 0 && to <= currentVersion && from <= to,
      s"invalid change range v$from..v$to (current: v$currentVersion)")
    // every version maps under the WINDOW's to-version logical names:
    // physical names are stable across renames, so one map serves the
    // whole window
    val cmTo = colMapOf(to)
    val parts = (from + 1 to to).flatMap(v => versionChanges(v, cmTo))
    if (parts.nonEmpty)
      parts.reduce(_.unionByName(_, allowMissingColumns = true))
    else {
      // no file-, vector- or cdc-level change: empty feed with the
      // WINDOW'S to-version schema (not the current one — later
      // renames/drops must not leak into an older window's feed)
      val schema = readVersion(to).schema
        .add("_change_type", "string", nullable = false)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** One commit's change rows (None if it changed nothing): the CDC
    * sidecar when the commit recorded one, the file/vector diff
    * otherwise. */
  private def versionChanges(v: Long, cmTo: ColMap): Option[DataFrame] = {
    commitInfo(v).flatMap(_.metrics.get("cdc")).foreach { id =>
      val dir = cdcPath(id)
      val parts = if (!fs.exists(dir)) Nil
        else fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      if (parts.nonEmpty) {
        // the sidecar holds v's physical columns plus the change type
        val files = parts.map(s => s.getPath.toUri.getPath -> s.getLen)
        val df = filesScan(physicalSchemaAt(v).add("_change_type", "string"),
          files.map(_._1), files.toMap, Nil)
        return Some(
          if (cmTo.isIdentity) df
          else {
            val have = df.columns.toSet
            df.select(cmTo.entries.collect {
              case (l, ph) if have(ph) => col(ph).as(l) } :+
              col("_change_type"): _*)
          })
      }
    }
    val before = manifestFiles(v - 1).toSet
    val after = manifestFiles(v).toSet
    val added = (after -- before).toSeq
    val removed = (before -- after).toSeq
    val dvFrom = dvOf(v - 1)
    val dvTo = dvOf(v)
    // a removed file's rows AT v-1 exclude its then-deleted positions;
    // an added file's rows AT v exclude its current vector
    def snap(files: Seq[String], dv: Map[String, Seq[(Long, Long)]]): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(toLogical(scan(v, files, dv), cmTo))
    // files live at BOTH versions whose vector differs: positions in
    // `drop` but not `keep` surface as row-level changes (a merge-on-read
    // delete grows the vector → deletes; RESTORE across one shrinks it →
    // inserts). Cost stays proportional to the files whose vectors
    // changed — the feed's contract.
    def dvDiffRows(keep: Map[String, Seq[(Long, Long)]],
        drop: Map[String, Seq[(Long, Long)]]): Option[DataFrame] = {
      val diff: Seq[(String, Seq[(Long, Long)])] = (before & after).toSeq
        .flatMap { f =>
          val runs = GraftTable.runsMinus(
            drop.getOrElse(f, Nil), keep.getOrElse(f, Nil))
          if (runs.isEmpty) None else Some(f -> runs)
        }
      if (diff.isEmpty) None
      else {
        // RLE runs straight into the scan filter (same kernel as the
        // vectored read): a window spanning a billion-row vector diff
        // broadcasts kilobytes of runs, never an expanded position frame
        val runMap = diff.map { case (f, rs) =>
          dataPath(f).toUri.getPath -> rs }.toMap
        val withMeta = toLogical(
          scan(v, diff.map(_._1), Map.empty, withMeta = true), cmTo)
        Some(withMeta.filter(DeletionVectors.deletedColumn(spark, runMap,
            col("__path"), col("__pos")))
          .drop("__path", "__pos"))
      }
    }
    val dvDeletes = dvDiffRows(keep = dvFrom, drop = dvTo)
    val dvInserts = dvDiffRows(keep = dvTo, drop = dvFrom)
    val a = snap(added, dvTo)
    val r = snap(removed, dvFrom)
    val fileInserts = (a, r) match {
      case (Some(x), Some(y)) => Some(x.exceptAll(y))
      case (Some(x), None) => Some(x)
      case (None, _) => None
    }
    val fileDeletes = (a, r) match {
      case (Some(x), Some(y)) => Some(y.exceptAll(x))
      case (None, Some(y)) => Some(y)
      case (_, None) => None
    }
    def cat(x: Option[DataFrame], y: Option[DataFrame]): Option[DataFrame] =
      (x, y) match {
        case (Some(p), Some(q)) => Some(p.unionByName(q))
        case (p, None) => p
        case (None, q) => q
      }
    val i = cat(fileInserts, dvInserts).map(_.withColumn("_change_type", lit("insert")))
    val d = cat(fileDeletes, dvDeletes).map(_.withColumn("_change_type", lit("delete")))
    cat(i, d)
  }

  /** CDC sidecars are written unless the table opted out via
    * [[GraftTable.ChangeDataFeedProp]] = "false". */
  private def cdcSidecarsEnabled: Boolean =
    !propertiesOf(currentVersion)
      .get(GraftTable.ChangeDataFeedProp).contains("false")

  /** `files` of version `v` re-added under `key`, with the sizes and
    * stats `v` logged for them (a file logged without a size is probed). */
  private def readds(v: Long, files: Seq[String],
      key: String => String = identity): Seq[GraftWriter.Written] = {
    val snap = snapshotAt(v)
    files.map(f => GraftWriter.Written(key(f),
      snap.sizes.getOrElse(f, fs.getFileStatus(dataPath(f)).getLen), snap.stats.getOrElse(f, Map.empty)))
  }

  /** RESTORE to an earlier version (Delta's RESTORE TABLE … TO VERSION):
    * recommits that version's file list as the new current version, so
    * the restore itself is part of the audit trail and is undoable. The
    * restored files must not have been vacuumed. */
  def restore(version: Long): Long = {
    require(version >= 0 && version <= currentVersion,
      s"no committed version $version to restore")
    // file list, constraint set, generated-column set AND deletion
    // vectors come back (a RESTORE across a merge-on-read delete
    // un-deletes those rows — Delta's RESTORE semantics). As actions:
    // adds = the restored set (replay dedups files still live), removes
    // = base files outside it, dv = per-file diff against the base with
    // explicit clears; re-added files carry the restored version's
    // stats instead of paying footer re-reads.
    val restored = manifestFiles(version)
    val restoredSet = restored.toSet
    commit("RESTORE", readds(version, restored),
      Map("restoredVersion" -> version.toString),
      removes = base => manifestFiles(base).filterNot(restoredSet),
      carried = true,
      newConstraints = Some(constraintsOf(version)),
      newGenerated = Some(generatedOf(version)),
      newProperties = Some(_ => propertiesOf(version)),
      // the restored version's recorded schema comes back too: a
      // RESTORE across an ADD COLUMN / SET DEFAULT must not leave the
      // later schema (or its metadata) grafted onto the older file set
      newSchema = Some(_ =>
        physicalSchemaAt(version)),
      dvChanges = Some { base =>
        val target = dvOf(version)
        val cur = dvOf(base)
        restored.flatMap { f =>
          val t = target.getOrElse(f, Nil)
          if (t == cur.getOrElse(f, Nil)) None else Some(f -> t)
        }.toMap
      },
      newColMap = Some(_ => colMapOf(version)))
  }

  /** SHALLOW CLONE (Delta parity): a new table at `targetPath` whose v0
    * manifest references THIS table's current data files by absolute
    * path — no data copied, so cloning a 100 TB table costs one manifest
    * write. The clone then diverges copy-on-write: mutations rewrite
    * only affected files into the clone's own directory, OPTIMIZE
    * materializes it fully local, VACUUM on the clone never touches
    * source files (it only deletes orphans under its own root), and the
    * source is never aware of the clone. Constraints copy with it. */
  def shallowClone(targetPath: String, version: Long = -1L): GraftTable = {
    val srcV = if (version < 0) currentVersion else version
    require(srcV >= 0 && srcV <= currentVersion,
      s"no committed version $srcV to clone")
    val t = new GraftTable(spark, targetPath, partitionColumns)
    require(t.currentVersion < 0,
      s"$targetPath is already a graft table (v${t.currentVersion})")
    val rootAbs = root.toUri.getPath
    def abs(f: String) = if (f.startsWith("/")) f else s"$rootAbs/$f"
    // the source already read these footers at ITS commits: carry its
    // file sizes and stats (keys rewritten to the clone's absolute
    // entries) instead of re-reading every footer on the driver — this
    // is what keeps "cloning a 100 TB table costs one manifest write" true
    // deletion vectors travel with the clone (keys rewritten like stats):
    // the clone sees the same live rows as the source at srcV
    val carriedDv = dvOf(srcV).map { case (f, runs) => abs(f) -> runs }
    t.commit("CLONE", readds(srcV, manifestFiles(srcV), abs), Map(
      "sourcePath" -> path, "sourceVersion" -> srcV.toString),
      newConstraints = Some(constraintsOf(srcV)),
      newGenerated = Some(generatedOf(srcV)),
      newProperties = Some(_ => propertiesOf(srcV)),
      // the recorded schema travels with the clone: without it a
      // metadata-only ADD COLUMN or a column DEFAULT would vanish
      // (clone reads would fall back to data-file footers)
      newSchema = Some(_ => physicalSchemaAt(srcV)),
      carried = true,
      dvChanges = Some(_ => carriedDv),
      newColMap = Some(_ => colMapOf(srcV)))
    t
  }

  /** DEEP CLONE (Delta parity): a new, fully independent table at
    * `targetPath` with its OWN copy of every live data file — no
    * references back into the source, so the source can be vacuumed,
    * dropped or truncated without ever breaking the clone (the
    * trade-off against [[shallowClone]]'s zero-copy manifest).
    *
    * The copy is a DISTRIBUTED job over the file list (one task per
    * file batch, each task opening source and target through its own
    * Hadoop FileSystem) — the driver never streams a byte, so cloning
    * scales with executor count, not driver bandwidth. Stats, deletion
    * vectors, constraints, generated columns, properties, column
    * mapping and the recorded schema travel with the clone under the
    * files' names in the target. */
  def deepClone(targetPath: String, version: Long = -1L): GraftTable = {
    val srcV = if (version < 0) currentVersion else version
    require(srcV >= 0 && srcV <= currentVersion,
      s"no committed version $srcV to clone")
    val t = new GraftTable(spark, targetPath, partitionColumns)
    require(t.currentVersion < 0,
      s"$targetPath is already a graft table (v${t.currentVersion})")
    // fully qualified URIs (scheme included) so the copy tasks resolve
    // the same filesystems on any root (file:/hdfs:/s3a:), and the
    // session's Hadoop conf (spark.hadoop.* credentials, endpoints)
    // rides the closure as plain string pairs — a bare executor-side
    // `new Configuration()` would silently drop object-store settings
    val rootAbs = fs.makeQualified(root).toString
    val tgtAbs = t.fs.makeQualified(t.root).toString
    val hadoopKVs: Array[(String, String)] = {
      val c = spark.sessionState.newHadoopConf()
      val it = c.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    // target-relative name per source entry: relative entries keep their
    // name (partition dirs preserved); absolute entries (a shallow-clone
    // source, adopted files) are renamed uniquely under the target root
    def tgtName(f: String): String =
      if (!f.startsWith("/")) f
      else {
        val base = f.substring(f.lastIndexOf('/') + 1)
        val tag = java.security.MessageDigest.getInstance("MD5")
          .digest(f.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8)
        s"deep_${tag}_$base"
      }
    val files = manifestFiles(srcV)
    val pairs = files.map { f =>
      val src =
        if (f.startsWith("/")) fs.makeQualified(new Path(f)).toString
        else s"$rootAbs/$f"
      (src, tgtName(f))
    }
    val tasks = math.max(1, math.min(pairs.size,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(pairs, tasks).foreach {
      case (src, rel) => GraftTable.copyFile(src, s"$tgtAbs/$rel", hadoopKVs)
    }
    val renamed = files.map(f => f -> tgtName(f)).toMap
    t.commit("CLONE", readds(srcV, files, renamed), Map(
      "sourcePath" -> path, "sourceVersion" -> srcV.toString,
      "deep" -> "true"),
      newConstraints = Some(constraintsOf(srcV)),
      newGenerated = Some(generatedOf(srcV)),
      newProperties = Some(_ => propertiesOf(srcV)),
      newSchema = Some(_ => physicalSchemaAt(srcV)),
      carried = true,
      dvChanges = Some(_ => dvOf(srcV).map { case (f, r) => renamed(f) -> r }),
      newColMap = Some(_ => colMapOf(srcV)))
    t
  }

  /** GENERATE symlink_format_manifest (Delta parity): write the
    * `_symlink_format_manifest/` tree that external engines without a
    * graft reader (Presto/Trino/Athena-style symlink input format)
    * consume — one text `manifest` per partition directory (a single
    * root manifest for unpartitioned tables) listing the absolute URIs
    * of the snapshot's live data files.
    *
    * Refuses tables with deletion vectors or column mapping: a symlink
    * consumer reads the raw parquet, so it would resurrect DV-deleted
    * rows or see physical column names — the same restriction Delta's
    * GENERATE imposes. Regeneration replaces the whole tree (stale
    * partition manifests from before a partition became empty must not
    * survive). Returns the number of manifest files written. */
  def generateSymlinkManifest(): Int = {
    val v = currentVersion
    require(v >= 0, s"no committed graft table at $path")
    require(dvOf(v).forall(_._2.isEmpty),
      "GENERATE symlink_format_manifest: table has deletion vectors; " +
      "REORG TABLE ... APPLY (PURGE) first — symlink consumers read raw " +
      "parquet and would resurrect deleted rows")
    val cm = colMapOf(v)
    require(cm.entries.forall { case (l, p) => l == p } && cm.retired.isEmpty,
      "GENERATE symlink_format_manifest: table uses column mapping; " +
      "symlink consumers would see physical column names")
    // manifest entries are FULLY QUALIFIED URIs derived from the
    // table's own FileSystem (fs.makeQualified), not a hardcoded
    // scheme — the same manifest generation works on file:, hdfs: and
    // s3a: roots (symlink consumers resolve whatever scheme they read)
    val qualifiedRoot = fs.makeQualified(root).toString
    val manifestRoot = new Path(root, "_symlink_format_manifest")
    if (fs.exists(manifestRoot)) fs.delete(manifestRoot, true)
    val byDir = manifestFiles(v).groupBy { f =>
      if (f.startsWith("/")) "" // adopted absolute files → root manifest
      else if (f.contains('/')) f.substring(0, f.lastIndexOf('/'))
      else ""
    }
    byDir.foreach { case (dir, fsInDir) =>
      val d = if (dir.isEmpty) manifestRoot else new Path(manifestRoot, dir)
      fs.mkdirs(d)
      val out = fs.create(new Path(d, "manifest"), true)
      try {
        val body = fsInDir.sorted.map { f =>
          val abs =
            if (f.startsWith("/")) fs.makeQualified(new Path(f)).toString
            else s"$qualifiedRoot/$f"
          s"$abs\n"
        }.mkString
        out.write(body.getBytes(StandardCharsets.UTF_8))
      } finally out.close()
    }
    byDir.size
  }

  /** Log retention (Delta's logRetentionDuration parity, counted in
    * versions): drop the record and checkpoints of every version more
    * than `keepVersions` below the current one. Bounds the log's growth;
    * time travel / CDF / clone-at-version for dropped versions becomes
    * unavailable (the same contract Delta's log cleanup imposes). The
    * oldest retained version keeps a checkpoint, which carries the txn
    * map, so replay protection spans cleanups. The change-feed sidecars
    * the dropped records name go with them. Data files are untouched
    * — VACUUM owns those. Returns the number of versions dropped. */
  def cleanupLog(keepVersions: Int = 30): Int = {
    require(keepVersions >= 1, "must keep at least the current version")
    val cutoff = currentVersion - keepVersions
    if (cutoff < 0) return 0
    // the OLDEST RETAINED version must keep a reconstruction base once
    // its ancestry is dropped: checkpoint it first, and if that write
    // fails keep the whole log (correctness over reclamation)
    val oldest = cutoff + 1
    if (!fs.exists(checkpointPath(oldest)) && !writeCheckpoint(oldest, snapshotAt(oldest)))
      return 0
    var dropped = 0
    logNames().foreach { n =>
      versionOf(n, ".json").filter(_ <= cutoff).foreach { v =>
        commitInfo(v).flatMap(_.metrics.get("cdc")).foreach(id => fs.delete(cdcPath(id), true))
        if (fs.delete(new Path(logDir, n), false)) dropped += 1
      }
      if (versionOf(n, ".ckpt.parquet").exists(_ <= cutoff)) fs.delete(new Path(logDir, n), true)
    }
    // the retention CONTRACT says dropped versions are unavailable —
    // cached snapshots must not keep serving them
    GraftTable.invalidateSnapshotsUpTo(rootKey, cutoff)
    dropped
  }

  // ---- M3: history -----------------------------------------------------

  /** Audit log as a DataFrame, newest first (maintenance.py:87-91): one
    * row per retained commit, from its commit info. */
  def history(): DataFrame = {
    import spark.implicits._
    spark.read.json(versions().flatMap(commitInfoLine).map(LogRecord.commitInfoJson).toDS())
      .orderBy(desc("version"))
  }

  /** The operation metrics commit `version` recorded (empty once its
    * record is gone): what `history()` shows as `operationMetrics`. */
  def operationMetrics(version: Long): Map[String, String] =
    commitInfo(version).map(_.metrics).getOrElse(Map.empty)

  // ---- D5: DESCRIBE DETAIL equivalent ----------------------------------

  final case class Detail(
      format: String, location: String, numFiles: Long,
      sizeInBytes: Long, partitionColumns: Seq[String], version: Long)

  /** Per-partition manifest summary (SHOW PARTITIONS): hive path, file
    * count, row count (−1 when any file lacks a recorded count — never
    * pays a scan) and byte size — all straight from the log, one number
    * per partition regardless of table size. */
  def partitionsReport(version: Long = currentVersion)
      : Seq[(String, Long, Long, Long)] = {
    require(layoutPartitionColumns(version).nonEmpty,
      s"SHOW PARTITIONS: the graft table at $path is not partitioned")
    val snap = snapshotAt(version)
    snap.files
      .groupBy(f => f.split('/').dropRight(1)
        .filter(_.contains('=')).mkString("/"))
      .toSeq.sortBy(_._1)
      .map { case (p, fs) =>
        val bytes = fs.map(f => snap.sizes.getOrElse(f, 0L)).sum
        val rows = fs.map(f => snap.stats.get(f).flatMap(_.get(""))
          .collect { case ("rows", lo, _) => lo.toLong })
        (p, fs.size.toLong,
          if (rows.forall(_.isDefined)) rows.flatten.sum else -1L, bytes)
      }
  }

  def detail(): Detail = {
    // byte sizes come from the commit log (recorded per add action) —
    // one status RPC only for legacy files committed before sizes were
    // logged, never one per live file
    val snap = snapshotAt(currentVersion)
    val bytes = snap.files.map(f =>
      snap.sizes.getOrElse(f, fs.getFileStatus(dataPath(f)).getLen)).sum
    Detail("graft+parquet", path, snap.files.size.toLong, bytes,
      partitionColumns, currentVersion)
  }

  // ---- M4: health check ------------------------------------------------

  /** File/row snapshot used by the before/after maintenance report
    * (StockTableHealthCheck, maintenance.py:28-106). */
  final case class Health(
      numFiles: Long, totalBytes: Long, avgFileBytes: Long, rowCount: Long)

  def health(): Health = {
    val d = detail()
    Health(d.numFiles, d.sizeInBytes,
      if (d.numFiles == 0) 0 else d.sizeInBytes / d.numFiles, count())
  }
}

object MergeBuilder {
  /** One WHEN MATCHED clause: `set=None` ⇒ UPDATE ALL; `delete` ⇒ DELETE. */
  final case class Matched(cond: Option[Column],
      set: Option[Map[String, Column]], delete: Boolean)
  /** One WHEN NOT MATCHED clause: `set=None` ⇒ INSERT ALL; explicit
    * `set` inserts the listed columns, unmentioned ones land NULL
    * (generated columns recompute from their definitions). */
  final case class NotMatched(cond: Option[Column],
      set: Option[Map[String, Column]] = None)
  /** One WHEN NOT MATCHED BY SOURCE clause (target rows with no source
    * match — Delta's sync/retire surface): `delete` retires the row,
    * otherwise `set` updates it (target references only). */
  final case class NotMatchedBySource(cond: Option[Column],
      set: Option[Map[String, Column]], delete: Boolean)
}

/** Fluent clause builder returned by [[GraftTable.mergeInto]]; clauses
  * apply in declaration order (first condition that holds wins). `keys`
  * are (targetCol, sourceCol) equi pairs driving affected-file
  * discovery; `residual` is an extra condition over `target.<col>` /
  * `source.<col>` ANDed onto the key equality to decide MATCHED. */
final class MergeBuilder private[table] (
    t: GraftTable, source: DataFrame,
    keys: Seq[(String, String)], residual: Option[Column]) {
  import MergeBuilder._
  private var matched = Vector.empty[Matched]
  private var notMatched = Vector.empty[NotMatched]
  private var notMatchedBySource = Vector.empty[NotMatchedBySource]
  private var schemaEvolution = false
  private var metrics = Map.empty[String, String]

  /** Extra commit-record metrics — notably `txnAppId`/`txnVersion`,
    * which enroll the merge in the table's idempotent-transaction map
    * exactly like [[GraftTable.idempotentAppend]] (a replayed merge of
    * the same window can then be detected via `lastTxnVersion`). */
  def withMetrics(m: Map[String, String]): this.type =
    { metrics ++= m; this }

  /** Delta's `WITH SCHEMA EVOLUTION`: source columns absent from the
    * target are ADDed (metadata-only, NULL backfill) before the merge
    * plans, so UPDATE ALL / INSERT ALL carry them through. */
  def withSchemaEvolution(): this.type = { schemaEvolution = true; this }

  def whenMatchedUpdateAll(): this.type =
    { matched :+= Matched(None, None, delete = false); this }
  def whenMatchedUpdateAll(cond: Column): this.type =
    { matched :+= Matched(Some(cond), None, delete = false); this }
  def whenMatchedUpdate(set: Map[String, Column]): this.type =
    { matched :+= Matched(None, Some(set), delete = false); this }
  def whenMatchedUpdate(cond: Column, set: Map[String, Column]): this.type =
    { matched :+= Matched(Some(cond), Some(set), delete = false); this }
  def whenMatchedDelete(): this.type =
    { matched :+= Matched(None, None, delete = true); this }
  def whenMatchedDelete(cond: Column): this.type =
    { matched :+= Matched(Some(cond), None, delete = true); this }
  def whenNotMatchedInsertAll(): this.type =
    { notMatched :+= NotMatched(None); this }
  def whenNotMatchedInsertAll(cond: Column): this.type =
    { notMatched :+= NotMatched(Some(cond)); this }
  /** Explicit INSERT column list: unmentioned columns insert NULL;
    * unmentioned GENERATED columns recompute from their definitions.
    * Values may reference the source row (`source.<col>` or bare). */
  def whenNotMatchedInsert(set: Map[String, Column]): this.type =
    { notMatched :+= NotMatched(None, Some(set)); this }
  def whenNotMatchedInsert(cond: Column, set: Map[String, Column]): this.type =
    { notMatched :+= NotMatched(Some(cond), Some(set)); this }
  /** WHEN NOT MATCHED BY SOURCE THEN UPDATE SET … — `set` values may
    * reference the target row only (there is no source row to cite). */
  def whenNotMatchedBySourceUpdate(set: Map[String, Column]): this.type =
    { notMatchedBySource :+= NotMatchedBySource(None, Some(set), delete = false); this }
  def whenNotMatchedBySourceUpdate(cond: Column, set: Map[String, Column]): this.type =
    { notMatchedBySource :+= NotMatchedBySource(Some(cond), Some(set), delete = false); this }
  def whenNotMatchedBySourceDelete(): this.type =
    { notMatchedBySource :+= NotMatchedBySource(None, None, delete = true); this }
  def whenNotMatchedBySourceDelete(cond: Column): this.type =
    { notMatchedBySource :+= NotMatchedBySource(Some(cond), None, delete = true); this }

  /** Run the merge; returns the committed version. */
  def execute(): Long =
    t.executeMerge(source, keys, residual, matched, notMatched,
      notMatchedBySource, schemaEvolution, metrics)
}

object GraftTable {
  /** OPTIMIZE bin-packing target — the reference compacts toward ~1 GB
    * files (DESIGN.md:20-24; Delta's optimize default). */
  val DefaultTargetFileSizeBytes: Long = 1024L * 1024 * 1024

  /** Executor-side single-file copy for [[GraftTable.deepClone]]. The
    * driver's session Hadoop conf travels as plain string pairs
    * (nothing unserializable rides the closure) and is replayed over
    * the executor's base config — spark.hadoop.* settings (object-store
    * credentials, endpoints) apply on the task side exactly as they do
    * on the driver. Overwrites a partial file from a failed prior
    * attempt — task retries are idempotent. */
  private[table] def copyFile(src: String, dst: String,
      hadoopKVs: Array[(String, String)] = Array.empty): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    hadoopKVs.foreach { case (k, vl) => conf.set(k, vl) }
    val sp = new Path(src)
    val dp = new Path(dst)
    val sfs = sp.getFileSystem(conf)
    val dfs = dp.getFileSystem(conf)
    dfs.mkdirs(dp.getParent)
    val in = sfs.open(sp)
    try {
      val out = dfs.create(dp, true)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
      } finally out.close()
    } finally in.close()
  }

  /** Comma-separated default clustering columns for OPTIMIZE
    * (liquid-clustering-lite: layout policy as table metadata). */
  val ClusterByProp = "graft.clusterBy"

  /** Target OPTIMIZE output file size consulted by the SQL surface
    * (delta.targetFileSize parity). Absent → 1 GiB. */
  val TargetFileSizeProp = "graft.optimize.targetFileSize"

  /** Per-wave byte budget consulted by SQL `OPTIMIZE … MAX WAVES n`
    * (the [[GraftTable.optimizeFullWaved]] surface): layout policy as
    * table metadata, like [[ClusterByProp]]. Absent → the API default
    * (8× the target file size). */
  val MaxWaveBytesProp = "graft.optimize.maxWaveBytes"

  /** Epoch tag for SQL-driven waved re-clusters. Resume works by
    * re-running the same statement under the same epoch (tagged files
    * are skipped); bumping this property starts a fresh full
    * re-cluster campaign. Absent → "epoch-1". */
  val OptimizeEpochProp = "graft.optimize.epoch"

  /** "false" disables CDC SIDECAR writes on UPDATE/MERGE (Delta's
    * delta.enableChangeDataFeed, inverted default: graft tables serve a
    * full-fidelity feed out of the box). With sidecars off the change
    * feed FALLS BACK to file-diff inference — still exact row sets, but
    * an update window surfaces delete+insert rather than
    * update_preimage/update_postimage, and every UPDATE/MERGE commit
    * saves the sidecar's extra write jobs (what an MV table, whose only
    * consumer is signed-delta math, opts into). */
  val ChangeDataFeedProp = "graft.enableChangeDataFeed"

  /** "true" keeps `_symlink_format_manifest/` regenerated after every
    * commit (delta.compatibility.symlinkFormatManifest.enabled parity).
    * A commit that makes the table unrepresentable for raw-parquet
    * consumers (deletion vectors, column mapping) fails the
    * regeneration LOUDLY rather than leaving a stale manifest. */
  val SymlinkManifestProp = "graft.symlinkFormatManifest.enabled"

  /** Reserved stats pseudo-column recording which cluster keys produced
    * a file (OPTIMIZE provenance — drives the incremental skip). */
  val ClusteredKey = "__clustered"

  /** ClusteredKey "kind" slot value marking files a parallelism-split
    * rewrite deliberately emitted below target/2 — the churn guard
    * treats them as converged (r17; plain rewrites carry "keys"). */
  val ClusteredKindSplit = "keys-split"

  /** Largest MERGE key set, in estimated bytes, whose affected-file probe
    * broadcasts it: the footprint of the former 4 M-key gate for one
    * long key. */
  private[table] val MergeBroadcastKeyBytes: Long = 32L << 20

  /** Message prefix of the executor-side MERGE multi-match raise, which
    * the merge turns back into its IllegalStateException. */
  private[table] val MultiMatchTag = "GRAFT_MERGE_MULTIPLE_SOURCE_ROWS: "

  /** Row kinds of a DML pass's tagged frame: the first three are written
    * to the table, the last four are change rows. */
  private[table] val RowCopied = 0
  private[table] val RowUpdated = 1
  private[table] val RowInserted = 2
  private[table] val RowPreImage = 3
  private[table] val RowDeleted = 4

  /** Default commits between checkpoints (`graft.checkpointInterval`
    * overrides it per table) — a cold reader replays at most this many
    * records after the nearest checkpoint. */
  val CheckpointInterval: Long = 10L

  /** COPY INTO loads at most this many source files per commit: bounds
    * the per-commit marker record and makes a giant backfill resumable
    * at commit boundaries. */
  val CopyIntoBatchFiles: Int = 1000

  /** Table metadata of one version — Delta's metaData action: physical
    * schema (None until a commit records one), column map, CHECK
    * constraints, generated-column definitions and properties. */
  final case class Meta(
      schema: Option[StructType] = None,
      colMap: ColMap = ColMap(Nil, Nil),
      constraints: Map[String, String] = Map.empty,
      generated: Map[String, String] = Map.empty,
      properties: Map[String, String] = Map.empty)

  /** Full table state at one version: live files (manifest order),
    * per-file column stats, per-file deletion-vector runs, per-file
    * byte sizes (Delta's AddFile.size — DESCRIBE DETAIL and OPTIMIZE
    * bin-packing read these instead of issuing one filesystem RPC per
    * live file; absent only for adopted files whose size was unknown),
    * the metadata, the txn map (appId → highest txnVersion) and the
    * commit timestamp (epoch ms). Immutable once the version commits —
    * safe to cache JVM-wide. */
  final case class Snapshot(
      files: Vector[String],
      stats: Map[String, Map[String, (String, String, String)]],
      dv: Map[String, Seq[(Long, Long)]],
      sizes: Map[String, Long] = Map.empty,
      meta: Meta = Meta(),
      txn: Map[String, Long] = Map.empty,
      timestamp: Long = 0L)

  object Snapshot {
    val Empty: Snapshot = Snapshot(Vector.empty, Map.empty, Map.empty)
  }

  /** Files, stats, vectors and sizes of checkpoint file rows (seq, file,
    * dv, stats, size), sorted by seq — the seq restores manifest order
    * exactly, whatever order the parquet rows come back in. */
  private[table] def checkpointFiles(rows: Seq[org.apache.spark.sql.Row]): Snapshot =
    Snapshot(rows.map(_.getString(1)).toVector,
      rows.flatMap { r =>
        Option(r.getSeq[org.apache.spark.sql.Row](3)).filter(_.nonEmpty).map(st =>
          r.getString(1) -> st.map(s =>
            s.getString(0) -> ((s.getString(1), s.getString(2), s.getString(3)))).toMap)
      }.toMap,
      rows.filterNot(_.isNullAt(2)).map(r => r.getString(1) -> decodeRuns(r.getString(2)))
        .filter(_._2.nonEmpty).toMap,
      rows.filterNot(_.isNullAt(4)).map(r => r.getString(1) -> r.getLong(4)).toMap)

  /** Roll `base` (the state at v-1) forward through commit v's record:
    * removes leave, adds enter (a re-add of a live file keeps its place
    * and replaces its stats), vectors are replaced (empty runs clear),
    * metadata is replaced when the record carries it, txn markers fold
    * in. */
  private[table] def applyRecord(base: Snapshot, r: Record): Snapshot = {
    val removed = r.removes.toSet
    val kept = base.files.filterNot(removed)
    val keptSet = kept.toSet
    val newAdds = r.adds.map(_.path).filterNot(keptSet) // re-adds (RESTORE) dedup here
    val fileSet = keptSet ++ newAdds
    val live = r.adds.filter(a => fileSet(a.path))
    val dv = r.dv.foldLeft(base.dv -- removed) { case (m, (f, runs)) =>
      if (!fileSet(f)) m else if (runs.isEmpty) m - f else m + (f -> runs)
    }
    val txn = r.txns.foldLeft(base.txn) { case (m, (a, tv)) =>
      if (tv > m.getOrElse(a, -1L)) m + (a -> tv) else m
    }
    Snapshot(kept ++ newAdds,
      (base.stats -- removed) ++ live.collect { case a if a.stats.nonEmpty => a.path -> a.stats },
      dv,
      (base.sizes -- removed) ++ live.flatMap(a => a.size.map(a.path -> _)),
      r.meta.getOrElse(base.meta), txn, r.timestamp)
  }

  // (table root, version) → snapshot, LRU-bounded by entry count AND by
  // approximate WEIGHT (Σ files + stats + dv runs + sizes across cached
  // snapshots): 48 count-bounded snapshots of a million-file table would
  // be tens of GB of driver heap, so eviction tracks how big the cached
  // state actually is, not how many versions it spans. The newest entry
  // always survives (it is the planning working set the caller just
  // materialized anyway). A commit caches the state it produced, so
  // commit-then-read replays nothing, and a reader of another writer's
  // commit rolls one record forward from (path, v-1).
  private val SnapCacheMaxEntries = 48
  // ~4M retained entries ≈ low hundreds of MB: roomy for thousands of
  // normal tables, but two ~2M-file/stat snapshots already exceed it
  private[graft] var snapCacheMaxWeight: Long = 4L << 20
  private var snapCacheWeight = 0L
  private val snapCache =
    new java.util.LinkedHashMap[(String, Long), Snapshot](64, 0.75f, true)

  private def weightOf(s: Snapshot): Long =
    s.files.size.toLong +
    s.stats.valuesIterator.map(_.size.toLong).sum +
    s.dv.valuesIterator.map(_.size.toLong).sum +
    s.sizes.size + s.txn.size

  private[graft] def snapshotCacheSize: Int =
    snapCache.synchronized(snapCache.size)

  private[graft] def cachedSnapshot(rootKey: String, v: Long): Option[Snapshot] =
    snapCache.synchronized(Option(snapCache.get((rootKey, v))))

  private[graft] def cacheSnapshot(rootKey: String, v: Long, s: Snapshot): Unit =
    snapCache.synchronized {
      val prev = snapCache.put((rootKey, v), s)
      snapCacheWeight += weightOf(s) - Option(prev).map(weightOf).getOrElse(0L)
      // evict LRU-first until under both bounds; access-ordered map puts
      // the just-inserted entry last, so it is never evicted here
      val it = snapCache.entrySet().iterator()
      while (snapCache.size > 1 &&
          (snapCache.size > SnapCacheMaxEntries ||
           snapCacheWeight > snapCacheMaxWeight) && it.hasNext) {
        val e = it.next()
        if (!(e.getKey._1 == rootKey && e.getKey._2 == v)) {
          snapCacheWeight -= weightOf(e.getValue)
          it.remove()
        }
      }
    }

  /** Drop cached snapshots of `rootKey` at versions >= `v` — a commit
    * landing at `v` proves any such entry is stale (only possible when a
    * table was deleted externally and recreated at the same path). */
  private[graft] def invalidateSnapshotsFrom(rootKey: String, v: Long): Unit =
    snapCache.synchronized {
      val it = snapCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == rootKey && e.getKey._2 >= v) {
          snapCacheWeight -= weightOf(e.getValue)
          it.remove()
        }
      }
    }

  /** Drop cached snapshots of `rootKey` at versions <= `v` — log
    * truncation makes them unavailable by contract. */
  private[graft] def invalidateSnapshotsUpTo(rootKey: String, v: Long): Unit =
    snapCache.synchronized {
      val it = snapCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == rootKey && e.getKey._2 <= v) {
          snapCacheWeight -= weightOf(e.getValue)
          it.remove()
        }
      }
    }

  /** Vacuums deleting at least this many files delete them in a Spark
    * job instead of serially on the driver — a 100 TB table's retention
    * sweep removes millions of files; below it, job-launch overhead
    * beats the driver loop. */
  val DistributedStatsThreshold: Int = 12

  /** StructField metadata key carrying a column's DEFAULT expression in
    * the recorded schema — Spark's own key for DSv2 column defaults, so
    * the recorded schema stays interoperable with engines that read it. */
  val DefaultKey: String = "CURRENT_DEFAULT"

  /** Reserved property prefix: `graft.generated.tz.<column>` records the
    * session time zone a generated column was declared under — the zone
    * its stored values are computed in (enforced on write) and the zone
    * [[GeneratedPruning]] evaluates derived predicates under. */
  val GeneratedTzKey: String = "graft.generated.tz."

  // ---- pruning predicate ------------------------------------------------

  /** `stat`, the `lower` or upper bound of a file's column, compared
    * with filter value `v`. Try-wrapped: a non-numeric stat (legacy
    * "Infinity" sidecar, NaN filter value) yields None → no proof → the
    * file is kept.
    *
    * A FLOAT or DOUBLE bound is stored as the shortest decimal that
    * reads back as the stored value — "0.7" for the float 0.699999988…
    * — and a float column widened to double is filtered by doubles. So
    * a "double" bound, or any numeric bound met by a Float or Double
    * value, widens outward over the nearest float and nearest double of
    * its decimal (one of them is the stored value, whatever the file's
    * width), and the filter value compares by its exact binary value. */
  private def statCmp(tag: String, stat: String, v: Any, lower: Boolean): Option[Int] = {
    import java.math.BigDecimal
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    def num(n: Long): Option[Int] = scala.util.Try(
      new BigDecimal(stat).compareTo(BigDecimal.valueOf(n))).toOption
    (tag, v) match {
      case ("string", s: String) => Some(utf8Compare(stat, s))
      case (("long" | "double"), n: Number) => scala.util.Try {
        val (value, approx) = n match {
          case f: java.lang.Float => (new BigDecimal(f.doubleValue), true)
          case d: java.lang.Double => (new BigDecimal(d.doubleValue), true)
          case _ => (new BigDecimal(n.toString), tag == "double")
        }
        val bound =
          if (!approx) new BigDecimal(stat)
          else {
            val nearest = Seq(stat.toDouble, stat.toFloat.toDouble)
              .filterNot(_.isInfinite).map(new BigDecimal(_))
            // a "long" bound (integer, decimal or partition value) may
            // also be its decimal exactly
            (if (tag == "long") new BigDecimal(stat) +: nearest else nearest)
              .reduce((a, b) => if ((a.compareTo(b) < 0) == lower) a else b)
          }
        bound.compareTo(value)
      }.toOption
      // date bounds are EPOCH DAYS, timestamp bounds EPOCH MICROS —
      // the parquet physical encodings — so pushed java.sql/java.time
      // values convert through the same DateTimeUtils the scan uses
      case ("date", d: java.sql.Date) => num(d.toLocalDate.toEpochDay)
      case ("date", d: java.time.LocalDate) => num(d.toEpochDay)
      case ("tsus", t: java.sql.Timestamp) => num(DateTimeUtils.fromJavaTimestamp(t))
      case ("tsus", t: java.time.Instant) => num(DateTimeUtils.instantToMicros(t))
      case ("tsntz", t: java.time.LocalDateTime) =>
        num(DateTimeUtils.localDateTimeToMicros(t))
      case _ => None
    }
  }

  /** True when the interval proofs over `cols` (column → (type-tag,
    * min, max)) cannot exclude the file for filter `f` — the interval
    * proof of every scan's data skipping (see `Skipping`).
    *
    * Parquet FP min/max ignore NaN while Spark orders NaN LARGEST, so
    * "hi <= v" never proves a double file has no x > v row (a NaN row
    * matches). Upper-bound proofs are therefore disabled for doubles;
    * lower-bound and equality proofs stay sound (NaN satisfies neither
    * x < v nor x = finite-v). */
  def statsMayMatch(cols: Map[String, (String, String, String)],
      f: org.apache.spark.sql.sources.Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def upperBoundSound(t: String): Boolean = t != "double"
    f match {
      case EqualTo(a, v) => cols.get(a).forall { case (t, lo, hi) =>
        !(statCmp(t, lo, v, lower = true).exists(_ > 0) ||
          statCmp(t, hi, v, lower = false).exists(_ < 0)) }
      case In(a, vs) => vs.exists(v => statsMayMatch(cols, EqualTo(a, v)))
      case GreaterThan(a, v) => cols.get(a).forall { case (t, _, hi) =>
        !upperBoundSound(t) || !statCmp(t, hi, v, lower = false).exists(_ <= 0) }
      case GreaterThanOrEqual(a, v) => cols.get(a).forall { case (t, _, hi) =>
        !upperBoundSound(t) || !statCmp(t, hi, v, lower = false).exists(_ < 0) }
      case LessThan(a, v) => cols.get(a).forall { case (t, lo, _) =>
        !statCmp(t, lo, v, lower = true).exists(_ >= 0) }
      case LessThanOrEqual(a, v) => cols.get(a).forall { case (t, lo, _) =>
        !statCmp(t, lo, v, lower = true).exists(_ > 0) }
      case And(l, r) => statsMayMatch(cols, l) && statsMayMatch(cols, r)
      case Or(l, r) => statsMayMatch(cols, l) || statsMayMatch(cols, r)
      case _ => true // IsNull / Not / string ops: no interval proof → keep
    }
  }

  /** Decode one hive partition-path value with the same semantics as
    * Spark's ExternalCatalogUtils.unescapePathName: ONLY %XX percent
    * escapes are decoded. URLDecoder is wrong here twice over — it
    * turns '+' into a space (escapePathName never encodes '+', so a
    * value like "UTC+2" round-trips through Spark's writer as a
    * literal '+') and it throws on a stray '%' in an adopted
    * non-Spark layout. A malformed escape is kept literally: the only
    * writer that produces it meant it literally, and for pruning a
    * kept-literal value can never be less correct than failing the
    * scan. */
  def unescapePathValue(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code = try Integer.parseInt(s.substring(i + 1, i + 3), 16)
        catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Hive-path partition values of `file` for columns in `refs`,
    * synthesized as point intervals (lo = hi = the value) in
    * [[statsMayMatch]]'s encoding — partition predicates then prune the
    * FILE LIST through the same proof engine as footer stats, instead
    * of relying solely on directory pruning inside the parquet scan. */
  def partitionValueStats(file: String,
      refs: Set[String]): Map[String, (String, String, String)] =
    if (refs.isEmpty) Map.empty
    else partitionValues(file).collect {
      case (c, Some(raw)) if refs(c) => c -> encodePartitionStat(raw)
    }.toMap

  /** Hive partition values of a manifest entry, in path order: every
    * `k=v` directory segment as (k, unescaped v), Spark's
    * `__HIVE_DEFAULT_PARTITION__` marker as None (a null value). The one
    * parser of partition paths. */
  def partitionValues(entry: String): Seq[(String, Option[String])] =
    entry.split('/').toSeq.dropRight(1).filter(_.contains('=')).map { seg =>
      val i = seg.indexOf('=')
      seg.take(i) -> Some(unescapePathValue(seg.drop(i + 1)))
        .filter(_ != "__HIVE_DEFAULT_PARTITION__")
    }

  /** Most specific [[statCmp]] encoding a raw partition string admits.
    * A mis-guess is SOUND by construction: statCmp only compares when
    * the pushed value's runtime type matches the tag, and the pushed
    * value's type is the column's true type — any mismatch returns
    * None ⇒ keep the file. */
  private def encodePartitionStat(raw: String): (String, String, String) =
    if (scala.util.Try(new java.math.BigDecimal(raw)).isSuccess)
      ("long", raw, raw)
    else scala.util.Try(java.time.LocalDate.parse(raw)).toOption match {
      case Some(d) =>
        val days = d.toEpochDay.toString
        ("date", days, days)
      case None => ("string", raw, raw)
    }

  /** `f` renamed through `m`, for the filter shapes the skipping proofs
    * read ([[statsMayMatch]], bloom probes, generated-column
    * derivation); None for any other shape or a column `m` lacks — such
    * a conjunct proves nothing, and callers drop it. */
  def renameFilterAttrs(f: org.apache.spark.sql.sources.Filter,
      m: Map[String, String]): Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => m.get(a).map(EqualTo(_, v))
      case In(a, vs) => m.get(a).map(In(_, vs))
      case GreaterThan(a, v) => m.get(a).map(GreaterThan(_, v))
      case GreaterThanOrEqual(a, v) => m.get(a).map(GreaterThanOrEqual(_, v))
      case LessThan(a, v) => m.get(a).map(LessThan(_, v))
      case LessThanOrEqual(a, v) => m.get(a).map(LessThanOrEqual(_, v))
      case And(l, r) => for (x <- renameFilterAttrs(l, m); y <- renameFilterAttrs(r, m)) yield And(x, y)
      case Or(l, r) => for (x <- renameFilterAttrs(l, m); y <- renameFilterAttrs(r, m)) yield Or(x, y)
      case _ => None
    }
  }

  /** Column mapping: `entries` = visible columns in order (logical →
    * physical); `retired` = physical names of dropped columns (never
    * reusable). Empty ⇒ identity mapping (physical schema is logical). */
  final case class ColMap(entries: Seq[(String, String)], retired: Seq[String]) {
    def isIdentity: Boolean = entries.isEmpty && retired.isEmpty
    def physicalOf: Map[String, String] = entries.toMap
    /** physical name for pruning lookups: mapped, or the name itself
      * under the identity mapping. */
    def phys(logical: String): String = physicalOf.getOrElse(logical, logical)
  }

  /** Extracts the filesystem path from a URI-or-path string — the SQL
    * counterpart of `new URI(s).getPath`, used to match
    * `_metadata.file_path` (e.g. `file:///root/t/part-0.parquet`)
    * against manifest-derived absolute paths in the deletion-vector
    * anti-join. Group 1 is the path for `scheme://host/p`, `scheme:/p`
    * and plain `/p` alike. */
  private[graft] val UriPathRegex: String =
    "^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?(?://[^/]*)?(/.*)$"

  // ---- deletion-vector RLE codec ---------------------------------------
  // Sorted disjoint (start, len) runs over row positions; text form
  // "start:len,start:len" with starts ascending. Runs rather than raw
  // positions because DELETE predicates overwhelmingly hit contiguous
  // position ranges in clustered files (the same insight behind
  // Delta's roaring bitmaps).

  private[graft] def encodeRuns(runs: Seq[(Long, Long)]): String =
    runs.map { case (s, l) => s"$s:$l" }.mkString(",")

  private[graft] def decodeRuns(s: String): Seq[(Long, Long)] =
    if (s.isEmpty) Nil
    else s.split(',').toSeq.map { r =>
      val i = r.indexOf(':')
      (r.substring(0, i).toLong, r.substring(i + 1).toLong)
    }

  /** Sorted distinct positions → normalized runs. */
  private[graft] def toRuns(sorted: Seq[Long]): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    var start = -1L; var len = 0L
    sorted.foreach { p =>
      if (len > 0 && p == start + len) len += 1
      else {
        if (len > 0) out += ((start, len))
        start = p; len = 1
      }
    }
    if (len > 0) out += ((start, len))
    out.result()
  }

  /** Union of two run lists, normalized (overlaps/adjacency merged).
    * Interval sweep — O(runs), never expands positions. */
  private[graft] def mergeRuns(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val all = (a ++ b).sortBy(_._1)
    if (all.isEmpty) return Nil
    val out = Seq.newBuilder[(Long, Long)]
    var (cs, ce) = (all.head._1, all.head._1 + all.head._2) // [cs, ce)
    all.tail.foreach { case (s, l) =>
      if (s <= ce) ce = math.max(ce, s + l)
      else { out += ((cs, ce - cs)); cs = s; ce = s + l }
    }
    out += ((cs, ce - cs))
    out.result()
  }

  /** Positions in `a` but not `b`, as runs — O(runs) interval sweep. */
  private[graft] def runsMinus(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    val bs = b.sortBy(_._1)
    a.sortBy(_._1).foreach { case (s, l) =>
      var cur = s
      val end = s + l
      bs.foreach { case (t, m) =>
        val te = t + m
        if (te > cur && t < end) { // overlap
          if (t > cur) out += ((cur, t - cur))
          cur = math.max(cur, te)
        }
      }
      if (cur < end) out += ((cur, end - cur))
    }
    out.result()
  }

  /** Unsigned UTF-8 byte comparison — parquet binary min/max and Spark
    * both order strings this way; java.lang.String.compareTo (UTF-16
    * code units) disagrees for supplementary-plane characters, which
    * would make range pruning unsound. */
  private[graft] def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Footer-derived min/max of one parquet file's top-level primitive
    * columns (empty when the footer has no usable stats). Static, so
    * write tasks and CONVERT's footer job run it on executors. */
  def footerStats(file: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Map[String, (String, String, String)] =
    try {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.format.converter.ParquetMetadataConverter
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.parquet.schema.LogicalTypeAnnotation.{
        DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation}
      import scala.jdk.CollectionConverters._
      val footer = ParquetFileReader.readFooter(
        conf, new Path(file), ParquetMetadataConverter.NO_FILTER)
      val perCol = scala.collection.mutable.Map[String, (String, String, String)]()
      var dropped = Set.empty[String] // any row group without stats poisons the column
      footer.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala.foreach { cc =>
          val pathParts = cc.getPath.toArray
          if (pathParts.length == 1) {
            val name = pathParts(0)
            val st = cc.getStatistics
            val prim = cc.getPrimitiveType
            // tag + transforms from the raw footer stat to the lo/hi
            // bounds we store (separate lo/hi so unit down-conversions
            // can round OUTWARD); logical types whose physical stats
            // don't compare against pushed-filter values get NO tag
            // (conservative: the column is never pruned on)
            val id = identity[String] _
            val tagOpt: Option[(String, String => String, String => String)] =
              prim.getPrimitiveTypeName match {
                case INT32 | INT64 => prim.getLogicalTypeAnnotation match {
                  case null => Some(("long", id, id))
                  case _: IntLogicalTypeAnnotation => Some(("long", id, id))
                  case d: DecimalLogicalTypeAnnotation =>
                    // precision<=18 decimals are stored as UNSCALED ints;
                    // rescale so bounds compare against the filter's
                    // scaled BigDecimal (raw bounds would prune wrongly)
                    val scale = d.getScale
                    val f = (s: String) => new java.math.BigDecimal(
                      new java.math.BigInteger(s), scale).toPlainString
                    Some(("long", f, f))
                  case _: org.apache.parquet.schema.LogicalTypeAnnotation
                      .DateLogicalTypeAnnotation =>
                    Some(("date", id, id)) // INT32 epoch days as stored
                  case t: org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimestampLogicalTypeAnnotation =>
                    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
                    // normalized to EPOCH MICROS; NANOS excluded — the
                    // nanosAsLong read path surfaces those columns as
                    // plain longs, so pushed values aren't timestamps
                    val tag = if (t.isAdjustedToUTC) "tsus" else "tsntz"
                    t.getUnit match {
                      case TimeUnit.MICROS => Some((tag, id, id))
                      case TimeUnit.MILLIS =>
                        val f = (s: String) =>
                          math.multiplyExact(s.toLong, 1000L).toString
                        Some((tag, f, f))
                      case _ => None
                    }
                  case _ => None // TIME/other: values aren't Numbers
                }
                case FLOAT | DOUBLE => Some(("double", id, id))
                case BINARY if prim.getLogicalTypeAnnotation != null &&
                  prim.getLogicalTypeAnnotation.toString == "STRING" =>
                  Some(("string", id, id))
                case _ => None
              }
            // a failed bound conversion (overflowing MILLIS→micros
            // multiplyExact, an unparseable decimal, a cast surprise)
            // poisons ONLY this column — the same no-proof outcome as
            // tagOpt=None — never the whole file's stats map (which
            // also carries the "" row count other layers depend on)
            try (tagOpt, Option(st)) match {
              case (Some((tag, toLo, toHi)), Some(s)) if s.hasNonNullValue && !dropped(name) =>
                val (lo, hi) = tag match {
                  case "string" =>
                    (s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                     s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                  case _ => (toLo(s.genericGetMin.toString), toHi(s.genericGetMax.toString))
                }
                // ±Infinity/NaN bounds carry no interval information and
                // would crash the BigDecimal compare — poison the column
                def finite(x: String) =
                  scala.util.Try(new java.math.BigDecimal(x)).isSuccess
                if (tag == "double" && (!finite(lo) || !finite(hi))) {
                  dropped += name; perCol.remove(name)
                } else perCol.get(name) match {
                  case None => perCol(name) = (tag, lo, hi)
                  case Some((t, plo, phi)) =>
                    def lt(a: String, b: String): Boolean =
                      if (t == "string") utf8Compare(a, b) < 0
                      else new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)) < 0
                    perCol(name) = (t, if (lt(lo, plo)) lo else plo, if (lt(phi, hi)) hi else phi)
                }
              case (Some(_), _) if !dropped(name) =>
                dropped += name; perCol.remove(name)
              case _ => ()
            } catch { case _: Exception =>
              dropped += name; perCol.remove(name)
            }
          }
        }
      }
      // exact file row count under the reserved "" pseudo-column (no
      // parquet field can be named ""): lets count()/health() answer
      // from commit metadata without a scan. Predicate pruning never
      // consults it — lookups key on real attribute names.
      val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
      perCol("") = ("rows", rows.toString, rows.toString)
      perCol.toMap
    } catch { case _: Exception => Map.empty } // stats are an optimization, never required

  /** A concurrent writer published the version this commit targeted.
    * Commits that retry recompute against the winner (blind appends
    * always; snapshot-derived rewrites abort there if their inputs are
    * gone); single-attempt commits (overwrite, RESTORE) propagate it. */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Every file under `dir`, depth first in `listStatus` order (the
    * order `fs.listFiles(dir, recursive = true)` yields), skipping
    * subdirectories whose name fails `descend`. Plain `listStatus`
    * statuses carry path, length and mtime without the owner and
    * permission `listFiles` fills in — which Hadoop's local filesystem
    * gets by running `ls` once per file when its native library is
    * absent. */
  def listTree(fs: FileSystem, dir: Path,
      descend: String => Boolean = _ => true): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { s =>
      if (s.isDirectory)
        if (descend(s.getPath.getName)) listTree(fs, s.getPath, descend) else Nil
      else Seq(s)
    }

  def apply(spark: SparkSession, path: String,
      partitionColumns: Seq[String] = Nil): GraftTable =
    new GraftTable(spark, path, partitionColumns)

  /** CREATE TABLE: commit a file-less v0 whose recorded schema
    * establishes the table — reads serve an empty frame with this
    * schema and the first write is schema-enforced against it. */
  def create(spark: SparkSession, path: String, schema: StructType,
      partitionColumns: Seq[String] = Nil): GraftTable = {
    require(schema.nonEmpty, "CREATE TABLE needs at least one column")
    val t = new GraftTable(spark, path, partitionColumns)
    require(t.currentVersion < 0,
      s"$path is already a graft table (v${t.currentVersion})")
    t.commit("CREATE TABLE", Nil,
      Map("partitionColumns" -> partitionColumns.mkString(",")),
      newSchema = Some(_ => schema))
    t
  }

  /** CONVERT TO GRAFT (Delta's `CONVERT TO DELTA` parity): adopt an
    * existing plain hive-partitioned parquet directory IN PLACE by
    * committing a v0 manifest that references the files already there —
    * no data is read or rewritten, so converting a 100 TB directory
    * costs one file listing. The table must not already be a graft
    * table. */
  /** The footers of the adopted files are read in one Spark job;
    * `collectStats = false` skips it — converting a huge directory then
    * costs only the listing; files without stats are never pruned until
    * a later OPTIMIZE rewrites them. */
  def convert(spark: SparkSession, path: String,
      partitionColumns: Seq[String] = Nil,
      collectStats: Boolean = true): GraftTable = {
    val t = new GraftTable(spark, path, partitionColumns)
    require(t.currentVersion < 0,
      s"$path is already a graft table (v${t.currentVersion})")
    val listed = t.listDataFiles()
    require(listed.nonEmpty, s"no parquet files under $path to convert")
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val adopted = listed.map { case (f, len, _) => GraftWriter.Written(f, len, Map.empty) }
    val written = if (!collectStats) adopted else
      spark.sparkContext.parallelize(adopted.map(w => w -> t.dataPath(w.path).toString),
          math.min(adopted.size, spark.sparkContext.defaultParallelism * 2))
        .map { case (w, abs) => w.copy(stats = footerStats(abs, conf.value)) }
        .collect().toSeq
    t.commit("CONVERT", written, Map("numFiles" -> listed.size.toString))
    t
  }
}
