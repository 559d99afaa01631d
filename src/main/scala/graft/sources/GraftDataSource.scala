package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import graft.table.GraftTable

/** `format("graft")` — the manifest-versioned table layer exposed through
  * Spark's standard source API, so GraftTable participates in
  * `spark.read` / `df.write` / `CREATE TABLE … USING graft` like any
  * built-in format:
  *
  * {{{
  *   spark.read.format("graft").load(path)                      // current
  *   spark.read.format("graft").option("versionAsOf", 3).load(path)
  *   df.write.format("graft").option("partitionBy", "a,b")
  *     .mode("overwrite").save(path)
  *   spark.sql(s"CREATE TABLE t USING graft LOCATION '$path'")
  * }}}
  *
  * Reads (`USING graft` tables, time travel, `readChangeFeed`,
  * `withRowIds` included) need the graft session extensions: their
  * scan-less [[GraftRelation]] resolves ([[GraftReadRule]]) to the
  * pinned version's columnar scan, the plan `GraftTable.read()` builds.
  * Writes need no extension: they map
  * SaveMode onto the manifest commit (logical overwrite / append with
  * schema enforcement).
  */
final class GraftDataSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path (load(path) or OPTIONS (path ...))"))

  /** The read form: [[GraftReadRule]] is the only read path. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    GraftReadRule.require(sqlContext.sparkSession, s"graft table ${pathOf(parameters)}")
    relation(sqlContext, parameters)
  }

  private def relation(sqlContext: SQLContext,
      parameters: Map[String, String]): GraftRelation = {
    val path = pathOf(parameters)
    val t = GraftTable(sqlContext.sparkSession, path)
    // batch change-feed read (Delta's readChangeFeed batch option):
    // rows changed between two committed versions, cost ∝ changed files
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      val from = parameters.get("startingVersion").map(_.toLong).getOrElse(0L)
      val to = parameters.get("endingVersion").map(_.toLong)
        .getOrElse(t.currentVersion)
      return GraftRelation(sqlContext, path, new PinnedFrame(() => t.changes(from, to)))
    }
    // timestampAsOf (ISO-8601 instant or epoch millis) resolves to the
    // latest version committed at or before it — Delta's TIMESTAMP AS OF
    val byTime = parameters.get("timestampAsOf").map { ts =>
      val ms = scala.util.Try(ts.toLong).getOrElse(
        java.time.Instant.parse(ts).toEpochMilli)
      t.versionAtTime(ms)
    }
    require(byTime.isEmpty || !parameters.contains("versionAsOf"),
      "specify either versionAsOf or timestampAsOf, not both")
    val v = byTime.orElse(parameters.get("versionAsOf").map(_.toLong))
      .getOrElse(t.currentVersion)
    // withRowIds (row tracking): the snapshot with the stable `_row_id`
    // column attached (file base + row position)
    if (parameters.get("withRowIds").exists(_.toBoolean))
      GraftRelation(sqlContext, path, new PinnedFrame(() => t.readWithRowIds(v)))
    else GraftRelation(sqlContext, path, new PinnedFrame(() => t.readVersion(v)))
  }

  // ---- streaming read: readStream.format("graft").load(path) -----------

  private def isCdf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse {
      val path = pathOf(parameters)
      val t = GraftTable(sqlContext.sparkSession, path)
      if (t.currentVersion < 0)
        throw new IllegalStateException(
          s"graft table at $path has no commits yet — write at least one " +
          "version before streaming from it, or pass an explicit schema " +
          "via readStream.schema(...)")
      val base = t.read().schema
      if (isCdf(parameters)) base.add("_change_type", "string", nullable = false)
      else base
    })

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "specify either startingVersion or startingTimestamp, not both")
    // startingTimestamp (Delta parity): commits at/after the timestamp
    // flow as changes — resolved to the exclusive predecessor version.
    // A timestamp at/before the first retained commit (or an empty
    // table) streams the initial snapshot, like no option at all.
    val startVer = parameters.get("startingVersion").map(_.toLong)
      .orElse(parameters.get("startingTimestamp").flatMap { ts =>
        val ms = scala.util.Try(ts.toLong).getOrElse(
          java.time.Instant.parse(ts).toEpochMilli)
        GraftTable(sqlContext.sparkSession, pathOf(parameters))
          .versionBeforeTime(ms)
      })
    new GraftStreamSource(
      sqlContext.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      pathOf(parameters),
      startVer,
      changeFeed = isCdf(parameters),
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toLong),
      maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map(_.toLong),
      maxBytesPerTrigger =
        parameters.get("maxBytesPerTrigger").map(GraftStreamSource.parseBytes),
      skipChangeCommits =
        parameters.get("skipChangeCommits").exists(_.toBoolean))
  }

  // ---- streaming write: writeStream.format("graft").start(path) --------

  /** Exactly-once streaming sink: each micro-batch is an idempotent
    * append keyed by (checkpoint identity, batchId) — the Delta
    * streaming-sink contract. A batch replayed after a restart (sink
    * committed, checkpoint didn't advance) is skipped, not duplicated;
    * a distinct checkpoint (new stream) gets a distinct txn app id and
    * appends independently. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft sink supports Append output mode only, got $outputMode " +
      "(aggregate with watermarks + append, or use foreachBatch + merge)")
    val path = pathOf(parameters)
    val parts = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(partitionColumns)
    new GraftStreamSink(path, parts,
      parameters.get("queryName"), parameters.get("checkpointLocation"))
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val partitionColumns = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val table = GraftTable(sqlContext.sparkSession, path, partitionColumns)
    mode match {
      case SaveMode.ErrorIfExists if table.currentVersion >= 0 =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case SaveMode.Ignore if table.currentVersion >= 0 => ()
      case SaveMode.Append if parameters.contains("txnAppId") ||
          parameters.contains("txnVersion") =>
        // idempotent batch append (Delta's txnAppId/txnVersion writer
        // options): a replayed (appId, version) pair no-ops instead of
        // duplicating — the manual-retry form of the streaming sink's
        // exactly-once contract
        val appId = parameters.getOrElse("txnAppId",
          throw new IllegalArgumentException(
            "txnVersion requires txnAppId (and vice versa)"))
        val txnV = parameters.getOrElse("txnVersion",
          throw new IllegalArgumentException(
            "txnAppId requires txnVersion (and vice versa)")).toLong
        table.idempotentAppend(data, appId, txnV)
      case m =>
        require(!parameters.contains("txnAppId") &&
            !parameters.contains("txnVersion"),
          "txnAppId/txnVersion idempotent writes support Append mode only")
        val effMode =
          if (m == SaveMode.Append) SaveMode.Append else SaveMode.Overwrite
        val replaceWhere = parameters.get("replaceWhere").map(_.trim)
          .filter(_.nonEmpty)
        // the explicit writer option beats the session conf (Delta's
        // precedence for spark.sql.sources.partitionOverwriteMode);
        // replaceWhere beats a conf-level dynamic mode but conflicts
        // with an explicitly dynamic option
        val explicitDpo = parameters.get("partitionOverwriteMode")
          .map(_.equalsIgnoreCase("dynamic"))
        require(!(replaceWhere.isDefined && explicitDpo.contains(true)),
          "replaceWhere and partitionOverwriteMode=dynamic cannot be combined")
        val dynamic = effMode != SaveMode.Append && replaceWhere.isEmpty &&
          explicitDpo.getOrElse(sqlContext.sparkSession.conf
            .getOption("spark.sql.sources.partitionOverwriteMode")
            .exists(_.equalsIgnoreCase("dynamic")))
        table.write(data, effMode,
          mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean),
          overwriteSchema = parameters.get("overwriteSchema").exists(_.toBoolean),
          replaceWhere = replaceWhere,
          dynamicPartitionOverwrite = dynamic)
    }
    relation(sqlContext, parameters)
  }
}

/** Incremental micro-batch source over a graft table's manifest log —
  * the Delta streaming-source pairing for [[GraftTable.changes]]:
  * offset N means "delivered through table version N"; the first batch
  * is the full snapshot at the stream-start version (or, with option
  * `startingVersion`, only changes after it), and every later batch is
  * the row-level insert diff `changes(lastV, newV)` — new and updated
  * row versions flow, carried-over rows don't. Deleted rows do not flow
  * (Delta's `ignoreChanges` contract); consumers needing delete
  * tombstones read `GraftTable.changes` in batch.
  *
  * Scale: an append-only commit diffs at FILE level (the added files are
  * scanned directly, no anti-join); only commits that rewrite files
  * (DELETE/UPDATE/MERGE) pay the changed-files row diff — never a full
  * table scan per batch.
  */
object GraftStreamSource {
  /** Byte-count option values, Spark/Delta style: a plain long or a
    * k/m/g-suffixed string (binary units), e.g. "10g". */
  def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase(java.util.Locale.ROOT)
    val (num, mult) = t.last match {
      case 'k' => (t.dropRight(1), 1L << 10)
      case 'm' => (t.dropRight(1), 1L << 20)
      case 'g' => (t.dropRight(1), 1L << 30)
      case _ => (t, 1L)
    }
    math.multiplyExact(num.trim.toLong, mult)
  }
}

final class GraftStreamSource(
    session: org.apache.spark.sql.classic.SparkSession,
    path: String, startingVersion: Option[Long],
    changeFeed: Boolean = false,
    maxVersionsPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    skipChangeCommits: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset
  import org.apache.spark.sql.connector.read.streaming.{
    Offset => V2Offset, ReadLimit}

  require(maxFilesPerTrigger.forall(_ > 0), "maxFilesPerTrigger must be > 0")
  require(maxBytesPerTrigger.forall(_ > 0), "maxBytesPerTrigger must be > 0")
  require(!(changeFeed && skipChangeCommits),
    "skipChangeCommits applies to the normal stream only; the change " +
    "feed exists to surface exactly those commits")
  require(!(changeFeed &&
      (maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined)),
    "maxFilesPerTrigger/maxBytesPerTrigger are not supported with " +
    "readChangeFeed (change rows of a rewrite commit have no per-file " +
    "decomposition); use maxVersionsPerTrigger")

  private def table = GraftTable(session, path)
  // Admission control for catch-up: `maxVersionsPerTrigger` caps how
  // many versions one micro-batch spans; `maxFilesPerTrigger` /
  // `maxBytesPerTrigger` (Delta parity) additionally split a single
  // oversized APPEND-ONLY commit — and the INITIAL SNAPSHOT itself —
  // across triggers at file granularity. A boundary is therefore
  // (version, fileIndex, snapshot?): idx -1 = "delivered through
  // version v" (encoded as a plain long, the pre-file-granularity
  // json, so old checkpoints parse); idx i >= 0 = "plus the first i+1
  // files of v" — the version's ADD list normally, or the SORTED
  // MANIFEST of v when the boundary is a partially-delivered initial
  // snapshot (flagged in the json). Exactly-once holds because both
  // lists are immutable and deterministically ordered — any boundary
  // names one definite row set.
  private[sources] final case class Boundary(v: Long, idx: Int,
      snap: Boolean = false) {
    def complete: Boolean = idx == -1
  }
  @volatile private var lastOffered: Option[Boundary] = None

  private def encode(o: Boundary): V1Offset = o match {
    case Boundary(v, -1, _) => LongOffset(v)
    case Boundary(v, i, true) => new V1Offset {
      override def json(): String =
        s"""{"version":$v,"index":$i,"snapshot":true}"""
    }
    case Boundary(v, i, _) => new V1Offset {
      override def json(): String = s"""{"version":$v,"index":$i}"""
    }
  }

  private val OffJson = """\{"version":(\d+),"index":(\d+)\}""".r
  private val OffSnapJson =
    """\{"version":(\d+),"index":(\d+),"snapshot":true\}""".r
  private def decodeJson(json: String): Boundary = json match {
    case OffSnapJson(v, i) => Boundary(v.toLong, i.toInt, snap = true)
    case OffJson(v, i) => Boundary(v.toLong, i.toInt)
    case plain => Boundary(plain.toLong, -1)
  }
  private def decode(o: V1Offset): Boundary = decodeJson(o.json())

  /** Strict "delivered-through" order: a partial index precedes the
    * complete (-1) marker of the same version (a version is either the
    * pinned initial snapshot or a later diff within one stream, so the
    * flag never flips inside a version). */
  private def beforeKey(o: Boundary): (Long, Long) =
    (o.v, if (o.complete) Long.MaxValue else o.idx.toLong)
  // schema pinned at FIRST USE (lazy: source creation on a
  // not-yet-written table must not crash — the planner may build the
  // source before the first commit lands); later evolution is rejected
  // by the select/cast below rather than silently diverging mid-stream.
  // In CDF mode (Delta's readChangeFeed) the feed carries _change_type
  // and deletes FLOW as tombstone rows instead of being dropped.
  private lazy val pinned: StructType = {
    val t = table
    if (t.currentVersion < 0)
      throw new IllegalStateException(
        s"graft table at $path has no commits yet — write at least one " +
        "version before streaming from it")
    val base = t.read().schema
    if (changeFeed) base.add("_change_type", "string", nullable = false) else base
  }

  override def schema: StructType = pinned

  /** One admission step: the furthest offset this trigger may deliver,
    * given the last delivered/offered boundary `from` and the newest
    * available version `target`. Shared by the legacy getOffset path
    * and the admission-control latestOffset path. */
  private val fCap: Long = maxFilesPerTrigger.getOrElse(Long.MaxValue)
  private val bCap: Long = maxBytesPerTrigger.getOrElse(Long.MaxValue)
  private val fileGranular =
    maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined

  /** Most files of `adds` one trigger may take: file AND byte caps
    * respected, always at least one so the stream progresses (Delta's
    * maxBytesPerTrigger is a soft cap the same way). */
  private def admitCount(adds: Seq[(String, Long)]): Int = {
    var c = 0
    var b = 0L
    while (c < adds.size && c < fCap && (c == 0 || b + adds(c)._2 <= bCap)) {
      b += adds(c)._2; c += 1
    }
    math.max(c, 1)
  }

  /** Continue a partially-delivered file list (`all`, boundary index
    * `i`): the next boundary under the caps, complete when the tail
    * fits. */
  private def continuePartial(v: Long, i: Int, all: Seq[(String, Long)],
      snap: Boolean): Boundary = {
    val rest = all.drop(i + 1)
    if (rest.isEmpty) Boundary(v, -1)
    else {
      val c = admitCount(rest)
      if (i + c < all.size - 1) Boundary(v, i + c, snap) else Boundary(v, -1)
    }
  }

  private def admit(from: Option[Boundary], target: Long): Boundary =
    if (maxVersionsPerTrigger.isEmpty && !fileGranular)
      Boundary(target, -1)
    else from match {
      case None if !fileGranular =>
        Boundary(target, -1) // initial snapshot: one batch
      case None =>
        // the initial snapshot splits under the same file/byte caps a
        // backfill commit does — a 100 TB table's first delivery is
        // thousands of bounded triggers, not one unbounded batch
        val files = table.manifestFilesWithSizes(target)
        val c = admitCount(files)
        if (files.isEmpty || c >= files.size) Boundary(target, -1)
        else Boundary(target, c - 1, snap = true)
      case Some(Boundary(w, i, true)) if i >= 0 =>
        // finish the pinned initial snapshot before any diff flows
        continuePartial(w, i, table.manifestFilesWithSizes(w), snap = true)
      case Some(Boundary(w, i, _)) if i >= 0 =>
        // finish (or extend) the partially-delivered version first
        continuePartial(w, i,
          table.appendOnlyAddsWithSizes(w).getOrElse(Seq.empty), snap = false)
      case Some(Boundary(w, _, _)) if w >= target =>
        Boundary(w, -1) // caught up
      case Some(Boundary(w, _, _)) =>
        // admit whole versions up to all three caps; a SINGLE oversized
        // append-only commit at the front splits at file granularity
        val vCap = maxVersionsPerTrigger.getOrElse(Long.MaxValue)
        var v = w
        var files = 0L
        var bytes = 0L
        var out: Boundary = Boundary(w, -1)
        var done = false
        while (!done && v < target && (v - w) < vCap) {
          val nv = v + 1
          val adds =
            if (fileGranular) table.appendOnlyAddsWithSizes(nv) else None
          val n = adds.map(_.size.toLong).getOrElse(0L)
          val b = adds.map(_.iterator.map(_._2).sum).getOrElse(0L)
          val overflow = adds.isDefined &&
            (files + n > fCap || bytes + b > bCap)
          if (overflow && files == 0 && bytes == 0) {
            // a single file above bCap still ships whole (soft cap)
            val c = admitCount(adds.get)
            out = if (c >= adds.get.size) Boundary(nv, -1)
              else Boundary(nv, c - 1)
            done = true
          } else if (overflow) {
            done = true // next version would overflow: stop before it
          } else {
            files += n; bytes += b; v = nv; out = Boundary(nv, -1)
          }
        }
        out
    }

  override def getOffset: Option[V1Offset] = {
    val target = table.currentVersion
    if (target < 0) return None
    val next = admit(
      lastOffered.orElse(startingVersion.map(sv => Boundary(sv, -1))), target)
    lastOffered = Some(next)
    Some(encode(next))
  }

  // ---- Trigger.AvailableNow (Delta parity) ----------------------------
  // Native SupportsTriggerAvailableNow: the run-to-caught-up-then-stop
  // trigger honors maxVersionsPerTrigger/maxFilesPerTrigger instead of
  // Spark's unsupported-source fallback (ONE unbounded batch). The
  // end-of-stream target is pinned at query start; commits landing
  // during the run wait for the next run.
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(table.currentVersion)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission-control offset negotiation. Once this source implements
    * [[org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl]],
    * the micro-batch planner calls THIS (with the previous end offset)
    * for every trigger kind — getOffset stays only as the legacy
    * surface. The caps live in the source's options, so the planner's
    * `limit` (always allAvailable here) is not consulted. */
  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val target = availableNowTarget match {
      case Some(t) => math.min(t, table.currentVersion)
      case None => table.currentVersion
    }
    if (target < 0) return null
    val from = Option(start).map(o => decodeJson(o.json()))
      .orElse(startingVersion.map(sv => Boundary(sv, -1)))
    val next = admit(from, target)
    lastOffered = Some(next)
    encode(next)
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val endB = decode(end)
    val to = endB.v
    val toIdx = endB.idx
    val from: Option[Boundary] =
      start.map(decode).orElse(startingVersion.map(sv => Boundary(sv, -1)))
    // a restart whose checkpointed offset predates log retention must
    // fail with a clear contract error, not a raw FileNotFoundException
    // from the dropped manifest. A partial boundary needs its OWN
    // version retained too (the tail files come from its action record).
    from.filter { b =>
      (b.v < to || b.idx >= 0) && !table.hasVersion(b.v)
    }.foreach { b =>
      throw new IllegalStateException(
        s"stream start/restart version v${b.v} of the graft table at $path " +
        "has been removed by log retention (cleanupLog); restart from a " +
        "fresh checkpoint, or from a retained startingVersion >= " +
        s"the earliest retained commit")
    }
    def insertsOnly(ch: DataFrame): DataFrame =
      // new and updated row versions flow (Delta's ignoreChanges
      // contract): plain inserts plus the postimages of UPDATE/MERGE
      // commits that recorded CDC images
      if (changeFeed) ch
      else ch.filter(col("_change_type").isin("insert", "update_postimage"))
        .drop("_change_type")
    // Delta's skipChangeCommits: versions that rewrite or delete files
    // contribute NOTHING (not even their re-inserted row versions) —
    // only pure append commits flow. Cost: the append fast path per
    // version, no row-level diff ever.
    def appendsOnly(from: Long, to: Long): Option[DataFrame] = {
      val parts = (from + 1 to to).flatMap { v =>
        table.appendOnlyAdds(v).filter(_.nonEmpty)
          .map(adds => table.readAddedFiles(v, adds))
      }
      if (parts.isEmpty) None
      else Some(parts.reduce(_.unionByName(_, allowMissingColumns = true)))
    }
    def asInserts(df: DataFrame): DataFrame =
      if (changeFeed) df.withColumn("_change_type", lit("insert")) else df
    val batch = from match {
      case None if endB.snap && toIdx >= 0 =>
        // HEAD of a split initial snapshot: the first toIdx+1 manifest
        // files (deterministic order), v's vectors/map applied
        val files = table.manifestFilesWithSizes(to).map(_._1)
        asInserts(table.readAddedFiles(to, files.take(toIdx + 1)))
      case None =>
        val snap = table.readVersion(to) // initial snapshot, one batch
        asInserts(snap)
      case Some(f) if f.snap && f.idx >= 0 =>
        // continue the pinned snapshot: slice (f.idx, end] of its
        // manifest — admission never crosses to diffs mid-snapshot
        val files = table.manifestFilesWithSizes(f.v).map(_._1)
        val until = if (endB.snap && toIdx >= 0) toIdx else files.size - 1
        val tail = files.slice(f.idx + 1, until + 1)
        if (tail.isEmpty) asInserts(table.readVersion(to).limit(0))
        else asInserts(table.readAddedFiles(f.v, tail))
      case Some(f) if beforeKey(f)._1 > to ||
          (beforeKey(f) == beforeKey(endB)) ||
          (f.v == to && f.complete) =>
        val empty = table.readVersion(to).limit(0)
        asInserts(empty)
      case Some(Boundary(fv, fi, _)) =>
        // three disjoint row sets, any of which may be empty: the TAIL
        // of a partially-delivered version fv, the COMPLETE versions
        // between, and the HEAD of a partially-delivered version to
        val pieces = scala.collection.mutable.ArrayBuffer[DataFrame]()
        if (fi >= 0) {
          val adds = table.appendOnlyAdds(fv).getOrElse(Seq.empty)
          val until = if (fv == to && toIdx >= 0) toIdx else adds.size - 1
          val tail = adds.slice(fi + 1, until + 1)
          if (tail.nonEmpty) pieces += table.readAddedFiles(fv, tail)
        }
        val completeTo = if (toIdx >= 0) to - 1 else to
        if (fv < to && completeTo > fv) {
          if (skipChangeCommits) appendsOnly(fv, completeTo).foreach(pieces += _)
          else pieces += insertsOnly(table.changes(fv, completeTo))
        }
        if (toIdx >= 0 && fv != to) {
          val head = table.appendOnlyAdds(to).getOrElse(Seq.empty).take(toIdx + 1)
          if (head.nonEmpty) pieces += table.readAddedFiles(to, head)
        }
        if (pieces.isEmpty) table.readVersion(to).limit(0)
        else pieces.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    val aligned = batch.select(
      pinned.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
    // tag as streaming so the micro-batch planner accepts the frame
    org.apache.spark.sql.graft.ColumnBridge.streamingDataFrame(
      session, aligned.queryExecution.toRdd, pinned)
  }

  override def commit(end: V1Offset): Unit = ()
  override def stop(): Unit = ()
}

/** DSv1 streaming Sink appending micro-batches into a graft table —
  * the write-side pairing of [[GraftStreamSource]]. Exactly-once: the
  * txn app id derives from the stream's checkpoint location (stable
  * across restarts, distinct across streams), the txn version is the
  * batch id, so `idempotentAppend` turns a replayed batch into a no-op.
  * Concurrent batch writers to the same table are safe: appends retry
  * through the put-if-absent conflict path. */
final class GraftStreamSink(path: String, partitionColumns: Seq[String],
    queryName: Option[String], checkpointLocation: Option[String])
    extends org.apache.spark.sql.execution.streaming.Sink {
  import org.apache.hadoop.fs.Path

  private val appId: String =
    checkpointLocation.map(c => s"graft-sink-${new Path(c).toUri.getPath}")
      .orElse(queryName.map(q => s"graft-sink-q-$q"))
      // no checkpoint → no recovery semantics anyway; a unique id keeps
      // unrelated ad-hoc streams from colliding on replay protection
      .getOrElse(s"graft-sink-${java.util.UUID.randomUUID}")

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val table = GraftTable(data.sparkSession, path, partitionColumns)
    // the incoming frame is streaming-tagged: re-plan it as a batch
    // frame over the same rows before the batch writer executes it
    val batch = org.apache.spark.sql.graft.ColumnBridge.batchDataFrame(data)
    table.idempotentAppend(batch, appId, batchId)
  }

  override def toString: String = s"GraftStreamSink[$path]"
}

/** What `format("graft")` and `USING graft` resolve to: a relation with
  * no scan of its own. [[GraftReadRule]] replaces it with the plan of
  * the pinned frame (a version, its change feed, or its rows with row
  * ids); the version is pinned when the relation is made, so schema and
  * rows come from one committed version. */
final case class GraftRelation(sqlContext: SQLContext, path: String,
    pinned: PinnedFrame) extends BaseRelation {
  override def schema: StructType = pinned.schema
}

/** A pinned version's frame, built once: its schema is the relation's
  * schema, and the first read that resolves the relation plans it; any
  * later read builds a fresh frame, so no two reads share attribute ids. */
final class PinnedFrame(build: () => DataFrame) {
  private val first = new java.util.concurrent.atomic.AtomicReference(build())
  val schema: StructType = first.get.schema
  def next(): DataFrame = Option(first.getAndSet(null)).getOrElse(build())
}

/** Source filters as SQL text: the bridge from the catalog table's
  * static-partition INSERT OVERWRITE to the table's replaceWhere commit. */
private[sources] object GraftFilters {
  /** Render a pushed filter as SQL text — the bridge from `INSERT
    * OVERWRITE … PARTITION (p = v)`'s static spec to the replaceWhere
    * commit. Unsupported shapes throw: replacing the WRONG files on a
    * silent mistranslation is never acceptable. */
  def toSql(f: Filter): String = f match {
    case EqualTo(a, v) => s"`$a` = ${litSql(v)}"
    case EqualNullSafe(a, v) => s"`$a` <=> ${litSql(v)}"
    case GreaterThan(a, v) => s"`$a` > ${litSql(v)}"
    case GreaterThanOrEqual(a, v) => s"`$a` >= ${litSql(v)}"
    case LessThan(a, v) => s"`$a` < ${litSql(v)}"
    case LessThanOrEqual(a, v) => s"`$a` <= ${litSql(v)}"
    case In(a, vs) => s"`$a` IN (${vs.map(litSql).mkString(", ")})"
    case IsNull(a) => s"`$a` IS NULL"
    case IsNotNull(a) => s"`$a` IS NOT NULL"
    case And(l, r) => s"(${toSql(l)}) AND (${toSql(r)})"
    case Or(l, r) => s"(${toSql(l)}) OR (${toSql(r)})"
    case Not(c) => s"NOT (${toSql(c)})"
    case other => throw new IllegalArgumentException(
      s"cannot express overwrite filter $other as a replaceWhere " +
      "predicate; use the API write with an explicit replaceWhere option")
  }

  private def litSql(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case s: org.apache.spark.unsafe.types.UTF8String =>
      "'" + s.toString.replace("'", "''") + "'"
    case d: java.sql.Date => s"DATE '$d'"
    case d: java.time.LocalDate => s"DATE '$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case t: java.time.Instant => s"TIMESTAMP '${java.sql.Timestamp.from(t)}'"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => n.toString
    case n: Double => n.toString
    case n: java.math.BigDecimal => n.toString
    case n: BigDecimal => n.toString
    case other => throw new IllegalArgumentException(
      s"cannot render overwrite literal $other " +
      s"(${other.getClass.getName}) as SQL")
  }
}
