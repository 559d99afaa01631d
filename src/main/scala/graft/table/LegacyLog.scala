package graft.table

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import graft.table.GraftTable.{ColMap, Meta, Snapshot}

/** Reader of the version-1 log, kept only to convert such a table once.
  * A v1 commit wrote a `.json` marker plus `v<N>.<kind>.tsv` sidecars —
  * `actions` (adds and removes), `stats`, `dv`, and the full metadata of
  * the version (`colmap`, `constraints`, `generated`, `properties`, and a
  * `v<N>.schema` JSON file); txn markers were folded into `ckpt` tsv
  * checkpoints, and a `v<N>.claim` file was the writer mutex.
  * [[GraftTable]] converts a v1 table the first time a handle reads its
  * log: it writes a v2 checkpoint of the latest version N from [[read]],
  * rewrites `vN.json` as a v2 record and deletes every other v1 file, so
  * earlier versions are gone as after `cleanupLog`. Pre-action
  * `vN.files` manifests and checkpoints written before sizes were logged
  * are refused. */
private[table] object LegacyLog {
  private val TsvKinds = Seq("actions", "stats", "dv", "colmap", "constraints",
    "generated", "properties", "ckpt")
  private val Sidecars = TsvKinds.map(_ + ".tsv") ++ Seq("files", "schema", "claim")

  private def name(v: Long, ext: String) = f"v$v%020d.$ext"
  private def tsv(v: Long, kind: String) = name(v, s"$kind.tsv")

  /** Whether version `latest` of a log listing `names` is a v1 commit. */
  def isLegacy(names: Set[String], latest: Long): Boolean =
    names(tsv(latest, "actions")) || names(name(latest, "files"))

  /** Whether `n` is a file only a v1 log has. */
  def isSidecar(n: String): Boolean = !n.startsWith(".") && Sidecars.exists(s => n.endsWith("." + s))

  /** Table state at v1 version `n` and its commit, as a v2 record. */
  def read(spark: SparkSession, fs: FileSystem, logDir: Path, names: Set[String],
      n: Long): (Snapshot, Record) = {
    val mapper = new ObjectMapper()
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    def text(file: String): String =
      if (!names(file)) ""
      else {
        val in = fs.open(new Path(logDir, file))
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
    def rows(v: Long, kind: String): Seq[Array[String]] =
      text(tsv(v, kind)).split('\n').toSeq.filter(_.nonEmpty).map(_.split('\t'))
    def refuse(what: String) = throw new IllegalStateException(
      s"the graft log at $logDir holds $what, a format this version no longer reads")
    def info(v: Long): Option[Record] = Option(text(name(v, "json"))).filter(_.nonEmpty).map { s =>
      import scala.jdk.CollectionConverters._
      val j = mapper.readTree(s)
      Record(v, java.time.Instant.parse(j.get("timestamp").asText).toEpochMilli,
        j.get("operation").asText,
        Option(j.get("operationMetrics")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty))
    }

    // nearest base: a manifest checkpoint, walking down through action records
    var b = n
    while (b >= 0 && !names(name(b, "ckpt.parquet"))) {
      if (names(name(b, "files"))) refuse(s"a pre-action file manifest ${name(b, "files")}")
      if (!names(tsv(b, "actions"))) throw new IllegalStateException(
        s"cannot convert the graft log at $logDir: no record for v$b")
      b -= 1
    }
    val base =
      if (b < 0) Snapshot.Empty
      else {
        val df = spark.read.parquet(new Path(logDir, name(b, "ckpt.parquet")).toString)
        if (!df.columns.contains("size")) refuse(s"a checkpoint without file sizes (v$b)")
        GraftTable.checkpointFiles(
          df.select("seq", "file", "dv", "stats", "size").collect().sortBy(_.getLong(0)).toSeq)
      }
    // each v1 commit becomes the record it would be in v2; stats of a
    // file it did not add replace that live file's stats (ANALYZE)
    def record(s: Snapshot, v: Long): Record = {
      val acts = rows(v, "actions")
      val stats = rows(v, "stats").collect { case Array(f, c, t, lo, hi) =>
        (dec(f), dec(c), (t, dec(lo), dec(hi)))
      }.groupBy(_._1).map { case (f, cs) => f -> cs.map(x => x._2 -> x._3).toMap }
      val adds = acts.collect { case Array("a", f, rest @ _*) =>
        Add(dec(f), rest.headOption.flatMap(_.toLongOption), stats.getOrElse(dec(f), Map.empty))
      }
      val removes = acts.collect { case Array("r", f) => dec(f) }
      val live = s.files.toSet -- removes
      val restats = stats.collect { case (f, st) if live(f) && !adds.exists(_.path == f) =>
        Add(f, None, st, dataChange = false)
      }
      Record(v, 0L, "", Map.empty, adds ++ restats, removes,
        rows(v, "dv").map(r => dec(r(0)) -> GraftTable.decodeRuns(r.lift(1).getOrElse(""))).toMap)
    }
    val prev = ((b + 1) until n).foldLeft(base)((s, v) => GraftTable.applyRecord(s, record(s, v)))
    val lastActions = record(prev, n)
    val atN = if (b == n) base else GraftTable.applyRecord(prev, lastActions)

    val colmap = rows(n, "colmap")
    val meta = Meta(
      Option(text(name(n, "schema"))).filter(_.nonEmpty)
        .map(DataType.fromJson(_).asInstanceOf[StructType]),
      ColMap(colmap.collect { case Array(l, p, "a") => dec(l) -> dec(p) },
        colmap.collect { case Array(_, p, "r") => dec(p) }),
      rows(n, "constraints").map(r => r(0) -> r.drop(1).mkString("\t")).toMap,
      rows(n, "generated").map(r => r(0) -> r.drop(1).mkString("\t")).toMap,
      rows(n, "properties").map(r => dec(r(0)) -> dec(r.lift(1).getOrElse(""))).toMap)
    // txn map: the latest txn checkpoint at or below n, then the markers
    // of the commits after it (appIds were stored JSON-escaped)
    def unescape(s: String) = mapper.readValue("\"" + s + "\"", classOf[String])
    val ckpt = (n to 0L by -1).find(c => names(tsv(c, "ckpt")))
    val txn0 = ckpt.toSeq.flatMap(c => rows(c, "ckpt"))
      .collect { case Array(a, tv) => unescape(dec(a)) -> tv.toLong }.toMap
    val txn = ((ckpt.getOrElse(-1L) + 1) to n).flatMap(info).flatMap(_.txns)
      .foldLeft(txn0) { case (m, (a, tv)) => if (tv > m.getOrElse(a, -1L)) m + (a -> tv) else m }
    val last = info(n).getOrElse(throw new IllegalStateException(s"no commit v$n in $logDir"))
    (atN.copy(meta = meta, txn = txn, timestamp = last.timestamp),
      lastActions.copy(timestamp = last.timestamp, operation = last.operation,
        metrics = last.metrics, meta = Some(meta)))
  }
}
