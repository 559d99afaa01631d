package graft.table

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.Json.esc
import graft.table.GraftTable.{ColMap, Meta, Snapshot}

/** One added file: its byte size when known, its column stats (column →
  * (type tag, min, max)), and whether the add brings new rows —
  * `dataChange = false` re-adds a live file only to replace its stats
  * (ANALYZE). */
private[graft] final case class Add(path: String, size: Option[Long],
    stats: Map[String, (String, String, String)], dataChange: Boolean = true)

/** The record of one commit, `_graft_log/v<N>.json`: its commit info,
  * the files it adds and removes, the deletion vectors it replaces
  * (empty runs clear one), and the table metadata when the commit
  * changed it. Txn markers ride the metrics (`txnAppId`/`txnVersion`,
  * and `txnMulti`: comma-joined URL-encoded ids at version 1). */
private[graft] final case class Record(version: Long, timestamp: Long,
    operation: String, metrics: Map[String, String],
    adds: Seq[Add] = Nil, removes: Seq[String] = Nil,
    dv: Map[String, Seq[(Long, Long)]] = Map.empty, meta: Option[Meta] = None) {

  def txns: Seq[(String, Long)] =
    metrics.get("txnAppId").zip(metrics.get("txnVersion").flatMap(_.toLongOption)).toSeq ++
      metrics.get("txnMulti").toSeq.flatMap(_.split(',').filter(_.nonEmpty)
        .map(a => java.net.URLDecoder.decode(a, "UTF-8") -> 1L))
}

/** The JSON-lines codec of the log, after Delta's protocol: one action
  * object per line, `commitInfo` first, then `add`, `remove`, `dv` and
  * `metaData`. A checkpoint's state row uses the same `metaData` form. */
private[graft] object LogRecord {
  private val mapper = new ObjectMapper()

  private def q(s: String) = "\"" + esc(s) + "\""
  private def obj(kvs: Iterable[(String, String)]) =
    kvs.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  private def arr(vs: Iterable[String]) = vs.mkString("[", ",", "]")
  private def strMap(m: Map[String, String]) =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) })
  private def action(kind: String, body: String) = s"{${q(kind)}:$body}"

  def encode(r: Record): String = {
    val info = obj(Seq("version" -> r.version.toString,
      "timestamp" -> q(java.time.Instant.ofEpochMilli(r.timestamp).toString),
      "operation" -> q(r.operation), "operationMetrics" -> strMap(r.metrics)))
    val adds = r.adds.map { a =>
      action("add", obj(Seq("path" -> q(a.path)) ++ a.size.map("size" -> _.toString) ++
        Seq("stats" -> obj(a.stats.toSeq.sortBy(_._1).map { case (c, (t, lo, hi)) =>
          c -> arr(Seq(q(t), q(lo), q(hi))) })) ++
        (if (a.dataChange) Nil else Seq("dataChange" -> "false"))))
    }
    val removes = r.removes.map(f => action("remove", obj(Seq("path" -> q(f)))))
    val dvs = r.dv.toSeq.sortBy(_._1).map { case (f, runs) =>
      action("dv", obj(Seq("path" -> q(f), "runs" -> q(GraftTable.encodeRuns(runs)))))
    }
    (action("commitInfo", info) +: (adds ++ removes ++ dvs ++
      r.meta.map(m => action("metaData", encodeMeta(m))))).mkString("", "\n", "\n")
  }

  /** Parse a record; a text holding only its first line yields the
    * commit info with no actions. */
  def decode(text: String): Record = {
    var r: Record = null
    val adds = Seq.newBuilder[Add]
    val removes = Seq.newBuilder[String]
    val dv = Map.newBuilder[String, Seq[(Long, Long)]]
    var meta: Option[Meta] = None
    text.split('\n').iterator.filter(_.nonEmpty).foreach { line =>
      val entry = mapper.readTree(line).properties().iterator().next()
      val b = entry.getValue
      def path = b.get("path").asText
      entry.getKey match {
        case "commitInfo" =>
          r = Record(b.get("version").asLong,
            java.time.Instant.parse(b.get("timestamp").asText).toEpochMilli,
            b.get("operation").asText, strings(b.get("operationMetrics")))
        case "add" =>
          adds += Add(path, Option(b.get("size")).map(_.asLong),
            fields(b.get("stats")).map { case (c, s) =>
              c -> ((s.get(0).asText, s.get(1).asText, s.get(2).asText)) }.toMap,
            Option(b.get("dataChange")).forall(_.asBoolean))
        case "remove" => removes += path
        case "dv" => dv += path -> GraftTable.decodeRuns(b.get("runs").asText)
        case "metaData" => meta = Some(decodeMeta(b))
        case other => throw new IllegalStateException(s"unknown log action '$other'")
      }
    }
    require(r != null, "log record without commitInfo")
    r.copy(adds = adds.result(), removes = removes.result(), dv = dv.result(), meta = meta)
  }

  /** The commit-info object of a record's first line, as JSON — one row
    * of `history()`. */
  def commitInfoJson(firstLine: String): String =
    mapper.readTree(firstLine).get("commitInfo").toString

  def encodeMeta(m: Meta): String = obj(m.schema.map(s => "schemaString" -> q(s.json)).toSeq ++
    Seq("columnMapping" -> arr(m.colMap.entries.map { case (l, p) => arr(Seq(q(l), q(p))) }),
      "retiredColumns" -> arr(m.colMap.retired.map(q)),
      "constraints" -> strMap(m.constraints),
      "generatedColumns" -> strMap(m.generated),
      "configuration" -> strMap(m.properties)))

  private def decodeMeta(n: JsonNode): Meta = {
    import scala.jdk.CollectionConverters._
    def elems(x: JsonNode): Seq[JsonNode] = Option(x).toSeq.flatMap(_.elements().asScala)
    Meta(Option(n.get("schemaString")).map(s => DataType.fromJson(s.asText).asInstanceOf[StructType]),
      ColMap(elems(n.get("columnMapping")).map(e => e.get(0).asText -> e.get(1).asText),
        elems(n.get("retiredColumns")).map(_.asText)),
      strings(n.get("constraints")), strings(n.get("generatedColumns")),
      strings(n.get("configuration")))
  }

  /** A checkpoint's state row: what a snapshot holds beside its files. */
  def encodeState(s: Snapshot): String = obj(Seq("metaData" -> encodeMeta(s.meta),
    "txn" -> obj(s.txn.toSeq.sortBy(_._1).map { case (a, v) => a -> v.toString }),
    "timestamp" -> s.timestamp.toString))

  /** (metadata, txn map, commit timestamp) of a checkpoint's state row. */
  def decodeState(json: String): (Meta, Map[String, Long], Long) = {
    val n = mapper.readTree(json)
    (decodeMeta(n.get("metaData")),
      fields(n.get("txn")).map { case (a, v) => a -> v.asLong }.toMap,
      n.get("timestamp").asLong)
  }

  private def fields(n: JsonNode): Seq[(String, JsonNode)] = {
    import scala.jdk.CollectionConverters._
    Option(n).toSeq.flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue))
  }

  private def strings(n: JsonNode): Map[String, String] =
    fields(n).map { case (k, v) => k -> v.asText }.toMap
}
