package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.table.GraftTable

/** DSv2 catalog for graft tables — the path-based catalog pattern
  * (`SELECT * FROM graft.`/path/to/table``), registered as
  * {{{ spark.sql.catalog.graft = graft.sources.GraftCatalog }}}
  *
  * What DSv2 adds over the DSv1 `format("graft")` source:
  *
  *  - SQL time travel: `SELECT … FROM graft.`/p`` VERSION AS OF n` —
  *    the analyzer routes the version string to
  *    [[GraftCatalog.loadTable(ident,version*]];
  *  - catalog-integrated resolution: the table reports its identity,
  *    partitioning (identity transforms of the hive columns) and
  *    properties to the analyzer;
  *  - SQL DML: `INSERT INTO graft.`/p`` … ` appends and
  *    `INSERT OVERWRITE` logically replaces, through the V1 write shim
  *    onto the same commit protocol as every other writer.
  *
  * Scans bridge through DSv2's official [[V1Scan]] migration shim onto
  * the same pinned-snapshot pruned/filtered scan as [[GraftRelation]],
  * so column pruning, filter pushdown, and hive-partition pruning reach
  * the parquet reader identically on both paths (GraftSourceSpec
  * asserts the pruning on the DSv2 plan too).
  *
  * Catalog DDL (CREATE/ALTER/DROP via this catalog) is rejected: graft
  * tables are path-addressed and carry no catalog-persisted schema, so
  * creation goes through `df.write.format("graft").save(path)` (the
  * first write establishes the schema); DROP is `rm -r` of the path by
  * design (the reference's external-table contract, DESIGN.md).
  */
final class GraftCatalog extends TableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** `graft.`/tmp/t`` parses to namespace=[], name="/tmp/t"; a
    * dotted-dir path arrives as namespace parts and is re-joined. */
  private def pathOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed catalog: tables are not enumerable

  override def loadTable(ident: Identifier): Table =
    GraftV2Table(SparkSession.active, pathOf(ident), None)

  /** `VERSION AS OF v` — the DSv2 time-travel hook. */
  override def loadTable(ident: Identifier, version: String): Table =
    GraftV2Table(SparkSession.active, pathOf(ident), Some(version.toLong))

  /** `TIMESTAMP AS OF ts` — the analyzer hands epoch MICROseconds;
    * resolve to the latest version committed at or before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val spark = SparkSession.active
    val path = pathOf(ident)
    GraftV2Table(spark, path,
      Some(GraftTable(spark, path).versionAtTime(timestamp / 1000L)))
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftTable(SparkSession.active, pathOf(ident)).currentVersion >= 0

  /** SQL `CREATE TABLE graft.\`/path\` (cols…) [PARTITIONED BY (…)]` —
    * commits a file-less v0 whose schema sidecar establishes the
    * table: reads serve an empty frame with that schema, and the first
    * INSERT INTO is schema-enforced against it. Only identity
    * partition transforms are supported (hive layout). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val spark = SparkSession.active
    val path = pathOf(ident)
    val parts = partitions.toSeq.map {
      case t if t.name() == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case t => throw new UnsupportedOperationException(
        s"graft supports identity partition transforms only, got $t")
    }
    val missing = parts.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"partition columns not in schema: ${missing.mkString(", ")}")
    GraftTable.create(spark, path, schema, parts)
    GraftV2Table(spark, path, None)
  }

  /** SQL `ALTER TABLE graft.\`/p\` ADD COLUMN / RENAME COLUMN / DROP
    * COLUMN` — routed onto the metadata-only schema-evolution commits
    * (top-level columns only; every other change kind is rejected). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spark = SparkSession.active
    val t = GraftTable(spark, pathOf(ident))
    // property changes batch into ONE commit each way (SQL SET/UNSET
    // TBLPROPERTIES arrives as one TableChange per key)
    val sets = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value }.toMap
    val unsets = changes.collect {
      case r: TableChange.RemoveProperty => r.property }
    if (sets.nonEmpty) t.setProperties(sets)
    if (unsets.nonEmpty) t.unsetProperties(unsets)
    changes.foreach {
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        t.addColumn(add.fieldNames()(0), add.dataType())
      case ren: TableChange.RenameColumn if ren.fieldNames().length == 1 =>
        t.renameColumn(ren.fieldNames()(0), ren.newName())
      case del: TableChange.DeleteColumn if del.fieldNames().length == 1 =>
        t.dropColumn(del.fieldNames()(0))
      case upd: TableChange.UpdateColumnType if upd.fieldNames().length == 1 =>
        t.alterColumnType(upd.fieldNames()(0), upd.newDataType())
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => ()
      case other => throw new UnsupportedOperationException(
        "graft ALTER TABLE supports top-level ADD/RENAME/DROP COLUMN, " +
        "ALTER COLUMN TYPE (safe widenings) and " +
        s"SET/UNSET TBLPROPERTIES only, got $other")
    }
    GraftV2Table(spark, pathOf(ident), None)
  }

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("graft catalog is read-only")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog is read-only")
}

/** A graft table surfaced through the DSv2 Table interface: snapshot
  * (version + schema) pinned at load, so analysis and execution see one
  * consistent version even under concurrent commits. Writes (`INSERT
  * INTO` appends, `INSERT OVERWRITE` logical truncate-and-write) bridge
  * through DSv2's official [[org.apache.spark.sql.connector.write.V1Write]]
  * shim onto [[GraftTable.write]], so schema enforcement, constraint
  * validation, the put-if-absent commit protocol and append conflict
  * retry all apply identically to SQL and API writers. */
final case class GraftV2Table(spark: SparkSession, path: String,
    versionAsOf: Option[Long]) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private val table = GraftTable(spark, path)
  private val pinnedVersion: Long = versionAsOf.getOrElse(table.currentVersion)
  private val snapshot: DataFrame = table.readVersion(pinnedVersion)

  override def name(): String =
    s"graft.`$path`" + versionAsOf.map(v => s" VERSION AS OF $v").getOrElse("")

  override def schema(): StructType = snapshot.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC)

  /** Hive partition columns: manifest paths, or the CREATE TABLE record
    * for a still-empty table. */
  private def hivePartitionCols(version: Long): Seq[String] =
    table.layoutPartitionColumns(version)

  override def partitioning(): Array[Transform] =
    hivePartitionCols(pinnedVersion).map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] =
    (table.propertiesOf(pinnedVersion) ++
      Map("provider" -> "graft", "location" -> path,
        "version" -> pinnedVersion.toString)).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(snapshot,
      filters => table.scanStats(pinnedVersion, filters),
      filters => table.columnNdv(pinnedVersion, filters),
      column => table.foldedBounds(pinnedVersion, column),
      cols => table.partitionGroupCounts(pinnedVersion, cols),
      (cols, c) => table.partitionGroupBounds(pinnedVersion, cols, c))

  /** SQL `DELETE FROM graft.\`/p\` WHERE …` — the analyzer hands the
    * WHERE clause as source filters when it is fully translatable
    * ([[canDeleteWhere]]); the delete then runs through
    * [[GraftTable.delete]]'s copy-on-write path with the same
    * affected-file pruning, snapshot-conflict abort and constraint
    * semantics as the API DELETE. A non-translatable predicate fails
    * analysis with Spark's standard cannot-delete error rather than
    * silently deleting the wrong rows. `DELETE FROM t` with no WHERE
    * arrives as AlwaysTrue and logically truncates the table. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    versionAsOf.isEmpty && filters.forall(GraftFilters.translate(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(versionAsOf.isEmpty,
      s"cannot delete from a time-travel relation (${name()})")
    val cond = filters.flatMap(GraftFilters.translate)
      .foldLeft(lit(true))(_ && _)
    GraftTable(spark, path, hivePartitionCols(table.currentVersion))
      .delete(cond)
    ()
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(versionAsOf.isEmpty,
      s"cannot write to a time-travel relation ($name)")
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var overwrite = false
      private var overwriteFilters: Array[Filter] = Array.empty
      private var dynamic = false
      override def truncate(): this.type = { overwrite = true; this }
      /** `INSERT OVERWRITE … PARTITION (p = v)` under static overwrite
        * mode: the partition spec arrives as filters — mapped onto the
        * replaceWhere commit (replace exactly the matching files). An
        * AlwaysTrue-only filter set is a plain truncate. */
      override def overwrite(filters: Array[Filter]): this.type = {
        overwrite = true
        overwriteFilters = filters.filterNot(
          _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
        this
      }
      override def overwriteDynamicPartitions(): this.type = {
        dynamic = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: DataFrame, _: Boolean) => {
              // write against the CURRENT layout (not the pinned read
              // snapshot): hive partitioning carries over on append
              val t = GraftTable(data.sparkSession, path,
                hivePartitionCols(table.currentVersion))
              if (dynamic)
                t.write(data, org.apache.spark.sql.SaveMode.Overwrite,
                  dynamicPartitionOverwrite = true)
              else t.write(data,
                if (overwrite) org.apache.spark.sql.SaveMode.Overwrite
                else org.apache.spark.sql.SaveMode.Append,
                replaceWhere =
                  if (overwriteFilters.isEmpty) None
                  else Some(overwriteFilters.map(GraftFilters.toSql)
                    .mkString("(", ") AND (", ")")))
              ()
            }
        }
    }
  }
}

/** Standard DSv2 pushdown negotiation; the filters are accepted as
  * pushed (best-effort translation at scan build) AND returned as
  * residual so Spark re-applies them — translation stays a performance
  * hint, never a correctness dependency (same contract as the DSv1
  * relation). */
final class GraftScanBuilder(snapshot: DataFrame,
    scanStats: Seq[Filter] => (Long, Option[Long]),
    columnNdv: Seq[Filter] => Map[String, Long] = _ => Map.empty,
    foldedBounds: String => Option[(String, String, String)] = _ => None,
    partitionGroupCounts: Seq[String] => Option[Seq[(Seq[Option[String]], Long)]] =
      _ => None,
    partitionGroupBounds: (Seq[String], String) =>
      Option[Seq[(Seq[Option[String]], (String, String, String))]] =
      (_, _) => None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = snapshot.schema
  private var pushed: Array[Filter] = Array.empty
  private var aggAnswer: Option[(StructType, Seq[Seq[Any]])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftFilters.translate(_).isDefined)
    filters // all residual: Spark re-applies above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- metadata-only global aggregates (Delta's "metadata-optimized
  // query" shape): an unfiltered COUNT(*) / MIN / MAX over the table is
  // answered from the manifest — row counts from the stats sidecar
  // minus deletion-vector cardinality, bounds from the folded footer
  // stats — so the query never opens a data file. Accepted only when
  // the whole answer is provable (every file carries the needed stats,
  // no DV can hide an extremum, no residual filter); otherwise the
  // ordinary scan plan stands.

  import org.apache.spark.sql.connector.expressions.aggregate._

  // answerFor walks the whole manifest driver-side; Spark calls
  // supportCompletePushDown and pushAggregation back-to-back with the
  // same aggregation, so memoize on the aggregation's rendered form
  // (+ the pushed-filter state it reads) — one manifest fold, not two
  private var answerMemo: Option[(String, Option[(StructType, Seq[Seq[Any]])])] =
    None

  private def answerMemoized(agg: Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    // the filter component keys on the RENDERED pushed filters, not
    // their count: answerFor bails on pushed.nonEmpty today, but if
    // metadata answers ever start honoring filters, two different
    // same-length filter sets must not alias to one memoized answer
    val key = agg.aggregateExpressions.map(_.describe).mkString(",") + "|" +
      agg.groupByExpressions.map(_.describe).mkString(",") + "|" +
      pushed.map(_.toString).mkString(";")
    answerMemo match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = answerFor(agg)
        answerMemo = Some((key, r))
        r
    }
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerMemoized(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    val a = answerMemoized(agg)
    a.foreach(x => aggAnswer = Some(x))
    a.isDefined
  }

  private def namedCol(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
    case _ => None
  }

  /** Exactly-encoded footer-stat value → external value of the column's
    * type; None on a type/tag mismatch (no proof). */
  private def typedStat(tag: String, dt: DataType, raw: Long): Option[Any] =
    (tag, dt) match {
      case ("long", LongType) => Some(raw)
      case ("long", IntegerType) => Some(raw.toInt)
      case ("long", ShortType) => Some(raw.toShort)
      case ("long", ByteType) => Some(raw.toByte)
      case ("date", DateType) =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(raw)))
      case _ => None // type/tag mismatch: no proof
    }

  // per-column folds fetched ONCE and reused across the MIN and MAX
  // sides of the same aggregation (each is a full per-file manifest
  // walk — a COUNT+MIN+MAX query was paying it per aggregate)
  private val foldedBoundsCache =
    scala.collection.mutable.Map.empty[String, Option[(String, String, String)]]
  private val groupBoundsCache = scala.collection.mutable.Map.empty[
    (Seq[String], String),
    Option[Seq[(Seq[Option[String]], (String, String, String))]]]

  private def boundValue(c: String, lo: Boolean): Option[(DataType, Any)] = {
    val dt = snapshot.schema.find(_.name == c).map(_.dataType).getOrElse(return None)
    foldedBoundsCache.getOrElseUpdate(c, foldedBounds(c)).flatMap {
      case (tag, mn, mx) =>
        typedStat(tag, dt, (if (lo) mn else mx).toLong).map(v => (dt, v))
    }
  }

  private def answerFor(agg: Aggregation): Option[(StructType, Seq[Seq[Any]])] = {
    if (pushed.nonEmpty) return None
    if (agg.groupByExpressions.nonEmpty) return groupedAnswerFor(agg)
    val parts: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          scanStats(Seq.empty)._2.map(n =>
            (StructField("count(*)", LongType, nullable = false), n))
        case m: Min => namedCol(m.column).flatMap(c =>
          boundValue(c, lo = true).map { case (dt, v) =>
            (StructField(s"min($c)", dt), v) })
        case m: Max => namedCol(m.column).flatMap(c =>
          boundValue(c, lo = false).map { case (dt, v) =>
            (StructField(s"max($c)", dt), v) })
        case _ => None
      }
    if (parts.isEmpty || parts.exists(_.isEmpty)) None
    else Some((StructType(parts.flatten.map(_._1)),
      Seq(parts.flatten.map(_._2))))
  }

  /** `GROUP BY <partition cols> → COUNT(*) / MIN / MAX` from the
    * manifest — one row per live partition value: counts fold footer
    * rows minus deletion-vector cardinality, MIN/MAX fold per-file
    * footer bounds per group (the table layer refuses bounds whenever
    * ANY deletion vector exists — a masked row could hold a group's
    * extremum). Hive-path group strings cast to the table's partition
    * types driver-side. Anything unproven — non-partition grouping
    * expressions, uncastable types, missing stats — keeps the ordinary
    * scan plan. */
  private def groupedAnswerFor(agg: Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    // an empty aggregate list is DISTINCT <partition cols> — the group
    // keys alone are the answer
    val colsOpt = agg.groupByExpressions.toSeq.map(namedCol)
    if (colsOpt.exists(_.isEmpty)) return None
    val cols = colsOpt.flatten
    val fields = cols.map(c => snapshot.schema.find(_.name == c))
    if (fields.exists(_.isEmpty)) return None
    val casts: Seq[String => Any] = fields.flatten.map { f =>
      f.dataType match {
        case StringType => (s: String) => s
        case LongType => (s: String) => s.toLong
        case IntegerType => (s: String) => s.toInt
        case ShortType => (s: String) => s.toShort
        case ByteType => (s: String) => s.toByte
        case BooleanType => (s: String) => s.toBoolean
        case DateType => (s: String) => java.sql.Date.valueOf(s)
        case _ => return None // no exact path-string decode → no proof
      }
    }
    // per-aggregate answer: group values → (field, value)
    type GroupKey = Seq[Option[String]]
    def boundsFor(c: String, lo: Boolean, name: String)
        : Option[(StructField, Map[GroupKey, Any])] = {
      val dt = snapshot.schema.find(_.name == c).map(_.dataType)
        .getOrElse(return None)
      groupBoundsCache.getOrElseUpdate((cols, c),
          partitionGroupBounds(cols, c)).flatMap { groups =>
        val typed = groups.map { case (k, (tag, mn, mx)) =>
          typedStat(tag, dt, (if (lo) mn else mx).toLong).map(k -> _)
        }
        if (typed.exists(_.isEmpty)) None
        else Some((StructField(s"$name($c)", dt), typed.flatten.toMap))
      }
    }
    lazy val counts = partitionGroupCounts(cols)
    val answers: Seq[Option[(StructField, Map[GroupKey, Any])]] =
      agg.aggregateExpressions.toSeq.zipWithIndex.map {
        case (_: CountStar, i) => counts.map(gs =>
          (StructField(s"count($i)", LongType, nullable = false),
            gs.map { case (k, n) => (k: GroupKey) -> (n: Any) }.toMap))
        case (m: Min, _) =>
          namedCol(m.column).flatMap(c => boundsFor(c, lo = true, "min"))
        case (m: Max, _) =>
          namedCol(m.column).flatMap(c => boundsFor(c, lo = false, "max"))
        case _ => None
      }
    if (answers.exists(_.isEmpty)) return None
    val resolved = answers.flatten
    // every aggregate folds over the same live file set → same groups;
    // with no aggregates (DISTINCT) the manifest's group list answers
    val keySet: Set[GroupKey] =
      if (resolved.nonEmpty) {
        val ks = resolved.map(_._2.keySet).distinct
        if (ks.length != 1) return None
        ks.head
      } else counts.getOrElse(return None).map(_._1).toSet
    val rows = scala.util.Try(keySet.toSeq.map { k =>
      k.zip(casts).map { case (v, c) => v.map(c).orNull } ++
        resolved.map(_._2(k))
    }).toOption // a value the cast rejects (adopted layout) → no proof
    rows.map { rs =>
      (StructType(fields.flatten.map(f => StructField(f.name, f.dataType)) ++
        resolved.map(_._1)), rs)
    }
  }

  override def build(): Scan = aggAnswer match {
    case Some((schema, values)) => new GraftMetadataAggScan(schema, values)
    case None =>
      new GraftV1ScanShim(snapshot, required, pushed, scanStats, columnNdv)
  }
}

/** Scan carrying a metadata-answered aggregate — one row for the global
  * `SELECT COUNT(*)/MIN/MAX FROM t`, one row per live partition value
  * for `GROUP BY <partition cols> → COUNT(*)`; either way the plan
  * never touches a data file. */
final class GraftMetadataAggScan(schema: StructType, rows: Seq[Seq[Any]])
    extends V1Scan {
  override def readSchema(): StructType = schema
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = GraftMetadataAggScan.this.schema
      override def buildScan(): RDD[Row] =
        context.sparkContext.parallelize(rows.map(Row.fromSeq), 1)
    }.asInstanceOf[T]
}

/** DSv2 scan executing through the V1 relation machinery ([[V1Scan]],
  * the built-in migration shim): the pinned snapshot frame, filtered
  * and pruned, becomes the scan RDD, so predicate pushdown, partition
  * pruning and the file index's data skipping hit the parquet scan
  * exactly as in the DSv1 path. */
final class GraftV1ScanShim(snapshot: DataFrame,
    required: StructType, filters: Array[Filter],
    scanStats: Seq[Filter] => (Long, Option[Long]),
    columnNdv: Seq[Filter] => Map[String, Long] = _ => Map.empty)
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Manifest-derived size/rows of the files SURVIVING data skipping
    * for the pushed filters (deletion-vector cardinality subtracted
    * from rows): join strategy sees the pruned scan, so a selective
    * point lookup over a huge table still auto-broadcasts. Delta's
    * PrepareDeltaScan plays the same stats into Catalyst. ANALYZE'd
    * columns additionally report distinct counts (union of the
    * surviving files' HLL sketches) — `transformV2Stats` turns them
    * into per-attribute ColumnStat, which is what CBO join estimation
    * and join reordering consume. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val (bytes, rows) = scanStats(filters.toIndexedSeq)
    val ndv = columnNdv(filters.toIndexedSeq)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty)(java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        ndv.foreach { case (c, n) =>
          m.put(org.apache.spark.sql.connector.expressions.Expressions.column(c),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(n)
            })
        }
        m
      }
    }
  }

  /** The filtered + pruned snapshot frame this scan executes. Exposed so
    * plan audits can assert that pushed predicates reach the underlying
    * parquet scan as PartitionFilters/PushedFilters (the V1 shim node
    * hides the inner plan from the outer executedPlan string). */
  def scanFrame: DataFrame =
    GraftFilters.scan(snapshot, filters.toIndexedSeq, required.fieldNames.toIndexedSeq)

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def buildScan(): RDD[Row] = scanFrame.rdd
    }.asInstanceOf[T]
}

/** Post-pushdown, V2ScanRelationPushDown wraps every V1Scan in
  * `V1ScanWrapper` — which does NOT implement
  * SupportsReportStatistics, so the scan relation's `computeStats`
  * falls back to `spark.sql.defaultSizeInBytes` (8 EiB) and every
  * statistic the shim reports (post-pruning bytes and rows, ANALYZE
  * distinct counts) vanishes from join planning. This subclass puts
  * them back by unwrapping to the shim. A `copy()` degrades to the
  * base class: a rule copying the node loses stats precision, never
  * correctness. */
final class GraftStatsScanRelation(
    relation0: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
    scan0: Scan,
    output0: scala.collection.immutable.Seq[
      org.apache.spark.sql.catalyst.expressions.AttributeReference],
    kgp0: Option[scala.collection.immutable.Seq[
      org.apache.spark.sql.catalyst.expressions.Expression]],
    ordering0: Option[scala.collection.immutable.Seq[
      org.apache.spark.sql.catalyst.expressions.SortOrder]])
    extends org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation(
      relation0, scan0, output0, kgp0, ordering0) {

  override def computeStats(): org.apache.spark.sql.catalyst.plans.logical.Statistics =
    scan match {
      case w: org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper =>
        w.v1Scan match {
          case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
            org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
              .transformV2Stats(s.estimateStatistics(), None,
                conf.defaultSizeInBytes, output)
          case _ => super.computeStats()
        }
      case _ => super.computeStats()
    }

  // TreeNode.transform keeps the ORIGINAL node whenever the rewritten
  // one is ==-equal (fastEquals), and the inherited case-class equality
  // compares fields only — so without these overrides the stats rule's
  // replacement would be silently discarded. Symmetric: a stats node
  // never equals a plain one, in either direction.
  override def canEqual(other: Any): Boolean =
    other.isInstanceOf[GraftStatsScanRelation]
  override def equals(other: Any): Boolean = other match {
    case o: GraftStatsScanRelation => super.equals(o)
    case _ => false
  }
}

/** Optimizer rule for the "User Provided Optimizers" batch (the only
  * extension point AFTER early scan pushdown — which creates the V1
  * wrapper — and before physical planning's JoinSelection): swap graft
  * scan relations whose stats were swallowed by the wrapper for
  * [[GraftStatsScanRelation]], so the join-strategy decision sees the
  * manifest's pruned-size/row/NDV estimates. CBO's join REORDER batch
  * runs earlier and is not reached — build-side choice is. */
final class GraftScanStatsRule
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}

  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    plan.transform {
      case r: DataSourceV2ScanRelation if !r.isInstanceOf[GraftStatsScanRelation] =>
        r.scan match {
          case w: V1ScanWrapper if w.v1Scan.isInstanceOf[GraftV1ScanShim] =>
            new GraftStatsScanRelation(r.relation, r.scan, r.output,
              r.keyGroupedPartitioning, r.ordering)
          case _ => r
        }
    }
}

object GraftScanStatsRule {
  /** Idempotently append the rule to `session.experimental
    * .extraOptimizations` (read fresh by the optimizer on every run,
    * so registration any time before the first optimization sticks). */
  def register(session: SparkSession): Unit = session.synchronized {
    val cur = session.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[GraftScanStatsRule]))
      session.experimental.extraOptimizations = cur :+ new GraftScanStatsRule
  }
}
