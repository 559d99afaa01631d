package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
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
  *    onto the same commit protocol as every other writer; `DELETE`,
  *    `UPDATE` and `MERGE INTO` run as graft commands (`GraftDmlRule`).
  *
  * Reads need the graft session extensions: [[GraftReadRule]] resolves
  * a read of a catalog table (time travel included) to its pinned
  * version's frame, the same log-planned columnar parquet scan as
  * `GraftTable.read()` and `format("graft")`, with the same partition
  * pruning, data skipping, statistics and metadata answers
  * ([[GraftPrepareScan]], [[GraftMetadataAggRule]]).
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
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private val table = GraftTable(spark, path)
  private val pinnedVersion: Long = versionAsOf.getOrElse(table.currentVersion)
  private val pinned = new PinnedFrame(() => table.readVersion(pinnedVersion))

  override def name(): String =
    s"graft.`$path`" + versionAsOf.map(v => s" VERSION AS OF $v").getOrElse("")

  override def schema(): StructType = pinned.schema

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

  /** A frame of the pinned version: what [[GraftReadRule]] resolves a
    * read of this table to. */
  def frame(): DataFrame = pinned.next()

  /** Reads resolve to [[frame]] and DELETE to a command, both by the
    * session extensions: only a session without them plans a scan. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw GraftReadRule.missing(name())

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
