package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, DynamicPruning, Expression, FileSourceMetadataAttribute, Literal, Predicate}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** A [[FileIndex]] over a fixed list of table files that the table's log
  * already describes: each file's qualified path, its byte size and its
  * raw hive partition values. Planning a scan over it makes no
  * filesystem call — no listing, no status probe, no footer read — which
  * is how Delta plans from its log (`TahoeFileIndex`). Partition values
  * are typed by the recorded partition schema, and `listFiles` prunes
  * on them; it then skips the files `skip` rules out for the scan's
  * filters, translated to source filters over the scan's column names.
  *
  * `snapshot` names the table version when the index lists all of its
  * live files under its deletion vectors (a `readVersion` scan): only
  * such a scan gets the log's statistics and metadata answers
  * ([[graft.sources.GraftPrepareScan]], [[graft.sources.GraftMetadataAggRule]]).
  *
  * Two indexes over the same files and partition schema are equal, so a
  * plan reading one snapshot twice still reuses exchanges and caches;
  * `skip` only drops files no row of the scan can come from, so it
  * changes no result and takes no part in equality.
  */
final class GraftFileIndex(
    val files: Seq[GraftFileIndex.Entry],
    partitionColumns: StructType,
    timeZoneId: String,
    skip: Seq[Filter] => String => Boolean,
    val snapshot: Option[GraftFileIndex.Snapshot] = None) extends FileIndex {

  /** File columns are always nullable, as in every Spark file source. */
  override val partitionSchema: StructType = partitionColumns.asNullable

  /** Files grouped by partition values, in the order the log lists them. */
  private lazy val partitions: Seq[PartitionDirectory] = {
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Option[String]], Vector[FileStatusWithMetadata]]
    files.foreach { e =>
      groups(e.partitionValues) = groups.getOrElse(e.partitionValues, Vector.empty) :+
        FileStatusWithMetadata(new FileStatus(e.size, false, 0, 0, 0, e.path))
    }
    groups.iterator.map { case (raw, fs) => PartitionDirectory(row(raw), fs) }.toSeq
  }

  private def row(raw: Seq[Option[String]]): InternalRow =
    InternalRow.fromSeq(partitionSchema.fields.toSeq.zip(raw).map {
      case (_, None) => null
      case (f, Some(v)) => Cast(Literal(v), f.dataType, Some(timeZoneId)).eval()
    })

  override def rootPaths: Seq[Path] = files.map(_.path)
  override def inputFiles: Array[String] = files.map(_.path.toString).toArray
  override def sizeInBytes: Long = files.iterator.map(_.size).sum
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val names = partitionSchema.fieldNames
    val pruning = partitionFilters.filter(_.references.forall(a => names.contains(a.name)))
    val dirs = if (pruning.isEmpty) partitions else {
      val keep = Predicate.createInterpreted(pruning.reduce(And).transform {
        case a: AttributeReference =>
          val i = names.indexOf(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      partitions.filter(p => keep.eval(p.values))
    }
    // a conjunct that does not translate is dropped, which only keeps
    // more files; deletion-vector filters over `_metadata` and runtime
    // (dynamic) pruning filters never reach the skipping proofs
    val proofs = (partitionFilters ++ dataFilters)
      .filterNot(e => e.exists(_.isInstanceOf[DynamicPruning]) ||
        e.references.exists(a => FileSourceMetadataAttribute.isValid(a.metadata)))
      .flatMap(DataSourceStrategy.translateFilter(_, supportNestedPredicatePushdown = false))
    if (proofs.isEmpty) return dirs
    val kept = skip(proofs)
    dirs.map(d => d.copy(files = d.files.filter(f => kept(keyOf(f.getPath)))))
      .filter(_.files.nonEmpty)
  }

  private lazy val keyOf = files.iterator.map(e => e.path -> e.key).toMap

  /** The files a scan under `filters` reads, as an index whose
    * `sizeInBytes` is their bytes. It names no snapshot. */
  def prunedBy(filters: Seq[Expression]): GraftFileIndex = {
    val kept = listFiles(filters, Nil).flatMap(_.files.map(_.getPath)).toSet
    new GraftFileIndex(files.filter(e => kept(e.path)), partitionColumns, timeZoneId, skip)
  }

  override def equals(other: Any): Boolean = other match {
    case o: GraftFileIndex => files == o.files && partitionSchema == o.partitionSchema
    case _ => false
  }

  override lazy val hashCode: Int = (files, partitionSchema).##
}

object GraftFileIndex {

  /** One table file: its log key, qualified path, logged byte size, and
    * the raw (unescaped) value of each partition column, None for null. */
  final case class Entry(key: String, path: Path, size: Long,
      partitionValues: Seq[Option[String]])

  /** Version `version` of the table at `path`. */
  final case class Snapshot(path: String, version: Long)

  /** A parquet scan of `index`'s files read under `dataSchema` plus the
    * index's partition columns — the schema is given, never inferred. */
  def scan(spark: SparkSession, index: GraftFileIndex, dataSchema: StructType): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Dataset.ofRows(classic, LogicalRelation(HadoopFsRelation(index,
      index.partitionSchema, dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(classic)))
  }
}
