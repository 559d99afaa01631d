package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema `spark.read.parquet(path)` infers, read on the driver from
  * footers, with no Spark job. The files are the ones Spark's listing
  * keeps (hidden `_`/`.` names skipped, `_common_metadata` and
  * `_metadata` summaries kept). As Spark does, one footer is read, a
  * summary's ahead of a data file's, unless `spark.sql.parquet.mergeSchema`
  * is set; then every file's is, and the schemas merge.
  * Each footer converts as in Spark's inference (`readSchemaFromFooter`,
  * under the session's binary-as-string, INT96, NTZ inference and
  * `nanosAsLong` settings). Footers are
  * read on every call, so a file rewritten under the same path reads back
  * with its new types. A path with no file falls back to Spark's own
  * inference, which raises Spark's error. */
object FooterSchema {
  def apply(spark: SparkSession, path: String): StructType = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .sortBy(_.getPath.getName).flatMap(leaves)
    val files = Option(fs.globStatus(root)).toSeq.flatten.flatMap(leaves)
    val (summaries, data) = files.partition(_.getPath.getName.startsWith("_"))
    val touched =
      if (state.conf.isParquetSchemaMergingEnabled) files
      else (summaries.sortBy(_.getPath.getName) ++ data).take(1)
    val footers = touched.map(f => new Footer(f.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)))
    val converter = new ParquetToSparkSchemaConverter(state.conf)
    footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter)).reduceOption(_ merge _)
      .getOrElse(spark.read.parquet(path).schema)
  }
}
