package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormatWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf

import graft.table.GraftTable

/** The one writer of table-owned parquet. Spark's `FileFormatWriter`
  * writes each file once, at its final path ([[Protocol]]): no
  * `_temporary`, no `_SUCCESS`, no rename. A file joins a table only when
  * a commit record names it, as with Delta's `DelayedCommitProtocol`.
  * The write runs in a clone of the caller's session that keeps up to
  * 16 partition files open per task, so an input not sorted by partition
  * is written without sorting its rows; the caller's conf is untouched.
  */
object GraftWriter {

  /** A written file: path relative to the write's root, byte size and
    * footer stats. */
  final case class Written(path: String, size: Long, stats: Map[String, (String, String, String)])

  /** Writes `df` under `root`, in hive directories of `partitionColumns`,
    * with parquet `options`; each task reads its own files' footer stats
    * ([[GraftTable.footerStats]]). */
  def write(df: DataFrame, root: Path, partitionColumns: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Seq[Written] = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
    session.sessionState.conf.setConf(SQLConf.MAX_CONCURRENT_OUTPUT_FILE_WRITERS, 16)
    val qe = Dataset.ofRows(session, df.queryExecution.logical).queryExecution
    val resolver = session.sessionState.conf.resolver
    val partitions = partitionColumns.map(c => qe.analyzed.output.find(a => resolver(a.name, c))
      .getOrElse(throw new IllegalArgumentException(s"no partition column $c in the written frame")))
    val protocol = new Protocol(root.toString)
    SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      FileFormatWriter.write(session, qe.executedPlan, new ParquetFileFormat, protocol,
        FileFormatWriter.OutputSpec(root.toString, Map.empty, qe.analyzed.output),
        session.sessionState.newHadoopConfWithOptions(options), partitions,
        bucketSpec = None, statsTrackers = Nil, options = options)
    }
    protocol.written
  }

  private lazy val pool = org.apache.spark.util.ThreadUtils
    .newDaemonCachedThreadPool("graft-write", 4, 60)

  /** Runs `body` — typically a [[write]] — on a background thread that
    * carries the caller's job group and local properties, so its jobs
    * are attributed like the caller's own. The returned function waits
    * for it and returns its result or throws its failure. */
  def background[T](session: org.apache.spark.sql.SparkSession)(body: => T): () => T = {
    val f = SQLExecution.withThreadLocalCaptured(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(body)
    () => try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
  }

  /** Tasks name their files `<root>/<partition dirs>/part-<task>-<uuid><ext>`,
    * report each file's size and stats on commit and delete their files
    * on abort; the job commit collects the reports. */
  private final class Protocol(root: String)
      extends FileCommitProtocol with Serializable {
    @transient private var files: ArrayBuffer[(String, Path)] = _
    @transient var written: Seq[Written] = Nil

    override def setupJob(job: JobContext): Unit = ()
    override def setupTask(task: TaskAttemptContext): Unit = files = ArrayBuffer.empty

    override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
        spec: FileNameSpec): String = {
      val name = f"${spec.prefix}part-${task.getTaskAttemptID.getTaskID.getId}%05d-" +
        s"${java.util.UUID.randomUUID}${spec.suffix}"
      val rel = dir.fold(name)(d => s"$d/$name")
      val abs = new Path(root, rel)
      files += rel -> abs
      abs.toString
    }

    override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
      val conf = task.getConfiguration
      new TaskCommitMessage(files.toSeq.map { case (rel, abs) =>
        Written(rel, abs.getFileSystem(conf).getFileStatus(abs).getLen,
          GraftTable.footerStats(abs.toString, conf))
      })
    }

    override def abortTask(task: TaskAttemptContext): Unit = Option(files).foreach(_.foreach {
      case (_, abs) => scala.util.Try(abs.getFileSystem(task.getConfiguration).delete(abs, false))
    })

    override def commitJob(job: JobContext, tasks: Seq[TaskCommitMessage]): Unit =
      written = tasks.flatMap(_.obj.asInstanceOf[Seq[Written]])

    override def abortJob(job: JobContext): Unit = ()
  }
}
