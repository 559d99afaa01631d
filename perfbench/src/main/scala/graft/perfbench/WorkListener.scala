package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RowDataSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level work summed per stage. */
final class StageWork {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** What one finished SQL execution reported. `filesRead` is -1 when no
  * scan in the plan could be counted. */
final case class QueryFacts(id: Long, planNs: Long,
    metadataAnswered: Boolean, filesRead: Long, rowsOut: Long, endMs: Long)

final case class JobFacts(group: Option[String], timeMs: Long, stageIds: Seq[Int])

/** Collects jobs, stage work and SQL executions for later attribution to
  * spans. Events arrive on the listener bus threads; nothing is resolved
  * until [[SparkInternals.drain]] has emptied the bus. */
final class WorkListener(countFiles: (String, Seq[org.apache.spark.sql.sources.Filter]) => Option[Long])
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  val jobs = TrieMap.empty[Int, JobFacts]
  val stages = TrieMap.empty[Int, StageWork]
  /** SQL execution id → (job group at start, start ms). */
  val executions = TrieMap.empty[Long, (Option[String], Long)]
  /** QueryExecution id → SQL execution id. */
  val executionOfQuery = TrieMap.empty[Long, Long]
  val queries = new ConcurrentLinkedQueue[QueryFacts]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, JobFacts(group, e.time, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val w = stages.getOrElseUpdate(e.stageId, new StageWork)
    w.synchronized {
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.inputBytes += m.inputMetrics.bytesRead
      w.inputRows += m.inputMetrics.recordsRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, (s.jobGroupId, s.time))
    case e: SparkListenerSQLExecutionEnd =>
      SparkInternals.queryIdOf(e).foreach(q => executionOfQuery.put(q, e.executionId))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planNs = qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
    val plan = qe.executedPlan
    val metadata = plan.toString.contains("GraftMetadataAggScan")
    val counts = collect(plan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value)
      case s: RowDataSourceScanExec => s.relation match {
        case r: graft.sources.GraftRelation => countFiles(r.path, s.filters.toSeq)
        case _ => None
      }
    }
    val known = counts.flatten
    // rows out of the node nearest the root that counts them
    val rowsOut = find(plan)(_.metrics.contains("numOutputRows"))
      .map(_.metrics("numOutputRows").value).getOrElse(0L)
    queries.add(QueryFacts(qe.id, planNs, metadata,
      if (known.isEmpty) -1L else known.sum, rowsOut, System.currentTimeMillis()))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def queryList: Seq[QueryFacts] = queries.asScala.toSeq
}
