package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, dir: String, out: String, size: String) {
  def tiny: Boolean = size == "tiny"
}

/** Latencies and iteration intervals of one timed phase. */
final class Phase(val traced: Boolean) {
  val iterations = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Latencies by kind ("commit", "query", …) and by op name. */
  val byKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val byOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var gcMs = 0L

  def iterationSeconds: Seq[Double] = iterations.map { case (s, e) => (e - s) / 1e9 }.toSeq
  def kind(k: String): Seq[Double] = byKind.get(k).map(_.toSeq).getOrElse(Nil)
}

/** One benchmark process: the session, the tracer, the timed phases and
  * everything the run reports. Workloads call [[op]] around each call
  * into a public function so failures and latencies are counted the
  * same way everywhere. */
final class Harness(val spark: SparkSession, val args: Args, val sessionStartS: Double) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(Some(spark.sparkContext))
  tracer.on = args.trace
  val listener: Option[WorkListener] =
    if (!args.trace) None
    else {
      val l = new WorkListener((path, filters) => scala.util.Try(
        graft.table.GraftTable(spark, path).dataSkippedFiles(
          graft.table.GraftTable(spark, path).currentVersion, filters).size.toLong).toOption)
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    }

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val phases = mutable.ArrayBuffer.empty[Phase]
  private var current: Option[Phase] = None

  /** Run one call into the system under test, timed and traced. A thrown
    * exception counts as a failed operation and yields None. */
  def op[A](kind: String, name: String)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name)(body)
      val s = (System.nanoTime() - t0) / 1e9
      current.foreach { p =>
        p.byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
        p.byOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
      }
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) failures += s"check $name failed: $detail"
  }

  /** Run a check body; an exception is a failed check. */
  def checking(name: String)(body: => (Boolean, String)): Unit =
    try { val (ok, d) = body; check(name, ok, d) }
    catch { case NonFatal(e) => check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }

  /** Materialize a result the way a caller consumes it: every row and
    * column computed, nothing collected to the driver. */
  def materialize(df: DataFrame): Unit = {
    df.write.format("noop").mode("overwrite").save()
    // the frame was analyzed when it was built, under its own tracker;
    // the write's planning reaches the listener under the write's
    tracer.currentId.foreach { id =>
      clientPlanNs(id) = clientPlanNs.getOrElse(id, 0L) +
        df.queryExecution.tracker.phases.values.map(_.durationMs).sum * 1000000L
    }
  }
  /** Planning time of materialized frames, by span. */
  val clientPlanNs = mutable.Map.empty[Int, Long]

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run whole iterations until `seconds` have passed (at least
    * `minIterations`). `iteration` gets a run-wide iteration number. */
  def timedPhase(seconds: Double, traced: Boolean, minIterations: Int = 1)(iteration: Int => Unit): Phase = {
    val p = new Phase(traced)
    tracer.on = traced
    current = Some(p)
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (i < minIterations || System.nanoTime() < deadline) {
      val s = System.nanoTime()
      iteration(iterationBase + i)
      p.iterations += ((s, System.nanoTime()))
      i += 1
    }
    p.gcMs = gcMs() - gc0
    iterationBase += i
    current = None
    tracer.on = false
    phases += p
    p
  }
  private var iterationBase = 0

  private val conf0 = spark.conf.getAll
  private val tmp0 = graft.GraftTmp.entries()

  /** Counts of state the timed part left behind, taken before any check
    * or cleanup runs: cached data, temp dirs and session settings. */
  def recordLeaks(): Unit = {
    val conf1 = spark.conf.getAll
    val changedKeys = (conf0.keySet ++ conf1.keySet).filter(k => conf0.get(k) != conf1.get(k))
    val changed = changedKeys.size
    info("conf_changed_keys") = changedKeys.toSeq.sorted
    layer("leak.persisted_rdds") = (spark.sparkContext.getPersistentRDDs.size.toDouble, "count")
    layer("leak.tmp_entries") = ((graft.GraftTmp.entries() - tmp0).toDouble, "count")
    layer("leak.conf_changed") = (changed.toDouble, "count")
  }

  /** Driver heap in use right after a full collection, in MB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}

object Harness {

  /** The timed part of a run. Untraced: one phase of the full length.
    * Traced: an untraced half then a traced half, so the run can report
    * the tracing overhead against itself. */
  def phases(h: Harness, minIterations: Int)(iteration: Int => Unit): Seq[Phase] = {
    val ps =
      if (!h.args.trace) Seq(h.timedPhase(h.args.seconds, traced = false, minIterations)(iteration))
      else Seq(
        h.timedPhase(h.args.seconds / 2, traced = false, minIterations)(iteration),
        h.timedPhase(h.args.seconds / 2, traced = true, minIterations)(iteration))
    h.recordLeaks()
    ps
  }

  /** `<prefix>_p50_s` and `<prefix>_tail_s` over the phase's latencies
    * of one kind; the tail's percentile and sample count go to info. */
  def latency(h: Harness, p: Phase, kind: String, prefix: String): Unit = {
    val xs = p.kind(kind)
    if (xs.isEmpty) return
    h.e2e(s"${prefix}_p50_s") = (Stats.median(xs), "s")
    if (prefix == "op") h.e2e("op_geomean_s") = (Stats.geomean(xs), "s")
    Stats.tail(xs).foreach { t =>
      h.e2e(s"${prefix}_tail_s") = (t.value, "s")
      h.info(s"${prefix}_tail_percentile") = t.percentile
      h.info(s"${prefix}_tail_samples") = t.samples
    }
    h.info(s"${prefix}_samples") = xs.size
    h.info("median_s_by_op") = p.byOp.map { case (k, v) => k -> Stats.median(v.toSeq) }
  }
}
