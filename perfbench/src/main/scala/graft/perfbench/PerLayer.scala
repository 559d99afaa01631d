package graft.perfbench

/** Per-layer metrics of a traced run, named `<layer>.<op>.<measure>`.
  *
  * Work of an op (`s`, `jobs`, `tasks`, `cpu_s`, …) is the mean per call,
  * over the calls made in the traced phase, or over the set-up calls for
  * ops that only run there (`table.write` and, on `bar_analytics`,
  * `table.optimize` and `catalog.register`). Counts per iteration are
  * per iteration of the traced phase. Every name in [[Names]] is always
  * reported, as 0 when the workload never calls that layer.
  */
object PerLayer {
  val TableOps = Seq("write", "append", "merge", "delete", "optimize", "vacuum")
  val OpMeasures = Seq("s", "jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb")
  val OperatorMeasures = Seq("s", "cpu_s", "cpu_util", "shuffle_mb")

  val Names: Seq[String] =
    Seq("ingest.fetch_s", "ingest.rows", "ingest.calls") ++
      TableOps.flatMap(o => OpMeasures.map(m => s"table.$o.$m")) ++
      Seq("table.metadata_s", "table.files_added", "table.files_removed", "table.mb_added",
        "table.live_files", "table.live_mb", "table.versions", "table.log_mb",
        "table.dml.rows_changed", "table.dml.rows_rewritten", "table.dml.useful_ratio",
        "table.optimize.files_in", "table.optimize.files_out", "table.optimize.mb_rewritten",
        "table.vacuum.files_deleted", "catalog.register_s",
        "queries.plan_s", "queries.exec_s", "queries.tasks", "queries.cpu_s", "queries.cpu_util",
        "queries.shuffle_mb", "queries.spill_mb",
        "sources.files_read", "sources.mb_read", "sources.rows_read", "sources.prune_ratio",
        "sources.rows_read_per_row_out", "sources.metadata_answered") ++
      CorpusCuration.Operators.flatMap { case (l, o) => OperatorMeasures.map(m => s"$l.$o.$m") } ++
      Seq("jvm.gc_s", "leak.persisted_rdds", "leak.tmp_entries", "leak.conf_changed",
        "trace.overhead", "trace.unattributed_frac")

  def unitOf(name: String): String =
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_ratio") || name.endsWith("_frac") || name.endsWith("cpu_util") ||
      name.endsWith("overhead") || name.endsWith("per_row_out")) "ratio"
    else if (name.endsWith("rows") || name.endsWith("rows_changed") || name.endsWith("rows_rewritten") ||
      name.endsWith("rows_read")) "rows"
    else "count"

  private val MB = 1048576.0

  def report(h: Harness): Unit = {
    val l = h.listener.get
    org.apache.spark.sql.perfbench.SparkInternals.drain(h.spark.sparkContext)
    val spans = h.tracer.spans
    val incl = Attribution.inclusive(spans, Attribution.perSpan(spans, l, h.tracer.msToNs))
    val traced = h.phases.find(_.traced).get
    val untraced = h.phases.find(!_.traced).get
    val (ps, pe) = (traced.iterations.head._1, traced.iterations.last._2)
    val nIter = traced.iterations.size.toDouble
    def inPhase(s: Span) = s.startNs >= ps && s.endNs <= pe
    def calls(name: String): Seq[Span] = {
      val all = spans.filter(_.name == name)
      val timed = all.filter(inPhase)
      if (timed.nonEmpty) timed else all
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def work(ss: Seq[Span]) = ss.map(s => incl.getOrElse(s.id, Work())).foldLeft(Work())(_ + _)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    val fetch = spans.filter(s => s.name == "ingest.fetch" && inPhase(s))
    out("ingest.fetch_s") = fetch.map(_.durNs / 1e9).sum / nIter
    for (op <- TableOps) {
      val cs = calls(s"table.$op")
      val n = math.max(1, cs.size).toDouble
      val w = work(cs)
      out(s"table.$op.s") = mean(cs.map(_.durNs / 1e9))
      out(s"table.$op.jobs") = w.jobs / n
      out(s"table.$op.tasks") = w.tasks / n
      out(s"table.$op.cpu_s") = w.cpuNs / 1e9 / n
      out(s"table.$op.shuffle_mb") = w.shuffleBytes / MB / n
      out(s"table.$op.spill_mb") = w.spillBytes / MB / n
    }
    out("table.metadata_s") = mean(calls("table.metadata").map(_.durNs / 1e9))
    out("catalog.register_s") = mean(calls("catalog.register").map(_.durNs / 1e9))

    // the materialized results: SQL queries and curation operators
    val layers = Set("queries", "text", "dedup", "similarity")
    val qs = spans.filter(s => inPhase(s) && layers(s.name.takeWhile(_ != '.')))
    val nq = math.max(1, qs.size).toDouble
    val qw = work(qs)
    val qWall = qs.map(_.durNs / 1e9).sum
    // planning: the frame's analysis plus the write's optimization and
    // physical planning; execution: the rest of the call
    val planNs = qw.planNs + qs.map(s => h.clientPlanNs.getOrElse(s.id, 0L)).sum
    out("queries.plan_s") = planNs / 1e9 / nq
    out("queries.exec_s") = math.max(0.0, qWall - planNs / 1e9) / nq
    out("queries.tasks") = qw.tasks / nq
    out("queries.cpu_s") = qw.cpuNs / 1e9 / nq
    out("queries.cpu_util") = if (qWall > 0) qw.cpuNs / 1e9 / (qWall * h.cores) else 0.0
    out("queries.shuffle_mb") = qw.shuffleBytes / MB / nq
    out("queries.spill_mb") = qw.spillBytes / MB / nq
    out("sources.files_read") = qw.filesRead / nq
    out("sources.mb_read") = qw.inputBytes / MB / nq
    out("sources.rows_read") = qw.inputRows / nq
    val liveFiles = h.layer.get("table.live_files").map(_._1).getOrElse(0.0)
    out("sources.prune_ratio") = if (liveFiles > 0) qw.filesRead / nq / liveFiles else 0.0
    out("sources.rows_read_per_row_out") = if (qw.rowsOut > 0) qw.inputRows.toDouble / qw.rowsOut else 0.0
    out("sources.metadata_answered") = qw.metadataAnswered / nIter

    for ((layer, op) <- CorpusCuration.Operators) {
      val cs = calls(s"$layer.$op")
      val n = math.max(1, cs.size).toDouble
      val w = work(cs)
      val wall = cs.map(_.durNs / 1e9).sum
      out(s"$layer.$op.s") = wall / n
      out(s"$layer.$op.cpu_s") = w.cpuNs / 1e9 / n
      out(s"$layer.$op.cpu_util") = if (wall > 0) w.cpuNs / 1e9 / (wall * h.cores) else 0.0
      out(s"$layer.$op.shuffle_mb") = w.shuffleBytes / MB / n
    }
    out("jvm.gc_s") = traced.gcMs / 1000.0 / nIter
    out("trace.overhead") =
      Stats.median(traced.iterationSeconds) / Stats.median(untraced.iterationSeconds)
    val top = spans.filter(s => s.parent < 0 && inPhase(s)).map(s => (s.startNs, s.endNs))
    val wallNs = traced.iterations.map { case (s, e) => e - s }.sum.toDouble
    out("trace.unattributed_frac") = (wallNs - Tracer.covered(top)) / wallNs

    // counts the workload computed from the log and the leak check
    for (n <- Names) {
      val v = out.get(n).orElse(h.layer.get(n).map(_._1)).getOrElse(0.0)
      h.layer(n) = (v, unitOf(n))
    }
    val keep = Names.toSet
    h.layer.keys.filterNot(keep).toSeq.foreach(h.layer.remove)
    h.info("traced_iterations") = traced.iterations.size
    h.info("traced_query_calls") = qs.size
    h.info("self_s_by_span") = {
      val self = Tracer.selfNs(spans)
      spans.filter(inPhase).groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id) / 1e9).sum / nIter }
    }
  }
}
