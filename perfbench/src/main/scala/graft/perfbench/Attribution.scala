package graft.perfbench

/** Spark work attributed to one span (its own, not its children's). */
final case class Work(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
    shuffleBytes: Long = 0, spillBytes: Long = 0, inputBytes: Long = 0,
    inputRows: Long = 0, planNs: Long = 0,
    metadataAnswered: Long = 0, filesRead: Long = 0, rowsOut: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, inputRows + o.inputRows,
    planNs + o.planNs, metadataAnswered + o.metadataAnswered,
    filesRead + o.filesRead, rowsOut + o.rowsOut)
}

/** Resolves the listener's jobs, stages and SQL executions to spans: by
  * the job group the span set while it was open, else by time. */
object Attribution {

  /** `msToNs` maps a listener wall-clock time onto the span clock. */
  def perSpan(spans: Seq[Span], l: WorkListener, msToNs: Long => Long): Map[Int, Work] = {
    val ids = spans.map(_.id).toSet
    def resolve(group: Option[String], timeMs: Long): Option[Int] =
      group.flatMap(Tracer.spanOf).filter(ids)
        .orElse(Tracer.innermostAt(spans, msToNs(timeMs)).map(_.id))

    var acc = Map.empty[Int, Work]
    def add(span: Option[Int], w: Work): Unit =
      span.foreach(s => acc = acc.updated(s, acc.getOrElse(s, Work()) + w))

    val stageSpan = scala.collection.mutable.Map.empty[Int, Option[Int]]
    l.jobs.toSeq.sortBy(_._1).foreach { case (_, j) =>
      val s = resolve(j.group, j.timeMs)
      add(s, Work(jobs = 1))
      j.stageIds.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = s)
    }
    l.stages.foreach { case (st, w) =>
      add(stageSpan.getOrElse(st, None), w.synchronized(Work(tasks = w.tasks,
        cpuNs = w.cpuNs, shuffleBytes = w.shuffleBytes, spillBytes = w.spillBytes,
        inputBytes = w.inputBytes, inputRows = w.inputRows)))
    }
    l.queryList.foreach { q =>
      val (group, startMs) = l.executionOfQuery.get(q.id).flatMap(l.executions.get)
        .getOrElse((None, q.endMs))
      add(resolve(group, startMs), Work(planNs = q.planNs,
        metadataAnswered = if (q.metadataAnswered) 1 else 0,
        filesRead = math.max(0L, q.filesRead), rowsOut = q.rowsOut))
    }
    acc
  }

  /** Work of each span including everything below it. */
  def inclusive(spans: Seq[Span], own: Map[Int, Work]): Map[Int, Work] =
    spans.map(s => s.id -> Tracer.subtree(spans, s.id).toSeq
      .map(own.getOrElse(_, Work())).foldLeft(Work())(_ + _)).toMap
}
