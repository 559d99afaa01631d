package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One timed call. `parent` is -1 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Records spans on the single client thread. While a span is open its
  * id is the SparkContext job group, so jobs and SQL executions started
  * inside it can be attributed to it by the listener. When disabled it
  * only runs the body. */
final class Tracer(sc: Option[SparkContext]) {
  /** Spans are recorded only while this is set. */
  var on: Boolean = sc.isDefined
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def span[A](name: String)(body: => A): A = sc match {
    case Some(ctx) if on =>
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, System.nanoTime()) :: open
      ctx.setJobGroup(Tracer.group(id), name)
      try body
      finally {
        val (_, _, start) = open.head
        open = open.tail
        done += Span(id, name, parent, start, System.nanoTime())
        open.headOption match {
          case Some((pid, pname, _)) => ctx.setJobGroup(Tracer.group(pid), pname)
          case None => ctx.clearJobGroup()
        }
      }
    case _ => body
  }

  /** Maps a listener wall-clock millisecond onto the span clock. */
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNs(ms: Long): Long = ms * 1000000L - clockOffsetNs

  /** Id of the innermost open span, when recording. */
  def currentId: Option[Int] = if (on) open.headOption.map(_._1) else None

  /** Closed spans in id order. */
  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  def group(id: Int): String = s"$GroupPrefix$id"
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .flatMap(g => scala.util.Try(g.stripPrefix(GroupPrefix).toInt).toOption)

  /** Span duration minus the time covered by its direct children
    * (overlapping children are counted once). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.durNs - covered(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))))
    }.toMap
  }

  /** Length of the union of the given intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Innermost span whose interval holds `tNs`, for work that carries no
    * job group. */
  def innermostAt(spans: Seq[Span], tNs: Long): Option[Span] =
    spans.filter(s => s.startNs <= tNs && tNs <= s.endNs)
      .sortBy(_.durNs).headOption

  /** Ids of `root` and every span below it. */
  def subtree(spans: Seq[Span], root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).flatMap(c => walk(c.id))
    walk(root).toSet
  }
}
