package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.LongType

import graft.sources.GraftV2Table
import graft.table.GraftTable

/** SQL `DELETE` / `UPDATE` / `MERGE INTO` for graft tables — the Delta
  * pattern: an analyzer rule rewrites the resolved `DeleteFromTable` /
  * `UpdateTable` / `MergeIntoTable` plans over a graft DSv2 relation into
  * runnable commands that execute through [[GraftTable.delete]] /
  * [[GraftTable.update]] / [[GraftTable.mergeInto]], so SQL DML
  * gets the same copy-on-write file pruning, constraint validation,
  * generated-column handling and commit-conflict semantics as the API.
  * (Stock Spark rejects these statements for DSv2 tables without
  * SupportsRowLevelOperations; Delta ships the same kind of rule.)
  *
  * Enabled per session via `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`.
  * Supported MERGE surface = the [[graft.table.MergeBuilder]] clause
  * set: WHEN MATCHED [AND cond] UPDATE SET … / UPDATE SET star /
  * DELETE, WHEN NOT MATCHED [AND cond] INSERT star / explicit column
  * lists (unmentioned columns NULL, unmentioned generated columns
  * recomputed), and WHEN NOT MATCHED BY SOURCE [AND cond] UPDATE SET …
  * / DELETE — the merge condition may use differently-named keys plus
  * an arbitrary residual (at least one target=source equi conjunct is
  * required to drive file discovery), and WITH SCHEMA EVOLUTION unions
  * new source columns into the target schema with NULL backfill. A
  * DELETE's WHERE clause is any predicate the API DELETE takes.
  */
class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def graftTable(plan: LogicalPlan): Option[GraftV2Table] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftV2Table] =>
        r.table.asInstanceOf[GraftV2Table]
    }

  /** Resolved expression → name-based Column (re-resolvable against the
    * API's own frames); attributes route to `target.`/`source.` by
    * which side of the merge owns them. */
  private def unresolve(e: Expression,
      tgt: AttributeSet = AttributeSet.empty,
      src: AttributeSet = AttributeSet.empty): Column =
    ColumnBridge.column(e.transform {
      case a: AttributeReference if src.contains(a) =>
        UnresolvedAttribute(Seq("source", a.name))
      case a: AttributeReference if tgt.contains(a) =>
        UnresolvedAttribute(Seq("target", a.name))
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(target, condition)
        if d.resolved && graftTable(target).isDefined =>
      val t = graftTable(target).get
      require(t.versionAsOf.isEmpty,
        s"cannot DELETE from a time-travel relation (${t.name()})")
      GraftDeleteCommand(t.path, unresolve(condition))

    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && graftTable(target).isDefined =>
      val t = graftTable(target).get
      require(t.versionAsOf.isEmpty,
        s"cannot UPDATE a time-travel relation (${t.name()})")
      val set = assignments.map {
        case Assignment(key: AttributeReference, value) =>
          key.name -> unresolve(value)
        case Assignment(key, _) => throw new UnsupportedOperationException(
          s"graft UPDATE supports top-level column assignments only, got $key")
      }.toMap
      GraftUpdateCommand(t.path,
        condition.map(unresolve(_)).getOrElse(ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)), set)

    case m @ MergeIntoTable(target, source, cond, matched, notMatched,
        notMatchedBySource, withSchemaEvolution)
        if m.resolved && graftTable(target).isDefined =>
      val t = graftTable(target).get
      require(t.versionAsOf.isEmpty,
        s"cannot MERGE into a time-travel relation (${t.name()})")
      val tgtSet = AttributeSet(target.output)
      val srcSet = AttributeSet(source.output)
      // merge condition decomposes into target=source equi key pairs
      // (any names) driving affected-file discovery, plus an arbitrary
      // residual ANDed onto the key equality — the mergeIntoOn contract;
      // a condition with NO equi conjunct is rejected (keyless merge =
      // cross join, never the plan you want at scale)
      def split(e: Expression): (Seq[(String, String)], Seq[Expression]) = e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          val (kl, rl) = split(l); val (kr, rr) = split(r)
          (kl ++ kr, rl ++ rr)
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if tgtSet.contains(a) && srcSet.contains(b) =>
          (Seq(a.name -> b.name), Nil)
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if tgtSet.contains(b) && srcSet.contains(a) =>
          (Seq(b.name -> a.name), Nil)
        case other => (Nil, Seq(other))
      }
      val (keyPairs, residConjuncts) = split(cond)
      if (keyPairs.isEmpty) throw new UnsupportedOperationException(
        "graft MERGE condition needs at least one target.<x> = source.<y> " +
        s"equi conjunct to drive file discovery, got $cond")
      val residual = residConjuncts
        .reduceOption(org.apache.spark.sql.catalyst.expressions.And)
        .map(unresolve(_, tgtSet, srcSet))
      // the analyzer rewrites UPDATE SET * / INSERT * into actions
      // assigning every target column from the same-named source column
      // — detect that shape as UPDATE ALL / INSERT ALL (under WITH
      // SCHEMA EVOLUTION the star expands at the PRE-evolution width, so
      // only the ALL form carries the newly added columns); a genuine
      // explicit column list keeps exactly the listed columns and maps
      // to an explicit assignment set
      def isStarLike(assigns: Seq[Assignment]): Boolean =
        assigns.size == target.output.size && assigns.forall {
          case Assignment(k: AttributeReference, v: AttributeReference) =>
            k.name == v.name
          case Assignment(k: AttributeReference,
              org.apache.spark.sql.catalyst.expressions.Cast(v: AttributeReference, _, _, _)) =>
            k.name == v.name
          case _ => false
        }
      val matchedSpecs = matched.map {
        case UpdateStarAction(c) =>
          GraftMergeCommand.MatchedSpec(c.map(unresolve(_, tgtSet, srcSet)), None, delete = false)
        case UpdateAction(c, assigns, _) if isStarLike(assigns) =>
          GraftMergeCommand.MatchedSpec(c.map(unresolve(_, tgtSet, srcSet)), None, delete = false)
        case UpdateAction(c, assigns, _) =>
          val set = assigns.map {
            case Assignment(key: AttributeReference, value) =>
              key.name -> unresolve(value, tgtSet, srcSet)
            case Assignment(key, _) => throw new UnsupportedOperationException(
              s"graft MERGE supports top-level column assignments only, got $key")
          }.toMap
          GraftMergeCommand.MatchedSpec(c.map(unresolve(_, tgtSet, srcSet)), Some(set), delete = false)
        case DeleteAction(c) =>
          GraftMergeCommand.MatchedSpec(c.map(unresolve(_, tgtSet, srcSet)), None, delete = true)
        case other => throw new UnsupportedOperationException(
          s"graft MERGE does not support matched action $other")
      }
      def assignSet(assigns: Seq[Assignment]): Map[String, Column] =
        assigns.map {
          case Assignment(key: AttributeReference, value) =>
            key.name -> unresolve(value, tgtSet, srcSet)
          case Assignment(key, _) => throw new UnsupportedOperationException(
            s"graft MERGE supports top-level column assignments only, got $key")
        }.toMap
      val notMatchedSpecs = notMatched.map {
        case InsertStarAction(c) =>
          GraftMergeCommand.InsertSpec(c.map(unresolve(_, tgtSet, srcSet)), None)
        case InsertAction(c, assigns) if isStarLike(assigns) =>
          GraftMergeCommand.InsertSpec(c.map(unresolve(_, tgtSet, srcSet)), None)
        case InsertAction(c, assigns) =>
          // the aligner emits assignments ONLY for the statement's listed
          // columns (unmentioned ones are simply absent and default to
          // NULL / generated recompute at the builder), so an explicit
          // `NULL` stays IN the set — assigning NULL to a generated
          // column then fails validation instead of silently recomputing
          GraftMergeCommand.InsertSpec(c.map(unresolve(_, tgtSet, srcSet)),
            Some(assigns.map {
              case Assignment(key: AttributeReference, value) =>
                key.name -> unresolve(value, tgtSet, srcSet)
              case Assignment(key, _) => throw new UnsupportedOperationException(
                s"graft MERGE supports top-level column assignments only, got $key")
            }.toMap))
        case other => throw new UnsupportedOperationException(
          s"graft MERGE does not support not-matched action $other")
      }
      // WHEN NOT MATCHED BY SOURCE: conditions/assignments reference the
      // target side only (Spark's analyzer already enforces that)
      val nmbsSpecs = notMatchedBySource.map {
        case DeleteAction(c) =>
          GraftMergeCommand.MatchedSpec(c.map(unresolve(_, tgtSet, srcSet)), None, delete = true)
        case UpdateAction(c, assigns, _) =>
          GraftMergeCommand.MatchedSpec(c.map(unresolve(_, tgtSet, srcSet)),
            Some(assignSet(assigns)), delete = false)
        case other => throw new UnsupportedOperationException(
          s"graft MERGE does not support not-matched-by-source action $other")
      }
      GraftMergeCommand(t.path, source, keyPairs, residual, matchedSpecs,
        notMatchedSpecs, nmbsSpecs, withSchemaEvolution)

    case _ => plan
  }
}

private[graft] object GraftDml {
  /** Output of a DML command's metrics row: one non-null long per name. */
  def metricsOutput(names: String*): Seq[Attribute] =
    names.map(n => AttributeReference(n, LongType, nullable = false)())

  /** The row of commit `metrics` under `keys`; `numTargetRowsAffected` is
    * the sum of a MERGE's updated, deleted and inserted rows. A MERGE into
    * an empty table commits as a write, so its inserted rows are the rows
    * written; any other key the commit did not record (a no-op UPDATE)
    * reads 0. */
  def metricsRow(metrics: Map[String, String], keys: String*): Row = {
    def n(k: String): Long = metrics.get(k).map(_.toLong).getOrElse(k match {
      case "numTargetRowsAffected" =>
        Seq("numTargetRowsUpdated", "numTargetRowsDeleted", "numTargetRowsInserted").map(n).sum
      case "numTargetRowsInserted" => metrics.get("numOutputRows").map(_.toLong).getOrElse(0L)
      case _ => 0L
    })
    Row.fromSeq(keys.map(n))
  }

  /** Table handle with the hive layout recovered from the manifest, so
    * rewrites land in the right partition directories. */
  def tableAt(session: SparkSession, path: String): GraftTable = {
    val probe = GraftTable(session, path)
    GraftTable(session, path, probe.layoutPartitionColumns())
  }

  /** `table_changes(path, startVersion [, endVersion])` — the CDF
    * table-valued function (Delta parity): resolves to the change-feed
    * plan between two committed versions of the table at `path`.
    * Arguments must be literals (the plan is built at analysis time). */
  def tableChangesPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      s"table_changes(path, startVersion[, endVersion]) takes 2 or 3 " +
      s"arguments, got ${args.size}")
    def litOf(e: Expression, what: String): Any = e match {
      case l: org.apache.spark.sql.catalyst.expressions.Literal => l.value
      case other => throw new IllegalArgumentException(
        s"table_changes $what must be a literal, got $other")
    }
    val session = SparkSession.active
    val path = litOf(args(0), "path").toString
    val t = GraftTable(session, path)
    val from = litOf(args(1), "startVersion").toString.toLong
    val to = if (args.size == 3) litOf(args(2), "endVersion").toString.toLong
      else t.currentVersion
    t.changes(from, to)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
  }
}

case class GraftDeleteCommand(path: String, cond: Column) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.metricsOutput("num_affected_rows")

  /** One row, Delta's: the rows the DELETE removed. */
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftDml.tableAt(session, path)
    Seq(GraftDml.metricsRow(t.operationMetrics(t.delete(cond)), "numDeletedRows"))
  }
}

case class GraftUpdateCommand(path: String, cond: Column,
    set: Map[String, Column]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.metricsOutput("num_affected_rows")

  /** One row, Delta's: the rows the UPDATE changed. */
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftDml.tableAt(session, path)
    Seq(GraftDml.metricsRow(t.operationMetrics(t.update(cond, set)), "numUpdatedRows"))
  }
}

object GraftMergeCommand {
  /** `set=None` ⇒ UPDATE ALL; `delete` ⇒ DELETE. Doubles as the
    * NOT MATCHED BY SOURCE spec (same clause algebra, target-only refs). */
  final case class MatchedSpec(cond: Option[Column],
      set: Option[Map[String, Column]], delete: Boolean)
  /** `set=None` ⇒ INSERT ALL; explicit set ⇒ listed columns only. */
  final case class InsertSpec(cond: Option[Column],
      set: Option[Map[String, Column]])
}

case class GraftMergeCommand(path: String, source: LogicalPlan,
    keys: Seq[(String, String)], residual: Option[Column],
    matched: Seq[GraftMergeCommand.MatchedSpec],
    notMatched: Seq[GraftMergeCommand.InsertSpec],
    notMatchedBySource: Seq[GraftMergeCommand.MatchedSpec] = Nil,
    schemaEvolution: Boolean = false)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override val output: Seq[Attribute] = GraftDml.metricsOutput("num_affected_rows",
    "num_updated_rows", "num_deleted_rows", "num_inserted_rows")

  /** Runs the merge; returns one row, Delta's: the rows it changed in
    * all, then updated, deleted and inserted. */

  override def run(session: SparkSession): Seq[Row] = {
    val classic = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sourceDf = org.apache.spark.sql.classic.Dataset.ofRows(classic, source)
    val t = GraftDml.tableAt(session, path)
    val b0 = t.mergeIntoOn(sourceDf, keys, residual)
    val b = if (schemaEvolution) b0.withSchemaEvolution() else b0
    matched.foreach {
      case GraftMergeCommand.MatchedSpec(Some(c), None, true) => b.whenMatchedDelete(c)
      case GraftMergeCommand.MatchedSpec(None, None, true) => b.whenMatchedDelete()
      case GraftMergeCommand.MatchedSpec(Some(c), Some(s), _) => b.whenMatchedUpdate(c, s)
      case GraftMergeCommand.MatchedSpec(None, Some(s), _) => b.whenMatchedUpdate(s)
      case GraftMergeCommand.MatchedSpec(Some(c), None, _) => b.whenMatchedUpdateAll(c)
      case GraftMergeCommand.MatchedSpec(None, None, _) => b.whenMatchedUpdateAll()
    }
    notMatched.foreach {
      case GraftMergeCommand.InsertSpec(Some(c), Some(s)) => b.whenNotMatchedInsert(c, s)
      case GraftMergeCommand.InsertSpec(None, Some(s)) => b.whenNotMatchedInsert(s)
      case GraftMergeCommand.InsertSpec(Some(c), None) => b.whenNotMatchedInsertAll(c)
      case GraftMergeCommand.InsertSpec(None, None) => b.whenNotMatchedInsertAll()
    }
    notMatchedBySource.foreach {
      case GraftMergeCommand.MatchedSpec(Some(c), None, true) => b.whenNotMatchedBySourceDelete(c)
      case GraftMergeCommand.MatchedSpec(None, None, true) => b.whenNotMatchedBySourceDelete()
      case GraftMergeCommand.MatchedSpec(Some(c), Some(s), _) => b.whenNotMatchedBySourceUpdate(c, s)
      case GraftMergeCommand.MatchedSpec(None, Some(s), _) => b.whenNotMatchedBySourceUpdate(s)
      case other => throw new UnsupportedOperationException(
        s"unsupported NOT MATCHED BY SOURCE spec $other")
    }
    val v = b.execute()
    Seq(GraftDml.metricsRow(t.operationMetrics(v), "numTargetRowsAffected",
      "numTargetRowsUpdated", "numTargetRowsDeleted", "numTargetRowsInserted"))
  }
}
