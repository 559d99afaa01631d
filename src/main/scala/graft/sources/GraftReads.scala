package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal, Not, PlanExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max => CMax, Min => CMin}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeleteFromTable, LeafNode, LogicalPlan, MergeIntoTable, Project, Statistics, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.expressions.{Expressions, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max => V2Max, Min => V2Min}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.GraftFileIndex
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import graft.table.{DvDeleted, GraftTable}

/** Resolution (post-hoc): a read of a [[GraftRelation]] or a
  * [[GraftV2Table]] becomes the analyzed plan of a fresh frame of its
  * pinned version under the relation's output attributes — the columnar
  * `HadoopFsRelation(GraftFileIndex)` scan `GraftTable.read()` plans, as
  * Delta's `DeltaAnalysis` resolves its V2 table. Write and DML targets
  * keep their V2 relation (a write's table is not a child; DELETE,
  * UPDATE and a MERGE's target are skipped). */
final class GraftReadRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: DeleteFromTable | _: UpdateTable => plan
    case m: MergeIntoTable => m.copy(sourceTable = resolveReads(m.sourceTable))
    case _ => resolveReads(plan)
  }

  private def resolveReads(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case LogicalRelation(r: GraftRelation, output, _, false, _) => pinned(r.pinned.next(), output)
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftV2Table] =>
      pinned(r.table.asInstanceOf[GraftV2Table].frame(), r.output)
  }

  // a new frame per read: two reads of one relation share no attribute ids
  private def pinned(frame: DataFrame, output: Seq[Attribute]): LogicalPlan = {
    val plan = frame.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed
    Project(output.zip(plan.output).map { case (o, a) =>
      Alias(a, o.name)(exprId = o.exprId, qualifier = o.qualifier) }, plan)
  }
}

object GraftReadRule {
  /** Fails unless `session` has the rule: there is no other read path. */
  def require(session: SparkSession, what: String): Unit =
    if (!session.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
        .analyzer.postHocResolutionRules.exists(_.isInstanceOf[GraftReadRule]))
      throw missing(what)

  def missing(what: String): IllegalStateException = new IllegalStateException(
    s"reading $what needs the graft session extensions: build the session with " +
      ".withExtensions(new org.apache.spark.sql.graft.GraftExtensions) or set " +
      "spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions " +
      "(GraftTable.read() works in any session)")

  /** A scan of a whole pinned table version (see [[GraftFileIndex]]). */
  private[sources] object PinnedScan {
    def unapply(p: LogicalPlan): Option[(LogicalRelation, HadoopFsRelation, GraftFileIndex)] =
      p match {
        case l @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _) => fs.location match {
          case g: GraftFileIndex if g.snapshot.isDefined => Some((l, fs, g))
          case _ => None
        }
        case _ => None
      }
  }

  private[sources] def readsGraft(plan: LogicalPlan): Boolean =
    plan.exists(PinnedScan.unapply(_).isDefined)
}

/** Statistics (pre-CBO, so join reordering and strategy see them), as
  * Delta's `PrepareDeltaScan`: a pinned graft scan's index becomes the
  * files its filters keep (partition pruning and the log's skipping), so
  * `sizeInBytes` is the pruned bytes, and the log's live rows and ANALYZE
  * distinct counts of those files become its catalog statistics. */
final class GraftPrepareScan(session: SparkSession) extends Rule[LogicalPlan] {
  import GraftReadRule.PinnedScan

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (GraftReadRule.readsGraft(plan)) withStats(plan) else plan

  private def withStats(plan: LogicalPlan): LogicalPlan = plan match {
    case PhysicalOperation(_, filters, PinnedScan(l, fs, g)) =>
      val snap = g.snapshot.get
      // a subquery's value is known only at execution, as Spark's own
      // static partition listing treats it
      val pruned = g.prunedBy(filters.filterNot(_.exists(_.isInstanceOf[PlanExpression[_]])))
      val t = GraftTable(session, snap.path)
      val files = pruned.files.map(_.key)
      val cm = t.colMapOf(snap.version)
      val relation = fs.copy(location = pruned)(fs.sparkSession)
      val stats = CatalogStatistics(BigInt(relation.sizeInBytes),
        t.liveRows(snap.version, files).map(BigInt(_)),
        t.columnNdv(snap.version, Some(files)).map { case (c, n) =>
          cm.phys(c) -> CatalogColumnStat(distinctCount = Some(BigInt(n))) })
      val stated = l.copy(relation = relation, catalogTable = Some(CatalogTable(
        TableIdentifier(snap.path), CatalogTableType.EXTERNAL, CatalogStorageFormat.empty,
        fs.schema, provider = Some("graft"), stats = Some(stats))))
      plan.transformUp { case r: LogicalRelation if r eq l => stated }
    case _ => plan.mapChildren(withStats)
  }
}

/** Metadata answers (pre-CBO, before [[GraftPrepareScan]]), as Delta's
  * `OptimizeMetadataOnlyDeltaQuery`: COUNT(*), MIN and MAX, global or
  * grouped by partition columns, over a pinned scan of the table's
  * latest version with no filter but its deletion vectors become a
  * [[GraftMetadataAggScan]] of the log's answer, which opens no data
  * file. What the log cannot prove keeps the scan. */
final class GraftMetadataAggRule(session: SparkSession) extends Rule[LogicalPlan] {
  import GraftReadRule.PinnedScan

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!GraftReadRule.readsGraft(plan)) plan
    else plan.transformDown { case a: Aggregate => answer(a).getOrElse(a) }

  private def answer(a: Aggregate): Option[LogicalPlan] = a.child match {
    case PhysicalOperation(projects, filters, PinnedScan(l, _, g))
        if filters.forall { case Not(_: DvDeleted) => true; case _ => false } =>
      val snap = g.snapshot.get
      val t = GraftTable(session, snap.path)
      val logicalOf = t.colMapOf(snap.version).entries.map(_.swap).toMap
      def logical(a: Attribute) = logicalOf.getOrElse(a.name, a.name)
      val source = projects.map {
        case al: Alias => al.toAttribute.exprId -> al.child
        case e => e.toAttribute.exprId -> e
      }.toMap
      def column(e: Expression): Option[String] = e match {
        case x: Attribute => source.get(x.exprId).collect {
          case r: AttributeReference if l.outputSet.contains(r) => logical(r)
        }
        case _ => None
      }
      val groupCols = a.groupingExpressions.map(column)
      // each output column: a grouping column (Left) or a COUNT(*), MIN
      // or MAX of one (Right)
      val outs: Seq[Option[Either[Int, AggregateFunc]]] = a.aggregateExpressions.map {
        case Alias(AggregateExpression(fn, Complete, false, None, _), _) => fn match {
          case Count(Seq(Literal(v, _))) if v != null => Some(Right(new CountStar()))
          case CMin(c) => column(c).map(n => Right(new V2Min(Expressions.column(n))))
          case CMax(c) => column(c).map(n => Right(new V2Max(Expressions.column(n))))
          case _ => None
        }
        case e =>
          val k = e match { case al: Alias => al.child; case x => x }
          Some(a.groupingExpressions.indexWhere(_.semanticEquals(k))).filter(_ >= 0).map(Left(_))
      }
      if (groupCols.exists(_.isEmpty) || outs.exists(_.isEmpty)) None
      else {
        var next = groupCols.size - 1
        val slots = outs.flatten.map { case Left(i) => i; case Right(_) => next += 1; next }
        val v = snap.version
        new GraftMetadataAnswer(StructType(l.output.map(r => StructField(logical(r), r.dataType))), t, v)
          .answerFor(new Aggregation(outs.flatten.collect { case Right(f) => f }.toArray,
            groupCols.flatten.map(Expressions.column(_): V2Expression).toArray))
          // only the latest version: an older one's files may be vacuumed,
          // and its scan must fail as the time-travel contract says
          .filter(_ => t.currentVersion == v)
          .map { case (_, rows) =>
            GraftMetadataAggScan(a.output, rows.map(vals => InternalRow.fromSeq(
              slots.map(i => CatalystTypeConverters.convertToCatalyst(vals(i))))))
          }
      }
    case _ => None
  }
}

/** The log's answer to a COUNT(*)/MIN/MAX aggregate over version `v` of
  * `t`, whose logical columns are `schema` — row counts from the stats
  * sidecar minus deletion-vector cardinality, bounds from the folded
  * footer stats — when the whole answer is provable (every file carries
  * the needed stats, no DV can hide an extremum); otherwise None. */
private[sources] final class GraftMetadataAnswer(schema: StructType, t: GraftTable, v: Long) {

  import org.apache.spark.sql.connector.expressions.aggregate._

  private def namedCol(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case nr: org.apache.spark.sql.connector.expressions.NamedReference
        if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
    case _ => None
  }

  /** Exactly-encoded footer-stat value → external value of the column's
    * type; None on a type/tag mismatch (no proof). */
  private def typedStat(tag: String, dt: DataType, raw: Long): Option[Any] =
    (tag, dt) match {
      case ("long", LongType) => Some(raw)
      case ("long", IntegerType) => Some(raw.toInt)
      case ("long", ShortType) => Some(raw.toShort)
      case ("long", ByteType) => Some(raw.toByte)
      case ("date", DateType) =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(raw)))
      case _ => None // type/tag mismatch: no proof
    }

  // per-column folds fetched ONCE and reused across the MIN and MAX
  // sides of the same aggregation (each is a full per-file manifest
  // walk — a COUNT+MIN+MAX query was paying it per aggregate)
  private val foldedBoundsCache =
    scala.collection.mutable.Map.empty[String, Option[(String, String, String)]]
  private val groupBoundsCache = scala.collection.mutable.Map.empty[
    (Seq[String], String),
    Option[Seq[(Seq[Option[String]], (String, String, String))]]]

  private def boundValue(c: String, lo: Boolean): Option[(DataType, Any)] = {
    val dt = schema.find(_.name == c).map(_.dataType).getOrElse(return None)
    foldedBoundsCache.getOrElseUpdate(c, t.foldedBounds(v, c)).flatMap {
      case (tag, mn, mx) =>
        typedStat(tag, dt, (if (lo) mn else mx).toLong).map(v => (dt, v))
    }
  }

  def answerFor(agg: Aggregation): Option[(StructType, Seq[Seq[Any]])] = {
    if (agg.groupByExpressions.nonEmpty) return groupedAnswerFor(agg)
    val parts: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          t.scanStats(v, Nil)._2.map(n =>
            (StructField("count(*)", LongType, nullable = false), n))
        case m: Min => namedCol(m.column).flatMap(c =>
          boundValue(c, lo = true).map { case (dt, v) =>
            (StructField(s"min($c)", dt), v) })
        case m: Max => namedCol(m.column).flatMap(c =>
          boundValue(c, lo = false).map { case (dt, v) =>
            (StructField(s"max($c)", dt), v) })
        case _ => None
      }
    if (parts.isEmpty || parts.exists(_.isEmpty)) None
    else Some((StructType(parts.flatten.map(_._1)),
      Seq(parts.flatten.map(_._2))))
  }

  /** `GROUP BY <partition cols> → COUNT(*) / MIN / MAX` from the
    * manifest — one row per live partition value: counts fold footer
    * rows minus deletion-vector cardinality, MIN/MAX fold per-file
    * footer bounds per group (the table layer refuses bounds whenever
    * ANY deletion vector exists — a masked row could hold a group's
    * extremum). Hive-path group strings cast to the table's partition
    * types driver-side. Anything unproven — non-partition grouping
    * expressions, uncastable types, missing stats — keeps the ordinary
    * scan plan. */
  private def groupedAnswerFor(agg: Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    // an empty aggregate list is DISTINCT <partition cols> — the group
    // keys alone are the answer
    val colsOpt = agg.groupByExpressions.toSeq.map(namedCol)
    if (colsOpt.exists(_.isEmpty)) return None
    val cols = colsOpt.flatten
    val fields = cols.map(c => schema.find(_.name == c))
    if (fields.exists(_.isEmpty)) return None
    val casts: Seq[String => Any] = fields.flatten.map { f =>
      f.dataType match {
        case StringType => (s: String) => s
        case LongType => (s: String) => s.toLong
        case IntegerType => (s: String) => s.toInt
        case ShortType => (s: String) => s.toShort
        case ByteType => (s: String) => s.toByte
        case BooleanType => (s: String) => s.toBoolean
        case DateType => (s: String) => java.sql.Date.valueOf(s)
        case _ => return None // no exact path-string decode → no proof
      }
    }
    // per-aggregate answer: group values → (field, value)
    type GroupKey = Seq[Option[String]]
    def boundsFor(c: String, lo: Boolean, name: String)
        : Option[(StructField, Map[GroupKey, Any])] = {
      val dt = schema.find(_.name == c).map(_.dataType)
        .getOrElse(return None)
      groupBoundsCache.getOrElseUpdate((cols, c),
          t.partitionGroupBounds(v, cols, c)).flatMap { groups =>
        val typed = groups.map { case (k, (tag, mn, mx)) =>
          typedStat(tag, dt, (if (lo) mn else mx).toLong).map(k -> _)
        }
        if (typed.exists(_.isEmpty)) None
        else Some((StructField(s"$name($c)", dt), typed.flatten.toMap))
      }
    }
    lazy val counts = t.partitionGroupCounts(v, cols)
    val answers: Seq[Option[(StructField, Map[GroupKey, Any])]] =
      agg.aggregateExpressions.toSeq.zipWithIndex.map {
        case (_: CountStar, i) => counts.map(gs =>
          (StructField(s"count($i)", LongType, nullable = false),
            gs.map { case (k, n) => (k: GroupKey) -> (n: Any) }.toMap))
        case (m: Min, _) =>
          namedCol(m.column).flatMap(c => boundsFor(c, lo = true, "min"))
        case (m: Max, _) =>
          namedCol(m.column).flatMap(c => boundsFor(c, lo = false, "max"))
        case _ => None
      }
    if (answers.exists(_.isEmpty)) return None
    val resolved = answers.flatten
    // every aggregate folds over the same live file set → same groups;
    // with no aggregates (DISTINCT) the manifest's group list answers
    val keySet: Set[GroupKey] =
      if (resolved.nonEmpty) {
        val ks = resolved.map(_._2.keySet).distinct
        if (ks.length != 1) return None
        ks.head
      } else counts.getOrElse(return None).map(_._1).toSet
    val rows = scala.util.Try(keySet.toSeq.map { k =>
      k.zip(casts).map { case (v, c) => v.map(c).orNull } ++
        resolved.map(_._2(k))
    }).toOption // a value the cast rejects (adopted layout) → no proof
    rows.map { rs =>
      (StructType(fields.flatten.map(f => StructField(f.name, f.dataType)) ++
        resolved.map(_._1)), rs)
    }
  }
}

/** A metadata-answered aggregate: one row for a global COUNT(*)/MIN/MAX,
  * one per live partition value for a grouped one. */
final case class GraftMetadataAggScan(output: Seq[Attribute], rows: Seq[InternalRow])
    extends LeafNode {
  override def maxRows: Option[Long] = Some(rows.size.toLong)
  override def computeStats(): Statistics = Statistics(sizeInBytes =
    BigInt(math.max(1, output.map(_.dataType.defaultSize).sum)) * math.max(1, rows.size))
}

/** Serves a [[GraftMetadataAggScan]]'s rows; its plan node reads
  * `GraftMetadataAggScan`. */
final case class GraftMetadataAggScanExec(output: Seq[Attribute], rows: Seq[InternalRow])
    extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val toUnsafe = UnsafeProjection.create(schema)
    sparkContext.parallelize(rows.map(r => toUnsafe(r).copy()), 1)
  }
}

object GraftMetadataAggStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftMetadataAggScan(output, rows) => GraftMetadataAggScanExec(output, rows) :: Nil
    case _ => Nil
  }
}
