package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ↔ Expression conversions —
  * the standard technique for third-party Catalyst extensions (the
  * conversions are public at the bytecode level; only the Scala access
  * modifier narrows them). Keeps all other graft code out of Spark's
  * namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Split a MERGE condition into `target.<x> = source.<y>` equi key
    * pairs and the residual of the remaining conjuncts. Walks the
    * Column's ColumnNode tree (the Catalyst conversion wraps the whole
    * tree in one opaque lazy ColumnNodeExpression, so conjunct structure
    * is only visible at the node layer — and the node types are
    * `private[sql]`, hence this bridge). */
  def splitMergeCondition(c: Column): (Seq[(String, String)], Option[Column]) = {
    import org.apache.spark.sql.internal.{ColumnNode,
      UnresolvedAttribute => NAttr, UnresolvedFunction => NFun}
    def side(n: ColumnNode): Option[(String, String)] = n match {
      case a: NAttr if a.nameParts.size == 2 &&
        (a.nameParts.head == "target" || a.nameParts.head == "source") =>
        Some(a.nameParts.head -> a.nameParts(1))
      case _ => None
    }
    def split(n: ColumnNode): (Seq[(String, String)], Seq[ColumnNode]) = n match {
      case f: NFun if f.functionName == "and" && f.arguments.size == 2 =>
        val (kl, rl) = split(f.arguments.head)
        val (kr, rr) = split(f.arguments(1))
        (kl ++ kr, rl ++ rr)
      case f: NFun if f.functionName == "=" && f.arguments.size == 2 =>
        (side(f.arguments.head), side(f.arguments(1))) match {
          case (Some(("target", t)), Some(("source", s))) => (Seq(t -> s), Nil)
          case (Some(("source", s)), Some(("target", t))) => (Seq(t -> s), Nil)
          case _ => (Nil, Seq(n))
        }
      case other => (Nil, Seq(other))
    }
    val (keys, resid) = split(c.node)
    (keys, resid.reduceOption((a, b) => NFun("and", Seq(a, b)))
      .map(n => Column(n)))
  }

  /** `c` with every one-part column name qualified (`x` → `qualifier.x`),
    * so a bare reference keeps resolving to one side of a join whose
    * sides share column names. Lambda bodies are left alone: their bare
    * names are the lambda's own variables. */
  def qualifyBare(c: Column, qualifier: String): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    def q(e: Expression): Expression = e match {
      case l: LambdaFunction => l
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        UnresolvedAttribute(qualifier +: a.nameParts)
      case other => other.mapChildren(q)
    }
    column(q(org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)))
  }

  /** Build a streaming-tagged DataFrame from a batch plan's InternalRow
    * RDD — what every DSv1 streaming Source returns from `getBatch`
    * (`internalCreateDataFrame` is public bytecode, `private[sql]` in
    * Scala only). */
  def streamingDataFrame(session: org.apache.spark.sql.classic.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    session.internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** Re-plan a micro-batch's streaming-tagged DataFrame as a BATCH frame
    * over the same InternalRow RDD — what a DSv1 streaming Sink must do
    * before handing the batch to a batch writer (executing the streaming
    * frame directly throws UnsupportedOperationChecker). */
  def batchDataFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
        .queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
