package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** A frame whose rows are computed once into memory-and-disk blocks and
  * read from there by every later query: `frame` is a plan over those
  * blocks, `release` frees them. Unlike `Dataset.persist`, what fills the
  * blocks is chosen per use — see [[Materialized.lazily]] and
  * [[Materialized.measured]]. */
final class Materialized private (val frame: DataFrame, rdd: RDD[InternalRow]) {
  def release(): Unit = rdd.unpersist(blocking = false)
}

object Materialized {

  private def over(df: DataFrame, rdd: RDD[InternalRow], stats: Option[Statistics]): Materialized = {
    val ds = df.asInstanceOf[Dataset[_]]
    val session = ds.sparkSession
    val output = ds.queryExecution.analyzed.output.map(_.newInstance())
    new Materialized(Dataset.ofRows(session,
      LogicalRDD(output, rdd)(session, stats)), rdd)
  }

  private def persisted(rows: RDD[InternalRow],
      schema: org.apache.spark.sql.types.StructType): RDD[InternalRow] =
    rows.mapPartitions[InternalRow] { it =>
      val toUnsafe = UnsafeProjection.create(schema)
      it.map(r => toUnsafe(r).copy())
    }.persist(StorageLevel.MEMORY_AND_DISK)

  /** `df` planned as usual (adaptively, when the session runs so): its
    * shuffle stages run now, and its final stage fills the blocks inside
    * the first job that reads `frame` — a frame read by two writes costs
    * one computation and no job of its own. */
  def lazily(df: DataFrame): Materialized = {
    val qe = df.asInstanceOf[Dataset[_]].queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("graft materialize")) {
      persisted(qe.toRdd, df.schema)
    }
    over(df, rdd, None)
  }

  /** `df` computed now, in ONE job: planned without adaptive execution,
    * its own shuffles run as stages of that job rather than as jobs of
    * their own. The job counts the rows and their bytes, and `frame`
    * reports them as its statistics — measured sizes, as a cached
    * relation's are, where `df`'s plan could only estimate. Returns the
    * frame with its row count. */
  def measured(df: DataFrame): (Materialized, Long) = {
    val ds = df.asInstanceOf[Dataset[_]]
    val session: SparkSession = ds.sparkSession
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft materialize")) {
      val plan = QueryExecution.prepareExecutedPlan(session, qe.sparkPlan)
      val rdd = persisted(plan.execute(), df.schema)
      val (rows, bytes) = rdd.mapPartitions { it =>
        var n, b = 0L
        it.foreach { r => n += 1; b += r.asInstanceOf[UnsafeRow].getSizeInBytes }
        Iterator((n, b))
      }.fold((0L, 0L)) { case ((n1, b1), (n2, b2)) => (n1 + n2, b1 + b2) }
      (over(df, rdd, Some(Statistics(sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows))))),
        rows)
    }
  }
}
