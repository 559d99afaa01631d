package graft.table

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Bucketed-table co-located join — the shuffle-free fact-to-fact join
  * path (SURVEY.md §4 "shuffle/partitioning control"). Both facts are
  * written bucketed+sorted on the join key; Spark's scan then reports a
  * HashPartitioning that satisfies the join's distribution requirement,
  * so the SortMergeJoin runs with NO Exchange on either side. At 100 TB
  * this turns the nightly fact-fact join from a full-network shuffle
  * into a local merge per bucket.
  */
object Bucketing {

  final case class BucketedPair(lineitemTable: String, ordersTable: String)

  private var counter = 0
  private def fresh(): Int = synchronized { counter += 1; counter }

  /** Write lineitem + orders bucketed by the join key into external
    * locations under a temp dir; returns the catalog table names. */
  def writeBucketed(spark: SparkSession, dir: String, buckets: Int = 8): BucketedPair = {
    val wh = graft.GraftTmp.dir("graft_bucketed").toString
    val id = fresh()
    val lt = s"graft_bkt_lineitem_$id"
    val ot = s"graft_bkt_orders_$id"
    Tables.lineitem(spark, dir).write
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/$lt").saveAsTable(lt)
    Tables.orders(spark, dir).write
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/$ot").saveAsTable(ot)
    BucketedPair(lt, ot)
  }

  /** The co-located join itself (exposed for plan assertions in specs). */
  def join(spark: SparkSession, pair: BucketedPair): DataFrame =
    spark.table(pair.lineitemTable)
      .join(spark.table(pair.ordersTable),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lineitems"),
        graft.functions.ExactDecimal.sumRevenue(
          col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("o_orderpriority")

  /** Query entry: write → join → materialize → drop catalog entries. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // disable auto-broadcast so the plan is the bucketed SortMergeJoin
    // being demonstrated (the spec asserts zero Exchanges around it);
    // restored exactly: a key the session never set is unset again
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, "-1")
    try {
      val pair = writeBucketed(spark, dir)
      val out = join(spark, pair)
      val rows = out.collect()
      spark.sql(s"DROP TABLE IF EXISTS ${pair.lineitemTable}")
      spark.sql(s"DROP TABLE IF EXISTS ${pair.ordersTable}")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bucketed_join" -> bucketedJoin _)

  val oracles: Map[String, String] = Map(
    "bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_lineitems,
         |       ${graft.functions.ExactDecimal.sqlSumRevenue(
                    "l_extendedprice", "l_discount")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin)
}
