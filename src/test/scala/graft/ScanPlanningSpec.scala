package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.table.GraftTable

/** Scans are planned from the table's log: a graft read lists no files
  * and merges no footers before it runs, table operations start no
  * parquet job of their own except the write of their new files, and
  * the file index skips files by the scan's filters. A skipped read
  * returns exactly the rows of the same filter applied above the scan,
  * where nothing can skip. */
class ScanPlanningSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** (final stage name, final stage call site) of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(String, String)] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val last = e.stageInfos.maxBy(_.stageId)
        jobs.add((last.name, last.details))
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala.toSeq
  }

  /** Files each parquet scan of `plan` reads after the index skipped. */
  private def filesRead(plan: SparkPlan): Seq[Int] =
    collect(plan) { case s: FileSourceScanExec =>
      s.selectedPartitions.filePartitionIterator.map(_.files.size).sum }

  /** [[filesRead]] over every query `body` runs. */
  private def filesReadDuring(body: => Unit): Seq[Int] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(plans).asScala.toSeq.flatMap(filesRead)
  }

  /** 20 tickers × 10 days, one file per (ticker, trade_date) partition. */
  private def table(prefix: String): (GraftTable, String) = {
    val path = graft.GraftTmp.dir(prefix).toString
    val t = GraftTable(spark, path, Seq("ticker", "trade_date"))
    val rows = for {
      k <- 0 until 20; d <- 1 to 10; n <- 0 until 20
    } yield (s"T$k", java.sql.Date.valueOf(f"2024-01-$d%02d"), n.toLong, k * 100.0 + n)
    t.write(rows.toDF("ticker", "trade_date", "n", "px")
      .repartition(col("ticker"), col("trade_date")))
    assert(t.manifestFiles().size == 200)
    (t, path)
  }

  /** Unpartitioned: 200 files of 50 rows, file i holding ids 50i..50i+49. */
  private def idTable(prefix: String): GraftTable = {
    val t = GraftTable(spark, graft.GraftTmp.dir(prefix).toString)
    t.write(spark.range(0, 10000, 1, 200).select(col("id"), (col("id") * 2).as("v")))
    assert(t.manifestFiles().size == 200)
    t
  }

  /** Jobs whose final stage is a parquet read or write issued by the
    * table layer, other than the write of new data files. */
  private def tableParquetJobs(jobs: Seq[(String, String)]): Seq[String] =
    jobs.collect {
      case (name, details) if name.startsWith("parquet at GraftTable.scala") &&
          !details.contains("appendDataFiles") => name
    }

  /** A filter the file index cannot translate, hence cannot skip by. */
  private val opaque = udf((b: Boolean) => b)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** `cond` read through the skipping index equals `cond` applied where
    * no file can be skipped; returns the files the skipped read scans. */
  private def agrees(t: GraftTable, cond: Column): Int = {
    val skipped = t.read().where(cond)
    assert(rows(skipped) == rows(t.read().where(opaque(cond))), cond)
    filesRead(skipped.queryExecution.executedPlan).sum
  }

  private def seed(lo: Int, hi: Int): DataFrame =
    (lo to hi).map(i => (i.toLong, s"k_$i", (i % 10).toString)).toDF("id", "name", "bucket")

  test("a point lookup and a table read plan with no Spark job") {
    val (t, path) = table("sp_lookup")
    val lookup = spark.read.format("graft").load(path)
      .where("ticker = 'T7' AND trade_date = '2024-01-05'")
    assert(jobsOf(lookup.queryExecution.executedPlan).isEmpty)
    assert(lookup.count() == 20)

    val read = GraftTable(spark, path).read()
    assert(jobsOf(read.queryExecution.executedPlan).isEmpty)
    assert(read.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("n" -> "bigint", "px" -> "double", "ticker" -> "string", "trade_date" -> "date"))

    // the frame both relations filter prunes partitions inside the parquet scan
    val inner = t.read().where("ticker = 'T7' AND trade_date = '2024-01-05'")
    val scans = collect(inner.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "ticker")),
      scans.head.partitionFilters)
    assert(filesRead(inner.queryExecution.executedPlan) == Seq(1))
  }

  test("MERGE, DELETE and OPTIMIZE start no parquet job of the table layer but writes") {
    val (t, _) = table("sp_ops")
    val src = Seq(("T3", java.sql.Date.valueOf("2024-01-02"), 5L, -1.0),
      ("T3", java.sql.Date.valueOf("2024-01-02"), 99L, -2.0)).toDF("ticker", "trade_date", "n", "px")
    val merge = jobsOf(t.merge(src, Seq("ticker", "trade_date", "n")))
    assert(tableParquetJobs(merge).isEmpty, merge)
    assert(t.read().where("ticker = 'T3' AND trade_date = '2024-01-02' AND n IN (5, 99)")
      .select("n", "px").as[(Long, Double)].collect().toSet == Set((5L, -1.0), (99L, -2.0)))

    val delete = jobsOf(t.delete(col("ticker") === "T4" && col("n") === 7L))
    assert(tableParquetJobs(delete).isEmpty, delete)
    assert(t.read().count() == 4000 + 1 - 10)

    t.write(Seq(("T1", java.sql.Date.valueOf("2024-01-01"), 50L, 1.0))
      .toDF("ticker", "trade_date", "n", "px"), SaveMode.Append)
    val before = t.manifestFiles().size
    val optimize = jobsOf(t.optimize(Nil, where = Some("ticker = 'T1'")))
    assert(tableParquetJobs(optimize).isEmpty, optimize)
    assert(t.manifestFiles().size == before - 1)
    assert(t.read().count() == 4000 + 1 - 10 + 1)
  }

  test("a point read() of a 200-file table plans with no job and reads 1 file") {
    val t = idTable("sp_point")
    val lookup = t.read().where(col("id") === 4321L)
    assert(jobsOf(lookup.queryExecution.executedPlan).isEmpty)
    assert(filesRead(lookup.queryExecution.executedPlan) == Seq(1))
    assert(lookup.as[(Long, Long)].collect().toSeq == Seq((4321L, 8642L)))
  }

  test("a point DELETE discovers and rewrites 1 of 200 files") {
    val t = idTable("sp_delete")
    val before = t.manifestFiles().toSet
    val scanned = filesReadDuring(t.delete(col("id") === 4321L))
    // the discovery scan and the rewrite's read both open the one file
    assert(scanned.nonEmpty && scanned.forall(_ == 1), scanned)
    assert((before -- t.manifestFiles()).size == 1)
    assert(t.read().count() == 9999)
    assert(t.read().where(col("id") === 4321L).isEmpty)
    assert(t.read().where(col("id").between(4300L, 4349L)).count() == 49)
  }

  test("skipped reads equal unskipped ones across predicate shapes") {
    val t = GraftTable(spark, graft.GraftTmp.dir("sp_shapes").toString)
    t.write(seed(1, 100).repartition(1))
    t.write(seed(101, 200).repartition(1), SaveMode.Append)
    t.write(seed(201, 300).repartition(1), SaveMode.Append)
    assert(agrees(t, col("id") === 150L) == 1)
    assert(agrees(t, col("id") >= 250L) == 1)
    assert(agrees(t, col("id").isin(10L, 210L)) == 2)
    assert(agrees(t, col("id") > 90L && col("id") <= 110L) == 2)
    assert(agrees(t, col("id") < 50L || col("id") > 250L) == 2)
    assert(agrees(t, !(col("id") === 5L)) == 3)
    assert(agrees(t, col("id").isNull) == 3)
    assert(agrees(t, col("id") === 9999L) == 0)
  }

  test("a DV delete followed by an append, then OPTIMIZE, read as unskipped") {
    val t = GraftTable(spark, graft.GraftTmp.dir("sp_dv").toString)
    t.write(seed(1, 100).repartition(2))
    t.delete(col("id") <= 10, mergeOnRead = true)
    t.write(seed(101, 160).repartition(1), SaveMode.Append)
    agrees(t, col("id") < 50L)
    agrees(t, col("id") === 5L)
    assert(agrees(t, col("id") > 100L) == 1)
    t.optimize(Seq("id"))
    agrees(t, col("id") < 50L)
    agrees(t, col("id") === 5L)
    assert(t.read().where(col("id") <= 10L).isEmpty) // deleted rows stay deleted
    assert(t.read().count() == 150)
  }

  test("a RESTORE re-add reads as unskipped") {
    val t = GraftTable(spark, graft.GraftTmp.dir("sp_restore").toString)
    t.write(seed(1, 100).repartition(2))
    t.write(seed(101, 200).repartition(1), SaveMode.Append)
    val target = t.currentVersion
    t.delete(col("id") > 100) // drops the second commit's file
    agrees(t, col("id") > 150L)
    t.restore(target)         // re-adds it
    assert(agrees(t, col("id") > 150L) == 1)
    assert(t.read().where(col("id") > 150L).count() == 50)
  }

  test("a filter on a renamed column skips by the physical column's stats") {
    val t = GraftTable(spark, graft.GraftTmp.dir("sp_colmap").toString)
    t.write(seed(1, 100).repartition(1))
    t.write(seed(101, 200).repartition(1), SaveMode.Append)
    t.renameColumn("id", "row_id")
    t.write(seed(201, 300).repartition(1).withColumnRenamed("id", "row_id"), SaveMode.Append)
    assert(agrees(t, col("row_id") > 250L) == 1)
    // "k_7" sorts above every name of the second and third files
    assert(agrees(t, col("row_id") === 150L || col("name") === "k_7") == 2)
    assert(t.read().where(col("row_id") > 250L).select("row_id").as[Long]
      .collect().toSeq.sorted == (251L to 300L))
  }

  test("an empty prune reads no file and keeps the full schema") {
    val t = GraftTable(spark, graft.GraftTmp.dir("sp_empty").toString)
    t.write(seed(1, 50).repartition(1))
    assert(agrees(t, col("id") === -1L) == 0)
    val out = t.read().where(col("id") === -1L)
    assert(out.isEmpty && out.columns.toSeq == Seq("id", "name", "bucket"))
  }

  test("OPTIMIZE WHERE and replaceWhere scope a partition range numerically, with no job") {
    val t = GraftTable(spark, graft.GraftTmp.dir("sp_scope").toString, Seq("year"))
    def batch(n: Long) = Seq(9, 10, 11).flatMap(y => (0L until 5L).map(i => (y, n * 10 + i)))
      .toDF("year", "n")
    t.write(batch(0).repartition(1))
    t.write(batch(1).repartition(1), SaveMode.Append)
    def filesOf(y: Int) = t.manifestFiles().count(_.startsWith(s"year=$y/"))
    assert(Seq(9, 10, 11).map(filesOf) == Seq(2, 2, 2))

    // string order would put "10" and "11" below "9" and scope year=9
    val optimize = jobsOf(t.optimize(Nil, where = Some("year > 9")))
    assert(!optimize.exists(_._2.contains("partitionScopedFiles")), optimize)
    assert(Seq(9, 10, 11).map(filesOf) == Seq(2, 1, 1))

    val replace = jobsOf(t.write(Seq((10, 100L), (11, 110L)).toDF("year", "n"),
      SaveMode.Overwrite, replaceWhere = Some("year > 9")))
    assert(!replace.exists(_._2.contains("partitionScopedFiles")), replace)
    assert(t.read().where(col("year") > 9).select("year", "n").as[(Int, Long)].collect().toSet ==
      Set((10, 100L), (11, 110L)))
    assert(t.read().where(col("year") === 9).count() == 10)
  }
}
