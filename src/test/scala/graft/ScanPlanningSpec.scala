package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.table.GraftTable

/** Scans are planned from the table's log: a graft read lists no files
  * and merges no footers before it runs, and table operations start no
  * parquet job of their own except the write of their new files. */
class ScanPlanningSpec extends SparkSpec {
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

  /** Jobs whose final stage is a parquet read or write issued by the
    * table layer, other than the write of new data files. */
  private def tableParquetJobs(jobs: Seq[(String, String)]): Seq[String] =
    jobs.collect {
      case (name, details) if name.startsWith("parquet at GraftTable.scala") &&
          !details.contains("appendDataFiles") => name
    }

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

    // the scan the lookup runs prunes partitions inside the parquet scan
    import org.apache.spark.sql.sources.EqualTo
    val inner = t.readVersionPruned(t.currentVersion,
        Seq(EqualTo("ticker", "T7"), EqualTo("trade_date", java.sql.Date.valueOf("2024-01-05"))))
      .where("ticker = 'T7' AND trade_date = '2024-01-05'")
    val scans = inner.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "ticker")),
      scans.head.partitionFilters)
    assert(scans.head.selectedPartitions.filePartitionIterator.map(_.files.size).sum == 1)
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
}
