package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ingest.BarSource
import graft.table.GraftTable
import graft.transform.Enrich

/** What table operations leave in, and read from, the session: the
  * session conf is unchanged by a partitioned write, a MERGE and an
  * OPTIMIZE, and the MERGE key probe broadcasts by measured key bytes. */
class TableSessionSpec extends SparkSpec {

  private def bars(s: SparkSession): DataFrame = Enrich.withTimeColumns(
    BarSource.distributedHarvest(s, Seq("AAPL", "MSFT", "NVDA"),
      BarSource.tradingDays(java.time.LocalDate.of(2024, 1, 8), 2), 7L))

  /** The conf keys whose setting differs from `conf0`, set or unset. */
  private def changedKeys(s: SparkSession, conf0: Map[String, String]): Set[String] = {
    val now = s.conf.getAll
    (conf0.keySet ++ now.keySet).filter(k => conf0.get(k) != now.get(k))
  }

  test("a partitioned write, a MERGE and an OPTIMIZE leave the session conf identical") {
    val user = spark.newSession()
    val t = GraftTable(user, GraftTmp.dir("conf_restore").toString,
      Seq("ticker", "trade_date"))
    val src = bars(user)
    val conf0 = user.conf.getAll
    t.write(src)
    assert(changedKeys(user, conf0).isEmpty, "after the partitioned write")
    t.merge(src.filter(col("timestamp_ms") % 7 === 0)
      .withColumn("volume", col("volume") + 1), Seq("ticker", "timestamp_ms"))
    assert(changedKeys(user, conf0).isEmpty, "after the MERGE")
    t.optimize(Seq("timestamp_ms"))
    assert(changedKeys(user, conf0).isEmpty, "after the OPTIMIZE")
  }

  /** Runs `body` and returns the executed plans of the queries it ran
    * that probe for affected files (a left-semi join on `__path` rows). */
  private def probePlans(body: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[String]).toSeq
      .filter(p => p.contains("LeftSemi") && p.contains("__path"))
  }

  private def broadcastsProbe(plans: Seq[String]): Boolean = {
    assert(plans.nonEmpty, "no affected-file probe ran")
    plans.exists(_.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")))
  }

  /** Two 64-hex-char key columns: ~140 cached bytes per key, so the
    * byte gate, not the key count, decides the broadcast. */
  private def wideKeys(n: Long): DataFrame = spark.range(n).select(
    sha2(col("id").cast("string"), 256).as("k1"),
    sha2((col("id") * 7 + 1).cast("string"), 256).as("k2"),
    col("id").as("v"))

  private def mergeWide(n: Long): Seq[String] = {
    val t = GraftTable(spark, GraftTmp.dir("merge_gate").toString, Nil)
    t.write(wideKeys(20))
    val plans = probePlans {
      t.mergeInto(wideKeys(n).withColumn("v", col("v") + 1), Seq("k1", "k2"))
        .whenMatchedUpdateAll().execute()
    }
    assert(t.read().agg(sum("v")).head().getLong(0) == (0L until 20L).sum + 20,
      "each of the 20 matched rows is updated once")
    plans
  }

  test("MERGE gate: a wide composite key set under the byte cap is broadcast") {
    // 20 k keys: ~3 MB
    assert(broadcastsProbe(mergeWide(20000)))
  }

  test("MERGE gate: a wide composite key set over the byte cap is shuffled") {
    // 400 k keys: ~50 MB of key bytes, far under the old 4 M-key gate
    assert(!broadcastsProbe(mergeWide(400000)))
  }

  test("the daily bar-corrections MERGE runs at most 7 jobs and evaluates its source once") {
    val t = GraftTable(spark, GraftTmp.dir("merge_census").toString,
      Seq("ticker", "trade_date"))
    val src = bars(spark)
    t.write(src)
    // every evaluation of the source pipeline counts its rows here
    val evaluated = spark.sparkContext.longAccumulator
    val seen = udf((ts: Long) => { evaluated.add(1); ts })
    val corrections = src.filter(col("timestamp_ms") % 7 === 0)
      .withColumn("timestamp_ms", seen(col("timestamp_ms")))
      .withColumn("volume", col("volume") + 1)
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.maxBy(_.stageId).name)
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val v = try {
      val v = t.merge(corrections, Seq("ticker", "timestamp_ms"))
      org.apache.spark.ListenerBusDrain(sc)
      v
    } finally sc.removeSparkListener(listener)
    val ran = evaluated.value
    val n = corrections.count()
    assert(jobs.size <= 7, jobs.toArray.mkString("\n"))
    assert(ran == n, s"the source pipeline ran over $ran rows for $n")
    assert(t.operationMetrics(v)("numTargetRowsUpdated").toLong == n)
  }

  test("MERGE gate: the daily bar corrections' key set is broadcast") {
    val t = GraftTable(spark, GraftTmp.dir("merge_gate_bars").toString,
      Seq("ticker", "trade_date"))
    val src = bars(spark)
    t.write(src)
    val plans = probePlans {
      t.merge(src.filter(col("timestamp_ms") % 7 === 0)
        .withColumn("volume", col("volume") + 1), Seq("ticker", "timestamp_ms"))
    }
    assert(broadcastsProbe(plans))
  }
}
