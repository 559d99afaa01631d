package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.table.GraftTable

/** What a table write leaves behind: its files sit at their final paths
  * and nothing else — no staging directory, no `_temporary`, no
  * `_SUCCESS` — a failed write commits nothing and VACUUM reclaims its
  * files, the session conf never changes while a write runs, an
  * unsorted partitioned write sorts no rows, and change-feed sidecars
  * go with the log records that name them. */
class WritePathSpec extends SparkSpec {

  /** 400 rows over four input partitions, four values of `k` in each. */
  private def rows: DataFrame = spark.range(0, 400, 1, 4)
    .select(col("id"), (col("id") % 4).as("k"), (col("id") * 2).as("v"))

  /** Every entry under `path` named like a staging directory or a
    * Hadoop committer's marker, the log included. */
  private def leftovers(path: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c => c +: (if (c.isDirectory) walk(c) else Nil))
    walk(new java.io.File(path)).map(_.getName)
      .filter(n => n.startsWith(".staging-") || n == "_temporary" || n.startsWith("_SUCCESS") ||
        n.startsWith("._SUCCESS"))
  }

  private def onDisk(t: GraftTable): Set[String] = t.listDataFiles().map(_._1).toSet

  test("a failed write commits nothing and vacuum reclaims its files") {
    val path = GraftTmp.dir("failed_write").toString
    val t = GraftTable(spark, path, Seq("k"))
    t.write(rows)
    // the task holding id 399 fails once the other three have committed
    val boom = udf { (id: Long) =>
      if (id == 399L) { Thread.sleep(1000); throw new IllegalStateException("boom") }
      id
    }
    intercept[Exception](t.write(rows.withColumn("id", boom(col("id"))), SaveMode.Append))
    assert(t.currentVersion == 0)
    val orphans = onDisk(t) -- t.manifestFiles()
    assert(orphans.nonEmpty, "the tasks that finished left their files")
    assert((0L to t.currentVersion).forall(v => !t.manifestFiles(v).exists(orphans)))
    t.vacuum(0.0, retentionCheckEnabled = false)
    assert(onDisk(t) == t.manifestFiles().toSet)
    assert(t.read().count() == 400)
  }

  test("no write path leaves a staging directory, _temporary or _SUCCESS") {
    val path = GraftTmp.dir("write_leftovers").toString
    val t = GraftTable(spark, path, Seq("k"))
    t.write(rows)                                                          // v0
    t.setProperties(Map("graft.checkpointInterval" -> "2"))                // v1
    t.write(rows.withColumn("id", col("id") + 400), SaveMode.Append)       // v2 (checkpoint)
    t.write(rows.filter(col("k") === 1).withColumn("v", lit(-1L)),
      SaveMode.Overwrite, replaceWhere = Some("k = 1"))                    // v3
    t.delete(col("id") === 5L)                                             // v4
    t.update(col("id") === 6L, Map("v" -> lit(0L)))                        // v5
    t.merge(rows.filter(col("id") < 10).withColumn("v", lit(7L)), Seq("id", "k")) // v6
    t.delete(col("id") === 8L, mergeOnRead = true)                         // v7
    t.purge()                                                              // v8
    t.optimize(Nil, full = true)                                           // v9
    assert(t.currentVersion == 9)
    assert(new java.io.File(path, "_graft_log/cdc").list().nonEmpty, "UPDATE and MERGE wrote sidecars")
    assert(t.read().count() == 699)
    assert(leftovers(path).isEmpty, leftovers(path))
  }

  test("the session conf never changes while a partitioned write runs") {
    val user = spark.newSession()
    val t = GraftTable(user, GraftTmp.dir("conf_poll").toString, Seq("k"))
    val slow = udf { (v: Long) => Thread.sleep(20); v }
    val src = user.range(0, 400, 1, 4)
      .select(col("id"), (col("id") % 4).as("k"), slow(col("id")).as("v"))
    val conf0 = user.conf.getAll
    val seen = new ConcurrentLinkedQueue[Set[String]]()
    val stop = new AtomicBoolean(false)
    val polls = new AtomicInteger()
    val poller = new Thread(() => while (!stop.get) {
      val now = user.conf.getAll
      val changed = (conf0.keySet ++ now.keySet).filter(k => conf0.get(k) != now.get(k))
      if (changed.nonEmpty) seen.add(changed)
      polls.incrementAndGet()
      Thread.sleep(2)
    })
    poller.start()
    val started = System.nanoTime()
    try t.write(src) finally { stop.set(true); poller.join() }
    assert((System.nanoTime() - started) / 1e9 >= 2.0, "the write runs for seconds")
    assert(polls.get > 100, polls)
    assert(seen.isEmpty, seen)
    assert(t.read().count() == 400)
  }

  test("an unsorted partitioned write sorts no rows") {
    // a sort before the write would hold execution memory in the write
    // tasks; with concurrent partition writers no task sorts
    def peakMemory(body: => Unit): Seq[Long] = {
      val sc = spark.sparkContext
      val peaks = new ConcurrentLinkedQueue[java.lang.Long]()
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => peaks.add(m.peakExecutionMemory))
      }
      ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(listener)
      peaks.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue)
    }
    val table = peakMemory(GraftTable(spark, GraftTmp.dir("unsorted_write").toString, Seq("k"))
      .write(rows))
    assert(table.nonEmpty && table.forall(_ == 0L), table)
    // the same write through Spark's sorting writer does hold memory
    val sorted = peakMemory(rows.write.mode("overwrite").partitionBy("k")
      .parquet(GraftTmp.dir("sorted_write").toString))
    assert(sorted.exists(_ > 0L), sorted)
  }

  test("cleanupLog drops the change-feed sidecars of the records it drops; vacuum sweeps orphans") {
    val path = GraftTmp.dir("cdc_sweep").toString
    val t = GraftTable(spark, path, Seq("k"))
    t.write(rows)                                                          // v0
    (1 to 3).foreach { i =>                                                // v1..v3
      t.merge(rows.filter(col("id") % 10 === i).withColumn("v", lit(-i.toLong)), Seq("id", "k"))
    }
    val cdc = new java.io.File(path, "_graft_log/cdc")
    def sidecars: Set[String] = Option(cdc.list()).toSeq.flatten.toSet
    assert(sidecars.size == 3)
    assert(t.cleanupLog(1) == 3)
    assert(sidecars.size == 1, sidecars)
    def feed: Map[String, Long] = t.changes(2, 3).groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("update_preimage" -> 40L, "update_postimage" -> 40L), feed)
    val retained = sidecars
    val orphan = new java.io.File(cdc, "orphan")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(new java.io.File(orphan, "part-0.parquet").toPath, Array[Byte](1))
    t.vacuum(0.0, retentionCheckEnabled = false)
    assert(sidecars == retained)
    assert(feed == Map("update_preimage" -> 40L, "update_postimage" -> 40L), feed)
  }
}
