package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Diagnostic mains, all on the [[GraftSession]] configuration so the
  * plans measured here are the plans the bench times:
  * {{{
  *   runMain graft.Diag time <sfDir> <query>...
  *     min of SPARK_GRAFT_RUNS (default 3) timed count()s per query
  *   runMain graft.Diag stages <sfDir> <query>...
  *     one warm pass, then a per-stage profile of one count() per query;
  *     explain("formatted") goes to target/plans/<query>.txt
  *   runMain graft.Diag maint <sfDir>
  *     the waved OPTIMIZE campaign on a fresh lineitem table,
  *     SPARK_GRAFT_RUNS (default 2) times, with its stage profile
  *   runMain graft.Diag scalegen <sf0.1Dir> [sf1Out] [sf10Out]
  *     pre-generate the scaled bench dirs Bench otherwise builds on demand
  * }}} */
object Diag {
  private val usage =
    "usage: graft.Diag time|stages <sfDir> <query>... | maint <sfDir> | " +
      "scalegen <sf0.1Dir> [sf1Out] [sf10Out]"

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "time" :: sfDir :: names => time(_, sfDir, names)
      case "stages" :: sfDir :: names => stages(_, sfDir, names)
      case "maint" :: sfDir :: Nil => maint(_, sfDir)
      case "scalegen" :: src :: outs if outs.size <= 2 =>
        def out(i: Int, default: String) =
          outs.lift(i).getOrElse(new java.io.File(default).getAbsolutePath)
        scalegen(_, src, out(0, "target/graft_sf1"), out(1, "target/graft_sf10"))
      case _ => System.err.println(usage); sys.exit(2)
    }
    val spark = GraftSession.local()
    try run(spark) finally spark.stop()
  }

  private def runs(default: Int): Int =
    sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(default)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Persisted blocks are released between runs, outside the timed
    * window (Bench's releaseCaches policy): otherwise earlier runs'
    * sketch/sig frames accumulate and inflate later ones. */
  private def release(spark: SparkSession): Unit =
    try spark.catalog.clearCache() catch { case _: Throwable => () }

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      val times = (1 to runs(3)).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        val t = secondsSince(t0)
        release(spark)
        t
      }
      println(f"[time] $n min=${times.min}%.3f runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }

  /** Collects one line per completed stage: tasks, wall ms, executor cpu
    * and run ms, shuffle read/write bytes, spill bytes, stage name. */
  private final class StageLines extends SparkListener {
    private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val tm = si.taskMetrics
      val wall = (for {s <- si.submissionTime; c <- si.completionTime}
        yield c - s).getOrElse(-1L)
      lines.add(f"[stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
        f"wall=${wall}%6dms cpu=${tm.executorCpuTime / 1000000}%7dms " +
        f"run=${tm.executorRunTime}%7dms " +
        f"shR=${tm.shuffleReadMetrics.totalBytesRead}%10d " +
        f"shW=${tm.shuffleWriteMetrics.bytesWritten}%10d " +
        f"spill=${tm.diskBytesSpilled}%8d  ${si.name.take(60)}")
    }
    /** The lines since the last drain; waits for the listener bus first
      * so every stage of the finished work is included. */
    def drain(): Seq[String] = {
      Thread.sleep(300)
      Iterator.continually(lines.poll()).takeWhile(_ != null).toList
    }
  }

  private def withStageLines[T](spark: SparkSession)(body: StageLines => T): T = {
    val listener = new StageLines
    spark.sparkContext.addSparkListener(listener)
    try body(listener) finally spark.sparkContext.removeSparkListener(listener)
  }

  def stages(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    new java.io.File("target/plans").mkdirs()
    withStageLines(spark) { listener =>
      names.foreach { n =>
        // one unprofiled warm pass: JIT + page cache outside the window
        try SparkEntry.queries(n)(spark, sfDir).count()
        catch { case e: Throwable => println(s"[diag] $n warm failed: $e") }
        release(spark)
        listener.drain()
        val df = SparkEntry.queries(n)(spark, sfDir)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"target/plans/$n.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        val t0 = System.nanoTime()
        val cnt = df.count()
        val sec = secondsSince(t0)
        release(spark)
        val lines = listener.drain()
        println(s"\n===== $n rows=$cnt total=${f"$sec%.3f"}s =====")
        lines.foreach(println)
      }
    }
  }

  def maint(spark: SparkSession, sfDir: String): Unit =
    withStageLines(spark) { listener =>
      (1 to runs(2)).foreach { r =>
        val path = GraftTmp.dir("graft_maintdiag").toString
        try {
          val t = graft.table.GraftTable(spark, path, Seq("l_returnflag"))
          val li = graft.tables.Tables.lineitem(spark, sfDir)
            .select("l_orderkey", "l_linenumber", "l_quantity",
              "l_extendedprice", "l_returnflag", "l_shipdate")
          t.write(li.repartition(32))
          listener.drain()
          val liTarget = 64L * 1024 * 1024
          val t0 = System.nanoTime()
          var waves = 0
          var more = true
          while (more) {
            val vs = t.optimizeFullWaved(Seq("l_orderkey"),
              targetFileSizeBytes = liTarget, maxWaveBytes = 4 * liTarget,
              epoch = "diag-e1", maxWaves = 1)
            if (vs.isEmpty) more = false else waves += 1
          }
          val sec = secondsSince(t0)
          listener.drain().foreach(println)
          println(f"[maint] rep=$r waves=$waves optimize_waved=$sec%.3f")
        } finally scala.util.Try(
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path)))
      }
    }

  def scalegen(spark: SparkSession, src: String, sf1Out: String,
      sf10Out: String): Unit = {
    val t0 = System.nanoTime()
    val d1 = BenchScale.ensure(spark, src, sf1Out)
    println(f"[scalegen] sf1 at $d1 (${secondsSince(t0)}%.1f s)")
    val t1 = System.nanoTime()
    val d10 = BenchScale.ensure10x(spark, d1, sf10Out)
    println(f"[scalegen] sf10 at $d10 (${secondsSince(t1)}%.1f s)")
  }
}
