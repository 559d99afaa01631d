package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Row, SparkSession}

/** The dedup operators in a session configured the way a user builds one:
  * `spark.sql.shuffle.partitions` and AQE's `parallelismFirst` left at
  * Spark's defaults. The rows must equal the graft session's, and no stage
  * may run more tasks than the cores warrant, so no cache or checkpoint
  * freezes the session's shuffle-partition setting into the plan. */
class UserSessionDedupSpec extends SparkSpec {

  private val ops = Seq("dedup_minhash", "ngram_jaccard", "dedup_clusters",
    "canonical_selection", "cluster_minsh")

  private final class StageTasks extends SparkListener {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      stages.add((s.stageInfo.numTasks, s.stageInfo.name))
  }

  private def userSession(): SparkSession = {
    val user = spark.newSession()
    user.conf.unset("spark.sql.shuffle.partitions")
    user.conf.unset("spark.sql.adaptive.coalescePartitions.parallelismFirst")
    user
  }

  private def rows(s: SparkSession, op: String): Seq[Row] =
    try SparkEntry.queries(op)(s, sf).collect().toSeq
    finally s.catalog.clearCache()

  ops.foreach { op =>
    test(s"$op in a default-partition session: graft rows, no stage tracks shuffle.partitions") {
      val user = userSession()
      assert(user.conf.get("spark.sql.shuffle.partitions") == "200")
      assert(user.conf.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
      val expected = rows(spark, op)
      val sc = spark.sparkContext
      val listener = new StageTasks
      sc.addSparkListener(listener)
      val got =
        try { val r = rows(user, op); org.apache.spark.ListenerBusDrain(sc); r }
        finally sc.removeSparkListener(listener)
      assert(got == expected, s"$op: user-session rows differ")
      val cap = 2 * sc.defaultParallelism
      val wide = listener.stages.toArray(Array.empty[(Int, String)])
        .filter(_._1 > cap)
      if (wide.nonEmpty)
        fail(s"$op: stages over $cap tasks: ${wide.take(5).mkString("; ")}")
    }
  }
}
