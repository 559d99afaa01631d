package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.tables.Tables

/** What a fixture read costs and gives: the schema Spark would infer,
  * read with no job; one partition for a one-split scan, so the operators
  * above it plan no exchange; and the Spark jobs each corpus operator
  * runs, warm, pinned as upper bounds. */
class FixtureReadSpec extends SparkSpec {

  /** `body`'s value and the jobs it runs, by each job's last stage name. */
  private def jobsOf[T](s: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = s.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.maxBy(_.stageId).name)
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val v = try { val v = body; org.apache.spark.ListenerBusDrain(sc); v }
    finally sc.removeSparkListener(listener)
    (v, jobs.toArray(Array.empty[String]).toSeq)
  }

  /** The corpus-curation chain's operators and their warm job counts
    * over the sf0.001 documents and embeddings. */
  private val CorpusJobs = Seq(
    "filter_funnel" -> 2, "pii_scrub" -> 1, "gopher_repetition" -> 4,
    "quality_classifier" -> 2, "dedup_exact" -> 1, "dedup_minhash" -> 8,
    "dedup_substring" -> 3, "edit_dedup" -> 3, "semantic_dedup" -> 9,
    "knn_ivf" -> 9, "knn_classify" -> 3, "tfidf_keywords" -> 7)

  test("the warm corpus chain stays within its job counts and runs no schema inference") {
    val q = SparkEntry.queries
    CorpusJobs.foreach { case (op, _) => q(op)(spark, sf).collect() }
    val ran = CorpusJobs.map { case (op, bound) =>
      (op, bound, jobsOf(spark)(q(op)(spark, sf).collect())._2)
    }
    ran.foreach { case (op, _, jobs) => info(s"$op: ${jobs.size} jobs") }
    val over = ran.filter { case (_, bound, jobs) => jobs.size > bound }
    assert(over.isEmpty, over.map { case (op, bound, jobs) =>
      s"$op ran ${jobs.size} jobs, bound $bound:\n  ${jobs.mkString("\n  ")}" }.mkString("\n"))
    val inference = ran.flatMap(_._3).filter(_.startsWith("parquet at Tables"))
    assert(inference.isEmpty, inference.mkString("\n"))
  }

  test("a fixture read infers no schema by job, and gets the schema Spark infers") {
    val tables = new java.io.File(sf).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(tables.contains("events") && tables.contains("embeddings"))
    for (nanos <- Seq("true", "false"); ntz <- Seq("true", "false")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
      tables.foreach { t =>
        val (read, jobs) = jobsOf(s)(Tables.table(s, sf, t).schema)
        assert(jobs.isEmpty, s"$t: ${jobs.mkString(", ")}")
        assert(read == s.read.parquet(s"$sf/$t.parquet").schema,
          s"$t nanosAsLong=$nanos inferTimestampNTZ=$ntz")
      }
    }
  }

  test("a fixture rewritten under the same path reads back with its new types") {
    val dir = GraftTmp.dir("fixture_retype").toString
    spark.range(5).select(col("id").cast("int").as("x"))
      .write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").schema("x").dataType == IntegerType)
    spark.range(5).select(col("id").cast("string").as("x"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.table(spark, dir, "t")
    assert(df.schema("x").dataType == StringType)
    assert(df.collect().map(_.getString(0)).sorted.toSeq == (0 until 5).map(_.toString))
  }

  test("a one-split scan reads as one partition; a multi-split scan reads unchanged") {
    val docs = Tables.documents(spark, sf)
    assert(docs.queryExecution.executedPlan.outputPartitioning == SinglePartition)
    // the byte gate and the spread see what they saw on the plain scan
    def estimate(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(estimate(docs) == estimate(Tables.scan(spark, sf, "documents")))
    assert(docs.rdd.getNumPartitions == 1)
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val want = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    assert(byLang.collect().toSet == want.collect().toSet)
    assert(!byLang.queryExecution.executedPlan.toString.contains("Exchange"),
      byLang.queryExecution.executedPlan)
    // the same file in 4 KB splits: Spark plans several, and the read
    // is the plain scan
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    val split = Tables.documents(s, sf)
    assert(split.rdd.getNumPartitions > 1)
    assert(split.queryExecution.executedPlan.collect { case c: CoalesceExec => c }.isEmpty)
    assert(split.collect().toSet == docs.collect().toSet)
  }
}
