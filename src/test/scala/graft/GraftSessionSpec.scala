package graft

import org.apache.spark.sql.functions.col

/** The shared session factory and the byte gate beside `Tables.spread`. */
class GraftSessionSpec extends SparkSpec {

  test("the factory's session is the shared one, with the graft configuration") {
    assert(GraftSession.local() eq spark)
    val cpus = """local\[(\d+)\]""".r
      .findFirstMatchIn(spark.sparkContext.master).map(_.group(1))
    assert(cpus.nonEmpty, s"not a local[n] master: ${spark.sparkContext.master}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cpus.get)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
  }

  test("the factory's session parses graft SQL and resolves graft functions") {
    val plan = spark.sessionState.sqlParser.parsePlan(
      "OPTIMIZE `/nonexistent/graft_table` ZORDER BY (a)")
    assert(plan.isInstanceOf[org.apache.spark.sql.graft.GraftOptimizeCommand])
    val sig = spark.sql("SELECT simhash_md5('graft session check')").head()
    assert(!sig.isNullAt(0))
  }

  test("pinnedParts: an RDD-backed frame has sentinel stats and stays unpinned") {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(1 to 10).toDF("x")
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >=
      spark.sessionState.conf.defaultSizeInBytes)
    assert(graft.tables.Tables.pinnedParts(df, 1L).isEmpty)
    assert(graft.tables.Tables.pinnedParts(df, 0L, bytesPerPart = 1L).isEmpty)
  }

  test("pinnedParts: an estimate beyond the Int range clamps instead of wrapping") {
    val big = spark.range(2000000).crossJoin(
      spark.range(2000000).select(col("id").as("id2")))
    val est = big.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > BigInt(Int.MaxValue) * 4)
    assert(est < spark.sessionState.conf.defaultSizeInBytes)
    val cores = spark.sparkContext.defaultParallelism
    assert(graft.tables.Tables.pinnedParts(big, 1L, bytesPerPart = 1L) ==
      Some(Int.MaxValue))
    assert(graft.tables.Tables.pinnedParts(big, 1L, bytesPerPart = 1L,
      maxParts = 2048) == Some(math.max(cores, 2048)))
    // gate only: the count stays the session's parallelism
    assert(graft.tables.Tables.pinnedParts(big, 1L) == Some(cores))
    // below the per-core threshold: unpinned
    assert(graft.tables.Tables.pinnedParts(spark.range(10).toDF(), 1L << 20).isEmpty)
  }
}
