package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration: Bench, Verify, Diag and the
  * test suites all build their session here, so the plans the oracle
  * checks, the bench times and the tests exercise are the same plans. */
object GraftSession {

  /** The session on `local[SPARK_GRAFT_CPUS]` (default 4 cores). */
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the shipped extensions: the graft SQL parser, the registered
      // functions, SQL DML and the read rules (every SQL, catalog and
      // format("graft") read resolves to the log-planned columnar scan)
      // — the user-facing configuration a production session built per
      // the README gets
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // at local scale the shuffles are KB-sized: let AQE coalesce to the
      // advisory size instead of splitting to max parallelism — task
      // launch overhead dominates otherwise (local[32] was 2x local[4])
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
