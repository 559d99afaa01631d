package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Readers for the driver-provided testdata tables (TESTDATA.md).
  *
  * Each sf dir holds one parquet dataset per table: one file at the
  * fixture scales, several files at the generated sf1/sf10 decades. Two
  * things set these reads apart from a bare `spark.read.parquet`:
  *  - the schema is read from the files' footers on the driver
  *    ([[org.apache.spark.sql.graft.FooterSchema]], the same schema
  *    Spark's inference gives under the session's conf) instead of by an
  *    inference job per read;
  *  - a scan Spark plans as exactly one split (its own `maxSplitBytes`
  *    decision; every fixture table but sf0.1 `lineitem`) is marked as
  *    one partition, so no exchange is planned above it for aggregates,
  *    windows, sorts or joins. A multi-split scan is returned unchanged,
  *    so a multi-file dataset reads exactly as `spark.read.parquet`
  *    would read it.
  */
object Tables {
  /** The table's plain scan: footer schema, Spark's splits. */
  def scan(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(org.apache.spark.sql.graft.FooterSchema(spark, path)).parquet(path)
  }

  /** The table's scan; one split reads as one partition (`coalesce(1)`
    * reports `SinglePartition`, which every distribution accepts). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = scan(spark, sfDir, name)
    if (df.rdd.getNumPartitions == 1) df.coalesce(1) else df
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** `ts` normalization across the encodings the fixtures have used:
    *  - timestamp[us] with isAdjustedToUTC=false (inferred TIMESTAMP_NTZ,
    *    every current fixture) → cast to session-zone timestamp; sessions
    *    here run UTC, so the wall-clock values keep the same epoch
    *    meaning DuckDB reads;
    *  - TIMESTAMP(NANOS), which only a session that sets
    *    `spark.sql.legacy.parquet.nanosAsLong` reads (as Long) → exact
    *    integer `DIV 1000` to micros (epoch-ns ~1.7e18 exceeds double's
    *    exact range) — matches DuckDB's own ns→µs conversion.
    * The reader sets no session conf. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizedTs(table(spark, dir, "events"))

  /** `raw` with its `ts` normalized as [[events]] documents. */
  def normalizedTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Scale-adaptive parallelism guard for CPU-heavy in-scan work
    * (optimization guide §2.5 input skew, §1.2 "the distributed
    * algorithm first"): the sf fixtures are single-row-group parquet
    * files, so a bare scan plans ONE task and every expensive per-row
    * kernel above it (md5 sketches, shingle explodes, tokenizers, IVF
    * assignment) runs on one core of local[N] while N−1 idle. When the
    * scan's actual split count is below the session's parallelism,
    * redistribute by `key` (deterministic hash — safe under retries,
    * §2.5) before the heavy work; when the input already carries at
    * least one split per core — every real multi-file dataset, and any
    * 100 TB table — this returns `df` UNCHANGED, so no extra exchange
    * ever reaches a production plan. Apply ONLY above kernel/explode
    * work whose cost dominates the row bytes moved: for plain
    * scan→aggregate queries the exchange would ship raw rows for no
    * CPU win. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column,
      minBytesPerCore: Long = 0L): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val parts = df.rdd.getNumPartitions
    if (parts * 2 >= sc.defaultParallelism) return df
    // volume gate for MODERATE per-byte kernels (vector math, token
    // splits): below `minBytesPerCore` of input per core the exchange +
    // 32-task scheduling costs more than the serialized kernel (bench-
    // measured: +0.3-0.7 s per query at the 2.5 MB sf0.1 fixtures),
    // while at the sf1/sf10 decades the same sites win. md5-class
    // kernels (~200 ops/byte) pass 0 — they win even on MB-sized input.
    if (minBytesPerCore > 0L && pinnedParts(df, minBytesPerCore).isEmpty)
      return df
    // partition count pinned (derived from the session's cores, never a
    // constant): an unpinned repartition(key) is AQE-coalescible, and
    // with KB-sized inputs AQE folds it straight back to one partition —
    // re-serializing the very kernel work this exchange exists to spread
    df.repartition(sc.defaultParallelism, key)
  }

  /** The byte gate for pinned exchanges: reads `df`'s optimizer size
    * estimate once and returns the partition count to pin, or None to
    * keep the unpinned plan. None when the estimate is below
    * `minBytesPerCore` per core, or unknown — at or above
    * `spark.sql.defaultSizeInBytes`, the size Spark assigns to relations
    * it cannot measure (RDD-backed frames), so a sentinel never reads as
    * "huge input". The count is the session's parallelism, raised to one
    * partition per `bytesPerPart` of estimate capped at `maxParts`; the
    * cap is applied in BigInt, so no estimate wraps through `toInt`. */
  def pinnedParts(df: DataFrame, minBytesPerCore: Long,
      bytesPerPart: Long = Long.MaxValue,
      maxParts: Int = Int.MaxValue): Option[Int] = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= spark.sessionState.conf.defaultSizeInBytes ||
        est < BigInt(minBytesPerCore) * cores) None
    else Some(math.max(cores,
      (est / bytesPerPart + 1).min(BigInt(maxParts)).toInt))
  }
}
