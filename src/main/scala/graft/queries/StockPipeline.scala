package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.BarSource
import graft.table.{GraftTable, Maintenance}
import graft.transform.Enrich

/** End-to-end stock-pipeline queries: the reference's three entry points
  * (ingest → maintenance → external-table analytics, SURVEY.md §3)
  * compressed into driver-runnable query functions. Inputs are the
  * deterministic synthetic bar source (zero-egress stand-in for the
  * Polygon REST API): the seed-42 bars are dumped to a fixed parquet
  * path as a side effect of the query, and the DuckDB oracle re-runs the
  * filter/aggregation/mutation algebra independently over that dump
  * (re-deriving the UTC date from raw epoch ms — not trusting the
  * engine's timestamp math). Only the queries whose output is
  * implementation-defined (history operations, maintenance file counts)
  * stay rows-only, with ScalaTest pinning their semantics.
  *
  * Lifecycle queries materialize their small reports with collect-free
  * local DataFrames where possible; temp tables live under java.io.tmpdir
  * and are unique per invocation.
  */
object StockPipeline {

  private def tmpDir(prefix: String): String =
    graft.GraftTmp.dir(prefix).toString

  /** Fixed dump location for the seed-42 bars — baked into the oracle SQL
    * below, so the driver's DuckDB process finds the same files the
    * Verify process wrote. Timestamp columns are dropped from the dump
    * (raw epoch ms is engine-neutral; parquet timestamp annotations are
    * not), and the write happens at most once per JVM. */
  private val BarDumpDir = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_oracle_bars_seed42").getAbsolutePath
  private val barDumpDone = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Fixed dump of the maintenance table's MANIFEST-derived v0 file
    * census (one row: total files the WRITE landed), written before any
    * maintenance op runs. The health report's files_before comes from
    * the reference-style DISK walk; this dump is the log's independent
    * second accounting of the same state — the oracle compares the two
    * instead of hard-coding the repartition(8)×nparts fan-out, which
    * assumed every write task holds rows of every hive partition (a
    * Spark hash-partitioning detail a version bump may change; r14
    * ADVICE). */
  private val MaintV0DumpDir = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_oracle_bars_maint_v0").getAbsolutePath

  private def seededBars(spark: SparkSession): DataFrame =
    Enrich.withTimeColumns(BarSource.harvest(spark, seed = 42L, delayMs = 0))

  private def dumpBarsForOracle(bars: DataFrame): DataFrame = {
    if (barDumpDone.compareAndSet(false, true))
      bars.drop("event_time_utc", "event_time_ny")
        .coalesce(1).write.mode("overwrite").parquet(BarDumpDir)
    bars
  }

  /** Ingest summary — analyze_table (stock_harvester.py:189-213): rows,
    * distinct dates, and null-coercion counts per ticker. */
  def barIngestSummary(spark: SparkSession, dir: String): DataFrame = {
    val bars = dumpBarsForOracle(seededBars(spark))
    bars.groupBy("ticker")
      .agg(
        count(lit(1)).as("n_bars"),
        countDistinct(col("trade_date")).as("n_days"),
        min("trade_date").as("first_date"),
        max("trade_date").as("last_date"),
        sum(when(col("close").isNull, 1).otherwise(0)).as("null_closes"))
      .orderBy("ticker")
  }

  /** The timezone-edge slice: bars whose UTC date differs from the NY
    * trade_date (stock_harvester.py:154-159 rationale made visible). */
  def barTimezoneEdge(spark: SparkSession, dir: String): DataFrame = {
    val bars = dumpBarsForOracle(seededBars(spark))
    bars
      .filter(to_date(col("event_time_utc")) =!= col("trade_date"))
      .groupBy("ticker", "trade_date")
      .agg(count(lit(1)).as("bars_past_utc_midnight"))
      .orderBy("ticker", "trade_date")
  }

  /** Full maintenance lifecycle (maintenance.py main): write partitioned
    * table → OPTIMIZE(cluster by timestamp_ms) → VACUUM 0h demo →
    * invariant report. */
  def barMaintenanceReport(spark: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("graft_bars_maint")
    val bars = dumpBarsForOracle(seededBars(spark))
    val table = GraftTable(spark, path, Seq("ticker", "trade_date"))
    // fixed pre-write partitioning → deterministic file counts everywhere
    table.write(bars.repartition(8))
    // manifest-derived v0 census for the oracle (see MaintV0DumpDir)
    import spark.implicits._
    Seq(table.partitionsReport(0).map(_._2).sum).toDF("n_files")
      .coalesce(1).write.mode("overwrite").parquet(MaintV0DumpDir)
    val report = Maintenance.run(table, clusterBy = Seq("timestamp_ms"))
    Maintenance.reportDF(spark, report)
  }

  /** History audit (M3) after a write→optimize→vacuum cycle
    * (maintenance.py:212-216). Each version carries its MANIFEST-debited
    * row total (partitionsReport sums the log's per-file stats —
    * metadata-only time travel, no data scan), which ties the engine's
    * row accounting to ground truth: the DuckDB oracle re-derives the
    * expected total by counting the independent seed-42 bars dump and
    * asserts the lifecycle preserved it at every version. */
  def barHistory(spark: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("graft_bars_hist")
    val bars = dumpBarsForOracle(seededBars(spark))
    val table = GraftTable(spark, path, Seq("ticker", "trade_date"))
    table.write(bars.repartition(8))
    table.optimize(Seq("timestamp_ms"))
    table.vacuum(0.0, retentionCheckEnabled = false)
    import spark.implicits._
    val totals = (0L to table.currentVersion)
      .map(v => (v, table.partitionsReport(v).map(_._3).sum))
      .toDF("version", "rows_total")
    Materialize.beyondSource(
        table.history()
          .select(col("version").cast("long"), col("operation"))
          .join(totals, "version"),
        "graft_bars_hist_out")
      .orderBy("version")
  }

  /** External-table analytics (external_table.py:125-168): register the
    * bar table in the catalog, then run the reference's daily-summary SQL
    * (A6, external_table.py:148-154) through spark.sql. */
  def barExternalAnalytics(spark: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("graft_bars_ext")
    val bars = dumpBarsForOracle(seededBars(spark))
    val table = GraftTable(spark, path, Seq("ticker", "trade_date"))
    table.write(bars.repartition(8))
    table.optimize(Seq("timestamp_ms"))
    val name = s"stocks_external_${System.nanoTime()}"
    graft.catalog.External.registerExternalTable(spark, name, path)
    val out = spark.sql(
      s"""SELECT ticker, trade_date,
         |       COUNT(*) AS bar_count,
         |       ROUND(MIN(low), 2) AS day_low,
         |       ROUND(MAX(high), 2) AS day_high,
         |       CAST(SUM(volume) AS BIGINT) AS total_volume
         |FROM $name
         |GROUP BY ticker, trade_date
         |ORDER BY ticker, trade_date""".stripMargin)
    // materialize before dropping the catalog entry (external semantics:
    // data files survive the DROP — D1/D3)
    val kept = Materialize.beyondSource(out, "graft_bars_ext_out")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    kept.orderBy("ticker", "trade_date")
  }

  /** Row-mutation lifecycle (the Delta DML surface: DELETE / UPDATE /
    * MERGE as copy-on-write file rewrites): delete one ticker, zero one
    * ticker's volume, upsert corrections + fresh rows, then report
    * per-ticker state. Deterministic synthetic input → rows-only check;
    * MutationSpec carries the semantic assertions. */
  def barMutations(spark: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("graft_bars_mut")
    val bars = dumpBarsForOracle(seededBars(spark))
    val table = GraftTable(spark, path, Seq("ticker", "trade_date"))
    // one file per hive partition: the mutation sequence below rescans
    // the file listing per op, so file count dominates its wall time
    table.write(bars.repartition(1))
    table.delete(col("ticker") === "JPM")
    table.update(col("ticker") === "TSLA", Map("volume" -> lit(0L)))
    val corrections = table.read()
      .filter(col("ticker") === "AAPL" && col("trade_date") === "2024-01-08")
      .withColumn("num_transactions", lit(0))
    val inserts = table.read()
      .filter(col("ticker") === "NVDA" && col("trade_date") === "2024-01-08")
      .withColumn("ticker", lit("NEWCO"))
    table.merge(corrections.unionByName(inserts), Seq("ticker", "timestamp_ms"))
    val out = table.read()
      .groupBy("ticker")
      .agg(
        count(lit(1)).as("n_bars"),
        sum("volume").as("total_volume"),
        sum("num_transactions").as("total_tx"))
      .orderBy("ticker")
    // materialize before the temp table goes out of scope — JVM-lifetime
    // parquet dump, not a driver collect
    Materialize.beyondSource(out, "graft_bars_mut_out").orderBy("ticker")
  }

  /** Metadata-only grouped aggregates through the DSv2 catalog: the
    * per-ticker COUNT/MIN/MAX over a partitioned bar table answers from
    * the manifest (`GraftMetadataAggRule`, whose plan is a
    * `GraftMetadataAggScan` and no file scan), and the require() makes
    * the driver's oracle gate itself prove the plan never opened a data
    * file. */
  def barPartitionStats(spark: SparkSession, dir: String): DataFrame = {
    val path = tmpDir("graft_bars_pstats")
    val bars = dumpBarsForOracle(seededBars(spark))
    GraftTable(spark, path, Seq("ticker")).write(bars)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val out = spark.sql(
      s"""SELECT ticker, COUNT(*) AS n_bars,
         |       MIN(volume) AS min_volume, MAX(volume) AS max_volume
         |FROM graft.`$path`
         |GROUP BY ticker ORDER BY ticker""".stripMargin)
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("GraftMetadataAggScan") && !plan.contains("FileScan"),
      "grouped partition aggregate must answer from the manifest")
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bar_partition_stats"    -> barPartitionStats _,
    "bar_ingest_summary"     -> barIngestSummary _,
    "bar_mutations"          -> barMutations _,
    "bar_timezone_edge"      -> barTimezoneEdge _,
    "bar_maintenance_report" -> barMaintenanceReport _,
    "bar_history"            -> barHistory _,
    "bar_external_analytics" -> barExternalAnalytics _)

  /** DuckDB oracles over the deterministic seed-42 bar dump (written by
    * the queries themselves; read back via read_parquet at a fixed path).
    * The oracle re-derives the UTC calendar date from raw epoch ms
    * (make_timestamp takes microseconds) and re-runs each query's
    * aggregation — and for bar_mutations, replays the DELETE / UPDATE /
    * MERGE algebra in plain SQL, independently checking the engine's
    * copy-on-write DML.
    *
    * bar_history / bar_maintenance_report oracles are built WITHOUT the
    * engine: DuckDB derives the expected output from the declared
    * lifecycle (write→optimize→vacuum ⇒ versions 0/1/2 with those
    * operation names) plus the independent bars dump — rows_total must
    * equal the dump's count at EVERY version (the preservation
    * invariant), files_before = partitions × the fixed repartition(8)
    * fan-out, files_after = one bin-packed file per partition, and the
    * vacuum's orphan count = every pre-optimize file. Any drift in the
    * engine's operation log, manifest row accounting, bin-packing, or
    * orphan collection breaks the hash. */
  private def dump = s"read_parquet('$BarDumpDir/*.parquet')"

  val oracles: Map[String, String] = Map(
    "bar_partition_stats" ->
      s"""SELECT ticker, COUNT(*) AS n_bars,
         |       MIN(volume) AS min_volume, MAX(volume) AS max_volume
         |FROM $dump
         |GROUP BY ticker ORDER BY ticker""".stripMargin,
    "bar_ingest_summary" ->
      s"""SELECT ticker, COUNT(*) AS n_bars,
         |       COUNT(DISTINCT trade_date) AS n_days,
         |       MIN(trade_date) AS first_date, MAX(trade_date) AS last_date,
         |       CAST(SUM(CASE WHEN close IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS null_closes
         |FROM $dump
         |GROUP BY ticker ORDER BY ticker""".stripMargin,
    "bar_timezone_edge" ->
      s"""SELECT ticker, trade_date,
         |       COUNT(*) AS bars_past_utc_midnight
         |FROM $dump
         |WHERE CAST(make_timestamp(timestamp_ms * 1000) AS DATE) <> trade_date
         |GROUP BY ticker, trade_date
         |ORDER BY ticker, trade_date""".stripMargin,
    "bar_external_analytics" ->
      s"""SELECT ticker, trade_date, COUNT(*) AS bar_count,
         |       ROUND(MIN(low), 2) AS day_low,
         |       ROUND(MAX(high), 2) AS day_high,
         |       CAST(SUM(volume) AS BIGINT) AS total_volume
         |FROM $dump
         |GROUP BY ticker, trade_date
         |ORDER BY ticker, trade_date""".stripMargin,
    "bar_mutations" ->
      s"""WITH b AS (
         |  SELECT ticker, trade_date, volume, num_transactions
         |  FROM $dump WHERE ticker <> 'JPM'),
         |u AS (
         |  SELECT ticker, trade_date,
         |         CASE WHEN ticker = 'TSLA' THEN 0 ELSE volume END AS volume,
         |         CASE WHEN ticker = 'AAPL' AND trade_date = DATE '2024-01-08'
         |              THEN 0 ELSE num_transactions END AS num_transactions
         |  FROM b),
         |ins AS (
         |  SELECT 'NEWCO' AS ticker, trade_date, volume, num_transactions
         |  FROM u WHERE ticker = 'NVDA' AND trade_date = DATE '2024-01-08')
         |SELECT ticker, COUNT(*) AS n_bars,
         |       CAST(SUM(volume) AS BIGINT) AS total_volume,
         |       CAST(SUM(num_transactions) AS BIGINT) AS total_tx
         |FROM (SELECT * FROM u UNION ALL SELECT * FROM ins)
         |GROUP BY ticker ORDER BY ticker""".stripMargin,
    "bar_history" ->
      s"""SELECT CAST(v.version AS BIGINT) AS version, v.operation,
         |       (SELECT COUNT(*) FROM $dump) AS rows_total
         |FROM (VALUES (0, 'WRITE'), (1, 'OPTIMIZE'), (2, 'VACUUM'))
         |     AS v(version, operation)
         |ORDER BY version""".stripMargin,
    // files_before/orphans_deleted come from the query's MANIFEST-v0
    // census dump (independent accounting: the report's numbers are a
    // reference-style disk walk, the dump is the transaction log's
    // view of the same pre-maintenance state) — not the nparts*8
    // fan-out assumption the r14 ADVICE flagged
    "bar_maintenance_report" ->
      s"""WITH p AS (
         |  SELECT COUNT(*) AS nrows,
         |         COUNT(DISTINCT ticker || '|' || CAST(trade_date AS VARCHAR))
         |           AS nparts
         |  FROM $dump),
         |v0 AS (
         |  SELECT CAST(n_files AS BIGINT) AS files0
         |  FROM read_parquet('$MaintV0DumpDir/*.parquet'))
         |SELECT metric, value FROM (
         |  SELECT 'files_after' AS metric, CAST(nparts AS VARCHAR) AS value FROM p
         |  UNION ALL SELECT 'files_before', CAST(files0 AS VARCHAR) FROM v0
         |  UNION ALL SELECT 'operations', 'OPTIMIZE,VACUUM,WRITE' FROM p
         |  UNION ALL SELECT 'orphans_deleted', CAST(files0 AS VARCHAR) FROM v0
         |  UNION ALL SELECT 'row_count_preserved', 'true' FROM p
         |  UNION ALL SELECT 'rows_after', CAST(nrows AS VARCHAR) FROM p
         |  UNION ALL SELECT 'rows_before', CAST(nrows AS VARCHAR) FROM p
         |) ORDER BY metric""".stripMargin)
}
