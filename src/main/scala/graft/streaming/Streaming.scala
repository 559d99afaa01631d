package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming surface (SURVEY.md §7.5 — the reference is
  * batch-only; this is the streaming re-expression of its ingest+rollup).
  * Local smoke runs drive a parquet file-stream synchronously with a
  * memory sink + processAllAvailable, so results are deterministic and
  * batch-comparable (the daily-counts query carries a DuckDB oracle
  * because complete-mode output over a finite source equals the batch
  * aggregation).
  *
  * Scale notes: watermark + tumbling window is the canonical unbounded
  * aggregation — state per (window, key) only lives until the watermark
  * passes; dropDuplicates keys state by event_id with the same eviction.
  */
object Streaming {

  /** The events file as a stream, `ts` normalized as the batch reader
    * normalizes it. readStream needs the schema up front: it is the
    * batch reader's, read from the footer with no Spark job. */
  private def eventStream(spark: SparkSession, dir: String): DataFrame =
    graft.tables.Tables.normalizedTs(spark.readStream
      .schema(graft.tables.Tables.scan(spark, dir, "events").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))

  private var counter = 0
  private def freshName(): String = synchronized { counter += 1; s"graft_stream_$counter" }

  /** Tumbling 1-day windowed counts per event_type, complete mode. */
  def streamingDailyCounts(spark: SparkSession, dir: String): DataFrame = {
    val name = freshName()
    val q = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
      .select(
        to_date(col("window.start")).as("day"),
        col("event_type"), col("cnt"), col("total_value"))
      .orderBy("day", "event_type")
  }

  /** Streaming dedup: dropDuplicates keyed on event_id with watermark
    * state eviction; output is the deduplicated per-type count. */
  def streamingDedupCounts(spark: SparkSession, dir: String): DataFrame = {
    val name = freshName()
    val q = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("event_type")
  }

  /** Stateful sliding aggregation: 6-hour window sliding by 3 hours —
    * each event lands in two windows (overlap verified by oracle). */
  def streamingSlidingValue(spark: SparkSession, dir: String): DataFrame = {
    val name = freshName()
    val q = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "3 hours"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
      .select(unix_micros(col("window.start")).as("window_start_us"), col("cnt"))
      .orderBy("window_start_us")
  }

  /** Stateful sessionization via flatMapGroupsWithState: per-user state
    * carries the open session; a >30-min gap closes and EMITS the
    * previous session. The final session of each user stays open when
    * the (finite) stream ends — so the deterministic contract is
    * "streaming output = batch sessions minus each user's last", which
    * StreamingSpec asserts against graft.queries.Sessionize. */
  def streamingSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = graft.queries.Sessionize.GapUs
    val name = freshName()

    // state: (sessionId, startUs, lastUs, nEvents)
    def fn(user: Long, events: Iterator[(Long, Long)],
        state: GroupState[(Int, Long, Long, Long)]): Iterator[(Long, Int, Long, Long)] = {
      val sorted = events.toArray.sortBy(identity)
      var (sess, start, last, n) =
        state.getOption.getOrElse((0, -1L, -1L, 0L))
      val out = Seq.newBuilder[(Long, Int, Long, Long)]
      sorted.foreach { case (ts, _) =>
        if (n > 0 && ts - last > gapUs) {
          out += ((user, sess, n, last - start))
          sess += 1; n = 0
        }
        if (n == 0) start = ts
        n += 1; last = ts
      }
      state.update((sess, start, last, n))
      out.result().iterator
    }

    val q = eventStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[(Long, Long, Long)], st: GroupState[(Int, Long, Long, Long)]) =>
          fn(user, it.map(e => (e._2, e._3)), st))
      .toDF("user_id", "session_id", "n_events", "duration_us")
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("user_id", "session_id")
  }

  /** Stream-stream interval join: each view joined to the same user's
    * purchases within the following 2 hours, watermarked on both sides so
    * join state is bounded (the canonical unbounded-join shape: state per
    * key only spans the interval + watermark delay). Inner interval joins
    * emit exactly the matching pairs over a finite source, so the batch
    * range join is an exact DuckDB oracle. */
  def streamingIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val name = freshName()
    val views = eventStream(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    val purchases = eventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "1 hour")
    val q = views.join(purchases,
        col("v_user") === col("p_user") &&
          col("p_ts") >= col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("view_id"), col("purchase_id"), col("v_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).orderBy("view_id", "purchase_id")
  }

  /** Streaming ingest into a GraftTable: foreachBatch applies each
    * micro-batch as a MERGE (upsert on event_id), so replayed batches
    * are idempotent — the streaming version of the reference's ingest
    * loop with Delta-style exactly-once-per-key semantics. Returns the
    * table for inspection; StreamingTableSpec pins table ≡ batch input
    * and per-batch MERGE history. */
  def streamIntoTable(spark: SparkSession, dir: String,
      path: String): graft.table.GraftTable = {
    val table = graft.table.GraftTable(spark, path, Seq("event_type"))
    val q = eventStream(spark, dir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        table.merge(batch.dropDuplicates("event_id"), Seq("event_id")); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    table
  }

  /** Append-sink variant of [[streamIntoTable]] with EXACTLY-ONCE
    * semantics via the Delta txnAppId/txnVersion contract: each
    * micro-batch commits `(appId, batchId)`, so a batch replayed after a
    * restart (sink committed, checkpoint didn't advance) is skipped
    * instead of appended twice. Use when the sink is append-only and a
    * MERGE key doesn't exist. */
  val IngestAppId = "graft-stream-ingest"

  def streamIntoTableExactlyOnce(spark: SparkSession, dir: String,
      path: String): graft.table.GraftTable = {
    val table = graft.table.GraftTable(spark, path, Seq("event_type"))
    val q = eventStream(spark, dir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.idempotentAppend(batch, IngestAppId, batchId); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    table
  }

  /** Streaming ingest that keeps a MATERIALIZED VIEW current: each
    * micro-batch appends exactly-once into the source table and then
    * refreshes the MV from the change feed — the full incremental
    * pipeline (stream → table → CDF → signed-delta MERGE) in one
    * composition. Per trigger the MV pays only that batch's rows;
    * nothing ever rescans the table. Returns (source, mvPath). */
  def streamIntoTableWithMv(spark: SparkSession, dir: String,
      path: String, mvPath: String): (graft.table.GraftTable, String) = {
    val table = graft.table.GraftTable(spark, path, Seq("event_type"))
    // MV creation needs a committed v0: seed with an empty batch
    table.write(eventsEmpty(spark, dir))
    graft.table.MaterializedView.create(spark, mvPath, table,
      Seq("event_type"), Seq("value"))
    val q = eventStream(spark, dir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.idempotentAppend(batch, IngestAppId + "-mv", batchId)
        graft.table.MaterializedView.refresh(spark, mvPath); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    (table, mvPath)
  }

  private def eventsEmpty(spark: SparkSession, dir: String): DataFrame =
    graft.tables.Tables.events(spark, dir).limit(0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "streaming_interval_join" -> streamingIntervalJoin _,
    "streaming_daily_counts"  -> streamingDailyCounts _,
    "streaming_dedup_counts"  -> streamingDedupCounts _,
    "streaming_sliding_value" -> streamingSlidingValue _,
    "streaming_sessions"      -> streamingSessions _)

  val oracles: Map[String, String] = Map(
    // flatMapGroupsWithState emits a session exactly when the FIRST
    // event of the next session is processed, so over a finite source
    // the output is every session EXCEPT each user's final (still-open)
    // one — the batch gaps-and-islands sessionization minus the last
    // island, which DuckDB replays exactly
    "streaming_sessions" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (
        |  SELECT user_id, ts_us, event_id,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM x),
        |agg AS (
        |  SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
        |         COUNT(*) AS n_events,
        |         MAX(ts_us) - MIN(ts_us) AS duration_us
        |  FROM s GROUP BY user_id, session_id)
        |SELECT a.user_id, a.session_id, a.n_events, a.duration_us
        |FROM agg a
        |WHERE a.session_id < (SELECT MAX(b.session_id) FROM agg b
        |                      WHERE b.user_id = a.user_id)
        |ORDER BY user_id, session_id""".stripMargin,
    "streaming_interval_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |       v.user_id,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND p.ts >= v.ts
        | AND p.ts <= v.ts + INTERVAL 2 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin,
    "streaming_daily_counts" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |       COUNT(*) AS cnt, ROUND(SUM(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "streaming_dedup_counts" ->
      """SELECT event_type, COUNT(DISTINCT event_id) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "streaming_sliding_value" ->
      """WITH b AS (
        |  SELECT (CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 10800) * 10800 AS s
        |  FROM events),
        |x AS (SELECT s * 1000000 AS window_start_us FROM b
        |      UNION ALL SELECT (s - 10800) * 1000000 FROM b)
        |SELECT window_start_us, COUNT(*) AS cnt FROM x
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
