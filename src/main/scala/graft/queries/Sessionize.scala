package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Sessionization as the spill-safe lag → gap-flag → running-sum → group
  * window formulation (SURVEY.md §2.7). A session break is a >30-minute
  * gap between consecutive events of one user; the running sum of break
  * flags numbers the sessions densely from 0.
  *
  * Scale: one shuffle on user_id, then two WindowExec passes over the
  * same sort order (no re-shuffle; EnsureRequirements reuses the
  * exchange). WindowExec buffers rows in ExternalAppendOnlyUnsafeRowArray
  * which spills to disk, so a hot user never has to fit in executor
  * memory — unlike a flatMapGroups per-key toArray, which the sf1 bench
  * measured at 12× wall-time for 10× data before this formulation
  * replaced it. The final aggregation is a plain hash agg on
  * (user_id, session_id), map-side partial like any other groupBy.
  */
object Sessionize {

  val GapUs: Long = 30L * 60 * 1000000 // 30 min in microseconds

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r17 (guide §2.5): AQE's advisory coalescing folded the window+agg
    // stage to 3 tasks at sf10 (stage-counted: 7.5 s on 3 of 32 cores —
    // the per-user sort + two window passes are CPU-dense, not
    // shuffle-bound). A PINNED user_id exchange carries the window AND
    // the (user_id, session_id) aggregate (both key on user_id), so no
    // exchange is added — only the count is pinned. Bytes-gated per
    // core: KB-scale fixtures keep their coalesced plans.
    val raw = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
    Tables.pinnedParts(raw, 512L * 1024)
      .fold(raw)(raw.repartition(_, col("user_id")))
      .withColumn("brk",
        when(col("ts_us") - lag("ts_us", 1).over(order) > GapUs, 1)
          .otherwise(0))
      .withColumn("session_id", sum("brk").over(running).cast("int"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (max("ts_us") - min("ts_us")).as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sessionize" -> sessionize _)

  val oracles: Map[String, String] = Map(
    "sessionize" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (
        |  SELECT user_id, ts_us,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM x)
        |SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
        |       COUNT(*) AS n_events,
        |       MAX(ts_us) - MIN(ts_us) AS duration_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)
}
