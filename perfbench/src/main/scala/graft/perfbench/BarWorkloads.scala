package graft.perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.External
import graft.ingest.BarSource
import graft.table.GraftTable
import graft.transform.Enrich

/** Seeded stock-bar inputs shared by the two bar workloads. */
final class BarFixture(spark: SparkSession, seed: Long, nTickers: Int) {
  val tickers: Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val names = mutable.LinkedHashSet.empty[String]
    while (names.size < nTickers)
      names += (1 to 4).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
    names.toSeq.sorted
  }
  /** Trading days from a seeded start; cycles draw new days from here. */
  val days: Seq[LocalDate] = BarSource.tradingDays(
    LocalDate.of(2024, 1, 8).plusDays(Math.floorMod(seed, 90L)), 400)

  /** Distributed harvest of `ds` for every ticker, with the derived time
    * columns: the backfill path. */
  def backfill(ds: Seq[LocalDate]): DataFrame =
    Enrich.withTimeColumns(BarSource.distributedHarvest(spark, tickers, ds, seed))

  /** Driver-side harvest of one day: the daily ingest path. */
  def daily(day: LocalDate): DataFrame =
    Enrich.withTimeColumns(BarSource.harvest(spark, tickers, Seq(day), seed, delayMs = 0))

  /** Rows a driver-side harvest built (read off its local relation). */
  def localRows(df: DataFrame): Long = df.queryExecution.logical.collect {
    case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.size.toLong
  }.sum
}

/** Directory size helpers for the amplification metrics. */
object Disk {
  def bytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
}

/** The reference's daily loop on a growing table: append a new day,
  * MERGE late corrections, DELETE a ticker-day, partition-scoped
  * OPTIMIZE, VACUUM, then register and run the daily-summary SQL. */
object BarDailyCycle {
  val CommitOps = Seq("table.append", "table.merge", "table.delete", "table.optimize", "table.vacuum")
  val PartitionCols = Seq("ticker", "trade_date")

  def dailySummarySql(table: String): String =
    s"""SELECT ticker, trade_date,
       |       COUNT(*) AS bar_count,
       |       ROUND(MIN(low), 2) AS day_low,
       |       ROUND(MAX(high), 2) AS day_high,
       |       CAST(SUM(volume) AS BIGINT) AS total_volume
       |FROM $table
       |GROUP BY ticker, trade_date
       |ORDER BY ticker, trade_date""".stripMargin

  def run(h: Harness): Unit = {
    val spark = h.spark
    val seed = h.args.seed
    val (nTickers, nDays, replicas) = if (h.args.tiny) (3, 2, 1) else (5, 3, 3)
    val window = 2 // recent trading days that receive corrections
    val fx = new BarFixture(spark, seed, nTickers)
    // one correction per `stride` recent rows ≈ 1 % of the backfill's rows
    val stride = math.max(1, math.round(window / (0.01 * nDays)).toInt)

    def recentOf(c: Int): Seq[LocalDate] = fx.days.slice(nDays + c - window + 1, nDays + c + 1)
    def corrections(c: Int): DataFrame = {
      val hsh = xxhash64(col("ticker"), col("timestamp_ms"), lit(seed), lit(c))
      Enrich.withTimeColumns(
        BarSource.distributedHarvest(spark, fx.tickers, recentOf(c), seed)
          .filter(pmod(hsh, lit(stride.toLong)) === 0)
          .withColumn("close", round(col("close") + (pmod(hsh, lit(7L)) - 3) * 0.01, 2))
          .withColumn("volume", col("volume") + 1))
    }
    def deletion(c: Int): (String, LocalDate) = {
      val rnd = new scala.util.Random(seed * 1000003L + c)
      (fx.tickers(rnd.nextInt(fx.tickers.size)), fx.days(rnd.nextInt(nDays + c)))
    }

    // ---- setup: the backfill, built `replicas` times; the last is kept
    val builds = (0 until replicas).map { r =>
      val path = s"${h.args.dir}/bars_daily_$r"
      val (_, s) = h.seconds(h.tracer.span("setup.build") {
        val df = h.op("ingest", "ingest.fetch")(fx.backfill(fx.days.take(nDays))).get
        h.op("commit", "table.write")(GraftTable(spark, path, PartitionCols).write(df)).get
      })
      (path, s)
    }
    val path = builds.last._1
    val table = GraftTable(spark, path, PartitionCols)
    val vacuumDeleted = mutable.ArrayBuffer.empty[Int]
    var ingestRows = 0L
    var ingestCalls = 0L
    var cyclesDone = 0

    def cycle(c: Int): Unit = {
      val day = fx.days(nDays + c)
      h.op("ingest", "ingest.fetch")(fx.daily(day)).foreach { fresh =>
        ingestRows += fx.localRows(fresh)
        ingestCalls += 1
        h.op("commit", "table.append")(table.write(fresh, SaveMode.Append))
      }
      h.op("commit", "table.merge")(table.merge(corrections(c), Seq("ticker", "timestamp_ms")))
      val (dt, dd) = deletion(c)
      h.op("commit", "table.delete")(
        table.delete(col("ticker") === dt && col("trade_date") === lit(dd.toString).cast("date")))
      h.op("commit", "table.optimize")(
        table.optimize(Seq("timestamp_ms"), where = Some(s"trade_date >= DATE'${recentOf(c).head}'")))
      h.op("commit", "table.vacuum")(table.vacuum(0.0, retentionCheckEnabled = false))
        .foreach(v => vacuumDeleted += v._2)
      h.op("metadata", "table.metadata")(GraftTable(spark, path).partitionsReport())
      h.op("catalog", "catalog.register")(External.registerExternalTable(spark, "bars_daily", path))
      h.op("query", "queries.daily_summary")(h.materialize(spark.sql(dailySummarySql("bars_daily"))))
      cyclesDone = c + 1
    }

    // warm-up: the first cycle runs untimed and is part of the replay
    val (_, warmS) = h.seconds(h.tracer.span("setup.warmup")(cycle(0)))
    h.e2e("setup_s") = (h.sessionStartS + Stats.median(builds.map(_._2)) + warmS, "s")
    val heap0 = h.heapAfterGcMb()
    val vStart = table.currentVersion
    val ingest0 = (ingestRows, ingestCalls)
    val timedFrom = cyclesDone
    val timed = Harness.phases(h, 1)(i => cycle(timedFrom + i))
    val heap1 = h.heapAfterGcMb()
    val vEnd = table.currentVersion

    // ---- end-to-end metrics
    val main = timed.head
    h.e2e("wall_s") = (Stats.median(main.iterationSeconds), "s")
    Harness.latency(h, main, "commit", "op")
    Harness.latency(h, main, "commit", "commit")
    val maint = main.byOp.getOrElse("table.optimize", Nil).zip(main.byOp.getOrElse("table.vacuum", Nil))
      .map { case (a, b) => a + b }
    if (maint.nonEmpty) h.e2e("maintenance_s") = (Stats.median(maint.toSeq), "s")
    h.e2e("heap_peak_mb") = (math.max(heap0, heap1), "MB")

    // ---- log-derived counts (outside the timed window)
    val postStart = System.nanoTime()
    val log = LogCensus(table, vEnd)
    val timedLog = log.after(vStart)
    val live = table.manifestFilesWithSizes(vEnd)
    val liveBytes = live.map(_._2).sum.toDouble
    val partitions = live.map(f => f._1.split('/').dropRight(1).mkString("/")).distinct.size
    h.e2e("write_amp") = (log.bytesAdded / liveBytes, "ratio")
    h.e2e("space_amp") = (Disk.bytes(new File(path)) / liveBytes, "ratio")
    h.e2e("files_per_partition") = (live.size.toDouble / math.max(1, partitions), "count")
    h.info("cycles") = cyclesDone
    h.info("versions_timed") = vEnd - vStart

    val nIter = timed.map(_.iterations.size).sum.toDouble
    h.layer("ingest.rows") = ((ingestRows - ingest0._1) / nIter, "rows")
    h.layer("ingest.calls") = ((ingestCalls - ingest0._2) / nIter, "count")
    h.layer("table.files_added") = (timedLog.filesAdded / nIter, "count")
    h.layer("table.files_removed") = (timedLog.filesRemoved / nIter, "count")
    h.layer("table.mb_added") = (timedLog.bytesAdded / 1048576.0 / nIter, "MB")
    h.layer("table.live_files") = (live.size.toDouble, "count")
    h.layer("table.live_mb") = (liveBytes / 1048576.0, "MB")
    h.layer("table.versions") = ((vEnd + 1).toDouble, "count")
    h.layer("table.log_mb") = (Disk.bytes(new File(s"$path/_graft_log")) / 1048576.0, "MB")
    val dml = timedLog.ops.filter(o => o.op == "MERGE" || o.op == "DELETE")
    // a MERGE changes exactly its source rows: every correction updates
    // or inserts one row
    val merged = (timedFrom until cyclesDone).map(c => corrections(c).count()).sum
    val changed = dml.map(_.rowsChanged).sum.toDouble + merged
    val rewritten = dml.map(_.rowsInRemoved).sum.toDouble
    h.layer("table.dml.rows_changed") = (changed / nIter, "rows")
    h.layer("table.dml.rows_rewritten") = (rewritten / nIter, "rows")
    h.layer("table.dml.useful_ratio") = (if (rewritten > 0) changed / rewritten else 1.0, "ratio")
    val opt = timedLog.ops.filter(_.op == "OPTIMIZE")
    h.layer("table.optimize.files_in") = (opt.map(_.filesRemoved).sum / nIter, "count")
    h.layer("table.optimize.files_out") = (opt.map(_.filesAdded).sum / nIter, "count")
    h.layer("table.optimize.mb_rewritten") = (opt.map(_.bytesAdded).sum / 1048576.0 / nIter, "MB")
    h.layer("table.vacuum.files_deleted") = (vacuumDeleted.drop(1).sum / nIter, "count")

    // ---- output checks (outside the timed window)
    h.checking("row_count_preserved_by_maintenance") {
      val bad = log.ops.filter(o => o.op == "OPTIMIZE" || o.op == "VACUUM")
        .filter(o => log.rowsAt(o.version - 1) != log.rowsAt(o.version))
      (bad.isEmpty, bad.map(o => s"${o.op}@v${o.version}").mkString(", "))
    }
    h.checking("final_table_equals_replay") {
      var exp = fx.backfill(fx.days.take(nDays))
      (0 until cyclesDone).foreach { c =>
        exp = exp.unionByName(fx.daily(fx.days(nDays + c)))
        val corr = corrections(c)
        exp = exp.join(corr.select("ticker", "timestamp_ms"), Seq("ticker", "timestamp_ms"), "left_anti")
          .unionByName(corr)
        val (dt, dd) = deletion(c)
        exp = exp.filter(!(col("ticker") === dt && col("trade_date") === lit(dd.toString).cast("date")))
        if (c % 4 == 3) exp = exp.localCheckpoint()
      }
      Compare.sameRows(GraftTable(spark, path).read(), exp)
    }
    h.info("post_s") = (System.nanoTime() - postStart) / 1e9
  }
}

/** Per-version file census of a graft table, read from its log. */
final case class VersionCensus(version: Long, op: String, filesAdded: Long,
    filesRemoved: Long, bytesAdded: Long, rowsInRemoved: Long, rowsChanged: Long)

final case class LogCensus(ops: Seq[VersionCensus], rowsAt: Long => Long) {
  def after(v: Long): LogCensus = copy(ops = ops.filter(_.version > v))
  def filesAdded: Long = ops.map(_.filesAdded).sum
  def filesRemoved: Long = ops.map(_.filesRemoved).sum
  def bytesAdded: Double = ops.map(_.bytesAdded).sum.toDouble
}

object LogCensus {
  /** Census of versions 0 to `to`. */
  def apply(t: GraftTable, to: Long): LogCensus = {
    val opOf = t.history().select(col("version").cast("long"), col("operation")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val files = mutable.Map.empty[Long, Map[String, Long]]
    def filesAt(v: Long): Map[String, Long] =
      if (v < 0) Map.empty else files.getOrElseUpdate(v, t.manifestFilesWithSizes(v).toMap)
    val rowStats = mutable.Map.empty[Long, Map[String, Long]]
    def rowsOf(v: Long): Map[String, Long] =
      if (v < 0) Map.empty else rowStats.getOrElseUpdate(v, t.statsOf(v).flatMap { case (f, m) =>
        m.get("").collect { case ("rows", lo, _) => f -> lo.toLong }
      })
    val rowsAt: Long => Long = v =>
      if (v < 0) 0L else t.rowCountFromStats(v).getOrElse(t.readVersion(v).count())
    val ops = (0L to to).map { v =>
      val now = filesAt(v)
      val before = filesAt(v - 1)
      val added = now.keySet -- before.keySet
      val removed = before.keySet -- now.keySet
      val rowsRemoved = removed.toSeq.map(f => rowsOf(v - 1).getOrElse(f, 0L)).sum
      val op = opOf.getOrElse(v, "?")
      val changed = if (op == "DELETE") math.max(0L, rowsAt(v - 1) - rowsAt(v)) else 0L
      VersionCensus(v, op, added.size, removed.size, added.toSeq.map(now).sum, rowsRemoved, changed)
    }
    LogCensus(ops, rowsAt)
  }
}

/** The analytic mix over a warm, optimized, registered bar table. */
object BarAnalytics {
  final case class Q(name: String, sql: String)

  def run(h: Harness): Unit = {
    val spark = h.spark
    val seed = h.args.seed
    val (nTickers, nDays, replicas) = if (h.args.tiny) (3, 2, 1) else (20, 10, 3)
    val fx = new BarFixture(spark, seed, nTickers)
    val days = fx.days.take(nDays)

    val builds = (0 until replicas).map { r =>
      val path = s"${h.args.dir}/bars_analytics_$r"
      val (_, s) = h.seconds(h.tracer.span("setup.build") {
        val df = h.op("ingest", "ingest.fetch")(fx.backfill(days)).get
        val t = GraftTable(spark, path, BarDailyCycle.PartitionCols)
        h.op("commit", "table.write")(t.write(df)).get
        h.op("commit", "table.optimize")(t.optimize(Seq("timestamp_ms"), full = true)).get
        h.op("catalog", "catalog.register")(External.registerExternalTable(spark, "bars", path)).get
      })
      (path, s)
    }
    val path = builds.last._1

    /** The mix for one pass, with parameters drawn from (seed, pass). */
    def mix(pass: Int): Seq[Q] = {
      val rnd = new scala.util.Random(seed * 7919L + pass)
      def tk = fx.tickers(rnd.nextInt(fx.tickers.size))
      def dayAt(i: Int) = days(math.min(days.size - 1, math.max(0, i)))
      val d = dayAt(rnd.nextInt(days.size))
      val d2 = dayAt(rnd.nextInt(days.size))
      val (lo, hi) = if (d.isBefore(d2)) (d, d2) else (d2, d)
      // a 30-minute slice of one session, in epoch ms
      val open = d.atTime(14, 30).toInstant(java.time.ZoneOffset.UTC).toEpochMilli +
        rnd.nextInt(300) * 60000L
      Seq(
        Q("point_lookup", s"SELECT * FROM bars WHERE ticker = '$tk' AND trade_date = DATE'$d'"),
        Q("ticker_all_days", s"SELECT * FROM bars WHERE ticker = '$tk'"),
        Q("ts_slice", s"SELECT ticker, timestamp_ms, close, volume FROM bars " +
          s"WHERE timestamp_ms BETWEEN $open AND ${open + 30 * 60000L}"),
        Q("daily_summary", BarDailyCycle.dailySummarySql("bars")),
        Q("moving_average", "SELECT ticker, trade_date, timestamp_ms, ROUND(AVG(close) OVER (" +
          "PARTITION BY ticker ORDER BY timestamp_ms ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 4) AS ma20 " +
          s"FROM bars WHERE trade_date BETWEEN DATE'$lo' AND DATE'$hi'"),
        Q("vwap_top", "SELECT ticker, trade_date, ROUND(SUM(vwap * volume) / SUM(volume), 4) AS vwap " +
          s"FROM bars WHERE trade_date = DATE'$d2' GROUP BY ticker, trade_date ORDER BY vwap DESC, ticker LIMIT 5"),
        Q("manifest_agg", "SELECT ticker, COUNT(*) AS n_bars, MIN(volume) AS min_volume, " +
          s"MAX(volume) AS max_volume FROM graft.`$path` GROUP BY ticker"))
    }
    def pass(i: Int): Unit = mix(i).foreach(q =>
      h.op("query", s"queries.${q.name}")(h.materialize(spark.sql(q.sql))))

    // warm-up: one pass, untimed
    val (_, warmS) = h.seconds(h.tracer.span("setup.warmup")(pass(-1)))
    h.e2e("setup_s") = (h.sessionStartS + Stats.median(builds.map(_._2)) + warmS, "s")
    val heap0 = h.heapAfterGcMb()
    val timed = Harness.phases(h, if (h.args.tiny) 1 else 3)(pass)
    val heap1 = h.heapAfterGcMb()
    val main = timed.head
    h.e2e("wall_s") = (Stats.median(main.iterationSeconds), "s")
    Harness.latency(h, main, "query", "op")
    Harness.latency(h, main, "query", "query")
    h.e2e("heap_peak_mb") = (math.max(heap0, heap1), "MB")
    val t = GraftTable(spark, path)
    val live = t.manifestFilesWithSizes()
    val partitions = live.map(f => f._1.split('/').dropRight(1).mkString("/")).distinct.size
    h.e2e("files_per_partition") = (live.size.toDouble / math.max(1, partitions), "count")
    h.layer("table.live_files") = (live.size.toDouble, "count")
    h.layer("table.live_mb") = (live.map(_._2).sum / 1048576.0, "MB")
    h.layer("table.versions") = ((t.currentVersion + 1).toDouble, "count")
    h.layer("table.log_mb") = (Disk.bytes(new File(s"$path/_graft_log")) / 1048576.0, "MB")

    // ---- output checks: each query of the first pass against the same
    // SQL over the live files read as plain parquet
    val plain = spark.read.option("basePath", path)
      .parquet(t.manifestFiles().map(f => if (f.startsWith("/")) f else s"$path/$f"): _*)
    plain.createOrReplaceTempView("bars_plain")
    mix(0).foreach { q =>
      h.checking(s"query_${q.name}") {
        val got = spark.sql(q.sql)
        val exp = spark.sql(q.sql.replace(s"graft.`$path`", "bars_plain")
          .replaceAll("\\bbars\\b", "bars_plain"))
        Compare.sameRows(got, exp)
      }
    }
  }
}
