package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ingest.BarSource
import graft.table.GraftTable
import graft.transform.Enrich

/** Metadata-only aggregate pushdown: unfiltered COUNT(*)/MIN/MAX over a
  * graft table answer from the manifest without opening a data file. */
class MetadataAggSpec extends SparkSpec {

  spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")

  private def bars = Enrich.withTimeColumns(
    BarSource.harvest(spark, delayMs = 0))

  private def planOf(sql: String): String = {
    val df = spark.sql(sql)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("COUNT(*) and MIN/MAX answer from the manifest, no file scan") {
    val p = graft.GraftTmp.dir("meta_agg").toString
    val t = GraftTable(spark, p, Seq("ticker"))
    t.write(bars)
    val want = t.read().agg(count(lit(1)), min("volume"), max("volume"))
      .collect().head

    val df = spark.sql(
      s"SELECT COUNT(*), MIN(volume), MAX(volume) FROM graft.`$p`")
    val got = df.collect().head
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getLong(1) == want.getLong(1))
    assert(got.getLong(2) == want.getLong(2))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftMetadataAggScan"),
      s"expected the one-row metadata scan:\n$plan")
    assert(!plan.contains("FileScan"),
      s"metadata aggregate must not plan a data scan:\n$plan")

    // stays correct across a copy-on-write delete (counts re-fold)
    t.delete(col("ticker") === "MSFT")
    val after = spark.sql(s"SELECT COUNT(*) FROM graft.`$p`").collect().head
    assert(after.getLong(0) == t.read().count())
  }

  test("GROUP BY partition columns → COUNT(*) answers from the manifest") {
    val p = graft.GraftTmp.dir("meta_agg_gb").toString
    val t = GraftTable(spark, p, Seq("ticker", "trade_date"))
    t.write(bars)

    // full partition grouping
    val df = spark.sql(
      s"SELECT ticker, trade_date, COUNT(*) AS n FROM graft.`$p` " +
        "GROUP BY 1, 2 ORDER BY 1, 2")
    val want = t.read().groupBy("ticker", "trade_date")
      .agg(count(lit(1)).as("n")).orderBy("ticker", "trade_date").collect()
    assert(df.collect().toSeq == want.toSeq)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftMetadataAggScan"),
      s"grouped partition count must answer from the manifest:\n$plan")
    assert(!plan.contains("FileScan"), s"no data scan expected:\n$plan")

    // subset grouping (one of two partition levels): files aggregate
    // across the other level
    val sub = spark.sql(
      s"SELECT ticker, COUNT(*) AS n FROM graft.`$p` GROUP BY 1 ORDER BY 1")
    assert(sub.collect().toSeq ==
      t.read().groupBy("ticker").agg(count(lit(1)).as("n"))
        .orderBy("ticker").collect().toSeq)
    assert(sub.queryExecution.executedPlan.toString
      .contains("GraftMetadataAggScan"))

    // grouped MIN/MAX: per-group folded footer bounds, mixed with COUNT
    val gmm = spark.sql(
      s"SELECT ticker, COUNT(*) AS n, MIN(volume) AS lo, MAX(volume) AS hi " +
        s"FROM graft.`$p` GROUP BY 1 ORDER BY 1")
    assert(gmm.collect().toSeq ==
      t.read().groupBy("ticker").agg(count(lit(1)).as("n"),
        min("volume").as("lo"), max("volume").as("hi"))
        .orderBy("ticker").collect().toSeq)
    assert(gmm.queryExecution.executedPlan.toString
      .contains("GraftMetadataAggScan"),
      "grouped COUNT+MIN+MAX must answer from the manifest")

    // counts stay right across DV deletes (cardinality subtracted)
    t.delete(col("volume") % 3 === 0, mergeOnRead = true)
    val afterDv = spark.sql(
      s"SELECT ticker, COUNT(*) AS n FROM graft.`$p` GROUP BY 1 ORDER BY 1")
    assert(afterDv.collect().toSeq ==
      t.read().groupBy("ticker").agg(count(lit(1)).as("n"))
        .orderBy("ticker").collect().toSeq)
    assert(afterDv.queryExecution.executedPlan.toString
      .contains("GraftMetadataAggScan"))

    // non-partition grouping keeps the ordinary scan — and stays right
    val byVol = spark.sql(
      s"SELECT volume % 2 AS b, COUNT(*) AS n FROM graft.`$p` " +
        "GROUP BY 1 ORDER BY 1")
    assert(byVol.queryExecution.executedPlan.toString
      .contains("FileScan"))
    assert(byVol.collect().toSeq ==
      t.read().groupBy((col("volume") % 2).as("b"))
        .agg(count(lit(1)).as("n")).orderBy("b").collect().toSeq)

    // DISTINCT over partition columns = group-by with no aggregates —
    // the manifest's group list answers (if Spark pushes it at all;
    // correctness holds either way, the plan assert pins the push)
    val dist = spark.sql(
      s"SELECT DISTINCT ticker FROM graft.`$p` ORDER BY ticker")
    assert(dist.collect().map(_.getString(0)).toSeq ==
      t.read().select("ticker").distinct().orderBy("ticker")
        .collect().map(_.getString(0)).toSeq)
    assert(dist.queryExecution.executedPlan.toString
      .contains("GraftMetadataAggScan"),
      "DISTINCT partition column must answer from the manifest")

    // a FULLY-masked partition must vanish from the grouped answer and
    // from DISTINCT — SQL GROUP BY emits no row for a zero-row group
    t.delete(col("ticker") === "AAPL", mergeOnRead = true)
    val gone = spark.sql(
      s"SELECT ticker, COUNT(*) AS n FROM graft.`$p` GROUP BY 1 ORDER BY 1")
    assert(gone.collect().toSeq ==
      t.read().groupBy("ticker").agg(count(lit(1)).as("n"))
        .orderBy("ticker").collect().toSeq)
    assert(!gone.collect().exists(_.getString(0) == "AAPL"))
    assert(gone.queryExecution.executedPlan.toString
      .contains("GraftMetadataAggScan"))
    val dist2 = spark.sql(
      s"SELECT DISTINCT ticker FROM graft.`$p` ORDER BY ticker")
    assert(!dist2.collect().map(_.getString(0)).contains("AAPL"))
    assert(dist2.collect().map(_.getString(0)).toSeq ==
      t.read().select("ticker").distinct().orderBy("ticker")
        .collect().map(_.getString(0)).toSeq)

    // grouped MIN over a DV'd table is NOT provable (a masked row could
    // be a group's extremum) → scan plan, right values
    val gmin = spark.sql(
      s"SELECT ticker, MIN(volume) AS m FROM graft.`$p` GROUP BY 1 ORDER BY 1")
    assert(gmin.queryExecution.executedPlan.toString
      .contains("FileScan"))
    assert(gmin.collect().toSeq ==
      t.read().groupBy("ticker").agg(min("volume").as("m"))
        .orderBy("ticker").collect().toSeq)
  }

  test("filters, DVs and uncovered types fall back to the scan plan") {
    val p = graft.GraftTmp.dir("meta_agg_fb").toString
    val t = GraftTable(spark, p, Seq("ticker"))
    t.write(bars)

    // a WHERE clause means no metadata answer — and the values must
    // still be right through the ordinary plan
    val filtered = spark.sql(
      s"SELECT COUNT(*) FROM graft.`$p` WHERE ticker = 'AAPL'")
    assert(filtered.collect().head.getLong(0) ==
      t.read().filter(col("ticker") === "AAPL").count())
    assert(filtered.queryExecution.executedPlan.toString
      .contains("Scan"), "filtered count keeps a real scan")

    // double column: bounds are not exactly encoded → scan plan
    val mmDouble = spark.sql(s"SELECT MIN(vwap) FROM graft.`$p`")
    assert(mmDouble.collect().head.getDouble(0) ==
      t.read().agg(min("vwap")).collect().head.getDouble(0))

    // a DV delete poisons MIN/MAX proofs (a masked row could be the
    // extremum) but COUNT stays metadata-answerable (cardinality is
    // subtracted); both must stay CORRECT either way
    t.delete(col("volume") % 3 === 0, mergeOnRead = true)
    val cnt = spark.sql(s"SELECT COUNT(*) FROM graft.`$p`")
    assert(cnt.collect().head.getLong(0) == t.read().count())
    assert(cnt.queryExecution.executedPlan.toString
      .contains("GraftMetadataAggScan"))
    val mm = spark.sql(s"SELECT MIN(volume) FROM graft.`$p`")
    assert(mm.collect().head.getLong(0) ==
      t.read().agg(min("volume")).collect().head.getLong(0))
    assert(mm.queryExecution.executedPlan.toString
      .contains("FileScan"), "DV table must scan for MIN")
  }
}
