package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ingest.BarSource
import graft.table.GraftTable
import graft.transform.Enrich

/** SQL DELETE / UPDATE / MERGE INTO on graft tables through the GraftDmlRule
  * analyzer extension (Delta's pattern) — verifies routing onto the
  * copy-on-write API paths, clause surface, and clear rejection of the
  * unsupported surface. The test session enables the extension via
  * `.withExtensions(new GraftExtensions)` in SparkSpec.
  */
class SqlDmlSpec extends SparkSpec {

  private def freshTable(prefix: String): (GraftTable, String) = {
    val path = graft.GraftTmp.dir(prefix).toString
    (GraftTable(spark, path, Seq("ticker", "trade_date")), path)
  }

  private def bars = Enrich.withTimeColumns(
    BarSource.harvest(spark, delayMs = 0)).cache()

  test("SQL UPDATE routes through the copy-on-write update") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val (t, path) = freshTable("dml_upd")
    t.write(bars.repartition(2))
    val total = t.read().count()
    // close carries injected nulls: null + 1000 stays null, so the
    // bumped-row count is the NON-NULL AAPL close count
    val aaplNonNull = t.read()
      .filter(col("ticker") === "AAPL" && col("close").isNotNull).count()

    val aapl = t.read().filter(col("ticker") === "AAPL").count()
    val upd = spark.sql(s"UPDATE graft.`$path` SET close = close + 1000 WHERE ticker = 'AAPL'")
    // one Delta-style metrics row: every AAPL row was updated (a NULL
    // close stays NULL, but its row still took the assignment)
    assert(upd.columns.toSeq == Seq("num_affected_rows"))
    assert(upd.collect().toSeq == Seq(Row(aapl)))
    assert(t.read().count() == total)
    assert(t.read().filter(col("ticker") === "AAPL" && col("close") > 900).count()
      == aaplNonNull)
    assert(t.history().select("operation").collect().map(_.getString(0))
      .contains("UPDATE"))
    // NULL-predicate rows kept (three-valued semantics reach SQL UPDATE):
    // close has injected nulls, so `close > 1e12` is NULL there
    val before = t.read().agg(sum("volume")).collect().head.getLong(0)
    assert(spark.sql(s"UPDATE graft.`$path` SET volume = 0 WHERE close > 1e12")
      .collect().toSeq == Seq(Row(0L)))
    assert(t.read().agg(sum("volume")).collect().head.getLong(0) == before)
    // pre-update version stays time-travelable
    assert(t.readVersion(0).filter(col("close") > 900).count() == 0)
  }

  test("SQL DELETE with a predicate no source filter expresses matches the API DELETE") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val li = graft.tables.Tables.lineitem(spark, sf)
    val viaSql = GraftTable(spark, graft.GraftTmp.dir("dml_del_sql").toString, Nil)
    val viaApi = GraftTable(spark, graft.GraftTmp.dir("dml_del_api").toString, Nil)
    viaSql.write(li)
    viaApi.write(li)
    val n0 = viaSql.read().count()
    val hit = li.filter(col("l_orderkey") % 89 === 0).count()
    assert(hit > 0 && hit < n0)
    val del = spark.sql(s"DELETE FROM graft.`${viaSql.path}` WHERE l_orderkey % 89 = 0")
    assert(del.columns.toSeq == Seq("num_affected_rows"))
    assert(del.collect().toSeq == Seq(Row(hit)))
    val v = viaApi.delete(col("l_orderkey") % 89 === 0)
    assert(viaApi.operationMetrics(v)("numDeletedRows") == hit.toString)
    def rows(t: GraftTable) = t.read().collect().map(_.toString).sorted.toSeq
    assert(viaSql.read().count() == n0 - hit)
    assert(rows(viaSql) == rows(viaApi))
    // a predicate that matches nothing affects no row; time travel is rejected
    assert(spark.sql(s"DELETE FROM graft.`${viaSql.path}` WHERE l_orderkey % 89 = 0")
      .collect().toSeq == Seq(Row(0L)))
    intercept[Exception] {
      spark.sql(s"DELETE FROM graft.`${viaSql.path}` VERSION AS OF 0 WHERE l_orderkey = 1")
    }
    assert(viaSql.readVersion(0).count() == n0)
  }

  test("SQL MERGE INTO: update + delete + insert clauses") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val (t, path) = freshTable("dml_merge")
    t.write(bars.repartition(2))
    val total = t.read().count()

    // source: 5 existing keys with bumped volume, 1 fresh row
    t.read().limit(5).withColumn("volume", lit(777L))
      .unionByName(t.read().limit(1)
        .withColumn("timestamp_ms", col("timestamp_ms") + 999999))
      .createOrReplaceTempView("dml_src")

    val merged = spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING dml_src AS s
         |ON t.ticker = s.ticker AND t.timestamp_ms = s.timestamp_ms
         |WHEN MATCHED THEN UPDATE SET volume = s.volume
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // one Delta-style metrics row: affected, updated, deleted, inserted
    assert(merged.columns.toSeq == Seq("num_affected_rows", "num_updated_rows",
      "num_deleted_rows", "num_inserted_rows"))
    assert(merged.collect().toSeq == Seq(Row(6L, 5L, 0L, 1L)))
    assert(t.read().count() == total + 1)
    assert(t.read().filter(col("volume") === 777L).count() == 5)

    // conditional DELETE clause
    val deleted = spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING dml_src AS s
         |ON t.ticker = s.ticker AND t.timestamp_ms = s.timestamp_ms
         |WHEN MATCHED AND t.volume = 777 THEN DELETE""".stripMargin)
    assert(deleted.collect().toSeq == Seq(Row(5L, 0L, 5L, 0L)))
    // all five updated rows deleted; the inserted row kept its original
    // volume and survives the conditional delete
    assert(t.read().filter(col("volume") === 777L).count() === 0)
    assert(t.read().count() == total + 1 - 5)
  }

  test("SQL MERGE: explicit INSERT column list — unmentioned columns NULL") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val (t, path) = freshTable("dml_inslist")
    t.write(bars.repartition(2))
    val total = t.read().count()
    t.read().limit(1)
      .withColumn("timestamp_ms", col("timestamp_ms") + 123456789L)
      .createOrReplaceTempView("dml_ins_src")

    spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING dml_ins_src AS s
         |ON t.ticker = s.ticker AND t.timestamp_ms = s.timestamp_ms
         |WHEN NOT MATCHED THEN
         |  INSERT (ticker, trade_date, timestamp_ms, volume)
         |  VALUES (s.ticker, s.trade_date, s.timestamp_ms, 42)""".stripMargin)
    assert(t.read().count() == total + 1)
    val ins = t.read().filter(col("volume") === 42L)
    assert(ins.count() == 1)
    // listed columns carry the assigned values; unmentioned ones are NULL
    val row = ins.select("close", "open", "high").collect().head
    assert(row.isNullAt(0) && row.isNullAt(1) && row.isNullAt(2))
  }

  test("SQL MERGE: explicit NULL on a generated column is rejected, not recomputed") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val (t, path) = freshTable("dml_gennull")
    t.write(bars.repartition(2))
    t.write(t.read().withColumn("vol2", col("volume") * 2),
      org.apache.spark.sql.SaveMode.Overwrite, overwriteSchema = true)
    t.addGeneratedColumn("vol2", "volume * 2")
    t.read().limit(1)
      .withColumn("timestamp_ms", col("timestamp_ms") + 5555555L)
      .createOrReplaceTempView("dml_gennull_src")

    // explicitly assigning NULL to the generated column contradicts its
    // definition (volume 42 → vol2 must be 84) → clear rejection
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` AS t
           |USING dml_gennull_src AS s
           |ON t.ticker = s.ticker AND t.timestamp_ms = s.timestamp_ms
           |WHEN NOT MATCHED THEN
           |  INSERT (ticker, trade_date, timestamp_ms, volume, vol2)
           |  VALUES (s.ticker, s.trade_date, s.timestamp_ms, 42, NULL)""".stripMargin)
    }
    assert(e.getMessage.contains("vol2"), e.getMessage)
    // leaving it OUT of the list recomputes from the definition
    spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING dml_gennull_src AS s
         |ON t.ticker = s.ticker AND t.timestamp_ms = s.timestamp_ms
         |WHEN NOT MATCHED THEN
         |  INSERT (ticker, trade_date, timestamp_ms, volume)
         |  VALUES (s.ticker, s.trade_date, s.timestamp_ms, 42)""".stripMargin)
    assert(t.read().filter(col("volume") === 42L && col("vol2") === 84L).count() == 1)
  }

  test("SQL MERGE: WHEN NOT MATCHED BY SOURCE retires/updates unmatched target rows") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val (t, path) = freshTable("dml_nmbs")
    t.write(bars.repartition(2))
    val total = t.read().count()
    val aapl = t.read().filter(col("ticker") === "AAPL").count()
    assert(aapl > 0 && aapl < total)
    // source = every current AAPL row: the sync shape — rows absent from
    // the source (every other ticker) are retired by NOT MATCHED BY SOURCE
    t.read().filter(col("ticker") === "AAPL").createOrReplaceTempView("dml_nmbs_src")

    spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING dml_nmbs_src AS s
         |ON t.ticker = s.ticker AND t.timestamp_ms = s.timestamp_ms
         |WHEN MATCHED THEN UPDATE SET volume = s.volume
         |WHEN NOT MATCHED BY SOURCE AND t.volume > 0 THEN DELETE""".stripMargin)
    val kept = t.read()
    assert(kept.filter(col("ticker") === "AAPL").count() == aapl)
    // non-AAPL rows with volume > 0 retired; volume<=0/null rows kept
    assert(kept.filter(col("ticker") =!= "AAPL" && col("volume") > 0).count() == 0)
    val v1 = t.currentVersion

    // NOT MATCHED BY SOURCE UPDATE: flag the remaining unmatched rows
    spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING dml_nmbs_src AS s
         |ON t.ticker = s.ticker AND t.timestamp_ms = s.timestamp_ms
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET volume = -1""".stripMargin)
    assert(t.read().filter(col("ticker") =!= "AAPL").count() ==
      t.read().filter(col("ticker") =!= "AAPL" && col("volume") === -1L).count())
    assert(t.read().filter(col("ticker") === "AAPL" && col("volume") === -1L).count() == 0)
    // both merges are commits: time travel still serves the pre-merge state
    assert(t.readVersion(v1).filter(col("volume") === -1L).count() == 0)
  }

  test("SQL MERGE: differently-named keys and an arbitrary residual") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val (t, path) = freshTable("dml_keys")
    t.write(bars.repartition(2))
    val total = t.read().count()
    // source under renamed key columns + a gate the residual reads
    t.read().filter(col("ticker") === "MSFT").limit(3)
      .select(col("ticker").as("sym"), col("timestamp_ms").as("ts"))
      .withColumn("gate", lit(1))
      .createOrReplaceTempView("dml_keys_src")

    spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING dml_keys_src AS s
         |ON t.ticker = s.sym AND t.timestamp_ms = s.ts AND s.gate = 1
         |WHEN MATCHED THEN UPDATE SET volume = 31337""".stripMargin)
    assert(t.read().count() == total)
    assert(t.read().filter(col("volume") === 31337L).count() == 3)

    // residual disqualifies every pair → nothing is MATCHED
    spark.sql(
      s"""MERGE INTO graft.`$path` AS t
         |USING dml_keys_src AS s
         |ON t.ticker = s.sym AND t.timestamp_ms = s.ts AND s.gate = 0
         |WHEN MATCHED THEN UPDATE SET volume = 99""".stripMargin)
    assert(t.read().filter(col("volume") === 99L).count() == 0)
    assert(t.read().filter(col("volume") === 31337L).count() == 3)
  }

  test("SQL MERGE WITH SCHEMA EVOLUTION unions new source columns in") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val (t, path) = freshTable("dml_evo")
    t.write(bars.repartition(2))
    val total = t.read().count()
    t.read().limit(2)
      .withColumn("volume", lit(555L))
      .withColumn("rating", lit("AA"))          // new column
      .createOrReplaceTempView("dml_evo_src")

    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$path` AS t
         |USING dml_evo_src AS s
         |ON t.ticker = s.ticker AND t.timestamp_ms = s.timestamp_ms
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val after = t.read()
    assert(after.columns.contains("rating"))
    assert(after.count() == total)
    // matched rows carry the source value, untouched rows backfill NULL
    assert(after.filter(col("rating") === "AA").count() == 2)
    assert(after.filter(col("rating").isNull).count() == total - 2)
    assert(after.filter(col("volume") === 555L).count() == 2)
  }

  test("unsupported MERGE surface fails with clear errors; time travel rejected") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val (t, path) = freshTable("dml_rej")
    t.write(bars.repartition(2))
    t.read().limit(1).createOrReplaceTempView("dml_rej_src")

    // no target=source equi conjunct at all → keyless merge rejected
    val e1 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO graft.`$path` AS t USING dml_rej_src AS s
           |ON t.timestamp_ms > s.timestamp_ms
           |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e1.getMessage.contains("equi conjunct"), e1.getMessage)

    // UPDATE on a time-travel relation
    val e3 = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$path` VERSION AS OF 0 SET volume = 0")
    }
    assert(e3.getMessage.toLowerCase.contains("time-travel") ||
      e3.getMessage.contains("VERSION"), e3.getMessage)
  }
}
