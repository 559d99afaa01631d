package graft

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.table.{GraftTable, RowTracking}

/** One read bridge: every entry point to a graft table — `read()`,
  * `format("graft")` (plain, `versionAsOf`, `timestampAsOf`,
  * `readChangeFeed`, `withRowIds`), a `USING graft` session table and the
  * `graft.` catalog (DataFrame, SQL, `VERSION AS OF`) — plans the
  * log-planned columnar parquet scan, with the filter's partition and
  * data conjuncts on the scan, and returns the rows of the pinned
  * version. */
class ReadBridgeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")

  private val where = "p = 'a' AND v > 10"

  /** Columnar scans only; with `filtered`, each scan carries partition
    * and data filters. */
  private def assertColumnar(df: DataFrame, filtered: Boolean): Unit = {
    val exec = df.queryExecution.executedPlan
    val plan = exec.toString
    val scans = collect(exec) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && plan.contains("FileScan parquet") && plan.contains("Batched: true"),
      plan)
    assert(collect(exec) { case r: RowDataSourceScanExec => r }.isEmpty, plan)
    Seq("GraftRelation", "GraftV1ScanShim").foreach(n => assert(!plan.contains(n), plan))
    if (filtered) scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty && s.dataFilters.nonEmpty, plan)
      assert(plan.contains("PartitionFilters: [") && plan.contains("DataFilters: ["), plan)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def assertSame(df: DataFrame, expected: DataFrame, filtered: Boolean = false): Unit = {
    assertColumnar(df, filtered)
    assert(rows(df) == rows(expected))
  }

  /** Partitioned by `p`, row-tracked, with a merge-on-read DELETE at its
    * last version: v0 write, v1 properties, v2 append, v3 DV delete. */
  private def table(prefix: String): (GraftTable, String) = {
    import spark.implicits._
    val path = GraftTmp.dir(prefix).toString
    val t = GraftTable(spark, path, Seq("p"))
    t.write((1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i)).toDF("id", "p", "v"))
    t.setProperties(Map(RowTracking.Prop -> "true"))
    t.write((41L to 60L).map(i => (i, "a", i)).toDF("id", "p", "v"), SaveMode.Append)
    t.delete(col("id") % 5 === 0, mergeOnRead = true)
    assert(t.currentVersion == 3 && t.dvOf(3).values.exists(_.nonEmpty))
    (t, path)
  }

  test("every entry point plans the columnar scan and returns the pinned rows") {
    val (t, path) = table("rb_entry")
    val cur = t.readVersion(3).where(where)

    assertSame(t.read().where(where), cur, filtered = true)
    assertSame(spark.read.format("graft").load(path).where(where), cur, filtered = true)
    assertSame(spark.read.format("graft").option("versionAsOf", 2).load(path).where(where),
      t.readVersion(2).where(where), filtered = true)
    val ts = t.commitTimestamp(2).get
    assertSame(spark.read.format("graft").option("timestampAsOf", ts.toString).load(path)
      .where(where), t.readVersion(t.versionAtTime(ts)).where(where), filtered = true)

    spark.sql("DROP TABLE IF EXISTS rb_session")
    spark.sql(s"CREATE TABLE rb_session USING graft OPTIONS (path '$path')")
    try {
      assertSame(spark.table("rb_session").where(where), cur, filtered = true)
      assertSame(spark.sql(s"SELECT * FROM rb_session WHERE $where"), cur, filtered = true)
    } finally spark.sql("DROP TABLE IF EXISTS rb_session")

    assertSame(spark.table(s"graft.`$path`").where(where), cur, filtered = true)
    assertSame(spark.sql(s"SELECT * FROM graft.`$path` WHERE $where"), cur, filtered = true)
    assertSame(spark.sql(s"SELECT * FROM graft.`$path` VERSION AS OF 2 WHERE $where"),
      t.readVersion(2).where(where), filtered = true)
    // a partition filter whose value only execution knows
    assertSame(spark.sql(s"SELECT * FROM graft.`$path` WHERE p = (SELECT min(p) FROM graft.`$path`)"),
      t.readVersion(3).where("p = 'a'"))

    assertSame(spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", 3).load(path), t.changes(1, 3))
    assertSame(spark.read.format("graft").option("withRowIds", "true").load(path),
      t.readWithRowIds(3))
  }

  test("a column-mapped table reads its logical names through every entry point") {
    import spark.implicits._
    val path = GraftTmp.dir("rb_colmap").toString
    val t = GraftTable(spark, path, Seq("p"))
    t.write((1L to 30L).map(i => (i, if (i % 3 == 0) "a" else "b", i)).toDF("id", "p", "close"))
    t.renameColumn("close", "v")
    assert(!t.colMap.isIdentity)
    val cur = t.readVersion(t.currentVersion).where(where)
    assertSame(spark.read.format("graft").load(path).where(where), cur, filtered = true)
    assertSame(spark.sql(s"SELECT * FROM graft.`$path` WHERE $where"), cur, filtered = true)
    assertSame(spark.sql(s"SELECT * FROM graft.`$path` VERSION AS OF 0 WHERE p = 'a' AND close > 10"),
      t.readVersion(0).where("p = 'a' AND close > 10"), filtered = true)
  }

  test("INSERT INTO a graft table SELECT from itself appends its pinned rows") {
    val (t, path) = table("rb_insert")
    val before = t.readVersion(3)
    spark.sql(s"INSERT INTO graft.`$path` SELECT * FROM graft.`$path` WHERE $where")
    assert(t.currentVersion == 4)
    assert(rows(t.readVersion(4)) == rows(before.union(before.where(where))))
  }

  test("MERGE whose source is a graft relation") {
    import spark.implicits._
    val (t, path) = table("rb_merge_tgt")
    val src = GraftTmp.dir("rb_merge_src").toString
    GraftTable(spark, src).write(Seq((2L, "a", 1000L), (99L, "b", 99L)).toDF("id", "p", "v"))
    val before = t.readVersion(3).select("id", "p", "v").collect().toSeq
    val m = spark.sql(s"""MERGE INTO graft.`$path` t USING graft.`$src` s ON t.id = s.id
                         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(m.collect().head.getLong(0) == 2L)
    val expected = before.map(r => if (r.getLong(0) == 2L) Row(2L, "a", 1000L) else r) :+
      Row(99L, "b", 99L)
    assert(rows(t.read().select("id", "p", "v")) == expected.map(_.toString).sorted)
  }
}
