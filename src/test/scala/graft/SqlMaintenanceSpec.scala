package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ingest.BarSource
import graft.table.GraftTable
import graft.transform.Enrich

/** The maintenance SQL grammar (OPTIMIZE / VACUUM / RESTORE / DESCRIBE
  * HISTORY / REORG … APPLY (PURGE)) injected by GraftSqlParser — stock
  * Spark has no syntax for any of these, so the delegating parser is
  * the only way they reach the GraftTable API (Delta's DeltaSqlParser
  * pattern). Statements address tables as `graft.`+backticked path.
  */
class SqlMaintenanceSpec extends SparkSpec {

  private def freshTable(prefix: String): (GraftTable, String) = {
    val path = graft.GraftTmp.dir(prefix).toString
    (GraftTable(spark, path, Seq("ticker", "trade_date")), path)
  }

  private def bars = Enrich.withTimeColumns(
    BarSource.harvest(spark, delayMs = 0)).cache()

  test("OPTIMIZE ... WHERE ... ZORDER BY compacts through SQL") {
    val (t, path) = freshTable("sqlm_opt")
    t.write(bars.repartition(8))
    val before = t.manifestFiles().size
    val rows = spark.sql(
      s"OPTIMIZE graft.`$path` WHERE ticker = 'AAPL' ZORDER BY (timestamp_ms)")
      .collect()
    assert(rows.length == 1 && rows(0).getLong(0) == t.currentVersion)
    // scoped compaction touched only AAPL partitions; count didn't change
    assert(t.read().count() == bars.count())
    val hist = t.history().filter(col("operation") === "OPTIMIZE")
    assert(!hist.isEmpty)
    // unscoped full OPTIMIZE compacts down to <= partition count
    spark.sql(s"OPTIMIZE graft.`$path`")
    assert(t.manifestFiles().size <= before)
  }

  test("OPTIMIZE ... MAX WAVES drives the resumable waved re-cluster through SQL") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("sqlm_waved").toString
    val t = GraftTable(spark, path, Seq("k"))
    t.write(spark.range(3000)
      .select(col("id"), (col("id") % 3).cast("string").as("k"),
        (col("id") * 37 % 1000).as("v"))
      .repartition(6))
    val before = t.read().select("id", "k", "v").collect().toSet
    // layout policy as table metadata: small target + wave budget force
    // multiple byte-bounded waves on this fixture
    t.setProperties(Map(
      GraftTable.TargetFileSizeProp -> (8 * 1024).toString,
      GraftTable.MaxWaveBytesProp -> (16 * 1024).toString))
    val v0 = t.currentVersion
    // first invocation bounded to ONE wave (the scheduler-tick shape)
    val w1 = spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (v) MAX WAVES 1")
      .as[Long].collect()
    assert(w1.toSeq == Seq(v0 + 1), s"expected exactly one wave commit: $w1")
    // re-running the SAME statement resumes the campaign: later waves
    // land as their own commits, none of wave 1's outputs rewritten
    val wave1Outputs = t.readRecord(w1.head).adds.map(_.path).toSet
    val rest = spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (v) MAX WAVES 10")
      .as[Long].collect()
    assert(rest.nonEmpty, "resume must run the remaining waves")
    val rewritten = rest.flatMap(v =>
      t.readRecord(v).removes.map(_.toString)).toSet
    assert(wave1Outputs.intersect(rewritten).isEmpty,
      "resume must not rewrite a committed wave's outputs")
    // one OPTIMIZE commit per wave, epoch-tagged, content preserved
    val hist = t.history()
      .filter(col("version").isin((w1 ++ rest).map(Long.box): _*))
      .select("operation", "operationMetrics.epoch").collect()
    assert(hist.length == w1.length + rest.length &&
      hist.forall(r => r.getString(0) == "OPTIMIZE" &&
        r.getString(1) == "epoch-1"))
    assert(t.read().select("id", "k", "v").collect().toSet == before)
    // converged: the statement is now a no-op
    assert(spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (v) MAX WAVES 10")
      .collect().isEmpty, "finished campaign must commit nothing")
    // bumping the epoch property starts a fresh campaign
    t.setProperties(Map(GraftTable.OptimizeEpochProp -> "epoch-2"))
    assert(spark.sql(s"OPTIMIZE graft.`$path` ZORDER BY (v) MAX WAVES 1")
      .collect().nonEmpty, "new epoch must re-cluster")
  }

  test("VACUUM: DRY RUN reports, RETAIN 0 HOURS deletes under the conf override") {
    val (t, path) = freshTable("sqlm_vac")
    t.write(bars.repartition(4))
    t.delete(col("ticker") === "AAPL")          // orphans AAPL's files
    // safety floor holds without the conf override
    intercept[Exception] { spark.sql(s"VACUUM graft.`$path` RETAIN 0 HOURS") }
    spark.conf.set("spark.graft.retentionDurationCheck.enabled", "false")
    try {
      val dry = spark.sql(s"VACUUM graft.`$path` RETAIN 0 HOURS DRY RUN").collect()(0)
      assert(dry.getInt(1) > 0, "dry run must report deletable files")
      assert(t.readVersion(0).count() == bars.count(), "dry run deletes nothing")
      val real = spark.sql(s"VACUUM graft.`$path` RETAIN 0 HOURS").collect()(0)
      assert(real.getInt(1) == dry.getInt(1))
      // current version unaffected; vacuumed history is gone
      assert(t.read().filter(col("ticker") === "AAPL").count() == 0)
    } finally spark.conf.unset("spark.graft.retentionDurationCheck.enabled")
  }

  test("graft.optimizeWrite shuffles by partition columns: full files, not slivers") {
    import spark.implicits._
    val mk = () => {
      val path = graft.GraftTmp.dir("sqlm_ow").toString
      GraftTable(spark, path, Seq("p"))
    }
    val df = (0 until 120).map(i => (i.toLong, i % 3)).toDF("id", "p")
      .repartition(8) // 8 tasks x 3 partitions = up to 24 slivers
    val plain = mk()
    plain.write(df)
    val slivers = plain.manifestFiles().size
    assert(slivers > 3, s"un-shuffled write should sliver, got $slivers files")
    val ow = mk()
    ow.write(Seq((-1L, 0)).toDF("id", "p"))
    ow.setProperties(Map("graft.optimizeWrite" -> "true"))
    ow.write(df, org.apache.spark.sql.SaveMode.Append)
    val files = ow.manifestFiles().size - 1 // minus the seed write's file
    assert(files == 3, s"optimizeWrite must land one file per partition, got $files")
    assert(ow.read().count() == 121)
  }

  test("SHOW PARTITIONS reports files/rows/bytes from the manifest, no scan") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("sqlm_showp").toString
    val t = GraftTable(spark, path, Seq("p"))
    t.write((0 until 30).map(i => (i.toLong, i % 3)).toDF("id", "p"))
    t.write(Seq((100L, 1)).toDF("id", "p"),
      org.apache.spark.sql.SaveMode.Append)
    val rows = spark.sql(s"SHOW PARTITIONS graft.`$path`").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq("p=0", "p=1", "p=2"), rows.toSeq)
    val byPart = rows.map(r => r._1 -> r).toMap
    assert(byPart("p=1")._3 == 11 && byPart("p=0")._3 == 10 &&
      byPart("p=2")._3 == 10, s"recorded row counts: ${rows.toSeq}")
    assert(rows.forall(r => r._2 >= 1 && r._4 > 0))
    // unpartitioned table: clear contract error (stock Spark parity)
    val flat = graft.GraftTmp.dir("sqlm_showp_flat").toString
    GraftTable(spark, flat, Nil).write(Seq((1L, 2L)).toDF("a", "b"))
    val e = intercept[Exception] {
      spark.sql(s"SHOW PARTITIONS graft.`$flat`").collect() }
    assert(e.getMessage.contains("not partitioned"), e.getMessage)
  }

  test("graft.checkpointInterval property shortens the checkpoint cadence") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("sqlm_ckpt").toString
    val t = GraftTable(spark, path, Nil)
    t.write(Seq((0L, "s")).toDF("k", "s"))                     // v0
    t.setProperties(Map("graft.checkpointInterval" -> "2"))    // v1
    (1 to 4).foreach(i => t.write(Seq((i.toLong, "a")).toDF("k", "s"),
      org.apache.spark.sql.SaveMode.Append))                   // v2..v5
    val log = new java.io.File(path, "_graft_log").listFiles()
      .map(_.getName).filter(_.contains(".ckpt")).sorted.toSeq
    assert(log.exists(_.startsWith(f"v${2L}%020d")) &&
      log.exists(_.startsWith(f"v${4L}%020d")),
      s"expected checkpoints at v2 and v4 under interval 2, got $log")
    // replay from the checkpointed log still serves every row
    assert(t.read().count() == 5)
  }

  test("VACUUM LITE sweeps log tombstones without listing; orphans wait for FULL") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("sqlm_vaclite").toString
    val t = GraftTable(spark, path, Nil)
    t.write((0 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .repartition(2))                                        // v0: 2 files
    t.write(Seq((100L, "new")).toDF("id", "s"),
      org.apache.spark.sql.SaveMode.Overwrite)                // v1: removes v0's
    // a file the log never saw (crashed writer leftover): LITE must not
    // find it — that's precisely the cost of skipping the listing
    val orphan = new java.io.File(path, "orphan-leftover.parquet")
    Seq((999L, "orphan")).toDF("id", "s").coalesce(1)
      .write.mode("overwrite").parquet(orphan.toString + ".dir")
    val part = new java.io.File(orphan.toString + ".dir").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, orphan.toPath)
    spark.conf.set("spark.graft.retentionDurationCheck.enabled", "false")
    try {
      val dry = spark.sql(s"VACUUM graft.`$path` LITE RETAIN 0 HOURS DRY RUN")
        .collect()(0)
      assert(dry.getInt(1) == 2, s"LITE dry run must see v0's 2 tombstones, got $dry")
      val real = spark.sql(s"VACUUM graft.`$path` LITE RETAIN 0 HOURS").collect()(0)
      assert(real.getInt(1) == 2)
      // tombstoned files gone, live data intact, untracked orphan kept
      assert(t.read().as[(Long, String)].collect().toSeq == Seq((100L, "new")))
      assert(orphan.exists, "LITE must not touch files outside the log")
      // history record carries the mode
      val hist = t.history().filter(col("operation") === "VACUUM")
        .orderBy(desc("version")).select("operationMetrics.mode")
        .as[String].collect()
      assert(hist.headOption.contains("LITE"), hist.toSeq.toString)
      // FULL vacuum still reclaims the orphan (the listing path)
      val full = spark.sql(s"VACUUM graft.`$path` RETAIN 0 HOURS").collect()(0)
      assert(full.getInt(1) >= 1 && !orphan.exists,
        s"full vacuum must sweep the orphan: $full")
    } finally spark.conf.unset("spark.graft.retentionDurationCheck.enabled")
  }

  test("RESTORE TABLE ... VERSION AS OF rolls back through SQL") {
    val (t, path) = freshTable("sqlm_rst")
    t.write(bars.repartition(2))
    val v0 = t.currentVersion
    val total = t.read().count()
    t.delete(col("ticker") === "MSFT")
    assert(t.read().count() < total)
    spark.sql(s"RESTORE TABLE graft.`$path` TO VERSION AS OF $v0")
    assert(t.read().count() == total)
    // RESTORE is itself a commit
    assert(t.currentVersion == v0 + 2)
  }

  test("RESTORE TABLE ... TIMESTAMP AS OF resolves the version at that time") {
    val (t, path) = freshTable("sqlm_rst_ts")
    t.write(bars.repartition(2))
    val total = t.read().count()
    // a timestamp safely after v0's commit but before the delete below
    Thread.sleep(20)
    val mid = new java.sql.Timestamp(System.currentTimeMillis()).toString
    Thread.sleep(20)
    t.delete(col("ticker") === "MSFT")
    assert(t.read().count() < total)
    spark.sql(s"RESTORE TABLE graft.`$path` TO TIMESTAMP AS OF '$mid'")
    assert(t.read().count() == total)
  }

  test("maintenance SQL on a non-graft session-catalog table fails cleanly") {
    spark.sql("DROP TABLE IF EXISTS plain_parquet_tbl")
    val dir = graft.GraftTmp.dir("sqlm_nongraft").toString
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "s").write
      .mode("overwrite").parquet(dir)
    spark.sql(
      s"CREATE TABLE plain_parquet_tbl (id INT, s STRING) USING parquet LOCATION '$dir'")
    try {
      val e = intercept[Exception] { spark.sql("OPTIMIZE plain_parquet_tbl") }
      assert(e.getMessage.contains("not a graft table"), e.getMessage)
      intercept[Exception] { spark.sql("VACUUM plain_parquet_tbl") }
      intercept[Exception] { spark.sql("DESCRIBE HISTORY plain_parquet_tbl") }
      // no graft log was planted inside the foreign table's directory
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_graft_log")))
    } finally spark.sql("DROP TABLE IF EXISTS plain_parquet_tbl")
  }

  test("DESCRIBE DETAIL reports files, bytes, layout, and version") {
    val (t, path) = freshTable("sqlm_detail")
    t.write(bars.repartition(2))
    val row = spark.sql(s"DESCRIBE DETAIL graft.`$path`").collect()(0)
    assert(row.getString(0) == "graft+parquet")
    assert(row.getLong(2) == t.manifestFiles().size.toLong)
    assert(row.getLong(3) > 0L)
    assert(row.getSeq[String](4) == Seq("ticker", "trade_date"))
    assert(row.getLong(5) == t.currentVersion)
  }

  test("DESCRIBE HISTORY lists commits newest-first") {
    val (t, path) = freshTable("sqlm_hist")
    t.write(bars.repartition(2))
    t.delete(col("ticker") === "NVDA")
    val rows = spark.sql(s"DESCRIBE HISTORY graft.`$path`").collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(2) == "DELETE")
    assert(rows(1).getLong(0) == 0L)
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT gates writes through SQL") {
    val (t, path) = freshTable("sqlm_check")
    t.write(bars.repartition(2))
    spark.sql(s"ALTER TABLE graft.`$path` ADD CONSTRAINT vol_nonneg CHECK (volume >= 0)")
    assert(t.constraints.keySet == Set("vol_nonneg"))
    intercept[Exception] {
      t.update(col("ticker") === "MSFT", Map("volume" -> lit(-5L)))
    }
    spark.sql(s"ALTER TABLE graft.`$path` DROP CONSTRAINT vol_nonneg")
    assert(t.constraints.isEmpty)
    t.update(col("ticker") === "MSFT", Map("volume" -> lit(-5L)))
    assert(t.read().filter(col("volume") === -5L).count() > 0)
  }

  test("CREATE TABLE ... SHALLOW CLONE through SQL; clone diverges copy-on-write") {
    val (t, path) = freshTable("sqlm_clone_src")
    t.write(bars.repartition(2))
    val total = t.read().count()
    val clonePath = graft.GraftTmp.dir("sqlm_clone_tgt").toString + "/c"
    val rows = spark.sql(
      s"CREATE TABLE graft.`$clonePath` SHALLOW CLONE graft.`$path`").collect()
    assert(rows(0).getLong(0) == 0L)
    val c = GraftTable(spark, clonePath, Seq("ticker", "trade_date"))
    assert(c.read().count() == total)
    c.delete(col("ticker") === "AAPL")
    assert(c.read().count() < total)
    assert(t.read().count() == total, "source untouched by clone mutation")
  }

  test("CONVERT TO GRAFT adopts a plain parquet directory in place") {
    val dir = graft.GraftTmp.dir("sqlm_convert").toString + "/t"
    bars.write.partitionBy("ticker", "trade_date").parquet(dir)
    val rows = spark.sql(
      s"CONVERT TO GRAFT parquet.`$dir` PARTITIONED BY (ticker, trade_date)").collect()
    assert(rows(0).getLong(0) == 0L)
    val t = GraftTable(spark, dir, Seq("ticker", "trade_date"))
    assert(t.read().count() == bars.count())
    // converted table is immediately maintainable
    spark.sql(s"OPTIMIZE graft.`$dir`")
    assert(t.read().count() == bars.count())
  }

  test("TBLPROPERTIES: SET/UNSET are commits; RESTORE and CLONE carry the set") {
    val (t, path) = freshTable("sqlm_props")
    t.write(bars.repartition(2))
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    // SQL SET routes through the DSv2 catalog as one commit
    spark.sql(s"ALTER TABLE graft.`$path` SET TBLPROPERTIES " +
      "('pipeline.owner' = 'data-eng', 'quality.tier' = 'gold')")
    assert(t.properties == Map(
      "pipeline.owner" -> "data-eng", "quality.tier" -> "gold"))
    val vSet = t.currentVersion
    spark.sql(s"ALTER TABLE graft.`$path` UNSET TBLPROPERTIES ('quality.tier')")
    assert(t.properties == Map("pipeline.owner" -> "data-eng"))
    assert(t.currentVersion == vSet + 1, "SET and UNSET are one commit each")
    // versioned: the pre-unset version still carries both
    assert(t.propertiesOf(vSet).contains("quality.tier"))
    // RESTORE brings the property set of the restored version back
    t.restore(vSet)
    assert(t.properties.contains("quality.tier"))
    // CLONE carries the current set
    val clonePath = graft.GraftTmp.dir("sqlm_props_clone").toString + "/c"
    t.shallowClone(clonePath)
    assert(GraftTable(spark, clonePath).properties == t.properties)
    // DSv2 table surface exposes them (SHOW TBLPROPERTIES path)
    val shown = spark.sql(s"SHOW TBLPROPERTIES graft.`$path`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("pipeline.owner").contains("data-eng"))
  }

  test("autoCompact property self-heals small-file debt in the touched partition") {
    val (t, path) = freshTable("sqlm_autocompact")
    val aapl = bars.filter(col("ticker") === "AAPL" &&
      col("trade_date") === bars.select(max(col("trade_date"))).collect()(0).getDate(0))
    t.write(aapl.repartition(1))
    // without the property: appends accumulate files, nothing compacts
    (1 to 9).foreach(_ => t.write(aapl.repartition(1),
      org.apache.spark.sql.SaveMode.Append))
    val before = t.manifestFiles().size
    assert(before >= 10)
    assert(!t.history().select("operation").collect()
      .map(_.getString(0)).contains("OPTIMIZE"))
    // with it: the next append trips the threshold and compacts the
    // touched partition down to one file
    t.setProperties(Map("graft.autoCompact" -> "true",
      "graft.autoCompact.minNumFiles" -> "8"))
    val rows = t.read().count()
    t.write(aapl.repartition(1), org.apache.spark.sql.SaveMode.Append)
    assert(t.manifestFiles().size < before)
    assert(t.history().select("operation").collect()
      .map(_.getString(0)).contains("OPTIMIZE"))
    assert(t.read().count() == rows + aapl.count(), "compaction loses no rows")
  }

  test("autoCompact round-trips numeric and URL-encoded partition values") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("sqlm_ac_typed").toString
    // INT partition column + a string partition value that hive-encodes
    // ('a b' → 'a%20b'): the rebuilt WHERE must scope the same partition
    // the trigger counted, through the decode AND the numeric cast
    val t = GraftTable(spark, path, Seq("bucket", "tag"))
    def batch(b: Int, tag: String) =
      Seq((b, tag, 1L), (b, tag, 2L)).toDF("bucket", "tag", "v")
    t.write(batch(10, "a b=c").repartition(1))
    t.setProperties(Map("graft.autoCompact" -> "true",
      "graft.autoCompact.minNumFiles" -> "8"))
    (1 to 8).foreach(_ => t.write(batch(10, "a b=c").repartition(1),
      org.apache.spark.sql.SaveMode.Append))
    // a sibling partition that must NOT be compacted
    (1 to 3).foreach(_ => t.write(batch(2, "plain").repartition(1),
      org.apache.spark.sql.SaveMode.Append))
    val rows = t.read().count()
    assert(t.history().select("operation").collect()
      .map(_.getString(0)).contains("OPTIMIZE"),
      "auto-compaction must fire on the numeric/encoded partition")
    // the compaction fires when the 8th small file lands; appends after
    // it accumulate again, so "far fewer than 9" is the honest bound
    val filesNow = t.manifestFiles()
    assert(filesNow.count(_.startsWith("bucket=10/")) <= 2,
      s"bucket=10 should have compacted: $filesNow")
    assert(filesNow.count(_.startsWith("bucket=2/")) == 3,
      s"bucket=2 must stay untouched: $filesNow")
    assert(t.read().count() == rows, "compaction loses no rows")
    assert(t.read().filter(col("bucket") === 10 && col("tag") === "a b=c")
      .count() == 18)
  }

  test("ADD COLUMN ... GENERATED ALWAYS AS IDENTITY through SQL") {
    val (t, path) = freshTable("sqlm_identity")
    t.write(bars.repartition(2))
    spark.sql(s"ALTER TABLE graft.`$path` ADD COLUMN row_id BIGINT " +
      "GENERATED ALWAYS AS IDENTITY (START WITH 1000 INCREMENT BY 10)")
    assert(t.identityColumns == Map("row_id" -> ((1000L, 10L, 990L))))
    t.write(bars.limit(5), org.apache.spark.sql.SaveMode.Append)
    val ids = t.read().filter(col("row_id").isNotNull)
      .select("row_id").collect().map(_.getLong(0)).sorted
    assert(ids.length == 5 && ids.head == 1000L && ids.distinct.length == 5)
  }

  test("REORG TABLE ... APPLY (PURGE) materializes deletion vectors") {
    val (t, path) = freshTable("sqlm_reorg")
    t.write(bars.repartition(2))
    val total = t.read().count()
    val nvda = t.read().filter(col("ticker") === "NVDA").count()
    t.delete(col("ticker") === "NVDA", mergeOnRead = true)
    assert(t.dvOf(t.currentVersion).nonEmpty, "merge-on-read delete left vectors")
    spark.sql(s"REORG TABLE graft.`$path` APPLY (PURGE)")
    assert(t.dvOf(t.currentVersion).forall(_._2.isEmpty))
    assert(t.read().count() == total - nvda)
  }

  test("ALTER TABLE CLUSTER BY: OPTIMIZE defaults to the recorded keys") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("sql_cluster").toString
    val t = graft.table.GraftTable(spark, path)
    t.write((1 to 4000).map(i => ((i * 2654435761L) % 4096, i.toLong))
      .toDF("k", "v").repartition(6))
    spark.sql(s"ALTER TABLE graft.`$path` CLUSTER BY (k)")
    assert(t.properties(graft.table.GraftTable.ClusterByProp) == "k")
    // OPTIMIZE with no ZORDER clause clusters by the property: output
    // files cover DISJOINT k ranges, which interleaved input can't
    spark.sql(s"OPTIMIZE graft.`$path`")
    val stats = t.statsOf(t.currentVersion)
    val bounds = t.manifestFiles().flatMap(f =>
      stats.get(f).flatMap(_.get("k")).map { case (_, lo, hi) => (lo.toLong, hi.toLong) })
    assert(bounds.nonEmpty)
    val sorted = bounds.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"files must cover disjoint k ranges: $sorted")
      case _ => ()
    }
    // same-key re-OPTIMIZE skips (incremental); FULL forces the rewrite
    val before = t.manifestFiles().toSet
    spark.sql(s"OPTIMIZE graft.`$path`")
    assert(t.manifestFiles().toSet == before,
      "incremental OPTIMIZE must skip already-clustered files")
    spark.sql(s"OPTIMIZE graft.`$path` FULL")
    // CLUSTER BY NONE drops the policy; unknown columns are rejected
    spark.sql(s"ALTER TABLE graft.`$path` CLUSTER BY NONE")
    assert(!t.properties.contains(graft.table.GraftTable.ClusterByProp))
    val err = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$path` CLUSTER BY (ghost)")
    }
    assert(err.getMessage.contains("ghost"))
  }

  test("CREATE MATERIALIZED VIEW rejects non-self-maintainable aggregates") {
    val (t, path) = freshTable("sqlm_mv_reject")
    t.write(bars)
    val mv = graft.GraftTmp.dir("sqlm_mv_tgt").toString + "/mv"
    // MIN/MAX/AVG and expression aggregates cannot be maintained under
    // deletes — the error must NAME the restriction, not be a parse
    // failure or a silently narrower view schema
    for (bad <- Seq("MIN(volume)", "MAX(volume)", "AVG(volume)",
        "SUM(volume * 2)", "ROUND(SUM(volume), 2)")) {
      val e = intercept[IllegalArgumentException] {
        spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
          s"SELECT ticker, COUNT(*), $bad FROM graft.`$path` " +
          "GROUP BY ticker")
      }
      assert(e.getMessage.contains("self-maintainable"), s"$bad: ${e.getMessage}")
      assert(e.getMessage.contains(bad.takeWhile(_ != '(')), bad)
    }
    // a non-grouped bare column is equally rejected (not an aggregate)
    val e2 = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
        s"SELECT ticker, volume, COUNT(*) FROM graft.`$path` " +
        "GROUP BY ticker")
    }
    assert(e2.getMessage.contains("volume"))
    // and the valid form still works after the rejections
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
      s"SELECT ticker, COUNT(*), SUM(volume) FROM graft.`$path` " +
      "GROUP BY ticker")
    assert(GraftTable(spark, mv, Seq.empty).read().columns.toSet ==
      Set("ticker", "mv_cnt", "sum_volume"))
  }
}
