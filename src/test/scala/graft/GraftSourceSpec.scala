package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ingest.BarSource
import graft.table.GraftTable
import graft.transform.Enrich

/** The `graft` DataSource: spark.read/write.format("graft"), versionAsOf
  * time travel, and the SQL `USING graft` path. */
class GraftSourceSpec extends SparkSpec {

  private def bars = Enrich.withTimeColumns(
    BarSource.harvest(spark, delayMs = 0)).cache()

  test("format(graft) write + read roundtrip with partitioning") {
    val path = graft.GraftTmp.dir("gsrc_rt").toString
    bars.write.format("graft")
      .option("partitionBy", "ticker,trade_date")
      .mode("overwrite").save(path)
    val back = spark.read.format("graft").load(path)
    assert(back.count() == bars.count())
    assert(back.columns.toSet == bars.columns.toSet)
    // the write committed a manifest version
    assert(GraftTable(spark, path).currentVersion == 0L)
  }

  test("versionAsOf reads an older snapshot; filters and pruning work") {
    val path = graft.GraftTmp.dir("gsrc_tt").toString
    val t = GraftTable(spark, path, Seq("ticker", "trade_date"))
    t.write(bars.repartition(4))
    t.delete(col("ticker") === "AAPL")

    val current = spark.read.format("graft").load(path)
    assert(current.filter(col("ticker") === "AAPL").count() == 0)

    val v0 = spark.read.format("graft").option("versionAsOf", 0).load(path)
    val aapl = v0.filter(col("ticker") === "AAPL")
      .select("ticker", "close")
    assert(aapl.count() > 0)
    assert(aapl.columns.toSeq == Seq("ticker", "close"))
  }

  test("batch change feed: readChangeFeed option and table_changes SQL") {
    val path = graft.GraftTmp.dir("gsrc_cdf").toString
    val t = GraftTable(spark, path, Seq("ticker", "trade_date"))
    t.write(bars.repartition(2))
    val aapl = t.read().filter(col("ticker") === "AAPL").count()
    t.delete(col("ticker") === "AAPL")                   // v1: deletes
    t.update(col("ticker") === "MSFT" &&
      col("close").isNotNull, Map("volume" -> lit(1L)))  // v2: upd pairs

    // reader option form
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", 0).option("endingVersion", 1)
      .load(path)
    assert(feed.columns.contains("_change_type"))
    assert(feed.filter(col("_change_type") === "delete").count() == aapl)
    assert(feed.filter(col("_change_type") === "insert").count() == 0)

    // TVF form covers the update window; an UPDATE surfaces its CDC
    // images — the four-change-type contract Delta documents
    val tvf = spark.sql(s"SELECT * FROM table_changes('$path', 1, 2)")
    val pre = tvf.filter(col("_change_type") === "update_preimage").count()
    val post = tvf.filter(col("_change_type") === "update_postimage").count()
    assert(pre == post && post > 0)
    assert(tvf.filter(col("_change_type").isin("insert", "delete")).count() == 0)
    // postimages carry the assigned value; preimages the old one
    assert(tvf.filter(col("_change_type") === "update_postimage" &&
      col("volume") =!= 1L).count() == 0)
    // endVersion defaults to the current version
    val open = spark.sql(s"SELECT * FROM table_changes('$path', 0)")
    assert(open.filter(col("_change_type") === "delete").count() >= aapl)
    assert(open.filter(col("_change_type") === "update_postimage").count() == post)
  }

  test("partition filters prune the graft scan (hive-partition pruning)") {
    val path = graft.GraftTmp.dir("gsrc_prune").toString
    val t = GraftTable(spark, path, Seq("ticker", "trade_date"))
    t.write(bars.repartition(2))
    val scan = t.read().filter(col("ticker") === "AAPL")
    val plan = scan.queryExecution.executedPlan.toString
    // the ticker predicate must reach the scan as a partition filter,
    // not a post-scan row filter — at scale this is directory pruning
    assert(plan.contains("PartitionFilters") && plan.contains("ticker"),
      plan.take(800))
    assert(scan.select("ticker").distinct().collect().map(_.getString(0)).toSeq
      == Seq("AAPL"))
  }

  test("partition values with '+' or stray '%' decode soundly (no silent pruning)") {
    import spark.implicits._
    import org.apache.spark.sql.sources.EqualTo
    val path = graft.GraftTmp.dir("gsrc_plus").toString
    val t = GraftTable(spark, path, Seq("tz"))
    t.write(Seq(("UTC+2", 1L), ("UTC+2", 2L), ("UTC-5", 3L)).toDF("tz", "v"))
    // '+' in a string partition value must stay a literal plus — a
    // URLDecoder-style decode turns it into a space, the point interval
    // goes wrong, and the file is silently skipped (missing rows)
    assert(spark.read.format("graft").load(path)
      .filter(col("tz") === "UTC+2").count() == 2)
    val kept = t.dataSkippedFiles(t.currentVersion, Seq(EqualTo("tz", "UTC+2")))
    assert(kept.nonEmpty && kept.forall(_.contains("tz=UTC+2")), kept.toString)
    // decode semantics pinned: percent escapes only, '+' literal,
    // malformed escapes (adopted non-Spark layouts) kept literally
    assert(GraftTable.unescapePathValue("UTC+2") == "UTC+2")
    assert(GraftTable.unescapePathValue("a%20b") == "a b")
    assert(GraftTable.unescapePathValue("50%") == "50%")
    assert(GraftTable.unescapePathValue("a%2Gb") == "a%2Gb")
    // ...and a malformed segment degrades to a plain string interval
    // ("no proof → keep file"), never a thrown planning task
    assert(GraftTable.partitionValueStats("t/p=50%/f.parquet", Set("p"))
      .apply("p") == ("string", "50%", "50%"))
  }

  test("DSv2 catalog: VERSION AS OF SQL, identical rows, pruning reaches the scan") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val path = graft.GraftTmp.dir("gsrc_v2").toString
    val t = GraftTable(spark, path, Seq("ticker", "trade_date"))
    t.write(bars.repartition(4))
    t.delete(col("ticker") === "AAPL")

    // current version through the catalog
    val cur = spark.sql(s"SELECT * FROM graft.`$path`")
    assert(cur.count() == t.read().count())
    assert(cur.filter(col("ticker") === "AAPL").count() == 0)

    // SQL time travel: the pre-delete version still has AAPL
    val v0 = spark.sql(s"SELECT * FROM graft.`$path` VERSION AS OF 0")
    assert(v0.count() == bars.count())
    assert(v0.filter(col("ticker") === "AAPL").count() > 0)
    // and rows match the DSv1 versionAsOf read exactly
    val v1Read = spark.read.format("graft").option("versionAsOf", 0).load(path)
    assert(v0.exceptAll(v1Read).count() == 0 && v1Read.exceptAll(v0).count() == 0)

    // the predicate reaches the catalog read's parquet scan as a hive
    // PARTITION filter
    val scan = spark.sql(
      s"SELECT ticker, close FROM graft.`$path` WHERE ticker = 'MSFT'")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") &&
      """PartitionFilters: \[[^\]]*\(ticker#\d+ = MSFT\)""".r.findFirstIn(plan).isDefined,
      plan.take(800))
    assert(scan.select("ticker").distinct().collect().map(_.getString(0)).toSeq == Seq("MSFT"))

    // the table reports its hive partitioning to the analyzer
    val tbl = graft.sources.GraftV2Table(spark, path, None)
    assert(tbl.partitioning().map(_.references().head.fieldNames().head).toSeq
      == Seq("ticker", "trade_date"))
    // catalog is read-only
    intercept[Exception] { spark.sql(s"DROP TABLE graft.`$path`") }
  }

  test("manifest stats skip files whose min/max exclude the predicate") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val path = graft.GraftTmp.dir("gsrc_skip").toString
    val t = GraftTable(spark, path) // unpartitioned: skipping ≠ hive pruning
    val df = (0 until 4000).map(i => (i.toLong, i * 2.0, f"s$i%05d")).toDF("id", "v", "s")
    t.write(df.repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    assert(t.manifestFiles().size == 4)
    val stats = t.statsOf(t.currentVersion)
    assert(stats.size == 4)
    assert(stats.values.forall(c => c.contains("id") && c.contains("v") && c.contains("s")))
    // point lookup touches one file; range predicate touches the tail file
    assert(t.dataSkippedFiles(t.currentVersion, Seq(EqualTo("id", 10L))).size == 1)
    assert(t.dataSkippedFiles(t.currentVersion, Seq(GreaterThan("id", 3500L))).size == 1)
    // string bounds skip too
    assert(t.dataSkippedFiles(t.currentVersion, Seq(EqualTo("s", "s00010"))).size == 1)
    // conservative: unknown column → keep everything
    assert(t.dataSkippedFiles(t.currentVersion, Seq(EqualTo("nope", 1))).size == 4)
    // end-to-end through format("graft"): identical rows, including the
    // every-file-skipped path
    assert(spark.read.format("graft").load(path).filter(col("id") === 10L).count() == 1)
    assert(spark.read.format("graft").load(path).filter(col("id") === -5L).count() == 0)
    val full = spark.read.format("graft").load(path).filter(col("v") < 100.0)
    assert(full.count() == df.filter(col("v") < 100.0).count())
    // OPTIMIZE recomputes stats for its rewritten files
    t.optimize(Seq("id"), targetFileSizeBytes = t.detail().sizeInBytes / 4)
    val stats2 = t.statsOf(t.currentVersion)
    assert(stats2.keySet == t.manifestFiles().toSet)
    assert(t.dataSkippedFiles(t.currentVersion, Seq(EqualTo("id", 10L))).size <
      t.manifestFiles().size)
    // compound predicates: And narrows, Or widens, both stay CORRECT —
    // every skipped read must equal the unskipped read + filter
    import org.apache.spark.sql.sources.{And, Or, LessThan, Not, IsNotNull}
    val v = t.currentVersion
    assert(t.dataSkippedFiles(v, Seq(And(EqualTo("id", 10L), LessThan("v", 100.0)))).size <=
      t.dataSkippedFiles(v, Seq(EqualTo("id", 10L))).size)
    assert(t.dataSkippedFiles(v, Seq(Or(EqualTo("id", 10L), EqualTo("id", 3999L)))).size == 2)
    assert(t.dataSkippedFiles(v, Seq(Not(EqualTo("id", 10L)))).size ==
      t.manifestFiles().size) // no interval proof for Not → keep all
    val full2 = t.read()
    Seq(
      col("id") === 10L && col("v") < 100.0,
      col("id") === 10L || col("id") === 3999L,
      col("id") > 1000L && col("id") <= 1004L,
      col("s") >= "s03990").foreach { pred =>
      val skipped = spark.read.format("graft").load(path).filter(pred)
      val expect = full2.filter(pred)
      assert(skipped.count() == expect.count(), s"pred $pred")
    }
    // IsNotNull alone must not prune (stats carry no null counts)
    assert(t.dataSkippedFiles(v, Seq(IsNotNull("id"))).size == t.manifestFiles().size)
  }

  test("DSv2 SQL DML: INSERT INTO appends, INSERT OVERWRITE replaces, layout preserved") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val path = graft.GraftTmp.dir("gsrc_v2w").toString
    val t = GraftTable(spark, path, Seq("ticker", "trade_date"))
    t.write(bars.repartition(2))
    val n0 = t.read().count()

    // INSERT INTO … SELECT: appended through the same commit protocol
    spark.sql(
      s"""INSERT INTO graft.`$path`
         |SELECT * FROM graft.`$path` WHERE ticker = 'AAPL'""".stripMargin)
    val aapl = bars.filter(col("ticker") === "AAPL").count()
    assert(t.read().count() == n0 + aapl)
    assert(t.history().select("operation").collect().map(_.getString(0))
      .contains("APPEND"))
    // hive layout preserved on the SQL append: new files still live in
    // ticker=/trade_date= partition dirs (partition pruning keeps working)
    assert(t.manifestFiles().forall(f =>
      f.contains("ticker=") && f.contains("trade_date=")), t.manifestFiles().take(3))

    // schema enforcement reaches SQL writers too
    intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$path` SELECT 1")
    }

    // INSERT OVERWRITE: logical replace, old version stays time-travelable
    val vBefore = t.currentVersion
    spark.sql(
      s"""INSERT OVERWRITE graft.`$path`
         |SELECT * FROM graft.`$path` WHERE ticker = 'MSFT'""".stripMargin)
    assert(t.read().select("ticker").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("MSFT"))
    assert(t.readVersion(vBefore).count() == n0 + aapl)

    // writes to a time-travel relation are rejected
    intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$path` VERSION AS OF 0 SELECT * FROM graft.`$path`")
    }
  }

  test("DSv2 SQL DELETE FROM routes through the copy-on-write delete") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val path = graft.GraftTmp.dir("gsrc_v2d").toString
    val t = GraftTable(spark, path, Seq("ticker", "trade_date"))
    t.write(bars.repartition(2))
    val n0 = t.read().count()
    val aapl = t.read().filter(col("ticker") === "AAPL").count()
    assert(aapl > 0)

    spark.sql(s"DELETE FROM graft.`$path` WHERE ticker = 'AAPL'")
    assert(t.read().count() == n0 - aapl)
    assert(t.read().filter(col("ticker") === "AAPL").count() == 0)
    assert(t.history().select("operation").collect().map(_.getString(0))
      .contains("DELETE"))
    // pre-delete version stays time-travelable (logical delete)
    assert(t.readVersion(0).count() == n0)

    // NULL-predicate rows are kept (SQL three-valued DELETE semantics
    // survive the filter translation: close has injected nulls)
    val n1 = t.read().count()
    spark.sql(s"DELETE FROM graft.`$path` WHERE close > 1e12")
    assert(t.read().count() == n1)

    // negated predicate translates too (Not(EqualTo))
    spark.sql(s"DELETE FROM graft.`$path` WHERE ticker <> 'MSFT'")
    assert(t.read().select("ticker").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("MSFT"))
    assert(t.readVersion(0).count() == n0)

    // DELETE with no WHERE = logical truncate: the table stays READABLE
    // (empty frame with the prior version's schema) and time-travelable
    spark.sql(s"DELETE FROM graft.`$path`")
    assert(t.read().count() == 0)
    assert(t.read().columns.contains("ticker"))
    assert(t.readVersion(0).count() == n0)
    // and writable again
    t.write(bars.limit(7), org.apache.spark.sql.SaveMode.Append)
    assert(t.read().count() == 7)
  }

  test("wide commits collect footer stats distributed, identical to the driver path") {
    // each write task reads the footers of the files it wrote: the logged
    // stats equal the driver's read of every footer, and a 16-file write
    // runs no more jobs than a 1-file write
    val conf = spark.sessionState.newHadoopConf()
    val jobs = Seq(1, 16).map { n =>
      val path = graft.GraftTmp.dir(s"gsrc_stats_$n").toString
      val t = GraftTable(spark, path)
      val df = spark.range(0, 6400, 1, n).toDF("id")
        .withColumn("v", col("id") * 2.0)
        .withColumn("s", format_string("s%05d", col("id")))
      val started = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          started.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try { t.write(df); org.apache.spark.ListenerBusDrain(spark.sparkContext) }
      finally spark.sparkContext.removeSparkListener(listener)
      assert(t.manifestFiles().size == n)
      val stats = t.statsOf(t.currentVersion)
      assert(stats.size == n)
      t.manifestFiles().foreach { f =>
        assert(stats(f) == graft.table.GraftTable.footerStats(s"$path/$f", conf), f)
      }
      // and the bounds actually prune
      import org.apache.spark.sql.sources.EqualTo
      assert(t.dataSkippedFiles(t.currentVersion, Seq(EqualTo("id", 10L))).size == 1)
      assert(spark.read.format("graft").load(path).filter(col("id") === 10L).count() == 1)
      started.get
    }
    assert(jobs.head == jobs.last, jobs)
  }

  test("one poisoned column drops only its own footer stats, not the file's") {
    // ADVICE r8 low: a single extreme TIMESTAMP(MILLIS) bound overflows
    // the millis→micros multiplyExact; that must void ONLY that column's
    // tag (same outcome as tagOpt=None), never the whole file's stats
    // map — which also carries the "" row count other layers depend on
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = graft.GraftTmp.dir("gsrc_poison").toString
    val file = s"$dir/poison.parquet"
    val schema = MessageTypeParser.parseMessageType(
      """message doc {
        |  required int64 ts (TIMESTAMP(MILLIS,true));
        |  required int32 id;
        |}""".stripMargin)
    val conf = spark.sessionState.newHadoopConf()
    conf.set("parquet.example.schema", schema.toString)
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(file)).withConf(conf).build()
    val gf = new SimpleGroupFactory(schema)
    // Long.MaxValue millis cannot be represented as micros in a long
    w.write(gf.newGroup().append("ts", Long.MaxValue).append("id", 1))
    w.write(gf.newGroup().append("ts", 1000L).append("id", 2))
    w.close()
    val stats = graft.table.GraftTable.footerStats(file, conf)
    assert(!stats.contains("ts"), s"overflowing ts column must carry no tag: $stats")
    assert(stats("id") == (("long", "1", "2")), s"id bounds survive: $stats")
    assert(stats("") == (("rows", "2", "2")), s"row count survives: $stats")
  }

  test("decimal columns never mis-prune: filtered read == unfiltered + filter") {
    // ADVICE r4 high: precision<=18 decimals are stored as UNSCALED ints
    // in parquet footers; comparing those raw against the filter's scaled
    // BigDecimal silently skipped files with matching rows
    val path = graft.GraftTmp.dir("gsrc_dec").toString
    val t = GraftTable(spark, path)
    val df = spark.range(0, 4000).toDF("id")
      .withColumn("amt", (col("id") * 0.25).cast("decimal(10,2)"))
      .withColumn("big", (col("id") * 1.5).cast("decimal(28,6)"))
    t.write(df.repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    assert(t.manifestFiles().size == 4)
    val full = t.read()
    Seq(
      col("amt") === java.math.BigDecimal.valueOf(150.00).setScale(2),
      col("amt") > java.math.BigDecimal.valueOf(900.00),
      col("amt") < java.math.BigDecimal.valueOf(10.00),
      col("amt") >= java.math.BigDecimal.valueOf(999.75),
      col("big") > java.math.BigDecimal.valueOf(5000.0)).foreach { pred =>
      val viaSource = spark.read.format("graft").load(path).filter(pred)
      assert(viaSource.count() == full.filter(pred).count(), s"pred $pred")
    }
    // and the rescaled bounds actually PRUNE (not merely stay correct)
    import org.apache.spark.sql.sources.GreaterThan
    assert(t.dataSkippedFiles(t.currentVersion,
      Seq(GreaterThan("amt", new java.math.BigDecimal("900.00")))).size == 1)
  }

  test("non-finite double stats neither crash nor drop rows; NaN rows survive range pruning") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("gsrc_inf").toString
    val t = GraftTable(spark, path)
    // file 0: ordinary values; file 1: ±Infinity; file 2: NaN rows whose
    // non-NaN values all sit BELOW the predicate (the wrongly-prunable case)
    val df = Seq(
      (0L, 1.0), (1L, 2.0), (2L, 3.0),
      (10L, Double.NegativeInfinity), (11L, Double.PositiveInfinity),
      (20L, 5.0), (21L, Double.NaN)).toDF("id", "v")
    t.write(df.repartition(3, (col("id") / 10).cast("int")))
    val full = t.read()
    // filtered scans must not throw (r4: BigDecimal("Infinity") NFE)
    Seq(col("v") > 100.0, col("v") < 100.0, col("v") === 5.0,
      col("v") >= 2.0 && col("v") <= 3.0).foreach { pred =>
      val got = spark.read.format("graft").load(path).filter(pred)
      assert(got.count() == full.filter(pred).count(), s"pred $pred")
    }
    // Spark orders NaN largest: v > 1e6 must return the NaN row even
    // though that file's footer max (5.0) would "prove" no match
    assert(spark.read.format("graft").load(path)
      .filter(col("v") > 1e6).count() == full.filter(col("v") > 1e6).count())
  }

  test("string pruning uses unsigned UTF-8 order (supplementary-plane safe)") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("gsrc_utf8").toString
    val t = GraftTable(spark, path)
    // "𝌆" (U+1D306) > "�" in UTF-8 byte order but LESS THAN it in
    // UTF-16 code-unit order (surrogates D834 < FFFD) — the old compareTo
    // pruned the supplementary-plane file for >= "�" predicates
    val df = Seq((0L, "apple"), (1L, "banana"),
      (10L, "�"), (11L, "𝌆tetragram")).toDF("id", "s")
    t.write(df.repartition(2, (col("id") / 10).cast("int")))
    val full = t.read()
    Seq(col("s") >= "�", col("s") > "z", col("s") === "𝌆tetragram",
      col("s") < "b").foreach { pred =>
      val got = spark.read.format("graft").load(path).filter(pred)
      assert(got.count() == full.filter(pred).count(), s"pred $pred")
    }
  }

  test("append mode enforces schema; SQL USING graft scans the table") {
    val path = graft.GraftTmp.dir("gsrc_sql").toString
    bars.write.format("graft")
      .option("partitionBy", "ticker,trade_date")
      .mode("overwrite").save(path)
    intercept[Exception] {
      bars.withColumn("volume", col("volume").cast("string"))
        .write.format("graft").mode("append").save(path)
    }
    val name = s"graft_src_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$path')")
    try {
      val n = spark.sql(s"SELECT COUNT(*) AS n FROM $name").collect()(0).getLong(0)
      assert(n == bars.count())
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("txnAppId/txnVersion writer options: replayed batch appends no-op") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("graft_txn_opt").toString
    val df = (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    def append(v: Long): Unit =
      df.write.format("graft").mode("append")
        .option("txnAppId", "batch-job").option("txnVersion", v.toString)
        .save(path)
    append(1); append(1) // replay: second write must no-op
    val t = graft.table.GraftTable(spark, path)
    assert(t.read().count() == 50, "replayed (appId, version) must not duplicate")
    append(2)
    assert(t.read().count() == 100)
    // one option without the other is a contract error
    val err = intercept[Exception] {
      df.write.format("graft").mode("append")
        .option("txnAppId", "x").save(path)
    }
    assert(err.getMessage.contains("txnVersion"))
    // non-append modes reject the options
    val err2 = intercept[Exception] {
      df.write.format("graft").mode("overwrite")
        .option("txnAppId", "x").option("txnVersion", "9").save(path)
    }
    assert(err2.getMessage.contains("Append"))
  }

  test("running stream survives concurrent OPTIMIZE + VACUUM: no dup, no loss") {
    // the daily reality of a streamed 100 TB table: maintenance runs
    // UNDER the live stream. The file-granular-admission stream must
    // (a) skip the OPTIMIZE rewrite as non-data (appendOnlyAdds = None
    // for a removes+adds commit → appendsOnly contributes nothing — a
    // redelivery would duplicate every compacted row), and (b) never
    // read a vacuumed file (its post-vacuum batches derive only from
    // commits whose files are live)
    import spark.implicits._
    val path = graft.GraftTmp.dir("graft_maint_stream").toString
    val t = graft.table.GraftTable(spark, path)
    def batch(lo: Int, n: Int, parts: Int) =
      (lo until lo + n).map(_.toLong).toDF("id").repartition(parts)
    t.write(batch(0, 30, 3))                                         // v0
    val name = s"graft_maint_stream_${System.nanoTime()}"
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "2")
      .option("skipChangeCommits", "true")
      .load(path)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q.processAllAvailable() // snapshot delivered in bounded triggers
      // appends land while the stream runs...
      t.write(batch(100, 20, 4), org.apache.spark.sql.SaveMode.Append) // v1
      t.write(batch(200, 10, 2), org.apache.spark.sql.SaveMode.Append) // v2
      q.processAllAvailable()
      // ...then maintenance: OPTIMIZE rewrites EVERY file so far
      val preOpt = t.manifestFiles().toSet
      t.optimize(Seq("id"))                                           // v3
      assert(t.manifestFiles().toSet.intersect(preOpt).isEmpty,
        "optimize must have rewritten the whole table for this test")
      t.write(batch(300, 10, 2), org.apache.spark.sql.SaveMode.Append) // v4
      q.processAllAvailable()
      // VACUUM physically deletes the pre-optimize files the stream
      // has already consumed — a caught-up stream must never touch them
      val (_, deleted) = t.vacuum(retainHours = 0.0,
        retentionCheckEnabled = false,
        nowMs = System.currentTimeMillis() + 3600 * 1000)
      assert(deleted >= preOpt.size,
        s"vacuum must have deleted the rewritten originals ($deleted)")
      t.write(batch(400, 10, 2), org.apache.spark.sql.SaveMode.Append) // v5
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died: ${q.exception}")
      val got = spark.table(name).select("id").as[Long].collect().sorted
      val want = ((0L until 30L) ++ (100L until 120L) ++ (200L until 210L) ++
        (300L until 310L) ++ (400L until 410L)).sorted
      assert(got.toSeq == want,
        s"exactly-once under maintenance: got ${got.length}, want ${want.length}")
      // and admission stayed file-granular throughout (no flood batch)
      val nonEmpty = q.recentProgress.filter(_.numInputRows > 0)
      assert(nonEmpty.nonEmpty && nonEmpty.forall(_.numInputRows <= 30),
        s"batch sizes: ${nonEmpty.map(_.numInputRows).toSeq}")
    } finally q.stop()
  }
}
