package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DateType, TimestampType}
import graft.table.{GeneratedPruning, GraftTable}

/** The r8 pruning stack: date/timestamp footer stats, hive partition-
  * value proofs in the FILE LIST, and filters derived through
  * generated-column definitions (Delta OptimizeGeneratedColumn parity).
  *
  * Soundness bar for every case: the pruned read returns exactly the
  * rows a full scan + filter would.
  */
class GeneratedPruningSpec extends SparkSpec {

  private def fresh(prefix: String): (GraftTable, String) = {
    val path = graft.GraftTmp.dir(prefix).toString
    (GraftTable(spark, path), path)
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("date and timestamp footer stats prune range predicates") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      val (t, tpath) = fresh("time_stats")
      // 8 files, each one day: [min,max] per file are disjoint day ranges
      val df = (0 until 8).flatMap { day =>
        (0 until 100).map(i =>
          (day * 100 + i, ts(f"2024-03-${day + 1}%02d 0${i % 9}:15:00")))
      }.toDF("id", "ev_ts")
        .withColumn("ev_date", to_date(col("ev_ts")))
      t.write(df.repartitionByRange(8, col("ev_ts"))
        .sortWithinPartitions("ev_ts"))
      val v = t.currentVersion
      assert(t.manifestFiles(v).size == 8)

      val tsKept = t.dataSkippedFiles(v,
        Seq(LessThan("ev_ts", ts("2024-03-02 00:00:00"))))
      assert(tsKept.size <= 2, s"timestamp bounds must prune, kept ${tsKept.size}")
      val dKept = t.dataSkippedFiles(v,
        Seq(EqualTo("ev_date", Date.valueOf("2024-03-05"))))
      assert(dKept.size <= 2, s"date bounds must prune, kept ${dKept.size}")
      // soundness: pruned scan loses nothing
      val got = spark.read.format("graft").load(tpath)
        .filter(col("ev_ts") < lit(ts("2024-03-02 00:00:00"))).count()
      assert(got == 100)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.parquet.outputTimestampType", p)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("partition values prune the file list, typed") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("part_stats").toString
    val t = GraftTable(spark, path, Seq("bucket"))
    t.write((1 to 300).map(i => (i.toLong, i % 12)).toDF("id", "bucket"))
    val v = t.currentVersion
    val all = t.manifestFiles(v).size
    val kept = t.dataSkippedFiles(v, Seq(EqualTo("bucket", 7)))
    assert(kept.nonEmpty && kept.size < all,
      s"partition equality must prune the file list: kept ${kept.size} of $all")
    assert(kept.forall(_.contains("bucket=7")))
    // typed compare, not string compare: bucket > 9 keeps 10 and 11
    // (string "10" < "9" would wrongly drop them)
    val gt = t.dataSkippedFiles(v, Seq(GreaterThan("bucket", 9)))
    assert(gt.nonEmpty && gt.forall(f =>
      f.contains("bucket=10") || f.contains("bucket=11")),
      s"numeric partition compare must keep exactly 10,11: $gt")
    assert(t.read().filter(col("bucket") > 9).count() ==
      (1 to 300).count(_ % 12 > 9))
  }

  test("range filter on ts prunes partitions generated as to_date(ts)") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("gen_prune").toString
    val t = GraftTable(spark, path, Seq("d"))
    val df = (0 until 6).flatMap { day =>
      (0 until 50).map(i => (day * 50 + i, ts(f"2024-03-${day + 1}%02d 10:00:00")))
    }.toDF("id", "ev_ts")
      .withColumn("d", to_date(col("ev_ts")))
    t.write(df)
    t.addGeneratedColumn("d", "to_date(ev_ts)")
    val v = t.currentVersion
    val all = t.manifestFiles(v).size

    // the derivation itself: ts >= v implies d >= to_date(v)
    val derived = t.augmentedFilters(v,
      Seq(GreaterThanOrEqual("ev_ts", ts("2024-03-05 00:00:00"))))
    assert(derived.exists {
      case GreaterThanOrEqual("d", x) => x != null
      case _ => false
    }, s"expected a derived bound on d, got $derived")

    // and it prunes the FILE LIST through the partition values
    val kept = t.dataSkippedFiles(v,
      Seq(GreaterThanOrEqual("ev_ts", ts("2024-03-05 00:00:00"))))
    assert(kept.size < all,
      s"derived partition bound must prune: kept ${kept.size} of $all")
    assert(kept.forall(f => f.contains("d=2024-03-05") || f.contains("d=2024-03-06")))

    // soundness end-to-end through the relation and the table's read,
    // whose file index derives the same bound
    val got = spark.read.format("graft").load(path)
      .filter(col("ev_ts") >= lit(ts("2024-03-05 00:00:00")))
      .select("id").collect().map(_.getInt(0)).sorted
    assert(got.toSeq == (200 until 300))
    val read = t.read().filter(col("ev_ts") >= lit(ts("2024-03-05 00:00:00")))
      .select("id").collect().map(_.getInt(0)).sorted
    assert(read.toSeq == (200 until 300))
  }

  test("equality derives through any deterministic definition") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("gen_eq").toString
    val t = GraftTable(spark, path, Seq("g"))
    val df = (1 to 200).map(i => (i.toLong, s"doc_$i"))
      .toDF("id", "body")
      .withColumn("g", pmod(col("id"), lit(4)))
    t.write(df)
    t.addGeneratedColumn("g", "pmod(id, 4)")
    val v = t.currentVersion
    val all = t.manifestFiles(v).size
    val kept = t.dataSkippedFiles(v, Seq(EqualTo("id", 7L)))
    assert(kept.nonEmpty && kept.forall(_.contains("g=3")),
      s"id = 7 must derive g = 3 and prune to that partition: $kept of $all")
    // range over a NON-monotone def must NOT derive a range
    val derived = GeneratedPruning.derive(spark,
      Map("g" -> "pmod(id, 4)"),
      _ => Some(org.apache.spark.sql.types.LongType),
      Seq(GreaterThan("id", 7L)))
    assert(derived.isEmpty, s"pmod must not derive range bounds: $derived")
  }

  test("monotone shapes gate on base type; IN derives element-wise") {
    val dateBase = (_: String) => Some(DateType): Option[org.apache.spark.sql.types.DataType]
    val strBase = (_: String) => Some(org.apache.spark.sql.types.StringType): Option[org.apache.spark.sql.types.DataType]
    // to_date over a TIMESTAMP base derives a relaxed range bound
    // (TZ-sensitive, so the writer zone must be on record)
    val d1 = GeneratedPruning.derive(spark, Map("d" -> "to_date(ev_ts)"),
      (_: String) => Some(TimestampType),
      Seq(GreaterThan("ev_ts", ts("2024-03-05 13:00:00"))), _ => Some("UTC"))
    assert(d1 == Seq(GreaterThanOrEqual("d", Date.valueOf("2024-03-05"))), s"got $d1")
    // the same shape over a STRING base must not derive ranges
    // (string→date parsing is not monotone in string order)...
    val d2 = GeneratedPruning.derive(spark, Map("d" -> "to_date(ev_ts)"),
      strBase, Seq(GreaterThan("ev_ts", "2024-03-05")))
    assert(d2.isEmpty, s"got $d2")
    // ...but equality still does (determinism is enough)
    val d3 = GeneratedPruning.derive(spark, Map("d" -> "to_date(ev_ts)"),
      strBase, Seq(EqualTo("ev_ts", "2024-03-05")))
    assert(d3 == Seq(EqualTo("d", Date.valueOf("2024-03-05"))), s"got $d3")
    // IN maps element-wise, dropping null arms
    val d4 = GeneratedPruning.derive(spark, Map("y" -> "year(dt)"),
      dateBase, Seq(In("dt",
        Array[Any](Date.valueOf("2023-06-01"), null, Date.valueOf("2024-06-01")))))
    d4 match {
      case Seq(In("y", vs)) => assert(vs.toSet == Set(2023, 2024), s"got ${vs.toSeq}")
      case other => fail(s"expected derived IN on y, got $other")
    }
    // non-deterministic definitions never derive
    val d5 = GeneratedPruning.derive(spark,
      Map("r" -> "id + rand()"),
      (_: String) => Some(org.apache.spark.sql.types.LongType),
      Seq(EqualTo("id", 1L)))
    assert(d5.isEmpty, s"got $d5")
  }

  test("tz-sensitive derivation pins to the recorded writer zone") {
    import spark.implicits._
    def instant(s: String) =
      new Timestamp(java.time.Instant.parse(s).toEpochMilli)
    // unknown writer zone → no proof: the stored values were computed
    // under SOME session zone and the reader's may disagree
    val none = GeneratedPruning.derive(spark, Map("d" -> "to_date(ev_ts)"),
      (_: String) => Some(TimestampType),
      Seq(EqualTo("ev_ts", instant("2024-03-05T13:00:00Z"))))
    assert(none.isEmpty, s"got $none")
    // recorded zone ≠ session zone: f(v) evaluates under the RECORDED
    // zone (03:00Z is still 2024-03-04 in New York)
    val ny = GeneratedPruning.derive(spark, Map("d" -> "to_date(ev_ts)"),
      (_: String) => Some(TimestampType),
      Seq(GreaterThanOrEqual("ev_ts", instant("2024-03-05T03:00:00Z"))),
      _ => Some("America/New_York"))
    assert(ny == Seq(GreaterThanOrEqual("d", Date.valueOf("2024-03-04"))),
      s"got $ny")
    // zone-independent definitions still derive with no record at all
    val plain = GeneratedPruning.derive(spark, Map("g" -> "pmod(id, 4)"),
      (_: String) => Some(org.apache.spark.sql.types.LongType),
      Seq(EqualTo("id", 7L)))
    assert(plain == Seq(EqualTo("g", 3L)), s"got $plain")

    // end-to-end: table declared under UTC; a New-York-session reader
    // must lose no rows (an LTE bound evaluated in the reader's zone
    // would prune the d=2024-03-04 partition and silently drop 20 rows)
    val path = graft.GraftTmp.dir("gen_tz").toString
    val t = GraftTable(spark, path, Seq("d"))
    val df = (0 until 6).flatMap { day =>
      (0 until 20).map(i => (day * 20 + i, instant(f"2024-03-${day + 1}%02d" +
        "T01:30:00Z")))
    }.toDF("id", "ev_ts").withColumn("d", to_date(col("ev_ts")))
    t.write(df)
    t.addGeneratedColumn("d", "to_date(ev_ts)")
    assert(t.properties(GraftTable.GeneratedTzKey + "d") == "UTC")

    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    val cut = instant("2024-03-04T01:45:00Z")
    val got = s2.read.format("graft").load(path)
      .filter(col("ev_ts") <= lit(cut)).count()
    assert(got == 80, s"NY-session read lost rows: $got of 80")

    // ...and a New-York-session WRITE is rejected: it would store
    // d-values disagreeing with the UTC-computed existing data
    val t2 = GraftTable(s2, path, Seq("d"))
    val in2 = { import s2.implicits._
      Seq((999, instant("2024-03-07T01:30:00Z"))).toDF("id", "ev_ts") }
    val e = intercept[IllegalArgumentException] {
      t2.write(in2, SaveMode.Append)
    }
    assert(e.getMessage.contains("time zone"), e.getMessage)
    // the reserved zone record resists UNSET
    intercept[IllegalArgumentException] {
      t.unsetProperties(Seq(GraftTable.GeneratedTzKey + "d"))
    }
  }
}
