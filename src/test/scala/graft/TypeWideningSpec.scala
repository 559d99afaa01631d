package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.table.{BloomIndex, GraftTable, TypeWidening}

/** ALTER COLUMN TYPE widening (Delta type-widening parity): the commit
  * is metadata-only — old files keep their narrow physical type and
  * upcast at scan time under the recorded schema every scan reads. */
class TypeWideningSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(prefix: String): (GraftTable, String) = {
    val path = graft.GraftTmp.dir(prefix).toString
    (GraftTable(spark, path, Nil), path)
  }

  test("int -> long widening: no file rewrite, mixed files read back widened") {
    val (t, _) = fresh("tw_basic")
    t.write((1 to 5).map(i => (i, s"r$i")).toDF("v", "s"))          // v0 int32
    val filesBefore = t.manifestFiles().toSet
    t.alterColumnType("v", LongType)                                // v1 metadata
    assert(t.manifestFiles().toSet == filesBefore, "widening must not rewrite")
    assert(t.read().schema("v").dataType == LongType)
    // append WIDE rows; old narrow files and new wide files coexist
    t.write(Seq((10000000000L, "big")).toDF("v", "s"), SaveMode.Append)
    val got = t.read().as[(Long, String)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 10000000000L), got.toSeq)
    // an INT frame still appends (auto-upcast, Delta write behavior)
    t.write(Seq((7, "narrow")).toDF("v", "s"), SaveMode.Append)
    assert(t.read().count() == 7 &&
      t.read().filter(col("v") === 7L).count() == 1)
  }

  test("float -> double, and unsafe changes reject") {
    val (t, _) = fresh("tw_float")
    t.write(Seq((1.5f, "a"), (2.5f, "b")).toDF("x", "s"))
    t.alterColumnType("x", DoubleType)
    assert(t.read().schema("x").dataType == DoubleType)
    // float 1.5/2.5 are exact in binary: values intact after upcast
    assert(t.read().select(sum("x")).as[Double].head() == 4.0)
    intercept[IllegalArgumentException] { t.alterColumnType("x", FloatType) }
    intercept[IllegalArgumentException] { t.alterColumnType("s", LongType) }
    intercept[IllegalArgumentException] { t.alterColumnType("nope", LongType) }
    assert(!TypeWidening.allowed(LongType, IntegerType))
    assert(TypeWidening.allowed(ByteType, LongType))
  }

  test("data skipping on a widened column stays sound across narrow files") {
    val (t, path) = fresh("tw_skip")
    // two narrow files with disjoint ranges, then widen, then one wide file
    t.write((1 to 100).map(i => (i, "lo")).toDF("v", "s").coalesce(1))
    t.write((1000 to 1100).map(i => (i, "hi")).toDF("v", "s").coalesce(1),
      SaveMode.Append)
    t.alterColumnType("v", LongType)
    t.write(Seq((5000000000L, "wide")).toDF("v", "s"), SaveMode.Append)
    // pruned path: filter above the narrow files' bounds
    val kept = t.dataSkippedFiles(t.currentVersion,
      Seq(org.apache.spark.sql.sources.GreaterThan("v", 4000000000L)))
    assert(kept.size == 1, s"stats must prune the narrow files: $kept")
    val df = spark.read.format("graft").load(path).filter(col("v") > 200L)
    assert(df.as[(Long, String)].collect().map(_._2).sorted.toSeq ==
      Seq("hi") ++ (1000 to 1100).map(_ => "hi").tail :+ "wide", "row check")
    assert(df.count() == 102)
    // below-bounds rows still read (no over-pruning of narrow files)
    assert(spark.read.format("graft").load(path)
      .filter(col("v") <= 100L).count() == 100)
  }

  test("skipping by float bounds stays sound after widening to double") {
    val (t, _) = fresh("tw_float_skip")
    // the float file's bounds are stored as "0.7" and "0.9"; the widened
    // value of 0.7f is 0.699999988…, below the double 0.7
    t.write(Seq((0.7f, "a"), (0.9f, "b")).toDF("x", "s").coalesce(1))
    t.write(Seq((5.0f, "c")).toDF("x", "s").coalesce(1), SaveMode.Append)
    t.alterColumnType("x", DoubleType)
    val opaque = udf((b: Boolean) => b)
    def rows(df: DataFrame) = df.select("s").as[String].collect().sorted.toSeq
    val widened = 0.7f.toDouble
    for (cond <- Seq(col("x") < 0.7, col("x") <= widened, col("x") === widened,
        col("x").isin(widened, 2.0), col("x") > 0.6999999, col("x") >= widened))
      assert(rows(t.read().where(cond)) == rows(t.read().where(opaque(cond))), cond)
    assert(rows(t.read().where(col("x") < 0.7)) == Seq("a"))
    t.delete(col("x") < 0.7)
    assert(rows(t.read()) == Seq("b", "c"))
  }

  test("bloom skipping stays sound after widening int to long and float to double") {
    val (t, _) = fresh("tw_bloom")
    // round-robin files: every file's range spans the probes, so only
    // the bloom filters can skip
    t.write((1 to 100).map(i => (i, i / 4.0f, s"r$i")).toDF("v", "x", "s").repartition(4))
    t.setProperties(Map(BloomIndex.ColumnsProp -> "v,x"))
    assert(t.buildBloomIndex() == 4)
    t.alterColumnType("v", LongType)
    t.alterColumnType("x", DoubleType)
    def names(cond: Column) = t.read().where(cond).select("s").as[String].collect().sorted.toSeq
    assert(names(col("v") === 42L) == Seq("r42"))
    assert(names(col("v").isin(7L, 42L)) == Seq("r42", "r7"))
    assert(names(col("x") === 10.5) == Seq("r42"))
    t.delete(col("v") === 7L)
    assert(t.read().count() == 99 && names(col("v") === 7L).isEmpty)
  }

  test("time travel before the widening keeps the narrow type; DML reads widened") {
    val (t, _) = fresh("tw_tt")
    t.write(Seq((1, "a"), (2, "b")).toDF("v", "s"))
    val v0 = t.currentVersion
    t.alterColumnType("v", LongType)
    assert(t.readVersion(v0).schema("v").dataType == IntegerType)
    assert(t.read().schema("v").dataType == LongType)
    // copy-on-write DML across mixed files after widening
    t.write(Seq((9999999999L, "c")).toDF("v", "s"), SaveMode.Append)
    t.delete(col("v") === 1L)
    assert(t.read().as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((2L, "b"), (9999999999L, "c")))
    // history records the operation
    val ops = t.history().select("operation").as[String].collect()
    assert(ops.contains("ALTER COLUMN TYPE"))
  }

  test("UPDATE, MERGE and OPTIMIZE rewrite a file set spanning narrow and wide files") {
    // one int32 file written before the widening, one int64 file after:
    // each rewrite below reads both files in one scan
    def mixed(prefix: String): GraftTable = {
      val (t, _) = fresh(prefix)
      t.write(Seq((1, "a"), (2, "b")).toDF("v", "s").coalesce(1))
      t.alterColumnType("v", LongType)
      t.write(Seq((10000000000L, "c")).toDF("v", "s").coalesce(1), SaveMode.Append)
      assert(t.manifestFiles().size == 2)
      t
    }
    def rows(t: GraftTable): Seq[(Long, String)] =
      t.read().as[(Long, String)].collect().sortBy(_._1).toSeq

    val u = mixed("tw_update")
    u.update(col("v") > 0L, Map("s" -> upper(col("s"))))
    assert(rows(u) == Seq((1L, "A"), (2L, "B"), (10000000000L, "C")))

    val m = mixed("tw_merge")
    m.merge(Seq((2L, "m"), (10000000000L, "n"), (3L, "new")).toDF("v", "s"), Seq("v"))
    assert(rows(m) == Seq((1L, "a"), (2L, "m"), (3L, "new"), (10000000000L, "n")))

    val o = mixed("tw_optimize")
    o.optimize(Nil)
    assert(o.manifestFiles().size == 1)
    assert(rows(o) == Seq((1L, "a"), (2L, "b"), (10000000000L, "c")))
  }

  test("streaming from a widened table: narrow old files flow under the wide schema") {
    val (t, path) = fresh("tw_stream")
    t.write(Seq((1, "a"), (2, "b")).toDF("v", "s"))        // narrow int files
    t.alterColumnType("v", LongType)
    t.write(Seq((30000000000L, "c")).toDF("v", "s"),
      org.apache.spark.sql.SaveMode.Append)                // wide file
    val name = s"tw_stream_${System.nanoTime()}"
    val q = spark.readStream.format("graft").load(path)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table(name).as[(Long, String)].collect().sortBy(_._1)
      assert(got.toSeq == Seq((1L, "a"), (2L, "b"), (30000000000L, "c")))
      assert(spark.table(name).schema("v").dataType == LongType)
    } finally q.stop()
  }

  test("SQL: ALTER TABLE ... ALTER COLUMN ... TYPE BIGINT through the DSv2 catalog") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val (t, path) = fresh("tw_sql")
    t.write(Seq((1, 1.0f)).toDF("v", "x"))
    spark.sql(s"ALTER TABLE graft.`$path` ALTER COLUMN v TYPE BIGINT")
    spark.sql(s"ALTER TABLE graft.`$path` ALTER COLUMN x TYPE DOUBLE")
    val sch = spark.read.format("graft").load(path).schema
    assert(sch("v").dataType == LongType && sch("x").dataType == DoubleType)
    // streaming source reads the widened schema over narrow files
    t.write(Seq((2, 2.0f)).toDF("v", "x"), SaveMode.Append)
    val got = t.read().as[(Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1.0), (2L, 2.0)))
  }
}
