package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.table.GraftTable

/** The r6 incremental commit log: commits record add/remove ACTIONS
  * (O(delta) log I/O), snapshots reconstruct from periodic parquet
  * checkpoints (DataFrame-written/read) plus the action tail, legacy
  * full-snapshot manifests stay readable, and log truncation preserves
  * reconstructability of every retained version.
  */
class IncrementalLogSpec extends SparkSpec {

  private def logFile(path: String, name: String) =
    new Path(s"$path/_graft_log/$name")

  private def hfs(path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  test("appends write O(delta) action records, never O(live-files) manifests") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("il_delta").toString
    val fs = hfs(path)
    val t = GraftTable(spark, path, Nil)
    t.write((0 until 100).map(_.toLong).toDF("id").repartition(4))

    (1 to 100).foreach { i =>
      t.write(Seq(1000L + i).toDF("id").coalesce(1),
        org.apache.spark.sql.SaveMode.Append)
    }
    assert(t.currentVersion == 100)
    assert(t.read().count() == 200)
    assert(t.manifestFiles().size == 104)

    // every append commit wrote ONE add action — log I/O independent of
    // the live-file count — and no full-snapshot manifest at all
    (1L to 100L).foreach { v =>
      assert(!fs.exists(logFile(path, f"v$v%020d.files")),
        s"v$v must not write a full-snapshot manifest")
      val actions = scala.io.Source.fromInputStream(
        fs.open(logFile(path, f"v$v%020d.actions.tsv")), "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      assert(actions.size == 1 && actions.head.startsWith("a\t"),
        s"v$v: expected exactly one add action, got $actions")
    }

    // stats sidecars likewise carry only the ADDED file's columns
    val statLines = scala.io.Source.fromInputStream(
      fs.open(logFile(path, f"v${50L}%020d.stats.tsv")), "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    assert(statLines.map(_.split('\t').head).distinct.size == 1)

    // time travel replays the action log exactly
    assert(t.readVersion(0).count() == 100)
    assert(t.readVersion(50).count() == 150)
    assert(t.manifestFiles(50).size == 54)
  }

  test("snapshot cache evicts by WEIGHT: two wide snapshots under a small cap") {
    val saved = GraftTable.snapCacheMaxWeight
    try {
      // a "wide" snapshot: 100 files × (1 file + 3 stat columns + 1
      // size) entries = 500 — far beyond the 600 cap when two are held
      def wide(tag: String) = GraftTable.Snapshot(
        files = Vector.tabulate(100)(i => s"$tag/part-$i.parquet"),
        stats = (0 until 100).map(i => s"$tag/part-$i.parquet" ->
          Map("a" -> ("l", "0", "9"), "b" -> ("l", "0", "9"),
              "c" -> ("l", "0", "9"))).toMap,
        dv = Map.empty,
        sizes = (0 until 100).map(i => s"$tag/part-$i.parquet" -> 1L).toMap)
      GraftTable.snapCacheMaxWeight = 600
      GraftTable.cacheSnapshot("/il_weight/rootA", 7, wide("a"))
      assert(GraftTable.cachedSnapshot("/il_weight/rootA", 7).isDefined)
      GraftTable.cacheSnapshot("/il_weight/rootB", 9, wide("b"))
      assert(GraftTable.cachedSnapshot("/il_weight/rootB", 9).isDefined,
        "the newest snapshot always survives eviction")
      assert(GraftTable.cachedSnapshot("/il_weight/rootA", 7).isEmpty,
        "the older wide snapshot must be evicted by weight, not count")
    } finally GraftTable.snapCacheMaxWeight = saved
  }

  test("add actions record file sizes; DESCRIBE DETAIL serves bytes from the log") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("il_sizes").toString
    val fs = hfs(path)
    val t = GraftTable(spark, path, Nil)
    t.write((0 until 500).map(_.toLong).toDF("id").repartition(3))
    t.write(Seq(9999L).toDF("id").coalesce(1), org.apache.spark.sql.SaveMode.Append)

    // every add action carries its byte size as a third field
    (0L to 1L).foreach { v =>
      val adds = scala.io.Source.fromInputStream(
        fs.open(logFile(path, f"v$v%020d.actions.tsv")), "UTF-8")
        .getLines().filter(_.startsWith("a\t")).toList
      assert(adds.nonEmpty)
      adds.foreach { l =>
        val parts = l.split('\t')
        assert(parts.length == 3 && parts(2).toLong > 0, s"sized add expected: $l")
      }
    }
    // detail() totals match the filesystem ground truth exactly
    val truth = t.manifestFiles().map(f =>
      fs.getFileStatus(new Path(s"$path/$f")).getLen).sum
    assert(t.detail().sizeInBytes == truth)
    assert(t.detail().numFiles == 4)

    // adoption paths carry sizes too: a shallow clone's detail agrees
    // with the source without re-stat'ing (same numbers either way —
    // the carried sizes just make it log-served)
    val clonePath = graft.GraftTmp.dir("il_sizes_clone").toString + "/c"
    val c = t.shallowClone(clonePath)
    assert(c.detail().sizeInBytes == truth)
  }

  test("manifest checkpoints are parquet datasets readable as DataFrames") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("il_ckpt").toString
    val fs = hfs(path)
    val t = GraftTable(spark, path, Nil)
    (0 to 12).foreach { i =>
      t.write(Seq(i.toLong).toDF("id").coalesce(1),
        if (i == 0) org.apache.spark.sql.SaveMode.Overwrite
        else org.apache.spark.sql.SaveMode.Append)
    }
    val ckpt = logFile(path, f"v${10L}%020d.ckpt.parquet")
    assert(fs.exists(ckpt), "interval checkpoint must exist at v10")
    // the checkpoint IS a plain parquet dataset: one row per live file,
    // stats and vectors as columns — a distributed artifact, not a
    // driver text blob
    val df = spark.read.parquet(ckpt.toString)
    assert(df.columns.toSet == Set("seq", "file", "size", "dv", "stats"))
    assert(df.count() == t.manifestFiles(10).size)
    assert(df.select("file").as[String].collect().toSet ==
      t.manifestFiles(10).toSet)

    // cold reconstruction (cache dropped): checkpoint + action tail must
    // reproduce the exact snapshot the incremental path built
    val filesBefore = t.manifestFiles()
    val statsBefore = t.statsOf(t.currentVersion)
    GraftTable.invalidateSnapshotsFrom(new Path(path).toUri.getPath, 0L)
    assert(t.manifestFiles() == filesBefore)
    assert(t.statsOf(t.currentVersion) == statsBefore)
    assert(t.read().count() == 13)
  }

  test("deletion vectors and stats replay through the action log") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("il_dv").toString
    val fs = hfs(path)
    val t = GraftTable(spark, path, Nil)
    t.write((0 until 100).map(_.toLong).toDF("id").repartition(2))
    t.delete(col("id") < 10L, mergeOnRead = true)
    val vDel = t.currentVersion
    // an append AFTER the vectored delete writes an EMPTY dv sidecar —
    // the surviving vectors carry by replay, not by re-writing
    t.write(Seq(500L).toDF("id").coalesce(1),
      org.apache.spark.sql.SaveMode.Append)
    val dvLines = scala.io.Source.fromInputStream(
      fs.open(logFile(path, f"v${t.currentVersion}%020d.dv.tsv")), "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    assert(dvLines.isEmpty, "append must not re-record surviving vectors")
    assert(t.deletedRowCount() == 10)
    assert(t.read().count() == 91)

    // restore across the vectored delete emits explicit CLEAR entries;
    // replay drops the vectors
    t.restore(0)
    assert(t.deletedRowCount() == 0)
    assert(t.read().count() == 100)
    // stats replay: bounds survive the whole history for every live file
    val stats = t.statsOf(t.currentVersion)
    assert(t.manifestFiles().forall(stats.contains))
    // data skipping still proves emptiness outside the id range
    import org.apache.spark.sql.sources.GreaterThan
    assert(t.dataSkippedFiles(t.currentVersion, Seq(GreaterThan("id", 1000))).isEmpty)
  }

  test("checkpoint() writes the current version's base; a fresh handle rebuilds from it") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("il_force_ckpt").toString
    val fs = hfs(path)
    val t = GraftTable(spark, path, Nil)
    t.write((0 until 100).map(_.toLong).toDF("id").repartition(2))
    t.delete(col("id") < 10L, mergeOnRead = true)
    t.write(Seq(500L).toDF("id").coalesce(1), org.apache.spark.sql.SaveMode.Append)
    val v = t.currentVersion
    val ckpt = logFile(path, f"v$v%020d.ckpt.parquet")
    assert(!fs.exists(ckpt))
    t.checkpoint()
    assert(fs.exists(ckpt))
    val (files, dv, stats) = (t.manifestFiles(v), t.dvOf(v), t.statsOf(v))
    assert(dv.values.flatten.map(_._2).sum == 10 && stats.keySet == files.toSet)
    // without the earlier action records only the checkpoint can serve v
    GraftTable.invalidateSnapshotsFrom(new Path(path).toUri.getPath, 0L)
    (0L until v).foreach(i => fs.delete(logFile(path, f"v$i%020d.actions.tsv"), false))
    val fresh = GraftTable(spark, path)
    assert(fresh.manifestFiles(v) == files)
    assert(fresh.dvOf(v) == dv)
    assert(fresh.statsOf(v) == stats)
    assert(fresh.read().count() == 91)
  }

  test("legacy full-snapshot manifests remain readable and take precedence") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("il_legacy").toString
    val fs = hfs(path)
    val t = GraftTable(spark, path, Nil)
    t.write((0 until 10).map(_.toLong).toDF("id").repartition(2))
    t.write(Seq(99L).toDF("id").coalesce(1), org.apache.spark.sql.SaveMode.Append)
    val v = t.currentVersion
    val files = t.manifestFiles(v)

    // hand-write a pre-r6 full-snapshot manifest for v (the old format:
    // plain newline-separated file list) — the reader must prefer it
    // and reproduce the same snapshot without touching the action log
    val legacy = logFile(path, f"v$v%020d.files")
    val out = fs.create(legacy, true)
    out.write(files.mkString("\n").getBytes("UTF-8")); out.close()
    GraftTable.invalidateSnapshotsFrom(new Path(path).toUri.getPath, 0L)
    assert(t.manifestFiles(v) == files)
    assert(t.read().count() == 11)
  }

  test("log truncation checkpoints the oldest retained version first") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("il_trunc").toString
    val fs = hfs(path)
    val t = GraftTable(spark, path, Nil)
    (0 to 24).foreach { i =>
      t.write(Seq(i.toLong).toDF("id").coalesce(1),
        if (i == 0) org.apache.spark.sql.SaveMode.Overwrite
        else org.apache.spark.sql.SaveMode.Append)
    }
    assert(t.currentVersion == 24)
    val dropped = t.cleanupLog(keepVersions = 5)
    assert(dropped == 20)
    // oldest retained version carries its own base...
    val oldest = 24L - 5L + 1L
    assert(fs.exists(logFile(path, f"v$oldest%020d.ckpt.parquet")) ||
      fs.exists(logFile(path, f"v$oldest%020d.files")))
    // ...so every retained version still reconstructs, cold
    GraftTable.invalidateSnapshotsFrom(new Path(path).toUri.getPath, 0L)
    (oldest to 24L).foreach { v =>
      assert(t.readVersion(v).count() == v + 1)
    }
    // dropped versions are gone (the documented retention contract)
    assert(!t.hasVersion(0))
    intercept[IllegalStateException] { t.readVersion(3) }
  }
}
