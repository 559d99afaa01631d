package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.table.GraftTable

/** The incremental commit log: each commit writes one record of
  * add/remove ACTIONS (O(delta) log I/O), snapshots reconstruct from
  * periodic parquet checkpoints (DataFrame-written/read) plus the record
  * tail, a version-1 log converts once, and log truncation preserves
  * reconstructability of every retained version.
  */
class IncrementalLogSpec extends SparkSpec {

  private def logFile(path: String, name: String) =
    new Path(s"$path/_graft_log/$name")

  private def hfs(path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The JSON lines of commit `v`'s record, by action kind. */
  private def recordLines(path: String, v: Long): Seq[(String, String)] = {
    val in = hfs(path).open(logFile(path, f"v$v%020d.json"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty)
      .map(l => l.drop(2).takeWhile(_ != '"') -> l).toList
    finally in.close()
  }

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
      val kinds = recordLines(path, v).map(_._1)
      assert(kinds == Seq("commitInfo", "add"),
        s"v$v: expected the commit info and exactly one add action, got $kinds")
    }
    assert(new java.io.File(path, "_graft_log").list()
      .count(_.endsWith(".json")) == 101, "one record per commit, nothing else per version")

    // stats likewise ride only the ADDED file's action
    val added = t.readRecord(50).adds
    assert(added.size == 1 && added.head.stats.contains("id"))

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

    // every add action carries its byte size
    (0L to 1L).foreach { v =>
      val adds = t.readRecord(v).adds
      assert(adds.nonEmpty)
      adds.foreach(a => assert(a.size.exists(_ > 0), s"sized add expected: $a"))
      assert(recordLines(path, v).collect { case ("add", l) => l }
        .forall(_.contains("\"size\":")))
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
    // stats and vectors as columns, plus one state row (seq -1) with the
    // metadata — a distributed artifact, not a driver text blob
    val df = spark.read.parquet(ckpt.toString)
    assert(df.columns.toSet == Set("seq", "file", "size", "dv", "stats", "state"))
    val files = df.filter(col("seq") >= 0)
    assert(files.count() == t.manifestFiles(10).size)
    assert(files.select("file").as[String].collect().toSet ==
      t.manifestFiles(10).toSet)
    assert(df.filter(col("seq") === -1).select("state").as[String].head().contains("metaData"))

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
    assert(recordLines(path, vDel).exists(_._1 == "dv"))
    // an append AFTER the vectored delete records NO dv action — the
    // surviving vectors carry by replay, not by re-writing
    t.write(Seq(500L).toDF("id").coalesce(1),
      org.apache.spark.sql.SaveMode.Append)
    assert(!recordLines(path, t.currentVersion).exists(_._1 == "dv"),
      "append must not re-record surviving vectors")
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
    // without the earlier records only the checkpoint can serve v
    GraftTable.invalidateSnapshotsFrom(new Path(path).toUri.getPath, 0L)
    (0L until v).foreach(i => fs.delete(logFile(path, f"v$i%020d.json"), false))
    val fresh = GraftTable(spark, path)
    assert(fresh.manifestFiles(v) == files)
    assert(fresh.dvOf(v) == dv)
    assert(fresh.statsOf(v) == stats)
    assert(fresh.read().count() == 91)
  }

  test("a version-1 log converts once into a v2 checkpoint; the next commit writes v2") {
    val path = graft.GraftTmp.dir("il_v1").toString
    val fs = hfs(path)
    // two data files, placed where a v1 commit would have put them
    def dataFile(name: String, from: Long, until: Long): Long = {
      val tmp = s"$path/.tmp-$name"
      spark.range(from, until).select(col("id"), (col("id") % 2).as("k"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val target = new java.io.File(path, name)
      assert(part.renameTo(target))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      target.length()
    }
    val sizeA = dataFile("part-a.parquet", 0, 10)
    val sizeB = dataFile("part-b.parquet", 10, 15)
    def put(v: Long, ext: String, body: String): Unit = {
      val out = fs.create(logFile(path, f"v$v%020d.$ext"), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val schema = """{"type":"struct","fields":[""" +
      """{"name":"id","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"k","type":"long","nullable":true,"metadata":{}}]}"""
    val statsA = "part-a.parquet\tid\tlong\t0\t9\npart-a.parquet\t\trows\t10\t10"
    val statsB = "part-b.parquet\tid\tlong\t10\t14\npart-b.parquet\t\trows\t5\t5"
    def commit(v: Long, op: String, actions: String, stats: String = "", dv: String = "",
        colmap: String = "", metrics: String = ""): Unit = {
      put(v, "actions.tsv", actions); put(v, "stats.tsv", stats); put(v, "dv.tsv", dv)
      put(v, "schema", schema); put(v, "colmap.tsv", colmap)
      put(v, "constraints.tsv", "pos\tid >= 0"); put(v, "generated.tsv", "")
      put(v, "properties.tsv", "graft.note\ta%20b")
      put(v, "json", s"""{"version":$v,"timestamp":"2024-01-0${v + 1}T00:00:00Z",""" +
        s""""operation":"$op","operationMetrics":{$metrics}}""")
    }
    commit(0, "WRITE", s"a\tpart-a.parquet\t$sizeA", statsA)
    commit(1, "APPEND", s"a\tpart-b.parquet\t$sizeB", statsB,
      metrics = """"txnAppId":"app \"one\"","txnVersion":"7"""")
    commit(2, "DELETE", "", dv = "part-a.parquet\t0:2")
    commit(3, "RENAME COLUMN", "", colmap = "id\tid\ta\nkk\tk\ta")
    put(4, "claim", "")                                  // a killed v1 writer's leftover

    val t = GraftTable(spark, path)
    assert(t.currentVersion == 3)
    assert(t.read().columns.toSeq == Seq("id", "kk"))
    assert(t.read().select("id").collect().map(_.getLong(0)).sorted.toSeq == (2L until 15L))
    assert(t.statsOf(3) == Map(
      "part-a.parquet" -> Map("id" -> (("long", "0", "9")), "" -> (("rows", "10", "10"))),
      "part-b.parquet" -> Map("id" -> (("long", "10", "14")), "" -> (("rows", "5", "5")))))
    assert(t.dvOf(3) == Map("part-a.parquet" -> Seq((0L, 2L))))
    assert(t.constraints == Map("pos" -> "id >= 0"))
    assert(t.properties == Map("graft.note" -> "a b"))
    assert(t.lastTxnVersion("app \"one\"") == 7)
    assert(t.manifestFilesWithSizes(3).toMap ==
      Map("part-a.parquet" -> sizeA, "part-b.parquet" -> sizeB))
    assert(t.commitTimestamp(3).contains(java.time.Instant.parse("2024-01-04T00:00:00Z").toEpochMilli))
    // converted once: a v2 checkpoint at v3, v3's record rewritten, every
    // other v1 file gone — earlier versions are removed, as after cleanupLog
    val log = new java.io.File(path, "_graft_log").list().toSet
    assert(log == Set(f"v${3L}%020d.json", f"v${3L}%020d.ckpt.parquet"), log)
    assert(!t.hasVersion(2))
    assert(recordLines(path, 3).head._1 == "commitInfo")
    // the next commit is a v2 record on top, and a cold handle agrees
    import spark.implicits._
    t.write(Seq((100L, 0L)).toDF("id", "kk"), org.apache.spark.sql.SaveMode.Append)
    assert(recordLines(path, 4).map(_._1) == Seq("commitInfo", "add"))
    GraftTable.invalidateSnapshotsFrom(new Path(path).toUri.getPath, 0L)
    val fresh = GraftTable(spark, path)
    assert(fresh.read().count() == 14)
    assert(fresh.dvOf(4) == t.dvOf(3) && fresh.lastTxnVersion("app \"one\"") == 7)
    assert(fresh.constraints == Map("pos" -> "id >= 0"))
  }

  test("a pre-action v1 file manifest is refused with a clear error") {
    val path = graft.GraftTmp.dir("il_v1_files").toString
    val fs = hfs(path)
    Seq("files" -> "part-a.parquet", "json" ->
        """{"version":0,"timestamp":"2024-01-01T00:00:00Z","operation":"WRITE"}""")
      .foreach { case (ext, body) =>
        val out = fs.create(logFile(path, f"v${0L}%020d.$ext"), true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
    val e = intercept[IllegalStateException](GraftTable(spark, path).currentVersion)
    assert(e.getMessage.contains("no longer reads"), e.getMessage)
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
    assert(fs.exists(logFile(path, f"v$oldest%020d.ckpt.parquet")))
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
