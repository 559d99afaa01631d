package graft

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.BarSource
import graft.table.{GraftTable, LogStore}
import graft.transform.Enrich

/** How the table layer lists and writes files: `GraftTable.listTree`
  * yields what `fs.listFiles(_, recursive = true)` did, and
  * `LogStore.writeAtomic` leaves no `.crc` beside the log files it
  * writes on the local filesystem, while a log whose older files do
  * carry one stays readable, committable and vacuumable. */
class LogWriteSpec extends SparkSpec {

  private def bars: DataFrame = Enrich.withTimeColumns(
    BarSource.distributedHarvest(spark, Seq("AAPL", "MSFT", "NVDA"),
      BarSource.tradingDays(java.time.LocalDate.of(2024, 1, 8), 2), 11L))

  private def localFs(path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The `.crc` files beside the log files and bloom sidecars (the
    * manifest checkpoint is a Spark-written parquet directory and keeps
    * Spark's own). */
  private def logCrcs(path: String): Set[String] =
    Seq("_graft_log", "_graft_log/index").flatMap { d =>
      Option(new java.io.File(path, d).list()).toSeq.flatten.map(n => s"$d/$n")
    }.filter(_.endsWith(".crc")).toSet

  private def sorted(df: DataFrame): Seq[String] =
    df.select("ticker", "timestamp_ms", "close", "volume").collect()
      .map(_.mkString("|")).sorted.toSeq

  private def write(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  test("listTree yields what listFiles(recursive) yields, hidden files and staging leftovers included") {
    val path = GraftTmp.dir("list_tree").toString
    val t = GraftTable(spark, path, Seq("ticker", "trade_date"))
    t.write(bars)
    t.delete(col("ticker") === "MSFT")
    val fs = localFs(path)
    val part = new Path(path, "ticker=AAPL/trade_date=2024-01-08")
    write(fs, new Path(path, ".staging-leftover/ticker=AAPL/part-0.parquet"), "x")
    write(fs, new Path(part, ".hidden.parquet"), "x")
    write(fs, new Path(part, "_SUCCESS"), "")
    write(fs, new Path(path, "_graft_log/stray.parquet"), "x")

    def key(s: org.apache.hadoop.fs.FileStatus) =
      (s.getPath.toString, s.getLen, s.getModificationTime)
    val it = fs.listFiles(new Path(path), true)
    val listed = Iterator.continually(it).takeWhile(_.hasNext).map(i => key(i.next())).toSeq
    assert(GraftTable.listTree(fs, new Path(path)).map(key) == listed)

    // the data-file filter VACUUM and CONVERT used over listFiles
    val rootUri = new Path(path).toUri.getPath
    val expected = listed.map { case (p, len, mtime) => (new Path(p).toUri.getPath, len, mtime) }
      .collect { case (p, len, mtime) if p.endsWith(".parquet") && !p.contains("_graft_log") =>
        (p.stripPrefix(rootUri).stripPrefix("/"), len, mtime)
      }
    assert(expected.exists(_._1.endsWith("/.hidden.parquet")))
    assert(expected.exists(_._1.startsWith(".staging-leftover/")))
    assert(t.listDataFiles() == expected)
  }

  test("table operations on a local table write no .crc into the log; reads are unchanged") {
    val path = GraftTmp.dir("log_no_crc").toString
    val t = GraftTable(spark, path, Seq("ticker", "trade_date"))
    val src = bars.cache()
    t.write(src)                                                       // v0
    t.setProperties(Map("graft.checkpointInterval" -> "2",
      "graft.bloom.columns" -> "volume"))                              // v1
    assert(logCrcs(path).isEmpty, "after the first commits")
    val fix = src.filter(col("timestamp_ms") % 5 === 0)
      .withColumn("volume", col("volume") + 1)
    val day2 = Enrich.withTimeColumns(BarSource.distributedHarvest(spark,
      Seq("AAPL", "MSFT"), BarSource.tradingDays(java.time.LocalDate.of(2024, 1, 10), 1), 12L))
    t.write(day2, org.apache.spark.sql.SaveMode.Append)               // v2 (checkpoint)
    t.merge(fix, Seq("ticker", "timestamp_ms"))                        // v3
    t.delete(col("ticker") === "NVDA")                                 // v4 (checkpoint)
    t.optimize(Seq("timestamp_ms"))                                    // v5
    val merged = src.unionByName(day2).as("o")
      .join(fix.as("f"), Seq("ticker", "timestamp_ms"), "left")
      .select(col("ticker"), col("timestamp_ms"), col("o.close").as("close"),
        coalesce(col("f.volume"), col("o.volume")).as("volume"))
    val live = merged.filter(col("ticker") =!= "NVDA")
    Seq(0L -> src, 2L -> src.unionByName(day2), 3L -> merged).foreach { case (v, df) =>
      assert(sorted(t.readVersion(v)) == sorted(df), s"v$v")
    }
    assert(sorted(t.read()) == sorted(live))
    t.vacuum(0.0, retentionCheckEnabled = false)                       // v6
    assert(sorted(t.read()) == sorted(live))
    val hist = t.history().select("version", "operation").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.reverse
    assert(hist.map(_._1) == (0L to 6L))
    val ops = hist.map(_._2)
    assert(Seq(ops(0), ops(1), ops(2), ops(4), ops(5), ops(6)) ==
      Seq("WRITE", "SET TBLPROPERTIES", "APPEND", "DELETE", "OPTIMIZE", "VACUUM"))
    assert(ops(3).contains("MERGE"), ops(3))
    assert(new java.io.File(path, "_graft_log/index").list().nonEmpty, "bloom sidecars")
    assert(new java.io.File(path, "_graft_log/v00000000000000000004.ckpt.parquet").isDirectory)
    assert(logCrcs(path).isEmpty, s"log .crc files: ${logCrcs(path)}")
    src.unpersist()
  }

  test("a log whose older files carry .crc files stays readable, committable and vacuumable") {
    val path = GraftTmp.dir("log_old_crc").toString
    val t = GraftTable(spark, path, Seq("ticker", "trade_date"))
    t.write(bars)
    t.delete(col("ticker") === "MSFT")
    val rows = sorted(t.read())
    // rewrite every log file through Hadoop's checksummed create
    val fs = localFs(path)
    val logFiles = new java.io.File(path, "_graft_log").listFiles().filter(_.isFile)
    logFiles.foreach { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val out = fs.create(new Path(f.toURI), true)
      try out.write(bytes) finally out.close()
    }
    val oldCrcs = logCrcs(path)
    assert(oldCrcs.size == logFiles.length)
    val fresh = GraftTable(spark, path, Seq("ticker", "trade_date"))
    assert(sorted(fresh.read()) == rows)
    fresh.optimize(Seq("timestamp_ms"))
    fresh.vacuum(0.0, retentionCheckEnabled = false)
    assert(sorted(fresh.read()) == rows)
    assert(fresh.history().count() == fresh.currentVersion + 1)
    assert(fresh.currentVersion == 3)
    assert(logCrcs(path).subsetOf(oldCrcs), "only the old files keep one")
  }

  test("writeAtomic replaces a checksummed file without leaving its .crc; other stores rename") {
    val dir = GraftTmp.dir("write_atomic").toString
    val local = localFs(dir).asInstanceOf[LocalFileSystem]
    val p = new Path(dir, "v.tsv")
    write(local, p, "old")
    assert(local.exists(local.getChecksumFile(p)))
    LogStore.writeAtomic(local, p, "a longer replacement".getBytes(StandardCharsets.UTF_8))
    assert(!local.exists(local.getChecksumFile(p)))
    val in = local.open(p)
    try assert(scala.io.Source.fromInputStream(in, "UTF-8").mkString == "a longer replacement")
    finally in.close()

    val raw = new RawLocalFileSystem
    raw.initialize(java.net.URI.create("file:///"), spark.sessionState.newHadoopConf())
    val q = new Path(dir, "sub/w.tsv")
    LogStore.writeAtomic(raw, q, "one".getBytes(StandardCharsets.UTF_8))
    LogStore.writeAtomic(raw, q, "two".getBytes(StandardCharsets.UTF_8))
    assert(new String(java.nio.file.Files.readAllBytes(raw.pathToFile(q).toPath),
      StandardCharsets.UTF_8) == "two")
    assert(new java.io.File(dir, "sub").list().toSeq == Seq("w.tsv"))
  }
}
