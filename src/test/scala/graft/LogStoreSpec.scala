package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import graft.table.{AtomicCreateLogStore, GraftTable, LogStore, SingleDriverLogStore}

/** The commit seam (LogStore.scala). The load-bearing test is the
  * non-atomic-store simulation: a filesystem whose `rename` silently
  * replaces an existing target (the copy-then-delete shape of plain S3)
  * lets TWO writers of the same version both "succeed" under the default
  * store — and the single-driver store catches exactly that race. The
  * fault-injection tests kill a commit inside the seam and check that
  * nothing it left blocks the next writer. */
class LogStoreSpec extends SparkSpec {

  /** Copy-then-delete store: create-no-overwrite silently overwrites, and
    * the raw local `rename` replaces its target. All public `create` entry
    * points funnel through the permission variant, so forcing
    * `overwrite=true` there simulates the race deterministically. */
  private class NonAtomicFs extends RawLocalFileSystem {
    override def create(f: Path, overwrite: Boolean, bufferSize: Int,
        replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream =
      super.create(f, true, bufferSize, replication, blockSize, progress)
    override def create(f: Path, permission: FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long, progress: Progressable): FSDataOutputStream =
      super.create(f, permission, true, bufferSize, replication,
        blockSize, progress)
  }

  private def nonAtomicFs(): NonAtomicFs = {
    val fs = new NonAtomicFs
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def freshRecord(prefix: String): Path =
    new Path(graft.GraftTmp.dir(prefix).toString,
      "v00000000000000000007.json")

  private def bytes(s: String) = s.getBytes("UTF-8")

  private def text(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("non-atomic create lets two claimers both succeed under the default store") {
    val fs = nonAtomicFs()
    val record = freshRecord("ls_hazard")
    // the hazard the seam exists for: both writers believe they own v7
    AtomicCreateLogStore.putIfAbsent(fs, record, bytes("first"))
    AtomicCreateLogStore.putIfAbsent(fs, record, bytes("second"))
    assert(text(fs, record) == "second", "the second put replaced the first")
  }

  test("single-driver store rejects the second claimer on the same non-atomic store") {
    val fs = nonAtomicFs()
    val record = freshRecord("ls_single")
    SingleDriverLogStore.putIfAbsent(fs, record, bytes("first"))
    val e = intercept[GraftTable.CommitConflictException] {
      SingleDriverLogStore.putIfAbsent(fs, record, bytes("second"))
    }
    assert(e.getMessage.contains(record.getName))
    assert(text(fs, record) == "first")
  }

  test("single-driver store rejects a claim file left by an earlier JVM") {
    val fs = nonAtomicFs()
    val record = freshRecord("ls_stale")
    // another process's record: the file exists, this JVM never wrote it
    fs.create(record, true).close()
    intercept[GraftTable.CommitConflictException] {
      SingleDriverLogStore.putIfAbsent(fs, record, bytes("mine"))
    }
  }

  test("single-driver store admits exactly one of N concurrent claimers") {
    val fs = nonAtomicFs()
    val record = freshRecord("ls_race")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        gate.await()
        try { SingleDriverLogStore.putIfAbsent(fs, record, bytes(s"w$i")); outcomes.add(true) }
        catch { case _: GraftTable.CommitConflictException => outcomes.add(false) }
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(outcomes.asScala.count(identity) == 1)
  }

  test("atomic store stays exclusive on the real local filesystem (O_EXCL path)") {
    val spark0 = spark // force session init so Hadoop conf exists
    val record = freshRecord("ls_local")
    val fs = record.getFileSystem(spark0.sessionState.newHadoopConf())
    AtomicCreateLogStore.putIfAbsent(fs, record, bytes("first"))
    intercept[GraftTable.CommitConflictException] {
      AtomicCreateLogStore.putIfAbsent(fs, record, bytes("second"))
    }
    // the loser's bytes never show, and it leaves no temp file behind
    assert(text(fs, record) == "first")
    assert(new java.io.File(record.getParent.toUri.getPath).list().toSeq == Seq(record.getName))
  }

  test("resolver: default atomic, conf-selected single-driver, custom class") {
    assert(LogStore.resolve(spark) eq AtomicCreateLogStore)
    spark.conf.set(LogStore.ConfKey, "single-driver")
    try assert(LogStore.resolve(spark) eq SingleDriverLogStore)
    finally spark.conf.unset(LogStore.ConfKey)
    spark.conf.set(LogStore.ConfKey, classOf[CustomTestLogStore].getName)
    try assert(LogStore.resolve(spark).isInstanceOf[CustomTestLogStore])
    finally spark.conf.unset(LogStore.ConfKey)
  }

  test("a failed single-driver put leaves the version free for the next put") {
    val record = freshRecord("ls_release")
    // a store whose first temp write dies: the put throws mid-way
    var failures = 1
    val flaky = new NonAtomicFs {
      override def create(f: Path, overwrite: Boolean, bufferSize: Int,
          replication: Short, blockSize: Long,
          progress: Progressable): FSDataOutputStream = {
        if (failures > 0) { failures -= 1; throw new java.io.IOException("disk gone") }
        super.create(f, overwrite, bufferSize, replication, blockSize, progress)
      }
    }
    flaky.initialize(URI.create("file:///"), new Configuration())
    intercept[java.io.IOException] {
      SingleDriverLogStore.putIfAbsent(flaky, record, bytes("lost"))
    }
    assert(!flaky.exists(record))
    // no JVM-side state survives the failure: the same version publishes
    SingleDriverLogStore.putIfAbsent(flaky, record, bytes("landed"))
    assert(text(flaky, record) == "landed")
  }

  test("a post-claim commit failure does not wedge the table under the single-driver store") {
    spark.conf.set(LogStore.ConfKey, classOf[FaultyLogStore].getName)
    FaultyLogStore.reset(SingleDriverLogStore)
    try {
      val path = graft.GraftTmp.dir("ls_wedge").toString
      val t = GraftTable(spark, path)
      val df = spark.range(50).select(col("id"), (col("id") % 5).as("k"))
      t.write(df) // v0
      // the commit dies inside the put, after its temp bytes are written
      FaultyLogStore.fault = FaultyLogStore.AfterTemp
      intercept[java.io.IOException] {
        t.write(df, org.apache.spark.sql.SaveMode.Append)
      }
      FaultyLogStore.fault = FaultyLogStore.NoFault
      // the next write takes version 1 on its first put
      t.write(df.filter(col("k") === 0), org.apache.spark.sql.SaveMode.Append)
      assert(t.read().count() == 60)
      assert(t.currentVersion == 1)
    } finally { spark.conf.unset(LogStore.ConfKey); FaultyLogStore.reset(AtomicCreateLogStore) }
  }

  test("table commits run end-to-end under the single-driver store") {
    spark.conf.set(LogStore.ConfKey, "single-driver")
    try {
      val path = graft.GraftTmp.dir("ls_table").toString
      val t = GraftTable(spark, path)
      val df = spark.range(100).select(col("id"), (col("id") % 5).as("k"))
      t.write(df)
      t.write(df.filter(col("k") === 0),
        org.apache.spark.sql.SaveMode.Append)
      assert(t.read().count() == 120)
      assert(t.history().count() >= 2)
    } finally spark.conf.unset(LogStore.ConfKey)
  }

  // ---- fault injection through the seam --------------------------------

  private def logEntries(path: String): Seq[String] =
    new java.io.File(path, "_graft_log").list().toSeq.sorted

  private def dataFilesOnDisk(path: String): Set[String] = {
    val root = new java.io.File(path).toPath
    java.nio.file.Files.walk(root).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_graft_log"))
      .map(p => root.relativize(p).toString).toSet
  }

  Seq(FaultyLogStore.BeforePut -> "before the put",
      FaultyLogStore.AfterTemp -> "after the temp bytes, before publishing").foreach {
    case (fault, where) =>
      test(s"a commit killed $where: readers see v-1, the next writer commits v at once, vacuum reclaims") {
        spark.conf.set(LogStore.ConfKey, classOf[FaultyLogStore].getName)
        FaultyLogStore.reset(AtomicCreateLogStore)
        try {
          val path = graft.GraftTmp.dir("ls_fault").toString
          val t = GraftTable(spark, path, Seq("k"))
          val df = spark.range(40).select(col("id"), (col("id") % 4).as("k"))
          t.write(df)                                                    // v0
          val before = t.manifestFiles()
          FaultyLogStore.fault = fault
          intercept[java.io.IOException] {
            t.write(df, org.apache.spark.sql.SaveMode.Append)            // dies
          }
          FaultyLogStore.fault = FaultyLogStore.NoFault
          // readers, fresh handles included, still see v0
          GraftTable.invalidateSnapshotsFrom(new Path(path).toUri.getPath, 0L)
          val fresh = GraftTable(spark, path)
          assert(fresh.currentVersion == 0 && fresh.manifestFiles() == before)
          assert(fresh.read().count() == 40)
          val orphans = dataFilesOnDisk(path) -- before
          assert(orphans.nonEmpty, "the killed write left its data files")
          val temps = logEntries(path).filter(_.endsWith(".tmp"))
          assert(temps.nonEmpty == (fault == FaultyLogStore.AfterTemp), temps)
          // the next writer publishes v1 on its first put: no conflict, no backoff
          val puts = FaultyLogStore.puts.get
          t.write(df.filter(col("k") === 0), org.apache.spark.sql.SaveMode.Append)
          assert(FaultyLogStore.puts.get == puts + 1)
          assert(t.currentVersion == 1 && t.read().count() == 50)
          // vacuum(0) reclaims the orphaned data files and the temp file
          t.vacuum(0.0, retentionCheckEnabled = false)
          assert(dataFilesOnDisk(path) == t.manifestFiles().toSet)
          assert(!logEntries(path).exists(_.endsWith(".tmp")), logEntries(path))
          assert(t.read().count() == 50)
        } finally { spark.conf.unset(LogStore.ConfKey); FaultyLogStore.reset(AtomicCreateLogStore) }
      }
  }

  test("a leftover per-version file of a killed writer does not block the next commit") {
    val path = graft.GraftTmp.dir("ls_leftover").toString
    val t = GraftTable(spark, path)
    val df = spark.range(10).toDF("id")
    t.write(df)                                                          // v0
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    // what a writer killed mid-commit leaves at version 1: a claim and a
    // half-written sidecar, but no record
    Seq("claim", "actions.tsv").foreach(ext =>
      fs.create(new Path(path, f"_graft_log/v${1L}%020d.$ext"), true).close())
    val started = System.nanoTime()
    assert(t.write(df, org.apache.spark.sql.SaveMode.Append) == 1)
    assert((System.nanoTime() - started) / 1e9 < 20, "the commit must not wait out a retry budget")
    assert(t.read().count() == 20)
    assert(GraftTable(spark, path).read().count() == 20, "a fresh handle reads v1 too")
  }
}

/** No-arg-constructible store for the resolver's custom-class path. */
class CustomTestLogStore extends LogStore {
  override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem, path: Path,
      bytes: Array[Byte]): Unit = AtomicCreateLogStore.putIfAbsent(fs, path, bytes)
}

/** A store that dies where told: before the put, or after writing the
  * put's temp file and before publishing it. Otherwise it delegates. */
class FaultyLogStore extends LogStore {
  import FaultyLogStore._
  override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem, path: Path,
      bytes: Array[Byte]): Unit = {
    puts.incrementAndGet()
    fault match {
      case BeforePut => throw new java.io.IOException("injected: killed before the put")
      case AfterTemp =>
        LogStore.writeTemp(fs, path, bytes)
        throw new java.io.IOException("injected: killed before publishing")
      case _ => delegate.putIfAbsent(fs, path, bytes)
    }
  }
}

object FaultyLogStore {
  val NoFault = 0
  val BeforePut = 1
  val AfterTemp = 2
  @volatile var fault: Int = NoFault
  @volatile var delegate: LogStore = AtomicCreateLogStore
  val puts = new java.util.concurrent.atomic.AtomicInteger()
  def reset(to: LogStore): Unit = { fault = NoFault; delegate = to }
}
