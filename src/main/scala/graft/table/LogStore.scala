package graft.table

import java.nio.file.{FileAlreadyExistsException, Files, StandardCopyOption}

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The commit seam: how a writer publishes the record of version `v`.
  * A commit IS its record — `_graft_log/v<N>.json` appearing whole — so
  * the table's ACID story rests on one primitive, "publish these bytes at
  * this path iff nothing is there, all or nothing", and whether the store
  * has it:
  *
  *   - Local filesystem: the bytes go to a hidden temp file beside the
  *     record, then `Files.createLink` publishes them; link(2) is atomic
  *     and fails when the target exists ([[AtomicCreateLogStore]], the
  *     default).
  *   - HDFS, GCS, Azure ABFS: temp file, then `rename`, which does not
  *     replace an existing target (same default store).
  *   - S3: rename is copy + delete and replaces silently. Configure
  *     [[SingleDriverLogStore]] and route every writer through one driver
  *     JVM — the contract Delta documents for its S3 single-driver
  *     LogStore — or plug in a store whose put is a conditional PUT
  *     (`If-None-Match: *`).
  *
  * A writer that dies mid-put leaves at most its temp file, which VACUUM
  * sweeps; it never leaves anything that blocks the next commit.
  *
  * Selected per session via `spark.graft.logStore`: `"atomic"` (default),
  * `"single-driver"`, or a fully-qualified class name with a no-arg
  * constructor for custom stores. Reference: the reference pipeline
  * inherits this seam from delta-spark's LogStore (requirements.txt:2);
  * this is the clean-room equivalent.
  */
trait LogStore {

  /** Publish `bytes` at `path` iff no file is there. Returning normally
    * means all the bytes are visible at `path`; throwing means none are
    * (a temp file may remain). Throws
    * [[GraftTable.CommitConflictException]] when `path` already exists;
    * of N concurrent callers on one path, at most one returns normally. */
  def putIfAbsent(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit
}

/** Default store: a temp file published by an exclusive link (local) or
  * a non-replacing rename (HDFS/GCS/ABFS). A store whose rename replaces
  * its target must not use it (see [[SingleDriverLogStore]]). */
object AtomicCreateLogStore extends LogStore {
  override def putIfAbsent(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit =
    LogStore.publish(fs, LogStore.writeTemp(fs, path, bytes), path)
}

/** Fallback for stores WITHOUT a non-replacing publish (plain S3A): a JVM
  * lock held for the whole put serializes the writers of this driver, and
  * an existence probe under it rejects a record that is already there.
  * Correct only under the single-driver deployment contract: every
  * writer to the table runs in this JVM. */
object SingleDriverLogStore extends LogStore {
  override def putIfAbsent(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit =
    synchronized {
      if (fs.exists(path)) throw LogStore.conflict(path)
      AtomicCreateLogStore.putIfAbsent(fs, path, bytes)
    }
}

object LogStore {
  /** Session conf key selecting the store. */
  val ConfKey = "spark.graft.logStore"

  def conflict(path: Path) = new GraftTable.CommitConflictException(
    s"version already committed by a concurrent writer ($path)")

  // Local paths use java.nio directly: Hadoop's local `create` runs a
  // `chmod` process for the file and again for its `.crc` when the native
  // library is absent, and the log needs no checksum files.
  private def raw(l: LocalFileSystem) = l.getRaw.asInstanceOf[RawLocalFileSystem]

  /** Write `bytes` to a fresh hidden temp file beside `path`
    * (`.<name>.<uuid>.tmp`, the shape VACUUM sweeps) and return it. */
  def writeTemp(fs: FileSystem, path: Path, bytes: Array[Byte]): Path = {
    val tmp = new Path(path.getParent, s".${path.getName}.${java.util.UUID.randomUUID}.tmp")
    fs match {
      case l: LocalFileSystem =>
        val f = raw(l).pathToFile(tmp).toPath
        Files.createDirectories(f.getParent)
        Files.write(f, bytes)
      case other =>
        val out = other.create(tmp, false)
        try out.write(bytes) finally out.close()
    }
    tmp
  }

  /** Move temp file `tmp` to `path` iff `path` does not exist; a losing
    * `tmp` is deleted. */
  def publish(fs: FileSystem, tmp: Path, path: Path): Unit = fs match {
    case l: LocalFileSystem =>
      val r = raw(l)
      val t = r.pathToFile(tmp).toPath
      try Files.createLink(r.pathToFile(path).toPath, t)
      catch { case _: FileAlreadyExistsException => throw conflict(path) }
      finally Files.deleteIfExists(t)
    case other =>
      if (!other.rename(tmp, path)) {
        other.delete(tmp, false)
        throw (if (other.exists(path)) conflict(path)
          else new java.io.IOException(s"could not publish $path"))
      }
  }

  /** Publish `bytes` at `path` in one observable step, REPLACING any file
    * there — for derived files that are rewritten whole (bloom sidecars).
    * An older `.crc` of a replaced local file is deleted before the move,
    * since the local filesystem verifies reads against it. */
  def writeAtomic(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    val tmp = writeTemp(fs, path, bytes)
    fs match {
      case l: LocalFileSystem =>
        Files.deleteIfExists(raw(l).pathToFile(l.getChecksumFile(path)).toPath)
        Files.move(raw(l).pathToFile(tmp).toPath, raw(l).pathToFile(path).toPath,
          StandardCopyOption.ATOMIC_MOVE)
      case other =>
        if (!other.rename(tmp, path)) {
          other.delete(tmp, false)
          throw conflict(path)
        }
    }
  }

  def resolve(spark: SparkSession): LogStore =
    spark.conf.get(ConfKey, "atomic") match {
      case "atomic" => AtomicCreateLogStore
      case "single-driver" => SingleDriverLogStore
      case cls => Class.forName(cls).getDeclaredConstructor()
        .newInstance().asInstanceOf[LogStore]
    }
}
