package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit-claim seam: how a writer takes exclusive ownership of
  * manifest version `v` before computing and publishing it. The whole
  * ACID story of the table rests on this one primitive — "create this
  * claim file iff it does not exist, atomically" — and whether that
  * primitive exists depends on the store:
  *
  *   - HDFS, GCS, Azure ABFS: create-no-overwrite is atomic — use
  *     [[AtomicCreateLogStore]] (the default).
  *   - Local filesystem: Hadoop's `RawLocalFileSystem.create(path,
  *     overwrite=false)` is check-then-act, NOT atomic —
  *     [[AtomicCreateLogStore]] detects the local scheme and drops to
  *     `File.createNewFile()` (O_EXCL) instead.
  *   - S3: historically HEAD-then-PUT (not atomic). With S3
  *     conditional writes (`If-None-Match: *`, supported by S3 since
  *     late 2024 and surfaced by recent Hadoop S3A releases as a
  *     conditional-create option), the default store is correct. On a
  *     stack without conditional writes, configure
  *     [[SingleDriverLogStore]] and route all writers through one
  *     driver JVM — the same deployment contract Delta documents for
  *     its S3 single-driver LogStore.
  *
  * Selected per session via `spark.graft.logStore`:
  * `"atomic"` (default), `"single-driver"`, or a fully-qualified class
  * name with a no-arg constructor for custom stores.
  *
  * Reference: the reference pipeline inherits exactly this seam from
  * delta-spark's LogStore abstraction (requirements.txt:2); this is the
  * clean-room equivalent.
  */
trait LogStore {

  /** Create `path` iff it does not already exist, as one atomic
    * observable step. Throws [[GraftTable.CommitConflictException]]
    * when the path is already held by another writer. Implementations
    * must guarantee that of N concurrent callers on the same path, at
    * most one returns normally. */
  def createExclusive(fs: FileSystem, path: Path): Unit

  /** Release a claim previously won via [[createExclusive]] whose commit
    * did NOT land, so the same version slot can be retried. Called by
    * the commit failure sweep alongside deleting the claim file. Stores
    * whose only state is the claim file itself need nothing here; a
    * store holding JVM-side claim state (e.g. [[SingleDriverLogStore]]'s
    * registry) must forget `path`, otherwise the first recoverable
    * commit failure (a CHECK-constraint violation, say) wedges the slot
    * forever: retries of version v keep throwing "claimed in this JVM"
    * even though the claim file is gone. */
  def release(fs: FileSystem, path: Path): Unit = ()
}

/** Default store: relies on the filesystem's own atomic
  * create-no-overwrite (HDFS/GCS/ABFS/S3-with-conditional-writes);
  * local paths use O_EXCL via `File.createNewFile`, because Hadoop's
  * local `create(path, false)` is check-then-act. On a store whose
  * `create(path, overwrite=false)` is NOT atomic, two racing claimers
  * can both succeed — that store must not use this implementation
  * (see [[SingleDriverLogStore]]). */
object AtomicCreateLogStore extends LogStore {
  override def createExclusive(fs: FileSystem, path: Path): Unit = {
    val conflict = () => new GraftTable.CommitConflictException(
      s"version already claimed by a concurrent writer ($path)")
    fs match {
      case l: org.apache.hadoop.fs.LocalFileSystem =>
        val f = l.getRaw.asInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
          .pathToFile(path)
        if (!f.createNewFile()) throw conflict()
      case other =>
        try other.create(path, false).close()
        catch { case _: java.io.IOException => throw conflict() }
    }
  }
}

/** Fallback for stores WITHOUT atomic create-no-overwrite (plain S3A):
  * a JVM-wide claim registry is the real mutex — concurrent claimers in
  * the same driver JVM serialize through it — and an existence probe
  * rejects claim files left by earlier JVMs. Correct only under the
  * single-driver deployment contract: every writer to the table runs in
  * this JVM (Delta's S3 single-driver LogStore carries the same
  * caveat). The registry grows by one qualified path per successful
  * claim for the JVM's lifetime — bounded by the number of commits this
  * driver performs. */
object SingleDriverLogStore extends LogStore {
  private val claimed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  override def createExclusive(fs: FileSystem, path: Path): Unit = {
    def conflict(why: String) = new GraftTable.CommitConflictException(
      s"version already claimed by a concurrent writer ($path): $why")
    val key = fs.makeQualified(path).toString
    if (!claimed.add(key)) throw conflict("claimed in this JVM")
    var ok = false
    try {
      if (fs.exists(path)) throw conflict("claim file already exists")
      // overwrite=false still requested — a store that CAN enforce it
      // keeps its own guarantee as a second line of defense
      try fs.create(path, false).close()
      catch { case _: java.io.IOException => throw conflict("create failed") }
      ok = true
    } finally if (!ok) claimed.remove(key)
  }

  /** The registry IS this store's mutex — dropping the key is what
    * makes a failed commit's version slot claimable again. */
  override def release(fs: FileSystem, path: Path): Unit =
    claimed.remove(fs.makeQualified(path).toString)
}

object LogStore {
  /** Session conf key selecting the commit-claim implementation. */
  val ConfKey = "spark.graft.logStore"

  /** Publish `bytes` at `path` in one observable step: write a hidden
    * temp file beside it, then rename it into place (replacing any file
    * already there). Every log write goes through here — commit
    * sidecars and the `.json` marker, txn checkpoints, bloom sidecars.
    * Throws [[GraftTable.CommitConflictException]] when the rename
    * fails.
    *
    * Local paths use `java.nio` directly, the same special case
    * [[AtomicCreateLogStore]] makes: Hadoop's local `create` runs a
    * `chmod` process for the file and again for its `.crc` when the
    * native library is absent. An older `.crc` of a replaced file is
    * deleted before the move, since the local filesystem verifies reads
    * against it. Other stores keep `create` + `rename`. */
  def writeAtomic(fs: FileSystem, path: Path, bytes: Array[Byte]): Unit = {
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    def conflict() = new GraftTable.CommitConflictException(
      s"commit conflict renaming to $path")
    fs match {
      case l: org.apache.hadoop.fs.LocalFileSystem =>
        import java.nio.file.{Files, StandardCopyOption}
        val raw = l.getRaw.asInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
        val target = raw.pathToFile(path).toPath
        val tmpFile = raw.pathToFile(tmp).toPath
        Files.createDirectories(target.getParent)
        Files.write(tmpFile, bytes)
        Files.deleteIfExists(raw.pathToFile(l.getChecksumFile(path)).toPath)
        try Files.move(tmpFile, target, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException =>
          Files.deleteIfExists(tmpFile)
          throw conflict()
        }
      case other =>
        val out = other.create(tmp, true)
        try out.write(bytes) finally out.close()
        if (!other.rename(tmp, path)) {
          other.delete(tmp, false)
          throw conflict()
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
