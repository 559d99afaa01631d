package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import graft.table.{BloomIndex, GraftTable}

/** Bloom-filter file index: per-file per-column sidecars prove ABSENCE
  * for equality/IN probes on high-cardinality columns where min/max
  * intervals prove nothing (every file's range spans the probe).
  *
  * Contract under test:
  *  - commit-time build (files ADDED while `graft.bloom.columns` is
  *    set get sidecars inside the commit) and explicit backfill
  *    ([[GraftTable.buildBloomIndex]]) for files that predate the
  *    property;
  *  - pruning is SOUND (never drops a file that holds a matching row —
  *    results identical to an unindexed scan) and EFFECTIVE (a point
  *    probe keeps ~1 of N interleaved files, not all N);
  *  - missing sidecars / unindexed columns / non-equality predicates
  *    degrade to "keep the file";
  *  - RENAME COLUMN keeps the index valid (sidecars are keyed by
  *    physical name; probes re-key through the column map);
  *  - VACUUM deletes a removed file's sidecar with the file and sweeps
  *    orphans, but never a live file's sidecar.
  */
class BloomIndexSpec extends SparkSpec {

  /** `n` rows of (id, name, bucket) spread ROUND-ROBIN across `files`
    * output files: every file's [min, max] of every column spans the
    * full domain, so interval stats can prove nothing and any pruning
    * observed is the bloom index's. */
  private def interleaved(n: Int, files: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, f"name_$i%05d", i % files))
      .toDF("id", "name", "bucket")
      .repartition(files)
  }

  private def fresh(prefix: String): (GraftTable, String) = {
    val path = graft.GraftTmp.dir(prefix).toString
    (GraftTable(spark, path), path)
  }

  private def sidecarCount(path: String): Int = {
    val dir = new java.io.File(s"$path/_graft_log/index")
    if (!dir.exists()) 0
    else dir.listFiles().count(_.getName.endsWith(".bloom"))
  }

  /** Seeded, property-set, backfilled table over `n` rows / `files`
    * files, ready for probing. */
  private def indexed(prefix: String, n: Int, files: Int,
      cols: String = "name,id"): (GraftTable, String) = {
    val (t, path) = fresh(prefix)
    t.write(interleaved(n, files))
    t.setProperties(Map(BloomIndex.ColumnsProp -> cols))
    assert(t.buildBloomIndex() == files)
    (t, path)
  }

  test("commit-time build writes one sidecar per added file") {
    val (t, path) = fresh("bloom_commit")
    t.write(interleaved(400, 4))
    assert(sidecarCount(path) == 0, "no property, no sidecars")
    t.setProperties(Map(BloomIndex.ColumnsProp -> "name"))
    t.write(interleaved(400, 4), SaveMode.Append)
    assert(t.manifestFiles().size == 8)
    assert(sidecarCount(path) == 4,
      "exactly the 4 files added AFTER the property was set are indexed")
  }

  test("buildBloomIndex backfills files that predate the property") {
    val (t, path) = indexed("bloom_backfill", 400, 4, cols = "name")
    assert(sidecarCount(path) == 4)
    assert(t.buildBloomIndex() == 0, "idempotent: existing sidecars kept")
  }

  test("backfill batches bound the driver collect (many-file scale shape)") {
    // pure math: a 100k-file backfill at MB-sized filters never collects
    // in one job — rounds of budget/perFile files, order preserved
    val files = (1 to 100000).map(i => s"f$i")
    val b = BloomIndex.buildBatches(files, 1L << 20, BloomIndex.DefaultBatchBytes)
    assert(b.size == math.ceil(100000.0 / 256).toInt, s"${b.size} batches")
    assert(b.forall(_.size <= 256) && b.flatten == files)
    // a degenerate budget still makes progress one file at a time
    assert(BloomIndex.buildBatches(Seq("a", "b"), 1L << 30, 1L)
      .map(_.size) == Seq(1, 1))

    // integration: a tiny budget forces a multi-round backfill; every
    // sidecar still lands and probing stays sound
    val (t, path) = fresh("bloom_batched")
    t.write(interleaved(1600, 16))
    t.setProperties(Map(BloomIndex.ColumnsProp -> "name",
      BloomIndex.BatchBytesProp -> "600"))
    assert(t.buildBloomIndex() == 16)
    assert(sidecarCount(path) == 16)
    val kept = t.dataSkippedFiles(t.currentVersion,
      Seq(EqualTo("name", "name_00017")))
    assert(kept.nonEmpty && kept.size <= 3, s"kept ${kept.size} of 16")
    assert(t.read().filter(col("name") === "name_00017").count() == 1)
  }

  test("point probe prunes interleaved files min/max cannot, soundly") {
    val (t, _) = indexed("bloom_prune", 4000, 8)
    val v = t.currentVersion
    assert(t.manifestFiles(v).size == 8)
    // name_00017 lives in exactly one file; every file's [min,max]
    // spans it. Allow fpp=0.01-level false-positive survivors.
    val kept = t.dataSkippedFiles(v, Seq(EqualTo("name", "name_00017")))
    assert(kept.size <= 2, s"bloom should keep ~1 of 8 files, kept ${kept.size}")
    assert(kept.nonEmpty)
    // soundness: the pruned scan still returns exactly the matching row
    val got = t.read().filter(col("name") === "name_00017")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(17L))
    // absent value: absence proof prunes everything (fpp survivors ok)
    val none = t.dataSkippedFiles(v, Seq(EqualTo("name", "no_such_value")))
    assert(none.size <= 1, s"absent probe should prune all, kept ${none.size}")
    assert(t.read().filter(col("name") === "no_such_value").count() == 0)
  }

  test("IN-list and multi-column AND probes prune; non-equality keeps") {
    val (t, _) = indexed("bloom_shapes", 4000, 8)
    val v = t.currentVersion
    // IN over two names in two distinct files → ~2 kept
    val in2 = t.dataSkippedFiles(v,
      Seq(In("name", Array[Any]("name_00017", "name_00018"))))
    assert(in2.size >= 2 && in2.size <= 3, s"IN(2) kept ${in2.size}")
    // AND of two indexed equalities: both conjuncts must pass; rows 17
    // and 18 are round-robin'd into different files, so no file holds both
    val both = t.dataSkippedFiles(v,
      Seq(EqualTo("name", "name_00017"), EqualTo("id", 18L)))
    assert(both.size <= 1,
      s"no file should satisfy both conjuncts; kept ${both.size}")
    // a NULL arm in an IN list can never match (SQL three-valued
    // logic), so pruning on the remaining arms stays sound
    val withNull = t.dataSkippedFiles(v,
      Seq(In("name", Array[Any]("name_00017", null))))
    assert(withNull.size <= 2, s"null IN arm is ignorable; kept ${withNull.size}")
    // predicate shapes with neither an interval nor a hash proof
    // (suffix match) keep every file
    assert(t.dataSkippedFiles(v,
      Seq(StringEndsWith("name", "0017"))).size == 8)
    // range predicates never consult the bloom index, and a mid-domain
    // bound is inside every interleaved file's [min, max]
    assert(t.dataSkippedFiles(v, Seq(GreaterThan("name", "name_02000"))).size == 8)
  }

  test("missing sidecar degrades to keep; cache sees later backfill") {
    val (t, path) = indexed("bloom_missing", 800, 4, cols = "name")
    val v = t.currentVersion
    // delete one file's sidecar out from under the index
    val idxDir = new java.io.File(s"$path/_graft_log/index")
    val victim = idxDir.listFiles().filter(_.getName.endsWith(".bloom")).head
    assert(victim.delete())
    val kept = t.dataSkippedFiles(v, Seq(EqualTo("name", "name_00017")))
    // the sidecar-less file has no proof → always kept; the rest prune
    // unless one of them holds the row
    assert(kept.size >= 1 && kept.size <= 3)
    assert(t.read().filter(col("name") === "name_00017").count() == 1)
    // backfill restores the missing sidecar, and the restored filter is
    // visible immediately (negative cache entries are invalidated)
    assert(t.buildBloomIndex() == 1)
    val after = t.dataSkippedFiles(v, Seq(EqualTo("name", "name_00017")))
    assert(after.size <= 2)
  }

  test("RENAME COLUMN keeps the index valid through the column map") {
    val (t, _) = indexed("bloom_rename", 800, 4, cols = "name")
    t.renameColumn("name", "title")
    val v = t.currentVersion
    val kept = t.dataSkippedFiles(v, Seq(EqualTo("title", "name_00017")))
    assert(kept.size <= 2,
      s"probe on the RENAMED column must re-key to the physical sidecar, kept ${kept.size}")
    val got = t.read().filter(col("title") === "name_00017")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(17L))
  }

  test("VACUUM removes dead files' sidecars, never live ones") {
    val (t, path) = indexed("bloom_vacuum", 400, 4, cols = "name")
    assert(sidecarCount(path) == 4)
    t.write(interleaved(400, 4), SaveMode.Overwrite)
    assert(sidecarCount(path) == 8, "old files' sidecars linger until VACUUM")
    val (_, deleted) = t.vacuum(retainHours = 0.0,
      retentionCheckEnabled = false, nowMs = System.currentTimeMillis() + 5000)
    assert(deleted == 4)
    assert(sidecarCount(path) == 4, "live files keep their sidecars")
    // index still functional after the sweep
    val kept = t.dataSkippedFiles(t.currentVersion,
      Seq(EqualTo("name", "name_00017")))
    assert(kept.size <= 2)
    assert(t.read().filter(col("name") === "name_00017").count() == 1)
  }

  test("a decimal column wider than 18 digits probes soundly") {
    import spark.implicits._
    val (t, _) = fresh("bloom_wide_dec")
    // decimal(20,2) hashes unscaled bytes where decimal(10,2) hashes a
    // long; round-robin files leave the proof to the bloom filters
    t.write((1 to 100).map(i => (BigDecimal(i), BigDecimal(i), s"r$i")).toDF("w", "n", "s")
      .select(col("w").cast("decimal(20,2)").as("w"), col("n").cast("decimal(10,2)").as("n"),
        col("s")).repartition(4))
    t.setProperties(Map(BloomIndex.ColumnsProp -> "w,n"))
    assert(t.buildBloomIndex() == 4)
    val v = t.currentVersion
    val k = new java.math.BigDecimal("42.00")
    assert(t.dataSkippedFiles(v, Seq(EqualTo("w", k))).size == 1)
    assert(t.dataSkippedFiles(v, Seq(EqualTo("n", k))).size == 1)
    for (c <- Seq("w", "n"))
      assert(t.read().where(col(c) === 42).select("s").as[String].collect().toSeq == Seq("r42"), c)
    t.delete(col("w") === 42)
    assert(t.read().count() == 99 && t.read().where(col("n") === 42).isEmpty)
  }

  test("unindexable types and unknown columns are skipped, not fatal") {
    import spark.implicits._
    val (t, path) = fresh("bloom_types")
    val df = (1 to 100).map(i =>
        (i.toLong, Seq(s"t$i"), Array[Byte](i.toByte)))
      .toDF("id", "tags", "blob").repartition(2)
    t.write(df)
    t.setProperties(Map(BloomIndex.ColumnsProp -> "id,tags,blob,ghost"))
    assert(t.buildBloomIndex() == 2)
    val v = t.currentVersion
    assert(t.dataSkippedFiles(v, Seq(EqualTo("id", 1L))).size <= 2)
    val content = {
      val dir = new java.io.File(s"$path/_graft_log/index")
      val f = dir.listFiles().filter(_.getName.endsWith(".bloom")).head
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
    assert(content.contains("id\t"))
    assert(!content.contains("tags\t"), "array column must not be indexed")
    assert(!content.contains("blob\t"), "binary column must not be indexed")
  }
}
