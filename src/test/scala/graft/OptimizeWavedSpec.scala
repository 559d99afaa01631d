package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.table.GraftTable

/** Waved full-table OPTIMIZE (GraftTable.optimizeFullWaved): the
  * interruptible re-cluster. The load-bearing assertions: waves are
  * byte-bounded independent commits; a run killed between waves resumes
  * under the same epoch WITHOUT redoing committed waves; content and
  * row counts survive; and a fresh epoch re-clusters everything (the
  * OPTIMIZE FULL semantic). */
class OptimizeWavedSpec extends SparkSpec {
  import spark.implicits._

  /** Partitioned table with many small files: 3 partitions × 6 input
    * files each. ~Small targets force multiple waves. */
  private def seedTable(): GraftTable = {
    val path = graft.GraftTmp.dir("gt_waved").toString
    val t = GraftTable(spark, path, Seq("k"))
    val df = spark.range(3000)
      .select(col("id"), (col("id") % 3).cast("string").as("k"),
        (col("id") * 37 % 1000).as("v"))
    t.write(df.repartition(6))
    t
  }

  test("waved re-cluster: multiple bounded commits, content preserved, converges") {
    val t = seedTable()
    val before = t.read().select("id", "k", "v").collect().toSet
    val v0 = t.currentVersion
    val versions = t.optimizeFullWaved(Seq("v"),
      targetFileSizeBytes = 8 * 1024, maxWaveBytes = 16 * 1024,
      epoch = "e1")
    assert(versions.size >= 2, s"expected multiple waves, got $versions")
    assert(versions == (v0 + 1 to v0 + versions.size), "one commit per wave")
    assert(t.read().select("id", "k", "v").collect().toSet == before)
    // every wave's commit is an OPTIMIZE carrying its epoch + wave index
    val hist = t.history().filter(col("version").isin(versions: _*))
      .select("operation", "operationMetrics.epoch", "operationMetrics.wave")
      .collect()
    assert(hist.forall(_.getString(0) == "OPTIMIZE"))
    assert(hist.forall(_.getString(1) == "e1"))
    // converged: a re-run under the same epoch commits nothing
    assert(t.optimizeFullWaved(Seq("v"), targetFileSizeBytes = 8 * 1024,
      maxWaveBytes = 16 * 1024, epoch = "e1").isEmpty,
      "same-epoch resume on a finished run must be a no-op")
  }

  test("kill between waves: same-epoch resume redoes nothing committed") {
    val t = seedTable()
    // 'kill' after exactly one wave
    val first = t.optimizeFullWaved(Seq("v"),
      targetFileSizeBytes = 8 * 1024, maxWaveBytes = 16 * 1024,
      epoch = "e1", maxWaves = 1)
    assert(first.size == 1)
    val wave1Outputs = t.readRecord(first.head).adds.map(_.path).toSet
    assert(wave1Outputs.nonEmpty)
    // resume under the same epoch: later waves must never rewrite
    // wave 1's outputs
    val rest = t.optimizeFullWaved(Seq("v"),
      targetFileSizeBytes = 8 * 1024, maxWaveBytes = 16 * 1024,
      epoch = "e1")
    assert(rest.nonEmpty, "remaining files still needed re-clustering")
    val laterInputs = rest.flatMap(v => t.readRecord(v).removes).toSet
    assert(laterInputs.intersect(wave1Outputs).isEmpty,
      "resume must not redo a committed wave")
  }

  test("a new epoch re-clusters files the old epoch already covered") {
    val t = seedTable()
    val e1 = t.optimizeFullWaved(Seq("v"),
      targetFileSizeBytes = 8 * 1024, maxWaveBytes = 16 * 1024,
      epoch = "e1")
    assert(e1.nonEmpty)
    val before = t.read().select("id", "k", "v").collect().toSet
    val e2 = t.optimizeFullWaved(Seq("v"),
      targetFileSizeBytes = 8 * 1024, maxWaveBytes = 16 * 1024,
      epoch = "e2")
    assert(e2.nonEmpty, "fresh epoch must re-cluster")
    assert(t.read().select("id", "k", "v").collect().toSet == before)
  }

  test("bins < partitions: compaction lands one file per partition and converges") {
    // the r14 churn bug, pinned exactly: 3 hive partitions whose total
    // bytes need only ~2 target files. Global range binning put sampled
    // bin boundaries INSIDE partitions (~2 undersized files each), a
    // layout every later OPTIMIZE rewrote into itself forever. The
    // partition-hash path must emit exactly one key-sorted file per
    // partition, and the next OPTIMIZE must be metadata-only.
    val path = graft.GraftTmp.dir("gt_binslt").toString
    val t = GraftTable(spark, path, Seq("k"))
    val df = spark.range(3000)
      .select(col("id"), (col("id") % 3).cast("string").as("k"),
        (col("id") * 37 % 1000).as("v"))
    t.write(df.repartition(6))
    val before = t.read().select("id", "k", "v").collect().toSet
    // target sized so ceil(totalBytes/target) = 2 < 3 partitions
    val total = new java.io.File(path).listFiles()
      .filter(_.isDirectory).filter(_.getName.startsWith("k="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    val target = (total * 2 / 3).toInt max 1024
    t.optimize(Seq("v"), target)
    val perPart = t.partitionsReport().map { case (p, files, _, _) => p -> files }
    assert(perPart.forall(_._2 == 1),
      s"expected one file per partition, got $perPart")
    val v = t.currentVersion
    t.optimize(Seq("v"), target)
    assert(t.readRecord(v + 1).adds.isEmpty,
      "second optimize must be metadata-only (no re-churn)")
    assert(t.read().select("id", "k", "v").collect().toSet == before)
  }

  test("plain incremental OPTIMIZE still converges over waved output") {
    val t = seedTable()
    t.optimizeFullWaved(Seq("v"), targetFileSizeBytes = 8 * 1024,
      maxWaveBytes = 16 * 1024, epoch = "e1")
    // waved outputs carry the epoch in the provenance slot but the KEYS
    // tag in the match slot, so the plain optimize's provenance skip +
    // churn guard still recognize them: pass 1 (default 1 GiB target)
    // combines each partition's waved tails into one file, pass 2 must
    // be a metadata-only commit — no cross-API re-churn.
    t.optimize(Seq("v"))
    val v = t.currentVersion
    t.optimize(Seq("v"))
    val hist = t.history().filter(col("version") === v + 1)
      .select("operationMetrics.numFilesAdded").collect()
    assert(hist.isEmpty || hist.head.getString(0) == "0",
      "second plain optimize over waved output must be metadata-only")
  }
}
