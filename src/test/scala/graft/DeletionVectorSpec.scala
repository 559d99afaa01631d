package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ingest.BarSource
import graft.table.GraftTable
import graft.transform.Enrich

/** Merge-on-read DELETE via deletion vectors (Delta DV parity): the
  * commit records deleted row POSITIONS instead of rewriting files.
  * Verifies row semantics, that the manifest's file list is untouched,
  * interplay with copy-on-write mutations / OPTIMIZE / PURGE / RESTORE /
  * CDF / VACUUM / time travel / clone, and the RLE run algebra.
  */
class DeletionVectorSpec extends SparkSpec {

  private def freshTable(prefix: String): GraftTable = {
    val path = graft.GraftTmp.dir(prefix).toString
    GraftTable(spark, path, Seq("ticker", "trade_date"))
  }

  private def bars = Enrich.withTimeColumns(
    BarSource.harvest(spark, delayMs = 0)).cache()

  test("run algebra: toRuns / mergeRuns / runsMinus") {
    assert(GraftTable.toRuns(Seq(1L, 2L, 3L, 7L, 9L, 10L)) ==
      Seq((1L, 3L), (7L, 1L), (9L, 2L)))
    assert(GraftTable.decodeRuns(GraftTable.encodeRuns(Seq((1L, 3L), (9L, 2L)))) ==
      Seq((1L, 3L), (9L, 2L)))
    // union merges overlap and adjacency
    assert(GraftTable.mergeRuns(Seq((1L, 3L)), Seq((4L, 2L), (10L, 1L))) ==
      Seq((1L, 5L), (10L, 1L)))
    assert(GraftTable.mergeRuns(Seq((1L, 5L)), Seq((2L, 2L))) == Seq((1L, 5L)))
    // minus splits runs
    assert(GraftTable.runsMinus(Seq((0L, 10L)), Seq((3L, 2L), (7L, 1L))) ==
      Seq((0L, 3L), (5L, 2L), (8L, 2L)))
    assert(GraftTable.runsMinus(Seq((0L, 4L)), Seq((0L, 4L))) == Nil)
    assert(GraftTable.runsMinus(Nil, Seq((0L, 4L))) == Nil)
  }

  test("merge-on-read delete removes rows without touching data files") {
    val t = freshTable("dv_basic")
    t.write(bars.repartition(4))
    val total = t.read().count()
    val aapl = t.read().filter(col("ticker") === "AAPL").count()
    assert(aapl > 0)
    val filesBefore = t.manifestFiles().sorted
    val vBefore = t.currentVersion

    t.delete(col("ticker") === "AAPL", mergeOnRead = true)

    assert(t.manifestFiles().sorted == filesBefore, "file list must be unchanged")
    assert(t.read().count() == total - aapl)
    assert(t.read().filter(col("ticker") === "AAPL").count() == 0)
    assert(t.deletedRowCount() == aapl)
    // time travel: pre-delete version still shows every row
    assert(t.readVersion(vBefore).count() == total)
    // history records the mode
    val op = t.history().filter(col("version") === vBefore + 1)
      .select("operationMetrics.mode").collect().head.getString(0)
    assert(op == "merge-on-read")
  }

  test("sequential merge-on-read deletes accumulate; deletes are idempotent") {
    val t = freshTable("dv_seq")
    t.write(bars.repartition(3))
    val total = t.read().count()
    val aapl = t.read().filter(col("ticker") === "AAPL").count()
    val msft = t.read().filter(col("ticker") === "MSFT").count()
    t.delete(col("ticker") === "AAPL", mergeOnRead = true)
    t.delete(col("ticker").isin("AAPL", "MSFT"), mergeOnRead = true)
    assert(t.read().count() == total - aapl - msft)
    assert(t.deletedRowCount() == aapl + msft)
    // a third delete matching only already-deleted rows is a no-op commit
    val v = t.delete(col("ticker") === "AAPL", mergeOnRead = true)
    assert(t.deletedRowCount() == aapl + msft)
    assert(v == t.currentVersion)
  }

  test("filtered (pruned) reads apply the vector") {
    val t = freshTable("dv_pruned")
    t.write(bars.repartition(4))
    val expected = t.read().filter(col("close") > 100 && col("ticker") =!= "AAPL")
      .count()
    t.delete(col("ticker") === "AAPL", mergeOnRead = true)
    // DSv1 path (pushed filters → the pinned frame's skipping scan)
    val viaSource = spark.read.format("graft").load(t.path)
      .filter(col("close") > 100).count()
    assert(viaSource == expected)
    val pruned = t.readVersion(t.currentVersion).filter(col("close") > 100).count()
    assert(pruned == expected)
  }

  test("copy-on-write mutations after a vectored delete do not resurrect rows") {
    val t = freshTable("dv_cow")
    t.write(bars.repartition(3))
    val total = t.read().count()
    // delete a SUBSET of each file's rows, so every file keeps live rows
    val evens = t.read().filter(pmod(col("volume"), lit(2)) === 0).count()
    assert(evens > 0 && evens < total)
    t.delete(pmod(col("volume"), lit(2)) === 0, mergeOnRead = true)
    assert(t.read().count() == total - evens)

    // COW update touches every file (all have live rows); the rewrite
    // must apply the vectors and drop them with the rewritten files
    t.update(col("volume") >= 0, Map("close" -> (col("close") + 0)))
    assert(t.read().count() == total - evens)
    assert(t.read().filter(pmod(col("volume"), lit(2)) === 0).count() == 0)
    assert(t.deletedRowCount() == 0, "rewritten files must drop their vectors")
  }

  test("OPTIMIZE and PURGE materialize vectors; PURGE rewrites only vectored files") {
    val t = freshTable("dv_purge")
    t.write(bars.repartition(4))
    val total = t.read().count()
    val goog = t.read().filter(col("ticker") === "GOOGL").count()
    assert(goog > 0)
    t.delete(col("ticker") === "GOOGL", mergeOnRead = true)
    val dv = t.dvOf(t.currentVersion)
    val vectored = dv.keySet
    val untouched = t.manifestFiles().filterNot(vectored).toSet
    assert(vectored.nonEmpty && untouched.nonEmpty)

    t.purge()
    assert(t.deletedRowCount() == 0)
    assert(t.read().count() == total - goog)
    // non-vectored files carried over verbatim
    assert(untouched.subsetOf(t.manifestFiles().toSet))
    assert((t.manifestFiles().toSet & vectored).isEmpty)
    // purge with no vectors is a no-op
    val v = t.currentVersion
    assert(t.purge() == v)

    // OPTIMIZE also materializes (fresh table to keep cases independent)
    val t2 = freshTable("dv_opt")
    t2.write(bars.repartition(4))
    val t2total = t2.read().count()
    val t2goog = t2.read().filter(col("ticker") === "GOOGL").count()
    t2.delete(col("ticker") === "GOOGL", mergeOnRead = true)
    t2.optimize(Seq("timestamp_ms"))
    assert(t2.deletedRowCount() == 0)
    assert(t2.read().count() == t2total - t2goog)
  }

  test("RESTORE across a vectored delete un-deletes; CDF shows both directions") {
    val t = freshTable("dv_restore")
    t.write(bars.repartition(3))
    val total = t.read().count()
    val v0 = t.currentVersion
    val amzn = t.read().filter(col("ticker") === "AMZN").count()
    assert(amzn > 0)
    val v1 = t.delete(col("ticker") === "AMZN", mergeOnRead = true)

    // CDF: the vectored delete surfaces as row-level deletes
    val feed = t.changes(v0, v1)
    assert(feed.filter(col("_change_type") === "delete").count() == amzn)
    assert(feed.filter(col("_change_type") === "insert").count() == 0)

    val v2 = t.restore(v0)
    assert(t.read().count() == total)
    assert(t.deletedRowCount() == 0)
    // CDF across the restore: the rows come back as inserts
    val feed2 = t.changes(v1, v2)
    assert(feed2.filter(col("_change_type") === "insert").count() == amzn)
    assert(feed2.filter(col("_change_type") === "delete").count() == 0)
  }

  test("VACUUM never reclaims vectored (live) files") {
    val t = freshTable("dv_vacuum")
    t.write(bars.repartition(3))
    t.delete(col("ticker") === "AAPL", mergeOnRead = true)
    val live = t.manifestFiles().toSet
    val (_, deleted) = t.vacuum(retainHours = 0.0,
      retentionCheckEnabled = false,
      nowMs = System.currentTimeMillis() + 3600 * 1000)
    assert(deleted == 0)
    assert(t.manifestFiles().toSet == live)
    assert(t.read().filter(col("ticker") === "AAPL").count() == 0)
  }

  test("shallow clone carries the source's vectors") {
    val t = freshTable("dv_clone_src")
    t.write(bars.repartition(3))
    val aapl = t.read().filter(col("ticker") === "AAPL").count()
    t.delete(col("ticker") === "AAPL", mergeOnRead = true)
    val expected = t.read().count()

    val clonePath = graft.GraftTmp.dir("dv_clone_tgt").toString + "/c"
    val c = t.shallowClone(clonePath)
    assert(c.read().count() == expected)
    assert(c.read().filter(col("ticker") === "AAPL").count() == 0)
    assert(c.deletedRowCount() == aapl)
  }

  test("partition-scoped OPTIMIZE materializes only the scoped partition's vectors") {
    val t = freshTable("dv_opt_scope")
    t.write(bars.repartition(3))
    val total = t.read().count()
    val aapl = t.read().filter(col("ticker") === "AAPL").count()
    val msft = t.read().filter(col("ticker") === "MSFT").count()
    t.delete(col("ticker") === "AAPL", mergeOnRead = true)
    t.delete(col("ticker") === "MSFT", mergeOnRead = true)
    assert(t.deletedRowCount() == aapl + msft)

    // compact ONLY the AAPL partition: its vectors materialize (files
    // rewritten without deleted rows), MSFT's vectors stay in place
    t.optimize(Seq("timestamp_ms"), where = Some("ticker = 'AAPL'"))
    assert(t.deletedRowCount() == msft, "unscoped partition keeps its vector")
    assert(t.read().count() == total - aapl - msft)
    assert(t.read().filter(col("ticker").isin("AAPL", "MSFT")).count() == 0)
    // the MSFT files were carried over untouched (still vectored)
    assert(t.dvOf(t.currentVersion).keys.forall(_.contains("ticker=MSFT")))
  }

  test("metadata row count: served from the stats sidecar, vector-aware, scan fallback") {
    val t = freshTable("dv_count")
    t.write(bars.repartition(3))
    val scanned = t.read().count()
    assert(t.rowCountFromStats() == Some(scanned))
    assert(t.count() == scanned)

    // vectored delete: metadata count subtracts the vector
    val aapl = t.read().filter(col("ticker") === "AAPL").count()
    t.delete(col("ticker") === "AAPL", mergeOnRead = true)
    assert(t.rowCountFromStats() == Some(scanned - aapl))
    assert(t.count() == t.read().count())

    // per-version: the pre-delete version still counts every row
    assert(t.rowCountFromStats(0) == Some(scanned))

    // convert with stats skipped records no counts -> scan fallback
    val plainDir = graft.GraftTmp.dir("dv_cnt_plain").toString
    bars.limit(100).write.mode("overwrite").parquet(plainDir)
    val c = graft.table.GraftTable.convert(spark, plainDir, Nil, collectStats = false)
    assert(c.rowCountFromStats().isEmpty)
    assert(c.count() == 100)
  }

  test("vectored scan embeds the vector as a scan filter — no join at any vector size") {
    val t = freshTable("dv_nojoin")
    t.write(bars.repartition(4))
    val total = t.read().count()
    val aapl = t.read().filter(col("ticker") === "AAPL").count()
    t.delete(col("ticker") === "AAPL", mergeOnRead = true)

    // the DV-applied read must contain NO join node: the vector applies
    // as a codegen'd per-file predicate inside the scan stage, so the
    // plan shape is independent of how many rows the vector holds (the
    // pre-r6 design anti-joined an exploded position frame and fell
    // back to shuffling the whole scan above 4M deleted rows)
    val plan = t.read().queryExecution.executedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.isEmpty, s"vectored read must not join, got:\n$plan")
    assert(t.read().count() == total - aapl)

    // synthetic huge vector (far beyond the old 4M broadcast cap, RLE'd
    // to a handful of runs): the probe stays run-based — correctness of
    // the binary search over wide runs, not just small test vectors
    assert(GraftTable.decodeRuns(GraftTable.encodeRuns(
      Seq((0L, 3000000000L), (5000000000L, 2500000000L)))) ==
      Seq((0L, 3000000000L), (5000000000L, 2500000000L)))
  }

  test("hive-escaped partition values ('%', ' ', ':') keep vectors effective") {
    import spark.implicits._
    val path = graft.GraftTmp.dir("dv_escape").toString
    val t = GraftTable(spark, path, Seq("bucket"))
    val rows = Seq(
      ("a%b", 1L), ("a%b", 2L), ("a b", 3L), ("a b", 4L),
      ("a:b", 5L), ("a:b", 6L), ("plain", 7L), ("plain", 8L))
      .toDF("bucket", "v")
    t.write(rows.repartition(2))
    assert(t.read().count() == 8)

    // merge-on-read delete inside escaped partitions: the vector keys
    // and the scan's file-path probe must agree on ONE canonical path
    // form, or these rows silently resurrect (the encoded
    // `_metadata.file_path` vs decoded manifest-key mismatch)
    t.delete(col("v").isin(1L, 3L, 5L, 7L), mergeOnRead = true)
    assert(t.deletedRowCount() == 4, "vector keys must survive the commit filter")
    assert(t.read().count() == 4)
    assert(t.read().select("v").as[Long].collect().sorted.toSeq == Seq(2L, 4L, 6L, 8L))

    // copy-on-write delete over the same escaped layout
    t.delete(col("v") === 2L)
    assert(t.read().count() == 3)
    assert(t.read().filter(col("bucket") === "a%b").count() == 0)

    // purge materializes the remaining vectors in escaped partitions
    t.purge()
    assert(t.deletedRowCount() == 0)
    assert(t.read().select("v").as[Long].collect().sorted.toSeq == Seq(4L, 6L, 8L))
  }

  test("merge respects vectors: deleted rows are not matched, keys re-insertable") {
    val t = freshTable("dv_merge")
    t.write(bars.repartition(3))
    t.delete(col("ticker") === "AAPL", mergeOnRead = true)
    // a source row keyed on a vector-deleted row must INSERT, not UPDATE
    val one = t.readVersion(0).filter(col("ticker") === "AAPL").limit(1)
      .withColumn("volume", lit(123456789L))
    t.merge(one, Seq("ticker", "timestamp_ms"))
    val back = t.read().filter(col("ticker") === "AAPL")
    assert(back.count() == 1)
    assert(back.select("volume").collect().head.getLong(0) == 123456789L)
  }
}
