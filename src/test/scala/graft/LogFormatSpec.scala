package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.table.GraftTable

/** The log format: every operation publishes exactly one record
  * (`_graft_log/v<N>.json`, plus a checkpoint on interval versions), a
  * record carries `metaData` only when the commit changed the metadata,
  * every version rebuilds cold — across a checkpoint and after
  * `cleanupLog` — into the snapshot its commit cached, and every data
  * commit's info reports what it wrote. */
class LogFormatSpec extends SparkSpec {

  private def logEntries(path: String): Set[String] =
    Option(new java.io.File(path, "_graft_log").list()).toSet.flatten -- Set("cdc", "index")

  private def rows(from: Long, until: Long, value: String = "v"): DataFrame =
    spark.range(from, until).select(col("id"), (col("id") % 4).as("k"),
      (col("id") * 10).as(value))

  test("each operation adds one record; metaData only where metadata changed; every version rebuilds cold") {
    val path = GraftTmp.dir("lf_ops").toString
    val rootKey = new Path(path).toUri.getPath
    val t = GraftTable(spark, path, Seq("k"))
    // (operation, whether it changes the table metadata)
    val ops: Seq[(String, () => Any, Boolean)] = Seq(
      ("write", () => t.write(rows(0, 40)), true),
      ("append", () => t.write(rows(40, 50), SaveMode.Append), false),
      ("merge", () => t.merge(rows(45, 55).withColumn("v", col("v") + 1), Seq("id")), false),
      ("delete", () => t.delete(col("id") === 3), false),
      ("update", () => t.update(col("id") === 5, Map("v" -> lit(-1L))), false),
      ("optimize", () => t.optimize(Seq("id")), false),
      ("set tblproperties", () => t.setProperties(Map("graft.note" -> "x")), true),
      ("add constraint", () => t.addConstraint("nonneg", "id >= 0"), true),
      ("rename column", () => t.renameColumn("v", "value"), true),
      ("txn append", () => t.idempotentAppend(rows(60, 62, "value"), "app-1", 3), false),
      ("merge-on-read delete", () => t.delete(col("id") === 7, mergeOnRead = true), false),
      ("append after the checkpoint", () => t.write(rows(70, 72, "value"), SaveMode.Append), false))
    ops.zipWithIndex.foreach { case ((name, op, changesMeta), i) =>
      val before = logEntries(path)
      op()
      val v = i.toLong
      assert(t.currentVersion == v, name)
      val expected = Set(f"v$v%020d.json") ++
        (if (v > 0 && v % GraftTable.CheckpointInterval == 0) Set(f"v$v%020d.ckpt.parquet") else Set.empty)
      assert(logEntries(path) -- before == expected, s"$name at v$v")
      assert(t.readRecord(v).meta.isDefined == changesMeta, s"$name at v$v: metaData")
    }
    assert(t.lastTxnVersion("app-1") == 3)
    val last = t.currentVersion
    val committed = (0L to last).map(v => v -> t.snapshotAt(v)).toMap

    // every version rebuilds cold into the snapshot its commit cached:
    // from the records alone, and from the v10 checkpoint after it
    def coldEquals(v: Long): Unit = {
      GraftTable.invalidateSnapshotsFrom(rootKey, 0L)
      assert(GraftTable(spark, path).snapshotAt(v) == committed(v), s"v$v")
    }
    (0L to last).foreach(coldEquals)
    assert(committed(last).txn == Map("app-1" -> 3L))
    assert(committed(last).dv.nonEmpty && committed(last).meta.constraints.nonEmpty)

    // after log truncation the retained versions still rebuild the same
    assert(t.cleanupLog(keepVersions = 4) == (last - 3).toInt)
    (last - 3 to last).foreach(coldEquals)
    GraftTable.invalidateSnapshotsFrom(rootKey, 0L)
    intercept[IllegalStateException](GraftTable(spark, path).snapshotAt(last - 4))
    assert(GraftTable(spark, path).lastTxnVersion("app-1") == 3)
  }

  test("data commits report rows, bytes and files written in their commit info") {
    val path = GraftTmp.dir("lf_metrics").toString
    val t = GraftTable(spark, path, Seq("k"))
    def abs(f: String) = s"$path/$f"
    def check(name: String): Unit = {
      val v = t.currentVersion
      val added = (t.manifestFiles(v).toSet -- t.manifestFiles(v - 1)).toSeq
      val removed = (t.manifestFiles(v - 1).toSet -- t.manifestFiles(v)).toSeq
      val m = t.history().filter(col("version") === v).select(
        "operationMetrics.numOutputRows", "operationMetrics.numOutputBytes",
        "operationMetrics.numAddedFiles", "operationMetrics.numRemovedFiles").head()
      val counted = if (added.isEmpty) 0L else spark.read.parquet(added.map(abs): _*).count()
      val bytes = added.map(f => new java.io.File(abs(f)).length()).sum
      assert(Seq(m.getString(0), m.getString(1), m.getString(2), m.getString(3)) ==
        Seq(counted, bytes, added.size, removed.size).map(_.toString), s"$name at v$v")
      assert(added.nonEmpty || removed.nonEmpty, s"$name at v$v changed no file")
    }
    t.write(rows(0, 40)); check("write")
    t.write(rows(40, 50), SaveMode.Append); check("append")
    t.merge(rows(45, 55).withColumn("v", col("v") + 1), Seq("id")); check("merge")
    t.delete(col("id") === 3); check("delete")
    t.update(col("id") === 5, Map("v" -> lit(-1L))); check("update")
    t.optimize(Seq("id")); check("optimize")
  }
}
