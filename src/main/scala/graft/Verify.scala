package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: regex over query names — re-dumps just those
    // into outDir with a matching oracle_sql.json, so
    // tools/check_oracle.py runs on the subset; two args → full run
    val nameFilter = args.lift(2).map(_.r)
    def selected(name: String) = nameFilter.forall(_.findFirstIn(name).isDefined)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators that persist intermediates (minhash/simhash sketch
      // tables) deliberately leave them cached so their lazy result
      // stays single-compute; the DRIVER owns cache lifetime — release
      // between queries so block storage never accumulates across the
      // 135-query run
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s""""${Json.esc(k)}": "${Json.esc(v)}"""" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
