package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one process.
  *
  * {{{
  * Main --workload <bar_daily_cycle|bar_analytics|corpus_curation>
  *      --seed <n> --seconds <s> --trace <0|1> --dir <scratch> --out <json>
  *      [--size full|tiny]
  * }}}
  * Everything the run creates lives under `--dir`. The result file holds
  * the end-to-end metrics, the per-layer metrics of a traced run, the
  * output-check verdicts and the span list.
  */
object Main {

  val Workloads: Map[String, Harness => Unit] = Map(
    "bar_daily_cycle" -> BarDailyCycle.run,
    "bar_analytics" -> BarAnalytics.run,
    "corpus_curation" -> CorpusCuration.run)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("dir"), need("out"), m.getOrElse("size", "full"))
  }

  def session(dir: String): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val run = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val t0 = System.nanoTime()
    val spark = session(args.dir)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count() // first job: executor and codegen start-up
    val h = new Harness(spark, args, (System.nanoTime() - t0) / 1e9)
    try {
      run(h)
      h.info("jvm_s") = (System.nanoTime() - t0) / 1e9
      if (args.trace) PerLayer.report(h)
    } finally {
      val result = mutable.LinkedHashMap[String, Any](
        "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
        "attempted" -> h.attempted, "failed" -> h.failed,
        "checks" -> h.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
        "failures" -> h.failures,
        "e2e" -> h.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "layer" -> h.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "info" -> h.info,
        "spans" -> h.tracer.spans)
      Files.write(new File(args.out).toPath, Json(result).getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }
}
