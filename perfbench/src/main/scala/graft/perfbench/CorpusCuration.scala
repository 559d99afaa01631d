package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Seeded documents and embeddings tables with the shape of the bench
  * testdata: a 30-word vocabulary, 10–100 words per document, five
  * languages, twenty sources, planted exact and near duplicates, and
  * 64-dimensional unit embeddings around ten labelled centres. */
object CorpusFixture {
  val Vocabulary: Seq[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key query a " +
    "scan batch").split(' ').toSeq
  val Langs: Seq[(String, Double)] = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  val Dim = 64

  def write(spark: SparkSession, dir: String, seed: Long, nDocs: Int, nVecs: Int): Unit = {
    // keys stay 0-based: the similarity operators take their query and
    // seed vectors from the lowest ids
    val rnd = new scala.util.Random(seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docs = (0 until nDocs).map { i =>
      val u = rnd.nextDouble()
      val text =
        if (i > 10 && u < 0.003) texts(rnd.nextInt(i)) // exact duplicate
        else if (i > 10 && u < 0.05) texts(rnd.nextInt(i)) + " dup" // near duplicate
        else Seq.fill(10 + rnd.nextInt(91))(Vocabulary(rnd.nextInt(Vocabulary.size))).mkString(" ")
      texts += text
      var l = rnd.nextDouble()
      val lang = Langs.find { case (_, p) => l -= p; l < 0 }.map(_._1).getOrElse("en")
      Row(i.toLong, text, lang, s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centres = Array.fill(10)(unit(Array.fill(Dim)(rnd.nextGaussian())))
    val vecs = (0 until nVecs).map { i =>
      val label = rnd.nextInt(10)
      val v = unit(centres(label).map(_ + 0.15 * rnd.nextGaussian()))
      Row(i.toLong, v.map(_.toFloat).toSeq, label)
    }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1), vecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}

/** The LLM-data curation chain: text filters, dedup and similarity
  * operators over the documents and embeddings tables, each result
  * materialized. The table layer is not involved. */
object CorpusCuration {
  val Operators: Seq[(String, String)] = Seq(
    "text" -> "filter_funnel", "text" -> "pii_scrub", "text" -> "gopher_repetition",
    "text" -> "quality_classifier", "dedup" -> "dedup_exact", "dedup" -> "dedup_minhash",
    "dedup" -> "dedup_substring", "dedup" -> "edit_dedup", "similarity" -> "semantic_dedup",
    "similarity" -> "knn_ivf", "similarity" -> "knn_classify", "text" -> "tfidf_keywords")

  def run(h: Harness): Unit = {
    val spark = h.spark
    val (nDocs, nVecs, replicas) = if (h.args.tiny) (150, 100, 1) else (300, 200, 3)
    val builds = (0 until replicas).map { r =>
      val dir = s"${h.args.dir}/corpus_$r"
      val (_, s) = h.seconds(h.tracer.span("setup.build")(
        CorpusFixture.write(spark, dir, h.args.seed, nDocs, nVecs)))
      (dir, s)
    }
    val fixture = builds.last._1
    val queries = SparkEntry.queries
    // results are small: each is collected, which computes every row and
    // column, and the last pass's rows are kept for the output checks
    val results = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]
    def pass(): Unit = Operators.foreach { case (layer, op) =>
      h.op("query", s"$layer.$op") {
        val df = queries(op)(spark, fixture)
        results(op) = (df.schema, df.collect())
      }
    }

    // a traced run warms up first, so its traced and untraced halves
    // both measure a warm chain; an untraced run measures the chain in a
    // fresh session
    val (_, warmS) = h.seconds(if (h.args.trace) h.tracer.span("setup.warmup")(pass()))
    h.e2e("setup_s") = (h.sessionStartS + Stats.median(builds.map(_._2)) + warmS, "s")
    val heap0 = h.heapAfterGcMb()
    val timed = Harness.phases(h, 1)(_ => pass())
    val heap1 = h.heapAfterGcMb()
    val main = timed.head
    h.e2e("wall_s") = (Stats.median(main.iterationSeconds), "s")
    Harness.latency(h, main, "query", "op")
    h.e2e("heap_peak_mb") = (math.max(heap0, heap1), "MB")

    // ---- output checks: results are dumped for the DuckDB oracle
    val outDir = s"${h.args.dir}/outputs"
    Operators.foreach { case (_, op) =>
      h.checking(s"operator_$op") {
        results.get(op) match {
          case None => (false, "no result")
          case Some((schema, rows)) =>
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$op")
            (rows.nonEmpty, s"${rows.length} rows")
        }
      }
    }
    val oracles = SparkEntry.oracleSql
    h.info("fixture_dir") = fixture
    h.info("outputs_dir") = outDir
    h.info("oracle_sql") = Operators.map(_._2).filter(oracles.contains).map(o => o -> oracles(o)).toMap
  }
}
