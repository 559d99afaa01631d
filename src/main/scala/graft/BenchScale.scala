package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ×N scale-up of an sf testdata dir, for the scale section
  * of [[Bench]]: sf0.1 → "sf1" without synthesizing new distributions.
  *
  * A naive union of N identical copies would be WRONG for the dedup /
  * similarity benchmarks: every document would gain N−1 exact cross-copy
  * duplicates, so LSH candidate pairs would grow ×N² instead of the ×N a
  * real corpus with a constant duplicate RATE shows. Each copy is instead
  * transformed so within-copy structure (join fan-out, dup rate, session
  * shapes, cosine-neighbor geometry) is preserved exactly while
  * cross-copy rows are unrelated:
  *
  *  - all integer keys shift by copy·1e9 → joins stay within-copy, key
  *    cardinality scales ×N;
  *  - document text is Caesar-shifted per copy (codegen'd `translate`):
  *    token lengths / whitespace / dup structure identical, cross-copy
  *    shingle sets disjoint;
  *  - embeddings are dimension-rotated per copy: norms and within-copy
  *    angles exact-preserved, cross-copy cosines decorrelated;
  *  - dimension tables (region, nation) keep their real-world fixed size.
  */
object BenchScale {

  val Factor = 10
  private val Shift = 1000000000L

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase
  private def caesar(c: Int): (String, String) = {
    val k = c % 26
    (Lower + Upper,
      Lower.drop(k) + Lower.take(k) + Upper.drop(k) + Upper.take(k))
  }

  private def shifted(df: DataFrame, c: Int, keys: String*): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(c * Shift)))

  /** One transformed copy of every fact table (dims excluded). Copies
    * read the plain scan, not `Tables.table`: a union of single-partition
    * children is itself one partition (`spark.sql.unionOutputPartitioning`),
    * which would serialize the generation ahead of its repartition. */
  private def copyOf(spark: SparkSession, src: String, c: Int)
      : Map[String, DataFrame] = {
    import graft.tables.Tables.scan
    val (from, to) = caesar(c)
    Map(
      "customer" -> shifted(scan(spark, src, "customer"), c, "c_custkey"),
      "supplier" -> shifted(scan(spark, src, "supplier"), c, "s_suppkey"),
      "part"     -> shifted(scan(spark, src, "part"), c, "p_partkey"),
      "orders"   -> shifted(scan(spark, src, "orders"), c, "o_orderkey", "o_custkey"),
      "lineitem" -> shifted(scan(spark, src, "lineitem"), c,
        "l_orderkey", "l_partkey", "l_suppkey"),
      "events"   -> shifted(scan(spark, src, "events"), c, "event_id", "user_id"),
      "documents" -> shifted(scan(spark, src, "documents"), c, "doc_id")
        .withColumn("text", translate(col("text"), from, to)),
      "embeddings" -> shifted(scan(spark, src, "embeddings"), c, "vec_id")
        .withColumn("embedding",
          // rotate dims by c: norm and within-copy dot products unchanged
          concat(
            slice(col("embedding"), lit(c + 1),
              size(col("embedding")) - lit(c)),
            slice(col("embedding"), lit(1), lit(c)))))
  }

  // ---- second decade: sf1 → "sf10" ------------------------------------
  //
  // ×10 ON TOP of the sf1 dir, with a transform family that COMPOSES
  // safely with the first decade's (the naive reuse would break both
  // invariants: re-shifting by c·1e9 collides keys across copy pairs
  // (5+2 = 3+4), and a second Caesar layer collides text transforms
  // (net shift c'+10c mod 26 repeats), manufacturing exact cross-copy
  // duplicates that would inflate dedup candidates quadratically):
  //
  //  - keys shift by c·1e12 — disjoint from the first decade's ≤1e10
  //    span, so all 100 effective copies stay key-disjoint;
  //  - text maps through a per-copy SEEDED ALPHABET PERMUTATION
  //    (identity for c=0): token lengths / whitespace / within-copy dup
  //    structure exact-preserved, and the net per-effective-copy
  //    transform perm_c ∘ caesar_c' is distinct for all 100 (c, c')
  //    pairs (a random permutation is never a Caesar shift);
  //  - embeddings flip signs of dimensions by the BITS of c (identity
  //    for c=0): s_i² = 1 keeps every norm and within-copy dot product
  //    bit-exact while decorrelating cross-copy cosines, and
  //    (rotation c', flips c) nets distinct for all 100 pairs.

  val Factor10 = 10
  private val Shift10 = 1000000000000L // 1e12

  //  - DIGITS permute too (the first decade leaves them fixed): with
  //    100 effective copies, digit/punct shingles invariant under every
  //    copy's transform would near-match across ALL copy pairs — LSH
  //    candidates would grow ~quadratically in copy count, an artifact
  //    of cloning no real 10×-larger corpus exhibits (its documents are
  //    not 100 letter-mapped clones of each other). Within one
  //    second-decade copy the 10 first-decade copies still share digit
  //    shingles, so sf1's measured candidate structure replicates
  //    exactly ×10 — the honest linear scale-up of the sf1 data point.
  private val Digits = "0123456789"

  private def alphabetPerm(c: Int): (String, String) = {
    val rnd = new scala.util.Random(7777 + c)
    val p = rnd.shuffle(Lower.toList).mkString
    val d = rnd.shuffle(Digits.toList).mkString
    (Lower + Upper + Digits, p + p.toUpperCase + d)
  }

  private def shifted10(df: DataFrame, c: Int, keys: String*): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(c * Shift10)))

  private def copyOf10(spark: SparkSession, src: String, c: Int)
      : Map[String, DataFrame] = {
    import graft.tables.Tables.scan
    def caesar10(d: DataFrame): DataFrame =
      if (c == 0) d
      else {
        val (from, to) = alphabetPerm(c)
        d.withColumn("text", translate(col("text"), from, to))
      }
    def signFlip(d: DataFrame): DataFrame =
      if (c == 0) d
      else d.withColumn("embedding", expr(
        s"transform(embedding, (x, i) -> " +
          s"IF((($c >> (i % 4)) & 1) = 1, -x, x))"))
    Map(
      "customer" -> shifted10(scan(spark, src, "customer"), c, "c_custkey"),
      "supplier" -> shifted10(scan(spark, src, "supplier"), c, "s_suppkey"),
      "part"     -> shifted10(scan(spark, src, "part"), c, "p_partkey"),
      "orders"   -> shifted10(scan(spark, src, "orders"), c,
        "o_orderkey", "o_custkey"),
      "lineitem" -> shifted10(scan(spark, src, "lineitem"), c,
        "l_orderkey", "l_partkey", "l_suppkey"),
      "events"   -> shifted10(scan(spark, src, "events"), c,
        "event_id", "user_id"),
      "documents" -> caesar10(
        shifted10(scan(spark, src, "documents"), c, "doc_id")),
      "embeddings" -> signFlip(
        shifted10(scan(spark, src, "embeddings"), c, "vec_id")))
  }

  /** Generate the ×10-of-sf1 dir if absent (marker-gated); the source
    * must be an [[ensure]]-generated sf1 dir. Returns the dir. */
  def ensure10x(spark: SparkSession, sf1Dir: String, outDir: String): String = {
    val marker = new java.io.File(outDir, "_GRAFT_SCALED_OK")
    if (marker.exists()) return outDir
    new java.io.File(outDir).mkdirs()
    for (dim <- Seq("region", "nation"))
      graft.tables.Tables.scan(spark, sf1Dir, dim)
        .write.mode("overwrite").parquet(s"$outDir/$dim.parquet")
    val copies = (0 until Factor10).map(c => copyOf10(spark, sf1Dir, c))
    for (name <- copies.head.keys) {
      val unioned = copies.map(_(name)).reduce(_.unionByName(_))
      unioned.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
    }
    java.nio.file.Files.writeString(marker.toPath,
      s"src=$sf1Dir factor=$Factor10")
    outDir
  }

  // ---- planted-skew fixture -------------------------------------------
  //
  // Uniform scale-ups (sf1/sf10) prove shapes; they cannot prove SKEW
  // robustness — the hazards that actually kill 100 TB dedup runs are
  // one document duplicated 10⁴-10⁵× (a mega-block in min-shingle
  // blocking, a mega-cluster in CC/PageRank, a hot fingerprint in the
  // substring census, a hot word key in every lexical shuffle) and a
  // Zipf-stopword vocabulary. This fixture plants exactly that: the
  // base corpus plus [[SkewCopies]] byte-identical copies of ONE
  // stopword-saturated boilerplate template (fresh doc_ids, one
  // source), so ~86% of the corpus is a single blocking key.

  val SkewCopies = 30000
  private val SkewIdBase = 500000000L

  /** The planted template: all-stopword text (every word is a corpus-
    * ubiquitous token) long enough to clear the substring census's
    * 10-token window floor and the 5-char shingle floor. */
  private[graft] val SkewTemplate: String = {
    val stop = Seq("the", "of", "and", "a", "to", "in", "is", "it",
      "for", "on", "with", "as", "at", "by", "from", "that", "this",
      "be", "are", "was")
    (0 until 120).map(i => stop(i % stop.size)).mkString(" ")
  }

  /** Generate the skew dir if absent (marker-gated): base documents +
    * the planted mega-duplicate block. Only `documents` is written —
    * the census/blocking family under test reads nothing else. */
  def ensureSkew(spark: SparkSession, srcDir: String, outDir: String): String = {
    val marker = new java.io.File(outDir, "_GRAFT_SKEW_OK")
    if (marker.exists()) return outDir
    new java.io.File(outDir).mkdirs()
    val base = graft.tables.Tables.scan(spark, srcDir, "documents")
    val planted = spark.range(SkewCopies)
      .select((col("id") + lit(SkewIdBase)).as("doc_id"),
        lit(SkewTemplate).as("text"), lit("en").as("lang"),
        lit("boilerplate_mill").as("source"),
        lit(SkewTemplate.length.toLong).as("n_chars"))
    base.unionByName(planted).repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    java.nio.file.Files.writeString(marker.toPath,
      s"src=$srcDir copies=$SkewCopies")
    outDir
  }

  // ---- planted-skew fixture, EMBEDDING side -----------------------------
  //
  // The text fixture above cannot exercise the vector family's skew
  // hazard: 10⁴ near-identical embeddings landing in ONE IVF cell — a
  // mega-cell that breaks the √n-balanced-cell assumption behind
  // SemDeDup's per-cell quadratic contract and knn_ivf's probe
  // fraction. This plants exactly that: the base embeddings plus
  // [[SkewVecCopies]] BYTE-IDENTICAL copies of vector 0's embedding
  // (fresh vec_ids) — identical is the harshest case: every copy is
  // cos-1 with every other, and all of them share one Voronoi cell.
  //
  // Planted ids are INDEX-SIDE ONLY (r14): every planted vec_id ≡ 2
  // (mod 20), so none lands in the % 5 == 0 query batch and none in
  // the % 20 == 1 append holdout. r13's fixture planted uniformly,
  // which put 1 in 5 of the copies INTO the query batch — every such
  // query genuinely had thousands of exact matches, so probe PAIRS
  // grew quadratically in copies (planted queries × planted postings)
  // and the append path carried a permanent above-factor flag that
  // measured the fixture's geometry, not the engine. One-sided
  // planting keeps the hazard under test — a probed mega-cell holding
  // all 10⁴ copies — while the probe workload scales linearly with
  // the planted rows, so the flag gate measures the engine again.

  val SkewVecCopies = 10000
  private val SkewVecIdBase = 600000000L
  /** Fixture layout tag — bumping it invalidates previously generated
    * skew-vec dirs (the marker check compares content, not existence). */
  private val SkewVecLayout = "index-side-only-v2"

  /** Generate the embedding-skew dir if absent (marker-gated). Only
    * `embeddings` is written — the vector family under test reads
    * nothing else. */
  /** Warm-fixture probes for the bench's section-budget guard: a cold
    * dir pays generation INSIDE the section, which the warm-run cost
    * hints omit (r13 ADVICE) — the guard adds a generation surcharge
    * exactly when these return false. */
  def scaledIsWarm(outDir: String): Boolean =
    new java.io.File(outDir, "_GRAFT_SCALED_OK").exists()
  def skewIsWarm(outDir: String): Boolean =
    new java.io.File(outDir, "_GRAFT_SKEW_OK").exists()
  def skewVecIsWarm(srcDir: String, outDir: String): Boolean = {
    val marker = new java.io.File(outDir, "_GRAFT_SKEWVEC_OK")
    marker.exists() &&
      scala.util.Try(java.nio.file.Files.readString(marker.toPath))
        .toOption
        .contains(s"src=$srcDir copies=$SkewVecCopies layout=$SkewVecLayout")
  }

  def ensureSkewVec(spark: SparkSession, srcDir: String, outDir: String): String = {
    if (skewVecIsWarm(srcDir, outDir)) return outDir
    val marker = new java.io.File(outDir, "_GRAFT_SKEWVEC_OK")
    val want = s"src=$srcDir copies=$SkewVecCopies layout=$SkewVecLayout"
    new java.io.File(outDir).mkdirs()
    val base = graft.tables.Tables.scan(spark, srcDir, "embeddings")
    val template = base.filter(col("vec_id") === 0).drop("vec_id").limit(1)
    val planted = spark.range(SkewVecCopies)
      .crossJoin(broadcast(template))
      // ≡ 2 (mod 20): outside the query batch and the append holdout
      .withColumn("vec_id", col("id") * 20 + lit(SkewVecIdBase + 2))
      .drop("id")
    base.unionByName(planted).repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    java.nio.file.Files.writeString(marker.toPath, want)
    outDir
  }

  /** Generate the scaled dir if absent (marker-gated); returns the dir. */
  def ensure(spark: SparkSession, srcDir: String, outDir: String): String = {
    val marker = new java.io.File(outDir, "_GRAFT_SCALED_OK")
    if (marker.exists()) return outDir
    new java.io.File(outDir).mkdirs()
    for (dim <- Seq("region", "nation"))
      graft.tables.Tables.scan(spark, srcDir, dim)
        .write.mode("overwrite").parquet(s"$outDir/$dim.parquet")
    val copies = (0 until Factor).map(c => copyOf(spark, srcDir, c))
    for (name <- copies.head.keys) {
      val unioned = copies.map(_(name)).reduce(_.unionByName(_))
      // fact tables land as multiple files — the multi-file layout a real
      // sf1 dir would have, and the parallelism the bench should see
      unioned.repartition(8).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
    }
    java.nio.file.Files.writeString(marker.toPath, s"src=$srcDir factor=$Factor")
    outDir
  }
}
