package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Deduplication pack over `documents` — exact, MinHash+LSH, SimHash, and
  * exact n-gram Jaccard verification, each built as the shape that
  * survives 100 TB:
  *
  *  - exact dedup is a single hash-groupBy on the normalized text (at
  *    scale: group on a fingerprint first, compare texts only within
  *    colliding groups);
  *  - MinHash sketches fold map-side via a typed Aggregator (one 128-lane
  *    sketch per doc crosses the shuffle, never the shingles);
  *  - LSH banding turns all-pairs comparison into an equi-join on
  *    (band, signature) — candidate generation is linear in data size,
  *    quadratic only within a bucket;
  *  - exact Jaccard runs only on LSH candidates (array_intersect on
  *    collected shingle sets of the candidate docs).
  *
  * Since r15 the MinHash/SimHash pipelines hash ONLY through md5 (the
  * one digest both engines share): the affine permutation matrix and
  * the SimHash word hash are md5-derived, so dedup_minhash,
  * dedup_simhash, and dedup_clusters are fully DuckDB-oracled
  * (sketch → band → candidate → verify replayed bit-exactly);
  * DedupSpec additionally pins recall against brute-force Jaccard on
  * sf0.001 and each kernel against an independent explode replay.
  */
object Dedup {

  // 32 bands x 6 rows: the S-curve threshold (1/b)^(1/r) ≈ 0.56 sits just
  // under the 0.6 target. Miss probability at jaccard 0.8 is
  // (1 - 0.8^6)^32 ≈ 6e-5; at jaccard 0.45 only ~25% of pairs become
  // candidates (vs 87% with 4-row bands — which flooded buckets with
  // ~200-doc collisions on this corpus and exploded the candidate join).
  // OPH sketching is O(text + numPerm), so the extra lanes are free.
  val NumPerm = 192
  val Bands = 32
  val RowsPerBand: Int = NumPerm / Bands

  /** Raw-text predicate equal to "the k=5 signature kernels return
    * non-null": [[graft.functions.SigKernels.md5PermSketch]] and
    * [[graft.functions.SigKernels.minMd5Shingle]] null exactly for
    * null / sub-5-codepoint texts (both code paths return null only
    * when length < k, and a text with ≥ k code points always yields at
    * least one window). Filtering on the KERNEL OUTPUT
    * (`col("sketch").isNotNull`) instead let PushDownPredicates clone
    * the kernel into a Filter BELOW the spread exchange — every doc
    * paid the md5 kernel twice, the first pass single-task below the
    * very exchange that exists to parallelize it (plan-verified r17;
    * guide §1.2 per-task work, §2.4 plan reading). `length(text) >= 5`
    * pushes to the parquet scan for free; `length` counts code points,
    * the unit both kernels gate on. */
  private def hasShingleWindow: org.apache.spark.sql.Column =
    length(col("text")) >= 5

  /** char-5-gram shingle hashes, distinct per doc. */
  private def shingleTable(spark: SparkSession, dir: String): DataFrame =
    spread(documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, greatest(length(text) - 4, 1)),
          |  i -> substring(text, i, 5))""".stripMargin)).as("shingle"))
      .filter(length(col("shingle")) === 5)
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .distinct()

  /** Exact dedup: normalize → groupBy → keep min doc_id. Groups on the
    * 64-bit hash of the normalized text, not the text itself — the
    * shuffle then moves 8 bytes + partial aggregates per row instead of
    * the full document (the 100 TB difference; a cross-group collision
    * needs ~2^32 distinct docs by birthday bound — at that scale switch
    * to a 128-bit fingerprint). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    spread(documents(spark, dir), col("doc_id"), 256 * 1024)
      .groupBy(xxhash64(lower(regexp_replace(col("text"), "\\s+", " "))).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** MinHash + LSH candidate pairs with estimated Jaccard ≥ 0.5 —
    * HASH-ORACLED since r15: lanes are md5-affine permutations
    * ([[graft.functions.SigKernels.md5PermSketch]]: a_j, b_j derived
    * from md5("a:j")/md5("b:j"), shingle hash from md5(shingle) — the
    * one hash family BOTH engines compute), so DuckDB rebuilds the
    * permutation matrix and replays sketch → band → candidate → verify
    * bit-exactly (the knn_lsh r11 graduation pattern). Lanes live in
    * [0, 2^31-1): int lanes are LOSSLESS, so the verify join ships
    * 4 bytes/lane with agreement exactly equal to the oracle's (the
    * old fold16 shipped 2 bytes at a 2^-16 false-equal slack that a
    * hash oracle cannot absorb).
    *
    * The sketch table is persisted (disk-backed) so the corpus is
    * sketched ONCE for its three consumers — the returned frame is lazy,
    * so the operator body cannot unpersist it; CACHE LIFETIME IS OWNED
    * BY THE CALLING DRIVER (Verify and Bench call
    * `spark.catalog.clearCache()` after materializing each query, so
    * block storage never accumulates across a multi-query run; at
    * 100 TB the sketch is checkpointed to a real table instead —
    * [[persistSketchCorpus]]). */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    // the sketch table MATERIALIZES (0.77 KB/doc — NumPerm ints, ~1%
    // of corpus bytes; disk-backed): it is consumed three times (band
    // explosion + both sides of the verify join), and without explicit
    // materialization Catalyst plans each consumer as its own text scan
    // + kernel pipeline — measured 4 full scans, with the join-key
    // null-filters re-running the kernel a second time per row inside
    // the Filter. This is the in-query form of the PERSISTED sketch
    // corpus the incremental flow ([[persistSketchCorpus]]) stores as a
    // real table — at 100 TB you keep this artifact durably, you don't
    // recompute it per join arm.
    // the null gate runs on the RAW text ([[hasShingleWindow]]): the old
    // `.filter(col("sketch").isNotNull)` let PushDownPredicates clone
    // the md5 kernel into a Filter below this pipeline — every doc was
    // sketched TWICE in the cache build (stage-counted at sf10: 126 s
    // cpu → 79 s with the raw-text gate).
    // The doc_id repartition before the persist is DELIBERATE (r17:
    // removing it forced two 373 MB skV exchanges at sf10): the cache's
    // hashpartitioning(doc_id) satisfies BOTH verify joins (keys a and b
    // are doc_ids), so the sketch table is shuffled once here and never
    // again. Its count is PINNED to the session's cores because the
    // cache freezes it: an unpinned repartition takes
    // spark.sql.shuffle.partitions, which AQE cannot coalesce inside a
    // cached plan, so in a session left at Spark's default every stage
    // reading the sketch ran 200 tasks on a few hundred docs (805 tasks
    // for the warm operator vs 21 pinned). Pinned, it is semantically
    // equal to spread's exchange, and EnsureRequirements drops it
    // whenever spread fired; AQE then sizes the candidate side of each
    // verify join to match (plan-checked with shuffle.partitions = 200).
    val sk = spread(documents(spark, dir).filter(hasShingleWindow),
        col("doc_id"))
      .select(col("doc_id"),
        graft.functions.SigKernelColumns.md5_perm_sketch(
          col("text"), 5, NumPerm).as("sketch"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // band identity as PACKED 62-bit longs (r17): a band's signature is
    // its RowsPerBand consecutive int lanes; two lanes (each < 2^31)
    // pack injectively into one long (hi*2^31 + lo — unique
    // decomposition), so RowsPerBand/2 flat long columns carry exactly
    // the band-key equality the old comma-joined decimal string did.
    // The string form cost ~60 B/row across the self-join's exchanges
    // and sorted BYTE-WISE in the merge join (stage-counted at sf10:
    // 1.8 GB shuffled, 610 MB spilled, 159 s cpu in the join stage);
    // fixed-width longs shuffle ~half the bytes and compare in three
    // word ops (guide §2.3 narrower types, §1.2 per-task work). The
    // md5bandkeys int→decimal formatting pass per join arm (~24 s cpu
    // each at sf10) is gone too — the lanes are sliced straight out of
    // the cached sketch. DuckDB still replays band identity its own way
    // (string_agg over lanes): equality is equality, the pair set is
    // bit-identical, and no sig ever reaches the output.
    // No explicit (band, sig) repartition either (r17): the self-join
    // states its own distribution requirement, so EnsureRequirements
    // inserts the exchange exactly when the planned strategy needs one
    // — when AQE broadcasts one arm (bench scale) the forced exchange
    // was a pure extra shuffle of the banded stream on BOTH arms
    // (plan-verified: the broadcast arm shuffled hash(band, sig) and
    // then broadcast the result), and at 100 TB the sort-merge arms get
    // the same hash exchanges either way (guide §2.4).
    require(RowsPerBand % 2 == 0, "packed band keys need even rows/band")
    val sigCols = (0 until RowsPerBand / 2).map(p => s"s$p")
    // explode a LITERAL band-index array and index the sketch directly
    // (GetArrayItem): whole-stage-codegen end to end — the transform(
    // sequence(...), b -> named_struct(...)) form is a HigherOrderFunction
    // and evaluates INTERPRETED (rule 4: no non-codegen expressions in
    // the hot path; measured ~26 s cpu per join arm at sf10)
    val banded = sk
      .select(col("doc_id"), col("sketch"),
        explode(lit((0 until Bands).toArray)).as("band"))
      .select(col("doc_id") +: col("band") +:
        sigCols.zipWithIndex.map { case (n, p) =>
          (shiftleft(col("sketch")
              .getItem(col("band") * RowsPerBand + 2 * p).cast("long"), 31) +
            col("sketch")
              .getItem(col("band") * RowsPerBand + 2 * p + 1).cast("long"))
            .as(n)
        }: _*)
    // join strategy is left to AQE ON PURPOSE: at bench scale the cached
    // sketch table is a few MB and broadcasting it beats shuffling
    // candidate×sketch rows 3-4x; at 100 TB the same table is 100+ GB,
    // exceeds every broadcast threshold, and AQE's runtime sizes pick
    // the shuffled join — the plan adapts to scale instead of pinning
    // either extreme. (Forcing shuffle_hash here was measured 2x SLOWER
    // at both sf0.1 and sf1: the verify join then shuffles a full
    // 1.5 KB sketch per candidate-pair side — ~5 GB at sf1 — where the
    // broadcast lookup ships the 37 MB table once per executor.)
    val bandEq = sigCols.map(n => col(s"x.$n") === col(s"y.$n"))
      .foldLeft(col("x.band") === col("y.band"))(_ && _)
    // shuffled-HASH self-join (guide §3.1 "pick the strategy
    // deliberately"): the banded key space is almost all singleton
    // buckets (sf10 census: 14.7M buckets over 16M rows, Σg² = 21.4M ≈
    // linear), so sort-merge paid two 16M-row sorts plus per-key group
    // buffers for groups of size ~1 — stage-counted 159 s cpu / 610 MB
    // spill, vs a per-partition hash build of rows/partitions (A/B at
    // sf10: 7.9 → 6.4 s warm, spill 0; sf0.1: 0.90 → 0.76 s). The
    // build side scales as rows/shuffle-partitions, and AQE's skew
    // split applies to shuffled-hash joins the same as sort-merge.
    val candidates = banded.as("x").join(banded.hint("shuffle_hash").as("y"),
        bandEq && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val skV = sk.select(col("doc_id"), col("sketch"))
    val est = candidates
      .join(skV.withColumnRenamed("doc_id", "a").withColumnRenamed("sketch", "ska"), "a")
      .join(skV.withColumnRenamed("doc_id", "b").withColumnRenamed("sketch", "skb"), "b")
      .withColumn("est_jaccard",
        graft.functions.SigKernelColumns.sketch_agreement_int(col("ska"), col("skb"))
          .cast("double") / lit(NumPerm.toDouble))
      .filter(col("est_jaccard") >= 0.5)
      .select(col("a"), col("b"), round(col("est_jaccard"), 4).as("est_jaccard"))
      .orderBy("a", "b")
    est
  }

  /** Incremental dedup against a PERSISTED sketch corpus — the
    * production flow at 100 TB: the corpus's banded MinHash sketches
    * are written ONCE to a graft table; deduplicating a new batch then
    * sketches ONLY the batch and LSH-joins it against the stored
    * sketches (the corpus text is never re-read for sketching — only
    * candidate corpus docs are read for exact verification). Corpus =
    * doc_id % 5 != 0, batch = the rest; output = exact-verified
    * near-dup pairs involving at least one batch doc, which equals the
    * full recompute's pair set restricted to the batch (spec-pinned).
    */
  /** Sketch-family tag stamped on every persisted sketch corpus. The
    * incremental flow's contract is "equals [[ngramJaccard]] restricted
    * to the batch", which is only STRUCTURAL if both funnels share one
    * sketch family: when [[dedupMinhash]] moved to md5-affine
    * permutations (r15, the hash-oracle graduation) a standing corpus
    * of old OPH sketches would band-join new md5 batch sketches into
    * garbage candidates — silently, since fewer candidates just looks
    * like fewer dups. [[updateSketchCorpus]] refuses a family-mismatched
    * table instead. */
  val SketchFamilyProp = "graft.sketch.family"
  val SketchFamily = "md5-affine-v1"

  /** (doc_id, sketch, band, sig): the in-scan sketch kernel + banding,
    * exploded one row per band — the SAME md5-affine family and band
    * keys as [[dedupMinhash]], so a batch sketched here band-joins a
    * corpus sketched there candidate-for-candidate.
    *
    * The full int-lane sketch is carried ONLY on each doc's band-0 row
    * (null on the other Bands-1): every consumer reads sketches through
    * the band-0 slice ([[incrementalPairs]]'s skV), so repeating the
    * ~0.5 KB array per band row would multiply the persisted corpus's
    * disk bytes ~[[Bands]]× for nothing — at 100 TB that is the
    * difference between a 0.1% and a 3% standing-storage overhead. */
  def bandedSketch(d: DataFrame): DataFrame =
    graft.tables.Tables.spread(d.filter(hasShingleWindow), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.SigKernelColumns.md5_perm_sketch(
          col("text"), 5, NumPerm).as("sketch"))
      .select(col("doc_id"), col("sketch"), posexplode(
        graft.functions.SigKernelColumns.md5_band_keys(
          col("sketch"), Bands, RowsPerBand)).as(Seq("band", "sig")))
      .select(col("doc_id"),
        when(col("band") === 0, col("sketch")).as("sketch"),
        col("band"), col("sig"))

  /** Sketch the corpus ONCE and persist the banded sketch table —
    * byte-targeted and band-clustered via
    * [[graft.table.StandingIndex.writeSized]] (1-D int sort: the probe
    * join shuffles on (band, sig) either way, so the one predicate file
    * stats can actually prune is [[incrementalPairs]]'s `band = 0`
    * sketch-side scan — band-disjoint files skip ~(Bands-1)/Bands of
    * the table for it; the old (band, sig) Morton pair is impossible
    * now anyway, since md5-affine band keys are strings). */
  def persistSketchCorpus(spark: SparkSession, corpusDocs: DataFrame,
      path: String): graft.table.GraftTable = {
    val t = graft.table.StandingIndex.writeSized(spark, path,
      bandedSketch(corpusDocs), Seq("band"))
    t.setProperties(Map(SketchFamilyProp -> SketchFamily))
    t
  }

  /** Stable sketch-corpus table location for the documents under `dir`,
    * keyed by the corpus FILES' content identity
    * ([[graft.table.StandingIndex.path]] — name/length/mtime plus a
    * footer-byte sample): an unchanged corpus reuses (and appends to)
    * its existing sketch table across runs; a regenerated corpus —
    * even one byte-swapped in place at identical sizes — keys to a
    * fresh one, so stale sketches can never poison the pairs. */
  def sketchCorpusPath(dir: String): String =
    // the _m1 segment is the FAMILY generation: md5-affine sketches
    // (r15) must never key to a standing OPH-family corpus left by an
    // earlier build — same reason the family property exists, but for
    // the content-addressed default path the rebuild is automatic
    graft.table.StandingIndex.path("graft_sketch_corpus_m1_", dir,
      "documents.parquet")

  /** Create-or-append the sketch corpus at `path`: only docs the table
    * has never seen are sketched and APPENDED — the standing corpus is
    * neither re-read for sketching nor rewritten. The anti-join probes
    * the (small) sketch table, not the corpus text. */
  def updateSketchCorpus(spark: SparkSession, corpusDocs: DataFrame,
      path: String): graft.table.GraftTable = {
    val t = graft.table.GraftTable(spark, path)
    if (t.currentVersion < 0) return persistSketchCorpus(spark, corpusDocs, path)
    val family = t.properties.get(SketchFamilyProp)
    if (family.isEmpty && path.contains("graft_sketch_corpus_m1_")) {
      // crash-window self-heal (r16, ADVICE): [[persistSketchCorpus]]
      // commits data first and the family property in a later commit —
      // a crash between the two leaves a standing corpus whose sketches
      // ARE the current family but whose property says nothing, and
      // refusing it forever (with a delete-and-rebuild remedy) punishes
      // a table that is actually fine. At an _m1_-generation
      // content-addressed path the data can only have been sketched by
      // the current family — the family generation is part of the path
      // ([[sketchCorpusPath]]) — so re-stamp the property the
      // interrupted persist never committed and continue. Caller-managed
      // paths carry no generation marker, so absence there still
      // refuses below (a pre-family legacy table is indistinguishable
      // from a half-initialized one).
      t.setProperties(Map(SketchFamilyProp -> SketchFamily))
    } else if (!family.contains(SketchFamily))
      throw new IllegalStateException(
        s"sketch corpus at $path was built with family " +
        s"${family.getOrElse("unknown (pre-" + SketchFamilyProp + ")")} " +
        s"but this build sketches $SketchFamily: band keys would join " +
        "into garbage candidates — rebuild the corpus (delete the table " +
        "and re-run updateSketchCorpus with the full corpus)")
    val known = t.read().select("doc_id").distinct()
    val fresh = corpusDocs.join(known, Seq("doc_id"), "left_anti")
    if (!fresh.isEmpty)
      graft.table.StandingIndex.writeSized(spark, path,
        bandedSketch(fresh), Seq("band"),
        org.apache.spark.sql.SaveMode.Append)
    t
  }

  /** One-pass md5-affine sketch frame for a batch — the ONLY side of
    * the incremental flow that ever computes the sketch kernel. */
  private[graft] def batchSketchFrame(batchDocs: DataFrame): DataFrame =
    graft.tables.Tables.spread(batchDocs.filter(hasShingleWindow),
        col("doc_id"))
      .select(col("doc_id"),
        graft.functions.SigKernelColumns.md5_perm_sketch(
          col("text"), 5, NumPerm).as("sketch"))

  /** Lazy agreement-passed candidate id pairs of a batch sketch frame
    * against the stored banded corpus (batch-vs-corpus in either
    * orientation plus batch-internal), the est gate applied — the
    * plan-auditable stage [[incrementalPairs]] materializes.
    *
    * The est gate runs the SAME md5-affine lanes as [[dedupMinhash]]:
    * lossless int agreement makes the candidate funnel IDENTICAL to
    * the full recompute's, which is what turns the "incremental ≡ full
    * restricted to the batch" contract from a corpus-dependent
    * coincidence into a structural property (the old fold16 2-byte
    * lanes saved join bytes but estimated through a DIFFERENT random
    * family — a pair near the 0.5 S-curve knee could pass one gate and
    * fail the other). Join shape mirrors dedupMinhash: the band-key
    * exchange ships IDS ONLY, and the full sketches join per
    * CANDIDATE — the batch's from the persisted one-pass sketch frame,
    * the corpus's from the stored table's band-0 rows (exactly one
    * per doc; the band file clustering makes that a row-group-skipped
    * scan, never a 32×-duplicated read). */
  private[graft] def incrementalCandidates(corpusBanded: DataFrame,
      bsk: DataFrame): DataFrame = {
    val batchBands = bsk.select(col("doc_id"), posexplode(
        graft.functions.SigKernelColumns.md5_band_keys(
          col("sketch"), Bands, RowsPerBand)).as(Seq("band", "sig")))
      .repartition(col("band"), col("sig"))
    val corpusBands = corpusBanded.select("doc_id", "band", "sig")
      .repartition(col("band"), col("sig"))
    // batch-vs-corpus (either orientation) + batch-internal pairs,
    // normalized to a < b; estimate from sketches, verify exactly
    val pairs = batchBands.as("x").join(corpusBands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .unionByName(batchBands.as("x").join(batchBands.as("y"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")))
      .distinct()
    val skV = corpusBanded.filter(col("band") === 0)
      .select(col("doc_id"), col("sketch"))
      .unionByName(bsk)
      .dropDuplicates("doc_id")
    pairs
      .join(skV.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("sketch", "ska"), "a")
      .join(skV.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("sketch", "skb"), "b")
      .filter(graft.functions.SigKernelColumns
        .sketch_agreement_int(col("ska"), col("skb"))
        .cast("double") / lit(NumPerm.toDouble) >= 0.5)
      .select("a", "b")
  }

  /** LSH-verified near-dup pairs of `batchDocs` against a persisted
    * banded-sketch corpus plus batch-internal pairs — the corpus side
    * is `corpusBanded` (read from the sketch table; nothing here
    * re-sketches corpus text), and exact shingle verification touches
    * only candidate doc ids. */
  def incrementalPairs(spark: SparkSession, dir: String,
      corpusBanded: DataFrame, batchDocs: DataFrame): DataFrame = {
    val bsk = batchSketchFrame(batchDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the batch sketch frame must not outlive this call (r16, ADVICE):
    // streamDedupAdmit runs incrementalPairs once per micro-batch, and
    // a persisted frame is only reclaimed on unpersist or session end —
    // a long-running stream would accumulate one disk-backed cached
    // frame per batch. The agreement-passed candidate id pairs are
    // tiny; materialize them eagerly (localCheckpoint truncates the
    // lineage so the verification frame below no longer references
    // bsk), then release the sketches — exact verification needs only
    // ids + shingles.
    val cands = incrementalCandidates(corpusBanded, bsk)
      .localCheckpoint(true)
    bsk.unpersist()
    // exact verification reads ONLY candidate docs' shingles
    val sets = shingleTable(spark, dir)
      .groupBy("doc_id").agg(collect_set("sh").as("shingles"))
    cands
      .join(sets.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("shingles", "sa"), "a")
      .join(sets.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("shingles", "sb"), "b")
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .filter(col("jaccard") >= 0.6)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Streaming near-dup ADMISSION — the day-2 ingestion gate a standing
    * corpus runs on every new crawl: batch documents (doc_id % 5 = 0)
    * arrive as Structured Streaming micro-batches, each is LSH-probed
    * against the persisted sketch corpus ([[updateSketchCorpus]] —
    * nothing re-sketches the corpus) and exact-verified, and every doc
    * lands in a persisted admission log with its corpus near-dup count
    * and an admitted (no near-dup) verdict. Admission compares against
    * the ORIGINAL corpus only — never against other batch docs — so the
    * verdict is independent of micro-batch boundaries and arrival
    * order, which is what makes the result (and the DuckDB brute-force
    * oracle) well-defined. Exactly-once by the [[streamIntoIvfIndex]]
    * mechanism: the anti-join on logged doc_ids makes every batch
    * idempotent, so checkpoint-stale replays append nothing. */
  def streamDedupAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val corpusT = updateSketchCorpus(spark,
      docs.filter(col("doc_id") % 5 =!= 0), sketchCorpusPath(dir))
    val logT = graft.table.GraftTable(spark, sketchCorpusPath(dir) + "_admit")
    val rootF = new java.io.File(s"$dir/documents.parquet")
    val reader = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
    val stream = (if (rootF.isDirectory) reader.parquet(rootF.toString)
      else reader.option("pathGlobFilter", "documents.parquet").parquet(dir))
      .filter(col("doc_id") % 5 === 0)
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val fresh =
          if (logT.currentVersion < 0) b
          else b.join(logT.read().select("doc_id"), Seq("doc_id"), "left_anti")
        if (!fresh.isEmpty) {
          val pairs = incrementalPairs(spark, dir, corpusT.read(), fresh)
            // corpus-vs-batch only: batch-internal pairs are excluded so
            // the verdict never depends on micro-batch composition
            .filter(!(col("a") % 5 === 0 && col("b") % 5 === 0))
          val near = pairs
            .select(when(col("a") % 5 === 0, col("a")).otherwise(col("b"))
              .as("doc_id"))
            .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
          val log = fresh.select("doc_id")
            .join(near, Seq("doc_id"), "left")
            .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
            .withColumn("admitted", col("n_near") === 0)
          if (logT.currentVersion < 0) logT.write(log)
          else logT.write(log, org.apache.spark.sql.SaveMode.Append)
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    logT.read().orderBy("doc_id")
  }

  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    // standing corpus pass: create-or-append (doc_id, sketch, band,
    // sig) at a stable path — a rerun appends nothing and re-sketches
    // nothing; the result stays a lazy frame over the persisted table
    val t = updateSketchCorpus(spark,
      docs.filter(col("doc_id") % 5 =!= 0), sketchCorpusPath(dir))
    incrementalPairs(spark, dir, t.read(),
        docs.filter(col("doc_id") % 5 === 0))
      .orderBy("a", "b")
  }

  /** Exact char-5-gram Jaccard, computed only for LSH candidates. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val candidates = dedupMinhash(spark, dir).select("a", "b")
    val sets = shingleTable(spark, dir)
      .groupBy("doc_id").agg(collect_set("sh").as("shingles"))
    candidates
      .join(sets.withColumnRenamed("doc_id", "a").withColumnRenamed("shingles", "sa"), "a")
      .join(sets.withColumnRenamed("doc_id", "b").withColumnRenamed("shingles", "sb"), "b")
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .filter(col("jaccard") >= 0.6)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("a", "b")
  }

  /** SimHash signatures + near-dup pairs at hamming distance ≤ 3 via
    * 4-piece banding (pigeonhole: any pair within distance 3 shares at
    * least one exact 16-bit piece).
    *
    * Signatures come from the scalar codegen'd [[graft.functions.SimHashSig]]
    * kernel — one pass inside the scan, no token explode and no shuffle
    * (the explode → xxhash64 → typed-Aggregator formulation it replaces
    * shuffled every token hash; DedupSpec pins bit-identical signatures
    * between the two, and [[Sketches.SimHashAgg]] remains the UDAF
    * surface demo). */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // the 16-byte/doc sig table MATERIALIZES (same policy as
    // [[dedupMinhash]]'s sketch table): relying on ReuseExchange still
    // left both self-join arms with their own text scan + kernel pass
    // whenever AQE broadcast one side — at 100 TB that is a second full
    // corpus read for nothing
    // md5 word hash since r15 ([[graft.functions.SigKernels
    // .simhashMd5]]): DuckDB reassembles the 64-bit word value from two
    // 8-hex-char md5 halves and replays bit votes → signature →
    // brute-force hamming, so the pair set is hash-oracled (the 4-piece
    // pigeonhole blocking below guarantees EVERY hamming≤3 pair shares
    // a piece, so blocked+verified ≡ brute force exactly)
    val sigs = spread(documents(spark, dir), col("doc_id"), 256 * 1024)
      .select(col("doc_id"),
        graft.functions.SigKernelColumns.simhash_md5(col("text")).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pieces = sigs.select(col("doc_id"), col("sig"), posexplode(expr(
      """transform(sequence(0, 3),
        |  p -> concat_ws(':', p, shiftright(sig, p * 16) & 65535))""".stripMargin))
      .as(Seq("piece", "pkey")))
      .repartition(col("piece"), col("pkey"))
    pieces.as("x").join(pieces.as("y"),
        col("x.piece") === col("y.piece") && col("x.pkey") === col("y.pkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(expr("x.sig").bitwiseXOR(expr("y.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("a", "b")
  }

  /** Connected components over an undirected edge list via iterative
    * min-label propagation: each round joins every vertex to its
    * neighbors' labels and keeps the minimum; rounds = graph diameter
    * (near-dup clusters are shallow — a handful of rounds). Each round
    * is one shuffle join + aggregate. Labels are localCheckpoint'ed
    * every round: the checkpoint truncates lineage so the plan stays
    * ONE join deep no matter the diameter — without it each round
    * chains the previous plan and planner cost climbs per iteration
    * (and a lost executor would recompute the whole chain).
    *
    * `checkpointDir`: when set, rounds checkpoint RELIABLY to that
    * (HDFS/object-store) directory instead of executor storage —
    * `localCheckpoint` pins blocks to executors, so at cluster scale a
    * lost executor mid-iteration fails the job unrecoverable; reliable
    * checkpoints survive executor loss at the cost of a write per
    * round. Default unchanged (local[*] has no executor-loss mode).
    * Storage is bounded: dead rounds are reclaimed as the loop advances
    * (at most two rounds of files live at once), and the final round's
    * files are reclaimed by running inside
    * [[withReliableCheckpoints]] once the result is materialized. */
  def connectedComponents(edges: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = new Truncator(edges.sparkSession, checkpointDir)
    // materialize the DIRECTED edge list once and derive the symmetric
    // view from it (r17): unioning two instances of the `edges` subtree
    // evaluated the whole upstream pipeline twice — for dedupClusters
    // that is the full LSH candidate funnel, for clusterMinsh the
    // min-md5 census join (guide §2.4: don't compute things twice).
    // The union of two scans of the materialized half is cheap.
    // The cache freezes the partitioning of `edges`' last exchange,
    // which a caller's plan sizes from spark.sql.shuffle.partitions and
    // AQE cannot coalesce inside a cache: the narrow coalesce caps it at
    // the session's cores, so no round's stages track that setting (a
    // no-op when `edges` already has at most one partition per core).
    val e0 = edges.coalesce(edges.sparkSession.sparkContext.defaultParallelism)
      .cache()
    val sym = e0.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e0.select(col("b").as("src"), col("a").as("dst")))
      .cache()
    // init fused with round 1: label(v) = min(v, min(neighbors)) in ONE
    // aggregate — identical to initializing label(v)=v and running one
    // propagation round, but skips the distinct-vertices shuffle and
    // the first join (for shallow near-dup graphs this IS most of the
    // loop: a star/clique graph converges immediately after this)
    var labels = ckpt.round(sym.groupBy("src")
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("id"), col("label")))
    var converged = false
    while (!converged) {
      val neighborMin = sym.join(labels, col("dst") === col("id"))
        .groupBy("src").agg(min("label").as("nlabel"))
      // one eagerly-checkpointed frame carries BOTH the new and old
      // label (materializes AND truncates lineage), so the convergence
      // check is a filter over the materialized round — not a second
      // join re-shuffling the labels
      val round = ckpt.round(
        labels.join(neighborMin, col("id") === col("src"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label")))
      converged = round.filter(col("label") =!= col("old")).isEmpty
      labels = round.select("id", "label")
    }
    sym.unpersist()
    e0.unpersist()
    labels
  }

  /** Run `op` inside a per-invocation RELIABLE-checkpoint scope rooted
    * at `root` and delete the scope's files afterwards — the cleanup
    * handle for [[connectedComponents]]/[[pagerankIterations]]'s
    * `checkpointDir` option. `op` receives the scope directory to pass
    * as the checkpointDir and must MATERIALIZE whatever it needs from
    * the returned frames before returning (collect, write, count):
    * reliable-checkpointed frames read their own files, which stop
    * existing when this returns. Without this wrapper (or a caller-run
    * equivalent) every invocation leaks its final round's checkpoint
    * files — at 100 TB and five rounds that is real storage per run. */
  def withReliableCheckpoints[T](spark: SparkSession, root: String)(
      op: String => T): T = {
    val scope = new org.apache.hadoop.fs.Path(root,
      "graft-ckpt-" + java.util.UUID.randomUUID().toString)
    val fs = scope.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try op(scope.toString)
    finally scala.util.Try(fs.delete(scope, true))
  }

  /** Round-truncation strategy for the iterative ops: eager
    * `localCheckpoint` by default (executor storage — fast, correct on
    * local[*]), RELIABLE parquet materialization under `dir` when given
    * (the cluster-grade form: files survive executor loss, exactly the
    * guarantee `RDD.checkpoint` buys). Two lifetimes:
    *
    *  - [[pin]] — frames referenced by EVERY iteration (pagerank's
    *    adjacency): files live until the scope is cleaned.
    *  - [[round]] — per-round frames: once round N+2 is materialized,
    *    round N's files are provably dead (round N+1 reads its own
    *    files, not N's lineage) and are deleted immediately, so a
    *    long-diameter graph holds at most TWO rounds of checkpoint
    *    bytes instead of one per iteration.
    *
    * The reliable form deliberately does NOT use `Dataset.checkpoint`:
    * that rides `setCheckpointDir`, which is PROCESS-GLOBAL state — a
    * concurrent Truncator's constructor would redirect this one's
    * rounds into its own scope, and any listing-diff reclamation then
    * deletes files a concurrent invocation still reads. Writing each
    * round to a private `trunc-<uuid>/round-N` parquet dir keeps
    * every path this instance deletes a path only this instance
    * created, so concurrent invocations (even sharing `dir`) cannot
    * interleave. Callers reclaim the final round + pins with
    * [[Dedup.withReliableCheckpoints]] once the result is consumed. */
  private final class Truncator(ss: org.apache.spark.sql.SparkSession,
      dir: Option[String]) {
    private val reliable = dir.map { d =>
      val p = new org.apache.hadoop.fs.Path(d,
        "trunc-" + java.util.UUID.randomUUID().toString)
      (p.getFileSystem(ss.sparkContext.hadoopConfiguration), p)
    }
    private var seq = 0
    private var prevRound: Option[org.apache.hadoop.fs.Path] = None
    private var lastRound: Option[org.apache.hadoop.fs.Path] = None
    /** Eager write + schema-pinned read-back (the explicit schema keeps
      * an EMPTY round readable — zero-file parquet dirs can't infer). */
    private def materialize(df: DataFrame, name: String)
        : (DataFrame, org.apache.hadoop.fs.Path) = {
      val out = new org.apache.hadoop.fs.Path(reliable.get._2, name)
      df.write.parquet(out.toString)
      (ss.read.schema(df.schema).parquet(out.toString), out)
    }
    def pin(df: DataFrame): DataFrame =
      if (reliable.isEmpty) df.localCheckpoint()
      else { seq += 1; materialize(df, s"pin-$seq")._1 }
    def round(df: DataFrame): DataFrame = reliable match {
      case None => df.localCheckpoint()
      case Some((fs, _)) =>
        seq += 1
        val (out, path) = materialize(df, s"round-$seq")
        prevRound.foreach(p => scala.util.Try(fs.delete(p, true)))
        prevRound = lastRound
        lastRound = Some(path)
        out
    }
  }

  /** Near-dup clusters from the LSH candidate graph: every doc labeled
    * with its cluster's minimum doc_id (the canonical survivor — the
    * last step of a dedup pipeline: keep `cluster`, drop the rest). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(dedupMinhash(spark, dir).select("a", "b"))
      .select(col("label").as("cluster"), col("id").as("doc_id"))
      .orderBy("cluster", "doc_id")

  /** Connected components with a FULL hash oracle: blocking edges from a
    * single-permutation MinHash whose hash is md5 — the one hash function
    * Spark and DuckDB share — so the whole pipeline (shingle → min-hash
    * key → equi-join edges → components) is expressible as a DuckDB
    * recursive CTE. This is the oracle-checked twin of [[dedupClusters]]:
    * same [[connectedComponents]] operator, same edge-join shape, but a
    * candidate key both engines can compute, turning the component
    * labeling from a rows-only claim into a row/schema/hash-verified one.
    * (One md5 permutation ⇒ two docs block together with probability equal
    * to their Jaccard similarity — the b=1 point of the LSH S-curve.) */
  /** Min-md5-shingle blocking graph as STAR edges: every doc has
    * exactly ONE blocking key, so the blocking graph is a disjoint
    * union of cliques and connecting each member to its group's min
    * doc_id (the hub) preserves the components EXACTLY while emitting
    * O(n) edges instead of O(n²) per bucket — at sf0.1 that is 5k
    * edges vs the 1.3M the pairwise self-join produced (one hot
    * shingle key is all it takes). The never-materialize-the-
    * quadratic-bucket rule the LSH pack follows. min-md5 computed by a
    * codegen'd single-pass kernel inside the scan (the explode → md5 →
    * groupBy(min) formulation paid 1.5M exploded rows and a hex encode
    * per SHINGLE; DedupSpec pins kernel ≡ explode-pipeline equality). */
  private[graft] def minshStarEdges(spark: SparkSession, dir: String): DataFrame = {
    // the (doc_id, k) frame MATERIALIZES (~50 B/doc — the dedupMinhash
    // sketch-table policy, cache lifetime owned by the driving loop):
    // it feeds BOTH the hub census and the join back, and without it
    // each arm re-ran the min-md5 kernel over the corpus (stage-counted
    // r17 at sf10: two ~30 s-cpu kernel stages for one logical pass)
    val minsh = spread(documents(spark, dir).filter(hasShingleWindow),
        col("doc_id"), 256 * 1024)
      .select(col("doc_id"),
        graft.functions.SigKernelColumns.min_md5_shingle(col("text"), 5).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hub election is a PARTIAL-AGG groupBy + join back, not a window
    // over k: a viral boilerplate template makes one blocking key carry
    // millions of docs, and `Window.partitionBy(k)` would serialize that
    // whole mega-block through one task before CC/PageRank even start.
    // groupBy(min) collapses the hot key map-side to one row per task,
    // and the join back is a sort-merge join AQE's skew-split can cut
    // (OptimizeSkewedJoin splits the oversized partition; a window
    // partition cannot be split). Same hubs, same edges, bit-identical.
    val hubs = minsh.groupBy("k").agg(min("doc_id").as("hub"))
    minsh.join(hubs, Seq("k"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("a"), col("doc_id").as("b"))
  }

  /** Blocking-skew telemetry over the [[minshStarEdges]] key space — the
    * observability half of the mega-block defense: one row per block
    * SIZE with how many blocks have it (plus each size bucket's max
    * doc count sanity anchor), so a skewed corpus shows up as a fat
    * tail in a bounded-size report instead of an opaque straggler
    * task. Partial-agg twice (k → size, size → n_blocks): nothing
    * larger than the distinct-size set ever reaches the driver. */
  def blockStats(spark: SparkSession, dir: String): DataFrame = {
    val minsh = spread(documents(spark, dir).filter(hasShingleWindow),
        col("doc_id"), 256 * 1024)
      .select(col("doc_id"),
        graft.functions.SigKernelColumns.min_md5_shingle(col("text"), 5).as("k"))
    minsh.groupBy("k").agg(count(lit(1)).as("block_size"))
      .groupBy("block_size")
      .agg(count(lit(1)).as("n_blocks"))
      .orderBy("block_size")
  }

  def clusterMinsh(spark: SparkSession, dir: String): DataFrame = {
    connectedComponents(minshStarEdges(spark, dir))
      .select(col("label").as("cluster"), col("id").as("doc_id"))
      .orderBy("cluster", "doc_id")
  }

  /** PageRank over the blocking graph — iterative graph analytics
    * beyond [[connectedComponents]]: rank documents by their centrality
    * in the near-dup graph (a high-rank doc is the template many
    * near-copies orbit — the doc to keep, or to investigate). Standard
    * damped PageRank, [[PrIters]] synchronous iterations over the
    * [[minshStarEdges]] graph taken undirected; every vertex has
    * degree ≥ 1 by construction, so there is no dangling-mass term.
    *
    * Determinism/oracle: each iteration's per-vertex sum is an
    * ORDER-PINNED fold over (src-sorted) neighbor contributions, the
    * damping constants are interpolated into the oracle SQL from the
    * Scala doubles (shortest round-trip decimal) and cast to DOUBLE
    * (DuckDB literals are DECIMAL otherwise), and every remaining op
    * is correctly-rounded IEEE — so DuckDB, replaying the iterations
    * as [[PrIters]] unrolled CTEs, reproduces the ranks BIT-FOR-BIT.
    *
    * Scale: the classic iterative-join shape — one equi-join + one
    * keyed aggregation per iteration, localCheckpoint between
    * iterations keeps the plan one join deep (the
    * [[connectedComponents]] rule); edges are O(n) by the star
    * construction, so each iteration is linear. The per-vertex sum is
    * a RUNNING-SUM window (`rows unbounded preceding`, src order), NOT
    * a collected array: hub degree equals blocking-group size, which
    * one viral boilerplate template makes unbounded at 100 TB —
    * WindowExec sorts and SPILLS its partition (no per-vertex in-memory
    * buffer) while adding contributions in the identical src-ascending
    * IEEE order the collect_list+fold form used, so ranks are
    * bit-unchanged (DedupSpec pins a 50k-member star against the
    * closed form). */
  val PrIters = 5
  val PrDamping = 0.85
  val PrTeleport = 1.0 - PrDamping

  /** [[PrIters]] synchronous damped-PageRank rounds over an undirected
    * edge list (columns a, b) — factored from [[pagerankDups]] so specs
    * can drive adversarial graphs (mega-hub stars) through the exact
    * production iteration. `checkpointDir` swaps the per-round
    * localCheckpoint for a reliable one (see [[connectedComponents]]'s
    * doc — same executor-loss rationale). */
  private[graft] def pagerankIterations(edges: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val ckpt = new Truncator(edges.sparkSession, checkpointDir)
    // adjacency frames feed EVERY iteration → pinned (never
    // round-reclaimed); only the per-iteration rank frames rotate.
    // The DIRECTED list pins first (r17): pinning the union directly
    // evaluated the whole edge pipeline once per union arm — the
    // symmetric view now derives from the materialized half instead
    val e0 = ckpt.pin(edges)
    val adj = ckpt.pin(e0.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e0.select(col("b").as("src"), col("a").as("dst"))))
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg = ckpt.pin(adj.join(deg, "src"))
    val nV = deg.count() // vertex count: O(components)-bounded scalar
    var pr = ckpt.round(deg.select(col("src").as("v"))
      .withColumn("pr", lit(1.0) / lit(nV)))
    // all three window functions share one (dst, src-order) spec → ONE
    // WindowExec, one sort, spillable partition buffer; the last row of
    // each dst partition carries the complete src-ascending running sum
    val byDst = Window.partitionBy("dst").orderBy("src")
    val running = byDst.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val entire = byDst.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    for (_ <- 1 to PrIters) {
      pr = withDeg.join(pr, col("src") === col("v"))
        .select(col("dst"), col("src"), (col("pr") / col("deg")).as("c"))
        .withColumn("s", sum("c").over(running))
        .withColumn("rn", row_number().over(byDst))
        .withColumn("cnt", count(lit(1)).over(entire))
        .filter(col("rn") === col("cnt"))
        .select(col("dst").as("v"),
          (lit(PrTeleport) / lit(nV) + lit(PrDamping) * col("s")).as("pr"))
      pr = ckpt.round(pr)
    }
    pr
  }

  def pagerankDups(spark: SparkSession, dir: String): DataFrame =
    pagerankIterations(minshStarEdges(spark, dir))
      .select(col("v").as("doc_id"), col("pr")).orderBy("doc_id")

  /** Containment (asymmetric) near-dup pairs — the case symmetric
    * Jaccard systematically misses: a short document embedded verbatim
    * in a longer one (wire copy inside an article, quoted mail inside a
    * thread) has high |A∩B|/|A| but tiny Jaccard, so MinHash-LSH never
    * surfaces it. Candidates come from RARE-ANCHOR blocking: each
    * doc's minimum 5-gram among its shingles with document frequency
    * ≤ [[ContainmentMaxDf]] is looked up in other docs' (equally
    * df-capped) shingle occurrences. If A ⊆ B then EVERY shingle of A
    * — its min-rare one included — is in B, so full containment keeps
    * perfect recall for any doc owning at least one rare shingle
    * (a doc made entirely of df>cap boilerplate shingles has no
    * information to anchor on and is excluded from the contained side
    * by contract); partial containment degrades gracefully (P[anchor
    * hits] ≈ the containment). The df cap is THE scale bound: an
    * uncapped min anchor is a uniformly random shingle of the doc,
    * so it lands on a corpus-ubiquitous 5-gram with probability ≈ the
    * doc's boilerplate fraction and the probe degenerates toward
    * all-pairs (measured: 456 s at sf0.1 uncapped vs seconds capped —
    * candidates per doc are ≤ cap by construction). The candidate set
    * is the anchored-pair DEFINITION of the operator (both engines
    * replay it exactly — no recall asymmetry can leak into the gate).
    *
    * Scale shape: the shingle table is one (doc_id, sh) shuffle; df is
    * one census over it; the anchor probe joins ONE row per doc
    * against df-capped postings (≤ cap candidates per doc — linear in
    * the corpus, never all-pairs); the intersection count re-joins
    * only candidate pairs' shingles. `containment = shared / |A|` is
    * one exact long/long division. */
  val ContainmentTau = 0.8
  val ContainmentMaxDf = 64

  def containmentDedup(spark: SparkSession, dir: String): DataFrame = {
    // distinct shingles per doc as SORTED packed 40-bit longs
    // ([[graft.text.ShinglePack.shingles_packed_distinct]]): fixed-width
    // packing makes packed ordering ≡ byte-wise string ordering, so the
    // MIN anchor picks the same shingle the DuckDB oracle picks over raw
    // strings, and the per-doc DEDUP now happens inside the kernel —
    // the explode → distinct() exchange over the full shingle volume
    // and the collect_set re-shuffle that used to rebuild these very
    // sets are both gone from the plan (guide §2.4: two Exchange nodes
    // removed; r16 measured 6.4 s → the docSets form at sf0.1). NOT
    // persisted: the array payload is ~8 bytes per distinct shingle
    // (~8× text), so consumers recompute the cheap packing kernel
    // instead of caching 8× the corpus.
    val docSets = spread(documents(spark, dir), col("doc_id"))
      .select(col("doc_id"),
        graft.text.ShinglePack.shingles_packed_distinct(col("text")).as("s"))
    val sh = docSets.select(col("doc_id"), explode(col("s")).as("sh"))
    // rare = df-capped occurrences; the anchor's whole posting list
    // lives in here (its df is ≤ cap), so probing `rare` ≡ probing the
    // full table while bounding every posting at the cap
    val rare = sh.join(
      sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= ContainmentMaxDf).select("sh"), Seq("sh"))
    val anchors = rare.groupBy("doc_id").agg(min("sh").as("k"))
      .select(col("doc_id").as("a"), col("k"))
    val cand = anchors.join(rare.select(col("doc_id").as("b"), col("sh")),
        col("k") === col("sh") && col("a") =!= col("b"))
      .select("a", "b")
    // exact intersection via the per-doc SORTED shingle arrays joined to
    // the pairs (the [[ngramJaccard]] shape): one ~|doc| array per side
    // per pair — the (pair × |A| rows) expansion through a (b, sh)
    // exchange this replaces was the dominant cost at 10× (measured
    // 178 s → the array form). The count is a linear MERGE over the two
    // sorted arrays ([[graft.text.SortedIntersectCountKernel]]):
    // array_intersect built a boxed hash set per PAIR and was the
    // single heaviest stage left in the query (2.3 s of 4.8 at sf0.1).
    cand
      .join(docSets.select(col("doc_id").as("a"), col("s").as("sa")), Seq("a"))
      .join(docSets.select(col("doc_id").as("b"), col("s").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        size(col("sa")).cast("long").as("n_a"),
        size(col("sb")).cast("long").as("n_b"),
        graft.text.ShinglePack.sorted_intersect_count(col("sa"), col("sb"))
          .as("shared"))
      .withColumn("containment",
        round(col("shared").cast("double") / col("n_a").cast("double"), 4))
      .filter(col("containment") >= ContainmentTau)
      .orderBy("a", "b")
  }

  /** Quality-aware canonical selection — the retention POLICY on top of
    * near-dup clustering (SlimPajama/RefinedWeb keep the "best" copy,
    * not an arbitrary one): within every [[clusterMinsh]] component,
    * keep the member with the highest composite quality score
    * ([[graft.text.TextAnalysis.qualityCol]] — the same oracle-exact
    * formula `quality_score` ships), ties broken toward the smallest
    * doc_id. Docs outside any cluster have no duplicate to lose and are
    * implicitly kept; the output lists CLUSTERED docs with their verdict
    * so the drop set is explicit.
    *
    * Scale shape: the cluster labels come from the star-edge CC
    * (bounded rounds, localCheckpoint'd); the quality join is
    * doc_id-keyed (one shuffle) and the per-cluster argmax is a
    * row_number window over the cluster key — spill-safe WindowExec,
    * never a per-cluster buffer. */
  def canonicalSelection(spark: SparkSession, dir: String): DataFrame = {
    val clusters = clusterMinsh(spark, dir).select("cluster", "doc_id")
    val quality = documents(spark, dir)
      .select(col("doc_id"), graft.text.TextAnalysis.qualityCol.as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(desc("q"), col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("cluster"), col("doc_id"),
        round(col("q"), 6).as("quality"), col("keep"))
      .orderBy("cluster", "doc_id")
  }

  /** Exact substring (token-window) dedup — the "Deduplicating Training
    * Data Makes Language Models Better" (Lee et al. 2022) operator: a
    * k-token window occurring more than once ANYWHERE in the corpus is
    * duplicated text; per document, report how many of its windows are
    * duplicated and the duplicated fraction (the removal policy — drop
    * spans, drop docs over a threshold — is a consumer decision; the
    * counting is the engine's job).
    *
    * Scale shape: windows never materialize as strings across a
    * shuffle — each window becomes a 64-bit fingerprint in-scan
    * (xxhash64 over the joined tokens, same move as [[dedupExact]]; at
    * ~2^32+ distinct windows switch to a 128-bit fingerprint). The
    * global window census is a `count over (partition by w)` window:
    * ONE shuffle of the fingerprint table, computed on a SINGLE scan
    * of the corpus — the census-as-groupBy-then-join alternative
    * plans the window subtree twice (column pruning gives census and
    * probe different projections, so ReuseExchange can't collapse
    * them) and re-reads every document. WindowExec sorts within hash
    * partitions and spills — no per-key buffer to OOM on a hot
    * window. Everything is linear in corpus size.
    */
  val SubstringWindow = 10

  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val k = SubstringWindow
    val toks = spread(documents(spark, dir), col("doc_id"), 256 * 1024)
      .select(col("doc_id"),
        split(trim(regexp_replace(col("text"), "\\s+", " ")), " ").as("t"))
      .filter(size(col("t")) >= k)
    val perDoc = toks.select(col("doc_id"),
      (size(col("t")) - k + 1).cast("long").as("n_windows"))
    // the exploded window table MATERIALIZES (the dedupSimhash policy:
    // both census consumers below would otherwise re-explode the whole
    // corpus — column pruning defeats ReuseExchange across their
    // different projections)
    // CACHE LIFETIME IS OWNED BY THE DRIVING LOOP (the sketch-table
    // policy above): the result is lazy, so this function cannot
    // unpersist its own intermediate — Bench releases caches after
    // every measured query and Verify clearCache()s between queries;
    // any other long-lived session must spark.catalog.clearCache()
    // after consuming the result, or this exploded token-window table
    // (the largest intermediate in the system) stays resident.
    val wins = toks.select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(t) - $k),
           |  i -> xxhash64(array_join(slice(t, i + 1, $k), ' ')))"""
          .stripMargin)).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // groupBy census + semi-join back, NOT a window over the
    // fingerprint: a 10⁴×-duplicated template makes one fingerprint
    // carry every copy's rows, and a window would sort them through ONE
    // task — the partial-agg census collapses the hot key map-side and
    // the join back is AQE-skew-splittable (r11, measured by the
    // planted-skew bench section)
    val dupFps = wins.groupBy("w").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("w")
    val dupPerDoc = wins.join(dupFps, Seq("w"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") /
          col("n_windows"), 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Edit-distance verified near-dup candidates — the verification tier
    * between hashing (exact) and token-set overlap (Jaccard): character
    * Levenshtein catches small in-place edits (typo fixes, token
    * substitutions) that shift every downstream shingle. Blocking is
    * the same min-md5 5-gram key as [[clusterMinsh]]; within a block,
    * each member is compared to the block HUB (min doc_id) only — the
    * star shape that keeps candidates O(n) even when one hot shingle
    * key collects a huge bucket (the clique join is quadratic there).
    * The DP cost per pair is bounded by [[EditPrefix]]² regardless of
    * document length (the standard practical cap: a 100 TB corpus
    * never runs full-text quadratic DP). Output = every candidate pair
    * with its distance and the ≤20%-of-longer-prefix `near` verdict;
    * all integers → DuckDB replays exactly (both engines implement
    * character Levenshtein identically). */
  val EditPrefix = 400

  def editDedup(spark: SparkSession, dir: String): DataFrame = {
    // materialized (the minshStarEdges policy): three consumers below
    // (hub census, hub-text attach, member join) would otherwise each
    // re-run the min-md5 kernel over the corpus
    val minsh = spread(documents(spark, dir).filter(hasShingleWindow),
        col("doc_id"), 256 * 1024)
      .select(col("doc_id"), substring(col("text"), 1, EditPrefix).as("t"),
        graft.functions.SigKernelColumns.min_md5_shingle(col("text"), 5).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hub election by partial-agg groupBy + join back (the r11
    // mega-block rule — see [[minshStarEdges]]): the one-row-per-k hub
    // frame joins back on k as an AQE-skew-splittable join instead of a
    // window serializing a viral block through one task. (A doc is a
    // hub only of its OWN block — hubs are drawn from group members —
    // so the hub's text attaches by doc_id alone.)
    val hubIds = minsh.groupBy("k").agg(min("doc_id").as("hub"))
    val hubs = minsh.select(col("doc_id").as("hub"), col("t").as("ht"))
      .join(hubIds, Seq("hub"))
      .select(col("k"), col("hub"), col("ht"))
    minsh.join(hubs, Seq("k"))
      .filter(col("doc_id") =!= col("hub"))
      .withColumn("edit_dist", levenshtein(col("t"), col("ht")))
      .withColumn("near",
        col("edit_dist") * 5 <= greatest(length(col("t")), length(col("ht"))))
      .select(col("hub").as("a"), col("doc_id").as("b"),
        col("edit_dist"), col("near"))
      .orderBy("a", "b")
  }

  /** Leakage-guarded train/eval split — the ML-data correctness gate a
    * plain per-document hash split cannot give: a near-duplicate pair
    * split across train and eval leaks the answer into evaluation, so
    * assignment must be per CLUSTER, not per document. Every document
    * inherits the md5 split of its [[clusterMinsh]] component label
    * (singletons — docs whose shingle block produced no edge — label
    * themselves), which makes the guard exact by construction: both
    * endpoints of every blocking edge share a label, hence a split.
    *
    * Scale: the component frame is O(n) and the inheritance is one
    * equi-join on doc_id; the md5 assignment is the same stable
    * per-row hash as `hash_split` (identical in any engine, stable
    * under repartitioning and reruns — a rand() split would tear
    * clusters apart on every retry). */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val comp = connectedComponents(minshStarEdges(spark, dir))
      .select(col("id").as("doc_id"), col("label"))
    documents(spark, dir).select("doc_id")
      .join(comp, Seq("doc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("label"), col("doc_id")))
      .withColumn("split",
        when(substring(md5(col("cluster").cast("string")), 1, 1) < "d",
          "train").otherwise("eval"))
      .select("doc_id", "cluster", "split")
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cluster_safe_split" -> clusterSafeSplit _,
    "edit_dedup" -> editDedup _,
    "dedup_substring" -> dedupSubstring _,
    "containment_dedup" -> containmentDedup _,
    "canonical_selection" -> canonicalSelection _,
    "dedup_clusters" -> dedupClusters _,
    "cluster_minsh" -> clusterMinsh _,
    "dedup_exact"   -> dedupExact _,
    "dedup_minhash" -> dedupMinhash _,
    "ngram_jaccard" -> ngramJaccard _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_stream_admit" -> streamDedupAdmit _,
    "pagerank_dups" -> pagerankDups _,
    "block_stats" -> blockStats _,
    "dedup_simhash" -> dedupSimhash _)

  /** DuckDB SQL parsing `n` leading hex chars of VARCHAR expression `e`
    * into a BIGINT (big-endian) — the bridge from md5 hex to the
    * integer domain the md5-affine permutations live in. */
  private[graft] def hexVal(e: String, n: Int): String =
    (1 to n).map { i =>
      val mult = 1L << (4 * (n - i))
      s"(strpos('0123456789abcdef', substr($e, $i, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")

  /** Shared CTE chain replaying [[dedupMinhash]]'s md5-affine pipeline
    * in DuckDB: permutation matrix from md5("a:j")/md5("b:j"), shingle
    * hash from md5(shingle), lane mins, string band keys, banded
    * candidates, exact lane agreement. Ends with the `agree(a, b, eq)`
    * relation; consumers append their own final SELECT. */
  private def minhashAgreeCtes: String =
    s"""perm AS (
       |  SELECT j,
       |         (${hexVal("substr(md5('a:' || j), 1, 8)", 8)}
       |            % ${MersenneP - 1}) + 1 AS a,
       |         ${hexVal("substr(md5('b:' || j), 1, 8)", 8)}
       |            % $MersenneP AS b
       |  FROM (SELECT unnest(range(0, $NumPerm)) AS j)),
       |shm AS (
       |  SELECT doc_id, substr(md5(substr(text, CAST(i AS INTEGER), 5)), 1, 8) AS m
       |  FROM (SELECT doc_id, text,
       |          unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS i
       |        FROM documents)
       |  WHERE length(substr(text, CAST(i AS INTEGER), 5)) = 5),
       |sh AS (SELECT doc_id, ${hexVal("m", 8)} % $MersenneP AS h FROM shm),
       |lanes AS (
       |  SELECT doc_id, j, MIN((p.a * s.h + p.b) % $MersenneP) AS lane
       |  FROM sh s CROSS JOIN perm p GROUP BY doc_id, j),
       |sig AS (
       |  SELECT doc_id, j // $RowsPerBand AS band,
       |         string_agg(CAST(lane AS VARCHAR), ',' ORDER BY j) AS key
       |  FROM lanes GROUP BY doc_id, j // $RowsPerBand),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM sig x JOIN sig y ON x.band = y.band AND x.key = y.key
       |    AND x.doc_id < y.doc_id),
       |agree AS (
       |  SELECT c.a, c.b,
       |         SUM(CASE WHEN la.lane = lb.lane THEN 1 ELSE 0 END) AS eq
       |  FROM cand c
       |  JOIN lanes la ON la.doc_id = c.a
       |  JOIN lanes lb ON lb.doc_id = c.b AND lb.j = la.j
       |  GROUP BY c.a, c.b)""".stripMargin

  private def MersenneP: Long = graft.functions.SigKernels.MersennePrime

  val oracles: Map[String, String] = Map(
    // full replay of the md5-affine MinHash pipeline (see
    // minhashAgreeCtes): sketch → band → candidate → exact lane
    // agreement, with est ≥ 0.5 ⇔ eq ≥ NumPerm/2 (0.5 and eq/NumPerm
    // are both exact doubles, so the filter cannot disagree)
    "dedup_minhash" ->
      s"""WITH $minhashAgreeCtes
         |SELECT a, b,
         |       round(CAST(eq AS DOUBLE) / $NumPerm.0, 4) AS est_jaccard
         |FROM agree WHERE CAST(eq AS DOUBLE) / $NumPerm.0 >= 0.5
         |ORDER BY a, b""".stripMargin,
    // connected components over the est-filtered minhash pair graph —
    // the same closure CTE as cluster_minsh, over the replayed edges
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashAgreeCtes,
         |e AS (SELECT a, b FROM agree
         |      WHERE CAST(eq AS DOUBLE) / $NumPerm.0 >= 0.5),
         |adj AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
         |reach(id, r) AS (
         |  SELECT src, src FROM adj
         |  UNION
         |  SELECT reach.id, adj.dst FROM reach JOIN adj ON adj.src = reach.r)
         |SELECT min(r) AS cluster, id AS doc_id FROM reach
         |GROUP BY id ORDER BY cluster, doc_id""".stripMargin,
    // md5-word-hash SimHash replay: 64-bit word value reassembled from
    // two 8-hex-char halves, per-bit majority vote, brute-force hamming
    // (the 4-piece pigeonhole blocking in the query guarantees EVERY
    // hamming≤3 pair shares a piece, so blocked+verified ≡ brute force)
    "dedup_simhash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM documents),
         |th AS (SELECT doc_id, md5(w) AS m FROM tok),
         |gv AS (SELECT doc_id,
         |         ${hexVal("substr(m, 1, 8)", 8)} AS hi,
         |         ${hexVal("substr(m, 9, 8)", 8)} AS lo
         |       FROM th),
         |votes AS (
         |  SELECT doc_id, i,
         |         SUM(CASE WHEN (CASE WHEN i < 32 THEN (lo >> i) & 1
         |                             ELSE (hi >> (i - 32)) & 1 END) = 1
         |                  THEN 1 ELSE -1 END) AS v
         |  FROM gv CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
         |  GROUP BY doc_id, i),
         |sg AS (
         |  SELECT doc_id,
         |         CAST(SUM(CASE WHEN v > 0 THEN
         |           CASE WHEN i = 63 THEN CAST(-9223372036854775807 AS BIGINT) - 1
         |                ELSE CAST(1 AS BIGINT) << i END
         |           ELSE 0 END) AS BIGINT) AS sig
         |  FROM votes GROUP BY doc_id)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |       CAST(bit_count(xor(x.sig, y.sig)) AS INTEGER) AS hamming
         |FROM sg x JOIN sg y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sig, y.sig)) <= 3
         |ORDER BY a, b""".stripMargin,
    // blocking-key census: the sh CTE replays the min-md5-shingle key
    // both engines compute identically, then two exact integer rollups
    "block_stats" ->
      """WITH sh AS (
        |  SELECT doc_id, min(md5(substr(text, CAST(i AS INTEGER), 5))) AS k
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS i
        |        FROM documents)
        |  WHERE length(substr(text, CAST(i AS INTEGER), 5)) = 5
        |  GROUP BY doc_id),
        |b AS (SELECT k, COUNT(*) AS block_size FROM sh GROUP BY k)
        |SELECT block_size, COUNT(*) AS n_blocks
        |FROM b GROUP BY block_size
        |ORDER BY block_size""".stripMargin,
    // the sh CTE ≡ cluster_minsh's oracle blocking key; star candidates
    // against each block's min-doc_id hub; levenshtein is integer-exact
    // and identical across engines
    "edit_dedup" ->
      s"""WITH sh AS (
         |  SELECT doc_id, min(md5(substr(text, CAST(i AS INTEGER), 5))) AS k
         |  FROM (SELECT doc_id, text,
         |          unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS i
         |        FROM documents)
         |  WHERE length(substr(text, CAST(i AS INTEGER), 5)) = 5
         |  GROUP BY doc_id),
         |h AS (SELECT k, MIN(doc_id) AS hub FROM sh GROUP BY k),
         |p AS (SELECT h.hub AS a, s.doc_id AS b
         |      FROM sh s JOIN h ON s.k = h.k AND s.doc_id <> h.hub),
         |d AS (SELECT p.a, p.b,
         |        levenshtein(substring(ta.text, 1, $EditPrefix),
         |                    substring(tb.text, 1, $EditPrefix)) AS edit_dist,
         |        greatest(length(substring(ta.text, 1, $EditPrefix)),
         |                 length(substring(tb.text, 1, $EditPrefix))) AS ml
         |      FROM p JOIN documents ta ON ta.doc_id = p.a
         |             JOIN documents tb ON tb.doc_id = p.b)
         |SELECT a, b, CAST(edit_dist AS INTEGER) AS edit_dist,
         |       edit_dist * 5 <= ml AS near
         |FROM d ORDER BY a, b""".stripMargin,
    // raw 5-gram strings where the query uses packed 40-bit longs —
    // bijective for ASCII text and ORDER-preserving (fixed width), so
    // the MIN anchor and every count agree across engines
    "containment_dedup" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, GREATEST(length(text) - 4, 1) + 1),
         |                i -> substr(text, CAST(i AS INTEGER), 5))) AS shingle
         |  FROM documents),
         |s AS (SELECT DISTINCT doc_id, shingle AS sh
         |      FROM g WHERE length(shingle) = 5),
         |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
         |rare AS (SELECT s.doc_id, s.sh FROM s
         |         JOIN (SELECT sh FROM s GROUP BY sh
         |               HAVING COUNT(*) <= $ContainmentMaxDf) r
         |           ON r.sh = s.sh),
         |anch AS (SELECT doc_id AS a, MIN(sh) AS k FROM rare GROUP BY doc_id),
         |cand AS (SELECT anch.a, rare.doc_id AS b
         |         FROM anch JOIN rare ON anch.k = rare.sh
         |                           AND anch.a <> rare.doc_id),
         |shr AS (SELECT c.a, c.b, COUNT(*) AS shared
         |        FROM cand c
         |        JOIN s sa ON sa.doc_id = c.a
         |        JOIN s sb ON sb.doc_id = c.b AND sb.sh = sa.sh
         |        GROUP BY c.a, c.b)
         |SELECT shr.a, shr.b,
         |       CAST(za.n_sh AS BIGINT) AS n_a,
         |       CAST(zb.n_sh AS BIGINT) AS n_b,
         |       CAST(shr.shared AS BIGINT) AS shared,
         |       round(CAST(shr.shared AS DOUBLE) / CAST(za.n_sh AS DOUBLE), 4)
         |         AS containment
         |FROM shr
         |JOIN sz za ON za.doc_id = shr.a
         |JOIN sz zb ON zb.doc_id = shr.b
         |WHERE round(CAST(shr.shared AS DOUBLE) / CAST(za.n_sh AS DOUBLE), 4)
         |      >= $ContainmentTau
         |ORDER BY shr.a, shr.b""".stripMargin,
    // the oracle groups RAW window strings where the query groups their
    // xxhash64 images — identical counts absent a 64-bit collision
    // between two distinct windows of this corpus (same argument as
    // dedup_exact's fingerprint groupBy)
    "dedup_substring" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |docs AS (
        |  SELECT doc_id, t, len(t) - 10 + 1 AS n_windows
        |  FROM toks WHERE len(t) >= 10),
        |wins AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(len(t) - 10 + 1),
        |           i -> array_to_string(t[CAST(i + 1 AS INTEGER):CAST(i + 10 AS INTEGER)], ' '))) AS w
        |  FROM docs),
        |c AS (SELECT w, count(*) AS c FROM wins GROUP BY w),
        |d AS (SELECT doc_id, count(*) AS n_dup
        |      FROM wins JOIN c USING (w) WHERE c.c >= 2 GROUP BY doc_id)
        |SELECT docs.doc_id,
        |       CAST(docs.n_windows AS BIGINT) AS n_windows,
        |       CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup_windows,
        |       round(CAST(coalesce(d.n_dup, 0) AS DOUBLE) / docs.n_windows, 4) AS dup_frac
        |FROM docs LEFT JOIN d USING (doc_id)
        |ORDER BY docs.doc_id""".stripMargin,
    // exact n-gram Jaccard IS deterministic — the only approximation in
    // ngram_jaccard is the LSH candidate set, and at the 0.6 output
    // threshold the 32x6 S-curve's miss probability is < 1e-13 for any
    // pair that could pass the exact filter (every qualifying pair in
    // the corpus sits above j=0.9), so the DuckDB brute-force all-pairs
    // oracle agrees pair-for-pair and the query hash-verifies instead of
    // rows-only. The oracle intersects DISTINCT SHINGLE STRINGS where
    // the query intersects their xxhash64 images — identical Jaccard
    // absent a 64-bit collision inside one document pair.
    "ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, greatest(length(text) - 4, 1) + 1),
        |           i -> substr(text, CAST(i AS INTEGER), 5))) AS shingles
        |  FROM documents),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |         CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
        |         len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
        |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id)
        |SELECT a, b, round(jaccard, 4) AS jaccard
        |FROM pairs WHERE jaccard >= 0.6 ORDER BY a, b""".stripMargin,
    // same determinism argument as ngram_jaccard (exact verification on
    // an S-curve-complete candidate set), restricted to pairs with at
    // least one batch (doc_id % 5 = 0) member
    "dedup_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, greatest(length(text) - 4, 1) + 1),
        |           i -> substr(text, CAST(i AS INTEGER), 5))) AS shingles
        |  FROM documents),
        |pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |         CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
        |         len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
        |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |  WHERE x.doc_id % 5 = 0 OR y.doc_id % 5 = 0)
        |SELECT a, b, round(jaccard, 4) AS jaccard
        |FROM pairs WHERE jaccard >= 0.6 ORDER BY a, b""".stripMargin,
    // iterations unrolled as chained CTEs; constants interpolated from
    // the Scala doubles and cast to DOUBLE (DuckDB literals parse as
    // DECIMAL); per-vertex sums are src-ordered list_reduce folds —
    // bit-for-bit the Spark iteration
    "pagerank_dups" -> {
      val iters = (1 to PrIters).map { k =>
        s"""pr$k AS (
           |  SELECT a.dst AS v,
           |    $PrTeleport::DOUBLE / (SELECT n FROM nv) + $PrDamping::DOUBLE *
           |      list_reduce(list(p.pr / d.deg ORDER BY a.src),
           |                  (x, y) -> x + y) AS pr
           |  FROM adj a JOIN pr${k - 1} p ON p.v = a.src
           |  JOIN deg d ON d.src = a.src
           |  GROUP BY a.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH sh AS (
         |  SELECT doc_id, min(md5(substr(text, CAST(i AS INTEGER), 5))) AS k
         |  FROM (SELECT doc_id, text,
         |          unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS i
         |        FROM documents)
         |  WHERE length(substr(text, CAST(i AS INTEGER), 5)) = 5
         |  GROUP BY doc_id),
         |h AS (SELECT k, MIN(doc_id) AS hub FROM sh GROUP BY k),
         |e AS (SELECT h.hub AS a, s.doc_id AS b
         |      FROM sh s JOIN h ON s.k = h.k AND s.doc_id <> h.hub),
         |adj AS (SELECT a AS src, b AS dst FROM e
         |        UNION ALL SELECT b AS src, a AS dst FROM e),
         |deg AS (SELECT src, COUNT(*) AS deg FROM adj GROUP BY src),
         |nv AS (SELECT COUNT(*) AS n FROM deg),
         |pr0 AS (SELECT src AS v, 1.0::DOUBLE / (SELECT n FROM nv) AS pr
         |        FROM deg),
         |$iters
         |SELECT v AS doc_id, pr FROM pr$PrIters ORDER BY doc_id""".stripMargin
    },
    // brute-force replay of the admission verdicts: exact Jaccard of
    // every batch-vs-corpus pair (order-independent by design — the
    // query never compares batch docs to each other)
    "dedup_stream_admit" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, greatest(length(text) - 4, 1) + 1),
        |           i -> substr(text, CAST(i AS INTEGER), 5))) AS shingles
        |  FROM documents),
        |pairs AS (
        |  SELECT CASE WHEN x.doc_id % 5 = 0 THEN x.doc_id
        |              ELSE y.doc_id END AS doc_id,
        |         CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
        |         len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
        |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
        |  WHERE (x.doc_id % 5 = 0) <> (y.doc_id % 5 = 0)),
        |near AS (SELECT doc_id, COUNT(*) AS n_near FROM pairs
        |         WHERE jaccard >= 0.6 GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(n.n_near, 0) AS BIGINT) AS n_near,
        |       COALESCE(n.n_near, 0) = 0 AS admitted
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        |LEFT JOIN near n USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY lower(regexp_replace(text, '\s+', ' ', 'g'))
        |ORDER BY keep_id""".stripMargin,
    // cluster CTE ≡ cluster_minsh's oracle; quality CTE ≡ quality_score's
    // (both already hash-exact on their own) — the composition replays
    // the argmax with the identical doubles, so keep flags agree
    "canonical_selection" ->
      s"""WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id, min(md5(substr(text, CAST(i AS INTEGER), 5))) AS k
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS i
        |        FROM documents)
        |  WHERE length(substr(text, CAST(i AS INTEGER), 5)) = 5
        |  GROUP BY doc_id),
        |e AS (SELECT x.doc_id AS a, y.doc_id AS b
        |      FROM sh x JOIN sh y ON x.k = y.k AND x.doc_id < y.doc_id),
        |adj AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
        |reach(id, r) AS (
        |  SELECT src, src FROM adj
        |  UNION
        |  SELECT reach.id, adj.dst FROM reach JOIN adj ON adj.src = reach.r),
        |clusters AS (
        |  SELECT min(r) AS cluster, id AS doc_id FROM reach GROUP BY id),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_words,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS punct,
        |    CAST(${graft.text.TextAnalysis.hitsSql("en")} AS DOUBLE) AS stops,
        |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_len
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |       (LEAST(n_words, 100.0) / 100.0) * 0.25
        |       + LEAST(stops / n_words * 5.0, 1.0) * 0.35
        |       + (1.0 - LEAST(punct / n_chars * 10.0, 1.0)) * 0.2
        |       + (CASE WHEN avg_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
        |         AS q
        |  FROM s)
        |SELECT c.cluster, c.doc_id, round(q.q, 6) AS quality,
        |       (ROW_NUMBER() OVER (PARTITION BY c.cluster
        |          ORDER BY q.q DESC, c.doc_id) = 1) AS keep
        |FROM clusters c JOIN q USING (doc_id)
        |ORDER BY c.cluster, c.doc_id""".stripMargin,
    // the cluster_minsh closure + label inheritance; singletons (no
    // edge) keep their own doc_id as the label, exactly as the query
    "cluster_safe_split" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id, min(md5(substr(text, CAST(i AS INTEGER), 5))) AS k
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS i
        |        FROM documents)
        |  WHERE length(substr(text, CAST(i AS INTEGER), 5)) = 5
        |  GROUP BY doc_id),
        |e AS (SELECT x.doc_id AS a, y.doc_id AS b
        |      FROM sh x JOIN sh y ON x.k = y.k AND x.doc_id < y.doc_id),
        |adj AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
        |reach(id, r) AS (
        |  SELECT src, src FROM adj
        |  UNION
        |  SELECT reach.id, adj.dst FROM reach JOIN adj ON adj.src = reach.r),
        |comp AS (SELECT id AS doc_id, min(r) AS label FROM reach GROUP BY id)
        |SELECT d.doc_id,
        |       COALESCE(comp.label, d.doc_id) AS cluster,
        |       CASE WHEN substring(md5(CAST(COALESCE(comp.label, d.doc_id)
        |                                    AS VARCHAR)), 1, 1) < 'd'
        |            THEN 'train' ELSE 'eval' END AS split
        |FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "cluster_minsh" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id, min(md5(substr(text, CAST(i AS INTEGER), 5))) AS k
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS i
        |        FROM documents)
        |  WHERE length(substr(text, CAST(i AS INTEGER), 5)) = 5
        |  GROUP BY doc_id),
        |e AS (SELECT x.doc_id AS a, y.doc_id AS b
        |      FROM sh x JOIN sh y ON x.k = y.k AND x.doc_id < y.doc_id),
        |adj AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
        |reach(id, r) AS (
        |  SELECT src, src FROM adj
        |  UNION
        |  SELECT reach.id, adj.dst FROM reach JOIN adj ON adj.src = reach.r)
        |SELECT min(r) AS cluster, id AS doc_id FROM reach
        |GROUP BY id ORDER BY cluster, doc_id""".stripMargin)
    // r15: dedup_minhash / dedup_simhash / dedup_clusters graduated to
    // full hash oracles above (md5-derived permutations / word hashes);
    // DedupSpec keeps the statistical pins (recall/precision vs
    // brute-force Jaccard, ≡-union-find) on top.
}
