package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.dedup.MinHashSketch
import graft.functions.{ArrayDot, Md5BandKeys, Md5PermSketch, MinMd5Shingle,
  SimHashMd5, SketchAgreement, SketchAgreementInt, TextFingerprint}

/** SQL-name registration for graft's custom Catalyst expressions, both
  * builder-time (`SparkSessionExtensions`, for
  * `.withExtensions(new GraftExtensions)`) and runtime
  * (`registerAll(spark)`, for sessions the driver already built). Lives
  * in Spark's namespace because FunctionRegistry access is private[sql].
  */
object GraftFunctions {

  private def intArg(e: Expression, default: Int): Int = e match {
    case Literal(v: Int, _) => v
    case _ => default
  }

  val builders: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("text_fingerprint",
      (es: Seq[Expression]) =>
        TextFingerprint(es.head, es.lift(1).map(intArg(_, 8)).getOrElse(8)),
      "_FUNC_(text[, k]) - winnowing min-k-gram fingerprint"),
    ("minhash_sketch",
      (es: Seq[Expression]) => MinHashSketch(es.head,
        es.lift(1).map(intArg(_, 5)).getOrElse(5),
        es.lift(2).map(intArg(_, 192)).getOrElse(192), 42L),
      "_FUNC_(text[, k, numPerm]) - OPH MinHash sketch"),
    ("sketch_agreement",
      (es: Seq[Expression]) => SketchAgreement(es(0), es(1)),
      "_FUNC_(a, b) - count of equal sketch lanes"),
    ("array_dot",
      (es: Seq[Expression]) => ArrayDot(es(0), es(1)),
      "_FUNC_(a, b) - dot product of double arrays"),
    // the md5-affine kernel family (r16): hash-oracle-replayable SQL
    // names — DuckDB rebuilds each from md5() + integer arithmetic, so
    // queries over these graduate from rows-only to hash-oracled
    // (defaults = the dedup operator family's constants)
    ("min_md5_shingle",
      (es: Seq[Expression]) =>
        MinMd5Shingle(es.head, es.lift(1).map(intArg(_, 5)).getOrElse(5)),
      "_FUNC_(text[, k]) - min md5 hex of the k-gram shingles (blocking key)"),
    ("md5_perm_sketch",
      (es: Seq[Expression]) => Md5PermSketch(es.head,
        es.lift(1).map(intArg(_, 5)).getOrElse(5),
        es.lift(2).map(intArg(_, graft.dedup.Dedup.NumPerm))
          .getOrElse(graft.dedup.Dedup.NumPerm)),
      "_FUNC_(text[, k, numPerm]) - md5-affine MinHash int lanes"),
    ("md5_band_keys",
      (es: Seq[Expression]) => Md5BandKeys(es(0),
        es.lift(1).map(intArg(_, graft.dedup.Dedup.Bands))
          .getOrElse(graft.dedup.Dedup.Bands),
        es.lift(2).map(intArg(_, graft.dedup.Dedup.RowsPerBand))
          .getOrElse(graft.dedup.Dedup.RowsPerBand)),
      "_FUNC_(sketch[, bands, rowsPerBand]) - comma-joined LSH band keys"),
    ("sketch_agreement_int",
      (es: Seq[Expression]) => SketchAgreementInt(es(0), es(1)),
      "_FUNC_(a, b) - count of equal int lanes"),
    ("simhash_md5",
      (es: Seq[Expression]) => SimHashMd5(es.head),
      "_FUNC_(text) - 64-bit md5-word-hash SimHash signature"))

  /** Runtime registration into an existing session. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder, _) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Builder-time injection: `SparkSession.builder().withExtensions(new
  * GraftExtensions)` (or `spark.sql.extensions=
  * org.apache.spark.sql.graft.GraftExtensions`) makes the functions
  * available in every session, enables SQL UPDATE / MERGE INTO on
  * graft tables (see [[GraftDmlRule]]) and plans SQL, catalog, `USING
  * graft` and `format("graft")` reads, as Delta's extension does: see
  * [[graft.sources.GraftReadRule]], [[graft.sources.GraftMetadataAggRule]]
  * and [[graft.sources.GraftPrepareScan]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder, usage) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""),
        builder))
    }
    // reads first: a MERGE's source resolves to its scan before the DML
    // rule turns the statement into a command
    e.injectPostHocResolutionRule(_ => new graft.sources.GraftReadRule)
    e.injectPostHocResolutionRule(session => new GraftDmlRule(session))
    e.injectPreCBORule(session => new graft.sources.GraftMetadataAggRule(session))
    e.injectPreCBORule(session => new graft.sources.GraftPrepareScan(session))
    e.injectPlannerStrategy(_ => graft.sources.GraftMetadataAggStrategy)
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // CDF table-valued function: SELECT * FROM table_changes(path, v1[, v2])
    e.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo("graft", null, "table_changes",
        "_FUNC_(path, startVersion[, endVersion]) - change feed between " +
        "two committed versions of the graft table at path", ""),
      (args: Seq[Expression]) => GraftDml.tableChangesPlan(args)))
  }
}
