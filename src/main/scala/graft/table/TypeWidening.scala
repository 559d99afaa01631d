package graft.table

import org.apache.spark.sql.types._

/** ALTER COLUMN TYPE widening (Delta type-widening parity): a
  * metadata-only commit records the wider logical type; files written
  * before the change keep their narrow physical encoding and upcast at
  * SCAN time. The supported set is exactly the conversions Spark 4's
  * vectorized parquet reader applies when the requested read schema is
  * wider than the file's (int32 under a long column, float under a
  * double column) — so a 100 TB table widens without touching a single
  * data file, and appends keep mixing narrow old files with wide new
  * ones.
  *
  * Every scan reads under the version's recorded physical schema, so
  * narrow and wide files mix in one scan with no schema merge; the
  * [[TypeWidening.Prop]] marker gates the write side, where a narrower
  * incoming column upcasts instead of failing enforcement. Data
  * skipping stays sound across widths: integral bounds share the "long"
  * tag and compare through BigDecimal, a float file's bounds widen over
  * the float their decimal names (`GraftTable.statsMayMatch`), and bloom
  * probes also hash a value's narrower form (`BloomIndex`).
  */
object TypeWidening {

  /** Marker property: set (never unset) by the first ALTER COLUMN TYPE
    * commit; version-scoped like every property, so time travel before
    * the widening still reads the narrow type. */
  val Prop = "graft.typeWidening"

  private val chains: Map[DataType, Set[DataType]] = Map(
    ByteType -> Set(ShortType, IntegerType, LongType),
    ShortType -> Set(IntegerType, LongType),
    IntegerType -> Set(LongType),
    FloatType -> Set(DoubleType))

  /** Is `from` → `to` a safe, scan-supported widening? */
  def allowed(from: DataType, to: DataType): Boolean =
    chains.get(from).exists(_.contains(to))
}
