package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, round, sum, xxhash64}
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

/** Result comparison for the output checks. */
object Compare {

  /** Same multiset of rows under the same column names, with floating
    * columns rounded to 6 decimals so summation order cannot matter.
    * Each side is reduced to its row count and the sum of its row
    * hashes: one pass per side, no shuffle. */
  def sameRows(got: DataFrame, exp: DataFrame): (Boolean, String) = {
    val cols = got.columns.sorted.toSeq
    if (cols != exp.columns.sorted.toSeq)
      return (false, s"columns ${got.columns.mkString(",")} vs ${exp.columns.mkString(",")}")
    def digest(df: DataFrame): (Long, BigDecimal) = {
      val norm = cols.map { c =>
        df.schema(c).dataType match {
          case DoubleType | FloatType => round(col(s"`$c`"), 6)
          case _ => col(s"`$c`")
        }
      }
      val r = df.select(xxhash64(norm: _*).cast(DecimalType(38, 0)).as("h"))
        .agg(count(lit(1)), sum("h")).head()
      (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
    }
    val (ng, hg) = digest(got)
    val (ne, he) = digest(exp)
    (ng == ne && hg == he, s"rows $ng vs $ne, row hashes ${if (hg == he) "equal" else "differ"}")
  }
}
