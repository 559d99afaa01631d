package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-file approx-distinct (HLL) column sketches riding the stats
  * sidecar — the ANALYZE channel (Delta `ANALYZE TABLE … COMPUTE
  * STATISTICS FOR COLUMNS` parity; reference relies on the engine's
  * stats the same way, DESIGN.md:29-33).
  *
  * Min/max and row counts already feed SIZE estimates; join ORDERING
  * and build-side choice on a star schema also want per-column distinct
  * counts (CBO computes join cardinality as |L|·|R| / max(ndv)).
  * Sketches are recorded PER FILE because files are the manifest's unit
  * of replay — an OPTIMIZE invalidates only the rewritten files'
  * entries — and because HLL unions losslessly: the NDV reported to
  * Catalyst is the union of exactly the files that SURVIVED data
  * skipping, so a pruned scan advertises the pruned distinct count.
  * Datasketches HLL is the mergeable representation (the same library
  * behind Spark's own `hll_sketch_agg`).
  */
object NdvStats {

  /** Stats-sidecar key prefix for a column's sketch entry. NUL can't
    * appear in a parquet column name, so the key space never collides
    * with real min/max entries (which are keyed by the column itself). */
  val KeyPrefix = "\u0000hll\u0000"
  val Tag = "hll"
  /** lg2 of the sketch register count (2^12 ≈ ±1.6% relative error,
    * ≤ ~2.5 KB compact per (file, column)). */
  val LgK = 12

  def sketchKey(physCol: String): String = KeyPrefix + physCol

  /** Normalization making an atomic column updatable by
    * `hll_sketch_agg` (int/long/string/binary) without collapsing
    * distinct values: exact integrals stay native, date is its day
    * number, everything else goes through its string form (injective
    * per value class — what a distinct count needs). Nested types are
    * not analyzable. */
  private[table] def sketchable(dt: DataType): Option[Column => Column] =
    dt match {
      case IntegerType | LongType | StringType | BinaryType =>
        Some(identity[Column])
      case ByteType | ShortType | DateType => Some(_.cast(IntegerType))
      case BooleanType | FloatType | DoubleType | TimestampType |
           TimestampNTZType => Some(_.cast(StringType))
      case _: DecimalType => Some(_.cast(StringType))
      case _ => None
    }

  /** Per-file sketch entries for `files` over physical columns
    * `physCols` (name → normalizer), each file over the columns it
    * `carries`; `read` scans a batch under the logged schema. Batched
    * aggregation rounds bound the driver collect exactly like the bloom
    * backfill — a whole-table ANALYZE is many bounded jobs, never one
    * files × sketch-size collect. */
  private[table] def sketchFiles(read: Seq[String] => DataFrame, files: Seq[String],
      absOf: String => Path, carries: String => Set[String],
      physCols: Seq[(String, Column => Column)])
      : Map[String, Map[String, (String, String, String)]] = {
    if (files.isEmpty || physCols.isEmpty) return Map.empty
    val perFileBytes = physCols.size.toLong * (4L << LgK)
    val b64 = java.util.Base64.getEncoder
    val out = Map.newBuilder[String, Map[String, (String, String, String)]]
    BloomIndex.buildBatches(files, perFileBytes, 256L << 20).foreach { batch =>
      val df = read(batch)
      val present = batch.flatMap(carries).toSet
      val cols = physCols.filter(p => present(p._1))
      if (cols.nonEmpty) {
        val aggs = cols.map { case (c, norm) =>
          hll_sketch_agg(norm(col(c)), LgK).as(c) }
        val rows = df.groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*).collect()
        val byPath = batch.map(f => absOf(f).toUri.getPath -> f).toMap
        rows.foreach { r =>
          byPath.get(new Path(r.getString(0)).toUri.getPath).foreach { fk =>
            val has = carries(fk)
            val entries = cols.zipWithIndex.flatMap { case ((c, _), i) =>
              Option(r.get(i + 1)).filter(_ => has(c)).map { v =>
                val arr = v.asInstanceOf[Array[Byte]]
                val est = org.apache.datasketches.hll.HllSketch.heapify(arr)
                  .getEstimate.round
                sketchKey(c) -> ((Tag, b64.encodeToString(arr), est.toString))
              }
            }.toMap
            if (entries.nonEmpty) out += fk -> entries
          }
        }
      }
    }
    out.result()
  }

  /** Union the per-column sketches of `kept` files into logical-column
    * NDV estimates. Only columns covered by EVERY kept file report (a
    * partial union under-claims, and an under-claimed NDV over-claims
    * join cardinality reduction — the unsafe direction). */
  private[table] def unionNdv(
      stats: Map[String, Map[String, (String, String, String)]],
      kept: Seq[String],
      logicalOf: String => Option[String]): Map[String, Long] = {
    if (kept.isEmpty) return Map.empty
    val b64 = java.util.Base64.getDecoder
    val maps: Seq[Map[String, String]] = kept.map(f =>
      stats.getOrElse(f, Map.empty).collect {
        case (k, (Tag, sk, _)) if k.startsWith(KeyPrefix) =>
          k.substring(KeyPrefix.length) -> sk
      })
    val covered = maps.map(_.keySet).reduce(_ intersect _)
    covered.iterator.flatMap { c =>
      logicalOf(c).flatMap { lc =>
        scala.util.Try {
          val u = new org.apache.datasketches.hll.Union(LgK)
          maps.foreach(m => u.update(
            org.apache.datasketches.hll.HllSketch.heapify(b64.decode(m(c)))))
          lc -> math.max(1L, u.getEstimate.round)
        }.toOption // a corrupt sketch drops the column, never the scan
      }
    }.toMap
  }

  // Union results cache: planning may ask for the same (version, kept
  // set) repeatedly; committed versions are immutable so entries never
  // go stale. Keyed by a content hash of the kept list.
  private val cache =
    new java.util.LinkedHashMap[(String, Long, Int), Map[String, Long]](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Int), Map[String, Long]])
          : Boolean = size() > 256
    }

  private[table] def cachedUnion(rootKey: String, version: Long,
      kept: Seq[String],
      stats: Map[String, Map[String, (String, String, String)]],
      logicalOf: String => Option[String]): Map[String, Long] = {
    val k = (rootKey, version, kept.hashCode)
    cache.synchronized(Option(cache.get(k))).getOrElse {
      val r = unionNdv(stats, kept, logicalOf)
      cache.synchronized(cache.put(k, r))
      r
    }
  }
}
