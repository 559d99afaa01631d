package graft.table

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter file index (Delta bloom-filter-index parity,
  * delta-io/delta `BloomFilterIndex` / `_delta_index` design;
  * reference consumes the same idea through Delta's
  * `delta.bloomFilter` column options).
  *
  * Min/max stats prune range predicates, but an EQUALITY lookup on a
  * high-cardinality column (document id, order key, uuid) almost never
  * gets an interval proof: every file's [min, max] spans the probe. The
  * bloom index gives the missing proof: each data file carries a
  * per-column bloom filter sidecar under `_graft_log/index/`, and a
  * pushed `col = v` / `col IN (...)` prunes any file whose filter
  * proves absence. At 100 TB a point lookup on an indexed column opens
  * the handful of true-candidate files instead of every file whose
  * range happens to cover the value.
  *
  * Design points:
  *  - The sidecar is addressed BY DATA FILE (md5 of the manifest file
  *    key), not versioned with the log: a data file's contents never
  *    change after commit, so its filter never changes either. RESTORE /
  *    time travel / CLONE need no extra plumbing — a re-added file finds
  *    its existing index; a missing sidecar degrades to "keep the file"
  *    (bloom proofs are only ever negative, so absence is always sound).
  *  - Hashing pairs Spark's own runtime-filter convention: build-side
  *    `xxhash64(col)` folded into a `BloomFilterAggregate`, probe-side
  *    `mightContainLong(xxhash64(literal))` — the exact pairing
  *    `InjectRuntimeFilter` uses, so executors and the driver agree on
  *    hashes for every atomic type.
  *  - Filters are keyed by PHYSICAL column name (like the stats
  *    sidecar): RENAME COLUMN keeps the index valid; probes re-key
  *    through the version's column map.
  *  - Build is a single distributed aggregation over only the files
  *    that NEED filters (one `groupBy(input_file_name)` job with
  *    map-side partial blooms), triggered at commit time for files
  *    added while `graft.bloom.columns` is set, or by an explicit
  *    [[GraftTable.buildBloomIndex]] backfill.
  */
object BloomIndex {

  /** Comma-separated LOGICAL column names to index. */
  val ColumnsProp = "graft.bloom.columns"
  /** Target false-positive rate (default 0.01). */
  val FppProp = "graft.bloom.fpp"
  /** Per-file per-column bit budget cap (default 2^25 bits = 4 MB). */
  val MaxBitsProp = "graft.bloom.maxBits"
  /** Driver-memory budget per build round: collected filters per
    * aggregation job stay under this many bytes (default 256 MB). */
  val BatchBytesProp = "graft.bloom.buildBatchBytes"

  val DefaultFpp = 0.01
  val DefaultMaxBits: Long = 1L << 25
  val DefaultBatchBytes: Long = 256L << 20

  private[table] def indexDir(logDir: Path) = new Path(logDir, "index")

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Sidecar path for one data file's filters. */
  private[table] def indexPath(logDir: Path, fileKey: String): Path =
    new Path(indexDir(logDir), md5hex(fileKey) + ".bloom")

  /** Columns declared for indexing (logical names), empty when unset. */
  private[table] def declaredColumns(props: Map[String, String]): Seq[String] =
    props.get(ColumnsProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Every hash a file's filter may hold pushed-filter value `v` under;
    * empty when `v` is unhashable. The build side hashes
    * `xxhash64(col)` in the column's own type, which the pushed value
    * carries (the DSv1/DSv2 pushdown contract) up to two gaps, covered
    * by also hashing an alternate form of `v`:
    *  - a file indexed before an ALTER COLUMN TYPE widening
    *    ([[TypeWidening]]) hashed the narrower type: Spark hashes byte,
    *    short and int alike, but long and double unlike int and float;
    *  - a decimal column wider than 18 digits hashes its unscaled bytes,
    *    a narrower one its unscaled long, and a value's own precision
    *    does not say which. */
  private def probeHashes(v: Any): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.{Decimal, DecimalType}
    def hash(l: => Literal): Option[Long] =
      scala.util.Try(XxHash64(Seq(l), 42L).eval(null).asInstanceOf[Long]).toOption
    val alternate: Option[Literal] = scala.util.Try(v match {
      case l: java.lang.Long if l.longValue == l.intValue => Some(Literal(l.intValue))
      case d: java.lang.Double
          if java.lang.Double.compare(d.floatValue.toDouble, d.doubleValue) == 0 =>
        Some(Literal(d.floatValue))
      case d: java.math.BigDecimal if d.scale >= 0 && d.scale <= DecimalType.MAX_SCALE =>
        Some(Literal(Decimal(d), DecimalType(DecimalType.MAX_PRECISION, d.scale)))
      case _ => None
    }).toOption.flatten
    if (v == null) Nil
    else hash(Literal(v)).fold(Seq.empty[Long])(_ +: alternate.flatMap(hash(_)).toSeq)
  }

  /** Build-side per-column aggregate: partial blooms on the mappers,
    * merged by the shuffle — one pass over the data, never a
    * value-list materialization. */
  private def bloomAggColumn(c: Column, items: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(c)),
      Literal(items), Literal(numBits)).toAggregateExpression())
  }

  /** Serialize filters → sidecar text. First line records the data-file
    * key so VACUUM's orphan sweep can associate sidecars back to files
    * without inverting the md5. */
  private def render(fileKey: String, blooms: Seq[(String, Array[Byte])]): String = {
    val b64 = java.util.Base64.getEncoder
    (s"#file\t${java.net.URLEncoder.encode(fileKey, "UTF-8")}" +:
      blooms.map { case (c, bytes) =>
        s"${java.net.URLEncoder.encode(c, "UTF-8")}\t${b64.encodeToString(bytes)}" })
      .mkString("", "\n", "\n")
  }

  private[table] def parse(content: String): Map[String, Array[Byte]] = {
    val b64 = java.util.Base64.getDecoder
    content.linesIterator.filterNot(l => l.isEmpty || l.startsWith("#file\t"))
      .flatMap { l =>
        l.split("\t", 2) match {
          case Array(c, bits) => scala.util.Try(
            java.net.URLDecoder.decode(c, "UTF-8") -> b64.decode(bits)).toOption
          case _ => None
        }
      }.toMap
  }

  /** Data-file key recorded in a sidecar (orphan-sweep association). */
  private[table] def fileKeyOf(content: String): Option[String] =
    content.linesIterator.find(_.startsWith("#file\t"))
      .map(l => java.net.URLDecoder.decode(l.stripPrefix("#file\t"), "UTF-8"))

  /** Split a backfill into rounds whose collected filters fit the
    * driver budget: each file contributes ~`perFileBytes` to one job's
    * collect(), so a 100k-file backfill at MB-sized filters runs as
    * many bounded jobs instead of one driver-OOM collect. Pure. */
  private[graft] def buildBatches(todo: Seq[String], perFileBytes: Long,
      budgetBytes: Long): Seq[Seq[String]] = {
    val perBatch = math.max(1L,
      budgetBytes / math.max(1L, perFileBytes)).min(Int.MaxValue).toInt
    todo.grouped(perBatch).toSeq
  }

  /** Build missing sidecars for `files` (manifest keys) over PHYSICAL
    * columns `physCols`; `read` scans a batch of them under the logged
    * schema, `absOf` resolves a key to its absolute path, and a file is
    * indexed only over the columns it `carries` by its logged stats (one
    * written before ADD COLUMN gets no filter for the new column).
    * Returns the number of sidecars written. Each round is one
    * distributed aggregation over a driver-budgeted slice of the files
    * (partial aggregation keeps the shuffle at bloom-size × tasks, not
    * data-size; the slice keeps the collect at [[BatchBytesProp]], not
    * files × filter-size — a whole-table backfill must not OOM the
    * driver). Sidecars land per round, so an interrupted backfill
    * resumes where it stopped (existing sidecars are skipped). */
  private[table] def build(read: Seq[String] => DataFrame, fs: FileSystem, logDir: Path,
      files: Seq[String], absOf: String => Path, carries: String => Set[String],
      physCols: Seq[String], rowsHint: Map[String, Long], props: Map[String, String]): Int = {
    val todo = files.filterNot(f => fs.exists(indexPath(logDir, f)))
    if (todo.isEmpty || physCols.isEmpty) return 0
    val fpp = props.get(FppProp).map(_.toDouble).getOrElse(DefaultFpp)
    val maxBits = props.get(MaxBitsProp).map(_.toLong).getOrElse(DefaultMaxBits)
    require(fpp > 0 && fpp < 1, s"$FppProp must be in (0, 1), got $fpp")
    // one aggregate instance sizes every file's filter: take the widest
    // per-file row hint (footer row counts travel in the stats sidecar)
    val items = math.max(1L, todo.map(f => rowsHint.getOrElse(f, 0L)).max match {
      case 0L => 1000000L // no hint: size for a default-sized file
      case n => n
    })
    val numBits = math.max(64L,
      math.min(maxBits, BloomFilter.optimalNumOfBits(items, fpp)))
    val budget = props.get(BatchBytesProp).map(_.toLong)
      .getOrElse(DefaultBatchBytes)
    val perFileBytes = physCols.size.toLong * (numBits / 8 + 64)
    var written = 0
    buildBatches(todo, perFileBytes, budget).foreach { batch =>
      val df = read(batch)
      // only atomic columns some file of the batch carries are indexable
      val schema = df.schema
      val present = batch.flatMap(carries).toSet
      val indexable = physCols.filter(c => present(c) && schema.fields.exists { f =>
        import org.apache.spark.sql.types._
        f.name == c && (f.dataType match {
          case _: StructType | _: ArrayType | _: MapType | _: BinaryType |
               NullType | _: VariantType => false
          case _ => true
        })
      })
      if (indexable.nonEmpty) {
        val aggs = indexable.map(c => bloomAggColumn(col(c), items, numBits).as(c))
        val rows = df.groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*).collect()
        val byPath = batch.map(f => absOf(f).toUri.getPath -> f).toMap
        rows.foreach { r =>
          byPath.get(new Path(r.getString(0)).toUri.getPath).foreach { fileKey =>
            val has = carries(fileKey)
            val blooms = indexable.zipWithIndex.flatMap { case (c, i) =>
              Option(r.get(i + 1)).filter(_ => has(c)).map(b => c -> b.asInstanceOf[Array[Byte]])
            }
            if (blooms.nonEmpty) {
              try {
                LogStore.writeAtomic(fs, indexPath(logDir, fileKey),
                  render(fileKey, blooms).getBytes(StandardCharsets.UTF_8))
                written += 1
              } catch { // a concurrent builder won: same bits
                case _: GraftTable.CommitConflictException => ()
              }
            }
          }
        }
      }
    }
    written
  }

  // Deserialized-filter cache, weight-bounded: repeated point lookups
  // over one snapshot (the hot pattern) re-probe the same sidecars;
  // the bound keeps a 100 TB table's index from accumulating on the
  // driver. Negative entries (no sidecar on disk) cache as empty maps
  // so each miss costs ONE existence check per eviction window.
  private val CacheMaxBytes = 256L << 20
  private case class Entry(blooms: Map[String, BloomFilter], weight: Long)
  private val cache = new java.util.LinkedHashMap[(String, String), Entry](
      256, 0.75f, true) {
    private def totalWeight: Long = {
      var s = 0L; val it = values().iterator()
      while (it.hasNext) s += it.next().weight
      s
    }
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, String), Entry]): Boolean =
      size() > 16384 || totalWeight > CacheMaxBytes
  }

  private[table] def invalidate(rootKey: String): Unit = cache.synchronized {
    val it = cache.keySet().iterator()
    while (it.hasNext) if (it.next()._1 == rootKey) it.remove()
  }

  /** The (possibly cached) filters of one data file; empty when the
    * file has no sidecar. */
  private[table] def filtersOf(fs: FileSystem, logDir: Path, rootKey: String,
      fileKey: String): Map[String, BloomFilter] = {
    val k = (rootKey, fileKey)
    cache.synchronized(Option(cache.get(k))).map(_.blooms).getOrElse {
      val p = indexPath(logDir, fileKey)
      val loaded: Map[String, BloomFilter] =
        if (!fs.exists(p)) Map.empty
        else scala.util.Try {
          val in = fs.open(p)
          val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          parse(content).flatMap { case (c, bytes) =>
            scala.util.Try(c -> BloomFilter.readFrom(bytes)).toOption
          }
        }.getOrElse(Map.empty)
      val weight = 64L + loaded.valuesIterator.map(_.bitSize() / 8).sum
      cache.synchronized(cache.put(k, Entry(loaded, weight)))
      loaded
    }
  }

  /** Per-column probe sets demanded by `filters` (logical names): the
    * file must contain at least one hash from EVERY listed set. Only
    * top-level conjuncts contribute (a disjunct with a non-equality arm
    * yields no proof); this mirrors `statsMayMatch`'s conservatism —
    * proofs are only ever of absence. */
  private[table] def probes(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Map[String, Seq[Seq[Long]]] = {
    import org.apache.spark.sql.sources._
    def oneFilter(f: Filter): Seq[(String, Seq[Long])] = f match {
      case EqualTo(a, v) => Some(probeHashes(v)).filter(_.nonEmpty).map(a -> _).toSeq
      case In(a, vs) =>
        val hs = vs.toSeq.filter(_ != null).map(probeHashes)
        // a NULL among the IN list can never match either; but an
        // unhashable value means no proof for this conjunct
        if (hs.nonEmpty && hs.forall(_.nonEmpty)) Seq(a -> hs.flatten) else Nil
      case And(l, r) => oneFilter(l) ++ oneFilter(r)
      case _ => Nil
    }
    filters.flatMap(oneFilter).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  /** True when the file MAY satisfy every demanded probe set (missing
    * sidecar or missing column ⇒ no proof ⇒ keep). */
  private[table] def mayContain(blooms: Map[String, BloomFilter],
      demanded: Map[String, Seq[Seq[Long]]]): Boolean =
    demanded.forall { case (c, sets) =>
      blooms.get(c).forall(bf => sets.forall(_.exists(bf.mightContainLong)))
    }
}
