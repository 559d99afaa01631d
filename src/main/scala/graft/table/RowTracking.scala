package graft.table

/** Row tracking (Delta row-ID parity, base-row-ID design): every live
  * row gets a stable unique BIGINT `_row_id` without touching the data
  * files.
  *
  * Mechanics: each file ADDED while `graft.rowTracking = true` records a
  * BASE row id in its file stats (reserved pseudo-column), and
  * a row's id is `base + row_index` — assigned at commit time from a
  * high-water mark carried in reserved TBLPROPERTIES and advanced in the
  * SAME commit (the put-if-absent publish orders concurrent appends, so
  * their ranges never overlap).
  * The design is metadata-only: a 100 TB ingest pays nothing on the
  * write path, and reads attach ids from a broadcast file→base join
  * (rows ∝ file count).
  *
  * Stability contract (documented divergence from Delta's materialized
  * row IDs): ids survive appends, merge-on-read DELETEs (positions don't
  * move), RESTORE and CLONE (bases travel with the carried stats) — but
  * a copy-on-write rewrite (OPTIMIZE / COW UPDATE / MERGE) re-bases the
  * rewritten files, so rewritten rows get FRESH ids. Pair row tracking
  * with deletion-vector deletes when id stability matters; Delta closes
  * the rewrite gap by materializing ids into rewritten files, which this
  * engine does not yet do.
  */
object RowTracking {

  /** Opt-in table property. */
  val Prop = "graft.rowTracking"
  /** Reserved: next unassigned row id (advanced per commit). */
  val HwmProp = "graft.rowTracking.hwm"
  /** Reserved stats pseudo-column carrying a file's base row id. No
    * parquet field can collide in practice (double underscore +
    * reserved name, and stats keys are physical column names). */
  val BaseKey = "__rowbase"

  def enabled(props: Map[String, String]): Boolean =
    props.get(Prop).exists(_.equalsIgnoreCase("true"))

  /** Assign base row ids to freshly-WRITTEN adds (not `carried` —
    * RESTORE/CLONE/convert adoptions keep their stats verbatim, so an
    * unbased pre-property file stays unbased instead of silently
    * minting ids its source never had); returns the updated
    * (properties, stats). Files without a row count are skipped — their
    * rows read a null `_row_id` until OPTIMIZE re-bases them. */
  def assign(props: Map[String, String],
      stats: Map[String, Map[String, (String, String, String)]],
      adds: Seq[String], carried: String => Boolean)
      : (Map[String, String], Map[String, Map[String, (String, String, String)]]) = {
    if (!enabled(props) || adds.isEmpty) return (props, stats)
    var hwm = props.get(HwmProp).map(_.toLong).getOrElse(0L)
    def colsOf(f: String) = stats.getOrElse(f, Map.empty)
    def rowsOf(cols: Map[String, (String, String, String)]) =
      cols.get("").collect { case ("rows", lo, _) => lo.toLong }
    // pass 1: carried bases (RESTORE/CLONE) raise the hwm FIRST, so a
    // fresh assignment in the same commit can never land inside a
    // carried range
    adds.foreach { f =>
      val cols = colsOf(f)
      cols.get(BaseKey).foreach { case (_, b, _) =>
        hwm = math.max(hwm, b.toLong + rowsOf(cols).getOrElse(0L))
      }
    }
    // pass 2: fresh files with a recorded row count allocate above it
    var outStats = stats
    adds.sorted.foreach { f =>
      val cols = colsOf(f)
      if (!cols.contains(BaseKey) && !carried(f)) rowsOf(cols).foreach { n =>
        outStats = outStats.updated(f,
          cols.updated(BaseKey, ("base", hwm.toString, hwm.toString)))
        hwm += n
      }
    }
    (props.updated(HwmProp, hwm.toString), outStats)
  }

  /** manifest file key → base row id of `version`'s live files. */
  def bases(stats: Map[String, Map[String, (String, String, String)]])
      : Map[String, Long] =
    stats.flatMap { case (f, cols) =>
      cols.get(BaseKey).map { case (_, b, _) => f -> b.toLong }
    }
}
