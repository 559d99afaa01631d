package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.table.GraftTable

/** ScalaCheck property for MERGE: random clause sets — matched UPDATE
  * (ALL or SET) and DELETE, NOT MATCHED INSERT (ALL or a column list),
  * NOT MATCHED BY SOURCE UPDATE and DELETE, each with or without a
  * condition, with or without a residual merge condition — over random
  * targets and sources that carry duplicate and NULL keys. Each MERGE is
  * checked against a reference model evaluated row by row in plain Scala:
  * the table's rows, the change feed of the MERGE's commit, its row
  * metrics, and whether it fails with the multiple-match error (key-level
  * without a residual, row-level with one) must all agree. */
class MergePropertySpec extends SparkSpec {
  import spark.implicits._

  /** (key, partition, value); the key may be NULL. */
  type R = (Option[Int], Int, Int)

  /** A clause condition as a Column and as its model over the source
    * row `s` and the target row `t` (whichever the clause can see). */
  final case class Cond(col: Column, holds: (R, R) => Boolean, name: String)
  private val dummy: R = (None, 0, 0)

  private val matchedConds = Seq(
    Cond(col("source.v") % 3 === 0, (s, _) => s._3 % 3 == 0, "s.v%3=0"),
    Cond(col("target.v") < 50, (_, t) => t._3 < 50, "t.v<50"))
  private val insertConds = Seq(
    Cond(col("source.v") % 2 === 1, (s, _) => s._3 % 2 == 1, "s.v%2=1"))
  private val nmbsConds = Seq(
    Cond(col("target.v") % 2 === 0, (_, t) => t._3 % 2 == 0, "t.v%2=0"))
  private val residual =
    Cond(col("source.v") >= col("target.v"), (s, t) => s._3 >= t._3, "s.v>=t.v")

  /** Matched: 0 UPDATE ALL, 1 UPDATE SET v = s.v + 1000, 2 DELETE.
    * Insert: 0 INSERT ALL, 1 INSERT (k, p, v = s.v + 2000).
    * Not matched by source: 0 UPDATE SET v = t.v + 3000, 1 DELETE. */
  final case class Clause(action: Int, cond: Option[Cond])
  final case class Case(target: Seq[R], source: Seq[R], resid: Boolean,
      matched: Seq[Clause], inserts: Seq[Clause], nmbs: Seq[Clause]) {
    override def toString: String = {
      def cl(c: Seq[Clause]) = c.map(x => s"${x.action}${x.cond.fold("")("?" + _.name)}")
        .mkString("[", ",", "]")
      s"target=$target source=$source residual=$resid matched=${cl(matched)} " +
        s"insert=${cl(inserts)} nmbs=${cl(nmbs)}"
    }
  }

  private val key: Gen[Option[Int]] = Gen.frequency(1 -> Gen.const(None), 6 -> Gen.choose(0, 6).map(Some(_)))
  private val row: Gen[R] = for { k <- key; p <- Gen.choose(0, 1); v <- Gen.choose(0, 99) } yield (k, p, v)
  private def clauses(actions: Int, conds: Seq[Cond], max: Int): Gen[Seq[Clause]] =
    Gen.choose(0, max).flatMap(n => Gen.listOfN(n, for {
      a <- Gen.choose(0, actions - 1)
      c <- Gen.option(Gen.oneOf(conds))
    } yield Clause(a, c)))
  private val cases: Gen[Case] = (for {
    target <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, row))
    source <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, row))
    resid <- Gen.oneOf(false, true)
    matched <- clauses(3, matchedConds, 2)
    inserts <- clauses(2, insertConds, 2)
    nmbs <- clauses(2, nmbsConds, 2)
  } yield Case(target, source, resid, matched, inserts, nmbs))
    .suchThat(c => c.matched.nonEmpty || c.inserts.nonEmpty || c.nmbs.nonEmpty)

  /** What the MERGE must do: Left(multiple-match) or Right((table rows,
    * change rows, (updated, deleted, inserted))). */
  private def model(c: Case): Either[String, (Seq[R], Seq[(R, String)], (Long, Long, Long))] = {
    def matches(s: R, t: R) = s._1.isDefined && s._1 == t._1 && (!c.resid || residual.holds(s, t))
    def first(cl: Seq[Clause], s: R, t: R) = cl.find(_.cond.forall(_.holds(s, t)))
    val pairs = c.target.map(t => t -> c.source.filter(matches(_, t)))
    if (c.matched.nonEmpty && pairs.exists(_._2.size > 1)) return Left("multiple-match")
    val rows = Seq.newBuilder[R]
    val changes = Seq.newBuilder[(R, String)]
    var upd, del, ins = 0L
    pairs.foreach {
      // several matches only without matched clauses: the row is kept
      case (t, ms) if ms.size > 1 => rows += t
      case (t, Seq(s)) => first(c.matched, s, t) match {
        case Some(Clause(2, _)) => changes += t -> "delete"; del += 1
        case Some(Clause(a, _)) =>
          val n = if (a == 0) s else (t._1, t._2, s._3 + 1000)
          rows += n; changes += t -> "update_preimage"; changes += n -> "update_postimage"; upd += 1
        case None => rows += t
      }
      case (t, _) => first(c.nmbs, dummy, t) match {
        case Some(Clause(1, _)) => changes += t -> "delete"; del += 1
        case Some(_) =>
          val n = (t._1, t._2, t._3 + 3000)
          rows += n; changes += t -> "update_preimage"; changes += n -> "update_postimage"; upd += 1
        case None => rows += t
      }
    }
    c.source.filterNot(s => c.target.exists(matches(s, _))).foreach { s =>
      first(c.inserts, s, dummy).foreach { cl =>
        val n = if (cl.action == 0) s else (s._1, s._2, s._3 + 2000)
        rows += n; changes += n -> "insert"; ins += 1
      }
    }
    Right((rows.result(), changes.result(), (upd, del, ins)))
  }

  private def runMerge(c: Case, t: GraftTable): Long = {
    val src = c.source.toDF("k", "p", "v")
    var b = t.mergeIntoOn(src, Seq("k" -> "k"), if (c.resid) Some(residual.col) else None)
    c.matched.foreach {
      case Clause(0, cd) => b = cd.fold(b.whenMatchedUpdateAll())(x => b.whenMatchedUpdateAll(x.col))
      case Clause(1, cd) =>
        val set = Map("v" -> (col("source.v") + 1000))
        b = cd.fold(b.whenMatchedUpdate(set))(x => b.whenMatchedUpdate(x.col, set))
      case Clause(_, cd) => b = cd.fold(b.whenMatchedDelete())(x => b.whenMatchedDelete(x.col))
    }
    c.inserts.foreach {
      case Clause(0, cd) => b = cd.fold(b.whenNotMatchedInsertAll())(x => b.whenNotMatchedInsertAll(x.col))
      case Clause(_, cd) =>
        // bare names in an insert clause are the source's columns
        val set = Map("k" -> col("k"), "p" -> col("source.p"), "v" -> (col("v") + 2000))
        b = cd.fold(b.whenNotMatchedInsert(set))(x => b.whenNotMatchedInsert(x.col, set))
    }
    c.nmbs.foreach {
      case Clause(0, cd) =>
        val set = Map("v" -> (col("target.v") + 3000))
        b = cd.fold(b.whenNotMatchedBySourceUpdate(set))(x => b.whenNotMatchedBySourceUpdate(x.col, set))
      case Clause(_, cd) =>
        b = cd.fold(b.whenNotMatchedBySourceDelete())(x => b.whenNotMatchedBySourceDelete(x.col))
    }
    b.execute()
  }

  private def sorted[A](xs: Seq[A])(implicit o: Ordering[A]): Seq[A] = xs.sorted
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[R] =
    df.select("k", "p", "v").as[(Option[Int], Int, Int)].collect().toSeq

  private var n = 0

  private def check(c: Case): Prop = {
    n += 1
    val t = GraftTable(spark, GraftTmp.dir(s"merge_prop_$n").toString, Seq("p"))
    t.write(c.target.toDF("k", "p", "v").repartition(2))
    val got = try Right(runMerge(c, t)) catch {
      case e: IllegalStateException if e.getMessage.contains("multiple source rows") =>
        Left("multiple-match")
    }
    val expected = model(c)
    var seen = ""
    val ok = (expected, got) match {
      case (Left(a), Left(b)) => a == b && t.currentVersion == 0
      case (Right((rows, changes, (upd, del, ins))), Right(v)) =>
        val table = rowsOf(t.read())
        val feed = t.changes(v - 1, v).select("k", "p", "v", "_change_type")
          .as[(Option[Int], Int, Int, String)].collect().toSeq.map(x => (x._1, x._2, x._3) -> x._4)
        val m = t.operationMetrics(v)
        seen = s"rows ${sorted(table)}\nfeed ${sorted(feed)}\nmetrics $m"
        // rows read from the files the MERGE replaced: every one is
        // copied, updated or deleted
        val removed = t.manifestFiles(v - 1).toSet -- t.manifestFiles(v)
        val read = t.statsOf(v - 1).collect { case (f, st) if removed(f) =>
          st.get("").collect { case ("rows", r, _) => r.toLong }.getOrElse(0L) }.sum
        val metricsOk = m("numSourceRows").toLong == c.source.size &&
          m("numTargetRowsUpdated").toLong == upd &&
          m("numTargetRowsDeleted").toLong == del &&
          m("numTargetRowsInserted").toLong == ins &&
          m("numTargetRowsCopied").toLong == read - upd - del &&
          Seq("discoveryTimeMs", "rewriteTimeMs", "commitTimeMs").forall(k => m(k).toLong >= 0)
        sorted(table) == sorted(rows) && sorted(feed) == sorted(changes) && metricsOk
      case _ => false
    }
    (ok: Prop) :| s"case $c\nmodel $expected\ngot $got\n$seen"
  }

  test("two source rows on one target key raise under an unconditional NOT MATCHED BY SOURCE clause") {
    // a generated case that once passed the guard: the discovery join it
    // sat in was dropped, nothing above it reading the source side
    val c = Case(Seq((Some(4), 1, 83), (Some(2), 0, 3), (None, 1, 2)),
      Seq((Some(4), 1, 18), (Some(4), 1, 45), (Some(5), 0, 35)), resid = false,
      Seq(Clause(0, Some(matchedConds.head))), Nil, Seq(Clause(1, None)))
    assert(model(c) == Left("multiple-match"))
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(1), check(c))
    assert(res.passed, res.toString)
  }

  test("random MERGEs match the reference model: rows, change feed, metrics, multiple-match error") {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40)
      .withWorkers(1), Prop.forAll(cases)(check))
    assert(res.passed, res.toString)
  }
}
