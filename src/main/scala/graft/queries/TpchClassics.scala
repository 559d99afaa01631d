package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Further TPC-H classic shapes (Q12/Q14/Q18 adapted to the testdata
  * schema): conditional aggregation inside a fact join, a ratio of
  * conditional sums, and a having-filtered aggregate subquery joined
  * back to its facts.
  *
  * Scale: q12/q14 are one fact shuffle with the dimension broadcast;
  * q18's inner aggregate reuses the join key's hash partitioning, so
  * the subsequent joins add no extra fact shuffle (the aggregate and
  * the join co-partition on l_orderkey / o_orderkey).
  */
object TpchClassics {

  /** Q12 shape: per return flag, how many late-shipped lineitems belong
    * to critical (1-URGENT / 2-HIGH) vs other orders. */
  def q12ShipPriority(spark: SparkSession, dir: String): DataFrame = {
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
      .join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(critical, 1L).otherwise(0L)).as("critical_count"),
        sum(when(!critical, 1L).otherwise(0L)).as("other_count"))
      .orderBy("l_returnflag")
  }

  /** Q14 shape: revenue share of a part-type family — conditional sums in
    * exact scaled-integer space (summation-order-free at any scale),
    * bit-identical division for the share. */
  def q14TypeShare(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExactDecimal._
    lineitem(spark, dir)
      .join(broadcast(part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).as("l_year"))
      .agg(
        sumRevenueIf(col("p_type").startsWith("STANDARD"),
          col("l_extendedprice"), col("l_discount")).as("standard_revenue"),
        sumRevenue(col("l_extendedprice"), col("l_discount")).as("total_revenue"))
      .withColumn("standard_share",
        lit(100.0) * col("standard_revenue") / col("total_revenue"))
      .orderBy("l_year")
  }

  /** Q18 shape: large orders — the quantity aggregate filters order
    * keys, then joins back to orders and customer for the report. */
  val LargeOrderQty = 120.0

  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 2).as("total_qty"))
      .filter(col("total_qty") > LargeOrderQty)
    big
      .join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_custkey"), col("c_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(desc("total_qty"), col("o_orderkey"))
      .limit(100)
  }

  /** Q15 shape: top supplier(s) by quarterly revenue — an aggregated
    * view compared against its own scalar MAX (revenue rounded at the
    * grid so the equality is exact on both engines). */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val revenue = lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("total_revenue"))
    val top = revenue.agg(max("total_revenue").as("mr"))
    revenue.join(broadcast(top), col("total_revenue") === col("mr"))
      .join(broadcast(supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Q21 shape (adapted: no commit/receipt dates in the schema — "late"
    * is shipping >90 days after the order date): suppliers whose line
    * was late on a multi-supplier order where EVERY OTHER supplier was
    * on time — the classic EXISTS(other) AND NOT EXISTS(other late)
    * double-correlation, expressed as semi + anti join. */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    // r17 (guide §2.4/§2.5, VERDICT #4): the join/aggregate chain is
    // keyed by l_orderkey end to end, so ONE pinned exchange of the
    // projected lineitem side serves the join AND both per-order
    // aggregates (hash(l_orderkey) satisfies clustered(l_orderkey,
    // l_suppkey) and clustered(l_orderkey)) — where the unpinned plan
    // paid a post-join (okey, skey) exchange plus an okey exchange,
    // and AQE (advisory-sized, parallelismFirst=false) coalesced the
    // CPU-dense agg stage to 2 tasks at sf1 (stage-counted: 5.9 s on
    // 2 of 32 cores). Bytes-gated per core so KB-scale fixtures keep
    // their coalesced 1-task plans (the r16 c8 anti-scaling lesson).
    val liRaw = lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    // partition count scales with input (one per 8 MB of estimate,
    // floored at the core count): the fused join+aggregate stage holds a
    // per-task hash-join build AND a per-task (okey, skey) agg map — at
    // one-partition-per-core grain the sf10 stage spilled 1.3 GB into
    // sort-based agg fallback; halving per-task state keeps both
    // structures resident (guide §5 "more partitions, smaller per-task
    // state")
    val li = pinnedParts(liRaw, 512L * 1024,
        bytesPerPart = 8L * 1024 * 1024)
      .fold(liRaw)(liRaw.repartition(_, col("l_orderkey")))
    // at the decades orders outgrows the broadcast region and the
    // planner fell back to sort-merge: two full sorts of the billion-
    // row side for an equi-join (stage-counted at sf10: 209 s cpu,
    // 2.3 GB spill). A shuffled-hash build of the (o_orderkey,
    // o_orderdate) side is sort-free and per-partition bounded
    // (guide §3.1); below the gate the auto-broadcast keeps winning.
    val ordRaw = orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"))
    val ord =
      if (pinnedParts(ordRaw, 1024L * 1024).isDefined)
        ordRaw.hint("shuffle_hash")
      else ordRaw
    val l = li
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("late"))
    // Q21's EXISTS/NOT-EXISTS double correlation, decorrelated into ONE
    // per-order aggregate (the classic Q21 rewrite): a supplier waits on
    // an order iff it is the order's UNIQUE late supplier and the order
    // has at least one other supplier — i.e. n_late = 1 ∧ n_supp > 1,
    // with the waiting supplier recoverable as max(late supplier). The
    // semi+anti formulation scanned the lineitem⋈orders join three
    // times (probe, exists-other, not-exists-late-other); this scans it
    // once and shuffles one row per order. The correlated-subquery
    // SHAPE itself stays covered by sql_correlated_exists /
    // customers_without_orders; the DuckDB oracle keeps the textbook
    // double-EXISTS text and must agree row-for-row.
    val perSupp = l.groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late")).as("late")) // supplier late on order iff ANY line late
    perSupp.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("late"), 1).otherwise(0)).as("n_late"),
        max(when(col("late"), col("l_suppkey"))).as("l_suppkey"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
      .join(broadcast(supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), col("s_suppkey"))
      .limit(100)
  }

  /** Q22 shape (adapted: nation key stands in for the phone prefix):
    * customers from a nation set with above-average positive balance and
    * no URGENT order (every customer in this corpus has SOME order, so
    * the anti-join gate keeps Q22's NOT-EXISTS-with-predicate shape on a
    * non-empty result) — scalar AVG subquery (order-insensitive
    * round(sum)/count form) + anti join + per-group rollup. */
  val Q22Nations = Seq(1, 3, 5, 7, 9, 11, 13)

  def q22GlobalSales(spark: SparkSession, dir: String): DataFrame = {
    val cust = customer(spark, dir).filter(col("c_nationkey").isin(Q22Nations: _*))
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((round(sum("c_acctbal"), 2) / count(lit(1))).as("ab"))
    cust.join(broadcast(avgBal), col("c_acctbal") > col("ab"))
      .join(orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), round(sum("c_acctbal"), 2).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q12_ship_priority" -> q12ShipPriority _,
    "q14_type_share"    -> q14TypeShare _,
    "q15_top_supplier"  -> q15TopSupplier _,
    "q18_large_orders"  -> q18LargeOrders _,
    "q21_waiting_supplier" -> q21WaitingSupplier _,
    "q22_global_sales"  -> q22GlobalSales _)

  val oracles: Map[String, String] = Map(
    "q12_ship_priority" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS critical_count,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS other_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_type_share" -> {
      import graft.functions.ExactDecimal._
      val std = sqlSumRevenueIf("p_type LIKE 'STANDARD%'", "l_extendedprice", "l_discount")
      val tot = sqlSumRevenue("l_extendedprice", "l_discount")
      s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |       $std AS standard_revenue,
         |       $tot AS total_revenue,
         |       100.0 * $std / $tot AS standard_share
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING ROUND(SUM(l_quantity), 2) > 120.0)
        |SELECT c_custkey, c_name, o_orderkey,
        |       CAST(o_orderdate AS DATE) AS order_date,
        |       o_totalprice, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |         ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM revenue JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey,
        |         l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |l1 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM l WHERE late)
        |SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM l o
        |              WHERE o.l_orderkey = l1.l_orderkey
        |                AND o.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l o
        |                  WHERE o.l_orderkey = l1.l_orderkey
        |                    AND o.l_suppkey <> l1.l_suppkey AND o.late)
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey LIMIT 100""".stripMargin,
    "q22_global_sales" ->
      """WITH cust AS (
        |  SELECT * FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
        |ab AS (SELECT ROUND(SUM(c_acctbal), 2) / COUNT(*) AS ab
        |       FROM cust WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |       ROUND(SUM(c_acctbal), 2) AS totacctbal
        |FROM cust, ab
        |WHERE c_acctbal > ab.ab
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
