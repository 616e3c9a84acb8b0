package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator suite (q01..q23) over the TPC-H-ish testdata.
  *
  * Engine-parity rules (Spark result must hash-match the DuckDB oracle):
  *  - money/quantity sums go through DECIMAL casts (order-independent,
  *    exact), then round(..,2) and a final DOUBLE cast;
  *  - ratio/avg outputs are a single IEEE division of exact inputs
  *    (bit-identical across engines), never an engine `avg` over doubles;
  *  - timestamps leave the plan as epoch microseconds (bigint) or
  *    ISO date strings;
  *  - every query ends in a total-order sort with explicit tiebreakers.
  *
  * Scale notes are on each query: dims are broadcast, fact-fact joins
  * shuffle on their natural key, windows always have a partition key.
  */
object Relational {

  /** Exact decimal sum rendered as double: round(sum(decimal(x)), 2). */
  private def dsum(c: Column): Column =
    round(sum(c.cast("decimal(12,2)")), 2).cast("double")
  private def sqlDsum(e: String): String =
    s"CAST(round(sum(CAST($e AS DECIMAL(12,2))), 2) AS DOUBLE)"

  /** Exact revenue term: price * (1 - discount) in decimal. */
  private def revTerm(price: Column, disc: Column): Column =
    price.cast("decimal(12,2)") * (lit(1).cast("decimal(12,2)") - disc.cast("decimal(12,2)"))
  private val sqlRevTerm =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"
  private def drevsum: Column =
    round(sum(revTerm(col("l_extendedprice"), col("l_discount"))), 2).cast("double")
  private val sqlDrevsum = s"CAST(round(sum($sqlRevTerm), 2) AS DOUBLE)"

  // ------------------------------------------------------------------
  // q01: TPC-H Q1-style pricing summary. Scan → filter → hash agg.
  // Scale: map-side partial agg; 6-group output; filter pushed to parquet.
  def q01(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1999-12-31"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        drevsum.as("sum_disc_price"),
        (sum(col("l_quantity").cast("decimal(12,2)")).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  $sqlDrevsum AS sum_disc_price,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
       |  count(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-31'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // q02: projection + predicate pushdown (ReadSchema stays 4 columns).
  def q02(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select("p_partkey", "p_name", "p_type", "p_retailprice")
      .filter(col("p_type") === "PROMO" && col("p_retailprice") > 990.0)
      .orderBy("p_partkey")

  val q02Sql: String =
    """SELECT p_partkey, p_name, p_type, p_retailprice FROM part
      |WHERE p_type = 'PROMO' AND p_retailprice > 990.0 ORDER BY p_partkey""".stripMargin

  // q03: TPC-H Q3-style top-K revenue. customer (broadcast-ish dim) ⋈
  // orders ⋈ lineitem; shuffle on orderkey; top-10 via sort+limit
  // (Spark runs TakeOrderedAndProject — no full sort at scale).
  def q03(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(drevsum.as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q03Sql: String =
    s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       |  $sqlDrevsum AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  // q04: EXISTS semi-join + agg (order-priority profile of orders that
  // have at least one high-quantity line). Semi-join avoids fanout.
  def q04(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    val l = Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
      .select("l_orderkey")
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q04Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // q05: TPC-H Q5-style star join. nation/region broadcast; the
  // customer=supplier nation equality is the classic Q5 constraint.
  def q05(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA").select("r_regionkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name").agg(drevsum.as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q05Sql: String =
    s"""SELECT n_name, $sqlDrevsum AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin

  // q06: TPC-H Q6 forecast: single scan, tight range filters (all pushed
  // to parquet), one global agg — the cheapest possible shape.
  def q06(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
        col("l_discount").cast("decimal(12,2)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  val q06Sql: String =
    """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                       CAST(l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  // q07: anti-join — customers with no urgent order.
  def q07(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select("c_custkey", "c_name")
    val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").orderBy("c_custkey")
  }

  val q07Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // q08: semi-join — parts that appear in a high-quantity line.
  def q08(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select("p_partkey", "p_name", "p_brand")
    val l = Tables.lineitem(s, d).filter(col("l_quantity") >= 49).select("l_partkey")
    p.join(l, p("p_partkey") === l("l_partkey"), "left_semi").orderBy("p_partkey")
  }

  val q08Sql: String =
    """SELECT p_partkey, p_name, p_brand FROM part
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_partkey = p_partkey AND l_quantity >= 49)
      |ORDER BY p_partkey""".stripMargin

  // q09: windowed top-N per group (top-3 parts per supplier by revenue).
  // Partitioned window — no global sort; agg first shrinks the input.
  def q09(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .groupBy("l_suppkey", "l_partkey").agg(drevsum.as("revenue"))
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("revenue").desc, col("l_partkey"))
    rev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy("l_suppkey", "rn")
  }

  val q09Sql: String =
    s"""SELECT * FROM (
       |  SELECT l_suppkey, l_partkey, revenue,
       |    row_number() OVER (PARTITION BY l_suppkey
       |                       ORDER BY revenue DESC, l_partkey) AS rn
       |  FROM (SELECT l_suppkey, l_partkey, $sqlDrevsum AS revenue
       |        FROM lineitem GROUP BY 1, 2))
       |WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin

  // q10: running (cumulative) sum per customer over order history.
  def q10(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_custkey") < 100)
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        round(sum(col("o_totalprice").cast("decimal(12,2)")).over(w), 2)
          .cast("double").as("running_total"))
      .orderBy("o_custkey", "orderdate", "o_orderkey")
  }

  val q10Sql: String =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
      |    AS running_total
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, orderdate, o_orderkey""".stripMargin

  // q11: lag() delta vs previous order of the same customer.
  def q11(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).filter(col("o_custkey") < 100)
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o.select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice").cast("decimal(12,2)") -
          lag(col("o_totalprice").cast("decimal(12,2)"), 1).over(w), 2)
          .cast("double").as("delta"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val q11Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) -
      |    lag(CAST(o_totalprice AS DECIMAL(12,2)), 1)
      |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2)
      |    AS DOUBLE) AS delta
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // q12: distinct aggregation per group (two distincts → Spark expands;
  // at scale prefer approx_count_distinct — kept exact for the oracle).
  def q12(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    val o = Tables.orders(s, d).select("o_custkey", "o_orderpriority")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(countDistinct(col("c_custkey")).as("n_customers"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  val q12Sql: String =
    """SELECT c_mktsegment, count(DISTINCT c_custkey) AS n_customers,
      |  count(DISTINCT o_orderpriority) AS n_priorities, count(*) AS n_orders
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // q13: ROLLUP over nation → segment, null-filled levels made explicit.
  // Rolls up on the integer nation KEY and joins the dim AFTER the agg —
  // cheaper at scale (narrow grouping key, 30-row post-agg join) and it
  // sidesteps Spark 4.1's over-eager ambiguous-self-join check on
  // join→rollup plans. Valid because nationkey→n_name is 1:1.
  def q13(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    val r = c.rollup("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_bal"))
    r.join(broadcast(n), r("c_nationkey") === n("n_nationkey"), "left")
      .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
        coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
        col("n_customers"), col("sum_bal"))
      .orderBy("nation", "segment")
  }

  val q13Sql: String =
    s"""SELECT coalesce(n_name, 'ALL') AS nation,
       |  coalesce(c_mktsegment, 'ALL') AS segment,
       |  count(*) AS n_customers, ${sqlDsum("c_acctbal")} AS sum_bal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY ROLLUP (n_name, c_mktsegment) ORDER BY 1, 2""".stripMargin

  // q14: CUBE over order status × priority.
  def q14(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy("status", "priority")

  val q14Sql: String =
    s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
       |  coalesce(o_orderpriority, 'ALL') AS priority,
       |  count(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY 1, 2""".stripMargin

  // q15: GROUPING SETS — independent slices in one shuffle.
  def q15(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("n"), col("qty"))
      .orderBy("rflag", "lstatus")

  val q15Sql: String =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS rflag,
       |  coalesce(l_linestatus, 'ALL') AS lstatus,
       |  count(*) AS n, ${sqlDsum("l_quantity")} AS qty
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       |ORDER BY 1, 2""".stripMargin

  // q16: HAVING — parts ordered in more than 45 lines.
  def q16(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_partkey").agg(count(lit(1)).as("n_lines"),
        dsum(col("l_quantity")).as("total_qty"))
      .filter(col("n_lines") > 45)
      .orderBy(col("n_lines").desc, col("l_partkey"))

  val q16Sql: String =
    s"""SELECT l_partkey, count(*) AS n_lines, ${sqlDsum("l_quantity")} AS total_qty
       |FROM lineitem GROUP BY 1 HAVING count(*) > 45
       |ORDER BY n_lines DESC, l_partkey""".stripMargin

  // q17: set operations — UNION / INTERSECT / EXCEPT on key sets.
  def q17(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
    val rich = c.filter(col("c_acctbal") > 8000.0).select("c_custkey")
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY").select("c_custkey")
    auto.union(machinery).intersect(rich)
      .except(c.filter(col("c_acctbal") > 9900.0).select("c_custkey"))
      .orderBy("c_custkey")
  }

  val q17Sql: String =
    """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      | UNION ALL
      | SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      |INTERSECT
      |SELECT c_custkey FROM customer WHERE c_acctbal > 8000.0
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_acctbal > 9900.0
      |ORDER BY c_custkey""".stripMargin

  // q18: conditional (CASE) aggregation — a manual pivot, integer-exact.
  def q18(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(
        sum(when(col("c_mktsegment") === "BUILDING", 1).otherwise(0)).as("building"),
        sum(when(col("c_mktsegment") === "AUTOMOBILE", 1).otherwise(0)).as("automobile"),
        sum(when(col("c_acctbal") > 5000.0, 1).otherwise(0)).as("high_balance"),
        count(lit(1)).as("total"))
      .orderBy("n_name")
  }

  val q18Sql: String =
    """SELECT n_name,
      |  CAST(sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS building,
      |  CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS automobile,
      |  CAST(sum(CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END) AS BIGINT) AS high_balance,
      |  count(*) AS total
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // q19: correlated subquery semantics — customers above their nation's
  // average balance. Spark-first: one shuffle-free window avg beats a
  // self-join re-aggregation.
  def q19(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val w = Window.partitionBy("c_nationkey")
    c.withColumn("nation_avg",
        sum(col("c_acctbal").cast("decimal(12,2)")).over(w).cast("double") /
          count(lit(1)).over(w))
      .filter(col("c_acctbal") > col("nation_avg"))
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .orderBy("c_custkey")
  }

  val q19Sql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c1
      |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
      |                          / count(*)
      |                   FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  // q20: uncorrelated scalar subquery — lines above global average
  // quantity, counted per return flag.
  def q20(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val avgQty = l.agg((sum(col("l_quantity").cast("decimal(12,2)")).cast("double") /
      count(lit(1))).as("a"))
    l.join(broadcast(avgQty))
      .filter(col("l_quantity") > col("a"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n_above_avg"))
      .orderBy("l_returnflag")
  }

  val q20Sql: String =
    """SELECT l_returnflag, count(*) AS n_above_avg FROM lineitem
      |WHERE l_quantity > (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
      |                           / count(*) FROM lineitem)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // q21: AS-OF join — for each purchase, the latest click of the same
  // user at or before the purchase. Spark-first scale shape: union the
  // two event kinds, ONE shuffle on user_id, per-partition ordered scan
  // with last(ignoreNulls) — no inequality-join blowup.
  def q21(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type")
    val tagged = ev.filter(col("event_type").isin("click", "purchase"))
      .withColumn("kind", when(col("event_type") === "click", 0).otherwise(1))
    val w = Window.partitionBy("user_id").orderBy("ts", "kind")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("click_id", last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_us", last(when(col("kind") === 0, unix_micros(col("ts"))), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("click_id").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"), col("click_id"), col("click_us"))
      .orderBy("event_id")
  }

  val q21Sql: String =
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
      |  c.event_id AS click_id, epoch_us(c.ts) AS click_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  // q22: bounded range join — clicks within the hour before each
  // purchase. Equality key (user_id) carries the shuffle; the range
  // predicate is a cheap post-filter on the joined pairs.
  def q22(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c, col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"), "left")
      .groupBy("event_id").agg(count(col("c_user")).as("n_clicks_1h"))
      .orderBy("event_id")
  }

  val q22Sql: String =
    """SELECT p.event_id, count(c.user_id) AS n_clicks_1h
      |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // q23: pivot to wide schema (explicit value list → single pass).
  def q23(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderstatus")

  val q23Sql: String =
    """SELECT o_orderstatus,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS "1-URGENT",
      |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS "2-HIGH",
      |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS "3-MEDIUM",
      |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS "4-NOT SPECIFIED",
      |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS "5-LOW"
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // q24: exact interpolated percentiles per group (sort-based; at
  // warehouse scale swap for approx_percentile — q25 covers the sketch
  // path). Inputs are exact 2-decimal doubles, interpolation is the
  // same (1-f)*lo + f*hi in both engines.
  def q24(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_quantity"), lit(0.5)).as("med_qty"),
        // one buffer for both price percentiles: each percentile agg
        // builds+merges its own value→count map, and l_extendedprice
        // has ~1M distinct values at sf0.1 — don't build that map twice
        percentile(col("l_extendedprice"), array(lit(0.25), lit(0.75))).as("p"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("med_qty"),
        col("p")(0).as("p25_price"), col("p")(1).as("p75_price"), col("n"))
      .orderBy("l_returnflag")

  val q24Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS med_qty,
      |  quantile_cont(l_extendedprice, 0.25) AS p25_price,
      |  quantile_cont(l_extendedprice, 0.75) AS p75_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // q25: sketch-based distinct counting (HLL) — the scale path where
  // exact distinct would shuffle every key.
  def q25(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select("l_returnflag", "l_partkey", "l_orderkey")
    // Exact and approx in SEPARATE aggregations: mixing countDistinct
    // with HLL buffers in one agg forces an Expand (rows × #distinct
    // cols) plus a sort-based fallback — measured 104s vs ~2s split,
    // at sf0.1. Joining two 3-row results costs nothing.
    val exact = l.groupBy("l_returnflag").agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_orderkey")).as("n_orders"))
    // rsd 0.01: the gate below is ±5% ≈ 5σ, so a red row means the
    // sketch is broken, not unlucky (default rsd 0.05 strays past
    // 5% routinely — observed 1110 vs 1096 exact at sf0.001)
    val approx = l.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
      approx_count_distinct(col("l_orderkey"), 0.01).as("ao"))
    // The HLL estimate itself can't hash-match a foreign engine, so
    // the gated surface is its ERROR BOUND: booleans that only stay
    // true (and hash-match the oracle's literal `true`) while the
    // sketch is within ±5% of exact. The exact distinct lives here
    // as the gate; the sketch is the scale path.
    exact.join(approx, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_parts"), col("n_orders"),
        (abs(col("ap") - col("n_parts")) <= col("n_parts") * 0.05).as("parts_ok"),
        (abs(col("ao") - col("n_orders")) <= col("n_orders") * 0.05).as("orders_ok"))
      .orderBy("l_returnflag")
  }

  val q25Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  true AS parts_ok, true AS orders_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // q26: the SAME as-of semantics as q21, but through the engine's
  // custom AsOfJoin operator (LogicalPlan → Strategy → sort-merge
  // SparkPlan, graft.plans.AsOfJoin) — checked against DuckDB's native
  // ASOF JOIN. One shuffle per side, single forward merge pass.
  def q26(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        unix_micros(col("ts")).as("click_us"))
    graft.plans.AsOf.join(p, c, "user_id", "c_user", "purchase_us", "click_us",
        rightTiebreak = Some("click_id"))
      .select("event_id", "user_id", "purchase_us", "click_id", "click_us")
      .orderBy("event_id")
  }

  /** q26's oracle: same semantics as q21's native-ASOF oracle but with
    * the tie rule pinned (latest ts, then greatest click id) — the
    * contract the exec's rightTiebreak enforces; native ASOF is
    * arbitrary among exact-tie rows. */
  val q26Sql: String =
    """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT * FROM events WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT p.event_id, p.user_id, p.ts AS p_ts,
      |    c.event_id AS click_id, c.ts AS c_ts,
      |    row_number() OVER (PARTITION BY p.event_id
      |                       ORDER BY c.ts DESC, c.event_id DESC) AS rn
      |  FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
      |SELECT event_id, user_id, epoch_us(p_ts) AS purchase_us,
      |  click_id, epoch_us(c_ts) AS click_us
      |FROM pairs WHERE rn = 1 ORDER BY event_id""".stripMargin

  // q27: RANGE window frame — 30-day trailing spend per customer,
  // ordered by physical time value (epoch micros), not row position.
  def q27(s: SparkSession, d: String): DataFrame = {
    val thirtyDaysUs = 30L * 86400 * 1000000
    val o = Tables.orders(s, d).filter(col("o_custkey") < 100)
      // parquet NTZ → session-TZ timestamp (UTC session = same wall clock)
      .withColumn("od_us", unix_micros(col("o_orderdate").cast("timestamp")))
    val w = Window.partitionBy("o_custkey").orderBy("od_us")
      .rangeBetween(-thirtyDaysUs, 0)
    o.select(col("o_custkey"), col("o_orderkey"), col("od_us"),
        round(sum(col("o_totalprice").cast("decimal(12,2)")).over(w), 2)
          .cast("double").as("trailing_30d"),
        count(lit(1)).over(w).as("n_orders_30d"))
      .orderBy("o_custkey", "od_us", "o_orderkey")
  }

  val q27Sql: String =
    """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS od_us,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
      |          RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW), 2)
      |    AS DOUBLE) AS trailing_30d,
      |  count(*) OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
      |          RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
      |    AS n_orders_30d
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, od_us, o_orderkey""".stripMargin

  // q28: unpivot/melt — wide → long reshaping (the inverse of q23).
  def q28(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_partkey") < 100)
      .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
        col("p_retailprice"))
      .unpivot(Array(col("p_partkey")), "measure", "value")
      .orderBy("p_partkey", "measure")

  val q28Sql: String =
    """SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
      |FROM part WHERE p_partkey < 100
      |UNION ALL
      |SELECT p_partkey, 'p_retailprice', p_retailprice
      |FROM part WHERE p_partkey < 100
      |ORDER BY p_partkey, measure""".stripMargin

  // q29: deterministic subsampling — the training-data subsampling
  // primitive. Membership = hash(row key) % 10 == 0: reproducible
  // across engines AND across cluster re-runs/retries (rand()-seeded
  // sampling is stable only for a fixed partitioning; a content hash
  // survives repartitioning, which is what a 100 TB rerun needs).
  // Bernoulli `.sample(seed)` stays covered in RelationalSpec.
  def q29(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(graft.functions.Hashing.hash56(
        concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string"))) % 10 === 0)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n_sampled"))
      .orderBy("l_returnflag")

  val q29Sql: String = {
    val h = graft.functions.Hashing.sqlHash56(
      "l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR")
    s"""SELECT l_returnflag, count(*) AS n_sampled FROM lineitem
       |WHERE $h % 10 = 0
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // q30: bag-semantics set ops (INTERSECT ALL / EXCEPT ALL) — the
  // multiplicity-preserving variants of q17.
  def q30(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val a = l.filter(col("l_quantity") >= 25).select("l_partkey")
    val b = l.filter(col("l_discount") >= 0.05).select("l_partkey")
    val c = l.filter(col("l_returnflag") === "R").select("l_partkey")
    a.intersectAll(b).exceptAll(c)
      .groupBy("l_partkey").agg(count(lit(1)).as("n"))
      .orderBy("l_partkey")
  }

  val q30Sql: String =
    """SELECT l_partkey, count(*) AS n FROM (
      |  SELECT l_partkey FROM lineitem WHERE l_quantity >= 25
      |  INTERSECT ALL
      |  SELECT l_partkey FROM lineitem WHERE l_discount >= 0.05
      |  EXCEPT ALL
      |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
      |GROUP BY 1 ORDER BY l_partkey""".stripMargin

  // q31: argmin/argmax aggregation — per customer, the orderkey of the
  // cheapest and priciest order (min_by/max_by ⇔ arg_min/arg_max).
  // Ties on price are broken deterministically by packing
  // (price-cents, orderkey) into one bigint ordering key.
  def q31(s: SparkSession, d: String): DataFrame = {
    val pack = (round(col("o_totalprice") * 100).cast("long") * 10000000L +
      col("o_orderkey")).as("pk")
    Tables.orders(s, d)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"), pack)
      .groupBy("o_custkey")
      .agg(
        min_by(col("o_orderkey"), col("pk")).as("cheapest_order"),
        max_by(col("o_orderkey"), col("pk")).as("priciest_order"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")
  }

  val q31Sql: String =
    """SELECT o_custkey,
      |  arg_min(o_orderkey, pk) AS cheapest_order,
      |  arg_max(o_orderkey, pk) AS priciest_order,
      |  count(*) AS n_orders
      |FROM (SELECT o_custkey, o_orderkey,
      |        CAST(round(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey AS pk
      |      FROM orders WHERE o_custkey < 200)
      |GROUP BY 1 ORDER BY o_custkey""".stripMargin

  // q32: datetime part extraction + seasonal aggregation.
  def q32(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mth"),
        col("o_totalprice"))
      .groupBy("yr", "qtr", "mth")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("yr", "qtr", "mth")

  val q32Sql: String =
    s"""SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
       |  month(o_orderdate) AS mth,
       |  count(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // q33: string-function surface — normalize, slice, pad, measure.
  def q33(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") < 200)
      .select(col("c_custkey"),
        upper(col("c_name")).as("uname"),
        substring(col("c_name"), 1, 8).as("prefix"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
        length(col("c_name")).as("name_len"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("padded_key"))
      .orderBy("c_custkey")

  val q33Sql: String =
    """SELECT c_custkey, upper(c_name) AS uname,
      |  substr(c_name, 1, 8) AS prefix,
      |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
      |  len(c_name) AS name_len,
      |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key
      |FROM customer WHERE c_custkey < 200 ORDER BY c_custkey""".stripMargin

  // q34: fixed-width histogram — integer bucketing of a measure, the
  // building block for distribution dashboards (exact, unlike the
  // sketch-based q24/q25 paths).
  def q34(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total"))
      .withColumn("bucket_lo", col("bucket") * 50000)
      .select("bucket", "bucket_lo", "n", "total")
      .orderBy("bucket")

  val q34Sql: String =
    s"""SELECT bucket, bucket * 50000 AS bucket_lo, n, total FROM (
       |  SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
       |    count(*) AS n, ${sqlDsum("o_totalprice")} AS total
       |  FROM orders GROUP BY 1)
       |ORDER BY bucket""".stripMargin

  // q35: navigation window functions — first/last/nth order per
  // customer over the full partition frame.
  def q35(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d).filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_order"),
        last(col("o_orderkey")).over(w).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val q35Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  first_value(o_orderkey) OVER w AS first_order,
      |  last_value(o_orderkey) OVER w AS last_order,
      |  nth_value(o_orderkey, 2) OVER w AS second_order
      |FROM orders WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // q36: SALTED two-phase aggregation over a deliberately hot key —
  // l_returnflag has 3 values over the whole fact table, the textbook
  // aggregation-skew shape (3 reducers do everything, 29 idle). The
  // salted plan (Skew.saltedCount) partial-aggs on (key, salt-of-row)
  // first, so the hot key's rows spread across `salts` tasks;
  // result-identical to the plain groupBy (decimal sums commute),
  // which is exactly what the oracle checks. Plan pinned in PlanSpec.
  def q36(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("decimal(12,2)").as("qty"))
    Skew.saltedCount(l, "l_returnflag", "qty")
      .select(col("l_returnflag"), col("n"),
        round(col("total"), 2).cast("double").as("total_qty"))
      .orderBy("l_returnflag")
  }

  val q36Sql: String =
    s"""SELECT l_returnflag, count(*) AS n, ${sqlDsum("l_quantity")} AS total_qty
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // q37: distribution-ranking window surface — ntile quartiles,
  // percent_rank, cume_dist, dense_rank over per-supplier revenue.
  // percent_rank = (rank-1)/(n-1) and cume_dist = peers/n are single
  // exact divisions of integers → bit-identical both engines (round 6
  // belt-and-braces). One shuffle on the window partition key.
  def q37(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_returnflag"),
        col("l_extendedprice").cast("decimal(14,2)").as("p"))
      .groupBy("l_returnflag", "l_suppkey")
      .agg(round(sum(col("p")), 2).cast("double").as("revenue"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("revenue").desc, col("l_suppkey"))
    rev.select(col("l_returnflag"), col("l_suppkey"), col("revenue"),
        ntile(4).over(w).as("quartile"),
        dense_rank().over(w).as("drank"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"))
      .filter(col("l_suppkey") < 50)
      .orderBy("l_returnflag", "l_suppkey")
  }

  val q37Sql: String =
    s"""SELECT * FROM (
       |  SELECT l_returnflag, l_suppkey, revenue,
       |    ntile(4) OVER w AS quartile,
       |    dense_rank() OVER w AS drank,
       |    round(percent_rank() OVER w, 6) AS prank,
       |    round(cume_dist() OVER w, 6) AS cdist
       |  FROM (
       |    SELECT l_returnflag, l_suppkey,
       |      ${sqlDsum("l_extendedprice")} AS revenue
       |    FROM lineitem GROUP BY 1, 2)
       |  WINDOW w AS (PARTITION BY l_returnflag
       |               ORDER BY revenue DESC, l_suppkey))
       |WHERE l_suppkey < 50 ORDER BY l_returnflag, l_suppkey""".stripMargin

  // q38: array-function surface over token arrays — per-doc-pair
  // overlap/difference cardinalities (order-independent outputs: the
  // engines may order array_intersect results differently, sizes are
  // deterministic). Pairs are bounded (doc_id < 20 self-join).
  def q38(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d).filter(col("doc_id") < 20)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val a = t.select(col("doc_id").as("id_a"), col("toks").as("ta"))
    val b = t.select(col("doc_id").as("id_b"), col("toks").as("tb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        size(col("ta")).as("n_a"), size(col("tb")).as("n_b"),
        size(array_intersect(col("ta"), col("tb"))).as("n_common"),
        size(array_union(col("ta"), col("tb"))).as("n_union"),
        size(array_except(col("ta"), col("tb"))).as("n_only_a"))
      .orderBy("id_a", "id_b")
  }

  val q38Sql: String =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents WHERE doc_id < 20)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  len(a.toks) AS n_a, len(b.toks) AS n_b,
      |  len(list_intersect(a.toks, b.toks)) AS n_common,
      |  len(list_distinct(list_concat(a.toks, b.toks))) AS n_union,
      |  len(list_filter(a.toks, x -> NOT list_contains(b.toks, x))) AS n_only_a
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  // q39: sketch-based quantiles — approx_percentile (Greenwald-Khanna)
  // is the scale path where q24's exact sort-based percentile would
  // spill. Same gate discipline as q25: the sketch value can't
  // hash-match a foreign engine, so the gated surface is exact
  // quantiles plus booleans asserting the sketch lands within ±1% —
  // accuracy 10000 bounds rank error at n/10000, orders of magnitude
  // tighter than that at this n, so a red row means a broken sketch.
  def q39(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_extendedprice"),
          array(lit(0.5), lit(0.9), lit(0.99))).as("ex"),
        approx_percentile(col("l_extendedprice"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ap"))
      .select(col("l_returnflag"),
        col("ex")(0).as("p50"), col("ex")(1).as("p90"), col("ex")(2).as("p99"),
        (abs(col("ap")(0) - col("ex")(0)) <= col("ex")(0) * 0.01).as("p50_ok"),
        (abs(col("ap")(1) - col("ex")(1)) <= col("ex")(1) * 0.01).as("p90_ok"),
        (abs(col("ap")(2) - col("ex")(2)) <= col("ex")(2) * 0.01).as("p99_ok"))
      .orderBy("l_returnflag")

  val q39Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_extendedprice, 0.5) AS p50,
      |  quantile_cont(l_extendedprice, 0.9) AS p90,
      |  quantile_cont(l_extendedprice, 0.99) AS p99,
      |  true AS p50_ok, true AS p90_ok, true AS p99_ok
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // q40: Pearson correlation WITHOUT the built-in corr() — built-in
  // corr sums doubles in partition order, so its last bits are not
  // reproducible across engines (or even runs). Instead: the five
  // sufficient statistics as exact decimal sums (order-independent),
  // then one fixed-order double evaluation of the closed form. Same
  // partial-agg/one-exchange plan as any groupBy; this is the
  // engine-parity discipline (Relational header) applied to second
  // moments.
  def q40(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_discount")
    val dec = (c: Column) => sum(c.cast("decimal(28,6)"))
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dec(x).as("sx"), dec(y).as("sy"),
        dec(x * x).as("sxx"), dec(y * y).as("syy"), dec(x * y).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        // decimal→double casts are correctly rounded (identical in any
        // IEEE engine); from there every op below is a fixed-order
        // double chain, so the result is bit-exact. Decimal×decimal
        // would hit the two engines' different precision-38 capping.
        corrFormula(col("n").cast("double"), col("sx").cast("double"),
          col("sy").cast("double"), col("sxx").cast("double"),
          col("syy").cast("double"), col("sxy").cast("double"))
          .as("corr_qty_disc"))
      .orderBy("l_returnflag")
  }

  private def corrFormula(n: Column, sx: Column, sy: Column,
    sxx: Column, syy: Column, sxy: Column): Column =
    (n * sxy - sx * sy) / sqrt(n * sxx - sx * sx) / sqrt(n * syy - sy * sy)

  val q40Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(CAST(l_quantity AS DECIMAL(28,6))) AS sx,
      |    sum(CAST(l_discount AS DECIMAL(28,6))) AS sy,
      |    sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS sxx,
      |    sum(CAST(l_discount * l_discount AS DECIMAL(28,6))) AS syy,
      |    sum(CAST(l_quantity * l_discount AS DECIMAL(28,6))) AS sxy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |  sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
      |  sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS corr_qty_disc
      |FROM s ORDER BY 1""".stripMargin

  // q41: heavy hitters via a Misra–Gries sketch (custom mergeable
  // TypedImperativeAggregate, k=24 counters). The stream is custkeys
  // with constructed skew: a third of the rows collapse onto 4 hot
  // keys (~8% each) over ~thousands of cold keys, so the sketch
  // must evict constantly. The MG summary's raw counters depend on
  // arrival order, so the gated surface is its ORDER-INDEPENDENT
  // guarantees: every key above N/(k+1) frequency is present, and
  // estimates sit within [exact − N/(k+1), exact]. At 100 TB this is
  // the "what are the hot keys" primitive that costs one shuffle of
  // k counters per partition instead of a full groupBy of the tail.
  def q41(s: SparkSession, d: String): DataFrame = {
    val k = 24
    val keyed = Tables.orders(s, d).select(
      when(col("o_custkey") % 3 === 0,
        concat(lit("hot"), (col("o_custkey") % 4).cast("string")))
        .otherwise(concat(lit("u"), col("o_custkey").cast("string"))).as("hk"))
    val exact = keyed.groupBy("hk").agg(count(lit(1)).as("cnt"))
    val totals = keyed.agg(count(lit(1)).as("n"))
    val sketch = keyed.agg(
      graft.functions.MisraGriesAgg.misraGries(col("hk"), k).as("mg"))
    exact.crossJoin(totals).crossJoin(sketch)
      .filter(col("cnt") > col("n") / 16.0)   // provable heavy hitters only
      .select(col("hk"), col("cnt"),
        element_at(col("mg"), col("hk")).isNotNull.as("in_sketch"),
        (col("cnt") - coalesce(element_at(col("mg"), col("hk")), lit(0L))
          <= col("n") / (k + 1).toDouble).as("bound_ok"))
      .orderBy("hk")
  }

  val q41Sql: String =
    """WITH keyed AS (
      |  SELECT CASE WHEN o_custkey % 3 = 0 THEN 'hot' || (o_custkey % 4)
      |              ELSE 'u' || o_custkey END AS hk
      |  FROM orders),
      |tot AS (SELECT count(*) AS n FROM keyed)
      |SELECT hk, count(*) AS cnt, true AS in_sketch, true AS bound_ok
      |FROM keyed, tot
      |GROUP BY hk, n HAVING count(*) > n / 16.0
      |ORDER BY hk""".stripMargin

  // q42: grouped top-k through the heap aggregate (TopKAgg) UNDER THE
  // ORACLE GATE — q09 computes top-N-per-group with a row_number
  // window (sorts every row); this computes the identical result with
  // a k-slot heap per group inside hash aggregation (no sort of the
  // fan-out, only k rows per group cross the shuffle). The heap's
  // (score DESC, id ASC) total order matches the window's, so the
  // DuckDB row_number oracle must hash-match — gating the custom
  // aggregate's exactness, not just its shape.
  def q42(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_custkey") < 300)
      .groupBy("o_custkey")
      .agg(graft.functions.TopKAgg.topK(
        col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
      .select(col("o_custkey"), posexplode(col("tk")).as(Seq("rn", "t")))
      .select(col("o_custkey"), (col("rn") + 1).cast("int").as("rank"),
        col("t.id").as("o_orderkey"),
        round(col("t.score").cast("decimal(18,2)"), 2).cast("double").as("price"))
      .orderBy("o_custkey", "rank")

  val q42Sql: String =
    """SELECT o_custkey, CAST(rank AS INT) AS rank, o_orderkey,
      |  CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS price
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders WHERE o_custkey < 300)
      |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin

  // q43: LEFT-OUTER as-of through the custom operator, with NATIVE
  // timestamp keys (the API's order-preserving long projection) — for
  // every purchase, the latest signup of the same user at or before
  // it; users who purchased before ever signing up keep the row with
  // nulls. Oracle: deterministic window formulation pinning the same
  // tie rule as the exec (latest ts, then greatest id) — native ASOF
  // is arbitrary among exact-tie rows, which would leave the
  // cross-engine compare unpinned (q21 keeps the native-ASOF oracle).
  def q43(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
    val su = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
    graft.plans.AsOf.join(p, su, "user_id", "s_user", "p_ts", "s_ts",
        joinType = "left_outer", rightTiebreak = Some("signup_id"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("p_ts")).as("purchase_us"),
        col("signup_id"), unix_micros(col("s_ts")).as("signup_us"))
      .orderBy("event_id")
  }

  val q43Sql: String =
    """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      |s AS (SELECT * FROM events WHERE event_type = 'signup'),
      |pairs AS (
      |  SELECT p.event_id, p.user_id, p.ts AS p_ts,
      |    s.event_id AS signup_id, s.ts AS s_ts,
      |    row_number() OVER (PARTITION BY p.event_id
      |                       ORDER BY s.ts DESC, s.event_id DESC) AS rn
      |  FROM p LEFT JOIN s ON p.user_id = s.user_id AND s.ts <= p.ts)
      |SELECT event_id, user_id, epoch_us(p_ts) AS purchase_us,
      |  signup_id, epoch_us(s_ts) AS signup_us
      |FROM pairs WHERE rn = 1 ORDER BY event_id""".stripMargin

  // q44: FORWARD as-of — for each signup, the user's first click
  // at-or-after it (time-to-first-action, the attribution twin of
  // q26's backward last-touch). Same custom operator; the forward
  // direction is the backward join over negated order-preserving
  // longs, so there is no second exec path to trust. Oracle:
  // deterministic window formulation (earliest ts at-or-after, then
  // greatest id among ties — the exec's tiebreak rule); native
  // forward ASOF (<=) is arbitrary among exact ties.
  def q44(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type")
    val su = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("signup_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        unix_micros(col("ts")).as("click_us"))
    graft.plans.AsOf.join(su, c, "user_id", "c_user", "signup_us", "click_us",
        direction = "forward", rightTiebreak = Some("click_id"))
      .select("event_id", "user_id", "signup_us", "click_id", "click_us")
      .orderBy("event_id")
  }

  val q44Sql: String =
    """WITH su AS (SELECT * FROM events WHERE event_type = 'signup'),
      |c AS (SELECT * FROM events WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT su.event_id, su.user_id, su.ts AS s_ts,
      |    c.event_id AS click_id, c.ts AS c_ts,
      |    row_number() OVER (PARTITION BY su.event_id
      |                       ORDER BY c.ts ASC, c.event_id DESC) AS rn
      |  FROM su JOIN c ON su.user_id = c.user_id AND c.ts >= su.ts)
      |SELECT event_id, user_id, epoch_us(s_ts) AS signup_us,
      |  click_id, epoch_us(c_ts) AS click_us
      |FROM pairs WHERE rn = 1 ORDER BY event_id""".stripMargin

  // q45: EXACT MODE per group with a PINNED tie rule (highest count,
  // then smallest value). Spark's built-in mode() and DuckDB's mode()
  // are both arbitrary among tied candidates — the same cross-engine
  // trap as the as-of ties — so both sides compute the argmax with an
  // explicit window order instead of the built-in.
  def q45(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.lineitem(s, d)
      .groupBy(col("l_linenumber"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_linenumber")
      .orderBy(col("cnt").desc, col("l_quantity"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_linenumber"), col("l_quantity").as("mode_qty"),
        col("cnt").as("mode_count"))
      .orderBy("l_linenumber")
  }

  val q45Sql: String =
    """SELECT l_linenumber, l_quantity AS mode_qty, cnt AS mode_count
      |FROM (
      |  SELECT l_linenumber, l_quantity, count(*) AS cnt,
      |    row_number() OVER (PARTITION BY l_linenumber
      |                       ORDER BY count(*) DESC, l_quantity) AS rn
      |  FROM lineitem GROUP BY 1, 2)
      |WHERE rn = 1 ORDER BY l_linenumber""".stripMargin

  // ------------------------------------------------------------------
  // q46: time-series GAP FILL (densification + carry-forward) — the
  // missing-timestamp repair every downstream window/as-of consumer
  // assumes has already happened. Per group: build the dense day
  // spine with sequence()+explode (min..max day, no driver loop),
  // left-join the actuals, then last(ignoreNulls) over an ordered
  // running frame carries the previous observation into the holes.
  // Scale: the spine is generated group-locally (one row per group in,
  // days out — no cross-group shuffle), the join is keyed on
  // (group, day), and the carry-forward window partitions by group —
  // at 100 TB the parallel unit is the group count (millions of
  // entities), not the timeline length. First spine day always has an
  // actual (the spine starts at the group's min day), so no leading
  // nulls.
  def q46(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("prio"),
        to_date(col("o_orderdate")).as("day"))
      .agg(dsum(col("o_totalprice")).as("day_rev"))
    // the gap-fill kernel lives in api.Patterns.gapFill (round-10
    // parameterization) so users run THE gated copy on their own
    // frames; this key keeps the oracle on it
    graft.api.Patterns.gapFill(base, Seq("prio"), "day", "day_rev",
        filledName = "rev_filled")
      .orderBy("prio", "day")
  }

  val q46Sql: String =
    """WITH base AS (
      |  SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
      |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
      |      AS day_rev
      |  FROM orders GROUP BY 1, 2),
      |spine AS (
      |  SELECT prio,
      |    CAST(unnest(generate_series(mind, maxd, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT prio, min(day) AS mind, max(day) AS maxd
      |        FROM base GROUP BY 1)),
      |j AS (
      |  SELECT s.prio, s.day, b.day_rev
      |  FROM spine s LEFT JOIN base b ON s.prio = b.prio AND s.day = b.day)
      |SELECT prio, day,
      |  last_value(day_rev IGNORE NULLS) OVER (PARTITION BY prio ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_filled,
      |  day_rev IS NULL AS is_filled
      |FROM j ORDER BY prio, day""".stripMargin

  /** Registry for SparkEntry. */
  // q47: ordered STRING AGGREGATION (LISTAGG / string_agg) — the
  // reporting surface that turns a group into a delimited manifest
  // (baskets, tag lists, audit trails). Engines disagree on implicit
  // aggregation order, so the contract is EXPLICIT order: sort the
  // collected items in-row (array_sort on the formatted values),
  // then join — deterministic under any partitioning, and exactly
  // what the oracle's string_agg(... ORDER BY) pins. Per-group work
  // is one collect_list; the basket strings stay bounded by the
  // order's line count.
  def q47(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 1000)
      .select(col("l_orderkey"), col("l_partkey").cast("string").as("pk"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        concat_ws(",", array_sort(collect_list(col("pk")))).as("basket"))
      .filter(col("n_items") >= 4)
      .orderBy("l_orderkey")

  val q47Sql: String =
    """SELECT l_orderkey, count(*) AS n_items,
      |  string_agg(CAST(l_partkey AS VARCHAR), ','
      |             ORDER BY CAST(l_partkey AS VARCHAR)) AS basket
      |FROM lineitem WHERE l_orderkey < 1000
      |GROUP BY 1 HAVING count(*) >= 4
      |ORDER BY l_orderkey""".stripMargin

  // q48: SCD2 TEMPORAL DIMENSION JOIN — the warehouse pattern for
  // slowly-changing dimensions: facts must join the dimension VERSION
  // valid at fact time, not today's row. Versions here are synthetic
  // SCD2 history (every customer's original segment valid from epoch;
  // every 3rd customer migrates segment on 1996-06-15), and the
  // version lookup is EXACTLY a backward as-of join on (custkey,
  // date) — the custom AsOfJoinExec with native DATE keys (q43's
  // typed-key surface): one exchange+sort per side, single merge
  // pass, no inequality-join explosion however long the version
  // history grows. The rollup shows the migration: pre-1996 orders
  // keep the original segment, later orders of migrated customers
  // land in MIGRATED.
  def q48(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    val dim = cust.select(col("c_custkey").as("ck"),
        to_date(lit("1992-01-01")).as("valid_from"),
        col("c_mktsegment").as("segment"))
      .union(cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), to_date(lit("1996-06-15")),
          lit("MIGRATED")))
    // orderdate lands as midnight-aligned TIMESTAMP_NTZ; the as-of
    // exec takes its typed keys as DATE (lossless here)
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderdate").cast("date").as("o_orderdate"))
    // through api.Patterns.scd2Join (round-10 parameterization) — the
    // user-facing SCD2 façade over the custom as-of exec
    graft.api.Patterns.scd2Join(o, dim, "o_custkey", "ck",
        "o_orderdate", "valid_from")
      .groupBy(year(col("o_orderdate")).as("o_year"), col("segment"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_year", "segment")
  }

  val q48Sql: String =
    """WITH dim AS (
      |  SELECT c_custkey AS ck, DATE '1992-01-01' AS valid_from,
      |    c_mktsegment AS segment
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, DATE '1996-06-15', 'MIGRATED'
      |  FROM customer WHERE c_custkey % 3 = 0),
      |j AS (
      |  SELECT o.o_orderkey, o.o_orderdate, d.segment,
      |    row_number() OVER (PARTITION BY o.o_orderkey
      |                       ORDER BY d.valid_from DESC) AS rn
      |  FROM orders o JOIN dim d
      |    ON o.o_custkey = d.ck AND d.valid_from <= o.o_orderdate)
      |SELECT year(o_orderdate) AS o_year, segment, count(*) AS n_orders
      |FROM j WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // q49: Z-SCORE OUTLIER detection per group — the anomaly screen
  // every metrics pipeline runs (fraud totals, sensor spikes, bad
  // loads). TPC-H totals are too uniform to produce natural 2.5σ
  // tails (measured max |z| ≈ 1.9), so anomalies are PLANTED — every
  // 500th order's price ×10, the planted-hazard discipline — and the
  // statistics are computed over the CONTAMINATED data, as a real
  // monitor must. Per market segment: exact DECIMAL sufficient
  // statistics (n, Σx, Σx²) — one shuffle, order-independent (the
  // q40 discipline) — then mean/std as a FIXED-ORDER double chain
  // and each order's z = (x − mean)/std; |z| > 2.5 flags. The stats
  // broadcast back onto the fact scan (1 row per segment), so the
  // flagging pass is map-side — no second shuffle of the facts.
  // Flagged ≡ planted (no false positives even with inflated σ)
  // pinned in RelationalSpec.
  def q49(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"))
    val seg = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val facts = o.join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("segment"),
        (col("o_totalprice").cast("double") *
          when(col("o_orderkey") % 500 === 0, 10).otherwise(1)).as("x"))
    val stats = facts.groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,6)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(28,6)")).as("sxx"))
      .select(col("segment"),
        (col("sx").cast("double") / col("n").cast("double")).as("mean"),
        sqrt((col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") /
            col("n").cast("double")) / col("n").cast("double")).as("std"))
    facts.join(broadcast(stats), Seq("segment"))
      .withColumn("z", round((col("x") - col("mean")) / col("std"), 4))
      .filter(abs(col("z")) > 2.5)
      .select("o_orderkey", "segment", "x", "z")
      .orderBy("o_orderkey")
  }

  val q49Sql: String =
    """WITH facts AS (
      |  SELECT o_orderkey, c_mktsegment AS segment,
      |    CAST(o_totalprice AS DOUBLE) *
      |      (CASE WHEN o_orderkey % 500 = 0 THEN 10 ELSE 1 END) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |stats AS (
      |  SELECT segment,
      |    CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) /
      |      CAST(count(*) AS DOUBLE) AS mean,
      |    sqrt((CAST(sum(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) -
      |      CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) *
      |        CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) /
      |        CAST(count(*) AS DOUBLE)) / CAST(count(*) AS DOUBLE)) AS std
      |  FROM facts GROUP BY 1)
      |SELECT o_orderkey, segment, x, round((x - mean) / std, 4) AS z
      |FROM facts JOIN stats USING (segment)
      |WHERE abs(round((x - mean) / std, 4)) > 2.5
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // q50: SLIDING-WINDOW DISTINCT COUNT — trailing-7-day active users
  // per day, the DAU/WAU-style rollup every product dashboard runs.
  // COUNT(DISTINCT) OVER a range window doesn't exist as a streaming
  // aggregate in either engine's window machinery at scale; the
  // distributed rewrite is contribution explosion: each (user, day)
  // activity covers the 7 window-ends [day, day+6], so distinct
  // (user, window_end) pairs count once each — two keyed shuffles
  // (dedup, then count per window end), fan-out exactly ×7, no
  // O(days × users) range join and no per-window re-scan. The oracle
  // states the semantics directly as the range join + COUNT(DISTINCT).
  def q50(s: SparkSession, d: String): DataFrame = {
    val du = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val spine = du.select("day").distinct()
    val cover = du.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .distinct()
    cover.join(spine, Seq("day"))
      .groupBy("day").agg(count(lit(1)).as("n_active_7d"))
      .orderBy("day")
  }

  val q50Sql: String =
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |spine AS (SELECT DISTINCT day FROM du)
      |SELECT s.day, count(DISTINCT u.user_id) AS n_active_7d
      |FROM spine s JOIN du u ON u.day >= s.day - 6 AND u.day <= s.day
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q51: GAPS-AND-ISLANDS interval merge — the classic hard-SQL
  // pattern behind uptime/coverage/billing queries: each event opens
  // a 10-minute activity interval; overlapping/touching intervals per
  // user merge into islands. Island detection is one window pass: an
  // interval starts a new island iff its start exceeds the running
  // max of all previous ends (strictly — touching intervals merge);
  // island id = running sum of those starts. All integer micros, so
  // the merged spans are exact cross-engine. Per user: island count,
  // covered time, longest island.
  // Scale: ONE shuffle keyed by user; both windows (running max,
  // running sum) ride the same user-keyed sort — Spark plans them in
  // a single WindowExec over one exchange. No self-joins, no
  // interval×interval blowup.
  def q51(s: SparkSession, d: String): DataFrame = {
    val span = 10L * 60 * 1000000 // 10 min in micros
    val iv = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("st"))
      .withColumn("en", col("st") + span)
    // the island kernel lives in api.Patterns.intervalMerge (round-10
    // parameterization) so users merge THEIR interval frames through
    // the gated copy; this key keeps the oracle on it
    graft.api.Patterns.intervalMerge(iv, Seq("user_id"), "st", "en")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("en") - col("st")).as("covered_us"),
        max(col("en") - col("st")).as("longest_us"))
      .orderBy("user_id")
  }

  val q51Sql: String =
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS st, epoch_us(ts) + 600000000 AS en
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, st, en,
      |    CASE WHEN max(en) OVER (PARTITION BY user_id ORDER BY st, en
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |      OR st > max(en) OVER (PARTITION BY user_id ORDER BY st, en
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS new_island
      |  FROM iv),
      |islands AS (
      |  SELECT user_id,
      |    sum(new_island) OVER (PARTITION BY user_id ORDER BY st, en
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island,
      |    st, en
      |  FROM flagged),
      |merged AS (
      |  SELECT user_id, island, min(st) AS ist, max(en) AS ien
      |  FROM islands GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_islands,
      |  sum(ien - ist)::BIGINT AS covered_us,
      |  max(ien - ist)::BIGINT AS longest_us
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q52: WEIGHTED MEDIAN per group — the robust-statistics aggregate
  // (median price weighted by traded quantity: "the price at which
  // half the VOLUME cleared", not half the line items). No engine has
  // it built in; the distributed form is the textbook two-window
  // rewrite: collapse to (group, value) weight sums, one group-keyed
  // cumulative window over value order, pick the smallest value whose
  // cumulative weight reaches half the total (2·cum ≥ total — integer
  // comparison, no division). Quantities are integral doubles → exact
  // longs; the median PRICE is selected, never arithmetically mixed,
  // so no float math enters the gate at all.
  // Scale: one (group,value) agg shuffle + one group-keyed window
  // sharing the same exchange; groups are the parallel unit — the
  // q24 exact-percentile shape without interpolation.
  def q52(s: SparkSession, d: String): DataFrame = {
    val byVal = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice").as("price"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("l_returnflag", "price")
      .agg(sum(col("qty")).as("w"))
    val cumW = Window.partitionBy("l_returnflag").orderBy("price")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy("l_returnflag")
    byVal
      .withColumn("cw", sum(col("w")).over(cumW))
      .withColumn("tw", sum(col("w")).over(totW))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("l_returnflag")
      .agg(min(col("price")).as("w_median"),
        min(col("tw")).cast("long").as("total_weight"))
      .orderBy("l_returnflag")
  }

  val q52Sql: String =
    """WITH byval AS (
      |  SELECT l_returnflag, l_extendedprice AS price,
      |    sum(CAST(l_quantity AS BIGINT)) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |cum AS (
      |  SELECT l_returnflag, price,
      |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY price
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cw,
      |    sum(w) OVER (PARTITION BY l_returnflag)::BIGINT AS tw
      |  FROM byval)
      |SELECT l_returnflag, min(price) AS w_median,
      |  min(tw)::BIGINT AS total_weight
      |FROM cum WHERE cw * 2 >= tw
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------
  // q53: MAD (median-absolute-deviation) robust outlier screen — the
  // robust companion to q49's z-score monitor. q49 documents its own
  // masking hazard: the planted ×10 anomalies inflate the
  // contaminated mean/std, so a big outlier can hide a smaller one.
  // Median and MAD have a 50% breakdown point — the same plants leave
  // them untouched — so the modified z-score rz = 0.6745·(x−med)/MAD
  // (Iglewicz–Hoberg) has ZERO false positives on the uniform
  // naturals (natural |rz| tops out ≈1.35 < 3.5) and catches every
  // plant whose inflated value actually leaves the natural range —
  // no plant can mask another (a plant landing INSIDE the natural
  // range is invisible to any screen; RelationalSpec pins both
  // properties). Both medians are exact
  // VALUE SELECTIONS (q52's discipline: smallest value with
  // 2·cum ≥ n — integer comparison, never interpolation), and rz is
  // one fixed-order IEEE expression on identical doubles — bit-exact
  // cross-engine with a 4dp round only at the boundary.
  // Scale: per-median work is a (segment, value) pre-agg + one
  // segment-keyed cumulative window (both shuffles keyed by segment /
  // near-uniform value), med/MAD are 5-row broadcast dims back onto
  // the fact scan — flagging is map-side, the q49 shape with two
  // extra tiny windows. Facts re-derive per stage (orders scan ×3);
  // at 100 TB the facts table is the cached artifact.
  private def q53Facts(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"))
    val seg = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    o.join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("segment"),
        (col("o_totalprice").cast("double") *
          when(col("o_orderkey") % 500 === 0, 10).otherwise(1)).as("x"))
  }

  /** Exact lower median of `valueCol` per segment (q52 selection with
    * unit weights): smallest value whose cumulative count doubles past
    * the total. */
  private def q53Median(facts: DataFrame, valueCol: String, out: String): DataFrame = {
    val cumW = Window.partitionBy("segment").orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy("segment")
    facts.groupBy(col("segment"), col(valueCol))
      .agg(count(lit(1)).as("w"))
      .withColumn("cw", sum(col("w")).over(cumW))
      .withColumn("tw", sum(col("w")).over(totW))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("segment")
      .agg(min(col(valueCol)).as(out))
  }

  def q53(s: SparkSession, d: String): DataFrame = {
    val facts = q53Facts(s, d)
    val med = q53Median(facts, "x", "med")
    val mad = q53Median(
      facts.join(broadcast(med), Seq("segment"))
        .select(col("segment"), abs(col("x") - col("med")).as("ad")),
      "ad", "mad")
    facts.join(broadcast(med), Seq("segment"))
      .join(broadcast(mad), Seq("segment"))
      .withColumn("rz",
        round(lit(0.6745) * (col("x") - col("med")) / col("mad"), 4))
      .filter(abs(col("rz")) > 3.5)
      .select("o_orderkey", "segment", "x", "med", "mad", "rz")
      .orderBy("o_orderkey")
  }

  val q53Sql: String =
    """WITH facts AS (
      |  SELECT o_orderkey, c_mktsegment AS segment,
      |    CAST(o_totalprice AS DOUBLE) *
      |      (CASE WHEN o_orderkey % 500 = 0 THEN 10 ELSE 1 END) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |medc AS (
      |  SELECT segment, x,
      |    sum(cnt) OVER (PARTITION BY segment ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    sum(cnt) OVER (PARTITION BY segment) AS tw
      |  FROM (SELECT segment, x, count(*) AS cnt FROM facts GROUP BY 1, 2)),
      |med AS (SELECT segment, min(x) AS med FROM medc
      |        WHERE cw * 2 >= tw GROUP BY 1),
      |devs AS (
      |  SELECT f.segment, abs(f.x - m.med) AS ad
      |  FROM facts f JOIN med m USING (segment)),
      |madc AS (
      |  SELECT segment, ad,
      |    sum(cnt) OVER (PARTITION BY segment ORDER BY ad
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    sum(cnt) OVER (PARTITION BY segment) AS tw
      |  FROM (SELECT segment, ad, count(*) AS cnt FROM devs GROUP BY 1, 2)),
      |mad AS (SELECT segment, min(ad) AS mad FROM madc
      |        WHERE cw * 2 >= tw GROUP BY 1)
      |SELECT o_orderkey, segment, x, med, mad,
      |  round(0.6745 * (x - med) / mad, 4) AS rz
      |FROM facts JOIN med USING (segment) JOIN mad USING (segment)
      |WHERE abs(round(0.6745 * (x - med) / mad, 4)) > 3.5
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------------
  // q54: NEAREST as-of join — the third direction of the as-of family
  // (q21/q26 backward, q44 forward): for every signup, the click
  // closest in time in EITHER direction, ties (equal distance) to the
  // backward match — the sensor-alignment semantics (pair each
  // reading with the nearest reference sample, pandas merge_asof
  // direction='nearest'). Composed from TWO passes of the custom
  // AsOfJoinExec (backward + forward, both left_outer so loners
  // survive) merged by one event-keyed comparison — no inequality
  // join, no per-left candidate scan; each pass is the exec's
  // one-exchange-one-sort-per-side merge. The tie ladder is fully
  // pinned (distance, then backward-over-forward, then greatest
  // click id — the exec's rightTiebreak), so the oracle's direct
  // formulation (rank all candidate clicks by the same ladder) must
  // agree row-for-row, nulls included.
  def q54(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "ts", "user_id", "event_type")
    val su = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("signup_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        unix_micros(col("ts")).as("click_us"))
    val back = graft.plans.AsOf.join(su, c, "user_id", "c_user",
        "signup_us", "click_us", joinType = "left_outer",
        rightTiebreak = Some("click_id"))
      .select(col("event_id"), col("user_id"), col("signup_us"),
        col("click_id").as("b_id"), col("click_us").as("b_us"))
    val fwd = graft.plans.AsOf.join(su, c, "user_id", "c_user",
        "signup_us", "click_us", joinType = "left_outer",
        direction = "forward", rightTiebreak = Some("click_id"))
      .select(col("event_id").as("f_eid"),
        col("click_id").as("f_id"), col("click_us").as("f_us"))
    back.join(fwd, col("event_id") === col("f_eid"))
      .withColumn("db", col("signup_us") - col("b_us"))
      .withColumn("df", col("f_us") - col("signup_us"))
      .withColumn("pick_b",
        col("b_us").isNotNull && (col("f_us").isNull || col("db") <= col("df")))
      .select(col("event_id"), col("user_id"), col("signup_us"),
        when(col("pick_b"), col("b_id")).otherwise(col("f_id")).as("click_id"),
        when(col("pick_b"), col("b_us")).otherwise(col("f_us")).as("click_us"),
        when(col("pick_b"), col("db")).otherwise(col("df")).as("delta_us"),
        when(col("pick_b"), lit("backward"))
          .when(col("f_us").isNotNull, lit("forward")).as("dir"))
      .orderBy("event_id")
  }

  val q54Sql: String =
    """WITH su AS (SELECT * FROM events WHERE event_type = 'signup'),
      |c AS (SELECT * FROM events WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT su.event_id,
      |    c.event_id AS click_id, epoch_us(c.ts) AS click_us,
      |    abs(epoch_us(c.ts) - epoch_us(su.ts)) AS delta_us,
      |    CASE WHEN c.ts <= su.ts THEN 'backward' ELSE 'forward' END AS dir,
      |    row_number() OVER (PARTITION BY su.event_id
      |      ORDER BY abs(epoch_us(c.ts) - epoch_us(su.ts)),
      |        CASE WHEN c.ts <= su.ts THEN 0 ELSE 1 END,
      |        c.event_id DESC) AS rn
      |  FROM su JOIN c ON su.user_id = c.user_id)
      |SELECT s2.event_id, s2.user_id, epoch_us(s2.ts) AS signup_us,
      |  p.click_id, p.click_us, p.delta_us, p.dir
      |FROM su s2 LEFT JOIN pairs p ON s2.event_id = p.event_id AND p.rn = 1
      |ORDER BY s2.event_id""".stripMargin

  // ------------------------------------------------------------------
  // q55: BOOTSTRAP CONFIDENCE INTERVAL — the statistical-rigor op
  // behind every metric dashboard ("corpus mean quality is 0.61 —
  // plus or minus WHAT?"): the Poisson bootstrap (Chamandy et al.,
  // the resampling scheme that works on distributed data because each
  // row draws its replicate weight independently — no global
  // multinomial). True RNG is ungateable, so replicate weights are
  // HASH-DERIVED: w(doc, b) inverts the Poisson(1) CDF on integer
  // thresholds of hash56(doc#b) mod 10⁶ — exact integer comparisons,
  // bit-identical in both engines (the g10/t19 determinism rule).
  // Per replicate the weighted mean uses the t14 discipline
  // (6dp-rounded per-doc quality × integer weight summed as DECIMAL,
  // one closing division); the CI is an EXACT ORDER-STATISTIC
  // selection over the B=40 replicate means (ranks 2 and 39 — the
  // q52 value-selection rule, never interpolation). Scale: the ×B
  // fan-out is map-side (explode before the replicate-keyed agg);
  // B tiny rows do the final selection. Coverage sanity (point inside
  // CI, CI brackets have width) pinned in RelationalSpec.
  private val BOOT_B = 40
  // P(Poisson(1) <= k) · 1e6 for k = 0..3
  private val POIS = Seq(367879L, 735759L, 919699L, 981012L)

  def q55(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextNorm.tokens(col("text"))
    val stopArr = array(TextOps.stopwords.map(lit): _*)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), size(toks).as("n_tokens"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"))
      .withColumn("q6",
        round(least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.5 +
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * 0.5, 6))
    val point = docs.agg(
      round(sum(col("q6").cast("decimal(18,6)")).cast("double") /
        count(lit(1)), 6).as("point"))
    val weighted = docs
      .select(col("doc_id"), col("q6"),
        explode(sequence(lit(0), lit(BOOT_B - 1))).as("b"))
      .withColumn("m",
        graft.functions.Hashing.hash56(
          concat(col("doc_id").cast("string"), lit("#"), col("b").cast("string")))
          % 1000000L)
      .withColumn("w",
        when(col("m") < POIS(0), 0L).when(col("m") < POIS(1), 1L)
          .when(col("m") < POIS(2), 2L).when(col("m") < POIS(3), 3L)
          .otherwise(4L))
      .groupBy("b")
      .agg(round(sum((col("q6") * col("w")).cast("decimal(18,6)")).cast("double") /
        sum(col("w")), 6).as("mean_b"))
    val wOrd = Window.orderBy("mean_b", "b")
    val ci = weighted.withColumn("rn", row_number().over(wOrd))
      .agg(max(when(col("rn") === 2, col("mean_b"))).as("ci_lo"),
        max(when(col("rn") === BOOT_B - 1, col("mean_b"))).as("ci_hi"),
        count(lit(1)).as("n_replicates"))
    point.crossJoin(broadcast(ci))
      .select(col("point"), col("ci_lo"), col("ci_hi"), col("n_replicates"))
  }

  val q55Sql: String = {
    val toksE = "regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+')"
    val stopList = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    round(least(1.0, CAST(len($toksE) AS DOUBLE) / 100.0) * 0.5 +
       |      (1.0 - CAST(len(list_filter($toksE, t -> list_contains($stopList, t)))
       |        AS DOUBLE) / len($toksE)) * 0.5, 6) AS q6
       |  FROM documents),
       |pt AS (
       |  SELECT round(CAST(sum(q6::DECIMAL(18,6)) AS DOUBLE) / count(*), 6)
       |    AS point FROM docs),
       |wts AS (
       |  SELECT b, q6,
       |    CASE WHEN m < ${POIS(0)} THEN 0 WHEN m < ${POIS(1)} THEN 1
       |         WHEN m < ${POIS(2)} THEN 2 WHEN m < ${POIS(3)} THEN 3
       |         ELSE 4 END AS w
       |  FROM (
       |    SELECT d.q6, r.range AS b,
       |      ${graft.functions.Hashing.sqlHash56("d.doc_id || '#' || r.range")} % 1000000 AS m
       |    FROM docs d CROSS JOIN range($BOOT_B) r)),
       |means AS (
       |  SELECT b,
       |    round(CAST(sum((q6 * w)::DECIMAL(18,6)) AS DOUBLE) /
       |      CAST(sum(w) AS BIGINT), 6) AS mean_b
       |  FROM wts GROUP BY 1),
       |ranked AS (
       |  SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn FROM means),
       |ci AS (
       |  SELECT max(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
       |    max(CASE WHEN rn = ${BOOT_B - 1} THEN mean_b END) AS ci_hi,
       |    count(*) AS n_replicates
       |  FROM ranked)
       |SELECT point, ci_lo, ci_hi, n_replicates FROM pt CROSS JOIN ci""".stripMargin
  }

  // q56: HIERARCHICAL ROLLUP (BOM/org-chart subtree aggregation —
  // the recursive-hierarchy query class): parts form a decimal-trie
  // tree (parent = partkey div 10), and each internal node's subtree
  // mass is the sum over ALL descendants. The recursion is flattened
  // into a closed form — every part explodes into its ≤7 ancestor
  // prefixes, then ONE keyed agg per ancestor — so the plan is a
  // bounded map-side fan-out + one shuffle instead of a depth-many
  // iterative join (the 100 TB shape; the oracle walks the same
  // ancestor list). Money in exact DECIMAL(12,2) cents; top-50 nodes
  // under the (mass DESC, node) ladder.
  def q56(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice").cast("decimal(12,2)").as("price"))
    val anc = p.select(explode(sequence(lit(0), lit(6))).as("k"),
        col("p_partkey"), col("price"))
      .withColumn("node", expr("p_partkey div cast(pow(10, k) as long)"))
      .filter(col("node") > 0)
    anc.groupBy("node")
      .agg(count(lit(1)).as("n_desc"),
        sum(col("price")).as("subtree_price"),
        max(when(col("k") === 0, col("price"))).as("own_price"))
      .withColumn("is_leaf", col("n_desc") === 1)
      .select(col("node"), col("n_desc"),
        col("subtree_price").cast("double").as("subtree_price"),
        coalesce(col("own_price"), lit(BigDecimal(0)).cast("decimal(12,2)"))
          .cast("double").as("own_price"), col("is_leaf"))
      .orderBy(col("subtree_price").desc, col("node"))
      .limit(50)
  }

  val q56Sql: String =
    """WITH anc AS (
      |  SELECT p_partkey // power(10, k)::BIGINT AS node, k,
      |    CAST(p_retailprice AS DECIMAL(12,2)) AS price
      |  FROM part, unnest(range(0, 7)) AS t(k)
      |  WHERE p_partkey // power(10, k)::BIGINT > 0)
      |SELECT node, count(*) AS n_desc,
      |  CAST(sum(price) AS DOUBLE) AS subtree_price,
      |  CAST(coalesce(max(CASE WHEN k = 0 THEN price END),
      |                0::DECIMAL(12,2)) AS DOUBLE) AS own_price,
      |  count(*) = 1 AS is_leaf
      |FROM anc GROUP BY 1
      |ORDER BY subtree_price DESC, node LIMIT 50""".stripMargin

  // ------------------------------------------------------------------
  // q57: INTERVAL OVERLAP JOIN via grid bucketing — the interval×
  // interval join class (ad attribution windows × incident windows;
  // q22/q48 join a POINT against an interval, this joins interval
  // against interval). Naive form is an inequality join the planner
  // can only nested-loop; the distributed rewrite buckets time into
  // grid cells of the interval width so candidates meet on an
  // EQUI-key: each interval touches ≤2 cells, and a pair is counted
  // in exactly ONE cell — the cell containing the overlap start
  // (greatest of the two starts lies inside both intervals by
  // definition) — so no post-join distinct is needed, the dedup that
  // usually makes bucketed interval joins shuffle twice.
  // A = per-purchase attribution windows [ts−30min, ts); B = per-
  // error incident windows [ts, ts+30min), same user. All integer
  // micros; overlap = least(ends) − greatest(starts).
  // Scale: fan-out ≤2× per side, ONE (user, cell) equi-shuffle, then
  // a user-keyed agg; the oracle states the inequality-join semantics
  // directly.
  def q57(s: SparkSession, d: String): DataFrame = {
    val W = 1800000000L // 30-min grid = the interval width, micros
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val a = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("a_id"), col("user_id"),
        (col("us") - W).as("a_s"), col("us").as("a_e"))
      .withColumn("cell", explode(sequence(
        expr(s"a_s div ${W}L"), expr(s"(a_e - 1) div ${W}L"))))
    val b = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("us").as("b_s"), (col("us") + W).as("b_e"))
      .withColumn("b_cell", explode(sequence(
        expr(s"b_s div ${W}L"), expr(s"(b_e - 1) div ${W}L"))))
    a.join(b, col("user_id") === col("b_user") && col("cell") === col("b_cell")
        && col("a_s") < col("b_e") && col("b_s") < col("a_e")
        && col("cell") === expr(s"greatest(a_s, b_s) div ${W}L"))
      .withColumn("ov_us", least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), sum(col("ov_us")).as("sum_ov_us"))
      .orderBy("user_id")
  }

  val q57Sql: String =
    """SELECT a.user_id, count(*) AS n_pairs,
      |  CAST(sum(least(a.a_e, b.b_e) - greatest(a.a_s, b.b_s)) AS BIGINT)
      |    AS sum_ov_us
      |FROM (SELECT event_id, user_id, epoch_us(ts) - 1800000000 AS a_s,
      |        epoch_us(ts) AS a_e
      |      FROM events WHERE event_type = 'purchase') a
      |JOIN (SELECT user_id AS b_user, epoch_us(ts) AS b_s,
      |        epoch_us(ts) + 1800000000 AS b_e
      |      FROM events WHERE event_type = 'error') b
      |  ON a.user_id = b.b_user AND a.a_s < b.b_e AND b.b_s < a.a_e
      |GROUP BY 1 ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // q58: REAGGREGABLE DISTINCT-COUNT SKETCH ROLLUP (Apache
  // DataSketches HLL via hll_sketch_agg/hll_union_agg — the pattern
  // behind every pre-aggregated OLAP cube: exact COUNT(DISTINCT) is
  // NOT reaggregable, so a nation-level rollup can never answer a
  // region-level distinct question; a mergeable sketch can. Build the
  // sketch ONCE per nation (the stored fine-grain artifact — at
  // 100 TB this is the only corpus-scale pass), then answer region
  // and global questions by UNIONING the 25 nation sketches — a
  // metadata-sized merge, no fact re-scan. q25 showed the one-shot
  // approx_count_distinct; this is the build-once/merge-many
  // lifecycle that makes sketches an INDEX rather than a query.
  // Gate: the estimate itself is engine-specific (DataSketches
  // hashing), so the hash-gated columns are the EXACT distinct counts
  // (oracle-checkable) plus the est_ok boolean contract —
  // 20·|est − exact| ≤ exact, i.e. within 5% (lgK=12 ⇒ ~1.6% RSE;
  // 5% is ≥3σ — deterministic for this data, honest at any SF). The
  // exact side exists only for the gate; production serves the
  // estimate. Distance-to-bound pinned in RelationalSpec.
  def q58(s: SparkSession, d: String): DataFrame = {
    val facts = Tables.orders(s, d).select("o_custkey")
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)
        .select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey").cast("long").as("region"),
        col("c_nationkey").as("nation"), col("c_custkey").as("cust"))
    val natSk = facts.groupBy("region", "nation")
      .agg(hll_sketch_agg(col("cust"), lit(12)).as("sk"))
    val regEst = natSk.groupBy("region")
      .agg(hll_union_agg(col("sk")).as("sk"))
      .union(natSk.select(lit(-1L).cast("long").as("region"), col("sk"))
        .groupBy("region").agg(hll_union_agg(col("sk")).as("sk")))
      .select(col("region"), hll_sketch_estimate(col("sk")).as("est"))
    val exact = facts.groupBy("region")
      .agg(count_distinct(col("cust")).as("n_exact"))
      .union(facts.select(lit(-1L).cast("long").as("region"), col("cust"))
        .groupBy("region").agg(count_distinct(col("cust")).as("n_exact")))
    exact.join(regEst, Seq("region"))
      .withColumn("est_ok",
        abs(col("est") - col("n_exact")) * 20 <= col("n_exact"))
      .select("region", "n_exact", "est_ok")
      .orderBy("region")
  }

  val q58Sql: String =
    """WITH facts AS (
      |  SELECT n_regionkey AS region, c_custkey AS cust
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |SELECT region, n_exact, TRUE AS est_ok FROM (
      |  SELECT region::BIGINT AS region, count(DISTINCT cust) AS n_exact
      |  FROM facts GROUP BY 1
      |  UNION ALL
      |  SELECT -1, count(DISTINCT cust) FROM facts)
      |ORDER BY region""".stripMargin

  // ------------------------------------------------------------------
  // q59: CHI-SQUARE TEST OF INDEPENDENCE over a contingency table —
  // the categorical-association test every analytics engine ships
  // ("is order priority independent of order status?"): cells =
  // priority × status counts, expected E = row·col/N, χ² =
  // Σ (O−E)²/E = Σ (O·N − row·col)²/(N·row·col). Engine parity: all
  // marginals are EXACT integer aggregates; each cell's contribution
  // is ONE fixed-order IEEE chain over doubles that are exact images
  // of those integers (|O·N| < 2^53 up to SF well beyond the sweep),
  // rounded 6dp and summed as DECIMAL — order-independent, bit-equal
  // cross-engine (the q40/q53 discipline). The grid is rows×cols
  // COMPLETE (a zero cell still owes its E), dof and Cramér's V are
  // data-derived, and the verdict compares χ² to the α=0.05 critical
  // value for the observed dof=8 (15.507, Pearson table; dof==8
  // pinned in RelationalSpec so a data change can't silently misuse
  // the constant). Scale: one map-side-partial groupBy on the fact
  // scan; everything after is 15-row × 1-row-broadcast algebra — the
  // fact table is touched exactly once.
  def q59(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.orders(s, d)
      .select(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
      .groupBy("pri", "st").agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy("pri").agg(sum("obs").as("row_tot"))
    val colTot = cells.groupBy("st").agg(sum("obs").as("col_tot"))
    val tot = cells.agg(sum("obs").as("n"),
      count_distinct(col("pri")).as("r"), count_distinct(col("st")).as("c"))
    val grid = rowTot.crossJoin(colTot)
      .join(cells, Seq("pri", "st"), "left").na.fill(0L, Seq("obs"))
      .crossJoin(broadcast(tot))
    val diff = (col("obs") * col("n") - col("row_tot") * col("col_tot"))
      .cast("double")
    val den = (col("n") * col("row_tot") * col("col_tot")).cast("double")
    val contrib = grid.withColumn("contrib",
      round(diff * diff / den, 6).cast("decimal(18,6)"))
    val wTop = Window.orderBy(col("contrib").desc, col("pri"), col("st"))
    contrib.withColumn("rn", row_number().over(wTop))
      .agg(max(col("n")).as("n"),
        max((col("r") - 1) * (col("c") - 1)).as("dof"),
        max(least(col("r"), col("c")) - 1).as("mindim"),
        sum(col("contrib")).cast("double").as("chi2"),
        max(when(col("rn") === 1, col("pri"))).as("top_pri"),
        max(when(col("rn") === 1, col("st"))).as("top_st"))
      .withColumn("cramers_v",
        round(sqrt(col("chi2") /
          (col("n") * col("mindim")).cast("double")), 4))
      .withColumn("signif", col("chi2") > lit(15.507))
      .select("n", "dof", "chi2", "cramers_v", "signif", "top_pri", "top_st")
  }

  val q59Sql: String =
    """WITH cells AS (
      |  SELECT o_orderpriority AS pri, o_orderstatus AS st, count(*) AS obs
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT pri, sum(obs) AS row_tot FROM cells GROUP BY 1),
      |ct AS (SELECT st, sum(obs) AS col_tot FROM cells GROUP BY 1),
      |tot AS (SELECT sum(obs) AS n, count(DISTINCT pri) AS r,
      |          count(DISTINCT st) AS c FROM cells),
      |grid AS (
      |  SELECT rt.pri, ct.st, coalesce(cells.obs, 0) AS obs,
      |    rt.row_tot, ct.col_tot, tot.n, tot.r, tot.c
      |  FROM rt CROSS JOIN ct
      |  LEFT JOIN cells ON cells.pri = rt.pri AND cells.st = ct.st
      |  CROSS JOIN tot),
      |contribs AS (
      |  SELECT *,
      |    CAST(round(
      |      CAST(obs * n - row_tot * col_tot AS DOUBLE) *
      |      CAST(obs * n - row_tot * col_tot AS DOUBLE) /
      |      CAST(n * row_tot * col_tot AS DOUBLE), 6) AS DECIMAL(18,6))
      |      AS contrib,
      |    row_number() OVER (ORDER BY
      |      CAST(round(
      |        CAST(obs * n - row_tot * col_tot AS DOUBLE) *
      |        CAST(obs * n - row_tot * col_tot AS DOUBLE) /
      |        CAST(n * row_tot * col_tot AS DOUBLE), 6) AS DECIMAL(18,6)) DESC,
      |      pri, st) AS rn
      |  FROM grid)
      |SELECT CAST(max(n) AS BIGINT) AS n,
      |  CAST(max((r - 1) * (c - 1)) AS BIGINT) AS dof,
      |  CAST(sum(contrib) AS DOUBLE) AS chi2,
      |  round(sqrt(CAST(sum(contrib) AS DOUBLE) /
      |    CAST(max(n) * (least(max(r), max(c)) - 1) AS DOUBLE)), 4)
      |    AS cramers_v,
      |  CAST(sum(contrib) AS DOUBLE) > 15.507 AS signif,
      |  max(CASE WHEN rn = 1 THEN pri END) AS top_pri,
      |  max(CASE WHEN rn = 1 THEN st END) AS top_st
      |FROM contribs""".stripMargin

  // ------------------------------------------------------------------
  // q60: EXPONENTIALLY WEIGHTED MOVING AVERAGE (the time-series
  // smoother behind every metrics dashboard and anomaly baseline):
  // EWMA's textbook form is RECURSIVE (s_t = αx_t + (1−α)s_{t−1}) —
  // inexpressible as a window function and inherently sequential; the
  // distributed rewrite expands it to the weighted sum
  // Σ_k 2^-(k+1)·x_{t−k} truncated at 32 lags (α = 1/2; the tail
  // beyond 32 is < 2^-32 of the signal), normalized over the weights
  // actually PRESENT so series heads aren't biased low. Engine
  // parity: the 32 weights are exact powers of two; the sums are
  // FIXED-ORDER left-folded expression trees written identically in
  // both engines (and ·2^-k is an exponent shift — exact), one
  // closing division, 6dp. Scale: all 64 lag terms share ONE
  // nation-keyed window exchange (Catalyst dedups the lag frames);
  // monthly grain per nation, map-side partial agg under it.
  private val EWMA_LAGS = 32

  def q60(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(round(sum(col("o_totalprice").cast("decimal(14,2)")), 2)
        .cast("double").as("rev"))
    val w = Window.partitionBy("nation").orderBy("month")
    val num = (0 until EWMA_LAGS).map { k =>
      coalesce(lag(col("rev"), k).over(w), lit(0.0)) *
        lit(math.pow(2.0, -(k + 1)))
    }.reduce(_ + _)
    val den = (0 until EWMA_LAGS).map { k =>
      when(lag(col("rev"), k).over(w).isNotNull,
        lit(math.pow(2.0, -(k + 1)))).otherwise(lit(0.0))
    }.reduce(_ + _)
    monthly.withColumn("ewma", round(num / den, 6))
      .select("nation", "month", "rev", "ewma")
      .orderBy("nation", "month")
  }

  val q60Sql: String = {
    def wgt(k: Int): String = math.pow(2.0, -(k + 1)).toString
    val num = (0 until EWMA_LAGS).map(k =>
      s"coalesce(lag(rev, $k) OVER w, 0.0) * ${wgt(k)}").mkString(" + ")
    val den = (0 until EWMA_LAGS).map(k =>
      s"(CASE WHEN lag(rev, $k) OVER w IS NOT NULL THEN ${wgt(k)} " +
        "ELSE 0.0 END)").mkString(" + ")
    s"""WITH monthly AS (
       |  SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m') AS month,
       |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
       |      AS rev
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1, 2)
       |SELECT nation, month, rev,
       |  round(($num) / ($den), 6) AS ewma
       |FROM monthly
       |WINDOW w AS (PARTITION BY nation ORDER BY month)
       |ORDER BY nation, month""".stripMargin
  }

  // ------------------------------------------------------------------
  // q61: RUNTIME BLOOM-FILTER SEMI-JOIN REDUCTION (the other join-side
  // pruning lever beside broadcast: when a selective dim filter can't
  // broadcast, Spark can still build a bloom filter of the surviving
  // join keys and apply it to the fact side BEFORE its shuffle — at
  // 100 TB that turns "shuffle every lineitem row, discard 97% at the
  // join" into "discard 97% at the scan"). The urgent+expensive orders
  // filter survives ~3% of orders; with broadcast disabled (the
  // too-big-dim scenario this optimization exists for) Catalyst
  // injects BloomFilterAggregate on the orders side and
  // might_contain(l_orderkey) under the lineitem shuffle. The
  // injection is pinned INSIDE the hash gate: bloom_injected is
  // derived from the optimized plan and the oracle pins TRUE — a conf
  // regression or a plan shape that stops qualifying flips the row
  // red. Execution is forced by Pin.cut while the confs are
  // still in place, so the EXECUTED plan carries the filter too.
  // Bloom passes are a superset of true matches (false positives only
  // cost shuffle bytes, never rows), so the gated rollup is exactly
  // the plain join's.
  def q61(s: SparkSession, d: String): DataFrame = {
    // NOTE: mutates session confs for the duration of the call
    // (restored in finally) — assumes the driver-contract execution
    // model where queries run sequentially on the session; a
    // concurrent query planned during this window would see the
    // altered thresholds. Concurrent embedders should call this on
    // s.newSession().
    val confs = Seq(
      // force the non-broadcast path the bloom filter exists for
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // local testdata is far below the 10GB default meant to spare
      // small scans; at cluster scale the defaults fire on their own
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64MB")
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 150000.0)
        .select("o_orderkey", "o_orderdate")
      val l = Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val agg = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") -
              col("l_discount").cast("decimal(12,2)"))), 2)
            .cast("double").as("revenue"))
      val bloomed = agg.queryExecution.optimizedPlan.toString
        .contains("might_contain")
      Pin.cut(agg)
        .withColumn("bloom_injected", lit(bloomed))
        .orderBy("o_year")
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  val q61Sql: String =
    """SELECT year(o_orderdate) AS o_year, count(*) AS n_items,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))), 2)
      |    AS DOUBLE) AS revenue,
      |  true AS bloom_injected
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q62: CLASSICAL SEASONAL DECOMPOSITION (additive X-11 ancestor —
  // the first thing a forecaster does to a monthly series; q60 smooths,
  // this SPLITS rev = trend + seasonal + remainder): trend is the
  // textbook 2×12 centered moving average — at month t,
  // (x_{t−6}/2 + Σ_{−5..+5} x + x_{t+6}/2)/12, defined only on
  // complete 13-month frames; seasonal index = per month-of-year mean
  // of the detrended series; the remainder closes the identity.
  // Engine parity: the decomposition is gated as EXACT RATIONALS in
  // cents×24 units — trend24 = 2·Σ₁₁ + lag₆ + lead₆ (all-integer, no
  // fractional weights), detr24 = 24·rev − trend24, seasonal as the
  // (Σ detr24, count) pair. A rounded-double gate fails here: the
  // seasonal mean divides a 6dp decimal by a small count, which lands
  // EXACT 7dp ties where Spark (BigDecimal half-up on the true binary
  // value) and DuckDB (scaled-multiply rounding) legitimately part
  // ways — measured at sf0.1. Rationals have no closing division to
  // tie. Scale: grain drops to nation×month map-side under the fact
  // scan; all frames share ONE nation-keyed exchange; the seasonal
  // join is a 25×12 broadcast. Decomposes the OBSERVED month sequence
  // (gap-fill is q46's job).
  def q62(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
        .cast("long").as("rev_cents"))
    val w = Window.partitionBy("nation").orderBy("month")
    val sum11 = sum(col("rev_cents")).over(w.rowsBetween(-5, 5))
    val cnt13 = count(col("rev_cents")).over(w.rowsBetween(-6, 6))
    val trend24 = when(cnt13 === 13,
      lit(2) * sum11 + lag(col("rev_cents"), 6).over(w) +
        lead(col("rev_cents"), 6).over(w))
    val detrended = monthly
      .withColumn("trend24", trend24)
      .withColumn("detr24", col("rev_cents") * 24 - col("trend24"))
      .withColumn("moy", substring(col("month"), 6, 2))
      // nation×month grain; feeds both the seasonal-index agg and the
      // final join — one fact scan, not two
      .transform(Pin.cut)
    val seasonal = detrended.filter(col("detr24").isNotNull)
      .groupBy("nation", "moy")
      .agg(sum(col("detr24")).as("seas_num"),
        count(lit(1)).as("seas_cnt"))
    detrended.join(broadcast(seasonal), Seq("nation", "moy"), "left")
      .select(col("nation"), col("month"), col("rev_cents"), col("trend24"),
        col("detr24"),
        when(col("detr24").isNotNull, col("seas_num")).as("seas_num"),
        when(col("detr24").isNotNull, col("seas_cnt")).as("seas_cnt"))
      .orderBy("nation", "month")
  }

  val q62Sql: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
      |      AS rev_cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |trended AS (
      |  SELECT nation, month, rev_cents,
      |    CASE WHEN count(rev_cents) OVER (w ROWS BETWEEN 6 PRECEDING
      |        AND 6 FOLLOWING) = 13
      |      THEN CAST(2 * sum(rev_cents) OVER (w ROWS BETWEEN 5 PRECEDING
      |          AND 5 FOLLOWING) + lag(rev_cents, 6) OVER w +
      |          lead(rev_cents, 6) OVER w AS BIGINT)
      |    END AS trend24
      |  FROM monthly
      |  WINDOW w AS (PARTITION BY nation ORDER BY month)),
      |detr AS (
      |  SELECT *, rev_cents * 24 - trend24 AS detr24,
      |    substr(month, 6, 2) AS moy
      |  FROM trended),
      |seas AS (
      |  SELECT nation, moy, CAST(sum(detr24) AS BIGINT) AS seas_num,
      |    count(*) AS seas_cnt
      |  FROM detr WHERE detr24 IS NOT NULL GROUP BY 1, 2)
      |SELECT d.nation, d.month, d.rev_cents, d.trend24, d.detr24,
      |  CASE WHEN d.detr24 IS NOT NULL THEN s.seas_num END AS seas_num,
      |  CASE WHEN d.detr24 IS NOT NULL THEN s.seas_cnt END AS seas_cnt
      |FROM detr d LEFT JOIN seas s ON d.nation = s.nation AND d.moy = s.moy
      |ORDER BY d.nation, d.month""".stripMargin

  // ------------------------------------------------------------------
  // q63: ROW-PATTERN MATCHING (MATCH_RECOGNIZE-lite — the SQL:2016
  // feature Trino/Flink/Oracle ship and Spark lacks; the asked-for
  // pattern is the V-SHAPE `DOWN+ UP+` over each nation's monthly
  // revenue: drawdown and recovery detection). The regex-over-rows is
  // compiled to gaps-and-islands run algebra: per-month delta sign →
  // run ids via the change-flag cumulative sum → per-run aggregates →
  // a V match is a (-1 run, +1 run) ADJACENT pair, paired by lag over
  // runs. MAXIMAL-match semantics (SQL's default greedy quantifiers)
  // fall out for free: runs are maximal by construction, and a flat
  // month (delta = 0) breaks adjacency exactly as `DOWN+ UP+` demands.
  // All integer CENTS; emits peak/bottom/recovery months, depth and
  // recovery moves, run lengths. Scale: the month grain collapses
  // map-side under the fact scan; the three windows and the run agg
  // all share ONE nation-keyed exchange; runs-per-nation is bounded
  // by months, never corpus size.
  def q63(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
        .cast("long").as("rev_cents"))
    // months sort lexicographically = chronologically, so the generic
    // sign-run kernel's time order is the calendar order. The DOWN+ UP+
    // grammar lives in api.Patterns.troughRecoveries (round-10
    // parameterization) so users run THE gated match on their own
    // series; this key keeps the oracle on it.
    graft.api.Patterns
      .troughRecoveries(monthly, Seq("nation"), "month", "rev_cents")
      .select(col("nation"), col("peak").as("peak_month"),
        col("bottom").as("bottom_month"), col("recovered").as("end_month"),
        col("depth").as("depth_cents"), col("recovery").as("recovery_cents"),
        col("down_len"), col("up_len"))
      .orderBy("nation", "peak_month")
  }

  val q63Sql: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
      |      AS rev_cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT nation, month, rev_cents,
      |    lag(month) OVER w AS prev_month,
      |    rev_cents - lag(rev_cents) OVER w AS delta
      |  FROM monthly WINDOW w AS (PARTITION BY nation ORDER BY month)),
      |sgn AS (
      |  SELECT *, CASE WHEN delta > 0 THEN 1 WHEN delta < 0 THEN -1
      |    ELSE 0 END AS sig
      |  FROM d WHERE delta IS NOT NULL),
      |chg AS (
      |  SELECT *, CASE WHEN sig = lag(sig)
      |      OVER (PARTITION BY nation ORDER BY month) THEN 0 ELSE 1 END AS c
      |  FROM sgn),
      |rid AS (
      |  SELECT *, sum(c) OVER (PARTITION BY nation ORDER BY month
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM chg),
      |runs AS (
      |  SELECT nation, run_id, max(sig) AS sig,
      |    min(prev_month) AS start_month, max(month) AS end_month,
      |    CAST(sum(delta) AS BIGINT) AS move, count(*) AS len
      |  FROM rid GROUP BY 1, 2),
      |paired AS (
      |  SELECT nation,
      |    lag(start_month) OVER rw AS peak_month,
      |    lag(end_month) OVER rw AS bottom_month,
      |    end_month,
      |    -lag(move) OVER rw AS depth_cents,
      |    move AS recovery_cents,
      |    lag(len) OVER rw AS down_len,
      |    len AS up_len,
      |    sig, lag(sig) OVER rw AS prev_sig
      |  FROM runs WINDOW rw AS (PARTITION BY nation ORDER BY run_id))
      |SELECT nation, peak_month, bottom_month, end_month, depth_cents,
      |  recovery_cents, down_len, up_len
      |FROM paired WHERE sig = 1 AND prev_sig = -1
      |ORDER BY nation, peak_month""".stripMargin

  // ------------------------------------------------------------------
  // q64: EXACT mergeable DISTINCT-COUNT BITMAPS (ClickHouse/Druid
  // groupBitmap — q58's HLL answers rollups approximately in fixed
  // space; when the id space is bounded and dense (surrogate keys),
  // the BITMAP is its exact twin): per-nation bitmaps of buying
  // custkeys built in ONE fact pass by the native BitsetAgg
  // TypedImperativeAggregate (map-side partial merge = word-wise OR),
  // then nation / region / global answers all come from RE-MERGING
  // the 25 bitmaps (BitsetMergeCountAgg) — metadata-sized, the fact
  // table is never re-scanned. Exactness is the gate: the oracle
  // computes plain COUNT(DISTINCT) at every level and the hash must
  // match bit-for-bit — any bitmap corruption, missed OR, or
  // double-count flips it. The id bound is data-derived from the
  // customer DIM (a metadata-sized 1-row agg, never the fact table);
  // out-of-range ids fail loudly rather than silently dropping.
  def q64(s: SparkSession, d: String): DataFrame = {
    import graft.functions.BitsetAgg.{bitset, bitsetMergeCount}
    val nBits = Tables.customer(s, d)
      .agg(max(col("c_custkey")).as("m")).collect()(0).getLong(0).toInt + 1
    val facts = Tables.orders(s, d).select("o_custkey")
      .join(broadcast(Tables.customer(s, d)
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    val nationBm = facts.groupBy(col("c_nationkey").as("nation"))
      .agg(bitset(col("o_custkey"), nBits).as("bm"))
      .transform(Pin.cut) // 25 rows; every level below re-merges these
    val dim = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_regionkey")))
    val nationRows = nationBm
      .groupBy(col("nation"))
      .agg(bitsetMergeCount(col("bm")).as("n_buyers"))
      .select(lit("nation").as("level"), col("nation").cast("long").as("key"),
        col("n_buyers"))
    val regionRows = nationBm
      .join(dim, col("nation") === col("n_nationkey"))
      .groupBy(col("n_regionkey"))
      .agg(bitsetMergeCount(col("bm")).as("n_buyers"))
      .select(lit("region").as("level"),
        col("n_regionkey").cast("long").as("key"), col("n_buyers"))
    val globalRow = nationBm
      .agg(bitsetMergeCount(col("bm")).as("n_buyers"))
      .select(lit("global").as("level"), lit(-1L).as("key"), col("n_buyers"))
    nationRows.unionAll(regionRows).unionAll(globalRow)
      .orderBy("level", "key")
  }

  val q64Sql: String =
    """WITH f AS (
      |  SELECT o_custkey, c_nationkey, n_regionkey
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |SELECT level, key, n_buyers FROM (
      |  SELECT 'nation' AS level, CAST(c_nationkey AS BIGINT) AS key,
      |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_buyers
      |  FROM f GROUP BY 2
      |  UNION ALL
      |  SELECT 'region', CAST(n_regionkey AS BIGINT),
      |    CAST(count(DISTINCT o_custkey) AS BIGINT) FROM f GROUP BY 2
      |  UNION ALL
      |  SELECT 'global', -1, CAST(count(DISTINCT o_custkey) AS BIGINT) FROM f)
      |ORDER BY level, key""".stripMargin

  // ------------------------------------------------------------------
  // q65: AUDIENCE OVERLAP via bitmap set algebra (the theta-sketch /
  // Audience-Insights query: "how many buyers do regions A and B
  // SHARE?" — COUNT(DISTINCT) can't intersect across groups without a
  // re-scan; q64's bitmaps can): per-region buyer bitmaps built once
  // (one fact pass), every pairwise intersection answered by
  // INCLUSION–EXCLUSION over bitmap merges — |A∩B| = |A|+|B|−|A∪B|,
  // with |A∪B| from BitsetMergeCountAgg over the pair's two bitmaps
  // (10 pairs × 2 rows — metadata-sized; no new operator needed, the
  // OR-merge IS the set algebra). Exact integers throughout; overlap
  // ratio as floor-div ppm of the union (exact Jaccard). Oracle
  // recomputes every pair with a distinct-set self-join — any bitmap
  // bit wrong flips the hash.
  def q65(s: SparkSession, d: String): DataFrame = {
    import graft.functions.BitsetAgg.{bitset, bitsetMergeCount}
    val nBits = Tables.customer(s, d)
      .agg(max(col("c_custkey")).as("m")).collect()(0).getLong(0).toInt + 1
    val facts = Tables.orders(s, d).select("o_custkey")
      .join(broadcast(Tables.customer(s, d)
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)
        .select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
    val regionBm = facts.groupBy(col("n_regionkey").as("region"))
      .agg(bitset(col("o_custkey"), nBits).as("bm"))
      .transform(Pin.cut) // 5 rows feed 10 pairs twice each
    val sizes = regionBm.groupBy("region")
      .agg(bitsetMergeCount(col("bm")).as("n"))
    val withN = regionBm.join(sizes, Seq("region"))
    val a = withN.select(col("region").as("ra"), col("bm").as("bma"),
      col("n").as("na"))
    val b = withN.select(col("region").as("rb"), col("bm").as("bmb"),
      col("n").as("nb"))
    val pairs = a.join(b, col("ra") < col("rb"))
    // reshape each pair to two (pair, bitmap) rows so the union count
    // is one more OR-merge aggregation
    val stacked = pairs.select(col("ra"), col("rb"), col("bma").as("bm"))
      .unionAll(pairs.select(col("ra"), col("rb"), col("bmb").as("bm")))
    val unions = stacked.groupBy("ra", "rb")
      .agg(bitsetMergeCount(col("bm")).as("n_union"))
    pairs.select(col("ra"), col("rb"), col("na"), col("nb"))
      .join(unions, Seq("ra", "rb"))
      .select(col("ra").cast("long").as("region_a"),
        col("rb").cast("long").as("region_b"),
        col("na").as("n_a"), col("nb").as("n_b"), col("n_union"),
        (col("na") + col("nb") - col("n_union")).as("n_shared"),
        expr("(na + nb - n_union) * 1000000 div n_union")
          .as("jaccard_ppm"))
      .orderBy("region_a", "region_b")
  }

  val q65Sql: String =
    """WITH f AS (
      |  SELECT DISTINCT o_custkey, n_regionkey AS region
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |sizes AS (SELECT region, CAST(count(*) AS BIGINT) AS n
      |  FROM f GROUP BY 1),
      |pairs AS (
      |  SELECT a.region AS region_a, b.region AS region_b,
      |    a.n AS n_a, b.n AS n_b
      |  FROM sizes a JOIN sizes b ON a.region < b.region),
      |shared AS (
      |  SELECT x.region AS region_a, y.region AS region_b,
      |    CAST(count(*) AS BIGINT) AS n_shared
      |  FROM f x JOIN f y ON x.o_custkey = y.o_custkey
      |    AND x.region < y.region
      |  GROUP BY 1, 2)
      |SELECT CAST(p.region_a AS BIGINT) AS region_a,
      |  CAST(p.region_b AS BIGINT) AS region_b, p.n_a, p.n_b,
      |  p.n_a + p.n_b - coalesce(s.n_shared, 0) AS n_union,
      |  coalesce(s.n_shared, 0) AS n_shared,
      |  CAST(coalesce(s.n_shared, 0) * 1000000 //
      |    (p.n_a + p.n_b - coalesce(s.n_shared, 0)) AS BIGINT)
      |    AS jaccard_ppm
      |FROM pairs p LEFT JOIN shared s
      |  ON p.region_a = s.region_a AND p.region_b = s.region_b
      |ORDER BY region_a, region_b""".stripMargin

  // ------------------------------------------------------------------
  // q66: TWO-SAMPLE KOLMOGOROV–SMIRNOV drift test (the nonparametric
  // "did this feed's distribution change" monitor — t20's KL needs
  // binned categories; KS compares whole CDFs with zero binning): the
  // entire statistic is INTEGER-EXACT — at value v, |F₁−F₂| ∝
  // |c₁·n₂ − c₂·n₁|, so D_num = max of that bigint and the α=0.05
  // verdict is the squared Smirnov criterion with 1.358² stated as
  // the exact literal 1.844164: reject ⟺ 10⁶·D_num² >
  // 1844164·(n₁+n₂)·n₁·n₂, compared in DECIMAL(38,0) — no float
  // anywhere. Two gated cases over the orderkey-parity split (the
  // testdata's columns are mutually independent — measured: every
  // natural cohort pair is null; a basket-size cohort landed D=0.0280
  // vs a 0.0300 critical): 'planted_shift' scales the odd cohort's
  // cents by exactly ×110 div 100 — the "vendor silently repriced
  // 10%" drift, reject TRUE; 'parity_null' is the raw split, reject
  // FALSE — both monitor branches non-vacuous (q49's planted-anomaly
  // discipline). Scale: the CDF prefix sums are TWO-LEVEL — a
  // bucket-keyed within-bucket cumsum plus a bucket-grain offset
  // cumsum (tiny) — the distributed prefix-sum shape; no
  // corpus-length unpartitioned window.
  private def ksRow(name: String, vals: DataFrame): DataFrame = {
    // vals: (v BIGINT cents, grp 1|2) at row grain
    val grain = vals.groupBy("v")
      .agg(sum(when(col("grp") === 1, 1L).otherwise(0L)).as("a"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("b"))
      .withColumn("bucket", expr("v div 1000000"))
    val within = Window.partitionBy("bucket").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val buckets = grain.groupBy("bucket")
      .agg(sum("a").as("ba"), sum("b").as("bb"))
    val offs = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = buckets
      .withColumn("oa", coalesce(sum(col("ba")).over(offs), lit(0L)))
      .withColumn("ob", coalesce(sum(col("bb")).over(offs), lit(0L)))
      .select("bucket", "oa", "ob")
    val cdf = grain
      .withColumn("ca_in", sum(col("a")).over(within))
      .withColumn("cb_in", sum(col("b")).over(within))
      .join(broadcast(offsets), Seq("bucket"))
      .select((col("oa") + col("ca_in")).as("c1"),
        (col("ob") + col("cb_in")).as("c2"))
    cdf.crossJoin(broadcast(vals.agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"))))
      .groupBy("n1", "n2")
      .agg(max(abs(col("c1") * col("n2") - col("c2") * col("n1")))
        .as("d_num"))
      .select(lit(name).as("test_name"), col("n1"), col("n2"), col("d_num"),
        expr("d_num * 1000000 div (n1 * n2)").as("d_ppm"),
        (col("d_num").cast("decimal(38,0)") * col("d_num") * 1000000 >
          col("n1").cast("decimal(38,0)") * col("n2") *
            (col("n1") + col("n2")) * 1844164).as("reject_h0"))
  }

  def q66(s: SparkSession, d: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(14,2)") * 100)
      .cast("long").as("v")
    val grp = (col("o_orderkey") % 2 + 1).cast("int").as("grp")
    val parity = Tables.orders(s, d).select(cents, grp)
    val shifted = parity.select(
      when(col("grp") === 2, expr("(v * 110) div 100")).otherwise(col("v"))
        .as("v"), col("grp"))
    ksRow("planted_shift", shifted)
      .unionAll(ksRow("parity_null", parity))
      .orderBy("test_name")
  }

  val q66Sql: String = {
    def ks(name: String, cohort: String) =
      s"""SELECT '$name' AS test_name, n1, n2,
         |  CAST(d_num AS BIGINT) AS d_num,
         |  CAST(d_num * 1000000 // (n1 * n2) AS BIGINT) AS d_ppm,
         |  CAST(d_num AS DECIMAL(38,0)) * d_num * 1000000 >
         |    CAST(n1 AS DECIMAL(38,0)) * n2 * (n1 + n2) * 1844164
         |    AS reject_h0
         |FROM (
         |  SELECT max(abs(c1 * n2 - c2 * n1)) AS d_num,
         |    max(n1) AS n1, max(n2) AS n2
         |  FROM (
         |    SELECT
         |      CAST(sum(a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
         |        PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
         |      CAST(sum(b) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
         |        PRECEDING AND CURRENT ROW) AS BIGINT) AS c2,
         |      CAST(sum(a) OVER () AS BIGINT) AS n1,
         |      CAST(sum(b) OVER () AS BIGINT) AS n2
         |    FROM (
         |      SELECT v, sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS a,
         |        sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS b
         |      FROM ($cohort) GROUP BY v)))""".stripMargin
    val parity =
      """SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
        |    AS v,
        |  CAST(o_orderkey % 2 + 1 AS INT) AS grp FROM orders""".stripMargin
    val shifted =
      s"""SELECT CASE WHEN grp = 2 THEN (v * 110) // 100 ELSE v END AS v, grp
         |FROM ($parity)""".stripMargin
    s"""SELECT * FROM (${ks("planted_shift", shifted)}
       |UNION ALL
       |${ks("parity_null", parity)})
       |ORDER BY test_name""".stripMargin
  }

  // ------------------------------------------------------------------
  // q67: NATIVE RECURSIVE CTE (Spark 4's UnionLoop operator — the
  // long-missing SQL:1999 recursion; q56 flattened the part-hierarchy
  // walk by hand into bounded ancestor explodes because Spark
  // couldn't recurse; this runs the IDENTICAL `WITH RECURSIVE`
  // statement on BOTH engines): the ancestor closure of the decimal-
  // trie part hierarchy (parent = node div 10), iterated to the root.
  // The gate hashes the closure's exact per-depth fingerprint — path
  // count, Σnode, Σancestor — so a wrong recursion depth, a dropped
  // generation, or a duplicated anchor row all flip it. Recursion
  // semantics at scale: each UnionLoop step is one distributed
  // map+union over the previous frontier (7 steps here — bounded by
  // the trie depth, same reason q56's closed form stayed bounded);
  // the anchor is the one corpus-scale scan.
  def q67(s: SparkSession, d: String): DataFrame = {
    Tables.part(s, d).createOrReplaceTempView("graft_q67_part")
    try s.sql(
      """WITH RECURSIVE anc(node, a, depth) AS (
        |  SELECT p_partkey, p_partkey div 10, 1 FROM graft_q67_part
        |  WHERE p_partkey div 10 > 0
        |  UNION ALL
        |  SELECT node, a div 10, depth + 1 FROM anc WHERE a div 10 > 0)
        |SELECT depth, count(*) AS n_paths,
        |  sum(node) AS sum_node, sum(a) AS sum_anc
        |FROM anc GROUP BY depth ORDER BY depth""".stripMargin)
      .transform(Pin.cut)
    finally s.catalog.dropTempView("graft_q67_part")
  }

  val q67Sql: String =
    """WITH RECURSIVE anc(node, a, depth) AS (
      |  SELECT p_partkey, p_partkey // 10, 1 FROM part
      |  WHERE p_partkey // 10 > 0
      |  UNION ALL
      |  SELECT node, a // 10, depth + 1 FROM anc WHERE a // 10 > 0)
      |SELECT depth, count(*) AS n_paths,
      |  CAST(sum(node) AS BIGINT) AS sum_node,
      |  CAST(sum(a) AS BIGINT) AS sum_anc
      |FROM anc GROUP BY depth ORDER BY depth""".stripMargin

  // ------------------------------------------------------------------
  // q68: EQUI-DEPTH HISTOGRAM (the statistic `ANALYZE TABLE ... FOR
  // COLUMNS` actually builds and the cost-based optimizer consumes —
  // q34's fixed-width buckets starve on skew; equi-depth puts the
  // same ROW MASS in every bucket, so selectivity estimates stay
  // honest everywhere): 16 buckets over order-price cents, boundary
  // b_k = the exact value whose ≤-cumulative first reaches N·k/16
  // (order-statistic SELECTION, 16·cle ≥ N·k integer compare — q52's
  // never-interpolate discipline), bucket k = (b_{k−1}, b_k] with
  // count cle_k − cle_{k−1} read off the selected boundary rows
  // themselves. Exactness: integer cents, integer rank algebra, zero
  // float. Scale: the CDF prefix sums reuse q66's TWO-LEVEL bucketed
  // cumsum (no corpus-length unpartitioned window); boundary
  // selection is a 16-way broadcast fan-out over the value grain;
  // the 16-row assembly window is constant-sized.
  def q68(s: SparkSession, d: String): DataFrame = {
    val grain = Tables.orders(s, d)
      .select((col("o_totalprice").cast("decimal(14,2)") * 100)
        .cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", expr("v div 1000000"))
    val within = Window.partitionBy("bucket").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = grain.groupBy("bucket").agg(sum("cnt").as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(offs), lit(0L)))
      .select("bucket", "off")
    val cdf = grain
      .withColumn("cin", sum(col("cnt")).over(within))
      .join(broadcast(offsets), Seq("bucket"))
      .select(col("v"), (col("off") + col("cin")).as("cle"))
      .transform(Pin.cut) // value grain; 16 boundary picks + the total
    val totals = broadcast(cdf.agg(max(col("cle")).as("n_total"),
      min(col("v")).as("v_min")))
    val ks = broadcast(s.range(1, 17).select(col("id").as("k")))
    val bounds = cdf.crossJoin(totals).crossJoin(ks)
      .filter(col("cle") * 16 >= col("n_total") * col("k"))
      .groupBy("k")
      .agg(min(struct(col("v"), col("cle"), col("v_min"))).as("m"))
      .select(col("k"), col("m.v").as("hi"), col("m.cle").as("cle"),
        col("m.v_min").as("v_min"))
    val wk = Window.orderBy("k")
    bounds
      .withColumn("lo", coalesce(lag(col("hi"), 1).over(wk), col("v_min")))
      .withColumn("n", col("cle") - coalesce(lag(col("cle"), 1).over(wk),
        lit(0L)))
      .select(col("k").as("bucket"), col("lo").as("lo_cents"),
        col("hi").as("hi_cents"), col("n"))
      .orderBy("bucket")
  }

  val q68Sql: String =
    """WITH grain AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
      |    AS v, count(*) AS cnt
      |  FROM orders GROUP BY 1),
      |cdf AS (
      |  SELECT v, CAST(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
      |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cle
      |  FROM grain),
      |tot AS (SELECT max(cle) AS n_total, min(v) AS v_min FROM cdf),
      |bounds AS (
      |  SELECT k, v AS hi, cle, v_min FROM (
      |    SELECT ks.k, c.v, c.cle, t.v_min,
      |      row_number() OVER (PARTITION BY ks.k ORDER BY c.v) AS rn
      |    FROM cdf c CROSS JOIN tot t
      |    CROSS JOIN (SELECT unnest(range(1, 17)) AS k) ks
      |    WHERE c.cle * 16 >= t.n_total * ks.k)
      |  WHERE rn = 1)
      |SELECT k AS bucket,
      |  coalesce(lag(hi) OVER (ORDER BY k), v_min) AS lo_cents,
      |  hi AS hi_cents,
      |  cle - coalesce(lag(cle) OVER (ORDER BY k), 0) AS n
      |FROM bounds ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------------
  // q69: SPARSE-ID EXACT-DISTINCT ROLLUP (the Roaring-layout twin of
  // q64 — BitsetAgg's scaladoc names the compressed swap-in for
  // 15B-id surrogate spaces; this key exercises it): buyer ids are
  // SPREAD over a ~2^44 surrogate domain (custkey · 1000003 — the
  // dense bitset would need 2 TiB of buffer; the compressed bitmap
  // holds one 16-bit low per mostly-singleton chunk), per-nation
  // bitmaps built in ONE fact pass, region and global answered by
  // re-merging the 25 serialized nation bitmaps — the identical
  // OR-merge algebra, zero fact re-scans. Exactness is the gate: the
  // oracle computes plain COUNT(DISTINCT) on the same spread ids at
  // every level; one lost or phantom chunk low flips the hash.
  // Scale: the fact shuffle keys on nation; rollups touch 25 rows.
  def q69(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SparseBitmapAgg.{sparseBitmap, sparseBitmapMergeCount}
    val facts = Tables.orders(s, d)
      .select((col("o_custkey") * 1000003L).as("sid"), col("o_custkey"))
      .join(broadcast(Tables.customer(s, d)
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    val nationBm = facts.groupBy(col("c_nationkey").as("nation"))
      .agg(sparseBitmap(col("sid")).as("bm"))
      .transform(Pin.cut) // 25 rows; every level below re-merges these
    val dim = broadcast(Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_regionkey")))
    val nationRows = nationBm
      .groupBy(col("nation"))
      .agg(sparseBitmapMergeCount(col("bm")).as("n_buyers"))
      .select(lit("nation").as("level"), col("nation").cast("long").as("key"),
        col("n_buyers"))
    val regionRows = nationBm
      .join(dim, col("nation") === col("n_nationkey"))
      .groupBy(col("n_regionkey"))
      .agg(sparseBitmapMergeCount(col("bm")).as("n_buyers"))
      .select(lit("region").as("level"),
        col("n_regionkey").cast("long").as("key"), col("n_buyers"))
    val globalRow = nationBm
      .agg(sparseBitmapMergeCount(col("bm")).as("n_buyers"))
      .select(lit("global").as("level"), lit(-1L).as("key"), col("n_buyers"))
    nationRows.unionAll(regionRows).unionAll(globalRow)
      .orderBy("level", "key")
  }

  val q69Sql: String =
    """WITH f AS (
      |  SELECT o_custkey * 1000003 AS sid, c_nationkey, n_regionkey
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey)
      |SELECT level, key, n_buyers FROM (
      |  SELECT 'nation' AS level, CAST(c_nationkey AS BIGINT) AS key,
      |    CAST(count(DISTINCT sid) AS BIGINT) AS n_buyers
      |  FROM f GROUP BY 2
      |  UNION ALL
      |  SELECT 'region', CAST(n_regionkey AS BIGINT),
      |    CAST(count(DISTINCT sid) AS BIGINT) FROM f GROUP BY 2
      |  UNION ALL
      |  SELECT 'global', -1, CAST(count(DISTINCT sid) AS BIGINT) FROM f)
      |ORDER BY level, key""".stripMargin

  // ------------------------------------------------------------------
  // q70: GENERIC ROW-PATTERN MATCH, 3-step grammar (the arbitrary-
  // pattern compiler api.Patterns.matchRecognize gated end-to-end —
  // q63 gates the DOWN+ UP+ convenience wrapper; this key drives the
  // compiler itself with a REPEATED symbol, exercising first-match
  // classification, run collapse, m-run adjacency and positional
  // suffixing in one driver-gated query): pattern DOWN+ UP+ DOWN+
  // over each nation's monthly revenue — the "dead-cat bounce" shape
  // (drawdown, partial recovery, renewed decline) that a trough-
  // recovery scan misreads as a completed recovery. Emits per-match
  // peak/trough/bounce-top/second-trough months, the three exact
  // integer-cent moves and run lengths. Same exact-cents discipline
  // and run algebra as q63; the oracle replays runs + two lead()s.
  // Scale: identical to q63 — one nation-keyed exchange shared by the
  // row-grain windows and the run-grain leads; run count is bounded
  // by nations × months, never the corpus.
  def q70(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
        .cast("long").as("rev_cents"))
    val w = Window.partitionBy("nation").orderBy("month")
    val deltas = monthly
      .withColumn("__prev_t", lag(col("month"), 1).over(w))
      .withColumn("__delta",
        col("rev_cents") - lag(col("rev_cents"), 1).over(w))
      .filter(col("__delta").isNotNull)
    graft.api.Patterns.matchRecognize(deltas, Seq("nation"), "month",
      defines = Seq("down" -> (col("__delta") < 0),
        "up" -> (col("__delta") > 0), "flat" -> lit(true)),
      pattern = Seq("down", "up", "down"),
      runAggs = Seq("start_t" -> min(col("__prev_t")),
        "end_t" -> max(col("month")), "move" -> sum(col("__delta")),
        "len" -> count(lit(1))))
      .select(col("nation"), col("down1_start_t").as("peak_month"),
        col("down1_end_t").as("trough_month"),
        col("up_end_t").as("bounce_month"),
        col("down2_end_t").as("second_trough_month"),
        (-col("down1_move")).as("drop1_cents"),
        col("up_move").as("bounce_cents"),
        (-col("down2_move")).as("drop2_cents"),
        col("down1_len"), col("up_len"), col("down2_len"))
      .orderBy("nation", "peak_month")
  }

  val q70Sql: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
      |      AS rev_cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT nation, month, rev_cents,
      |    lag(month) OVER w AS prev_month,
      |    rev_cents - lag(rev_cents) OVER w AS delta
      |  FROM monthly WINDOW w AS (PARTITION BY nation ORDER BY month)),
      |sgn AS (
      |  SELECT *, CASE WHEN delta > 0 THEN 1 WHEN delta < 0 THEN -1
      |    ELSE 0 END AS sig
      |  FROM d WHERE delta IS NOT NULL),
      |chg AS (
      |  SELECT *, CASE WHEN sig = lag(sig)
      |      OVER (PARTITION BY nation ORDER BY month) THEN 0 ELSE 1 END AS c
      |  FROM sgn),
      |rid AS (
      |  SELECT *, sum(c) OVER (PARTITION BY nation ORDER BY month
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM chg),
      |runs AS (
      |  SELECT nation, run_id, max(sig) AS sig,
      |    min(prev_month) AS start_month, max(month) AS end_month,
      |    CAST(sum(delta) AS BIGINT) AS move, count(*) AS len
      |  FROM rid GROUP BY 1, 2),
      |tri AS (
      |  SELECT nation, sig,
      |    lead(sig, 1) OVER rw AS sig1, lead(sig, 2) OVER rw AS sig2,
      |    start_month AS peak_month, end_month AS trough_month,
      |    lead(end_month, 1) OVER rw AS bounce_month,
      |    lead(end_month, 2) OVER rw AS second_trough_month,
      |    -move AS drop1_cents,
      |    lead(move, 1) OVER rw AS bounce_cents,
      |    -lead(move, 2) OVER rw AS drop2_cents,
      |    len AS down1_len,
      |    lead(len, 1) OVER rw AS up_len,
      |    lead(len, 2) OVER rw AS down2_len
      |  FROM runs WINDOW rw AS (PARTITION BY nation ORDER BY run_id))
      |SELECT nation, peak_month, trough_month, bounce_month,
      |  second_trough_month, drop1_cents, bounce_cents, drop2_cents,
      |  down1_len, up_len, down2_len
      |FROM tri WHERE sig = -1 AND sig1 = 1 AND sig2 = -1
      |ORDER BY nation, peak_month""".stripMargin

  // ------------------------------------------------------------------
  // q71: EXTENDED ROW-PATTERN GRAMMAR (round 12 — VERDICT r11 #2: the
  // three SQL:2016 pattern features Trino/Flink ship beyond bare
  // symbol sequences, driven through api.Patterns.matchRecognize's
  // run-algebra kernel in one gated query): pattern
  // `down{1,2} flat? up|spike` over each nation's monthly ORDER-COUNT
  // deltas — a SHORT drawdown (BOUNDED: 1–2 months; longer slides are
  // excluded by the quantifier, measurably — they exist in the data),
  // an OPTIONAL flat plateau (order counts are small integers, so
  // exact zero deltas genuinely occur, exercising both adjacency
  // variants), then ALTERNATION: any positive run, classified spike
  // (delta ≥ 3, first-match-wins) or up, with the matched branch
  // reported in rec_kind. Optional/bounded compile to relaxed
  // run-adjacency arithmetic + run-length bounds on the SAME run-grain
  // leads as q63/q70 — no new shuffle shape; the oracle replays runs +
  // two leads + the two-variant union. Scale: identical to q63 — one
  // nation-keyed exchange; run count bounded by nations × months.
  def q71(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy("nation").orderBy("month")
    val deltas = monthly
      .withColumn("__prev_t", lag(col("month"), 1).over(w))
      .withColumn("__delta",
        col("n_orders") - lag(col("n_orders"), 1).over(w))
      .filter(col("__delta").isNotNull)
    graft.api.Patterns.matchRecognize(deltas, Seq("nation"), "month",
      defines = Seq(
        "spike" -> (col("__delta") >= 3),
        "up" -> (col("__delta") > 0),
        "flat" -> (col("__delta") === 0),
        "down" -> (col("__delta") < 0)),
      pattern = Seq("down{1,2}", "flat?", "up|spike"),
      runAggs = Seq("start_t" -> min(col("__prev_t")),
        "end_t" -> max(col("month")), "move" -> sum(col("__delta")),
        "len" -> count(lit(1))))
      .select(col("nation"),
        col("down_start_t").as("peak_month"),
        col("down_end_t").as("trough_month"),
        col("down_len"),
        (-col("down_move")).as("drop_orders"),
        col("flat_len"),
        col("flat_end_t").as("plateau_month"),
        col("up_or_spike_alt").as("rec_kind"),
        col("up_or_spike_end_t").as("rec_month"),
        col("up_or_spike_move").as("rec_orders"),
        col("up_or_spike_len").as("rec_len"))
      .orderBy("nation", "peak_month")
  }

  val q71Sql: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT nation, month,
      |    lag(month) OVER w AS prev_month,
      |    n_orders - lag(n_orders) OVER w AS delta
      |  FROM monthly WINDOW w AS (PARTITION BY nation ORDER BY month)),
      |cls AS (
      |  SELECT *, CASE WHEN delta >= 3 THEN 'spike' WHEN delta > 0 THEN 'up'
      |    WHEN delta = 0 THEN 'flat' ELSE 'down' END AS sym
      |  FROM d WHERE delta IS NOT NULL),
      |chg AS (
      |  SELECT *, CASE WHEN sym = lag(sym)
      |      OVER (PARTITION BY nation ORDER BY month) THEN 0 ELSE 1 END AS c
      |  FROM cls),
      |rid AS (
      |  SELECT *, sum(c) OVER (PARTITION BY nation ORDER BY month
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM chg),
      |runs AS (
      |  SELECT nation, run_id, max(sym) AS sym,
      |    min(prev_month) AS start_month, max(month) AS end_month,
      |    CAST(sum(delta) AS BIGINT) AS move, count(*) AS len
      |  FROM rid GROUP BY 1, 2),
      |tri AS (
      |  SELECT nation, sym, len, start_month, end_month, move,
      |    lead(sym, 1) OVER rw AS sym1, lead(len, 1) OVER rw AS len1,
      |    lead(end_month, 1) OVER rw AS end1, lead(move, 1) OVER rw AS move1,
      |    lead(sym, 2) OVER rw AS sym2, lead(len, 2) OVER rw AS len2,
      |    lead(end_month, 2) OVER rw AS end2, lead(move, 2) OVER rw AS move2
      |  FROM runs WINDOW rw AS (PARTITION BY nation ORDER BY run_id))
      |SELECT nation, peak_month, trough_month, down_len, drop_orders,
      |  flat_len, plateau_month, rec_kind, rec_month, rec_orders, rec_len
      |FROM (
      |  SELECT nation, start_month AS peak_month, end_month AS trough_month,
      |    len AS down_len, -move AS drop_orders,
      |    CAST(NULL AS BIGINT) AS flat_len,
      |    CAST(NULL AS VARCHAR) AS plateau_month,
      |    sym1 AS rec_kind, end1 AS rec_month, move1 AS rec_orders,
      |    len1 AS rec_len
      |  FROM tri
      |  WHERE sym = 'down' AND len BETWEEN 1 AND 2
      |    AND sym1 IN ('up', 'spike')
      |  UNION ALL
      |  SELECT nation, start_month, end_month, len, -move,
      |    len1, end1, sym2, end2, move2, len2
      |  FROM tri
      |  WHERE sym = 'down' AND len BETWEEN 1 AND 2 AND sym1 = 'flat'
      |    AND sym2 IN ('up', 'spike'))
      |ORDER BY nation, peak_month""".stripMargin

  // ------------------------------------------------------------------
  // q72: SEASONAL-TREND FORECAST (round 12 — VERDICT r11 #5: the
  // time-series family smooths (q60) and decomposes (q62) but never
  // projects forward; this closes it with the deterministic
  // Holt–Winters-additive analogue): per nation, fit LEVEL + TREND by
  // exact OLS over the monthly revenue series (closed form — the
  // α→0 limit of Holt's recursions; sums/cross-products are exact
  // BIGINTs, slope/intercept carried as RATIONALS num/den, never
  // divided), take the SEASONAL index from q62's exact cents×24
  // components (seas_num24/seas_den24 per month-of-year), and project
  // h = 1..6 months past each nation's last observation. The gate
  // carries the exact rationals (the verify-skill tie rule: sums and
  // products never tie, closing divisions do) plus ONE combined
  // integer: fc_cents_floor = ⌊lin + seasonal⌋ via cross-multiplied
  // DECIMAL(38,0)/HUGEINT arithmetic with the sign-safe offset trick
  // (r49's discipline — seas_num24 can be negative). BIGINT headroom:
  // |icpt_num| ≤ Σy·Σt² ≈ 1.5e17 at sf0.1 and grows linearly in SF —
  // safe past sf10; the combined term is where 64 bits run out, hence
  // the 38-digit lane. Scale: one fact scan shared by the fit agg and
  // the q62 seasonal window, both on the nation-keyed exchange; the
  // horizon explode is 6 rows per nation.
  /** Fit + seasonal components over a CHECKPOINTED (nation, month
    * 'yyyy-MM', rev_cents LONG) grain frame: (withT, fit, seasonal) —
    * shared by the q72 projection and q73's residual intervals. */
  private def holtParts(monthly: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val w = Window.partitionBy("nation").orderBy("month")
    val withT = monthly.withColumn("t",
      (row_number().over(w) - 1).cast("long"))
    val fit = withT.groupBy("nation").agg(
      count(lit(1)).as("n"), max(col("t")).as("t_last"),
      max(col("month")).as("last_month"),
      sum(col("t")).as("st"), sum(col("rev_cents")).as("sy"),
      sum(col("t") * col("rev_cents")).as("sty"),
      sum(col("t") * col("t")).as("st2"))
    val sum11 = sum(col("rev_cents")).over(w.rowsBetween(-5, 5))
    val cnt13 = count(col("rev_cents")).over(w.rowsBetween(-6, 6))
    val trend24 = when(cnt13 === 13,
      lit(2) * sum11 + lag(col("rev_cents"), 6).over(w) +
        lead(col("rev_cents"), 6).over(w))
    val seasonal = monthly
      .withColumn("detr24", col("rev_cents") * 24 - trend24)
      .filter(col("detr24").isNotNull)
      .withColumn("moy", substring(col("month"), 6, 2))
      .groupBy("nation", "moy")
      .agg(sum(col("detr24")).as("seas_num24"),
        (count(lit(1)) * 24L).as("seas_den24"))
    (withT, fit, seasonal)
  }

  /** Shared kernel over any (nation, month 'yyyy-MM', rev_cents LONG)
    * frame — RelationalSpec feeds a planted linear+seasonal series and
    * pins the h-step values exactly. */
  private[graft] def holtForecast(monthly0: DataFrame, hMax: Int): DataFrame = {
    val monthly = Pin.cut(monthly0) // grain frame feeds fit + seasonal
    val (_, fit, seasonal) = holtParts(monthly)
    fit
      .withColumn("h", explode(expr(s"sequence(1L, ${hMax}L)")))
      .withColumn("fc_month", date_format(add_months(
        to_date(concat(col("last_month"), lit("-01"))),
        col("h").cast("int")), "yyyy-MM"))
      .withColumn("moy", substring(col("fc_month"), 6, 2))
      .withColumn("lin_den", col("n") * col("st2") - col("st") * col("st"))
      .withColumn("lin_num",
        (col("sy") * col("st2") - col("st") * col("sty")) +
          (col("n") * col("sty") - col("st") * col("sy")) *
            (col("t_last") + col("h")))
      .join(broadcast(seasonal), Seq("nation", "moy"), "left")
      .withColumn("num38",
        col("lin_num").cast("decimal(38,0)") *
          coalesce(col("seas_den24"), lit(24L)) +
          coalesce(col("seas_num24"), lit(0L)).cast("decimal(38,0)") *
            col("lin_den"))
      .withColumn("den38",
        col("lin_den").cast("decimal(38,0)") *
          coalesce(col("seas_den24"), lit(24L)))
      // Sign-safe floor: Spark's `div` truncates toward zero while the
      // oracle's `//` floors, so the negative-capable num38 is shifted
      // by K·den38 first. K = 1e10 cents is a BOUND, not a constant of
      // nature (ADVICE r12): it is valid iff num38/den38 > −K, i.e.
      // the fitted forecast stays above −$100M — if a series ever
      // drives the fit below that, truncate-vs-floor would silently
      // disagree by 1, so the violated bound RAISES instead (the gate
      // turns an err, never a wrong hash). Headroom: gate-SF fits are
      // ≤1e9 cents and grow linearly in SF, so the guard branch is
      // never taken on real data.
      .withColumn("fc_cents_floor",
        expr("CAST((CASE WHEN num38 + 10000000000 * den38 > 0 " +
          "THEN (num38 + 10000000000 * den38) div den38 " +
          "ELSE CAST(raise_error('holtForecast: sign-safe floor offset " +
          "exhausted (num38/den38 <= -1e10 cents) - widen the offset') " +
          "AS DECIMAL(38,0)) END) - 10000000000 AS BIGINT)"))
      .select("nation", "h", "fc_month", "lin_num", "lin_den",
        "seas_num24", "seas_den24", "fc_cents_floor")
      .orderBy("nation", "h")
  }

  def q72(s: SparkSession, d: String): DataFrame =
    holtForecast(
      Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
          .cast("long").as("rev_cents")),
      hMax = 6)

  val q72Sql: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
      |      AS rev_cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |wt AS (
      |  SELECT nation, month, rev_cents,
      |    CAST(row_number() OVER (PARTITION BY nation ORDER BY month) - 1
      |      AS BIGINT) AS t
      |  FROM monthly),
      |fit AS (
      |  SELECT nation, count(*) AS n, max(t) AS t_last,
      |    max(month) AS last_month,
      |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(rev_cents) AS BIGINT) AS sy,
      |    CAST(sum(t * rev_cents) AS BIGINT) AS sty,
      |    CAST(sum(t * t) AS BIGINT) AS st2
      |  FROM wt GROUP BY 1),
      |trended AS (
      |  SELECT nation, month, rev_cents,
      |    CASE WHEN count(rev_cents) OVER (w ROWS BETWEEN 6 PRECEDING
      |        AND 6 FOLLOWING) = 13
      |      THEN CAST(2 * sum(rev_cents) OVER (w ROWS BETWEEN 5 PRECEDING
      |          AND 5 FOLLOWING) + lag(rev_cents, 6) OVER w +
      |          lead(rev_cents, 6) OVER w AS BIGINT)
      |    END AS trend24
      |  FROM monthly
      |  WINDOW w AS (PARTITION BY nation ORDER BY month)),
      |seas AS (
      |  SELECT nation, substr(month, 6, 2) AS moy,
      |    CAST(sum(rev_cents * 24 - trend24) AS BIGINT) AS seas_num24,
      |    24 * count(*) AS seas_den24
      |  FROM trended WHERE trend24 IS NOT NULL GROUP BY 1, 2),
      |fc AS (
      |  SELECT f.nation, hs.h,
      |    strftime((f.last_month || '-01')::DATE
      |      + to_months(CAST(hs.h AS INT)), '%Y-%m') AS fc_month,
      |    f.n * f.st2 - f.st * f.st AS lin_den,
      |    (f.sy * f.st2 - f.st * f.sty) +
      |      (f.n * f.sty - f.st * f.sy) * (f.t_last + hs.h) AS lin_num
      |  FROM fit f CROSS JOIN (SELECT unnest(range(1, 7)) AS h) hs)
      |SELECT fc.nation, fc.h, fc.fc_month, fc.lin_num, fc.lin_den,
      |  s.seas_num24, s.seas_den24,
      |  CAST((fc.lin_num::HUGEINT * coalesce(s.seas_den24, 24)
      |      + coalesce(s.seas_num24, 0)::HUGEINT * fc.lin_den
      |      + 10000000000::HUGEINT * fc.lin_den
      |        * coalesce(s.seas_den24, 24))
      |    // (fc.lin_den::HUGEINT * coalesce(s.seas_den24, 24))
      |    - 10000000000 AS BIGINT) AS fc_cents_floor
      |FROM fc LEFT JOIN seas s
      |  ON fc.nation = s.nation AND substr(fc.fc_month, 6, 2) = s.moy
      |ORDER BY fc.nation, fc.h""".stripMargin

  // ------------------------------------------------------------------
  // q73: FORECAST PREDICTION INTERVALS (round 13 — VERDICT r12 #4:
  // q72 projects point forecasts only; a forecast consumer needs
  // uncertainty). The interval is the SPLIT-CONFORMAL shape (Vovk et
  // al. 2005; Lei et al. 2018 — distribution-free empirical-residual
  // intervals): per nation, the EXACT integer residuals of the fitted
  // series (observed cents − the same guarded-floor fit replayed at
  // each observed t), the 10th/90th empirical residual by EXACT
  // order-statistic selection (rank k_lo = ⌈n/10⌉, k_hi = n−k_lo+1,
  // row_number over (resid, month) — q52's selection discipline, no
  // interpolation, no floats), and h-step bounds widened by the exact
  // rational factor (n+h)/n (the finite-sample inflation of split
  // conformal's (1+1/n), growing with horizon): bound = ⌊(fc·n +
  // r·(n+h))/n⌋ via the same sign-safe offset floor. Every column is
  // an exact integer or the q72 rationals — RelationalSpec pins a
  // planted linear+seasonal+noise series where the bounds are derived
  // independently. Scale: residuals ride the SAME nation-keyed
  // exchange as the fit; the rank selection is a window over the
  // month-grain frame; everything downstream is nation×h rows.
  private[graft] def holtForecastIntervals(monthly0: DataFrame,
      hMax: Int): DataFrame = {
    val monthly = Pin.cut(monthly0)
    val (withT, fit, seasonal) = holtParts(monthly)
    val resid = withT
      .withColumn("moy", substring(col("month"), 6, 2))
      .join(fit.select("nation", "n", "st", "sy", "sty", "st2"),
        Seq("nation"))
      .join(broadcast(seasonal), Seq("nation", "moy"), "left")
      .withColumn("lin_den", col("n") * col("st2") - col("st") * col("st"))
      .withColumn("lin_num",
        (col("sy") * col("st2") - col("st") * col("sty")) +
          (col("n") * col("sty") - col("st") * col("sy")) * col("t"))
      .withColumn("num38",
        col("lin_num").cast("decimal(38,0)") *
          coalesce(col("seas_den24"), lit(24L)) +
          coalesce(col("seas_num24"), lit(0L)).cast("decimal(38,0)") *
            col("lin_den"))
      .withColumn("den38",
        col("lin_den").cast("decimal(38,0)") *
          coalesce(col("seas_den24"), lit(24L)))
      .withColumn("fit_floor",
        expr("CAST((CASE WHEN num38 + 10000000000 * den38 > 0 " +
          "THEN (num38 + 10000000000 * den38) div den38 " +
          "ELSE CAST(raise_error('holtForecastIntervals: sign-safe floor " +
          "offset exhausted - widen the offset') AS DECIMAL(38,0)) END) " +
          "- 10000000000 AS BIGINT)"))
      .withColumn("resid", col("rev_cents") - col("fit_floor"))
    val wr = Window.partitionBy("nation").orderBy(col("resid"), col("month"))
    val ranked = resid.withColumn("rn", row_number().over(wr).cast("long"))
    val rlo = ranked.filter(col("rn") === expr("(n + 9) div 10"))
      .select(col("nation"), col("resid").as("r_lo"))
    val rhi = ranked.filter(col("rn") === expr("n - (n + 9) div 10 + 1"))
      .select(col("nation"), col("resid").as("r_hi"))
    holtForecast(monthly, hMax)
      .join(broadcast(fit.select(col("nation"), col("n").as("n_obs"))),
        Seq("nation"))
      .join(broadcast(rlo), Seq("nation"))
      .join(broadcast(rhi), Seq("nation"))
      .withColumn("lo_cents_floor",
        expr("(fc_cents_floor * n_obs + r_lo * (n_obs + h) " +
          "+ 10000000000 * n_obs) div n_obs - 10000000000"))
      .withColumn("hi_cents_floor",
        expr("(fc_cents_floor * n_obs + r_hi * (n_obs + h) " +
          "+ 10000000000 * n_obs) div n_obs - 10000000000"))
      .select("nation", "h", "fc_month", "fc_cents_floor", "n_obs",
        "r_lo", "r_hi", "lo_cents_floor", "hi_cents_floor")
      .orderBy("nation", "h")
  }

  def q73(s: SparkSession, d: String): DataFrame =
    holtForecastIntervals(
      Tables.orders(s, d)
        .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
          .cast("long").as("rev_cents")),
      hMax = 6)

  val q73Sql: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
      |      AS rev_cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |wt AS (
      |  SELECT nation, month, rev_cents,
      |    CAST(row_number() OVER (PARTITION BY nation ORDER BY month) - 1
      |      AS BIGINT) AS t
      |  FROM monthly),
      |fit AS (
      |  SELECT nation, count(*) AS n, max(t) AS t_last,
      |    max(month) AS last_month,
      |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(rev_cents) AS BIGINT) AS sy,
      |    CAST(sum(t * rev_cents) AS BIGINT) AS sty,
      |    CAST(sum(t * t) AS BIGINT) AS st2
      |  FROM wt GROUP BY 1),
      |trended AS (
      |  SELECT nation, month, rev_cents,
      |    CASE WHEN count(rev_cents) OVER (w ROWS BETWEEN 6 PRECEDING
      |        AND 6 FOLLOWING) = 13
      |      THEN CAST(2 * sum(rev_cents) OVER (w ROWS BETWEEN 5 PRECEDING
      |          AND 5 FOLLOWING) + lag(rev_cents, 6) OVER w +
      |          lead(rev_cents, 6) OVER w AS BIGINT)
      |    END AS trend24
      |  FROM monthly
      |  WINDOW w AS (PARTITION BY nation ORDER BY month)),
      |seas AS (
      |  SELECT nation, substr(month, 6, 2) AS moy,
      |    CAST(sum(rev_cents * 24 - trend24) AS BIGINT) AS seas_num24,
      |    24 * count(*) AS seas_den24
      |  FROM trended WHERE trend24 IS NOT NULL GROUP BY 1, 2),
      |resid AS (
      |  SELECT w.nation, w.month, f.n,
      |    w.rev_cents - CAST((
      |        ((f.sy * f.st2 - f.st * f.sty)
      |          + (f.n * f.sty - f.st * f.sy) * w.t)::HUGEINT
      |          * coalesce(s.seas_den24, 24)
      |        + coalesce(s.seas_num24, 0)::HUGEINT
      |          * (f.n * f.st2 - f.st * f.st)
      |        + 10000000000::HUGEINT * (f.n * f.st2 - f.st * f.st)
      |          * coalesce(s.seas_den24, 24))
      |      // ((f.n * f.st2 - f.st * f.st)::HUGEINT
      |        * coalesce(s.seas_den24, 24))
      |      - 10000000000 AS BIGINT) AS resid
      |  FROM wt w JOIN fit f ON w.nation = f.nation
      |  LEFT JOIN seas s
      |    ON w.nation = s.nation AND substr(w.month, 6, 2) = s.moy),
      |ranked AS (
      |  SELECT nation, n, resid,
      |    row_number() OVER (PARTITION BY nation ORDER BY resid, month)
      |      AS rn
      |  FROM resid),
      |rlo AS (SELECT nation, resid AS r_lo FROM ranked
      |        WHERE rn = (n + 9) // 10),
      |rhi AS (SELECT nation, resid AS r_hi FROM ranked
      |        WHERE rn = n - (n + 9) // 10 + 1),
      |fcq AS (
      |  SELECT f.nation, hs.h,
      |    strftime((f.last_month || '-01')::DATE
      |      + to_months(CAST(hs.h AS INT)), '%Y-%m') AS fc_month,
      |    f.n AS n_obs,
      |    f.n * f.st2 - f.st * f.st AS lin_den,
      |    (f.sy * f.st2 - f.st * f.sty) +
      |      (f.n * f.sty - f.st * f.sy) * (f.t_last + hs.h) AS lin_num
      |  FROM fit f CROSS JOIN (SELECT unnest(range(1, 7)) AS h) hs),
      |fc AS (
      |  SELECT fcq.nation, fcq.h, fcq.fc_month, fcq.n_obs,
      |    CAST((fcq.lin_num::HUGEINT * coalesce(s.seas_den24, 24)
      |        + coalesce(s.seas_num24, 0)::HUGEINT * fcq.lin_den
      |        + 10000000000::HUGEINT * fcq.lin_den
      |          * coalesce(s.seas_den24, 24))
      |      // (fcq.lin_den::HUGEINT * coalesce(s.seas_den24, 24))
      |      - 10000000000 AS BIGINT) AS fc_cents_floor
      |  FROM fcq LEFT JOIN seas s
      |    ON fcq.nation = s.nation AND substr(fcq.fc_month, 6, 2) = s.moy)
      |SELECT fc.nation, fc.h, fc.fc_month, fc.fc_cents_floor, fc.n_obs,
      |  rlo.r_lo, rhi.r_hi,
      |  (fc.fc_cents_floor * fc.n_obs + rlo.r_lo * (fc.n_obs + fc.h)
      |    + 10000000000 * fc.n_obs) // fc.n_obs - 10000000000
      |    AS lo_cents_floor,
      |  (fc.fc_cents_floor * fc.n_obs + rhi.r_hi * (fc.n_obs + fc.h)
      |    + 10000000000 * fc.n_obs) // fc.n_obs - 10000000000
      |    AS hi_cents_floor
      |FROM fc JOIN rlo ON fc.nation = rlo.nation
      |JOIN rhi ON fc.nation = rhi.nation
      |ORDER BY fc.nation, fc.h""".stripMargin

  // ------------------------------------------------------------------
  // q74: AFTER MATCH SKIP PAST LAST ROW (round 13 — VERDICT r12 #3:
  // the SQL:2016 default emission convention, taken one feature past
  // q71's grammar work). Pattern `up down up` over each nation's
  // monthly revenue deltas is the OVERLAPPING-match case the
  // all-matches convention emits twice: the trailing up-run of one
  // rally–dip–rebound is the leading up-run of the next. With
  // afterMatch = skip_past_last_row the kernel keeps the greedy
  // non-overlapping subset (earliest match wins, search resumes after
  // its last run). The oracle replays greedy selection relationally:
  // because each match spans exactly 3 runs and candidate starts in a
  // chain differ by exactly 2 runs (the shared up-run — adjacent runs
  // can't repeat a symbol, so no candidate starts 1 or 3 runs after
  // another in the same chain), overlap is neighbor-only and greedy =
  // the ODD-RANKED candidates within each maximal chain of
  // 2-run-spaced candidates. Scale: identical to q63/q70 — one
  // nation-keyed exchange plus the run-grain bounded kept-set fold.
  def q74(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
        .cast("long").as("rev_cents"))
    val w = Window.partitionBy("nation").orderBy("month")
    val deltas = monthly
      .withColumn("__prev_t", lag(col("month"), 1).over(w))
      .withColumn("__delta",
        col("rev_cents") - lag(col("rev_cents"), 1).over(w))
      .filter(col("__delta").isNotNull)
    graft.api.Patterns.matchRecognize(deltas, Seq("nation"), "month",
      defines = Seq("down" -> (col("__delta") < 0),
        "up" -> (col("__delta") > 0), "flat" -> lit(true)),
      pattern = Seq("up", "down", "up"),
      runAggs = Seq("start_t" -> min(col("__prev_t")),
        "end_t" -> max(col("month")), "move" -> sum(col("__delta")),
        "len" -> count(lit(1))),
      afterMatch = "skip_past_last_row")
      .select(col("nation"),
        col("up1_start_t").as("rally_month"),
        col("up1_end_t").as("peak_month"),
        col("down_end_t").as("trough_month"),
        col("up2_end_t").as("rebound_month"),
        col("up1_move").as("rally_cents"),
        (-col("down_move")).as("drop_cents"),
        col("up2_move").as("rebound_cents"),
        col("up1_len"), col("down_len"), col("up2_len"))
      .orderBy("nation", "rally_month")
  }

  val q74Sql: String =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nation, strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
      |      AS rev_cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |d AS (
      |  SELECT nation, month, rev_cents,
      |    lag(month) OVER w AS prev_month,
      |    rev_cents - lag(rev_cents) OVER w AS delta
      |  FROM monthly WINDOW w AS (PARTITION BY nation ORDER BY month)),
      |sgn AS (
      |  SELECT *, CASE WHEN delta > 0 THEN 1 WHEN delta < 0 THEN -1
      |    ELSE 0 END AS sig
      |  FROM d WHERE delta IS NOT NULL),
      |chg AS (
      |  SELECT *, CASE WHEN sig = lag(sig)
      |      OVER (PARTITION BY nation ORDER BY month) THEN 0 ELSE 1 END AS c
      |  FROM sgn),
      |rid AS (
      |  SELECT *, sum(c) OVER (PARTITION BY nation ORDER BY month
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM chg),
      |runs AS (
      |  SELECT nation, run_id, max(sig) AS sig,
      |    min(prev_month) AS start_month, max(month) AS end_month,
      |    CAST(sum(delta) AS BIGINT) AS move, count(*) AS len
      |  FROM rid GROUP BY 1, 2),
      |tri AS (
      |  SELECT nation, run_id, sig,
      |    lead(sig, 1) OVER rw AS sig1, lead(sig, 2) OVER rw AS sig2,
      |    start_month, end_month,
      |    lead(end_month, 1) OVER rw AS end1,
      |    lead(end_month, 2) OVER rw AS end2,
      |    move, lead(move, 1) OVER rw AS move1,
      |    lead(move, 2) OVER rw AS move2,
      |    len, lead(len, 1) OVER rw AS len1, lead(len, 2) OVER rw AS len2
      |  FROM runs WINDOW rw AS (PARTITION BY nation ORDER BY run_id)),
      |cand AS (
      |  SELECT * FROM tri WHERE sig = 1 AND sig1 = -1 AND sig2 = 1),
      |isl AS (
      |  SELECT *, CASE WHEN run_id - lag(run_id)
      |      OVER (PARTITION BY nation ORDER BY run_id) = 2
      |    THEN 0 ELSE 1 END AS nc
      |  FROM cand),
      |num AS (
      |  SELECT *, sum(nc) OVER (PARTITION BY nation ORDER BY run_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM isl),
      |sel AS (
      |  SELECT *, row_number() OVER (PARTITION BY nation, island
      |    ORDER BY run_id) AS rn
      |  FROM num)
      |SELECT nation, start_month AS rally_month, end_month AS peak_month,
      |  end1 AS trough_month, end2 AS rebound_month,
      |  move AS rally_cents, -move1 AS drop_cents, move2 AS rebound_cents,
      |  len AS up1_len, len1 AS down_len, len2 AS up2_len
      |FROM sel WHERE rn % 2 = 1
      |ORDER BY nation, rally_month""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q73_forecast_interval" -> (q73 _),
    "q74_pattern_skip" -> (q74 _),
    "q71_pattern_grammar" -> (q71 _),
    "q72_holt_forecast" -> (q72 _),
    "q70_pattern_rebound" -> (q70 _),
    "q69_sparse_distinct" -> (q69 _),
    "q68_equidepth" -> (q68 _),
    "q67_recursive_cte" -> (q67 _),
    "q66_ks_test" -> (q66 _),
    "q65_audience_overlap" -> (q65 _),
    "q64_bitmap_distinct" -> (q64 _),
    "q63_match_recognize" -> (q63 _),
    "q62_seasonal" -> (q62 _),
    "q61_runtime_filter" -> (q61 _),
    "q60_ewma" -> (q60 _),
    "q59_chi_square" -> (q59 _),
    "q58_sketch_rollup" -> (q58 _),
    "q57_interval_overlap" -> (q57 _),
    "q56_hierarchy_rollup" -> (q56 _),
    "q55_bootstrap_ci" -> (q55 _),
    "q54_asof_nearest" -> (q54 _),
    "q53_mad_outliers" -> (q53 _),
    "q52_weighted_median" -> (q52 _),
    "q51_interval_merge" -> (q51 _),
    "q50_sliding_distinct" -> (q50 _),
    "q49_outliers" -> (q49 _),
    "q47_listagg" -> (q47 _),
    "q48_scd2_join" -> (q48 _),
    "q45_mode" -> (q45 _),
    "q46_gap_fill" -> (q46 _),
    "q44_asof_forward" -> (q44 _),
    "q43_asof_outer" -> (q43 _),
    "q42_topk_agg" -> (q42 _),
    "q41_heavy_hitters" -> (q41 _),
    "q39_approx_quantiles" -> (q39 _),
    "q40_correlation" -> (q40 _),
    "q37_rank_funcs" -> (q37 _),
    "q38_array_ops" -> (q38 _),
    "q01_pricing_summary" -> (q01 _),
    "q02_filter_project" -> (q02 _),
    "q03_topk_revenue" -> (q03 _),
    "q04_order_priority" -> (q04 _),
    "q05_local_supplier" -> (q05 _),
    "q06_forecast_revenue" -> (q06 _),
    "q07_anti_join" -> (q07 _),
    "q08_semi_join" -> (q08 _),
    "q09_window_topk" -> (q09 _),
    "q10_running_sum" -> (q10 _),
    "q11_lag_delta" -> (q11 _),
    "q12_distinct_agg" -> (q12 _),
    "q13_rollup" -> (q13 _),
    "q14_cube" -> (q14 _),
    "q15_grouping_sets" -> (q15 _),
    "q16_having" -> (q16 _),
    "q17_set_ops" -> (q17 _),
    "q18_case_agg" -> (q18 _),
    "q19_correlated_subq" -> (q19 _),
    "q20_scalar_subq" -> (q20 _),
    "q21_asof_join" -> (q21 _),
    "q22_range_join" -> (q22 _),
    "q23_pivot" -> (q23 _),
    "q24_percentiles" -> (q24 _),
    "q25_approx_distinct" -> (q25 _),
    "q26_asof_custom" -> (q26 _),
    "q27_range_frame" -> (q27 _),
    "q28_unpivot" -> (q28 _),
    "q29_sample" -> (q29 _),
    "q30_set_ops_all" -> (q30 _),
    "q31_arg_minmax" -> (q31 _),
    "q32_date_parts" -> (q32 _),
    "q33_string_funcs" -> (q33 _),
    "q34_histogram" -> (q34 _),
    "q35_nav_window" -> (q35 _),
    "q36_skew_salted" -> (q36 _))

  val oracles: Map[String, String] = Map(
    "q73_forecast_interval" -> q73Sql,
    "q74_pattern_skip" -> q74Sql,
    "q71_pattern_grammar" -> q71Sql,
    "q72_holt_forecast" -> q72Sql,
    "q70_pattern_rebound" -> q70Sql,
    "q69_sparse_distinct" -> q69Sql,
    "q68_equidepth" -> q68Sql,
    "q67_recursive_cte" -> q67Sql,
    "q66_ks_test" -> q66Sql,
    "q65_audience_overlap" -> q65Sql,
    "q64_bitmap_distinct" -> q64Sql,
    "q63_match_recognize" -> q63Sql,
    "q62_seasonal" -> q62Sql,
    "q61_runtime_filter" -> q61Sql,
    "q60_ewma" -> q60Sql,
    "q59_chi_square" -> q59Sql,
    "q58_sketch_rollup" -> q58Sql,
    "q57_interval_overlap" -> q57Sql,
    "q56_hierarchy_rollup" -> q56Sql,
    "q55_bootstrap_ci" -> q55Sql,
    "q54_asof_nearest" -> q54Sql,
    "q53_mad_outliers" -> q53Sql,
    "q52_weighted_median" -> q52Sql,
    "q51_interval_merge" -> q51Sql,
    "q50_sliding_distinct" -> q50Sql,
    "q49_outliers" -> q49Sql,
    "q47_listagg" -> q47Sql,
    "q48_scd2_join" -> q48Sql,
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_topk_revenue" -> q03Sql,
    "q04_order_priority" -> q04Sql,
    "q05_local_supplier" -> q05Sql,
    "q06_forecast_revenue" -> q06Sql,
    "q07_anti_join" -> q07Sql,
    "q08_semi_join" -> q08Sql,
    "q09_window_topk" -> q09Sql,
    "q10_running_sum" -> q10Sql,
    "q11_lag_delta" -> q11Sql,
    "q12_distinct_agg" -> q12Sql,
    "q13_rollup" -> q13Sql,
    "q14_cube" -> q14Sql,
    "q15_grouping_sets" -> q15Sql,
    "q16_having" -> q16Sql,
    "q17_set_ops" -> q17Sql,
    "q18_case_agg" -> q18Sql,
    "q19_correlated_subq" -> q19Sql,
    "q20_scalar_subq" -> q20Sql,
    "q21_asof_join" -> q21Sql,
    "q22_range_join" -> q22Sql,
    "q23_pivot" -> q23Sql,
    "q24_percentiles" -> q24Sql,
    "q25_approx_distinct" -> q25Sql,
    "q26_asof_custom" -> q26Sql, // tie-pinned twin of q21's native-ASOF oracle
    "q27_range_frame" -> q27Sql,
    "q28_unpivot" -> q28Sql,
    "q29_sample" -> q29Sql,
    "q30_set_ops_all" -> q30Sql,
    "q31_arg_minmax" -> q31Sql,
    "q32_date_parts" -> q32Sql,
    "q33_string_funcs" -> q33Sql,
    "q34_histogram" -> q34Sql,
    "q35_nav_window" -> q35Sql,
    "q36_skew_salted" -> q36Sql,
    "q37_rank_funcs" -> q37Sql,
    "q38_array_ops" -> q38Sql,
    "q39_approx_quantiles" -> q39Sql,
    "q40_correlation" -> q40Sql,
    "q41_heavy_hitters" -> q41Sql,
    "q42_topk_agg" -> q42Sql,
    "q43_asof_outer" -> q43Sql,
    "q44_asof_forward" -> q44Sql,
    "q45_mode" -> q45Sql,
    "q46_gap_fill" -> q46Sql)
}
