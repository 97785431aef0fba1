package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.Relational.dec

/** Round-9 relational batch two: the remaining classic TPC-H optimizer
  * shapes the suite had not yet exercised, each re-grounded on the tables
  * this corpus has (no partsupp):
  *
  *  - q182 (Q17 shape): a correlated scalar-aggregate predicate
  *    (`l_quantity < 0.2 · avg(quantity for this part)`) DECORRELATED into
  *    a per-key aggregate + equi-join-back — the rewrite every engine's
  *    decorrelator performs; here it is declared directly so the plan is
  *    two keyed shuffles, never a per-row subquery.
  *  - q183 (Q13 shape): outer-join count distribution — customers counted
  *    with their URGENT orders preserved through a LEFT join so the
  *    zero-order bucket is a first-class row, then a second aggregate over
  *    the counts. The classic "distribution of activity" report.
  *  - q184 (Q11 shape): a scalar-subquery threshold — per-nation balance
  *    sums kept only when they exceed a fixed share of the GLOBAL total;
  *    the total is a 1-row aggregate broadcast back (the q164 pattern),
  *    not a rescan.
  *  - q185 (Q15 shape): argmax-with-ties via max join-back — top-revenue
  *    supplier(s) of a quarter; revenue totals are exact decimals so the
  *    max equality is deterministic on any engine.
  *  - q186 (Q2 shape): per-group minimum join-back with detail columns —
  *    each part's cheapest supplier by exact-ratio unit cost, ties kept,
  *    restricted to large parts (p_size > 40).
  *  - q187 (Q7 shape): the dual-aliased dimension join — supplier nation ×
  *    customer nation trade volume by year, the same dimension table
  *    entering the plan twice under different roles.
  *
  * Numeric discipline as everywhere: comparisons and outputs derive from
  * exact DECIMAL component sums; doubles appear once, in the same textual
  * formula the DuckDB oracle runs.
  */
object RelQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q182's selectivity knob: a lineitem is a "small order" when its
    * quantity is below this fraction of its part's average. */
  private val smallFrac = 0.2

  /** q184's keep threshold: a nation's share of global supplier balance. */
  private val shareCut = 0.045

  val queries: Map[String, Q] = Map(

    // Q17 shape: revenue locked in small orders of two brands. The
    // correlated `avg(l_quantity) for the same part` is decorrelated into
    // a per-part aggregate joined back on the part key; the avg is the
    // ratio of an exact decimal sum to an exact count, and the comparison
    // multiplies that double by the same literal both engines see.
    "q182_small_order_revenue" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val brands = table(s, d, "part")
        .where(col("p_brand") === "Brand#3" || col("p_brand") === "Brand#14")
        .select(col("p_partkey"))
      val avgQty = li.groupBy(col("l_partkey"))
        .agg((sum(dec(col("l_quantity"))).cast("double") /
          count(lit(1)).cast("double")).as("avg_qty"))
      li.join(brands, col("l_partkey") === col("p_partkey"))
        .join(avgQty, "l_partkey")
        .where(col("l_quantity") < lit(smallFrac) * col("avg_qty"))
        .agg(count(lit(1)).as("n_small"),
          (sum(dec(col("l_extendedprice"))).cast("double") / lit(7.0))
            .as("avg_yearly"))
    }),

    // Q13 shape: how many customers placed exactly k URGENT orders, for
    // every k including 0. The LEFT join keeps order-less customers;
    // count(o_orderkey) counts matches only (NULL-skipping), so the first
    // aggregate yields 0 for them and the second aggregate's k=0 bucket
    // reports customers the filtered fact table never mentions.
    "q183_order_count_distribution" -> ((s, d) => {
      val urgent = table(s, d, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      table(s, d, "customer").select(col("c_custkey"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // Q11 shape: nations holding an outsized share of total supplier
    // account balance. The global total is one broadcast row; the share
    // is a ratio of two exact decimal sums and the threshold compare runs
    // on that double in both engines.
    "q184_nation_balance_share" -> ((s, d) => {
      val bal = table(s, d, "supplier")
        .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"), sum(dec(col("s_acctbal"))).as("__bal"))
      val tot = bal.agg(sum(col("__bal")).as("__tot"))
      bal.crossJoin(broadcast(tot))
        .withColumn("share", col("__bal").cast("double") / col("__tot").cast("double"))
        .where(col("share") > shareCut)
        .select(col("n_name"), col("n_suppliers"),
          col("__bal").cast("double").as("balance"), col("share"))
    }),

    // Q15 shape: the supplier(s) with the maximum revenue in 1996Q1 —
    // argmax via a 1-row max broadcast joined back on exact-decimal
    // equality, ties surviving by construction (no arbitrary pick).
    "q185_top_revenue_supplier" -> ((s, d) => {
      val rev = table(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .as("__rev"))
      val top = rev.agg(max(col("__rev")).as("__max_rev"))
      rev.crossJoin(broadcast(top))
        .where(col("__rev") === col("__max_rev"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("__rev").cast("double").as("total_revenue"))
    }),

    // Q2 shape: each large part's cheapest supplier by unit cost, ties
    // kept. Unit cost is the ratio of two exact decimal sums per
    // (part, supplier) — never an avg of per-row double divisions, which
    // would be partial-order dependent. The per-part min joins back on
    // the (partkey, cost) pair; every supplier achieving the min appears.
    "q186_cheapest_supplier" -> ((s, d) => {
      val bigParts = table(s, d, "part").where(col("p_size") > 40)
        .select(col("p_partkey"), col("p_name"), col("p_size"))
      val cost = table(s, d, "lineitem")
        .join(bigParts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg((sum(dec(col("l_extendedprice"))).cast("double") /
          sum(dec(col("l_quantity"))).cast("double")).as("unit_cost"))
      val minCost = cost.groupBy(col("l_partkey"))
        .agg(min(col("unit_cost")).as("min_cost"))
      cost.join(minCost, "l_partkey")
        .where(col("unit_cost") === col("min_cost"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(bigParts, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey").as("p_partkey"), col("p_name"), col("p_size"),
          col("s_name"), round(col("unit_cost"), 6).as("unit_cost"))
    }),

    // Q7 shape: trade volume between DIFFERENT supplier and customer
    // nations by order year — nation enters twice under two roles, so the
    // planner must keep two independent broadcast joins of the same dim.
    "q187_nation_pair_volume" -> ((s, d) => {
      val sn = table(s, d, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val cn = table(s, d, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("sn_key"))
        .join(cn, col("c_nationkey") === col("cn_key"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .where(col("supp_nation").isin("NATION_1", "NATION_2", "NATION_3") &&
          col("cust_nation").isin("NATION_1", "NATION_2", "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("volume"))
    }))

  val oracle: Map[String, String] = Map(

    "q182_small_order_revenue" ->
      s"""WITH avgq AS (
         |  SELECT l_partkey,
         |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) AS avg_qty
         |  FROM lineitem GROUP BY l_partkey)
         |SELECT count(*) AS n_small,
         |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
         |    AS avg_yearly
         |FROM lineitem l
         |JOIN part p ON l.l_partkey = p.p_partkey
         |JOIN avgq a ON l.l_partkey = a.l_partkey
         |WHERE (p.p_brand = 'Brand#3' OR p.p_brand = 'Brand#14')
         |  AND l.l_quantity < $smallFrac * a.avg_qty""".stripMargin,

    "q183_order_count_distribution" ->
      """WITH per AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT JOIN (SELECT o_orderkey, o_custkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT') o
        |    ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS custdist FROM per GROUP BY c_count""".stripMargin,

    "q184_nation_balance_share" ->
      s"""WITH bal AS (
         |  SELECT n_name, count(*) AS n_suppliers,
         |    sum(CAST(s_acctbal AS DECIMAL(12,2))) AS b
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  GROUP BY n_name),
         |tot AS (SELECT sum(b) AS t FROM bal)
         |SELECT n_name, n_suppliers, CAST(b AS DOUBLE) AS balance,
         |  CAST(b AS DOUBLE) / CAST(t AS DOUBLE) AS share
         |FROM bal, tot
         |WHERE CAST(b AS DOUBLE) / CAST(t AS DOUBLE) > $shareCut""".stripMargin,

    "q185_top_revenue_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |        (1 - CAST(l_discount AS DECIMAL(12,2)))) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey),
        |m AS (SELECT max(r) AS mr FROM rev)
        |SELECT s.s_suppkey, s.s_name, CAST(rev.r AS DOUBLE) AS total_revenue
        |FROM rev, m
        |JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        |WHERE rev.r = m.mr""".stripMargin,

    "q186_cheapest_supplier" ->
      """WITH cost AS (
        |  SELECT l.l_partkey, l.l_suppkey,
        |    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |      / CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |      AS unit_cost
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_size > 40
        |  GROUP BY l.l_partkey, l.l_suppkey),
        |mc AS (
        |  SELECT l_partkey, min(unit_cost) AS min_cost
        |  FROM cost GROUP BY l_partkey)
        |SELECT c.l_partkey AS p_partkey, p.p_name, p.p_size, s.s_name,
        |  round(c.unit_cost, 6) AS unit_cost
        |FROM cost c
        |JOIN mc ON c.l_partkey = mc.l_partkey AND c.unit_cost = mc.min_cost
        |JOIN supplier s ON c.l_suppkey = s.s_suppkey
        |JOIN part p ON c.l_partkey = p.p_partkey""".stripMargin,

    "q187_nation_pair_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(o.o_orderdate) AS o_year,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS volume
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |  AND sn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |GROUP BY sn.n_name, cn.n_name, year(o.o_orderdate)""".stripMargin)
}
