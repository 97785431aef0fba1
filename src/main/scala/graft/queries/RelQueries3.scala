package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.Relational.dec

/** Round-9 relational batch three: the last five classic TPC-H optimizer
  * shapes (Q4, Q9, Q12, Q16, Q20), re-grounded on this corpus's tables —
  * no partsupp, no ship/commit/receipt-mode columns, so each query keeps
  * the SHAPE (what the optimizer must do) while re-deriving the predicate
  * from columns that exist:
  *
  *  - q188 (Q4 shape): EXISTS-style semi join with a non-equi conjunct —
  *    orders that had at least one lineitem shipped > 60 days after the
  *    order date, counted by priority. Declared as a LEFT SEMI join so the
  *    probe never duplicates orders with many late lines; the spec proves
  *    equivalence to the correlated EXISTS form.
  *  - q189 (Q9 shape): multi-fact profit rollup — revenue minus a derived
  *    supply cost (10% of retail price per unit, the corpus's stand-in
  *    for ps_supplycost) by supplier nation and order year, for parts
  *    whose name mentions a colour. Five joins, two derived measures,
  *    exact decimal component sums subtracted once at the end.
  *  - q190 (Q12 shape): two-bucket conditional aggregation — late-shipped
  *    lines (> 90 days after order) split into high- vs low-priority
  *    counts per returnflag. The CASE WHEN pivot-count every engine
  *    compiles to a single pass.
  *  - q191 (Q16 shape): COUNT(DISTINCT) per attribute group with a
  *    NOT-IN blacklist — supplier variety per (brand, type, size) from
  *    the lineitem relationship pairs, excluding negative-balance
  *    suppliers via an anti join (the decorrelated NOT IN).
  *  - q192 (Q20 shape): nested-aggregate semi-join chain — suppliers who
  *    shipped a "bulk" quantity (> 1.5× the per-part mean pair quantity)
  *    of any bolt part in 1995, surfaced as a DISTINCT supplier list.
  *    Two aggregation depths feed a final semi join, the Q20 skeleton
  *    with availqty replaced by the shipped-quantity aggregate.
  *
  * Numeric discipline as everywhere: exact DECIMAL component sums;
  * doubles appear once, in the same textual formula the DuckDB oracle
  * runs.
  */
object RelQueries3 {

  type Q = (SparkSession, String) => DataFrame

  /** q188/q190 lateness thresholds, in days after the order date. */
  private val semiLateDays  = 60
  private val mixLateDays   = 90

  /** q192's bulk multiple of the per-part mean pair quantity. */
  private val bulkFactor = 1.5

  val queries: Map[String, Q] = Map(

    // Q4 shape: priority service report. The EXISTS subquery ("some line
    // of this order shipped late") is a LEFT SEMI join with a non-equi
    // conjunct — one probe hit suffices, orders never duplicate, and the
    // 1995H1 window prunes the build side before the shuffle.
    "q188_priority_late_orders" -> ((s, d) => {
      val ords = table(s, d, "orders")
        .where(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val lines = table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      ords.join(lines,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") +
              expr(s"INTERVAL $semiLateDays DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // Q9 shape: nation/year profit on colour-named parts. Cost has no
    // partsupp source here, so it derives as 10% of the part's retail
    // price per shipped unit — the component sums stay exact decimals
    // and the subtraction happens once, on the two cast doubles, in the
    // identical textual form the oracle runs.
    "q189_nation_type_profit" -> ((s, d) => {
      val redParts = table(s, d, "part")
        .where(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice"))
      table(s, d, "lineitem")
        .join(redParts, col("l_partkey") === col("p_partkey"))
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          (sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double") -
            sum(dec(col("p_retailprice")) * dec(col("l_quantity")))
              .cast("double") / lit(10.0)).as("profit"))
    }),

    // Q12 shape: late-line priority mix. One scan, one keyed aggregate;
    // the two buckets are CASE WHEN counts so the engine never branches
    // the pipeline — the classic conditional-aggregation pivot.
    "q190_late_line_priority_mix" -> ((s, d) => {
      val high = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .where(col("l_shipdate") > col("o_orderdate") +
          expr(s"INTERVAL $mixLateDays DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
    }),

    // Q16 shape: supplier variety per part attribute group. The
    // relationship pairs come from lineitem (the corpus's partsupp);
    // the "complaints" blacklist (negative account balance) is removed
    // with a LEFT ANTI join — the decorrelated NOT IN — BEFORE the
    // distinct count, so excluded suppliers can never inflate a group.
    "q191_part_supplier_counts" -> ((s, d) => {
      val badSupp = table(s, d, "supplier")
        .where(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      val pairs = table(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
      pairs
        .join(table(s, d, "part"),
          col("l_partkey") === col("p_partkey"))
        .where(col("p_brand") =!= "Brand#5" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // Q20 shape: bulk bolt suppliers of 1995. Depth-1 aggregate: shipped
    // quantity per (supplier, part). Depth-2 aggregate: the per-part mean
    // of those pair sums. The bulk predicate compares the two, and the
    // surviving pairs semi-join the supplier dim for the DISTINCT final
    // list — two aggregation depths feeding a semi join, never a
    // correlated rescan.
    "q192_bulk_part_suppliers" -> ((s, d) => {
      val bolts = table(s, d, "part")
        .where(col("p_name").like("%bolt%"))
        .select(col("p_partkey"))
      val pairQty = table(s, d, "lineitem")
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .join(bolts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(dec(col("l_quantity"))).as("__qty"))
      val partMean = pairQty.groupBy(col("l_partkey"))
        .agg((sum(col("__qty")).cast("double") /
          count(lit(1)).cast("double")).as("__mean_qty"))
      val bulkSupp = pairQty.join(partMean, "l_partkey")
        .where(col("__qty").cast("double") > lit(bulkFactor) * col("__mean_qty"))
        .select(col("l_suppkey")).distinct()
      table(s, d, "supplier")
        .join(bulkSupp, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"),
          col("s_acctbal").cast("double").as("s_acctbal"))
    }))

  val oracle: Map[String, String] = Map(

    "q188_priority_late_orders" ->
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM orders o
         |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
         |  AND o.o_orderdate < TIMESTAMP '1995-07-01'
         |  AND EXISTS (
         |    SELECT 1 FROM lineitem l
         |    WHERE l.l_orderkey = o.o_orderkey
         |      AND l.l_shipdate > o.o_orderdate + INTERVAL $semiLateDays DAY)
         |GROUP BY o_orderpriority""".stripMargin,

    "q189_nation_type_profit" ->
      """SELECT n.n_name, year(o.o_orderdate) AS o_year,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |  - CAST(sum(CAST(p.p_retailprice AS DECIMAL(12,2)) *
        |             CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / 10.0
        |    AS profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE p.p_name LIKE '%red%'
        |GROUP BY n.n_name, year(o.o_orderdate)""".stripMargin,

    "q190_late_line_priority_mix" ->
      s"""SELECT l.l_returnflag,
         |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
         |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
         |  AND l.l_shipdate > o.o_orderdate + INTERVAL $mixLateDays DAY
         |GROUP BY l.l_returnflag""".stripMargin,

    "q191_part_supplier_counts" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
        |  count(DISTINCT pr.l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pr
        |JOIN part p ON pr.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#5'
        |  AND p.p_size IN (1, 4, 9, 16, 25, 36)
        |  AND pr.l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p.p_brand, p.p_type, p.p_size""".stripMargin,

    "q192_bulk_part_suppliers" ->
      s"""WITH pq AS (
         |  SELECT l.l_partkey, l.l_suppkey,
         |    sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS q
         |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         |  WHERE p.p_name LIKE '%bolt%'
         |    AND l.l_shipdate >= TIMESTAMP '1995-01-01'
         |    AND l.l_shipdate < TIMESTAMP '1996-01-01'
         |  GROUP BY l.l_partkey, l.l_suppkey),
         |pm AS (
         |  SELECT l_partkey,
         |    CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_q
         |  FROM pq GROUP BY l_partkey)
         |SELECT s.s_suppkey, s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
         |FROM supplier s
         |WHERE s.s_suppkey IN (
         |  SELECT pq.l_suppkey FROM pq JOIN pm ON pq.l_partkey = pm.l_partkey
         |  WHERE CAST(pq.q AS DOUBLE) > $bulkFactor * pm.mean_q)""".stripMargin)
}
