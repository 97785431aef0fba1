package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.{Graphs, Relational, Scale, Stats}

/** Round-9 inference + planning batch: disjunctive-predicate pricing (TPC-H
  * Q19 shape), sole-late-supplier accountability (Q21 shape, re-expressed as
  * one aggregation pass instead of correlated EXISTS self-joins),
  * data-constrained epoch allocation, rater agreement (Cohen's kappa),
  * delete-one-source jackknife, Welch's t-test, winsorized means, and a
  * deterministic integer-arithmetic PageRank whose oracle replays all eight
  * power iterations in SQL.
  *
  * Oracle discipline unchanged: exact BIGINT/DECIMAL component sums
  * everywhere partial-aggregation order could move a double; doubles only in
  * final per-row formulas written with the SAME operation order in both
  * engines.
  */
object StatQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q175's lateness threshold: a lineitem shipped more than this many days
    * after its order date counts as late. */
  private val lateDays = 300

  /** q176's training budget (tokens) and per-source repeat ceiling — chosen
    * so the sf0.01 corpus lands sources on BOTH sides of the cap. */
  private val epochBudget = 80000L
  private val epochCap = 3.0

  val queries: Map[String, Q] = Map(

    // TPC-H Q19-shaped disjunctive pricing: revenue from three (brand,
    // size-range, quantity-range) AND-groups OR'd together. The point is
    // optimizer behavior: the OR-of-ANDs must reach the scans — the common
    // p_size/l_quantity bounds are pushable per-disjunct, and the plan
    // keeps the partkey equi-join (never a nested-loop over the OR).
    "q174_disjunctive_revenue" -> ((s, d) => {
      import Relational.dec
      val li = table(s, d, "lineitem")
      val p = table(s, d, "part")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#19" && col("p_size").between(10, 30) &&
            col("l_quantity").between(15, 35)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(20, 50) &&
            col("l_quantity").between(30, 50)))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
    }),

    // TPC-H Q21-shaped sole-late-supplier count: for each supplier, the
    // number of multi-supplier orders where THEY were the only supplier to
    // ship late. Classic formulation is two correlated EXISTS self-joins on
    // lineitem; this plan folds both into ONE (orderkey, suppkey) aggregate
    // + one orderkey roll-up — two keyed shuffles over data that shrinks at
    // each step, no self-join of the fact table against itself. Top-10 via
    // TakeOrderedAndProject.
    "q175_sole_late_supplier" -> ((s, d) => {
      val li = table(s, d, "lineitem")
        .join(table(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
            .cast("int").as("__late"))
      val perSupp = li.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("__late")).as("__late"))
      val perOrder = perSupp.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("__n_supps"), sum(col("__late")).as("__n_late"))
      Relational.topK(
        perSupp.where(col("__late") === 1)
          .join(perOrder.where(col("__n_supps") > 1 && col("__n_late") === 1),
            "l_orderkey")
          .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name")).agg(count(lit(1)).as("numwait")),
        10, col("numwait").desc, col("s_name").asc)
    }),

    // Data-constrained epoch allocation: budgeted repeats per source under
    // a hard epoch cap, capped sources' leftover redistributed once. See
    // Scale.epochAllocation.
    "q176_epoch_allocation" -> ((s, d) =>
      Scale.epochAllocation(table(s, d, "documents"), "source", "text",
        budget = epochBudget, maxEpochs = epochCap)),

    // Chance-corrected agreement between two heuristic quality raters
    // (char-length gate vs token-count gate) — the sanity sheet before
    // trusting either as a filter. See Stats.cohenKappa.
    "q177_rater_kappa" -> ((s, d) =>
      Stats.cohenKappa(table(s, d, "documents"),
        col("n_chars") >= 300,
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1) >= 52)),

    // Delete-one-source jackknife of mean document length: how far the
    // corpus mean moves with each source removed, plus pseudo-value
    // influence. See Stats.jackknifeByGroup.
    "q178_jackknife_source" -> ((s, d) =>
      Stats.jackknifeByGroup(table(s, d, "documents"), "source", "n_chars")),

    // Welch's unequal-variance t-test: does click's value distribution
    // differ from view's? Exact component sums, one 1-row aggregate. See
    // Stats.welchTTest.
    "q179_welch_ttest" -> ((s, d) =>
      Stats.welchTTest(table(s, d, "events"), "event_type", "value",
        groupA = "click", groupB = "view")),

    // Per-type winsorized mean of event value at the exact [p05, p95]
    // percentiles — the outlier-robust average. See Stats.winsorizedMean.
    "q180_winsorized_mean" -> ((s, d) =>
      Stats.winsorizedMean(table(s, d, "events"), "event_type", "value",
        pLo = 0.05, pHi = 0.95)),

    // Corpus-level TextRank: PageRank over the token-adjacency graph in
    // exact BIGINT micro-units, eight power iterations, top-30 terms. The
    // oracle replays the identical integer iteration in unrolled SQL. See
    // Graphs.tokenPageRank.
    "q181_token_pagerank" -> ((s, d) =>
      Relational.topK(Graphs.tokenPageRank(table(s, d, "documents"), "text", iters = 8),
        30, col("rank_mu").desc, col("node").asc)),

    // HITS hubs & authorities on the same token bigram graph — the
    // two-sided importance sheet beside q181's single PageRank score:
    // alternating h = W·a / a = Wᵀ·h in exact BIGINT micro-units with
    // per-half-step L1 floor-div normalization, eight rounds unrolled
    // verbatim in the oracle. See Graphs.hits.
    "q326_hits" -> ((s, d) =>
      Graphs.hits(Graphs.tokenBigramEdges(table(s, d, "documents"), "text"),
        "src", "dst", "w")),

    // Personalized PageRank on the token bigram graph, teleporting to
    // doc 0's tokens — graph proximity to a seed vocabulary, the
    // seed-expansion score q181's global ranking flattens away. Same
    // exact integer iteration; see Graphs.personalizedPageRank.
    "q289_personalized_ppr" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val toks = docs.select(split(col("text"), " ").as("t"))
        .where(size(col("t")) >= 2)
      val bigrams = toks
        .select(posexplode(col("t")).as(Seq("__i", "__a")), col("t"))
        .where(col("__i") < size(col("t")) - 1)
        .select(col("__a").as("src"),
          col("t").getItem(col("__i") + 1).as("dst"))
        .where(col("src") =!= "" && col("dst") =!= "")
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      val seeds = docs.where(col("doc_id") === 0)
        .select(explode(split(col("text"), " ")).as("node"))
        .where(col("node") =!= "")
      Relational.topK(
        Graphs.personalizedPageRank(bigrams, "src", "dst", "w", seeds,
          iters = 8),
        30, col("rank_mu").desc, col("node").asc)
    }),

    // TPC-H Q14-shaped promo revenue share by ship month: a conditional-
    // aggregate ratio — one scan, one keyed agg, the CASE filter never
    // forces a second pass. Revenue components are exact decimals; the
    // share is one final double expression.
    "q169_promo_share" -> ((s, d) => {
      import Relational.dec
      val rev = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
      table(s, d, "lineitem")
        .join(table(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .agg(count(lit(1)).as("n_items"),
          (lit(100.0) *
            coalesce(sum(when(col("p_type") === "PROMO", rev)).cast("double"), lit(0.0)) /
            sum(rev).cast("double")).as("promo_share"))
    }),

    // Per-returnflag OLS of extended price on quantity: slope ≈ effective
    // unit price, r² = how much of price variance quantity explains. See
    // Stats.olsByGroup (closed form over five exact component sums).
    "q170_price_qty_ols" -> ((s, d) =>
      Stats.olsByGroup(table(s, d, "lineitem"), "l_returnflag",
        "l_quantity", "l_extendedprice")),

    // Simpson's-paradox screen: per-ship-month price~quantity slope
    // beside the pooled slope with a sign-reversal flag — the
    // confounding/stability audit before trusting q170's aggregate
    // relationship. See Stats.simpsonAudit.
    "q288_simpson_audit" -> ((s, d) =>
      Stats.simpsonAudit(
        table(s, d, "lineitem")
          .withColumn("ship_month", month(col("l_shipdate"))),
        "ship_month", "l_quantity", "l_extendedprice")),

    // Deterministic RANSAC consensus line of n_chars on token count —
    // the outlier-surviving fit beside q199's OLS and q206's Theil-Sen:
    // 32 hash-seeded two-point models, inliers within 200 chars, best
    // consensus wins. See Robust.ransacLine.
    "q287_ransac_fit" -> ((s, d) =>
      graft.operators.Robust.ransacLine(table(s, d, "documents"),
        "doc_id", size(split(col("text"), " ")), col("n_chars"),
        nModels = 32, tol = 200.0)),

    // Per-type Spearman correlation between event value and event TIME —
    // the monotone-drift probe (is value creeping up over the month?).
    // Tie-aware Pearson-on-average-ranks; see Stats.spearmanByGroup.
    "q171_value_time_spearman" -> ((s, d) =>
      Stats.spearmanByGroup(
        table(s, d, "events").withColumn("t_us", unix_micros(col("ts"))),
        "event_type", "value", "t_us")),

    // Event-type × day-of-week chi-square contingency screen: per-cell
    // observed/expected/chi-term/Pearson-residual — the drill-down of a
    // weekly-rhythm independence test. Day-of-week is pure integer
    // arithmetic (days-since-epoch mod 7) so both engines bucket
    // identically. See Stats.contingencyScreen.
    "q172_dow_contingency" -> ((s, d) =>
      Stats.contingencyScreen(
        table(s, d, "events").withColumn("dow",
          (datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) % 7)
            .cast("long")),
        "event_type", "dow")),

    // Daily-volume autocorrelation per event type at lags 1–3: Pearson on
    // (v_t, v_{t+k}) pairs of the per-day count series. The series table is
    // one row per (type, day) — the ACF join runs on that, never the raw
    // events. See Stats.acfByKey.
    "q173_daily_acf" -> ((s, d) => {
      val daily = table(s, d, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day_idx"))
        .agg(count(lit(1)).as("n_events"))
      Stats.acfByKey(daily, "event_type", "day_idx", "n_events", maxLag = 3)
    }))

  /** The word-bigram graph of the q181/q289/q326 oracles (no WITH): edges
    * `bi(src, dst, w)` between adjacent non-empty tokens of docs with at
    * least 2 tokens; `mat` ("" or "MATERIALIZED ") hints `bi`. */
  private def bigramGraphCte(mat: String): String =
    s"""toks AS (
       |  SELECT string_split(text, ' ') AS t FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |pairs AS (
       |  SELECT unnest([[t[i], t[i+1]] for i in range(1, len(t))]) AS p FROM toks),
       |bi AS $mat(
       |  SELECT p[1] AS src, p[2] AS dst, count(*) AS w FROM pairs
       |  WHERE p[1] <> '' AND p[2] <> '' GROUP BY 1, 2)""".stripMargin

  /** The exact DECIMAL moment sums sx, sy, sxy, sxx of lineitem's
    * (quantity, extendedprice) — the q170/q288 regression inputs. */
  private val qtyPriceSums =
    """sum(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
      |    sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
      |    sum(CAST(l_quantity AS DECIMAL(12,2)) *
      |        CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
      |    sum(CAST(l_quantity AS DECIMAL(12,2)) *
      |        CAST(l_quantity AS DECIMAL(12,2))) AS sxx""".stripMargin

  /** The q170 closed-form OLS slope over n, sx, sy, sxy, sxx (NULL when
    * the x spread is 0), in Stats' operation order. */
  private val olsSlope =
    """CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0 THEN NULL
      |      ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END""".stripMargin

  /** The q181 oracle: bigram graph CTEs + eight unrolled integer PageRank
    * iterations (r1..r8), each `(15·S) // (100·n) + (85·in) // 100` with
    * BIGINT `//` — bit-identical to the Spark loop. */
  private def pageRankSql(iters: Int): String = {
    val base = "(15 * CAST(1000000000 AS BIGINT)) // (100 * (SELECT nn FROM n))"
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT nd.node,
         |    CAST($base + (85 * coalesce(c.inw, CAST(0 AS BIGINT))) // 100
         |      AS BIGINT) AS rank_mu
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(sum((p.rank_mu * e.w) // o.out_w) AS BIGINT) AS inw
         |    FROM r${k - 1} p JOIN bi e ON e.src = p.node
         |    JOIN outw o ON o.src = e.src
         |    GROUP BY e.dst) c ON c.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bigramGraphCte("")},
       |nodes AS (SELECT src AS node FROM bi UNION SELECT dst FROM bi),
       |outw AS (SELECT src, sum(w) AS out_w FROM bi GROUP BY src),
       |n AS (SELECT count(*) AS nn FROM nodes),
       |r0 AS (
       |  SELECT node, CAST(1000000000 AS BIGINT) // (SELECT nn FROM n) AS rank_mu
       |  FROM nodes),
       |$steps
       |SELECT node, rank_mu,
       |  CAST(rank_mu AS DOUBLE) / 1000000000.0 AS rank
       |FROM r$iters ORDER BY rank_mu DESC, node ASC LIMIT 30""".stripMargin
  }

  /** The q326 oracle: q181's bigram-graph CTEs + `iters` unrolled HITS
    * rounds, each half-step mirroring Graphs.hits µ for µ — raw mass as
    * an exact BIGINT sum, L1 total, (raw·scale) // greatest(S, 1)
    * normalize. */
  private def hitsSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""hf$k AS MATERIALIZED (
         |  SELECT nd.node, coalesce(r.raw, CAST(0 AS BIGINT)) AS raw
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.src AS node, CAST(sum(e.w * p.a) AS BIGINT) AS raw
         |    FROM a${k - 1} p JOIN bi e ON e.dst = p.node
         |    GROUP BY e.src) r ON r.node = nd.node),
         |sh$k AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM hf$k),
         |h$k AS MATERIALIZED (SELECT node, CAST((raw * 1000000)
         |    // greatest((SELECT s FROM sh$k), 1) AS BIGINT) AS h
         |  FROM hf$k),
         |af$k AS MATERIALIZED (
         |  SELECT nd.node, coalesce(r.raw, CAST(0 AS BIGINT)) AS raw
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(e.w * p.h) AS BIGINT) AS raw
         |    FROM h$k p JOIN bi e ON e.src = p.node
         |    GROUP BY e.dst) r ON r.node = nd.node),
         |sa$k AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM af$k),
         |a$k AS MATERIALIZED (SELECT node, CAST((raw * 1000000)
         |    // greatest((SELECT s FROM sa$k), 1) AS BIGINT) AS a
         |  FROM af$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bigramGraphCte("MATERIALIZED ")},
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM bi UNION SELECT dst FROM bi),
       |n AS (SELECT count(*) AS nn FROM nodes),
       |a0 AS (
       |  SELECT node, CAST(1000000 AS BIGINT) // (SELECT nn FROM n) AS a
       |  FROM nodes),
       |$steps
       |SELECT h$iters.node, h$iters.h AS hub_mu, a$iters.a AS auth_mu,
       |  CAST(h$iters.h AS DOUBLE) / 1000000.0 AS hub,
       |  CAST(a$iters.a AS DOUBLE) / 1000000.0 AS authority
       |FROM h$iters JOIN a$iters ON h$iters.node = a$iters.node""".stripMargin
  }

  /** The q289 oracle: the q181 bigram-graph CTEs + seed marking +
    * `iters` unrolled personalized-teleport rounds, mirroring
    * Graphs.personalizedPageRank µ for µ. */
  private def pprSql(iters: Int): String = {
    val floor =
      "(15 * CAST(1000000000 AS BIGINT)) // (100 * (SELECT ss FROM ns))"
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT m.node, m.seed,
         |    CAST(CASE WHEN m.seed = 1 THEN $floor
         |        ELSE CAST(0 AS BIGINT) END
         |      + (85 * coalesce(c.inw, CAST(0 AS BIGINT))) // 100
         |      AS BIGINT) AS rank_mu
         |  FROM mark m LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(sum((p.rank_mu * e.w) // o.out_w) AS BIGINT) AS inw
         |    FROM r${k - 1} p JOIN bi e ON e.src = p.node
         |    JOIN outw o ON o.src = e.src
         |    GROUP BY e.dst) c ON c.node = m.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bigramGraphCte("")},
       |nodes AS (SELECT src AS node FROM bi UNION SELECT dst FROM bi),
       |outw AS (SELECT src, sum(w) AS out_w FROM bi GROUP BY src),
       |seeds0 AS (
       |  SELECT DISTINCT unnest(string_split(text, ' ')) AS node
       |  FROM documents WHERE doc_id = 0),
       |sd AS (SELECT n2.node FROM nodes n2
       |  JOIN seeds0 s0 ON n2.node = s0.node WHERE n2.node <> ''),
       |ns AS (SELECT count(*) AS ss FROM sd),
       |mark AS (SELECT nodes.node,
       |    CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END AS seed
       |  FROM nodes LEFT JOIN sd ON nodes.node = sd.node),
       |r0 AS (
       |  SELECT node, seed,
       |    CASE WHEN seed = 1
       |      THEN CAST(1000000000 AS BIGINT) // (SELECT ss FROM ns)
       |      ELSE CAST(0 AS BIGINT) END AS rank_mu
       |  FROM mark),
       |$steps
       |SELECT node, rank_mu,
       |  CAST(rank_mu AS DOUBLE) / 1000000000.0 AS rank,
       |  seed = 1 AS is_seed
       |FROM r$iters ORDER BY rank_mu DESC, node ASC LIMIT 30""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "q289_personalized_ppr" -> pprSql(8),

    "q169_promo_share" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  count(*) AS n_items,
        |  100.0 * coalesce(CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(12,2))) END) AS DOUBLE), 0.0)
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,

    // Mirrors Robust.ransacLine seed-for-seed: rank by the hash AS
    // DOUBLE (TopKAgg's score domain — the long→double rounding is
    // identical in both engines) with id tie-break, pair consecutive
    // ranks, same slope/intercept/residual operation order.
    "q287_ransac_fit" -> {
      val h = ScaleQueries.duckHash60("doc_id")
      s"""WITH pts AS (
         |  SELECT doc_id AS id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
         |    n_chars AS y
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (
         |    ORDER BY CAST($h AS DOUBLE) ASC, id ASC) AS rn
         |  FROM (SELECT *, id AS doc_id FROM pts)),
         |seeds AS (SELECT (rn - 1) // 2 AS model_id, (rn - 1) % 2 AS half,
         |    x, y
         |  FROM r WHERE rn <= 64),
         |m0 AS (SELECT model_id,
         |    min(CASE WHEN half = 0 THEN x END) AS x1,
         |    min(CASE WHEN half = 0 THEN y END) AS y1,
         |    min(CASE WHEN half = 1 THEN x END) AS x2,
         |    min(CASE WHEN half = 1 THEN y END) AS y2
         |  FROM seeds GROUP BY 1),
         |m1 AS (SELECT model_id,
         |    (CAST(y2 AS DOUBLE) - CAST(y1 AS DOUBLE))
         |      / (CAST(x2 AS DOUBLE) - CAST(x1 AS DOUBLE)) AS slope,
         |    x1, y1
         |  FROM m0 WHERE x1 <> x2),
         |m AS (SELECT model_id, slope,
         |    CAST(y1 AS DOUBLE) - slope * CAST(x1 AS DOUBLE) AS intercept
         |  FROM m1),
         |sc AS (SELECT m.model_id, m.slope, m.intercept,
         |    CAST(sum(CASE WHEN abs(CAST(p.y AS DOUBLE)
         |        - (m.intercept + m.slope * CAST(p.x AS DOUBLE)))
         |      <= CAST(200.0 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_inliers,
         |    CAST(count(*) AS BIGINT) AS n_total
         |  FROM pts p CROSS JOIN m GROUP BY 1, 2, 3)
         |SELECT model_id, slope, intercept, n_inliers, n_total,
         |  CAST(n_inliers AS DOUBLE) / CAST(n_total AS DOUBLE)
         |    AS inlier_frac
         |FROM sc ORDER BY n_inliers DESC, model_id ASC LIMIT 1""".stripMargin
    },

    // Mirrors Stats.simpsonAudit: the q170 closed form per stratum and
    // pooled, sign comparison on the identical final doubles.
    "q288_simpson_audit" ->
      s"""WITH a AS (
        |  SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
        |    count(*) AS n,
        |    $qtyPriceSums
        |  FROM lineitem GROUP BY 1),
        |per AS (
        |  SELECT ship_month, n,
        |    $olsSlope AS slope
        |  FROM a),
        |ap AS (
        |  SELECT count(*) AS n,
        |    $qtyPriceSums
        |  FROM lineitem),
        |pool AS (
        |  SELECT $olsSlope
        |      AS pooled_slope
        |  FROM ap)
        |SELECT per.ship_month, per.n, per.slope, pool.pooled_slope,
        |  CASE WHEN per.slope IS NULL OR pool.pooled_slope IS NULL
        |    THEN NULL
        |    ELSE sign(per.slope) <> sign(pool.pooled_slope) END AS reversed
        |FROM per CROSS JOIN pool""".stripMargin,

    "q170_price_qty_ols" ->
      s"""WITH a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    $qtyPriceSums,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |        CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT l_returnflag, n,
        |    ${OracleSql.centeredMoments},
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM a)
        |SELECT l_returnflag, n,
        |  CASE WHEN dxx = 0.0 THEN NULL ELSE dxy / dxx END AS slope,
        |  CASE WHEN dxx = 0.0 THEN NULL
        |       ELSE (syd - (dxy / dxx) * sxd) / CAST(n AS DOUBLE) END AS intercept,
        |  CASE WHEN dxx = 0.0 OR dyy = 0.0 THEN NULL
        |       ELSE (dxy * dxy) / (dxx * dyy) END AS r2
        |FROM m""".stripMargin,

    "q171_value_time_spearman" ->
      """WITH r AS (
        |  SELECT event_type,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY value)
        |      + count(*) OVER (PARTITION BY event_type, value) - 1 AS ra,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY epoch_us(ts))
        |      + count(*) OVER (PARTITION BY event_type, epoch_us(ts)) - 1 AS rb
        |  FROM events),
        |a AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(ra) AS BIGINT) AS sa, CAST(sum(rb) AS BIGINT) AS sb,
        |    sum(CAST(ra AS HUGEINT) * CAST(rb AS HUGEINT)) AS sab,
        |    sum(CAST(ra AS HUGEINT) * CAST(ra AS HUGEINT)) AS saa,
        |    sum(CAST(rb AS HUGEINT) * CAST(rb AS HUGEINT)) AS sbb
        |  FROM r GROUP BY 1),
        |m AS (
        |  SELECT event_type, n,
        |    CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) AS num,
        |    CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) AS da,
        |    CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
        |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) AS db
        |  FROM a)
        |SELECT event_type, n,
        |  CASE WHEN da = 0.0 OR db = 0.0 THEN NULL
        |       ELSE num / sqrt(da * db) END AS rho
        |FROM m""".stripMargin,

    "q172_dow_contingency" ->
      """WITH cells AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
        |      AS BIGINT) AS dow,
        |    count(*) AS observed
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(observed) AS BIGINT) AS r_tot
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT dow, CAST(sum(observed) AS BIGINT) AS c_tot
        |       FROM cells GROUP BY 1),
        |g AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM cells),
        |e AS (
        |  SELECT cells.event_type, cells.dow, observed,
        |    CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS expected
        |  FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), g)
        |SELECT event_type, dow, observed, expected,
        |  pow(CAST(observed AS DOUBLE) - expected, 2.0) / expected AS chi_term,
        |  (CAST(observed AS DOUBLE) - expected) / sqrt(expected) AS pearson_resid
        |FROM e""".stripMargin,

    "q173_daily_acf" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |      AS day_idx,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |lags AS (SELECT unnest([1, 2, 3]) AS lag),
        |p AS (
        |  SELECT x.event_type, l.lag, x.n_events AS xv, y.n_events AS yv
        |  FROM daily x CROSS JOIN lags l
        |  JOIN daily y ON y.event_type = x.event_type
        |    AND y.day_idx = x.day_idx + l.lag),
        |a AS (
        |  SELECT event_type, lag, count(*) AS n_pairs,
        |    CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
        |    sum(CAST(xv AS HUGEINT) * CAST(yv AS HUGEINT)) AS sxy,
        |    sum(CAST(xv AS HUGEINT) * CAST(xv AS HUGEINT)) AS sxx,
        |    sum(CAST(yv AS HUGEINT) * CAST(yv AS HUGEINT)) AS syy
        |  FROM p GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, lag, n_pairs,
        |    CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
        |    CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy
        |  FROM a)
        |SELECT event_type, lag, n_pairs,
        |  CASE WHEN dx = 0.0 OR dy = 0.0 THEN NULL
        |       ELSE num / sqrt(dx * dy) END AS acf
        |FROM m""".stripMargin,

    "q174_disjunctive_revenue" ->
      """SELECT p_brand, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 15 AND 35)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 30 AND 50)
        |GROUP BY p_brand""".stripMargin,

    "q175_sole_late_supplier" ->
      s"""WITH li AS (
         |  SELECT l.l_orderkey, l.l_suppkey,
         |    CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL $lateDays DAY
         |         THEN 1 ELSE 0 END AS late
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |ps AS (
         |  SELECT l_orderkey, l_suppkey, max(late) AS late
         |  FROM li GROUP BY 1, 2),
         |po AS (
         |  SELECT l_orderkey, count(*) AS n_supps, sum(late) AS n_late
         |  FROM ps GROUP BY 1)
         |SELECT s.s_name, count(*) AS numwait
         |FROM ps JOIN po USING (l_orderkey)
         |JOIN supplier s ON ps.l_suppkey = s.s_suppkey
         |WHERE ps.late = 1 AND po.n_supps > 1 AND po.n_late = 1
         |GROUP BY s.s_name
         |ORDER BY numwait DESC, s_name ASC LIMIT 10""".stripMargin,

    "q176_epoch_allocation" ->
      s"""WITH mass AS (
         |  SELECT source,
         |    CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY source),
         |m2 AS (
         |  SELECT source, n_tokens,
         |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_mu
         |  FROM mass),
         |tw AS (SELECT sum(w_mu) AS tw FROM m2),
         |r1 AS (
         |  SELECT source, n_tokens, w_mu,
         |    CAST(w_mu AS DOUBLE) / CAST(tw AS DOUBLE) AS p_target,
         |    least($epochCap,
         |      CAST(w_mu AS DOUBLE) / CAST(tw AS DOUBLE) * $epochBudget.0
         |        / CAST(n_tokens AS DOUBLE)) AS e1
         |  FROM m2, tw),
         |r1b AS (
         |  SELECT *, e1 >= $epochCap AS capped,
         |    CAST(round(e1 * CAST(n_tokens AS DOUBLE) * 1e6) AS BIGINT) AS alloc1_mu
         |  FROM r1),
         |sp AS (
         |  SELECT sum(alloc1_mu) AS spent_mu,
         |    sum(CASE WHEN NOT capped THEN w_mu END) AS w_unc
         |  FROM r1b),
         |fin AS (
         |  SELECT source, n_tokens, p_target, capped,
         |    CASE WHEN capped OR w_unc IS NULL THEN e1
         |         ELSE least($epochCap, e1 +
         |           greatest(0.0, $epochBudget.0 - CAST(spent_mu AS DOUBLE) / 1e6)
         |             * (CAST(w_mu AS DOUBLE) / CAST(w_unc AS DOUBLE))
         |             / CAST(n_tokens AS DOUBLE)) END AS epochs
         |  FROM r1b, sp)
         |SELECT source, n_tokens, round(p_target, 9) AS p_target,
         |  round(epochs, 9) AS epochs,
         |  CAST(round(round(epochs, 9) * CAST(n_tokens AS DOUBLE)) AS BIGINT)
         |    AS alloc_tokens,
         |  capped
         |FROM fin""".stripMargin,

    "q177_rater_kappa" -> {
      // Cohen's kappa from the 2x2 rater table: observed agreement po and
      // chance agreement pe (both raters' marginals), one fixed order.
      val po = """(CAST(n_yy AS DOUBLE) + CAST(n_nn AS DOUBLE))
        |    / CAST(n_yy + n_yn + n_ny + n_nn AS DOUBLE)""".stripMargin
      val pe = """(CAST(n_yy AS DOUBLE) + CAST(n_yn AS DOUBLE))
        |      / CAST(n_yy + n_yn + n_ny + n_nn AS DOUBLE)
        |    * ((CAST(n_yy AS DOUBLE) + CAST(n_ny AS DOUBLE))
        |      / CAST(n_yy + n_yn + n_ny + n_nn AS DOUBLE))
        |  + (1.0 - (CAST(n_yy AS DOUBLE) + CAST(n_yn AS DOUBLE))
        |      / CAST(n_yy + n_yn + n_ny + n_nn AS DOUBLE))
        |    * (1.0 - (CAST(n_yy AS DOUBLE) + CAST(n_ny AS DOUBLE))
        |      / CAST(n_yy + n_yn + n_ny + n_nn AS DOUBLE))""".stripMargin
      s"""WITH c AS (
        |  SELECT
        |    count(*) FILTER (n_chars >= 300
        |      AND len(string_split(text, ' ')) >= 52) AS n_yy,
        |    count(*) FILTER (n_chars >= 300
        |      AND len(string_split(text, ' ')) < 52) AS n_yn,
        |    count(*) FILTER (n_chars < 300
        |      AND len(string_split(text, ' ')) >= 52) AS n_ny,
        |    count(*) FILTER (n_chars < 300
        |      AND len(string_split(text, ' ')) < 52) AS n_nn
        |  FROM documents)
        |SELECT n_yy, n_yn, n_ny, n_nn,
        |  $po AS po,
        |  $pe AS pe,
        |  CASE WHEN $pe = 1.0
        |  THEN NULL
        |  ELSE ($po
        |    - ($pe))
        |    / (1.0 - ($pe))
        |  END AS kappa
        |FROM c""".stripMargin
    },

    "q178_jackknife_source" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_g,
        |    sum(CAST(n_chars AS DECIMAL(12,2))) AS s_g
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT sum(n_g) AS n, sum(s_g) AS s, count(*) AS g FROM per)
        |SELECT source, n_g,
        |  (CAST(s AS DOUBLE) - CAST(s_g AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - CAST(n_g AS DOUBLE)) AS loo_mean,
        |  CAST(g AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |    - (CAST(g AS DOUBLE) - 1.0)
        |      * ((CAST(s AS DOUBLE) - CAST(s_g AS DOUBLE))
        |        / (CAST(n AS DOUBLE) - CAST(n_g AS DOUBLE))) AS pseudo_value
        |FROM per, tot""".stripMargin,

    "q179_welch_ttest" ->
      """WITH c AS (
        |  SELECT
        |    count(*) FILTER (event_type = 'click') AS n_a,
        |    sum(CAST(value AS DECIMAL(12,2))) FILTER (event_type = 'click') AS sx_a,
        |    sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
        |      FILTER (event_type = 'click') AS sxx_a,
        |    count(*) FILTER (event_type = 'view') AS n_b,
        |    sum(CAST(value AS DECIMAL(12,2))) FILTER (event_type = 'view') AS sx_b,
        |    sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)))
        |      FILTER (event_type = 'view') AS sxx_b
        |  FROM events WHERE event_type = 'click' OR event_type = 'view'),
        |m AS (
        |  SELECT n_a, n_b,
        |    CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
        |    (CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)
        |        / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS var_a,
        |    CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
        |    (CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)
        |        / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS var_b
        |  FROM c)
        |SELECT n_a, mean_a, var_a, n_b, mean_b, var_b,
        |  (mean_a - mean_b)
        |    / sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
        |    AS t_stat,
        |  pow(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE), 2.0)
        |    / (pow(var_a / CAST(n_a AS DOUBLE), 2.0) / (CAST(n_a AS DOUBLE) - 1.0)
        |      + pow(var_b / CAST(n_b AS DOUBLE), 2.0) / (CAST(n_b AS DOUBLE) - 1.0))
        |    AS welch_df
        |FROM m""".stripMargin,

    "q180_winsorized_mean" ->
      """WITH b AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n, b.lo, b.hi,
        |  count(*) FILTER (e.value < b.lo) AS n_lo,
        |  count(*) FILTER (e.value > b.hi) AS n_hi,
        |  (coalesce(CAST(sum(CASE WHEN e.value >= b.lo AND e.value <= b.hi
        |      THEN CAST(e.value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0)
        |    + CAST(count(*) FILTER (e.value < b.lo) AS DOUBLE) * b.lo
        |    + CAST(count(*) FILTER (e.value > b.hi) AS DOUBLE) * b.hi)
        |    / CAST(count(*) AS DOUBLE) AS winsorized_mean
        |FROM events e JOIN b ON e.event_type = b.event_type
        |GROUP BY e.event_type, b.lo, b.hi""".stripMargin,

    "q181_token_pagerank" -> pageRankSql(8),

    "q326_hits" -> hitsSql(8))
}
