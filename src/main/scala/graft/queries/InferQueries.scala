package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.{Graphs, Inference, Temporal}
import graft.operators.Relational.dec

/** Round-10 inference + association batch: the nonparametric test bench
  * (Mann-Whitney, Kruskal-Wallis, Kendall, BH-FDR), information measures
  * (mutual information, Gini), market-basket association (lift + triangle
  * census), and two temporal cadence profiles (inter-event gaps, weighted
  * moving average).
  *
  * Oracle discipline: rank statistics run on integer value GRIDS (exact
  * BIGINT rank/tie sums — the q158 precedent), cross-group double sums
  * fold LEFT over key-sorted lists (the q204 discipline), and every final
  * double formula is textually identical on both sides.
  */
object InferQueries {

  type Q = (SparkSession, String) => DataFrame

  private def d(c: Column): Column = c.cast("double")

  /** q221/q222 support threshold: a brand pair must co-occur in at least
    * num/den (2.2%) of all orders — a SHARE, not an absolute count, so the
    * predicate means the same thing at every scale factor. */
  private val supNum = 11L
  private val supDen = 500L

  val queries: Map[String, Q] = Map(

    // Mann-Whitney U (tie-corrected z): are en and de document lengths
    // drawn from the same distribution? The rank-based sibling of q179's
    // Welch t — outlier-proof, no normality assumption. Grid-exact ranks.
    "q216_mann_whitney" -> ((s, d) =>
      Inference.rankSumTest(
        table(s, d, "documents"), "lang", "n_chars", "en", "de")),

    // Per-event-type Kendall tau-b between day index and daily volume —
    // the monotone-trend screen (tau near ±1: consistent growth/decline)
    // on the 30-row daily series; O(days²) pairs per group by definition,
    // the Theil-Sen small-series contract.
    "q217_kendall_daily" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("bigint").as("day_idx"))
        .agg(count(lit(1)).as("cnt"))
      Inference.kendallTauByGroup(daily, "event_type", "day_idx", "cnt")
        .orderBy(col("event_type"))
    }),

    // Per-source Gini of document length — does a handful of giant docs
    // own a source's character mass? All-BIGINT numerator on the length
    // grid, one division.
    "q218_length_gini" -> ((s, d) =>
      Inference.giniByGroup(table(s, d, "documents"), "source", "n_chars")),

    // Grouped Benford chi-square audit: WHICH order-priority segment
    // fails the first-digit law (8-df GOF at alpha=.05) — the test-
    // statistic companion to q228's global per-digit screen. Exact-cents
    // digits, driver-literal expected shares, micro-quantized per-
    // (group, digit) terms summed as BIGINTs. See
    // Inference.benfordByGroup.
    "q308_benford_by_group" -> ((s, dir) =>
      Inference.benfordByGroup(table(s, dir, "orders"), "o_orderpriority",
        col("o_totalprice"))),

    // Delete-one-day jackknife SE for revenue-per-event — the ratio-
    // metric error bar whose within-day correlation the naive per-row
    // SE ignores; the determinate-replicate sibling of q282's seeded
    // bootstrap. See Inference.jackknifeRatio.
    "q304_jackknife_ratio" -> ((s, dir) =>
      Inference.jackknifeRatio(table(s, dir, "events"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("bigint"),
        when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)),
        lit(1L))),

    // Cochran-Mantel-Haenszel: does even-id treatment associate with
    // purchasing once the day-of-week stratum is held fixed? The test
    // companion to q288's Simpson reversal detector, on (user, dow)
    // grains. See Inference.cmhTest.
    "q305_cmh_test" -> ((s, dir) => {
      val grain = table(s, dir, "events")
        .groupBy(col("user_id"),
          pmod(datediff(col("ts").cast("date"),
            lit("1970-01-01").cast("date")).cast("bigint"), lit(7L))
            .as("__dow"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("__conv"))
      Inference.cmhTest(grain, col("__dow"),
        pmod(col("user_id"), lit(2)) === 0, col("__conv") === 1L)
    }),

    // Empirical-Bayes beta-binomial shrinkage of per-user purchase
    // rates: method-of-moments Beta prior from the rate table, posterior
    // means pull small-sample users toward the grand mean — the
    // leaderboard fix beside q241's ranking AUC. See
    // Inference.ebBetaShrink.
    "q306_eb_shrinkage" -> ((s, dir) =>
      Inference.ebBetaShrink(table(s, dir, "events"), "user_id", lit(1L),
        when(col("event_type") === "purchase", 1L).otherwise(0L))),

    // Benjamini-Hochberg screen over per-event-type mean-shift z-scores:
    // which types' mean value drifts from the global mean, at FDR 0.1?
    // The z→p map is a fixed closed form (Lin's normal-tail
    // approximation) evaluated identically on both sides; BH runs over
    // the 5-row hypothesis table.
    "q219_bh_fdr" -> ((s, dir) => {
      val per = table(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_g"),
          sum(dec(col("value"))).as("__s"),
          sum(dec(col("value")) * dec(col("value"))).as("__q"))
      val tot = per.agg(sum(col("n_g")).as("__n"), sum(col("__s")).as("__ts"),
        sum(col("__q")).as("__tq"))
      val z = (d(col("__s")) / d(col("n_g")) - d(col("__ts")) / d(col("__n"))) /
        (sqrt((d(col("__tq")) - d(col("__ts")) * d(col("__ts")) / d(col("__n"))) /
          (d(col("__n")) - lit(1.0))) / sqrt(d(col("n_g"))))
      val withZ = per.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n_g"), z.as("z"))
      val za = abs(col("z"))
      // exp() is not correctly-rounded and differs across libms by 1 ulp —
      // quantize p to 6dp (the adjacentDrift micro-unit discipline) so the
      // BH compare and the hash are engine-stable; z itself is algebraic
      // (IEEE-exact ops only) and needs no rounding.
      val withP = withZ.withColumn("p",
        round(least(lit(1.0),
          lit(2.0) * exp(lit(-0.717) * za - lit(0.416) * za * za)), 6))
      Inference.bhFdr(withP, "event_type", "p")
        .select(col("event_type"), col("n_g"), col("z"), col("p"),
          col("p_rank").cast("bigint").as("p_rank"), col("bh_crit"),
          col("significant"))
    }),

    // Mutual information between order priority and return flag — the
    // one-number dependence summary beside q172's per-cell chi-square
    // screen. Exact cell counts; term sums fold over the sorted cell list.
    "q220_mutual_info" -> ((s, dir) => {
      val j = table(s, dir, "lineitem")
        .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"), col("l_returnflag"))
      Inference.mutualInfo(j, "o_orderpriority", "l_returnflag")
    }),

    // Market-basket lift over brands within orders: pairs stocked
    // together in ≥ 2.2% of orders, with lift vs independence — the
    // association rule screen. Per-order pair expansion bounded by order
    // width.
    "q221_brand_lift" -> ((s, dir) => brandLift(s, dir)),

    // Triangle census of the brand co-purchase graph (edges = the q221
    // support-filtered pairs): per-brand triangle participation — the
    // clustering-density view of the same association structure.
    "q222_brand_triangles" -> ((s, dir) =>
      Graphs.triangleCounts(brandEdges(s, dir), "item_a", "item_b")),

    // Inter-event gap census: time between consecutive events per user,
    // bucketed into cadence bands — the profile a session timeout is
    // justified from. Per-user lag frames, exact integer microseconds.
    "q223_interevent_gaps" -> ((s, d) =>
      Temporal.interEventGaps(
        table(s, d, "events"), "user_id", "ts", "event_id")),

    // 7-day linearly-weighted moving average of daily volume per event
    // type — the smoothed trend line, exact BIGINT numerator, one
    // division; emitted only for days with full history.
    "q224_wma_trend" -> ((s, d) =>
      Temporal.wmaTrend(table(s, d, "events"), "event_type", "ts")),

    // Kruskal-Wallis H across all 20 sources on document length — the
    // k-sample rank test beside q214's parametric ANOVA F; grid-exact
    // rank sums, fixed-order fold for the cross-group term.
    "q225_kruskal_wallis" -> ((s, d) =>
      Inference.kruskalWallis(table(s, d, "documents"), "source", "n_chars")),

    // Link prediction on the q221 brand graph: Adamic-Adar scored
    // two-hop NON-edges (hub middles capped) — the "ends up buying next"
    // candidate generator. See Graphs.linkPrediction.
    "q267_link_prediction" -> ((s, dir) =>
      Graphs.linkPrediction(brandEdges(s, dir), "item_a", "item_b",
        maxDeg = 100)),

    // 3-core of the same graph by 6 bounded peel rounds (fixpoint within
    // the round budget at this SF) — the dense-core carve, unrolled so
    // the oracle replays every round. See Graphs.kCorePeel.
    "q268_kcore" -> ((s, dir) =>
      Graphs.kCorePeel(brandEdges(s, dir), "item_a", "item_b",
        k = 3, rounds = 6)))

  /** The q221 brand-lift table, computed once per (session, sf dir) and
    * persisted — four queries (q221/q222/q267/q268) consume the same
    * support-filtered co-purchase graph, exactly the nearDupPairs
    * shared-graph pattern (the lift table is |brand-pairs|-bounded, so
    * the persist is tiny and survives CacheScope's per-query drain). */
  private[queries] val brandLift = SharedCache("brand_lift") { (s, dir) =>
    Graphs.cooccurrenceLift(
      table(s, dir, "lineitem")
        .join(table(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")),
      "l_orderkey", "p_brand", supNum, supDen)
  }

  /** The support-filtered brand co-purchase edge set, shared by the
    * graph queries. */
  private def brandEdges(s: SparkSession, dir: String): DataFrame =
    brandLift(s, dir).select(col("item_a"), col("item_b"))

  /** Shared oracle prefix: the same edge set as [[brandEdges]], ending at
    * `e(a, b2)` (a < b2) and its symmetric closure `und`. MATERIALIZED:
    * DuckDB inlines plain CTEs, and the multi-reference consumers (q267
    * references `und` twice + `e` once; q268's unrolled rounds reference
    * each predecessor three times → ~3^6 copies of the pair-expansion
    * join, measured >10 min vs 0.07 s materialized). */
  private val brandEdgeCte: String =
    s"""WITH bi AS MATERIALIZED (
       |  SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
       |nb AS MATERIALIZED (
       |  SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
       |pr AS MATERIALIZED (
       |  SELECT a.i AS ia, c2.i AS ib, CAST(count(*) AS BIGINT) AS pc
       |  FROM bi a JOIN bi c2 ON a.b = c2.b AND a.i < c2.i GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT ia AS a, ib AS b2 FROM pr CROSS JOIN nb
       |  WHERE pc * $supDen >= nb.n * $supNum),
       |und AS MATERIALIZED (
       |  SELECT a, b2 FROM e UNION ALL SELECT b2, a FROM e)""".stripMargin

  /** q268's 6 unrolled peel rounds over `und`. */
  private val kcoreSql: String = {
    val rounds = (1 to 6).map { r =>
      val prev = if (r == 1) "und" else s"u${r - 1}"
      s""",
         |k$r AS MATERIALIZED (
         |  SELECT a FROM $prev GROUP BY a HAVING count(*) >= 3),
         |u$r AS MATERIALIZED (SELECT u.a, u.b2 FROM $prev u
         |  JOIN k$r x ON u.a = x.a JOIN k$r y ON u.b2 = y.a)""".stripMargin
    }.mkString
    brandEdgeCte + rounds +
      "\nSELECT a AS vertex, CAST(count(*) AS BIGINT) AS core_deg " +
      "FROM u6 GROUP BY 1"
  }

  val oracle: Map[String, String] = Map(

    // Mirrors Graphs.linkPrediction on the shared brand edge set: capped
    // middles, micro-unit Adamic-Adar, NOT EXISTS anti-join.
    "q267_link_prediction" -> (brandEdgeCte +
      """,
        |deg AS (SELECT a AS z, CAST(count(*) AS BIGINT) AS deg
        |  FROM und GROUP BY 1),
        |mid AS (SELECT u.b2 AS z, u.a AS x,
        |    CAST(round(1e6 / ln(CAST(d.deg AS DOUBLE))) AS BIGINT) AS aa_mu
        |  FROM und u JOIN deg d ON u.b2 = d.z
        |  WHERE d.deg BETWEEN 2 AND 100),
        |cand AS (SELECT m1.x AS xa, m2.x AS xb,
        |    CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(m1.aa_mu) AS BIGINT) AS aa_mu
        |  FROM mid m1 JOIN mid m2 ON m1.z = m2.z AND m1.x < m2.x
        |  GROUP BY 1, 2)
        |SELECT xa AS item_a, xb AS item_b, cn, aa_mu,
        |  round(CAST(aa_mu AS DOUBLE) / 1e6, 6) AS aa
        |FROM cand c
        |WHERE NOT EXISTS (SELECT 1 FROM e
        |  WHERE e.a = c.xa AND e.b2 = c.xb)""".stripMargin),

    "q268_kcore" -> kcoreSql,

    "q216_mann_whitney" ->
      s"""WITH ${OracleSql.enRankGridCte("WHERE lang IN ('en', 'de') ")},
        |a AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |    CAST(sum(cnt - ca) AS BIGINT) AS n_b,
        |    CAST(sum(ca * (2 * below + cnt + 1)) AS BIGINT) AS r2a,
        |    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
        |  FROM c)
        |SELECT n_a, n_b,
        |  CAST(r2a AS DOUBLE) / 2.0
        |    - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0 AS u_stat,
        |  (CAST(r2a AS DOUBLE) / 2.0
        |    - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0
        |    - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
        |  / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
        |      ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
        |        - CAST(ties AS DOUBLE) /
        |          ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) *
        |           (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0)))) AS z
        |FROM a""".stripMargin,

    "q217_kendall_daily" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |      AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type,
        |    CAST(sum(CAST(sign(b.x - a.x) AS BIGINT) *
        |             CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS cd
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
        |  GROUP BY 1),
        |tx AS (SELECT event_type, CAST(sum(t * (t - 1)) AS BIGINT) AS s1,
        |    CAST(sum(t) AS BIGINT) AS n
        |  FROM (SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |ty AS (SELECT event_type, CAST(sum(t * (t - 1)) AS BIGINT) AS s2
        |  FROM (SELECT event_type, y, count(*) AS t FROM daily GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT p.event_type, tx.n AS n,
        |  CAST(cd AS DOUBLE) / sqrt(
        |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
        |      - CAST(s1 AS DOUBLE) / 2.0) *
        |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0
        |      - CAST(s2 AS DOUBLE) / 2.0)) AS tau_b
        |FROM p JOIN tx ON p.event_type = tx.event_type
        |JOIN ty ON p.event_type = ty.event_type
        |ORDER BY p.event_type""".stripMargin,

    "q218_length_gini" ->
      """WITH grid AS (
        |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c,
        |    CAST(count(*) * n_chars AS BIGINT) AS m
        |  FROM documents GROUP BY 1, 2),
        |cm AS (
        |  SELECT source, v, c, m,
        |    CAST(sum(m) OVER (PARTITION BY source ORDER BY v ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM grid)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(m) AS BIGINT) AS total,
        |  1.0 - CAST(sum(c * (2 * cum - m)) AS DOUBLE) /
        |    (CAST(sum(c) AS DOUBLE) * CAST(sum(m) AS DOUBLE)) AS gini
        |FROM cm GROUP BY 1""".stripMargin,

    // Mirrors Inference.benfordByGroup: identical driver-computed
    // log10(1+1/d) literals, exact-cents digit extraction, micro-
    // quantized chi-square terms summed as BIGINTs per group over the
    // full group x digit grid.
    "q308_benford_by_group" -> {
      val terms = (1 to 9).map(dd =>
        s"WHEN $dd THEN '${math.log10(1.0 + 1.0 / dd)}'::DOUBLE")
        .mkString(" ")
      s"""WITH c AS (
         |  SELECT o_orderpriority AS g,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
         |      AS BIGINT) AS c
         |  FROM orders),
         |pd AS (
         |  SELECT g, CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
         |      AS digit,
         |    CAST(count(*) AS BIGINT) AS no
         |  FROM c WHERE c > 0 GROUP BY 1, 2),
         |gs AS (SELECT DISTINCT g FROM pd),
         |dg AS (SELECT range AS digit FROM range(1, 10)),
         |grid AS (SELECT gs.g, dg.digit, coalesce(pd.no, 0) AS n_obs
         |  FROM gs CROSS JOIN dg
         |  LEFT JOIN pd ON pd.g = gs.g AND pd.digit = dg.digit),
         |t AS (SELECT g, CAST(sum(n_obs) AS BIGINT) AS n
         |  FROM grid GROUP BY 1),
         |e AS (SELECT grid.g, grid.digit, grid.n_obs, t.n,
         |    CASE grid.digit $terms END AS p
         |  FROM grid JOIN t ON grid.g = t.g),
         |w AS (SELECT g, n, CAST(round(
         |    (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
         |    * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * p)
         |    / (CAST(n AS DOUBLE) * p) * 1e6) AS BIGINT) AS tmu
         |  FROM e),
         |f AS (SELECT g, n, CAST(sum(tmu) AS BIGINT) AS cmu
         |  FROM w GROUP BY 1, 2)
         |SELECT g AS o_orderpriority, n AS n_amounts,
         |  CAST(cmu AS DOUBLE) / 1e6 AS chi2,
         |  CAST(cmu AS DOUBLE) / 1e6 > '15.507313'::DOUBLE
         |    AS fails_benford
         |FROM f""".stripMargin
    },

    // Mirrors Inference.jackknifeRatio: exact DECIMAL/BIGINT block sums,
    // leave-one-out ratios micro-quantized, one fixed-order SE formula.
    "q304_jackknife_ratio" ->
      """WITH pb AS (
        |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS b,
        |    sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(12,2))
        |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS bx,
        |    CAST(count(*) AS BIGINT) AS by
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(bx) AS tx, CAST(sum(by) AS BIGINT) AS ty
        |  FROM pb),
        |r AS (
        |  SELECT t.tx, t.ty,
        |    CAST(round((CAST(t.tx AS DOUBLE) - CAST(pb.bx AS DOUBLE))
        |      / (CAST(t.ty AS DOUBLE) - CAST(pb.by AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS rj
        |  FROM pb CROSS JOIN t WHERE t.ty - pb.by <> 0),
        |a AS (SELECT tx, ty, CAST(count(*) AS BIGINT) AS j,
        |    CAST(sum(rj) AS BIGINT) AS sr,
        |    CAST(sum(rj * rj) AS BIGINT) AS sr2
        |  FROM r GROUP BY 1, 2)
        |SELECT j AS n_blocks,
        |  CAST(tx AS DOUBLE) / CAST(ty AS DOUBLE) AS r_point,
        |  CAST(sr AS DOUBLE) / CAST(j AS DOUBLE) / 1e6 AS r_jack_mean,
        |  sqrt((CAST(j AS DOUBLE) - 1.0) / CAST(j AS DOUBLE)
        |    * (CAST(sr2 AS DOUBLE)
        |      - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE)
        |        / CAST(j AS DOUBLE))) / 1e6 AS se_jack
        |FROM a""".stripMargin,

    // Mirrors Inference.cmhTest: per-stratum E/V/OR terms micro-
    // quantized from exact counts, exact BIGINT across-strata sums, one
    // terminal chi-square formula.
    "q305_cmh_test" ->
      """WITH g AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) % 7 AS s,
        |    user_id % 2 = 0 AS a,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
        |      AS o
        |  FROM events GROUP BY 1, 2, 3),
        |c AS (
        |  SELECT s,
        |    CAST(count(CASE WHEN a AND o THEN 1 END) AS BIGINT) AS n11,
        |    CAST(count(CASE WHEN a AND NOT o THEN 1 END) AS BIGINT)
        |      AS n10,
        |    CAST(count(CASE WHEN NOT a AND o THEN 1 END) AS BIGINT)
        |      AS n01,
        |    CAST(count(CASE WHEN NOT a AND NOT o THEN 1 END) AS BIGINT)
        |      AS n00
        |  FROM g GROUP BY 1),
        |k AS (SELECT *, n11 + n10 + n01 + n00 AS n FROM c
        |  WHERE n11 + n10 + n01 + n00 >= 2),
        |mu AS (SELECT n11,
        |    CAST(round(CAST(n11 + n10 AS DOUBLE)
        |      * CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE) * 1e6)
        |      AS BIGINT) AS e,
        |    CAST(round(CAST(n11 + n10 AS DOUBLE)
        |      * CAST(n01 + n00 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
        |      * CAST(n10 + n00 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        * (CAST(n AS DOUBLE) - 1.0)) * 1e6) AS BIGINT) AS v,
        |    CAST(round(CAST(n11 AS DOUBLE) * CAST(n00 AS DOUBLE)
        |      / CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS rk,
        |    CAST(round(CAST(n10 AS DOUBLE) * CAST(n01 AS DOUBLE)
        |      / CAST(n AS DOUBLE) * 1e6) AS BIGINT) AS sk
        |  FROM k),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(sum(n11) AS BIGINT) AS sum_a,
        |    CAST(sum(e) AS BIGINT) AS e_mu,
        |    CAST(sum(v) AS BIGINT) AS v_mu,
        |    CAST(sum(rk) AS BIGINT) AS r, CAST(sum(sk) AS BIGINT) AS s2
        |  FROM mu)
        |SELECT n_strata, sum_a, e_mu, v_mu,
        |  CASE WHEN v_mu = 0 THEN NULL ELSE
        |    (CAST(sum_a AS DOUBLE) - CAST(e_mu AS DOUBLE) / 1e6)
        |    * (CAST(sum_a AS DOUBLE) - CAST(e_mu AS DOUBLE) / 1e6)
        |    / (CAST(v_mu AS DOUBLE) / 1e6) END AS cmh_chi2,
        |  CASE WHEN s2 = 0 THEN NULL
        |    ELSE CAST(r AS DOUBLE) / CAST(s2 AS DOUBLE) END AS or_mh
        |FROM f""".stripMargin,

    // Mirrors Inference.ebBetaShrink: exact integer micro-unit rates,
    // exact BIGINT prior moments, fixed-order posterior formulas.
    "q306_eb_shrinkage" ->
      """WITH p AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS k
        |  FROM events GROUP BY 1),
        |q AS (SELECT *, k * 1000000 // n AS pmu FROM p WHERE n > 0),
        |pr AS (SELECT CAST(count(*) AS BIGINT) AS j,
        |    CAST(sum(pmu) AS BIGINT) AS sp,
        |    CAST(sum(pmu * pmu) AS BIGINT) AS sp2 FROM q),
        |c AS (SELECT q.user_id, q.n, q.k,
        |    CAST(pr.sp AS DOUBLE) / CAST(pr.j AS DOUBLE) / 1e6 AS m,
        |    (CAST(pr.sp2 AS DOUBLE) / CAST(pr.j AS DOUBLE)
        |      - (CAST(pr.sp AS DOUBLE) / CAST(pr.j AS DOUBLE))
        |        * (CAST(pr.sp AS DOUBLE) / CAST(pr.j AS DOUBLE))) / 1e12
        |      AS v
        |  FROM q CROSS JOIN pr),
        |s AS (SELECT *, CASE WHEN v <= 0.0 THEN NULL
        |    ELSE m * (1.0 - m) / v - 1.0 END AS ab FROM c)
        |SELECT user_id, n, k,
        |  CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate,
        |  CASE WHEN ab IS NULL OR ab <= 0.0
        |    THEN CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
        |    ELSE (CAST(k AS DOUBLE) + m * ab) / (CAST(n AS DOUBLE) + ab)
        |    END AS shrunk_rate,
        |  m * ab AS alpha, (1.0 - m) * ab AS beta
        |FROM s""".stripMargin,

    "q219_bh_fdr" ->
      """WITH per AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
        |    sum(CAST(value AS DECIMAL(12,2))) AS s,
        |    sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS q
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s) AS ts,
        |    sum(q) AS tq FROM per),
        |zt AS (
        |  SELECT event_type, n_g,
        |    (CAST(s AS DOUBLE) / CAST(n_g AS DOUBLE)
        |      - CAST(ts AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (sqrt((CAST(tq AS DOUBLE)
        |          - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(n AS DOUBLE))
        |        / (CAST(n AS DOUBLE) - 1.0)) / sqrt(CAST(n_g AS DOUBLE))) AS z
        |  FROM per CROSS JOIN tot),
        |pt AS (
        |  SELECT event_type, n_g, z,
        |    round(least(1.0,
        |      2.0 * exp(-0.717 * abs(z) - 0.416 * abs(z) * abs(z))), 6) AS p
        |  FROM zt),
        |rk AS (
        |  SELECT event_type, n_g, z, p,
        |    CAST(row_number() OVER (ORDER BY p ASC, event_type ASC) AS BIGINT)
        |      AS p_rank,
        |    CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM pt),
        |cr AS (
        |  SELECT event_type, n_g, z, p, p_rank,
        |    CAST(p_rank AS DOUBLE) * 1.0 / (10.0 * CAST(m AS DOUBLE)) AS bh_crit
        |  FROM rk)
        |SELECT event_type, n_g, z, p, p_rank, bh_crit,
        |  max(CASE WHEN p <= bh_crit THEN p_rank END)
        |    OVER (ORDER BY p_rank
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |    IS NOT NULL AS significant
        |FROM cr""".stripMargin,

    "q220_mutual_info" ->
      """WITH j AS (
        |  SELECT o.o_orderpriority AS r, l.l_returnflag AS c
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |cells AS (SELECT r, c, CAST(count(*) AS BIGINT) AS o
        |  FROM j GROUP BY 1, 2),
        |rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rtot FROM cells GROUP BY 1),
        |ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ctot FROM cells GROUP BY 1),
        |nt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |mi AS (
        |  SELECT max(nt.n) AS n, CAST(count(*) AS BIGINT) AS n_cells,
        |    list(struct_pack(t :=
        |      (CAST(o AS DOUBLE) / CAST(nt.n AS DOUBLE)) *
        |        ln(CAST(o AS DOUBLE) * CAST(nt.n AS DOUBLE) /
        |          (CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE))))
        |      ORDER BY cells.r, cells.c) AS l
        |  FROM cells JOIN rt ON cells.r = rt.r JOIN ct ON cells.c = ct.c
        |  CROSS JOIN nt),
        |hr AS (
        |  SELECT list(struct_pack(t :=
        |      -CAST(rtot AS DOUBLE) / CAST(nt.n AS DOUBLE) *
        |        ln(CAST(rtot AS DOUBLE) / CAST(nt.n AS DOUBLE)))
        |      ORDER BY r) AS l
        |  FROM rt CROSS JOIN nt),
        |hc AS (
        |  SELECT list(struct_pack(t :=
        |      -CAST(ctot AS DOUBLE) / CAST(nt.n AS DOUBLE) *
        |        ln(CAST(ctot AS DOUBLE) / CAST(nt.n AS DOUBLE)))
        |      ORDER BY c) AS l
        |  FROM ct CROSS JOIN nt)
        |SELECT mi.n, mi.n_cells,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(mi.l, s -> s.t)), (a, x) -> a + x) AS mi_nats,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(hr.l, s -> s.t)), (a, x) -> a + x) AS h_row,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(hc.l, s -> s.t)), (a, x) -> a + x) AS h_col
        |FROM mi CROSS JOIN hr CROSS JOIN hc""".stripMargin,

    "q221_brand_lift" ->
      s"""WITH bi AS (
         |  SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
         |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ci FROM bi GROUP BY 1),
         |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
         |pr AS (
         |  SELECT a.i AS ia, c2.i AS ib, CAST(count(*) AS BIGINT) AS pc
         |  FROM bi a JOIN bi c2 ON a.b = c2.b AND a.i < c2.i GROUP BY 1, 2)
         |SELECT pr.ia AS item_a, pr.ib AS item_b, pr.pc AS pair_cnt,
         |  CAST(nb.n AS DOUBLE) * CAST(pr.pc AS DOUBLE) /
         |    (CAST(x.ci AS DOUBLE) * CAST(y.ci AS DOUBLE)) AS lift
         |FROM pr CROSS JOIN nb
         |JOIN ic x ON pr.ia = x.i JOIN ic y ON pr.ib = y.i
         |WHERE pr.pc * $supDen >= nb.n * $supNum""".stripMargin,

    "q222_brand_triangles" ->
      s"""WITH bi AS (
         |  SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
         |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
         |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM bi),
         |pr AS (
         |  SELECT a.i AS ia, c2.i AS ib, CAST(count(*) AS BIGINT) AS pc
         |  FROM bi a JOIN bi c2 ON a.b = c2.b AND a.i < c2.i GROUP BY 1, 2),
         |e AS (SELECT ia AS a, ib AS b2 FROM pr CROSS JOIN nb
         |  WHERE pc * $supDen >= nb.n * $supNum),
         |w AS (SELECT e1.a AS a, e1.b2 AS b, e2.b2 AS c
         |  FROM e e1 JOIN e e2 ON e1.b2 = e2.a),
         |t AS (SELECT w.a, w.b, w.c
         |  FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b2),
         |v AS (SELECT unnest([a, b, c]) AS vertex FROM t)
         |SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM v GROUP BY 1""".stripMargin,

    "q223_interevent_gaps" ->
      """WITH g AS (
        |  SELECT epoch_us(ts) - lag(epoch_us(ts))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |b AS (
        |  SELECT CASE WHEN gap < 60000000 THEN 'a_lt1m'
        |    WHEN gap < 600000000 THEN 'b_1to10m'
        |    WHEN gap < 3600000000 THEN 'c_10to60m'
        |    WHEN gap < 21600000000 THEN 'd_1to6h'
        |    ELSE 'e_gt6h' END AS gap_bucket
        |  FROM g WHERE gap IS NOT NULL),
        |c AS (SELECT gap_bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY 1)
        |SELECT gap_bucket, n, CAST(n AS DOUBLE) / CAST(t.t AS DOUBLE) AS share
        |FROM c CROSS JOIN (SELECT CAST(sum(n) AS BIGINT) AS t FROM c) t""".stripMargin,

    "q224_wma_trend" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |      AS day_idx,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day_idx, n,
        |    7 * n + 6 * lag(n, 1) OVER w + 5 * lag(n, 2) OVER w
        |      + 4 * lag(n, 3) OVER w + 3 * lag(n, 4) OVER w
        |      + 2 * lag(n, 5) OVER w + 1 * lag(n, 6) OVER w AS num
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day_idx ASC))
        |SELECT event_type, day_idx, n, CAST(num AS DOUBLE) / 28.0 AS wma7
        |FROM l WHERE num IS NOT NULL""".stripMargin,

    "q225_kruskal_wallis" ->
      """WITH gv AS (
        |  SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS cg
        |  FROM documents GROUP BY 1, 2),
        |av AS (SELECT v, CAST(sum(cg) AS BIGINT) AS cnt FROM gv GROUP BY 1),
        |cum AS (
        |  SELECT v, cnt,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY v ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS below
        |  FROM av),
        |per AS (
        |  SELECT g, CAST(sum(cg) AS BIGINT) AS n_g,
        |    CAST(sum(cg * (2 * below + cnt + 1)) AS BIGINT) AS r2
        |  FROM gv JOIN cum ON gv.v = cum.v GROUP BY 1),
        |ties AS (SELECT CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS t
        |  FROM cum),
        |aggd AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |    list(struct_pack(t :=
        |      CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) /
        |        (4.0 * CAST(n_g AS DOUBLE))) ORDER BY g) AS l
        |  FROM per)
        |SELECT k, n,
        |  (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) *
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(l, s -> s.t)), (a, x) -> a + x)
        |    - 3.0 * (CAST(n AS DOUBLE) + 1.0))
        |  / (1.0 - CAST(t AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |        - CAST(n AS DOUBLE))) AS h_stat
        |FROM aggd CROSS JOIN ties""".stripMargin)
}
