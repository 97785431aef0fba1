package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.{Stats, Temporal}

/** Round-10 time-series hygiene batch: the calendar regularization and
  * audience/allocation measures an events warehouse reports daily —
  * gap fill with LOCF + linear interpolation, conversion-latency
  * percentiles on the exact minute grid, Neyman-optimal sample
  * allocation, the cumulative-uniques growth curve, and multiplicative
  * day-of-week seasonality.
  *
  * Determinism: day/minute indexes are epoch-integer arithmetic; daily
  * values are exact decimal sums; the only cross-group double sum (the
  * Neyman normalizer) folds LEFT over the stratum-sorted list; grids are
  * CALENDAR-bounded, never row-bounded (the q158 window discipline). */
object SeriesQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q233's sampling budget. */
  private val neymanBudget = 1000L

  /** q325's holdout cutoff (epoch day of 2001-05-01 — the last ~3 months
    * of the generated order calendar), shared verbatim with the oracle. */
  private val fcCutoffDay: Long =
    java.time.LocalDate.of(2001, 5, 1).toEpochDay

  val queries: Map[String, Q] = Map(

    // Markov removal-effect attribution: journeys truncated at first
    // purchase, absorption into conv/null on the channel chain, credit =
    // normalized conversion-probability loss when each channel's node is
    // removed — the data-driven model beside q279's heuristics and
    // q285's stationary distribution. See
    // Temporal.markovRemovalAttribution.
    "q315_markov_attribution" -> ((s, d) =>
      Temporal.markovRemovalAttribution(table(s, d, "events"), "user_id",
        "ts", "event_type", "event_id", convType = "purchase",
        iters = 12)),

    // EXACT Shapley-value attribution over channel coalitions — the
    // game-theoretic model beside q315's Markov removal effect: v(S) =
    // converted users whose pre-conversion channel set is ⊆ S, credit =
    // the exact factorial-weighted Shapley sum (all-integer, 2^n grid,
    // n = event-type vocabulary). See Temporal.shapleyAttribution.
    "q333_shapley_attribution" -> ((s, d) =>
      Temporal.shapleyAttribution(table(s, d, "events"), "user_id",
        "ts", "event_type", "event_id", convType = "purchase")),

    // RFM segmentation: per-user recency/frequency/monetary quintile
    // scores against broadcast percentile cutoffs (window-free — an
    // ntile would single-partition the user table), recency inverted so
    // the most recent scores 5, concatenated "555"-style label. See
    // Temporal.rfmSegments.
    "q312_rfm_segments" -> ((s, d) =>
      Temporal.rfmSegments(table(s, d, "events"), "user_id", "ts",
        when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)))),

    // Cohort LTV curve: per first-activity-week cohort, cumulative
    // purchase value per ORIGINAL member by weeks-since — the revenue
    // companion to q166's retention matrix. Exact cents to the terminal
    // division. See Temporal.cohortLtv.
    "q314_cohort_ltv" -> ((s, d) =>
      Temporal.cohortLtv(table(s, d, "events"), "user_id", "ts",
        when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0)))),

    // Calendar gap fill of the per-type daily value series: every (type,
    // day) cell materialized, holes filled by LOCF and by linear
    // interpolation between surrounding observed days.
    "q231_gap_fill" -> ((s, d) =>
      Temporal.gapFill(table(s, d, "events"), "event_type", "ts", "value")),

    // First-view → first-purchase latency: converts, exact minute-grid
    // p50/p90, and the exact mean — time-to-convert beside q108's funnel
    // step counts.
    "q232_conversion_latency" -> ((s, d) =>
      Temporal.conversionLatency(
        table(s, d, "events"), "user_id", "ts", "event_type",
        fromEv = "view", toEv = "purchase")),

    // Neyman-optimal allocation of a 1000-doc sampling budget across
    // sources by n_h·sd_h of document length — the variance-minimizing
    // refinement of q78's proportional stratified sample.
    "q233_neyman_allocation" -> ((s, d) =>
      Stats.neymanAllocation(
        table(s, d, "documents"), "source", "n_chars", neymanBudget)),

    // Audience growth: users first seen per day and the running total —
    // the cumulative-uniques curve beside q167's rolling window actives.
    "q234_cumulative_uniques" -> ((s, d) =>
      Temporal.cumulativeUniques(table(s, d, "events"), "user_id", "ts")),

    // Multiplicative day-of-week seasonality index per event type, with
    // calendar-exact per-weekday day counts — which days carry the
    // weekly rhythm q173's lag-7 ACF detects.
    "q235_dow_seasonality" -> ((s, d) =>
      Temporal.dowSeasonality(table(s, d, "events"), "event_type", "ts")),

    // Per-type daily EWMA (α=0.3) — the recursive smoother, folded
    // in-row over the calendar-bounded day series (no windows); see
    // Temporal.ewmaDaily for the determinism argument.
    "q259_ewma_daily" -> ((s, d) =>
      Temporal.ewmaDaily(table(s, d, "events"), "event_type", "ts", "value",
        alpha = 0.3)),

    // Seasonal-naive forecast screen: per type, MAE of the lag-1 naive
    // vs the lag-7 seasonal-naive forecast of daily counts over observed
    // days — ratio < 1 means the weekly rhythm beats persistence, the
    // decision number behind q235's seasonality index. Integer |diff|
    // sums (exact), one double division at the end; per-type windows
    // over calendar-bounded frames.
    "q260_seasonal_error" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = table(s, d, "events")
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("bigint").as("day_idx"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
      daily
        .withColumn("__l1", lag(col("n"), 1).over(w))
        .withColumn("__l7", lag(col("n"), 7).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          (sum(abs(col("n") - col("__l1"))).cast("double") /
            count(col("__l1"))).as("mae_naive"),
          (sum(abs(col("n") - col("__l7"))).cast("double") /
            count(col("__l7"))).as("mae_seasonal"))
        .select(col("event_type"), col("n_days"), col("mae_naive"),
          col("mae_seasonal"),
          (col("mae_seasonal") / col("mae_naive")).as("mase_ratio"))
    }),

    // Holt linear smoothing (α=0.5, β=0.3): q259's trend-aware sibling —
    // level + trend state folded in-row, one-step forecast emitted.
    // See Temporal.holtLinear.
    "q270_holt_linear" -> ((s, d) =>
      Temporal.holtLinear(table(s, d, "events"), "event_type", "ts",
        "value", alpha = 0.5, beta = 0.3)),

    // New-extreme detector: daily value vs the min/max of the previous 7
    // observed days (full-history gate) — the monitoring screen between
    // q120's z-score anomalies and q236's CUSUM. See
    // Temporal.rollingExtremes.
    "q272_rolling_extremes" -> ((s, d) =>
      Temporal.rollingExtremes(table(s, d, "events"), "event_type", "ts",
        "value", win = 7)),

    // STL-lite residual anomalies: count minus centered-7d trend minus
    // weekday effect, flagged beyond 3x the per-type median absolute
    // residual — "unusual for a Tuesday in a slow week". See
    // Temporal.seasonalResiduals.
    "q273_seasonal_residuals" -> ((s, d) =>
      Temporal.seasonalResiduals(table(s, d, "events"), "event_type",
        "ts", madK = 3.0)),

    // Multi-touch attribution of purchases to prior view/click touches
    // within a 7-day lookback, under last/first/linear credit models in
    // one touch-expansion pass; channel derived from the event's JSON
    // payload. See Temporal.attribution.
    "q279_attribution" -> ((s, d) =>
      Temporal.attribution(table(s, d, "events"), "user_id", "ts",
        "event_id", "event_type",
        channelCol = concat(lit("ch"),
          pmod(get_json_object(col("props"), "$.k").cast("long"), lit(3))),
        convType = "purchase", touchTypes = Seq("view", "click"),
        lookbackSec = 7L * 86400)),

    // Daily actives split new vs returning — the growth-vs-retention
    // product metric beside q234's cumulative curve. Two keyed aggs,
    // one day-keyed join. See Temporal.newVsReturning.
    "q280_new_vs_returning" -> ((s, d) =>
      Temporal.newVsReturning(table(s, d, "events"), "user_id", "ts")),

    // Stationary distribution of the user-journey Markov chain — 12
    // exact integer micro-probability power-iteration rounds over the
    // |types|²-bounded transition table (q181's PageRank discipline);
    // the steady-state companion to q126's one-step matrix. See
    // Temporal.markovStationary.
    "q285_markov_stationary" -> ((s, d) =>
      Temporal.markovStationary(table(s, d, "events"), "user_id", "ts",
        "event_type", "event_id", iters = 12)),

    // Holt-Winters additive seasonal smoothing of the per-type daily
    // value series (online form, calendar day-of-week slots) — q270's
    // Holt plus the weekly seasonality q235 proves is there; the same
    // in-row fold / recursive-CTE bit-identity contract. See
    // Temporal.holtWinters.
    "q328_holt_winters" -> ((s, d) =>
      Temporal.holtWinters(table(s, d, "events"), "event_type", "ts",
        "value")),

    // Forecast backtest: seasonal-naive (lag-7) daily-revenue forecast
    // scored on the 2001-05-01+ holdout — MAE, pinball .1/.5/.9, MASE
    // vs the in-sample naive scale, sMAPE; the acceptance gate q251's
    // forecast shape and q270's Holt smoother would be judged by.
    // All-integer metric numerators on BIGINT cents (see operator doc).
    "q325_forecast_backtest" -> ((s, d) =>
      Temporal.forecastBacktest(table(s, d, "orders"), "o_orderdate",
        "o_totalprice", fcCutoffDay)))

  /** Per-(event_type, day) exact DECIMAL value sums `daily(event_type,
    * day_idx, v)` (no WITH) — the input of the daily-series oracles. */
  private val dailyValueCte =
    """daily AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS BIGINT) AS day_idx,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** [[dailyValueCte]] plus each day's 1-based position `rn` within its
    * event_type as `r` — the fold order of the recursive smoothers. */
  private val dailyRankedCte = dailyValueCte + """,
      |r AS (
      |  SELECT event_type, day_idx, v,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY day_idx) AS rn
      |  FROM daily)""".stripMargin

  /** Each user's touchpoints (no WITH): events as `ev(u, ts, tie, t)` and
    * `o` adding the purchase flag `isc` and the running purchase count
    * `ccum` in (ts, event_id) order — the q315/q333 attribution input. */
  private val touchpointsCte =
    """ev AS (
      |  SELECT user_id AS u, ts, event_id AS tie, event_type AS t
      |  FROM events),
      |o AS (SELECT *,
      |    CASE WHEN t = 'purchase' THEN 1 ELSE 0 END AS isc,
      |    sum(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY u ORDER BY ts, tie
      |        ROWS UNBOUNDED PRECEDING) AS ccum
      |  FROM ev)""".stripMargin

  /** The q285 oracle: transition-chain CTEs + `iters` unrolled integer
    * power-iteration rounds, mirroring Temporal.markovStationary µ for µ
    * (per-edge floor division, BIGINT mass — the q181 pageRankSql
    * pattern). */
  private def markovSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT st.state, coalesce(c.in_mu, CAST(0 AS BIGINT)) AS pi_mu
         |  FROM st LEFT JOIN (
         |    SELECT e.dst AS state,
         |      CAST(sum((p.pi_mu * e.w) // e.out_w) AS BIGINT) AS in_mu
         |    FROM r${i - 1} p JOIN e ON p.state = e.src
         |    GROUP BY e.dst) c ON st.state = c.state)""".stripMargin
    }.mkString(",\n")
    s"""WITH nx AS (
       |  SELECT event_type AS src,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS dst
       |  FROM events),
       |e0 AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |  FROM nx WHERE dst IS NOT NULL GROUP BY 1, 2),
       |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
       |  FROM e0 GROUP BY 1),
       |e AS (SELECT e0.src, e0.dst, e0.w, ow.out_w
       |  FROM e0 JOIN ow ON e0.src = ow.src),
       |st AS (SELECT src AS state FROM e UNION SELECT dst FROM e),
       |n AS (SELECT count(*) AS nn FROM st),
       |r0 AS (
       |  SELECT state,
       |    CAST(1000000000 AS BIGINT) // (SELECT nn FROM n) AS pi_mu
       |  FROM st),
       |$rounds
       |SELECT state, pi_mu,
       |  CAST(pi_mu AS DOUBLE) / 1e9 AS pi
       |FROM r$iters""".stripMargin
  }

  /** The q328 oracle: recursive CTE over per-type day ranks carrying the
    * (l, b, s[7]) state as a LIST column, every recurrence written out
    * textually exactly as Temporal.holtWinters writes it (newL appears
    * inside b/se/fc, newB inside fc — identical IEEE sequences). */
  private def holtWintersSql(a: Double, b: Double, g: Double): String = {
    val (na, nb, ng) = (1.0 - a, 1.0 - b, 1.0 - g)
    // floor-mod mirror of the operator's pmod (negative-day safety)
    val idx = "CAST(((r.day_idx % 7) + 7) % 7 AS INT)"
    val prevS = s"h.s[$idx + 1]"
    val newL = s"CAST($a AS DOUBLE) * (r.v - $prevS) " +
      s"+ CAST($na AS DOUBLE) * (h.l + h.b)"
    val newB = s"CAST($b AS DOUBLE) * (($newL) - h.l) " +
      s"+ CAST($nb AS DOUBLE) * h.b"
    val newSe = s"CAST($g AS DOUBLE) * (r.v - ($newL)) " +
      s"+ CAST($ng AS DOUBLE) * $prevS"
    val fc = s"($newL) + ($newB) + " +
      s"h.s[CAST((((r.day_idx + 1) % 7) + 7) % 7 AS INT) + 1]"
    s"""WITH RECURSIVE $dailyRankedCte,
       |h AS (
       |  SELECT event_type, day_idx, v, rn, v AS l,
       |    CAST(0.0 AS DOUBLE) AS b,
       |    [CAST(0.0 AS DOUBLE) for i in range(0, 7)] AS s,
       |    CAST(0.0 AS DOUBLE) AS se,
       |    v AS fc
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT r.event_type, r.day_idx, r.v, r.rn,
       |    $newL,
       |    $newB,
       |    [CASE WHEN i = $idx THEN $newSe
       |      ELSE h.s[i + 1] END for i in range(0, 7)],
       |    $newSe,
       |    $fc
       |  FROM r JOIN h ON r.event_type = h.event_type
       |    AND r.rn = h.rn + 1)
       |SELECT event_type, day_idx, v, l AS level, b AS trend,
       |  se AS season, fc AS forecast_next
       |FROM h""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "q328_holt_winters" -> holtWintersSql(0.4, 0.2, 0.3),

    // Mirrors Temporal.forecastBacktest: exact BIGINT cents, ×10 integer
    // pinball terms, micro-quantized sMAPE ratio, identical division
    // sequences ('x'::DOUBLE literals — DuckDB numeric literals parse as
    // DECIMAL).
    "q325_forecast_backtest" ->
      s"""WITH daily AS (
         |  SELECT CAST(date_diff('day', DATE '1970-01-01',
         |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
         |      AS DECIMAL(18,0))) AS BIGINT) AS cents
         |  FROM orders GROUP BY 1),
         |terms AS (
         |  SELECT abs(a.cents - f.cents) AS ae,
         |    greatest(a.cents - f.cents, (a.cents - f.cents) * -9) AS p10,
         |    greatest((a.cents - f.cents) * 5,
         |      (a.cents - f.cents) * -5) AS p50,
         |    greatest((a.cents - f.cents) * 9,
         |      (a.cents - f.cents) * -1) AS p90,
         |    CASE WHEN a.cents + f.cents = 0 THEN CAST(0 AS BIGINT)
         |      ELSE CAST(round('2'::DOUBLE
         |        * CAST(abs(a.cents - f.cents) AS DOUBLE)
         |        / CAST(a.cents + f.cents AS DOUBLE)
         |        * '1000000'::DOUBLE) AS BIGINT) END AS sm
         |  FROM daily a JOIN daily f ON f.day = a.day - 7
         |  WHERE a.day >= $fcCutoffDay),
         |te AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(ae) AS BIGINT) AS sae,
         |    CAST(sum(p10) AS BIGINT) AS p10s,
         |    CAST(sum(p50) AS BIGINT) AS p50s,
         |    CAST(sum(p90) AS BIGINT) AS p90s,
         |    CAST(sum(sm) AS BIGINT) AS ssm
         |  FROM terms),
         |tr AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_train_pairs,
         |    CAST(sum(abs(t1.cents - t0.cents)) AS BIGINT) AS scale_sum
         |  FROM daily t0 JOIN daily t1 ON t1.day = t0.day + 1
         |  WHERE t0.day < $fcCutoffDay AND t1.day < $fcCutoffDay)
         |SELECT n_test, n_train_pairs,
         |  CAST(sae AS DOUBLE) / CAST(n_test AS DOUBLE)
         |    / '100'::DOUBLE AS mae,
         |  CAST(p10s AS DOUBLE) / CAST(n_test AS DOUBLE)
         |    / '1000'::DOUBLE AS pinball_p10,
         |  CAST(p50s AS DOUBLE) / CAST(n_test AS DOUBLE)
         |    / '1000'::DOUBLE AS pinball_p50,
         |  CAST(p90s AS DOUBLE) / CAST(n_test AS DOUBLE)
         |    / '1000'::DOUBLE AS pinball_p90,
         |  (CAST(sae AS DOUBLE) * CAST(n_train_pairs AS DOUBLE))
         |    / (CAST(n_test AS DOUBLE) * CAST(scale_sum AS DOUBLE)) AS mase,
         |  CAST(ssm AS DOUBLE) / '1000000'::DOUBLE
         |    / CAST(n_test AS DOUBLE) AS smape
         |FROM te CROSS JOIN tr""".stripMargin,

    // Mirrors Temporal.shapleyAttribution: the q315 journey cut, channel
    // bitmasks over the name-ASC index, subset-sum coalition values on
    // the 2^n grid (65536 row cap, filtered to 1<<n), and the exact
    // factorial-weighted Shapley sum from the shared 0!..16! literals.
    // phi_num is BIGINT on BOTH sides; |phi_num| ≤ n!·conversions, so
    // the shared overflow envelope is ~4.4e5 conversions at n = 16
    // (see the operator scaladoc) — widen both to DECIMAL(38,0) before
    // running >12 channels at warehouse conversion volume.
    "q333_shapley_attribution" -> {
      val f = graft.operators.Temporal.Factorials.mkString("[", ", ", "]")
      s"""WITH $touchpointsCte,
         |cut AS MATERIALIZED (SELECT * FROM o
         |  WHERE ccum = 0 OR (ccum = 1 AND isc = 1)),
         |chan AS MATERIALIZED (
         |  SELECT t AS channel,
         |    CAST(row_number() OVER (ORDER BY t) - 1 AS BIGINT) AS idx
         |  FROM (SELECT DISTINCT t FROM cut WHERE t <> 'purchase')),
         |cu AS (SELECT DISTINCT u FROM cut WHERE t = 'purchase'),
         |ti AS (SELECT DISTINCT cut.u, chan.idx
         |  FROM cut JOIN cu USING (u) JOIN chan ON chan.channel = cut.t
         |  WHERE cut.t <> 'purchase'),
         |um AS (SELECT u, CAST(sum(1 << idx) AS BIGINT) AS mask
         |  FROM ti GROUP BY u),
         |mc AS MATERIALIZED (
         |  SELECT mask, CAST(count(*) AS BIGINT) AS cnt
         |  FROM um GROUP BY mask),
         |nf AS MATERIALIZED (SELECT CAST(count(*) AS INTEGER) AS n,
         |    CAST(($f)[CAST(count(*) AS INTEGER) + 1] AS BIGINT) AS nfact
         |  FROM chan),
         |grid AS (SELECT CAST(g.range AS BIGINT) AS s
         |  FROM range(0, 65536) g, nf WHERE g.range < (1 << nf.n)),
         |v AS MATERIALIZED (
         |  SELECT grid.s, CAST(coalesce(sum(mc.cnt), 0) AS BIGINT) AS v
         |  FROM grid LEFT JOIN mc ON (mc.mask & grid.s) = mc.mask
         |  GROUP BY grid.s),
         |tch AS (SELECT chan.channel,
         |    CAST(coalesce(sum(mc.cnt), 0) AS BIGINT) AS touched
         |  FROM chan LEFT JOIN mc ON (mc.mask & (1 << chan.idx)) <> 0
         |  GROUP BY chan.channel),
         |vt AS (SELECT v.v AS vtot FROM v, nf WHERE v.s = (1 << nf.n) - 1),
         |fl AS (SELECT $f::BIGINT[] AS f),
         |phi AS (
         |  SELECT c.channel,
         |    CAST(sum((f.f[bit_count(v0.s) + 1]
         |        * f.f[nf.n - bit_count(v0.s)]) * (v1.v - v0.v))
         |      AS BIGINT) AS phi_num
         |  FROM chan c
         |  CROSS JOIN nf CROSS JOIN fl f
         |  JOIN v v0 ON (v0.s & (1 << c.idx)) = 0
         |  JOIN v v1 ON v1.s = v0.s + (1 << c.idx)
         |  GROUP BY c.channel)
         |SELECT p.channel, t.touched, p.phi_num,
         |  CAST(p.phi_num AS DOUBLE) / CAST(nf.nfact AS DOUBLE) AS phi,
         |  CAST(p.phi_num AS DOUBLE) / CAST(nf.nfact AS DOUBLE)
         |    / CAST(vt.vtot AS DOUBLE) AS share
         |FROM phi p JOIN tch t USING (channel), nf, vt""".stripMargin
    },

    // Mirrors Temporal.markovRemovalAttribution: identical journey
    // windows, scenario edge munging, and a recursive-CTE replay of the
    // integer matvec absorption (per-edge div then order-free integer
    // sums — list order cannot matter).
    "q315_markov_attribution" ->
      s"""WITH RECURSIVE $touchpointsCte,
        |cut AS (SELECT * FROM o
        |  WHERE ccum = 0 OR (ccum = 1 AND isc = 1)),
        |s2 AS (SELECT *,
        |    lead(t) OVER (PARTITION BY u ORDER BY ts, tie) AS nxt,
        |    row_number() OVER (PARTITION BY u ORDER BY ts, tie) AS rn
        |  FROM cut),
        |es AS (
        |  SELECT 'start' AS src,
        |    CASE WHEN t = 'purchase' THEN 'conv' ELSE t END AS dst
        |  FROM s2 WHERE rn = 1
        |  UNION ALL
        |  SELECT t, CASE WHEN nxt = 'purchase' THEN 'conv' ELSE nxt END
        |  FROM s2 WHERE nxt IS NOT NULL
        |  UNION ALL
        |  SELECT t, 'null' FROM s2
        |  WHERE nxt IS NULL AND t <> 'purchase'),
        |eg AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
        |  FROM es GROUP BY 1, 2),
        |sc AS (SELECT '__baseline' AS scenario
        |  UNION ALL SELECT DISTINCT src FROM eg WHERE src <> 'start'),
        |se AS (SELECT sc.scenario, eg.src,
        |    CASE WHEN eg.dst = sc.scenario THEN 'null' ELSE eg.dst END
        |      AS dst, eg.w
        |  FROM eg CROSS JOIN sc WHERE eg.src <> sc.scenario),
        |se2 AS (SELECT scenario, src, dst, CAST(sum(w) AS BIGINT) AS w
        |  FROM se GROUP BY 1, 2, 3
        |  UNION ALL
        |  SELECT sc.scenario, l.s, l.s, CAST(1 AS BIGINT)
        |  FROM sc, unnest(['conv', 'null']) AS l(s)),
        |ow AS (SELECT scenario, src, CAST(sum(w) AS BIGINT) AS out_w
        |  FROM se2 GROUP BY 1, 2),
        |wo AS (SELECT se2.scenario, se2.src, se2.dst, se2.w, ow.out_w
        |  FROM se2 JOIN ow
        |    ON se2.scenario = ow.scenario AND se2.src = ow.src),
        |stn AS (SELECT DISTINCT n FROM (
        |  SELECT src AS n FROM eg UNION SELECT dst FROM eg
        |  UNION SELECT 'conv' UNION SELECT 'null' UNION SELECT 'start')),
        |idx AS (SELECT n,
        |    CAST(row_number() OVER (ORDER BY n) - 1 AS INTEGER) AS idx
        |  FROM stn),
        |meta AS (SELECT CAST(count(*) AS INTEGER) AS n_states,
        |    CAST(max(CASE WHEN n = 'start' THEN idx END) AS INTEGER)
        |      AS start_idx,
        |    CAST(max(CASE WHEN n = 'conv' THEN idx END) AS INTEGER)
        |      AS conv_idx
        |  FROM idx),
        |m AS (SELECT wo.scenario,
        |    list(struct_pack(si := a.idx, di := b.idx, w := wo.w,
        |      out_w := wo.out_w)) AS M
        |  FROM wo JOIN idx a ON a.n = wo.src JOIN idx b ON b.n = wo.dst
        |  GROUP BY 1),
        |it AS (
        |  SELECT m.scenario, m.M, meta.n_states, meta.start_idx,
        |    meta.conv_idx, 0 AS k,
        |    list_transform(range(0, meta.n_states),
        |      j -> CAST(CASE WHEN j = meta.start_idx THEN 1000000000
        |        ELSE 0 END AS BIGINT)) AS dist
        |  FROM m CROSS JOIN meta
        |  UNION ALL
        |  SELECT scenario, M, n_states, start_idx, conv_idx, k + 1,
        |    list_transform(range(0, n_states),
        |      j -> CAST(coalesce(list_sum(list_transform(
        |        list_filter(M, e -> e.di = j),
        |        e -> (dist[e.si + 1] * e.w) // e.out_w)), 0) AS BIGINT))
        |  FROM it WHERE k < 12),
        |p AS (SELECT scenario, dist[conv_idx + 1] AS p_mu
        |  FROM it WHERE k = 12),
        |base AS (SELECT p_mu AS pb FROM p WHERE scenario = '__baseline'),
        |rem AS (SELECT scenario AS channel, p_mu FROM p
        |  WHERE scenario <> '__baseline'),
        |tot AS (SELECT CAST(sum(base.pb - rem.p_mu) AS BIGINT) AS te
        |  FROM rem, base)
        |SELECT channel,
        |  CAST(pb AS DOUBLE) / 1e9 AS p_conv,
        |  CAST(p_mu AS DOUBLE) / 1e9 AS p_conv_removed,
        |  CAST(pb - p_mu AS DOUBLE) / 1e9 AS removal_effect,
        |  CASE WHEN te = 0 THEN NULL
        |    ELSE CAST(pb - p_mu AS DOUBLE) / CAST(te AS DOUBLE) END
        |    AS attribution
        |FROM rem, base, tot""".stripMargin,

    // Mirrors Temporal.rfmSegments: same exact integer R/F/M values,
    // quantile_cont ≡ percentile cutoffs, strict-compare bucket scores.
    "q312_rfm_segments" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(max(date_diff('day', DATE '1970-01-01',
        |      CAST(ts AS DATE))) AS BIGINT) AS lastd,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(value AS DECIMAL(12,2))
        |        ELSE CAST(0 AS DECIMAL(12,2)) END) * 100 AS BIGINT)
        |      AS monetary_cents
        |  FROM events GROUP BY 1),
        |h AS (SELECT max(lastd) AS h FROM per),
        |pu AS (SELECT user_id, h.h - lastd AS recency_days, frequency,
        |    monetary_cents
        |  FROM per, h),
        |cuts AS (SELECT
        |    quantile_cont(CAST(recency_days AS DOUBLE),
        |      [0.2, 0.4, 0.6, 0.8]) AS rc,
        |    quantile_cont(CAST(frequency AS DOUBLE),
        |      [0.2, 0.4, 0.6, 0.8]) AS fc,
        |    quantile_cont(CAST(monetary_cents AS DOUBLE),
        |      [0.2, 0.4, 0.6, 0.8]) AS mc
        |  FROM pu),
        |sc AS (SELECT pu.user_id, pu.recency_days, pu.frequency,
        |    pu.monetary_cents,
        |    CAST(1 + len(list_filter(cuts.rc,
        |      c -> CAST(pu.recency_days AS DOUBLE) < c)) AS BIGINT)
        |      AS r_score,
        |    CAST(1 + len(list_filter(cuts.fc,
        |      c -> CAST(pu.frequency AS DOUBLE) > c)) AS BIGINT)
        |      AS f_score,
        |    CAST(1 + len(list_filter(cuts.mc,
        |      c -> CAST(pu.monetary_cents AS DOUBLE) > c)) AS BIGINT)
        |      AS m_score
        |  FROM pu CROSS JOIN cuts)
        |SELECT user_id, recency_days, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |    || CAST(m_score AS VARCHAR) AS segment
        |FROM sc""".stripMargin,

    // Mirrors Temporal.cohortLtv: per-row exact cents, integer week
    // folds, cumulative window per cohort, one terminal division.
    "q314_cohort_ltv" ->
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) // 7 AS w,
        |    CAST(CASE WHEN event_type = 'purchase'
        |        THEN CAST(value AS DECIMAL(12,2))
        |        ELSE CAST(0 AS DECIMAL(12,2)) END * 100 AS BIGINT) AS c
        |  FROM events),
        |co AS (SELECT user_id, min(w) AS cw FROM b GROUP BY 1),
        |sz AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users
        |  FROM co GROUP BY 1),
        |cell AS (SELECT co.cw, b.w - co.cw AS week_k,
        |    CAST(sum(b.c) AS BIGINT) AS cents
        |  FROM b JOIN co ON b.user_id = co.user_id GROUP BY 1, 2),
        |cum AS (SELECT cw, week_k,
        |    CAST(sum(cents) OVER (PARTITION BY cw ORDER BY week_k
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc
        |  FROM cell)
        |SELECT cum.cw AS cohort_week, cum.week_k, sz.n_users,
        |  CAST(cumc AS DOUBLE) / 100.0 / CAST(sz.n_users AS DOUBLE)
        |    AS cum_value_per_user
        |FROM cum JOIN sz ON cum.cw = sz.cw""".stripMargin,

    "q285_markov_stationary" -> markovSql(12),

    "q280_new_vs_returning" ->
      """WITH fd AS (
        |  SELECT user_id,
        |    CAST(min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |      AS BIGINT) AS day_idx
        |  FROM events GROUP BY 1),
        |nw AS (SELECT day_idx, CAST(count(*) AS BIGINT) AS n_new
        |  FROM fd GROUP BY 1),
        |act AS (
        |  SELECT day_idx, CAST(count(*) AS BIGINT) AS n_active FROM (
        |    SELECT DISTINCT CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(ts AS DATE)) AS BIGINT) AS day_idx, user_id
        |    FROM events) GROUP BY 1)
        |SELECT act.day_idx, act.n_active,
        |  coalesce(nw.n_new, 0) AS n_new,
        |  act.n_active - coalesce(nw.n_new, 0) AS n_returning,
        |  CAST(coalesce(nw.n_new, 0) AS DOUBLE) / act.n_active
        |    AS new_share
        |FROM act LEFT JOIN nw ON act.day_idx = nw.day_idx""".stripMargin,

    // Mirrors Temporal.attribution: same (ts, id) tie-breaks, linear
    // credit micro-quantized per touch row before summing.
    "q279_attribution" ->
      """WITH conv AS (
        |  SELECT user_id AS u, ts AS ct, event_id AS cid FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id AS u, ts AS tt, event_id AS tid,
        |    'ch' || CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
        |      % 3 AS VARCHAR) AS channel
        |  FROM events WHERE event_type IN ('view', 'click')),
        |p AS (
        |  SELECT conv.cid, t.channel, t.tt, t.tid
        |  FROM conv JOIN t ON conv.u = t.u
        |    AND t.tt <= conv.ct
        |    AND t.tt >= conv.ct - INTERVAL '604800 seconds'),
        |r AS (
        |  SELECT cid, channel,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY tt DESC, tid DESC) AS rl,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY tt ASC, tid ASC) AS rf,
        |    count(*) OVER (PARTITION BY cid) AS n
        |  FROM p)
        |SELECT channel, 'last' AS model,
        |  CAST(sum(CASE WHEN rl = 1 THEN 1000000 ELSE 0 END) AS DOUBLE)
        |    / 1e6 AS credit,
        |  CAST(count(*) AS BIGINT) AS n_touches
        |FROM r GROUP BY 1
        |UNION ALL SELECT channel, 'first',
        |  CAST(sum(CASE WHEN rf = 1 THEN 1000000 ELSE 0 END) AS DOUBLE)
        |    / 1e6, CAST(count(*) AS BIGINT)
        |FROM r GROUP BY 1
        |UNION ALL SELECT channel, 'linear',
        |  CAST(sum(CASE WHEN rl = 1
        |    THEN 1000000 - (n - 1) * (1000000 // n)
        |    ELSE 1000000 // n END) AS DOUBLE) / 1e6,
        |  CAST(count(*) AS BIGINT)
        |FROM r GROUP BY 1""".stripMargin,

    // Mirrors Temporal.seasonalResiduals: micro-units fixed at first
    // appearance (trend from the integer 7-day sum, dow effect from the
    // exact BIGINT residual sum), exact-percentile MAD per type.
    "q273_seasonal_residuals" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day_idx,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, day_idx, n,
        |    CAST(sum(n) OVER f AS BIGINT) AS s7, count(n) OVER f AS c7
        |  FROM daily
        |  WINDOW f AS (PARTITION BY event_type ORDER BY day_idx
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |g AS (
        |  SELECT event_type, day_idx, n,
        |    CAST(round(CAST(s7 AS DOUBLE) * 1e6 / 7.0) AS BIGINT)
        |      AS trend_mu,
        |    n * 1000000 - CAST(round(CAST(s7 AS DOUBLE) * 1e6 / 7.0)
        |      AS BIGINT) AS r1_mu,
        |    (day_idx + 4) % 7 AS dow
        |  FROM t WHERE c7 = 7),
        |de AS (
        |  SELECT event_type, dow,
        |    CAST(round(CAST(sum(r1_mu) AS DOUBLE) / count(*)) AS BIGINT)
        |      AS dow_mu
        |  FROM g GROUP BY 1, 2),
        |r AS (
        |  SELECT g.event_type, g.day_idx, g.n, g.trend_mu,
        |    g.r1_mu - de.dow_mu AS resid_mu
        |  FROM g JOIN de ON g.event_type = de.event_type
        |    AND g.dow = de.dow),
        |m AS (SELECT event_type, quantile_cont(abs(resid_mu), 0.5) AS mad
        |  FROM r GROUP BY 1)
        |SELECT r.event_type, r.day_idx, r.n,
        |  CAST(r.trend_mu AS DOUBLE) / 1e6 AS trend,
        |  CAST(r.resid_mu AS DOUBLE) / 1e6 AS resid,
        |  CAST(abs(r.resid_mu) AS DOUBLE) > 3.0 * m.mad AS is_anomaly
        |FROM r JOIN m ON r.event_type = m.event_type""".stripMargin,

    // Mirrors Temporal.holtLinear: the recursive CTE recomputes newL
    // inside the trend column exactly as the Spark fold writes it twice.
    "q270_holt_linear" ->
      s"""WITH RECURSIVE $dailyRankedCte,
        |h AS (
        |  SELECT event_type, day_idx, v, rn, v AS l,
        |    CAST(0.0 AS DOUBLE) AS b
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.day_idx, r.v, r.rn,
        |    CAST(0.5 AS DOUBLE) * r.v + CAST(0.5 AS DOUBLE) * (h.l + h.b),
        |    CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * r.v
        |        + CAST(0.5 AS DOUBLE) * (h.l + h.b)) - h.l)
        |      + CAST(0.7 AS DOUBLE) * h.b
        |  FROM r JOIN h ON r.event_type = h.event_type
        |    AND r.rn = h.rn + 1)
        |SELECT event_type, day_idx, v, l AS level, b AS trend,
        |  l + b AS forecast_next
        |FROM h""".stripMargin,

    "q272_rolling_extremes" ->
      s"""WITH $dailyValueCte,
        |w AS (
        |  SELECT event_type, day_idx, v,
        |    min(v) OVER f AS lo, max(v) OVER f AS hi,
        |    count(v) OVER f AS n
        |  FROM daily
        |  WINDOW f AS (PARTITION BY event_type ORDER BY day_idx
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day_idx, v, lo, hi,
        |  v > hi AS is_new_high, v < lo AS is_new_low
        |FROM w WHERE n = 7""".stripMargin,

    "q259_ewma_daily" ->
      s"""WITH RECURSIVE $dailyRankedCte,
        |ew AS (
        |  SELECT event_type, day_idx, v, rn, v AS ewma FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.day_idx, r.v, r.rn,
        |    CAST(0.3 AS DOUBLE) * r.v + CAST(0.7 AS DOUBLE) * ew.ewma
        |  FROM r JOIN ew ON r.event_type = ew.event_type
        |    AND r.rn = ew.rn + 1)
        |SELECT event_type, day_idx, v, ewma FROM ew""".stripMargin,

    "q260_seasonal_error" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day_idx,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, n,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY day_idx) AS l1,
        |    lag(n, 7) OVER (PARTITION BY event_type ORDER BY day_idx) AS l7
        |  FROM daily)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(n - l1)) AS DOUBLE) / count(l1) AS mae_naive,
        |  CAST(sum(abs(n - l7)) AS DOUBLE) / count(l7) AS mae_seasonal,
        |  (CAST(sum(abs(n - l7)) AS DOUBLE) / count(l7))
        |    / (CAST(sum(abs(n - l1)) AS DOUBLE) / count(l1)) AS mase_ratio
        |FROM l GROUP BY 1""".stripMargin,

    "q231_gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
        |      AS day_idx,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(value AS DECIMAL(12,2))) AS sv
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT CAST(min(day_idx) AS BIGINT) AS mn,
        |    CAST(max(day_idx) AS BIGINT) AS mx FROM daily),
        |grid AS (
        |  SELECT t.event_type,
        |    CAST(unnest(generate_series(mn, mx)) AS BIGINT) AS day_idx
        |  FROM (SELECT DISTINCT event_type FROM daily) t CROSS JOIN bounds),
        |j AS (
        |  SELECT g.event_type, g.day_idx, d.n, d.sv
        |  FROM grid g LEFT JOIN daily d
        |    ON g.event_type = d.event_type AND g.day_idx = d.day_idx),
        |f AS (
        |  SELECT event_type, day_idx, n, sv,
        |    last_value(CAST(sv AS DOUBLE) IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN sv IS NOT NULL THEN day_idx END IGNORE NULLS)
        |      OVER wp AS pd,
        |    first_value(CAST(sv AS DOUBLE) IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN sv IS NOT NULL THEN day_idx END IGNORE NULLS)
        |      OVER wn AS nd
        |  FROM j WINDOW
        |    wp AS (PARTITION BY event_type ORDER BY day_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY event_type ORDER BY day_idx
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day_idx, CAST(coalesce(n, 0) AS BIGINT) AS n,
        |  pv AS v_locf,
        |  CASE WHEN sv IS NOT NULL THEN CAST(sv AS DOUBLE)
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      pv + (nv - pv) *
        |        (CAST(day_idx AS DOUBLE) - CAST(pd AS DOUBLE)) /
        |        (CAST(nd AS DOUBLE) - CAST(pd AS DOUBLE))
        |    ELSE coalesce(pv, nv) END AS v_interp
        |FROM f""".stripMargin,

    "q232_conversion_latency" ->
      """WITH per AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS vu,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS pu
        |  FROM events WHERE event_type = 'view' OR event_type = 'purchase'
        |  GROUP BY 1),
        |lat AS (
        |  SELECT (pu - vu) // 60000000 AS lat_min FROM per
        |  WHERE vu IS NOT NULL AND pu IS NOT NULL AND pu > vu),
        |g AS (SELECT lat_min, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY 1),
        |cum AS (
        |  SELECT lat_min, c,
        |    CAST(sum(c) OVER (ORDER BY lat_min ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm
        |  FROM g),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(lat_min * c) AS BIGINT) AS s FROM g)
        |SELECT max(n) AS n_converted,
        |  min(CASE WHEN cm * 2 >= n THEN lat_min END) AS p50_min,
        |  min(CASE WHEN cm * 10 >= n * 9 THEN lat_min END) AS p90_min,
        |  max(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS mean_min
        |FROM cum CROSS JOIN tot""".stripMargin,

    "q233_neyman_allocation" ->
      s"""WITH per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_h,
         |    CAST(sum(n_chars) AS BIGINT) AS s,
         |    CAST(sum(n_chars * n_chars) AS BIGINT) AS q
         |  FROM documents GROUP BY 1),
         |sc AS (
         |  SELECT source, n_h,
         |    sqrt((CAST(n_h AS DOUBLE) * CAST(q AS DOUBLE)
         |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
         |      / (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - 1.0))) AS sd_h
         |  FROM per),
         |sc2 AS (SELECT source, n_h, sd_h,
         |    CAST(n_h AS DOUBLE) * sd_h AS w FROM sc),
         |norm AS (
         |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(list(struct_pack(t := w) ORDER BY source),
         |      s -> s.t)), (a, x) -> a + x) AS z
         |  FROM sc2)
         |SELECT source, n_h, sd_h, w / z AS alloc_share,
         |  CAST(round($neymanBudget.0 * (w / z), 0) AS BIGINT) AS alloc_n
         |FROM sc2 CROSS JOIN norm""".stripMargin,

    "q234_cumulative_uniques" ->
      """WITH fd AS (
        |  SELECT user_id,
        |    CAST(min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |      AS BIGINT) AS day_idx
        |  FROM events GROUP BY 1),
        |nd AS (SELECT day_idx, CAST(count(*) AS BIGINT) AS n_new
        |  FROM fd GROUP BY 1),
        |bounds AS (
        |  SELECT CAST(min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |      AS BIGINT) AS mn,
        |    CAST(max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |      AS BIGINT) AS mx
        |  FROM events),
        |grid AS (SELECT CAST(unnest(generate_series(mn, mx)) AS BIGINT)
        |    AS day_idx FROM bounds)
        |SELECT g.day_idx, CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY g.day_idx ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM grid g LEFT JOIN nd ON g.day_idx = nd.day_idx""".stripMargin,

    "q235_dow_seasonality" ->
      """WITH cnt AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
        |      AS BIGINT) AS dow,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT CAST(min(dd) AS BIGINT) AS mn, CAST(max(dd) AS BIGINT) AS mx
        |  FROM (SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS dd FROM events)),
        |dd AS (
        |  SELECT CAST(d % 7 AS BIGINT) AS dow, CAST(count(*) AS BIGINT) AS n_days
        |  FROM (SELECT unnest(generate_series(mn, mx)) AS d FROM bounds)
        |  GROUP BY 1),
        |tot AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS te
        |  FROM cnt GROUP BY 1),
        |td AS (SELECT mx - mn + 1 AS td FROM bounds)
        |SELECT cnt.event_type, cnt.dow, cnt.n_events, dd.n_days,
        |  (CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)) /
        |  (CAST(te AS DOUBLE) / CAST(td AS DOUBLE)) AS season_idx
        |FROM cnt JOIN dd ON cnt.dow = dd.dow
        |JOIN tot ON cnt.event_type = tot.event_type CROSS JOIN td""".stripMargin)
}
