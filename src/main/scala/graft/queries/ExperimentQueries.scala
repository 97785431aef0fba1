package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.{Inference, ModelEval, Stats, Survival}

/** Round-10 experimentation batch: the product-analytics trio — Kaplan-
  * Meier churn survival with honest censoring, the two-proportion
  * A/B z-test, and expected calibration error for the score pipeline.
  * Grids and folds as everywhere; KM's survival product is exp/ln and
  * therefore 6dp-quantized (the q219 libm discipline). */
object ExperimentQueries {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(

    // Kaplan-Meier survival of user activity spans: churn = silent for
    // the final 7 observed days; still-active users are CENSORED (leave
    // the risk set without counting as events) — what naive average
    // lifetime gets wrong.
    "q245_kaplan_meier" -> ((s, d) =>
      Survival.kaplanMeier(table(s, d, "events"), "user_id", "ts",
        churnGapDays = 7)),

    // Two-proportion z: do even- and odd-id users convert (ever
    // purchase) at different rates? The A/B experiment readout beside
    // q179's mean-shift Welch t.
    "q246_two_proportion_z" -> ((s, dir) => {
      val perUser = table(s, dir, "events").groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) > 0)
          .as("converted"))
        .select(when(pmod(col("user_id"), lit(2)) === 0, "even")
          .otherwise("odd").as("cohort"), col("converted"))
      Stats.twoProportionZ(perUser, "cohort", "even", "odd", col("converted"))
    }),

    // Expected calibration error of the toy length→English score over 10
    // integer-assigned bins — ranking quality (q241) and calibration are
    // different failures; this measures the second.
    // Experiment-planning sheet: per event type, the users needed PER ARM
    // to detect a +1pp absolute lift in its user-share at alpha=.05 /
    // 80% power (two-proportion closed form), and the days of traffic
    // that implies at the observed daily-active rate split 50/50. Exact
    // integer counts feed one fixed-order double formula; z constants
    // are shared literals. The "can we even run this test" gate beside
    // q246's verdict on a finished one.
    "q281_mde_planning" -> ((s, d) => {
      val ev = table(s, d, "events")
      val perType = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val totals = ev.agg(
        countDistinct(col("user_id")).as("__tu"),
        countDistinct(col("user_id"),
          to_date(col("ts"))).as("__uad"),
        countDistinct(to_date(col("ts"))).as("__nd"))
      val z = "(1.959964 + 0.841621)"
      perType.crossJoin(broadcast(totals))
        .withColumn("p", col("n_users").cast("double") / col("__tu"))
        .withColumn("__daily",
          col("__uad").cast("double") / col("__nd") / 2.0)
        .select(col("event_type"), col("n_users"), col("p"),
          ceil(expr(s"2.0 * p * (1.0 - p) * $z * $z * 10000.0"))
            .cast("bigint").as("n_per_arm"),
          ceil(expr(s"ceil(2.0 * p * (1.0 - p) * $z * $z * 10000.0)" +
            " / __daily").cast("double")).cast("bigint").as("days_needed"))
    }),

    "q247_ece" -> ((s, d) =>
      ModelEval.ece(table(s, d, "documents"), "n_chars",
        col("lang") === "en")),

    // Deterministic Poisson-bootstrap 95% CI for mean order value per
    // priority — B=32 hash-seeded resamples, exact decimal replicate
    // sums, percentiles over the replicate grid. The resampling
    // companion to q179's closed-form Welch interval. See
    // Inference.bootstrapCi for the streaming/sharded-bootstrap scale
    // argument.
    "q282_bootstrap_ci" -> ((s, d) =>
      Inference.bootstrapCi(table(s, d, "orders"), "o_orderpriority",
        "o_orderkey", "o_totalprice", b = 32)),

    // CUPED sensitivity audit: per-user first-half-month value as the
    // pre-experiment covariate for second-half value — theta and the
    // variance reduction the adjustment would buy (how much smaller the
    // q281 MDE could be). See Stats.cuped.
    "q294_cuped" -> ((s, dir) =>
      Stats.cuped(prePostPerUser(s, dir), "pre", "post")),

    // Stratified CUPED: q294's audit with theta fitted WITHIN each
    // user_id%4 cohort — the per-stratum variance reduction a covariate
    // with cohort-dependent slope earns (one pooled theta under-serves
    // every cohort, the q288 Simpson lesson). See Stats.cupedStratified.
    "q301_cuped_stratified" -> ((s, dir) => {
      val perUser = prePostPerUser(s, dir)
        .select(pmod(col("user_id"), lit(4)).as("cohort"),
          col("pre"), col("post"))
      Stats.cupedStratified(perUser, "cohort", "pre", "post")
    }),

    // Sample-ratio-mismatch gate: chi-square of the even/odd user-id
    // split against the intended 50/50 — the first sanity check of any
    // A/B rig (a triggered SRM invalidates the experiment before any
    // metric is read). See Stats.srmCheck.
    "q313_srm_check" -> ((s, dir) =>
      Stats.srmCheck(
        table(s, dir, "events").select(col("user_id")).distinct(),
        pmod(col("user_id"), lit(2)))),

    // Difference-in-differences: even-id users "treated" in the second
    // half-month, outcome = per-(user, day) value; DiD point estimate
    // from the four exact cell means plus the parallel-trends pre-audit
    // (pre-period daily-mean slope gap). See Stats.diffInDiff.
    "q310_diff_in_diff" -> ((s, dir) => {
      val grain = table(s, dir, "events")
        .groupBy(col("user_id"),
          dayofmonth(col("ts")).cast("bigint").as("__day"))
        .agg(sum(col("value")
            .cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("__val"))
      Stats.diffInDiff(grain, pmod(col("user_id"), lit(2)) === 0,
        col("__day") >= 16, col("__day"), col("__val"))
    }),

    // Wald SPRT on the daily purchase-conversion stream: H0 p=0.10 vs
    // H1 p=0.15, alpha=.05 / beta=.2 — the stop-any-day sequential test
    // beside q296's fixed-horizon group-sequential boundary. All four
    // ln constants are shared driver-computed literals; no libm runs in
    // either engine. See Stats.sprt.
    "q302_sprt" -> ((s, dir) =>
      Stats.sprt(table(s, dir, "events"), "user_id", "ts",
        col("event_type") === "purchase", p0 = 0.10, p1 = 0.15,
        alpha = 0.05, beta = 0.2)),

    // Group-sequential monitor: daily cumulative two-proportion z
    // against the O'Brien-Fleming-style zCrit*sqrt(T/t) boundary — the
    // peeking-safe daily readout beside q246's single terminal look.
    // See Stats.sequentialMonitor.
    "q296_sequential_monitor" -> ((s, dir) =>
      Stats.sequentialMonitor(table(s, dir, "events"), "user_id", "ts",
        col("event_type") === "purchase", zCrit = 1.959964)),

    // A/A-test calibration: the q246 z-test replayed across 20
    // hash-randomized NULL splits of the same users — the false-positive
    // census that certifies the experimentation rig itself. See
    // Stats.aaCalibration.
    "q295_aa_calibration" -> ((s, dir) => {
      val perUser = table(s, dir, "events").groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) > 0).as("converted"))
      Stats.aaCalibration(perUser, "user_id", col("converted"),
        nSplits = 20, zCrit = 1.959964)
    }))

  /** Per user_id: the first-half-month (`pre`) and second-half-month
    * (`post`) event value sums, exact DECIMAL(12,2) cast to double once —
    * the q294/q301 CUPED input. */
  private def prePostPerUser(s: SparkSession, dir: String): DataFrame = {
    val z = lit(0).cast(org.apache.spark.sql.types.DecimalType(12, 2))
    table(s, dir, "events").groupBy(col("user_id"))
      .agg(sum(when(dayofmonth(col("ts")) <= 15,
          col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
        .otherwise(z)).cast("double").as("pre"),
        sum(when(dayofmonth(col("ts")) >= 16,
          col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
        .otherwise(z)).cast("double").as("post"))
  }

  /** The q294 CUPED oracle (q301 when `stratified`: the same stages per
    * `user_id % 4` cohort): per-user pre/post DECIMAL sums, exact moment
    * sums, the centered co-moments, and Stats.cuped's final formulas. */
  private def cupedOracle(stratified: Boolean): String = {
    val (unit, k, byUser, byK) =
      if (stratified) ("user_id % 4 AS cohort", "cohort, ", "user_id", " GROUP BY 1")
      else ("user_id", "", "1", "")
    s"""WITH pu AS (
       |  SELECT $unit,
       |    CAST(sum(CASE WHEN day(ts) <= 15
       |      THEN CAST(value AS DECIMAL(12,2))
       |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS pre,
       |    CAST(sum(CASE WHEN day(ts) >= 16
       |      THEN CAST(value AS DECIMAL(12,2))
       |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS post
       |  FROM events GROUP BY $byUser),
       |a AS (
       |  SELECT ${k}CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(pre AS DECIMAL(12,2))) AS sx,
       |    sum(CAST(post AS DECIMAL(12,2))) AS sy,
       |    sum(CAST(pre AS DECIMAL(12,2)) * CAST(post AS DECIMAL(12,2)))
       |      AS sxy,
       |    sum(CAST(pre AS DECIMAL(12,2)) * CAST(pre AS DECIMAL(12,2)))
       |      AS sxx,
       |    sum(CAST(post AS DECIMAL(12,2)) * CAST(post AS DECIMAL(12,2)))
       |      AS syy
       |  FROM pu$byK),
       |m AS (SELECT ${k}n,
       |    ${OracleSql.centeredMoments}
       |  FROM a)
       |SELECT ${k}n,
       |  CASE WHEN dxx = 0.0 THEN NULL ELSE dxy / dxx END AS theta,
       |  dyy / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_post,
       |  CASE WHEN dxx = 0.0
       |    THEN dyy / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
       |    ELSE (dyy - (dxy / dxx) * dxy)
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) END AS var_cuped,
       |  CASE WHEN dxx = 0.0 OR dyy = 0.0 THEN CAST(0.0 AS DOUBLE)
       |    ELSE (dxy / dxx) * dxy / dyy END AS var_reduction
       |FROM m""".stripMargin
  }

  /** The q246 two-proportion z over arm counts n_a, k_a, n_b, k_b and the
    * pooled rate `pp` (NULL when pp is 0 or 1), in one operation order. */
  private val pooledZ =
    """CASE WHEN pp = 0.0 OR pp = 1.0 THEN NULL
      |      ELSE (CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |          - CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |        / sqrt(pp * (1.0 - pp)
      |          * (1.0 / CAST(n_a AS DOUBLE)
      |            + 1.0 / CAST(n_b AS DOUBLE))) END AS z""".stripMargin

  val oracle: Map[String, String] = Map(

    // Mirrors Stats.sequentialMonitor: calendar-grid cumulative counts,
    // the q246 z operation order, exact day integers under one sqrt.
    "q296_sequential_monitor" ->
      s"""WITH daily AS (
        |  SELECT user_id AS u,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day_idx,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1, 2),
        |pd AS (
        |  SELECT day_idx,
        |    CAST(count(CASE WHEN u % 2 = 0 THEN 1 END) AS BIGINT) AS da,
        |    CAST(sum(CASE WHEN u % 2 = 0 THEN conv ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(count(CASE WHEN u % 2 = 1 THEN 1 END) AS BIGINT) AS db,
        |    CAST(sum(CASE WHEN u % 2 = 1 THEN conv ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM daily GROUP BY 1),
        |c AS (
        |  SELECT day_idx,
        |    CAST(sum(da) OVER wcum AS BIGINT) AS n_a,
        |    CAST(sum(ca) OVER wcum AS BIGINT) AS k_a,
        |    CAST(sum(db) OVER wcum AS BIGINT) AS n_b,
        |    CAST(sum(cb) OVER wcum AS BIGINT) AS k_b,
        |    CAST(row_number() OVER (ORDER BY day_idx) AS BIGINT) AS t
        |  FROM pd
        |  WINDOW wcum AS (ORDER BY day_idx ROWS UNBOUNDED PRECEDING)),
        |tm AS (SELECT max(t) AS tmx FROM c),
        |p AS (SELECT c.*, tm.tmx,
        |    (CAST(k_a AS DOUBLE) + CAST(k_b AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
        |  FROM c, tm),
        |zz AS (SELECT *,
        |    $pooledZ,
        |    '1.959964'::DOUBLE
        |      * sqrt(CAST(tmx AS DOUBLE) / CAST(t AS DOUBLE)) AS boundary
        |  FROM p)
        |SELECT day_idx, n_a, k_a, n_b, k_b, z, boundary,
        |  CASE WHEN z IS NULL THEN false
        |    ELSE abs(z) > boundary END AS crossed
        |FROM zz""".stripMargin,

    // Mirrors Stats.cuped: exact decimal moments over the per-user
    // pre/post sums, identical final-formula operation order.
    "q294_cuped" -> cupedOracle(stratified = false),

    // Mirrors q294 stage for stage with the cohort key threaded through.
    "q301_cuped_stratified" -> cupedOracle(stratified = true),
    // Mirrors Stats.srmCheck: exact distinct-unit counts, the identical
    // fixed-order two-term chi-square.
    "q313_srm_check" -> {
      val chi2 = """(CAST(n_a AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    * (CAST(n_a AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |  + (CAST(n_b AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    * (CAST(n_b AS DOUBLE)
        |      - (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)
        |    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) / 2.0)""".stripMargin
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT
        |    CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT)
        |      AS n_a,
        |    CAST(count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS BIGINT)
        |      AS n_b
        |  FROM u)
        |SELECT n_a, n_b,
        |  $chi2
        |    AS chi2,
        |  $chi2
        |    > '3.841459'::DOUBLE AS srm
        |FROM a""".stripMargin
    },

    // Mirrors Stats.diffInDiff: exact DECIMAL cell sums, one fixed-order
    // mean division per cell, micro-quantized pre-day means feeding
    // exact BIGINT slope fits.
    "q310_diff_in_diff" ->
      """WITH g AS (
        |  SELECT user_id, CAST(day(ts) AS BIGINT) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id % 2 = 0 AS t, d >= 16 AS p, d,
        |    CAST(v AS DECIMAL(12,2)) AS v FROM g),
        |cells AS (SELECT t, p, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS m
        |  FROM b GROUP BY 1, 2),
        |pre AS (SELECT t, d, CAST(round(CAST(sum(v) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT) AS mmu
        |  FROM b WHERE NOT p GROUP BY 1, 2),
        |fits AS (SELECT t, CAST(count(*) AS BIGINT) AS j,
        |    CAST(sum(d) AS BIGINT) AS sx,
        |    CAST(sum(mmu) AS BIGINT) AS sy,
        |    CAST(sum(d * mmu) AS BIGINT) AS sxy,
        |    CAST(sum(d * d) AS BIGINT) AS sxx
        |  FROM pre GROUP BY 1),
        |sl AS (SELECT t, (CAST(j AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(j AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 1e6 AS slope
        |  FROM fits)
        |SELECT
        |  tp.n AS n_t_pre, tp.m AS mean_t_pre,
        |  tq.n AS n_t_post, tq.m AS mean_t_post,
        |  cp.n AS n_c_pre, cp.m AS mean_c_pre,
        |  cq.n AS n_c_post, cq.m AS mean_c_post,
        |  (tq.m - tp.m) - (cq.m - cp.m) AS did,
        |  st.slope AS slope_t_pre, sc.slope AS slope_c_pre,
        |  st.slope - sc.slope AS pretrend_gap
        |FROM (SELECT n, m FROM cells WHERE t AND NOT p) tp,
        |     (SELECT n, m FROM cells WHERE t AND p) tq,
        |     (SELECT n, m FROM cells WHERE NOT t AND NOT p) cp,
        |     (SELECT n, m FROM cells WHERE NOT t AND p) cq,
        |     (SELECT slope FROM sl WHERE t) st,
        |     (SELECT slope FROM sl WHERE NOT t) sc""".stripMargin,

    // Mirrors Stats.sprt: the identical driver-computed ln literals
    // (Double.toString round-trips; DuckDB's VARCHAR->DOUBLE cast is
    // correctly-rounded strtod), exact BIGINT cumulative counts, LLR in
    // one shared operation order.
    "q302_sprt" -> {
      val c1 = math.log(0.15 / 0.10)
      val c2 = math.log((1.0 - 0.15) / (1.0 - 0.10))
      val up = math.log((1.0 - 0.2) / 0.05)
      val lo = math.log(0.2 / (1.0 - 0.05))
      s"""WITH ud AS (
         |  SELECT user_id,
         |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
         |      AS BIGINT) AS day_idx,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS conv
         |  FROM events GROUP BY 1, 2),
         |pd AS (SELECT day_idx, CAST(count(*) AS BIGINT) AS dn,
         |    CAST(sum(conv) AS BIGINT) AS dk FROM ud GROUP BY 1),
         |c AS (SELECT day_idx,
         |    CAST(sum(dn) OVER (ORDER BY day_idx
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n,
         |    CAST(sum(dk) OVER (ORDER BY day_idx
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS k
         |  FROM pd),
         |l AS (SELECT day_idx, n, k,
         |    CAST(k AS DOUBLE) * '$c1'::DOUBLE
         |      + (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) * '$c2'::DOUBLE
         |      AS llr
         |  FROM c)
         |SELECT day_idx, n, k, llr,
         |  '$up'::DOUBLE AS stop_upper, '$lo'::DOUBLE AS stop_lower,
         |  CASE WHEN llr >= '$up'::DOUBLE THEN 'reject_h0'
         |       WHEN llr <= '$lo'::DOUBLE THEN 'accept_h0'
         |       ELSE 'continue' END AS decision
         |FROM l""".stripMargin
    },

    // Mirrors Stats.aaCalibration: same md5 split randomizer, the q246
    // z formula with identical operation order.
    "q295_aa_calibration" -> {
      val h = ScaleQueries.duckHash60(
        "user_id || '#' || CAST(split AS VARCHAR)")
      s"""WITH pu AS (
         |  SELECT user_id,
         |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
         |      AS conv
         |  FROM events GROUP BY 1),
         |sp AS (SELECT range AS split FROM range(1, 21)),
         |armed AS (
         |  SELECT sp.split, ($h) % 2 AS arm, pu.conv
         |  FROM pu CROSS JOIN sp),
         |a AS (
         |  SELECT split,
         |    CAST(count(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
         |    CAST(count(CASE WHEN arm = 0 AND conv THEN 1 END) AS BIGINT)
         |      AS k_a,
         |    CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b,
         |    CAST(count(CASE WHEN arm = 1 AND conv THEN 1 END) AS BIGINT)
         |      AS k_b
         |  FROM armed GROUP BY 1),
         |p AS (SELECT *,
         |    (CAST(k_a AS DOUBLE) + CAST(k_b AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
         |  FROM a),
         |zz AS (SELECT *,
         |    $pooledZ
         |  FROM p)
         |SELECT split, n_a, k_a, n_b, k_b, z,
         |  CASE WHEN z IS NULL THEN false
         |    ELSE abs(z) > '1.959964'::DOUBLE END AS false_positive
         |FROM zz""".stripMargin
    },

    // Mirrors Inference.bootstrapCi µ for µ: same md5 uniform, identical
    // CDF threshold literals (STRING-cast to DOUBLE — bare numeric
    // literals parse as DECIMAL, the q195 lesson), exact DECIMAL/BIGINT
    // replicate sums, quantile_cont == percentile on the B-row grid.
    "q282_bootstrap_ci" -> {
      val h32 = "(" + ScaleQueries.duckHash60("o_orderkey") + ") % 4294967296"
      val m = s"xor(h32, (r * 2654435769) % 4294967296)"
      val u = s"CAST(((($m) % 65536) * 2654435761" +
        s" + ((($m) // 65536) * 2654435761) % 65536 * 65536)" +
        s" % 4294967296 AS DOUBLE) / 4294967296.0"
      s"""WITH reps AS (SELECT range AS r FROM range(1, 33)),
         |h AS (
         |  SELECT o_orderpriority AS g, $h32 AS h32,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      AS vc
         |  FROM orders WHERE o_totalprice IS NOT NULL),
         |x AS (
         |  SELECT g, r,
         |    CASE WHEN $u < '0.36787944117144233'::DOUBLE THEN 0
         |         WHEN $u < '0.7357588823428847'::DOUBLE THEN 1
         |         WHEN $u < '0.9196986029286058'::DOUBLE THEN 2
         |         WHEN $u < '0.9810118431238463'::DOUBLE THEN 3
         |         WHEN $u < '0.9963401531726563'::DOUBLE THEN 4
         |         ELSE 5 END AS w,
         |    vc
         |  FROM h CROSS JOIN reps),
         |m AS (
         |  SELECT g, r, CAST(CAST(sum(w * vc) AS BIGINT) AS DOUBLE)
         |      / 100.0
         |      / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS mean_r
         |  FROM x GROUP BY 1, 2 HAVING sum(w) > 0),
         |ci AS (
         |  SELECT g, quantile_cont(mean_r, 0.025) AS ci_lo,
         |    quantile_cont(mean_r, 0.975) AS ci_hi,
         |    CAST(count(*) AS BIGINT) AS n_replicates
         |  FROM m GROUP BY 1),
         |pt AS (
         |  SELECT o_orderpriority AS g,
         |    CAST(count(o_totalprice) AS BIGINT) AS n,
         |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         |      / CAST(count(o_totalprice) AS DOUBLE) AS point_mean
         |  FROM orders GROUP BY 1)
         |SELECT pt.g AS o_orderpriority, pt.n, pt.point_mean,
         |  ci.ci_lo, ci.ci_hi, ci.n_replicates
         |FROM pt JOIN ci ON pt.g = ci.g""".stripMargin
    },

    // Mirrors q281: identical literal text for the closed form (the
    // delta^-2 written as *10000.0 — a decimal 0.01*0.01 would divide
    // through a different representation than Spark's double).
    "q281_mde_planning" ->
      """WITH pt AS (
        |  SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS tu,
        |    CAST(count(DISTINCT (user_id, CAST(ts AS DATE))) AS BIGINT)
        |      AS uad,
        |    CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS nd
        |  FROM events)
        |SELECT event_type, n_users,
        |  CAST(n_users AS DOUBLE) / tu AS p,
        |  CAST(ceil(2.0 * (CAST(n_users AS DOUBLE) / tu)
        |    * (1.0 - CAST(n_users AS DOUBLE) / tu)
        |    * (1.959964 + 0.841621) * (1.959964 + 0.841621) * 10000.0)
        |    AS BIGINT) AS n_per_arm,
        |  CAST(ceil(CAST(ceil(2.0 * (CAST(n_users AS DOUBLE) / tu)
        |    * (1.0 - CAST(n_users AS DOUBLE) / tu)
        |    * (1.959964 + 0.841621) * (1.959964 + 0.841621) * 10000.0)
        |    AS BIGINT) / (CAST(uad AS DOUBLE) / nd / 2.0)) AS BIGINT)
        |    AS days_needed
        |FROM pt, t""".stripMargin,

    "q245_kaplan_meier" ->
      """WITH spans AS (
        |  SELECT user_id,
        |    CAST(min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |      AS BIGINT) AS f,
        |    CAST(max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
        |      AS BIGINT) AS l
        |  FROM events GROUP BY 1),
        |hz AS (SELECT CAST(max(l) AS BIGINT) AS mx FROM spans),
        |pu AS (SELECT l - f AS duration, (l < mx - 6) AS churned
        |  FROM spans CROSS JOIN hz),
        |grid AS (
        |  SELECT duration, CAST(count(*) AS BIGINT) AS ending,
        |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events
        |  FROM pu GROUP BY 1),
        |r AS (
        |  SELECT duration, n_events,
        |    CAST(sum(ending) OVER (ORDER BY duration DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS n_risk
        |  FROM grid)
        |SELECT duration, n_risk, n_events,
        |  round(exp(sum(ln(1.0 -
        |      CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)))
        |    OVER (ORDER BY duration ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |    AS survival
        |FROM r""".stripMargin,

    "q246_two_proportion_z" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS cohort,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
        |      AS conv
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT
        |    CAST(count(*) FILTER (cohort = 'even') AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (cohort = 'even' AND conv) AS BIGINT) AS k_a,
        |    CAST(count(*) FILTER (cohort = 'odd') AS BIGINT) AS n_b,
        |    CAST(count(*) FILTER (cohort = 'odd' AND conv) AS BIGINT) AS k_b
        |  FROM pu)
        |SELECT n_a, k_a, n_b, k_b,
        |  CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |  CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |  CASE WHEN (CAST(k_a AS DOUBLE) + CAST(k_b AS DOUBLE))
        |          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) = 0.0
        |      OR (CAST(k_a AS DOUBLE) + CAST(k_b AS DOUBLE))
        |          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) = 1.0
        |    THEN NULL
        |    ELSE (CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |          - CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      / sqrt((CAST(k_a AS DOUBLE) + CAST(k_b AS DOUBLE))
        |          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |        * (1.0 - (CAST(k_a AS DOUBLE) + CAST(k_b AS DOUBLE))
        |          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |  END AS z
        |FROM a""".stripMargin,

    "q247_ece" ->
      """WITH base AS (
        |  SELECT CAST(n_chars AS BIGINT) AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |mx AS (SELECT CAST(max(v) AS BIGINT) AS mx FROM base),
        |bins AS (
        |  SELECT (v * 10) // (mx + 1) AS bin, mx,
        |    CAST(count(*) AS BIGINT) AS c, CAST(sum(y) AS BIGINT) AS p,
        |    CAST(sum(v) AS BIGINT) AS s
        |  FROM base CROSS JOIN mx GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bins),
        |terms AS (
        |  SELECT bin, n,
        |    CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
        |      * abs(CAST(p AS DOUBLE) / CAST(c AS DOUBLE)
        |        - CAST(s AS DOUBLE) / (CAST(c AS DOUBLE) * CAST(mx AS DOUBLE)))
        |      AS t
        |  FROM bins CROSS JOIN tot)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_bins_hit,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(list(struct_pack(t := t) ORDER BY bin), s -> s.t)),
        |    (a, x) -> a + x) AS ece
        |FROM terms""".stripMargin)
}
