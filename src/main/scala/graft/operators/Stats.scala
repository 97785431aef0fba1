package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Relational.dec

/** Inferential statistics over corpus/stream metrics — the measurement side
  * of a data pipeline: is source A's quality distribution actually different
  * from source B's, do two automatic raters agree beyond chance, how fragile
  * is a headline mean to dropping one source.
  *
  * Numeric determinism (the q59 discipline): every statistic is assembled
  * from EXACT decimal component sums (n, Σx, Σx², cell counts) with ONE
  * final double formula, so partial-aggregation order never touches a
  * double and the result hash-matches a single-node oracle at any
  * partitioning — local[32] and a 1000-executor cluster give bit-identical
  * answers.
  *
  * Scale: each operator is one scan + one (global or keyed) hash aggregate;
  * no windows, no joins on the data path. The only post-aggregate work runs
  * on the GROUP table (one row per group), never on rows.
  */
object Stats {

  private def d(c: Column): Column = c.cast("double")

  private val rateA = d(col("k_a")) / d(col("n_a"))
  private val rateB = d(col("k_b")) / d(col("n_b"))

  /** The pooled two-proportion z over the count columns n_a, k_a, n_b,
    * k_b (the q246 operation order); null when the pooled rate is 0 or 1. */
  private val pooledZ: Column = {
    val pp = (d(col("k_a")) + d(col("k_b"))) / (d(col("n_a")) + d(col("n_b")))
    when(pp === 0.0 || pp === 1.0, lit(null).cast("double"))
      .otherwise((rateA - rateB) /
        sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b")))))
  }

  /** Per-(user, day_idx) conversion flag `__conv` (1 when any of the
    * user's events that day is a `success`), the user as `__u`. */
  private def userDayConversions(events: DataFrame, userCol: String, tsCol: String,
                                 success: Column): DataFrame =
    events.groupBy(col(userCol).as("__u"), Temporal.dayIdx(col(tsCol)).as("day_idx"))
      .agg(max(when(success, 1L).otherwise(0L)).as("__conv"))

  /** The exact DECIMAL one-pass moments CUPED reads: n and the sums of
    * x, y, xy, xx, yy over the pre (x) and post (y) columns. */
  private def cupedMoments(preCol: String, postCol: String): Seq[Column] = {
    val x = dec(col(preCol))
    val y = dec(col(postCol))
    Seq(count(lit(1)).as("n"),
      sum(x).as("__sx"), sum(y).as("__sy"), sum(x * y).as("__sxy"),
      sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
  }

  /** CUPED's closed forms over [[cupedMoments]]: (n, theta, var_post,
    * var_cuped, var_reduction). */
  private val cupedCols: Seq[Column] = {
    val n = d(col("n"))
    val dxx = n * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))
    val dyy = n * d(col("__syy")) - d(col("__sy")) * d(col("__sy"))
    val dxy = n * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))
    Seq(col("n"),
      when(dxx === 0.0, lit(null).cast("double"))
        .otherwise(dxy / dxx).as("theta"),
      (dyy / (n * n)).as("var_post"),
      when(dxx === 0.0, dyy / (n * n))
        .otherwise((dyy - (dxy / dxx) * dxy) / (n * n)).as("var_cuped"),
      when(dxx === 0.0 || dyy === 0.0, lit(0.0))
        .otherwise((dxy / dxx) * dxy / dyy).as("var_reduction"))
  }

  /** Welch's unequal-variance two-sample t-test between `groupA` and
    * `groupB` of `groupCol`, over `valueCol` (2dp money-like doubles).
    * Output: one row — n/mean/var per side, the t statistic, and the
    * Welch–Satterthwaite degrees of freedom. The caller looks t up against
    * the t table for their alpha; computing the p-value needs the
    * incomplete beta function, which belongs in the analysis notebook, not
    * the engine.
    *
    * Plan: conditional aggregation — one scan of the filtered union, one
    * 1-row global aggregate (Σx and Σx² per side as exact decimals, the
    * cross products of DECIMAL(12,2) are DECIMAL(25,4) — still exact).
    * Sample variance uses the n-1 denominator. */
  def welchTTest(df: DataFrame, groupCol: String, valueCol: String,
                 groupA: String, groupB: String): DataFrame = {
    val g = col(groupCol)
    val v = dec(col(valueCol))
    def side(tag: String, grp: String) = Seq(
      count(when(g === grp, 1)).as(s"n_$tag"),
      sum(when(g === grp, v)).as(s"__sx_$tag"),
      sum(when(g === grp, v * v)).as(s"__sxx_$tag"))
    val agg = df.where(g === groupA || g === groupB)
      .agg(side("a", groupA).head,
        (side("a", groupA).tail ++ side("b", groupB)): _*)
    def mean(t: String) = d(col(s"__sx_$t")) / d(col(s"n_$t"))
    // sample variance from exact components: (Σx² − (Σx)²/n) / (n−1)
    def vr(t: String) =
      (d(col(s"__sxx_$t")) - d(col(s"__sx_$t")) * d(col(s"__sx_$t")) / d(col(s"n_$t"))) /
        (d(col(s"n_$t")) - lit(1.0))
    val se2a = vr("a") / d(col("n_a"))
    val se2b = vr("b") / d(col("n_b"))
    agg.select(
      col("n_a"), mean("a").as("mean_a"), vr("a").as("var_a"),
      col("n_b"), mean("b").as("mean_b"), vr("b").as("var_b"),
      ((mean("a") - mean("b")) / sqrt(se2a + se2b)).as("t_stat"),
      // Welch–Satterthwaite: (s²a/na + s²b/nb)² / (Σ (s²/n)²/(n−1))
      (pow(se2a + se2b, 2.0) /
        (pow(se2a, 2.0) / (d(col("n_a")) - lit(1.0)) +
          pow(se2b, 2.0) / (d(col("n_b")) - lit(1.0)))).as("welch_df"))
  }

  /** Cohen's kappa — chance-corrected agreement between two boolean raters
    * (e.g. two heuristic quality gates, or an LLM judge vs a rule). Output:
    * one row with the 2×2 confusion counts, observed agreement po, chance
    * agreement pe, and kappa = (po − pe) / (1 − pe).
    *
    * Plan: one scan, one 1-row aggregate of four conditional counts; the
    * formula runs once on the driver-side row. Kappa is NULL when pe = 1
    * (both raters constant — agreement is undefined, not perfect). */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val agg = df.agg(
      count(when(raterA && raterB, 1)).as("n_yy"),
      count(when(raterA && !raterB, 1)).as("n_yn"),
      count(when(!raterA && raterB, 1)).as("n_ny"),
      count(when(!raterA && !raterB, 1)).as("n_nn"))
    val n = d(col("n_yy") + col("n_yn") + col("n_ny") + col("n_nn"))
    val po = (d(col("n_yy")) + d(col("n_nn"))) / n
    val pa = (d(col("n_yy")) + d(col("n_yn"))) / n // P(raterA = yes)
    val pb = (d(col("n_yy")) + d(col("n_ny"))) / n // P(raterB = yes)
    val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
    agg.select(col("n_yy"), col("n_yn"), col("n_ny"), col("n_nn"),
      po.as("po"), pe.as("pe"),
      when(pe === 1.0, lit(null).cast("double"))
        .otherwise((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** Delete-one-group jackknife over a mean: for each group (source), the
    * mean of `valueCol` with that whole group REMOVED, and the group's
    * pseudo-value influence g·θ − (g−1)·θ₋ᵢ — the standard "how much does
    * one source move the headline number" robustness sheet for a corpus
    * metric (delete-a-group jackknife is the variance estimator that
    * actually works when rows within a source are correlated).
    *
    * Plan: one keyed aggregate to the per-group (n, Σx) table, one 1-row
    * global roll-up of that table broadcast back with a cross join (the
    * q164 scalar-broadcast pattern) — the data is touched once; everything
    * after runs on one row per group. */
  def jackknifeByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_g"), sum(dec(col(valueCol))).as("__s_g"))
    val tot = per.agg(sum(col("n_g")).as("__n"), sum(col("__s_g")).as("__s"),
      count(lit(1)).as("__g"))
    val overall = d(col("__s")) / d(col("__n"))
    val looMean = (d(col("__s")) - d(col("__s_g"))) / (d(col("__n")) - d(col("n_g")))
    per.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_g"),
        looMean.as("loo_mean"),
        (d(col("__g")) * overall - (d(col("__g")) - lit(1.0)) * looMean)
          .as("pseudo_value"))
  }

  /** Per-group winsorized mean: clamp `valueCol` to the group's
    * [pLo, pHi] exact interpolated percentiles, then average — the outlier-
    * robust mean a metrics pipeline reports when a few huge values would
    * otherwise own the average. Output per group: n, the two bounds, the
    * winsorized mean, and n_lo/n_hi clamp counts.
    *
    * Determinism: summing CLAMPED doubles would re-introduce order
    * dependence (the bounds are interpolated doubles), so the sum is
    * assembled as exact-decimal Σ of the untouched middle values plus
    * n_lo·lo + n_hi·hi in ONE final double expression — bit-stable at any
    * partitioning, same as the oracle computes it.
    *
    * Plan: two keyed aggregates over the same scan (percentile bounds, then
    * the conditional sums) joined on the group key — both shuffles are on
    * the group key and AQE broadcasts the tiny bounds table. */
  def winsorizedMean(df: DataFrame, groupCol: String, valueCol: String,
                     pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"need 0 <= pLo < pHi <= 1")
    val v = col(valueCol)
    val bounds = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, array(${pLo}D, ${pHi}D))").as("__qs"))
      .select(col(groupCol), col("__qs").getItem(0).as("lo"),
        col("__qs").getItem(1).as("hi"))
    df.join(bounds, groupCol)
      .groupBy(col(groupCol), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"),
        count(when(v < col("lo"), 1)).as("n_lo"),
        count(when(v > col("hi"), 1)).as("n_hi"),
        sum(when(v >= col("lo") && v <= col("hi"), dec(v))).as("__s_mid"))
      .select(col(groupCol), col("n"), col("lo"), col("hi"),
        col("n_lo"), col("n_hi"),
        ((coalesce(d(col("__s_mid")), lit(0.0)) +
          d(col("n_lo")) * col("lo") + d(col("n_hi")) * col("hi")) / d(col("n")))
          .as("winsorized_mean"))
  }

  /** Per-group simple linear regression (OLS of y on x): slope, intercept,
    * and r² assembled from the five exact component sums (n, Σx, Σy, Σxy,
    * Σx², Σy²) — the closed form every engine's `regr_slope` family hides,
    * spelled out so the arithmetic is ONE final double formula on exact
    * DECIMAL sums (cross products of DECIMAL(12,2) are DECIMAL(25,4),
    * still exact) instead of an order-dependent double accumulation.
    *
    * Plan: one scan, one keyed hash aggregate; the formula runs on the
    * group table. Degenerate groups (constant x) return NULL slope/r²
    * rather than ±Inf. */
  def olsByGroup(df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    val x = dec(col(xCol))
    val y = dec(col(yCol))
    val agg = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(x).as("__sx"), sum(y).as("__sy"),
      sum(x * y).as("__sxy"), sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
    val n = d(col("n"))
    val sxx = n * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))
    val syy = n * d(col("__syy")) - d(col("__sy")) * d(col("__sy"))
    val sxy = n * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))
    agg.select(col(groupCol), col("n"),
      when(sxx === 0.0, lit(null).cast("double")).otherwise(sxy / sxx).as("slope"),
      when(sxx === 0.0, lit(null).cast("double"))
        .otherwise((d(col("__sy")) - (sxy / sxx) * d(col("__sx"))) / n).as("intercept"),
      when(sxx === 0.0 || syy === 0.0, lit(null).cast("double"))
        .otherwise((sxy * sxy) / (sxx * syy)).as("r2"))
  }

  /** Group-sequential experiment monitor: the cumulative two-proportion z
    * per DAY with an O'Brien-Fleming-style spending boundary
    * zCrit·√(T/t) — the peeking-safe readout (Pocock/O'Brien-Fleming;
    * Johari et al.'s always-valid framing is the modern kin): looking at
    * z_t against a FIXED 1.96 every day inflates false positives several-
    * fold; against the shrinking-α boundary the whole trajectory spends
    * one α. The sibling of [[aaCalibration]] (which certifies the rig)
    * and [[twoProportionZ]] (the single terminal look).
    *
    * Unit = (user, active day); success = purchased that day; arms split
    * even/odd by unit id — replace with the real assignment column in a
    * live experiment. Cumulative counts are exact BIGINT windows over
    * the CALENDAR-bounded day grid (the q158 discipline); z shares the
    * q246 operation order; boundary ratios are exact day integers under
    * one sqrt. Output per day:
    * (day_idx, n_a, k_a, n_b, k_b, z, boundary, crossed). */
  def sequentialMonitor(events: DataFrame, userCol: String, tsCol: String,
                        success: Column, zCrit: Double): DataFrame = {
    val daily = userDayConversions(events, userCol, tsCol, success)
      .select(col("day_idx"), pmod(col("__u"), lit(2)).as("__arm"),
        col("__conv"))
    val perDay = daily.groupBy(col("day_idx")).agg(
      count(when(col("__arm") === 0, 1)).as("__da"),
      sum(when(col("__arm") === 0, col("__conv")).otherwise(0L)).as("__ca"),
      count(when(col("__arm") === 1, 1)).as("__db"),
      sum(when(col("__arm") === 1, col("__conv")).otherwise(0L)).as("__cb"))
    val w = Window.orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = perDay
      .withColumn("n_a", sum(col("__da")).over(w))
      .withColumn("k_a", sum(col("__ca")).over(w))
      .withColumn("n_b", sum(col("__db")).over(w))
      .withColumn("k_b", sum(col("__cb")).over(w))
      .withColumn("__t", row_number().over(Window.orderBy(col("day_idx")))
        .cast("bigint"))
    val tMax = cum.agg(max(col("__t")).as("__tm"))
    val boundary = lit(zCrit) * sqrt(d(col("__tm")) / d(col("__t")))
    cum.crossJoin(broadcast(tMax))
      .select(col("day_idx"), col("n_a"), col("k_a"), col("n_b"),
        col("k_b"), pooledZ.as("z"), boundary.as("boundary"),
        when(pooledZ.isNull, lit(false)).otherwise(abs(pooledZ) > boundary)
          .as("crossed"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013):
    * θ = cov(pre, post)/var(pre) from pre-experiment data, and the
    * variance the adjusted metric y − θ·(x − x̄) would have — the
    * standard experiment-sensitivity booster, reported as the audit
    * ("how much smaller could my MDE be") rather than as mutated rows.
    * var_cuped = var_post·(1 − ρ²) computed in closed form from the SAME
    * one-pass moments: no second scan, no per-row adjustment needed to
    * answer the sizing question.
    *
    * One 1-row aggregate of exact DECIMAL moments (the q170 rule);
    * doubles only in the final fixed-order formulas. Degenerate pre
    * (zero variance) yields null θ and var_cuped = var_post. Output:
    * (n, theta, var_post, var_cuped, var_reduction). */
  def cuped(perUser: DataFrame, preCol: String, postCol: String): DataFrame = {
    val m = cupedMoments(preCol, postCol)
    perUser.agg(m.head, m.tail: _*).select(cupedCols: _*)
  }

  /** Stratified CUPED: the q294 audit per stratum — θ_s fitted WITHIN
    * each stratum, so a covariate whose slope differs across cohorts
    * (Simpson-style, the q288 failure mode) gets its honest per-stratum
    * variance reduction instead of one pooled θ that under-serves every
    * cohort. Same exact one-pass DECIMAL moments as [[cuped]], grouped:
    * one keyed aggregate, |strata| output rows, doubles only in the
    * final fixed-order formulas. Degenerate strata (zero pre-variance)
    * degrade exactly as the pooled form. Output: (strataCol, n, theta,
    * var_post, var_cuped, var_reduction). */
  def cupedStratified(perUser: DataFrame, strataCol: String,
                      preCol: String, postCol: String): DataFrame = {
    val m = cupedMoments(preCol, postCol)
    perUser.groupBy(col(strataCol)).agg(m.head, m.tail: _*)
      .select(col(strataCol) +: cupedCols: _*)
  }

  /** Sample-ratio-mismatch check (the FIRST sanity gate of any A/B
    * rig — Fabijan et al. 2019 catalog SRM as the most common silent
    * experiment invalidator): χ² of the observed two-arm unit counts
    * against the intended 50/50 split, flagged at the given critical
    * value. A triggered SRM invalidates the experiment before any
    * metric is read. One exact-count aggregate; χ² is two fixed-order
    * terms. Output: (n_a, n_b, chi2, srm). */
  def srmCheck(units: DataFrame, armCol: Column): DataFrame = {
    val chi2Crit = 3.841459
    val agg = units.agg(
      count(when(armCol === 0, 1)).as("n_a"),
      count(when(armCol === 1, 1)).as("n_b"))
    val e = (d(col("n_a")) + d(col("n_b"))) / lit(2.0)
    val chi2 = (d(col("n_a")) - e) * (d(col("n_a")) - e) / e +
      (d(col("n_b")) - e) * (d(col("n_b")) - e) / e
    agg.select(col("n_a"), col("n_b"), chi2.as("chi2"),
      (chi2 > lit(chi2Crit)).as("srm"))
  }

  /** Difference-in-differences (the Card & Krueger 1994 design) on a
    * (unit, day, outcome) grain with a parallel-trends pre-audit:
    * DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre), plus the
    * pre-period daily-mean slope gap between treated and control — the
    * assumption check that decides whether the DiD is believable at
    * all (diverging pre-trends fake an effect).
    *
    * Exactness: the four cell means divide exact DECIMAL sums by exact
    * counts in one fixed order; the pre-trend slopes micro-quantize
    * each pre-day's group mean at first appearance (the q303 fit
    * discipline) so both slope fits run on exact BIGINT sums, and the
    * gap is one terminal subtraction. State: 4 cells + a calendar-
    * bounded (group, day) grid. Output: one row (n/mean per cell ×4,
    * did, slope_t_pre, slope_c_pre, pretrend_gap). */
  def diffInDiff(grain: DataFrame, treatCol: Column, postCol: Column,
                 dayCol: Column, valueCol: Column): DataFrame = {
    val base = grain.select(treatCol.cast("boolean").as("__t"),
      postCol.cast("boolean").as("__p"), dayCol.cast("bigint").as("__d"),
      dec(valueCol).as("__v"))
    val cells = base.groupBy(col("__t"), col("__p"))
      .agg(count(lit(1)).as("__n"), sum(col("__v")).as("__s"))
      .select(col("__t"), col("__p"), col("__n"),
        (d(col("__s")) / d(col("__n"))).as("__m"))
    def cell(t: Boolean, p: Boolean, suffix: String) =
      cells.where(col("__t") === t && col("__p") === p)
        .select(col("__n").as(s"n_$suffix"), col("__m").as(s"mean_$suffix"))
    val wide = broadcast(cell(true, false, "t_pre"))
      .crossJoin(broadcast(cell(true, true, "t_post")))
      .crossJoin(broadcast(cell(false, false, "c_pre")))
      .crossJoin(broadcast(cell(false, true, "c_post")))
    // pre-period slope per group over the day grid, micro-quantized
    val preDay = base.where(!col("__p"))
      .groupBy(col("__t"), col("__d"))
      .agg(round(d(sum(col("__v"))) / d(count(lit(1))) * lit(1e6))
        .cast("bigint").as("__mmu"))
    val fits = preDay.groupBy(col("__t"))
      .agg(count(lit(1)).as("__j"), sum(col("__d")).as("__sx"),
        sum(col("__mmu")).as("__sy"),
        sum(col("__d") * col("__mmu")).as("__sxy"),
        sum(col("__d") * col("__d")).as("__sxx"))
      .select(col("__t"),
        ((d(col("__j")) * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))) /
          (d(col("__j")) * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))) /
          lit(1e6)).as("__slope"))
    val st = fits.where(col("__t")).select(col("__slope").as("slope_t_pre"))
    val sc = fits.where(!col("__t")).select(col("__slope").as("slope_c_pre"))
    wide.crossJoin(broadcast(st)).crossJoin(broadcast(sc))
      .select(col("n_t_pre"), col("mean_t_pre"), col("n_t_post"),
        col("mean_t_post"), col("n_c_pre"), col("mean_c_pre"),
        col("n_c_post"), col("mean_c_post"),
        ((col("mean_t_post") - col("mean_t_pre")) -
          (col("mean_c_post") - col("mean_c_pre"))).as("did"),
        col("slope_t_pre"), col("slope_c_pre"),
        (col("slope_t_pre") - col("slope_c_pre")).as("pretrend_gap"))
  }

  /** Wald SPRT (Wald 1945, "Sequential Tests of Statistical
    * Hypotheses") on a daily Bernoulli conversion stream: after t days
    * the cumulative log-likelihood ratio of H1: p = p1 against
    * H0: p = p0 over n trials / k successes is
    * LLR = k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0)), compared to the
    * fixed Wald bounds upper = ln((1−β)/α) (stop, reject H0) and
    * lower = ln(β/(1−α)) (stop, accept H0) — the always-valid
    * stop-any-day companion to [[sequentialMonitor]]'s
    * spend-the-alpha-across-T-looks boundary.
    *
    * Determinism: the four ln(...) values are computed ONCE driver-side
    * and shipped as shared double literals (Scala's Double.toString
    * round-trips; the oracle carries the identical strings cast from
    * VARCHAR), so NO libm call runs inside either engine — LLR is
    * k·c1 + (n−k)·c2 in one fixed order over exact BIGINT counts.
    * Trials are (user, day) activity grains, success = any qualifying
    * event that day (the [[sequentialMonitor]] grain); cumulative sums
    * ride a calendar-grid window over per-day aggregates — day-bounded,
    * never per-row. Output: (day_idx, n, k, llr, stop_upper,
    * stop_lower, decision). */
  def sprt(events: DataFrame, userCol: String, tsCol: String,
           success: Column, p0: Double, p1: Double,
           alpha: Double, beta: Double): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0,
      "need distinct interior hypotheses")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1, "bad errors")
    val c1 = math.log(p1 / p0)
    val c2 = math.log((1.0 - p1) / (1.0 - p0))
    val upper = math.log((1.0 - beta) / alpha)
    val lower = math.log(beta / (1.0 - alpha))
    val perDay = userDayConversions(events, userCol, tsCol, success)
      .groupBy(col("day_idx"))
      .agg(count(lit(1)).as("__dn"), sum(col("__conv")).as("__dk"))
    val w = Window.orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val llr = d(col("k")) * lit(c1) + (d(col("n")) - d(col("k"))) * lit(c2)
    perDay
      .withColumn("n", sum(col("__dn")).over(w))
      .withColumn("k", sum(col("__dk")).over(w))
      .select(col("day_idx"), col("n"), col("k"), llr.as("llr"),
        lit(upper).as("stop_upper"), lit(lower).as("stop_lower"),
        when(llr >= lit(upper), "reject_h0")
          .when(llr <= lit(lower), "accept_h0")
          .otherwise("continue").as("decision"))
  }

  /** A/A-test calibration: rerun the q246 two-proportion z across
    * `nSplits` INDEPENDENT hash-randomized null splits of the same
    * population and flag which cross `zCrit` — the meta-experiment that
    * certifies the testing pipeline itself (a calibrated rig crosses
    * ≈ α of the time; clustering, mixed units, or a broken randomizer
    * show up here before they corrupt a real experiment).
    *
    * Split s assigns each unit to arm hash60(id#s) mod 2 — the
    * deterministic no-rand() randomizer, identically replayed by the
    * oracle. One unit×nSplits in-row expansion against the broadcast
    * split grid, one (split, arm)-keyed count — the q282 bootstrap
    * shape. z shares [[twoProportionZ]]'s exact-count formula and
    * operation order. Output per split:
    * (split, n_a, k_a, n_b, k_b, z, false_positive). */
  def aaCalibration(perUser: DataFrame, idCol: String, successCol: Column,
                    nSplits: Int, zCrit: Double): DataFrame = {
    require(nSplits >= 1, "need at least one split")
    val splits = broadcast(
      perUser.sparkSession.range(1, nSplits + 1).toDF("split"))
    val armed = perUser.crossJoin(splits)
      .select(col("split"),
        pmod(Sketches.hash60(concat(col(idCol).cast("string"), lit("#"),
          col("split").cast("string"))), lit(2)).as("__arm"),
        successCol.as("__s"))
    val agg = armed.groupBy(col("split")).agg(
      count(when(col("__arm") === 0, 1)).as("n_a"),
      count(when(col("__arm") === 0 && col("__s"), 1)).as("k_a"),
      count(when(col("__arm") === 1, 1)).as("n_b"),
      count(when(col("__arm") === 1 && col("__s"), 1)).as("k_b"))
    agg.select(col("split"), col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      pooledZ.as("z"),
      when(pooledZ.isNull, lit(false)).otherwise(abs(pooledZ) > lit(zCrit))
        .as("false_positive"))
  }

  /** Simpson's-paradox audit: per-stratum OLS slope of y on x beside the
    * POOLED slope, flagging strata whose sign disagrees with the
    * aggregate — the confounding screen (Simpson 1951) a training-data
    * pipeline runs before trusting any pooled correlation: "value rises
    * with volume overall" can be FALSE inside every segment when segment
    * mix drives the aggregate.
    *
    * Both slope families are [[olsByGroup]]'s closed form — exact
    * DECIMAL component sums, doubles only in the final divisions — so
    * the flags are a pure function of the data, engine-independent.
    * Degenerate strata (constant x) carry a null slope and a null flag.
    *
    * Plan: two keyed aggregates (one per stratum, one global 1-row) and
    * a broadcast of the 1-row pooled slope — nothing after the
    * aggregates depends on data size. Output:
    * (stratumCol, n, slope, pooled_slope, reversed). */
  def simpsonAudit(df: DataFrame, stratumCol: String, xCol: String,
                   yCol: String): DataFrame = {
    val per = olsByGroup(df, stratumCol, xCol, yCol)
      .select(col(stratumCol), col("n"), col("slope"))
    val pooled = olsByGroup(df.withColumn("__all", lit("all")), "__all",
        xCol, yCol)
      .select(col("slope").as("pooled_slope"))
    per.crossJoin(broadcast(pooled))
      .select(col(stratumCol), col("n"), col("slope"), col("pooled_slope"),
        when(col("slope").isNull || col("pooled_slope").isNull,
          lit(null).cast("boolean"))
          .otherwise(signum(col("slope")) =!= signum(col("pooled_slope")))
          .as("reversed"))
  }

  /** Per-group Spearman rank correlation of `xCol` vs `yCol`, tie-aware:
    * Pearson on AVERAGE ranks, with ranks doubled so ties' half-steps stay
    * integers (2·avg_rank = 2·rank + tie_count − 1) and every component sum
    * is exact. Correlation is scale/shift-invariant, so doubling changes
    * nothing. The naive 1 − 6Σd²/(n(n²−1)) shortcut is WRONG under ties;
    * this is the form that still agrees with Pearson-on-ranks.
    *
    * Plan: two rank windows per variable, both PARTITIONED by the group
    * (never global — each group ranks independently, the q155 discipline),
    * then one keyed aggregate. Doubled ranks ≤ 2n: products are cast to
    * DECIMAL(38,0) before summing, exact up to n ≈ 3·10⁹ rows per group. */
  def spearmanByGroup(df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = col(groupCol)
    def dblRank(c: String) = {
      val w = Window.partitionBy(g).orderBy(col(c))
      val ties = Window.partitionBy(g, col(c))
      (lit(2) * rank().over(w) + count(lit(1)).over(ties) - lit(1))
        .cast(DecimalType(18, 0))
    }
    val ranked = df.select(g, dblRank(xCol).as("__a"), dblRank(yCol).as("__b"))
    def wide(c: Column) = c.cast(DecimalType(38, 0))
    val agg = ranked.groupBy(g).agg(
      count(lit(1)).as("n"),
      sum(col("__a")).as("__sa"), sum(col("__b")).as("__sb"),
      sum(wide(col("__a") * col("__b"))).as("__sab"),
      sum(wide(col("__a") * col("__a"))).as("__saa"),
      sum(wide(col("__b") * col("__b"))).as("__sbb"))
    val n = d(col("n"))
    val num = n * d(col("__sab")) - d(col("__sa")) * d(col("__sb"))
    val da = n * d(col("__saa")) - d(col("__sa")) * d(col("__sa"))
    val db = n * d(col("__sbb")) - d(col("__sb")) * d(col("__sb"))
    agg.select(g, col("n"),
      when(da === 0.0 || db === 0.0, lit(null).cast("double"))
        .otherwise(num / sqrt(da * db)).as("rho"))
  }

  /** Chi-square contingency screen of `rowCol` × `colCol`: per cell the
    * observed count, the independence-expected count, the chi-square term
    * (o−e)²/e and the Pearson residual (o−e)/√e — the drill-down table a
    * distribution-shift report renders (which (source, bucket) cells drive
    * the divergence), not just one opaque statistic. The caller sums
    * chi_term for the test statistic; emitting per-cell rows keeps every
    * cross-row sum an exact integer, so no double accumulation order can
    * diverge from a single-node oracle.
    *
    * Plan: one scan → cell counts (keyed agg); row totals and column totals
    * are re-aggregates of the CELL table (|R|·|C| rows, never the data), and
    * the joins back run on that bounded table — AQE broadcasts all of it. */
  def contingencyScreen(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.groupBy(col(rowCol), col(colCol)).agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy(col(rowCol)).agg(sum(col("observed")).as("__rt"))
    val colTot = cells.groupBy(col(colCol)).agg(sum(col("observed")).as("__ct"))
    val grand = cells.agg(sum(col("observed")).as("__n"))
    val e = d(col("__rt")) * d(col("__ct")) / d(col("__n"))
    cells.join(rowTot, rowCol).join(colTot, colCol).crossJoin(broadcast(grand))
      .select(col(rowCol), col(colCol), col("observed"),
        e.as("expected"),
        (pow(d(col("observed")) - e, 2.0) / e).as("chi_term"),
        ((d(col("observed")) - e) / sqrt(e)).as("pearson_resid"))
  }

  /** Sample autocorrelation of an integer-valued regular series per key, at
    * lags 1..maxLag: Pearson correlation between (v_t, v_{t+k}) over the
    * pairs both sides define — the drift/seasonality probe for daily volume
    * series (a strong lag-7 says weekly rhythm; lag-1 near 1 says trend).
    * `tCol` must be an integer period index (e.g. days since epoch),
    * `vCol` an integer measure (e.g. a count).
    *
    * Plan: the series table (one row per (key, period) — already tiny
    * relative to the data) is equi-joined to itself on (key, t+k) after a
    * bounded ×maxLag expansion; components are exact BIGINT sums widened to
    * DECIMAL(38,0). No windows: a lag window would also work, but one
    * equi-join handles ALL lags in a single shuffle. */
  def acfByKey(df: DataFrame, keyCol: String, tCol: String, vCol: String,
               maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val lags = (1 to maxLag).map(l => s"($l)").mkString("VALUES ", ", ", " AS t(lag)")
    val lagDf = df.sparkSession.sql(s"SELECT lag FROM ($lags)")
    val x = df.select(col(keyCol), col(tCol).cast("long").as("__t"),
      col(vCol).cast(DecimalType(18, 0)).as("__xv"))
    val y = df.select(col(keyCol).as("__yk"), col(tCol).cast("long").as("__yt"),
      col(vCol).cast(DecimalType(18, 0)).as("__yv"))
    def wide(c: Column) = c.cast(DecimalType(38, 0))
    val agg = x.crossJoin(broadcast(lagDf))
      .join(y, col(keyCol) === col("__yk") && col("__yt") === col("__t") + col("lag"))
      .groupBy(col(keyCol), col("lag")).agg(
        count(lit(1)).as("n_pairs"),
        sum(col("__xv")).as("__sx"), sum(col("__yv")).as("__sy"),
        sum(wide(col("__xv") * col("__yv"))).as("__sxy"),
        sum(wide(col("__xv") * col("__xv"))).as("__sxx"),
        sum(wide(col("__yv") * col("__yv"))).as("__syy"))
    val n = d(col("n_pairs"))
    val num = n * d(col("__sxy")) - d(col("__sx")) * d(col("__sy"))
    val dx = n * d(col("__sxx")) - d(col("__sx")) * d(col("__sx"))
    val dy = n * d(col("__syy")) - d(col("__sy")) * d(col("__sy"))
    agg.select(col(keyCol), col("lag"), col("n_pairs"),
      when(dx === 0.0 || dy === 0.0, lit(null).cast("double"))
        .otherwise(num / sqrt(dx * dy)).as("acf"))
  }

  /** Theil–Sen robust slope per group: the median of all pairwise slopes
    * (y_j − y_i)/(x_j − x_i) over x_i < x_j — the outlier-resistant
    * counterpart to [[olsByGroup]] (breakdown point 29% vs OLS's 0).
    *
    * Intended for SMALL per-group series (a per-key daily trend: n days →
    * n(n−1)/2 pairs, e.g. 30 days → 435); the group-keyed self-join is
    * O(n²) per group BY DEFINITION of the estimator — document-scale inputs
    * belong in OLS/MAD instead. Requires distinct x within a group.
    *
    * Determinism: the median is NEVER interpolated arithmetic on an
    * engine's internal percentile path — it is the mean of the (explicitly
    * row_number-selected) middle one or two slopes, so both engines add the
    * same one or two doubles (IEEE addition is commutative) and divide by
    * the same count. */
  def theilSen(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val a = df.select(col(groupCol), col(xCol).cast("bigint").as("__x1"),
      col(yCol).cast("bigint").as("__y1"))
    val b = df.select(col(groupCol), col(xCol).cast("bigint").as("__x2"),
      col(yCol).cast("bigint").as("__y2"))
    val slopes = a.join(b, Seq(groupCol))
      .where(col("__x1") < col("__x2"))
      .select(col(groupCol),
        ((col("__y2") - col("__y1")).cast("double") /
          (col("__x2") - col("__x1")).cast("double")).as("__s"),
        col("__x1"), col("__x2"))
    val w = Window.partitionBy(groupCol)
      .orderBy(col("__s").asc, col("__x1").asc, col("__x2").asc)
    val wc = Window.partitionBy(groupCol)
    val ranked = slopes.withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(wc))
    ranked
      .where(col("__rn") === expr("(__cnt + 1) div 2") ||
        col("__rn") === expr("__cnt div 2 + 1"))
      .groupBy(col(groupCol))
      .agg(max(col("__cnt")).as("n_pairs"),
        (sum(col("__s")) / count(lit(1)).cast("double")).as("ts_slope"))
  }

  /** Pairwise Pearson correlation matrix over the given (money-like 2dp)
    * double columns in ONE pass: every moment sum (per-column, squares, and
    * all C(k,2) cross products) runs in a single wide aggregate over exact
    * DECIMALs; the 1-row result is exploded into per-pair rows. The q59
    * single-pair formula, generalized — components go exact→double
    * individually, the formula runs in doubles in a fixed order. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val sums =
      Seq(count(lit(1)).as("n")) ++
        cols.map(c => sum(dec(col(c))).as(s"s_$c")) ++
        cols.map(c => sum(dec(col(c)) * dec(col(c))).as(s"q_$c")) ++
        (for { i <- cols.indices; j <- i + 1 until cols.size }
          yield sum(dec(col(cols(i))) * dec(col(cols(j))))
            .as(s"p_${cols(i)}__${cols(j)}"))
    val agg = df.agg(sums.head, sums.tail: _*)
    def corr(a: String, b: String): Column =
      (col("n").cast("double") * col(s"p_${a}__$b").cast("double") -
        col(s"s_$a").cast("double") * col(s"s_$b").cast("double")) /
        (sqrt(col("n").cast("double") * col(s"q_$a").cast("double") -
          col(s"s_$a").cast("double") * col(s"s_$a").cast("double")) *
          sqrt(col("n").cast("double") * col(s"q_$b").cast("double") -
            col(s"s_$b").cast("double") * col(s"s_$b").cast("double")))
    val pairs = for { i <- cols.indices; j <- i + 1 until cols.size }
      yield struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        corr(cols(i), cols(j)).as("corr"))
    agg.select(explode(array(pairs: _*)).as("__p")).select(col("__p.*"))
  }

  /** One-way ANOVA F-test across the groups of `groupCol` — the k-sample
    * sibling of [[welchTTest]]: does mean `valueCol` differ across groups
    * more than within them?
    *
    * Determinism: the group moment sums are exact BIGINTs; the
    * between-groups sum Σ_g S_g²/n_g mixes per-group doubles, so it is
    * folded LEFT over the group-name-sorted term list (the q204
    * fixed-order discipline), never an unordered SUM over doubles. Output:
    * one row (k, n, ss_between, ss_within, f_stat). */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("bigint")).as("__s"),
        sum(col(valueCol).cast("bigint") * col(valueCol).cast("bigint"))
          .as("__q"))
    g.agg(count(lit(1)).as("k"), sum(col("__n")).as("n"),
        sum(col("__s")).as("__ts"), sum(col("__q")).as("__tq"),
        array_sort(collect_list(struct(col(groupCol).as("__g"),
          (col("__s").cast("double") * col("__s").cast("double") /
            col("__n").cast("double")).as("__t")))).as("__l"))
      .select(col("k"), col("n"),
        (expr("aggregate(transform(__l, s -> s.__t), CAST(0 AS DOUBLE)," +
          " (a, x) -> a + x)") -
          col("__ts").cast("double") * col("__ts").cast("double") /
            col("n").cast("double")).as("ss_between"),
        (col("__tq").cast("double") -
          expr("aggregate(transform(__l, s -> s.__t), CAST(0 AS DOUBLE)," +
            " (a, x) -> a + x)")).as("ss_within"))
      .select(col("k"), col("n"), col("ss_between"), col("ss_within"),
        ((col("ss_between") / (col("k").cast("double") - 1.0)) /
          (col("ss_within") /
            (col("n").cast("double") - col("k").cast("double")))).as("f_stat"))
  }

  /** Exact weighted p-quantile per group (p as the rational num/den): the
    * smallest value whose cumulative weight reaches p of the group total —
    * the all-integer comparison den·cum ≥ num·tot, no doubles anywhere.
    * [[weightedMedian]] is the (1, 2) case. */
  def weightedQuantile(df: DataFrame, groupCol: String, valueCol: String,
                       weightCol: String, num: Long, den: Long): DataFrame = {
    require(num > 0 && num < den, "need 0 < num/den < 1")
    weightedCrossing(df, groupCol, valueCol, weightCol,
      col("__cum") * den >= col("__tot") * num, "w_quantile")
  }

  /** Exact weighted median per group: the smallest value whose cumulative
    * weight reaches half the group's total — all-integer arithmetic
    * (2·cum ≥ total, never a double), one sort window per group plus one
    * broadcast-size total join. Ties in the value column cannot change the
    * answer (the threshold crossing lands inside the tied block, whose
    * value is shared), so no id tie-break is needed. */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
                     weightCol: String): DataFrame =
    weightedCrossing(df, groupCol, valueCol, weightCol,
      col("__cum") * 2 >= col("__tot"), "w_median")

  /** Per group, the smallest value at which `reached` holds over its
    * cumulative weight `__cum` (ascending value) and the group total
    * `__tot` — the shared body of [[weightedQuantile]] and
    * [[weightedMedian]], its value column named `out`. */
  private def weightedCrossing(df: DataFrame, groupCol: String, valueCol: String,
                               weightCol: String, reached: Column,
                               out: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = df.groupBy(col(groupCol))
      .agg(sum(col(weightCol).cast("bigint")).as("__tot"))
    df.select(col(groupCol), col(valueCol),
        col(weightCol).cast("bigint").as("__w"))
      .withColumn("__cum", sum(col("__w")).over(w))
      .join(tot, Seq(groupCol))
      .where(reached)
      .groupBy(col(groupCol))
      .agg(min(col(valueCol)).as(out))
  }

  /** Benford first-digit screen over a positive money-like (2dp) column:
    * observed leading-digit counts vs the log-law expectation
    * n·log10(1 + 1/d), with per-digit chi-square terms — the classic
    * fabricated-amounts / data-entry-anomaly detector. Output: 9 rows
    * (digit, observed, expected_n, chi_term), digits with no observations
    * included as zeros.
    *
    * The leading digit is extracted in exact integer space: the value's
    * cent count (DECIMAL·100, exact) rendered as an integer string —
    * multiplying by 100 never changes the leading significant digit, and
    * integer-to-string is engine-portable where double formatting is not.
    * One scan → 9-row digit table; expected/chi are rounded to 6dp
    * because log10's last ulp is libm-dependent (the q219 discipline). */
  def benfordScreen(df: DataFrame, valueCol: String): DataFrame = {
    val digitOf = substring((dec(col(valueCol)) * lit(100))
      .cast(DecimalType(14, 0)).cast("string"), 1, 1).cast("bigint")
    val obs = df.where(dec(col(valueCol)) > 0)
      .select(digitOf.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("observed"))
    val digits = obs.sparkSession.range(1, 10).select(col("id").as("digit"))
    val tot = obs.agg(sum(col("observed")).as("__n"))
    val e = d(col("__n")) *
      log(lit(1.0) + lit(1.0) / d(col("digit"))) / log(lit(10.0))
    digits.join(obs, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("observed"), lit(0L)).as("observed"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("observed"),
        round(e, 6).as("expected_n"),
        round(pow(d(col("observed")) - e, 2.0) / e, 6).as("chi_term"))
  }

  /** Neyman-optimal stratified sample allocation: split a fixed sampling
    * `budget` across the strata of `groupCol` proportionally to
    * n_h·sd_h — the allocation that minimizes the variance of the
    * stratified mean estimator (large AND internally-diverse strata get
    * more samples than proportional allocation would give). Output per
    * stratum: n_h, sd_h, the share, and the rounded per-stratum budget.
    *
    * The per-stratum sd comes from exact integer moment sums; the
    * cross-stratum normalizer Σ n_h·sd_h mixes per-group doubles, so it
    * folds LEFT over the group-name-sorted term list (the q204
    * discipline). Single-member or constant strata contribute sd 0 and
    * get no optimal allocation — callers wanting a floor compose one. */
  def neymanAllocation(df: DataFrame, groupCol: String, valueCol: String,
                       budget: Long): DataFrame = {
    val per = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_h"),
        sum(col(valueCol).cast("bigint")).as("__s"),
        sum(col(valueCol).cast("bigint") * col(valueCol).cast("bigint"))
          .as("__q"))
    val nh = d(col("n_h"))
    val sd = sqrt((nh * d(col("__q")) - d(col("__s")) * d(col("__s"))) /
      (nh * (nh - lit(1.0))))
    val scored = per.select(col(groupCol), col("n_h"), sd.as("sd_h"),
      (nh * sd).as("__w"))
    val norm = scored
      .agg(array_sort(collect_list(struct(col(groupCol).as("__g"),
        col("__w").as("__t")))).as("__l"))
      .select(expr("aggregate(transform(__l, s -> s.__t), CAST(0 AS DOUBLE)," +
        " (a, x) -> a + x)").as("__z"))
    scored.crossJoin(broadcast(norm))
      .select(col(groupCol), col("n_h"), col("sd_h"),
        (col("__w") / col("__z")).as("alloc_share"),
        round(lit(budget.toDouble) * (col("__w") / col("__z")), 0)
          .cast("bigint").as("alloc_n"))
  }

  /** Per-group skewness and excess kurtosis of an integer-valued column,
    * from the four raw power sums — the distribution-shape profile beside
    * mean/variance (is a source's length distribution long-tailed or
    * clipped?). Output per group: n, mean, m2 (population variance),
    * skewness g1 = m3/m2^1.5, excess kurtosis g2 = m4/m2² − 3.
    *
    * Σx..Σx⁴ accumulate in DECIMAL(38,0) (x⁴ ≤ 1e12 leaves ~1e26 rows of
    * headroom — exact at any realistic corpus), and the central-moment
    * algebra runs once on the group table in a fixed textual form. One
    * scan, one keyed aggregate. */
  def shapeMoments(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x = col(valueCol).cast(DecimalType(18, 0))
    def wide(c: Column) = c.cast(DecimalType(38, 0))
    val agg = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(wide(x)).as("__s1"), sum(wide(x * x)).as("__s2"),
      sum(wide(x * x * x)).as("__s3"),
      sum(wide((x * x) * (x * x))).as("__s4"))
    val n = d(col("n"))
    val s1 = d(col("__s1")); val s2 = d(col("__s2"))
    val s3 = d(col("__s3")); val s4 = d(col("__s4"))
    val m2 = (s2 - s1 * s1 / n) / n
    val m3 = (s3 - lit(3.0) * s1 * s2 / n + lit(2.0) * s1 * s1 * s1 / (n * n)) / n
    val m4 = (s4 - lit(4.0) * s1 * s3 / n + lit(6.0) * s1 * s1 * s2 / (n * n) -
      lit(3.0) * s1 * s1 * s1 * s1 / (n * n * n)) / n
    agg.select(col(groupCol), col("n"), (s1 / n).as("mean"), m2.as("m2"),
      // m2*sqrt(m2), not pow(m2,1.5): sqrt/*// are IEEE correctly-rounded in
      // both engines, pow is not (Math.pow vs libm diverge at 1 ulp — seen
      // at sf0.1), so this form is bit-deterministic cross-engine.
      when(m2 === 0.0, lit(null).cast("double"))
        .otherwise(m3 / (m2 * sqrt(m2))).as("skewness"),
      when(m2 === 0.0, lit(null).cast("double"))
        .otherwise(m4 / (m2 * m2) - lit(3.0)).as("kurtosis_ex"))
  }

  /** Pairwise audience overlap between the groups of `groupCol`: for every
    * unordered group pair, how many entities appear in BOTH, and the
    * Jaccard of their entity sets — which event types / sources share an
    * audience. Output per pair: group_a, group_b, n_both, jaccard.
    *
    * Plan: distinct (entity, group) memberships once, per-group sizes as a
    * keyed agg, and the intersection counts from an entity-keyed self-join
    * (bounded per entity by the number of groups it belongs to — ≤
    * |groups|, a constant). Output is |groups|²-bounded. */
  def groupOverlapJaccard(df: DataFrame, entityCol: String,
                          groupCol: String): DataFrame = {
    val eg = df.select(col(entityCol).as("__e"), col(groupCol).as("__g")).distinct()
    val sizes = eg.groupBy(col("__g")).agg(count(lit(1)).as("__sz"))
    val inter = eg.join(eg.select(col("__e"), col("__g").as("__g2")), "__e")
      .where(col("__g") < col("__g2"))
      .groupBy(col("__g"), col("__g2")).agg(count(lit(1)).as("n_both"))
    inter
      .join(sizes, "__g")
      .join(sizes.select(col("__g").as("__g2"), col("__sz").as("__sz2")), "__g2")
      .select(col("__g").as("group_a"), col("__g2").as("group_b"),
        col("n_both"),
        (col("n_both").cast("double") /
          (col("__sz") + col("__sz2") - col("n_both")).cast("double"))
          .as("jaccard"))
  }

  /** Two-proportion z-test: does cohort A convert at a different rate
    * than cohort B? Inputs are per-row (cohort, success) flags; output
    * one row — n/k per side, both rates, and the pooled-SE z statistic,
    * the standard A/B experiment readout (1.96 ≈ the 5% line). Exact
    * integer counts, one double formula; the test is undefined (NULL z)
    * when the pooled rate is 0 or 1 — no successes or no failures
    * anywhere — rather than ±Inf. One scan, one 1-row aggregate. */
  def twoProportionZ(df: DataFrame, groupCol: String, groupA: String,
                     groupB: String, success: Column): DataFrame = {
    val g = col(groupCol)
    val agg = df.where(g === groupA || g === groupB).agg(
      count(when(g === groupA, 1)).as("n_a"),
      count(when(g === groupA && success, 1)).as("k_a"),
      count(when(g === groupB, 1)).as("n_b"),
      count(when(g === groupB && success, 1)).as("k_b"))
    agg.select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      rateA.as("rate_a"), rateB.as("rate_b"), pooledZ.as("z"))
  }

  /** Pareto coverage of a money-like measure: the smallest top slice of
    * entities (by bucketed value, richest bucket down) whose cumulative
    * mass reaches num/den of the total — "how many customers carry 80% of
    * revenue", answered without ever sorting entities. Output: one row —
    * the crossing bucket's floor (in cents), entities at or above it, and
    * their exact mass share.
    *
    * Per-entity totals are exact cents; entities collapse onto a
    * fixed-width bucket GRID (value-range bounded, the q158 discipline),
    * the descending cumulative runs over that grid, and the crossing test
    * den·cum ≥ num·total stays all-integer. The reported slice is the
    * bucket-resolution answer (the first bucket whose inclusion reaches
    * the share) — resolution is the documented knob. */
  def paretoCoverage(df: DataFrame, entityCol: String, valueCol: String,
                     bucketCents: Long, num: Long, den: Long): DataFrame = {
    require(num > 0 && num < den && bucketCents > 0, "need 0 < num/den < 1")
    val per = df.groupBy(col(entityCol))
      .agg(sum(dec(col(valueCol)) * 100).cast(DecimalType(18, 0))
        .cast("bigint").as("__cents"))
    val buckets = per
      .groupBy((col("__cents") - pmod(col("__cents"), lit(bucketCents)))
        .as("__floor"))
      .agg(count(lit(1)).as("__ne"), sum(col("__cents")).as("__mass"))
    val w = Window.orderBy(col("__floor").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = buckets
      .withColumn("__ce", sum(col("__ne")).over(w))
      .withColumn("__cm", sum(col("__mass")).over(w))
      .crossJoin(broadcast(buckets.agg(sum(col("__mass")).as("__tot"),
        sum(col("__ne")).as("__totn"))))
    // the crossing = the LARGEST floor whose cumulative mass reaches the
    // share (cum grows downward, so all floors below it also qualify)
    val crossing = cum.where(col("__cm") * den >= col("__tot") * num)
      .agg(max(col("__floor")).as("__cross"))
    cum.crossJoin(broadcast(crossing))
      .where(col("__floor") === col("__cross"))
      .select(col("__floor").as("bucket_floor_cents"),
        col("__ce").as("n_top_entities"), col("__totn").as("n_entities"),
        (col("__cm").cast("double") / col("__tot").cast("double"))
          .as("mass_share"))
  }

  /** Hill estimator of the tail index per group: over the k largest
    * values x_(1) ≥ … ≥ x_(k) with reference x_(k+1),
    * hill = (1/k)·Σ ln(x_(i)/x_(k+1)) and α = 1/hill — the power-law
    * exponent check beside q125's Zipf slope (is this length/degree
    * distribution genuinely heavy-tailed, and how heavy?).
    *
    * Scale: the ONLY order statistics needed are the top k+1 per group —
    * a cap-bounded TopKAgg (O(k) state per map task), never a per-group
    * sort; the ratio logs quantize to integer micro-units per element so
    * the in-row fold is exact BIGINT arithmetic. Ties order by id
    * (matching ORDER BY value DESC, id). Groups with fewer than k+1
    * rows are dropped. Output: (group, x_ref, hill, alpha). */
  def hillTailIndex(df: DataFrame, groupCol: String, valueCol: String,
                    idCol: String, k: Int): DataFrame = {
    val topk = graft.functions.TopKAgg.columnAgg(k + 1)
    df.groupBy(col(groupCol))
      .agg(topk(col(valueCol).cast("double"), col(idCol).cast("long"))
        .as("__tk"))
      .where(size(col("__tk")) === k + 1)
      .withColumn("__xref", element_at(col("__tk"), k + 1).getField("_1"))
      .withColumn("__mu", expr(
        s"aggregate(slice(__tk, 1, $k), CAST(0 AS BIGINT), " +
        "(a, x) -> a + CAST(round(ln(x._1 / __xref) * 1e6) AS BIGINT))"))
      .select(col(groupCol), col("__xref").cast("bigint").as("x_ref"),
        round(col("__mu").cast("double") / lit(k * 1e6), 6).as("hill"),
        round(lit(k * 1e6) / col("__mu").cast("double"), 6).as("alpha"))
  }
}
