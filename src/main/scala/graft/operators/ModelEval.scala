package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Classifier-evaluation operators over a (score, boolean label) table —
  * the sheets every model gate reads: exact AUC-ROC, the
  * precision/recall curve, the decile gains/lift table, and PSI drift
  * between two cohorts' score distributions.
  *
  * All four run on the integer SCORE GRID (distinct score values with
  * positive/negative counts — the q158/q216 discipline): cumulative
  * windows touch only the grid, counts stay exact BIGINTs, and each
  * final ratio is one double formula the oracle mirrors textually. None
  * of them ever sorts or ranks individual rows — a 100 TB scored corpus
  * evaluates with one grid aggregate plus grid-sized windows.
  */
object ModelEval {

  private def d(c: Column): Column = c.cast("double")

  /** Exact AUC-ROC with tie handling (tied scores earn half credit) via
    * the rank-sum identity AUC = U/(n⁺·n⁻) — the probability a random
    * positive outranks a random negative, computed from
    * [[Inference.rankSumTest]]'s grid-exact doubled rank sums. Output:
    * one row — n_pos, n_neg, auc. */
  def aucRoc(df: DataFrame, scoreCol: String, label: Column): DataFrame = {
    val tagged = df.withColumn("__lab", when(label, "pos").otherwise("neg"))
    Inference.rankSumTest(tagged, "__lab", scoreCol, "pos", "neg")
      .select(col("n_a").as("n_pos"), col("n_b").as("n_neg"),
        (col("u_stat") / (d(col("n_a")) * d(col("n_b")))).as("auc"))
  }

  /** Precision/recall/F1 at every distinct score threshold (predict
    * positive when score ≥ t): TP/FP come from the descending-grid
    * cumulative counts, FN from the positive total. Output per
    * threshold, highest first in value (ordering left to the consumer).
    * Thresholds where precision+recall = 0 report F1 = 0 (not NULL). */
  def prCurve(df: DataFrame, scoreCol: String, label: Column): DataFrame = {
    val grid = df.select(col(scoreCol).cast("bigint").as("threshold"),
        when(label, 1L).otherwise(0L).as("__y"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("__c"), sum(col("__y")).as("__p"))
    val w = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid
      .withColumn("__tp", sum(col("__p")).over(w))
      .withColumn("__pp", sum(col("__c")).over(w)) // predicted positive
      .crossJoin(broadcast(grid.agg(sum(col("__p")).as("__pos"))))
    val prec = d(col("__tp")) / d(col("__pp"))
    val rec = d(col("__tp")) / d(col("__pos"))
    cum.select(col("threshold"),
      col("__tp").as("tp"), (col("__pp") - col("__tp")).as("fp"),
      (col("__pos") - col("__tp")).as("fn"),
      prec.as("precision"), rec.as("recall"),
      when(prec + rec === 0.0, lit(0.0))
        .otherwise(lit(2.0) * prec * rec / (prec + rec)).as("f1"))
  }

  /** Decile gains/lift table: rows ranked by score DESCENDING collapse
    * onto `nBins` near-equal-count bins (tied scores stay whole — a tie
    * never splits across bins, so the table is deterministic at any
    * partitioning; bin = ⌈cum·nBins/n⌉, all-integer). Output per bin:
    * rows, positives, cumulative capture rate of all positives, and
    * cumulative lift vs the base rate — "the top 20% of scores capture
    * X% of positives at Y× random". */
  def gainsTable(df: DataFrame, scoreCol: String, label: Column,
                 nBins: Int): DataFrame = {
    require(nBins >= 2, "need at least two bins")
    val grid = df.select(col(scoreCol).cast("bigint").as("__v"),
        when(label, 1L).otherwise(0L).as("__y"))
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__c"), sum(col("__y")).as("__p"))
    val w = Window.orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.withColumn("__cn", sum(col("__c")).over(w))
      .crossJoin(broadcast(grid.agg(sum(col("__c")).as("__n"),
        sum(col("__p")).as("__pos"))))
      .withColumn("bin",
        expr(s"(__cn * $nBins + __n - 1) div __n")) // ceil, exact integers
    val bins = cum.groupBy(col("bin"), col("__n"), col("__pos"))
      .agg(sum(col("__c")).as("n_rows"), sum(col("__p")).as("n_pos"))
    val wb = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bins
      .withColumn("__cumn", sum(col("n_rows")).over(wb))
      .withColumn("__cump", sum(col("n_pos")).over(wb))
      .select(col("bin"), col("n_rows"), col("n_pos"),
        (d(col("__cump")) / d(col("__pos"))).as("cum_capture"),
        ((d(col("__cump")) / d(col("__cumn"))) /
          (d(col("__pos")) / d(col("__n")))).as("cum_lift"))
  }

  /** Expected Calibration Error over `nBins` equal-width bins of a score
    * normalized to [0,1] by the observed max: ECE = Σ (n_b/n)·|acc_b −
    * conf_b| — "when the score says 0.8, is the positive rate 0.8?", the
    * reliability summary beside [[aucRoc]]'s ranking quality (a model
    * can rank perfectly and still be wildly miscalibrated). Output: one
    * row — n, n_bins_hit, ece.
    *
    * Integer core: bin = score·nBins div (max+1) on the raw integer
    * score (never a double bucket boundary); per-bin positives and score
    * sums are exact BIGINTs; conf_b = (Σ score)/(n_b·max) as one double.
    * The weighted |gap| sum folds LEFT over the bin-sorted list. */
  def ece(df: DataFrame, scoreCol: String, label: Column): DataFrame = {
    val nBins = 10
    val base = df.select(col(scoreCol).cast("bigint").as("__v"),
      when(label, 1L).otherwise(0L).as("__y"))
    val mx = base.agg(max(col("__v")).as("__mx"))
    val bins = base.crossJoin(broadcast(mx))
      .select(expr(s"(__v * $nBins) div (__mx + 1)").as("bin"),
        col("__v"), col("__y"), col("__mx"))
      .groupBy(col("bin"), col("__mx"))
      .agg(count(lit(1)).as("__c"), sum(col("__y")).as("__p"),
        sum(col("__v")).as("__s"))
    val tot = bins.agg(sum(col("__c")).as("__n"))
    val acc = d(col("__p")) / d(col("__c"))
    val conf = d(col("__s")) / (d(col("__c")) * d(col("__mx")))
    bins.crossJoin(broadcast(tot))
      .select(col("__n"),
        struct(col("bin"),
          (d(col("__c")) / d(col("__n")) * abs(acc - conf)).as("__t"))
          .as("__s2"))
      .agg(max(col("__n")).as("n"), count(lit(1)).as("n_bins_hit"),
        array_sort(collect_list(col("__s2"))).as("__l"))
      .select(col("n"), col("n_bins_hit"),
        expr("aggregate(transform(__l, s -> s.__t), CAST(0 AS DOUBLE)," +
          " (a, x) -> a + x)").as("ece"))
  }

  /** Population Stability Index between cohort A's and cohort B's score
    * distributions over `nBins` fixed-width bins of the pooled value
    * range, with add-one (Laplace) smoothing so empty cells stay finite:
    * PSI = Σ (p−q)·ln(p/q). Rule of thumb: < 0.1 stable, > 0.25 shifted.
    * Output: one row — n_a, n_b, n_bins_hit, psi. The sum runs over
    * OCCUPIED bins only (bins with data in either cohort): a bin empty in
    * both cohorts never materializes here, and its smoothed term
    * (1/(na+B) − 1/(nb+B))·ln((nb+B)/(na+B)) is dropped — exactly 0 when
    * n_a = n_b, a small constant per all-empty bin otherwise (the oracle
    * mirrors the same occupied-bins semantics).
    *
    * Determinism: with B = nBins, p − q =
    * [(ca+1)(nb+B) − (cb+1)(na+B)] / [(na+B)(nb+B)] — an exact integer
    * numerator over a bin-independent denominator — and ln(p/q) gets the
    * house micro-nat quantization (its argument is one division of two
    * exactly-representable integer products), so the per-bin terms sum as
    * exact DECIMAL(38,0)s in ANY order and psi is two fixed-order
    * terminal divisions. The previous left-fold over raw double terms
    * still let a 1-ulp Math.log-vs-libm difference through (caught by the
    * sf0.1 gate); the quantization absorbs it. Every cross-product
    * ((ca+1)(nb+B), the num difference, num·lr_mu, and the terminal
    * (na+B)(nb+B)) is evaluated in DECIMAL(38,0) (oracle: HUGEINT), not
    * BIGINT: the products reach ~na·nb, which wraps 2⁶³ at ~3e9-row
    * cohorts — 38 digits hold the num to ~na·nb ≈ 3e30 and num·lr_mu to
    * ~na·nb·3e7 ≈ 1e23. Bin assignment is all-integer against the 1-row
    * pooled bounds: bin = (v−mn)·nBins div (mx−mn+1). */
  def psi(df: DataFrame, groupCol: String, groupA: String, groupB: String,
          scoreCol: String, nBins: Int): DataFrame = {
    require(nBins >= 2, "need at least two bins")
    val g = col(groupCol)
    val base = df.where(g === groupA || g === groupB)
      .select(when(g === groupA, 1L).otherwise(0L).as("__a"),
        col(scoreCol).cast("bigint").as("__v"))
    val bounds = base.agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
    val binned = base.crossJoin(broadcast(bounds))
      .select(col("__a"),
        expr(s"((__v - __mn) * $nBins) div (__mx - __mn + 1)").as("bin"))
      .groupBy(col("bin"))
      .agg(sum(col("__a")).as("__ca"), sum(lit(1L) - col("__a")).as("__cb"))
    val tot = binned.agg(sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"))
    // Counts widen to DECIMAL(38,0) BEFORE the cross-products (oracle:
    // HUGEINT): (ca+1)*(nb+B) reaches na*nb, which wraps BIGINT past
    // 2^63 (~3e9-row cohorts) — the 38-digit envelope (na*nb < ~3e30)
    // only holds if the products themselves are decimal. At sub-2^63
    // scale every product is the same exact integer on either path, so
    // the widening is value-neutral at test SFs.
    binned.crossJoin(broadcast(tot))
      .select(col("__na"), col("__nb"),
        expr(s"""CAST(__ca + 1 AS DECIMAL(38,0)) * (__nb + $nBins)
            - CAST(__cb + 1 AS DECIMAL(38,0)) * (__na + $nBins)""")
          .as("__num"),
        expr(s"""CAST(round(ln(
            CAST(CAST(__ca + 1 AS DECIMAL(38,0)) * (__nb + $nBins) AS DOUBLE)
            / CAST(CAST(__cb + 1 AS DECIMAL(38,0)) * (__na + $nBins) AS DOUBLE)) * 1e6) AS BIGINT)""")
          .as("__lr_mu"))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        count(lit(1)).as("n_bins_hit"),
        sum(col("__num") * col("__lr_mu")).as("__smu"))
      .select(col("n_a"), col("n_b"), col("n_bins_hit"),
        (col("__smu").cast("double") /
          expr(s"CAST(CAST(n_a + $nBins AS DECIMAL(38,0)) * (n_b + $nBins) AS DOUBLE)") / lit(1e6))
          .as("psi"))
  }

  /** NDCG@k of a (query_id, rnk, rel) ranking table: binary-relevance
    * DCG with 1/log2(rank+1) discounts against the ideal ordering — the
    * retrieval-quality gate beside q112's recall and q197's RBO.
    *
    * Determinism: each rank's discount quantizes ONCE to integer
    * micro-units (round(1e6/log2(r+1)) — a constant ≤k-entry table), so
    * DCG and IDCG are exact BIGINT sums; the one double is the final
    * ratio, rounded to 6dp. IDCG sums the first n_rel discounts in-row
    * (`aggregate` over sequence(1, n_rel)); queries with no relevant
    * neighbor score 0 by convention. Per-query aggregation only — no
    * windows, no cross-query state. */
  def ndcgAtK(ranked: DataFrame, queryCol: String, rankCol: String,
              relCol: String): DataFrame = {
    val disc = s"CAST(round(1e6 / log2(CAST($rankCol AS DOUBLE) + 1.0)) AS BIGINT)"
    ranked
      .groupBy(col(queryCol))
      .agg(sum(col(relCol)).as("n_rel"),
        sum(expr(s"$relCol * $disc")).as("__dcg_mu"))
      .withColumn("__idcg_mu", expr(
        "aggregate(transform(sequence(1, CAST(n_rel AS INT)), " +
        "i -> CAST(round(1e6 / log2(CAST(i AS DOUBLE) + 1.0)) AS BIGINT)), " +
        "CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .select(col(queryCol), col("n_rel"),
        when(col("n_rel") === 0, lit(0.0))
          .otherwise(round(col("__dcg_mu").cast("double") /
            col("__idcg_mu").cast("double"), 6)).as("ndcg"))
  }

  /** Split-conformal prediction interval (Papadopoulos et al. 2002 /
    * Lei et al. 2018) for a one-feature linear model: fit y ~ a + b·x on
    * the TRAIN split (id mod 3 = 0), set the interval half-width q_hat
    * to the `level` quantile of |residual| on the CALIBRATION split
    * (mod 3 = 1), and report the EMPIRICAL coverage of ŷ ± q_hat on the
    * held-out TEST split (mod 3 = 2) — the distribution-free "how wide
    * must my error bars be" sheet beside q282's bootstrap CI (which
    * bounds the MEAN, not a new observation). Production refinement
    * noted: the finite-sample-exact convention uses the
    * ⌈(n+1)(level)⌉-th order statistic; the interpolated quantile here
    * differs by O(1/n) and keeps the query one fixed-literal pass.
    *
    * Exactness: the fit is the q170 closed form (exact DECIMAL moments,
    * doubles only in the two final divisions); residuals share one
    * operation order; coverage divides two exact BIGINTs. Splits by id
    * hash the same rows in any engine.
    *
    * Scale: three scans of a narrow projection (one per split), each
    * ending in a 1-row aggregate; the model and q_hat broadcast back.
    * The calibration quantile is the one per-split sort — swap in the
    * histogram sketch (q107) when a calibration split outgrows it.
    * Output one row: (n_train, n_cal, n_test, slope, intercept, q_hat,
    * coverage, level). */
  def splitConformal(df: DataFrame, idCol: String, xCol: Column,
                     yCol: Column): DataFrame = {
    val level = 0.9
    val base = CacheScope.persist(df.select(
      pmod(col(idCol), lit(3)).as("__s"),
      xCol.cast("long").as("__x"), yCol.cast("long").as("__y")))
    import Relational.dec
    val mom = base.where(col("__s") === 0).agg(
      count(lit(1)).as("n_train"),
      sum(dec(col("__x"))).as("__sx"), sum(dec(col("__y"))).as("__sy"),
      sum(dec(col("__x")) * dec(col("__y"))).as("__sxy"),
      sum(dec(col("__x")) * dec(col("__x"))).as("__sxx"))
    val model = mom.select(col("n_train"),
        ((d(col("n_train")) * d(col("__sxy")) -
          d(col("__sx")) * d(col("__sy"))) /
          (d(col("n_train")) * d(col("__sxx")) -
            d(col("__sx")) * d(col("__sx")))).as("slope"),
        col("__sx"), col("__sy"))
      .select(col("n_train"), col("slope"),
        ((d(col("__sy")) - col("slope") * d(col("__sx"))) /
          d(col("n_train"))).as("intercept"))
    val resid = abs(d(col("__y")) -
      (col("intercept") + col("slope") * d(col("__x"))))
    val cal = base.where(col("__s") === 1).crossJoin(broadcast(model))
      .agg(count(lit(1)).as("n_cal"),
        expr(s"percentile(abs(CAST(__y AS DOUBLE) - " +
          s"(intercept + slope * CAST(__x AS DOUBLE)))," +
          s" CAST($level AS DOUBLE))").as("q_hat"))
    val test = base.where(col("__s") === 2).crossJoin(broadcast(model))
      .crossJoin(broadcast(cal))
      .agg(count(lit(1)).as("n_test"),
        sum(when(resid <= col("q_hat"), 1L).otherwise(0L)).as("__cov"))
    model.crossJoin(broadcast(cal)).crossJoin(broadcast(test))
      .select(col("n_train"), col("n_cal"), col("n_test"),
        col("slope"), col("intercept"), col("q_hat"),
        (col("__cov").cast("double") / col("n_test").cast("double"))
          .as("coverage"),
        lit(level).as("level"))
  }

  /** Off-policy evaluation of a declared target policy against logged
    * (context, action, reward) rows whose logging propensities are the
    * exact per-context empirical action frequencies: IPS, self-normalized
    * IPS (SNIPS), their clipped variants (weights capped at `clip` —
    * Ionides 2008's truncated importance sampling), and the effective
    * sample size (Σcw)²/Σcw² of the weight distribution.
    *
    * With EXACT empirical propensities and full support, Σ over the
    * sample of w equals n identically, so snips = ips is the built-in
    * A/A-style calibration check of the estimator plumbing — only the
    * CLIPPED pair moves, which is the bias/variance dial the query is
    * for.
    *
    * Everything collapses to the (context, action) CELL grid before any
    * double appears: per-cell reward sums are exact DECIMAL, each cell's
    * weighted term is micro-quantized at first appearance, and the grid
    * (|contexts|·|actions|) is constant in rows — a 100 TB log evaluates
    * with one keyed aggregate. Output: one row — n, n_cells, w_max, ips,
    * snips, ips_clip, snips_clip, ess. */
  def ipsEval(df: DataFrame, contextExpr: Column, actionCol: String,
              rewardCol: String, targetPolicy: Seq[(String, Double)],
              clip: Double): DataFrame = {
    val p1 = targetPolicy.foldLeft(lit(0.0)) { case (acc, (a, p)) =>
      when(col("__a") === a, lit(p)).otherwise(acc) }
    // the (context, action) cell table is the only corpus-scale
    // aggregate and is read by both the per-context totals and the
    // weighted join — checkpoint so the scan runs once
    val cells = df
      .groupBy(contextExpr.cast("bigint").as("__ctx"),
        col(actionCol).as("__a"))
      .agg(count(lit(1)).as("__c"),
        sum(col(rewardCol).cast(DecimalType(12, 2))).as("__sv"))
      .localCheckpoint()
    val nb = cells.groupBy(col("__ctx").as("__ctx2"))
      .agg(sum(col("__c")).as("__nb"))
    val w = cells.join(nb, col("__ctx") === col("__ctx2"))
      .withColumn("__p1", p1)
      .withColumn("__w", col("__p1") * col("__nb").cast("double") /
        col("__c").cast("double"))
      .withColumn("__wc", least(col("__w"), lit(clip)))
    val micro = w.select(col("__c"), col("__w"),
      round(col("__w") * col("__sv").cast("double") * lit(1e6))
        .cast("long").as("__num"),
      round(col("__wc") * col("__sv").cast("double") * lit(1e6))
        .cast("long").as("__numc"),
      round(col("__w") * col("__c").cast("double") * lit(1e6))
        .cast("long").as("__den"),
      round(col("__wc") * col("__c").cast("double") * lit(1e6))
        .cast("long").as("__denc"),
      round(col("__w") * col("__w") * col("__c").cast("double") * lit(1e6))
        .cast("long").as("__den2"))
    micro.agg(sum(col("__c")).cast("long").as("n"),
        count(lit(1)).as("n_cells"),
        max(col("__w")).as("w_max"),
        sum(col("__num")).as("snum"), sum(col("__numc")).as("snumc"),
        sum(col("__den")).as("sden"), sum(col("__denc")).as("sdenc"),
        sum(col("__den2")).as("sden2"))
      .select(col("n"), col("n_cells"), col("w_max"),
        (col("snum").cast("double") / lit(1e6) / col("n").cast("double"))
          .as("ips"),
        (col("snum").cast("double") / col("sden").cast("double"))
          .as("snips"),
        (col("snumc").cast("double") / lit(1e6) / col("n").cast("double"))
          .as("ips_clip"),
        (col("snumc").cast("double") / col("sdenc").cast("double"))
          .as("snips_clip"),
        ((col("sden").cast("double") * col("sden").cast("double")) /
          (lit(1e6) * col("sden2").cast("double"))).as("ess"))
  }

  /** Uplift decile table + Qini curve (Radcliffe 2007) for a randomized
    * experiment: units carry an integer targeting score, a treatment
    * flag and a binary outcome; units are ranked score-DESC into
    * ten cumulative bins (ties share a bin — value cutoffs, never a
    * per-row rank, the [[gainsTable]] discipline), and each row reports
    * the cumulative treated/control counts and conversions, cumulative
    * uplift, the Qini y-value qini_y = cum_conv_t − cum_conv_c·(cum_n_t /
    * cum_n_c), and the discrete Qini coefficient (mean gap between the
    * curve and the random-targeting diagonal, one corpus-level constant
    * column) — "does targeting by this score put the incremental
    * conversions first".
    *
    * Exactness: counts are exact BIGINTs through both grid cumulations
    * (score grid, then bin grid); uplift/qini are fixed-order double
    * formulas over them. Windows ride AGGREGATED grids (distinct scores,
    * then ≤ 10 rows), never unit rows.
    *
    * Both grids stay constant on replicated units; cost is the unit
    * aggregate.
    */
  def upliftQini(units: DataFrame, scoreCol: String, treatCol: Column,
                 outcomeCol: Column): DataFrame = {
    val nBins = 10
    // the distinct-score grid is the only corpus-scale aggregate and is
    // consumed by the bin cut, the Qini coefficient AND the final
    // projection — checkpoint so the unit scan runs once
    val grid = units.select(col(scoreCol).cast("bigint").as("__v"),
        when(treatCol, 1L).otherwise(0L).as("__t"),
        when(outcomeCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__c"),
        sum(col("__t")).as("__nt"),
        sum(when(col("__t") === 1L, col("__y"))).as("__ct"),
        sum(when(col("__t") === 0L, col("__y"))).as("__cc"))
      .localCheckpoint()
    val w = Window.orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = grid.agg(sum(col("__c")).as("__n")).localCheckpoint()
    val binned = grid.withColumn("__cn", sum(col("__c")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("bin", expr("(__cn * " + nBins + " + __n - 1) div __n"))
    val bins = binned.groupBy(col("bin"))
      .agg(sum(col("__c")).as("__bc"), sum(col("__nt")).as("__bnt"),
        coalesce(sum(col("__ct")), lit(0L)).as("__bct"),
        coalesce(sum(col("__cc")), lit(0L)).as("__bcc"))
    val wb = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = bins
      .withColumn("cum_n_t", sum(col("__bnt")).over(wb))
      .withColumn("cum_n_c",
        sum(col("__bc") - col("__bnt")).over(wb))
      .withColumn("cum_conv_t", sum(col("__bct")).over(wb))
      .withColumn("cum_conv_c", sum(col("__bcc")).over(wb))
    // NULL when a cumulative group is empty (a one-armed top bin) — both
    // engines' SUM then skips the row instead of casting an infinity
    val qy = when(col("cum_n_c") > 0,
      col("cum_conv_t").cast("double") -
        col("cum_conv_c").cast("double") * col("cum_n_t").cast("double") /
          col("cum_n_c").cast("double"))
    val scored = cum.withColumn("qini_y", qy)
      .withColumn("__cum_n", col("cum_n_t") + col("cum_n_c"))
    // the random-targeting diagonal ends at the FULL-population qini_y;
    // the coefficient is the mean vertical gap over the bins. Each gap is
    // floor-quantized to micro-units FIRST (floor of an identical double
    // is engine-independent; a HALF-UP round of these RATIONAL gaps could
    // sit on a .5 boundary — the q319 divergence class), then the sum is
    // exact.
    val fin = scored.orderBy(col("bin").desc).limit(1)
      .select(col("qini_y").as("__qfin"), col("__cum_n").as("__nn"))
    val term = floor((col("qini_y") -
      col("__qfin") * col("__cum_n").cast("double") /
        col("__nn").cast("double")) * lit(1e6)).cast("long")
    val coefTbl = scored.crossJoin(broadcast(fin))
      .agg((sum(term).cast("double") / lit(1e6 * nBins)).as("qini_coef"))
    scored.crossJoin(broadcast(coefTbl))
      .select(col("bin"), col("cum_n_t"), col("cum_n_c"),
        col("cum_conv_t"), col("cum_conv_c"),
        when(col("cum_n_t") > 0 && col("cum_n_c") > 0,
          col("cum_conv_t").cast("double") / col("cum_n_t").cast("double")
            - col("cum_conv_c").cast("double")
            / col("cum_n_c").cast("double")).as("uplift_cum"),
        col("qini_y"), col("qini_coef"))
  }
}
