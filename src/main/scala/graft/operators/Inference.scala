package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Rank-based and information-theoretic inference — the nonparametric side
  * of [[Stats]]: distribution comparisons that survive outliers and skew
  * (Mann-Whitney, Kruskal-Wallis, Kendall), inequality measurement (Gini),
  * dependence without linearity (mutual information), and the
  * multiple-testing control (Benjamini-Hochberg) every per-group screen
  * needs before it flags "significant" drift across hundreds of sources.
  *
  * Determinism discipline (the q59/q204 rules): rank statistics run on the
  * DISTINCT-VALUE GRID of an integer-valued measure, so every rank sum,
  * tie term, and cumulative mass is an exact BIGINT assembled by keyed
  * aggregates — doubles appear once, in a final fixed-form formula. Where
  * a statistic must add per-group DOUBLES (Kruskal-Wallis's R²/n terms,
  * MI's cell terms), the sum folds LEFT over the key-sorted term list,
  * never an unordered SUM, so any partitioning — local[32] or 1000
  * executors — is bit-identical to a single-node oracle.
  *
  * Scale posture: the only `Window.orderBy` sites here run over the
  * distinct-value GRID (bounded by the measure's value range — the q158
  * precedent) or the per-group grid, never over data rows; pair expansion
  * (Kendall) is group-keyed and documented for small per-group series,
  * the [[Stats.theilSen]] contract.
  */
object Inference {

  private def d(c: Column): Column = c.cast("double")

  /** Mann-Whitney U rank-sum test between `groupA` and `groupB` of
    * `groupCol` over the integer-valued `valueCol`, with the tie-corrected
    * normal approximation (no continuity correction — the oracle runs the
    * same closed form). Output: one row — n_a, n_b, u_stat (group A's U),
    * and z.
    *
    * Ranks come from the value grid: with `cum` the count of rows BELOW a
    * value and `cnt` the rows AT it, every row at that value has average
    * rank cum + (cnt+1)/2, kept exact by doubling (2r = 2·cum + cnt + 1).
    * R_A doubles to Σ cntA·(2·cum + cnt + 1), a BIGINT; the tie term
    * Σ(t³−t) is likewise exact. One scan → grid aggregate → grid-bounded
    * cumulative window → 1-row aggregate. */
  def rankSumTest(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    val g = col(groupCol)
    val grid = df.where(g === groupA || g === groupB)
      .select(when(g === groupA, 1L).otherwise(0L).as("__a"),
        col(valueCol).cast("bigint").as("__v"))
      .groupBy(col("__v"))
      .agg(sum(col("__a")).as("ca"), count(lit(1)).as("cnt"))
    // cumulative count strictly below each grid value — grid-sized window
    val w = Window.orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, -1)
    val cum = grid.withColumn("__below", coalesce(sum(col("cnt")).over(w), lit(0L)))
    val agg = cum.agg(
      sum(col("ca")).as("n_a"),
      sum(col("cnt") - col("ca")).as("n_b"),
      sum(col("ca") * (lit(2) * col("__below") + col("cnt") + 1)).as("__r2a"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("__ties"))
    val na = d(col("n_a")); val nb = d(col("n_b")); val n = na + nb
    val u = d(col("__r2a")) / lit(2.0) - na * (na + lit(1.0)) / lit(2.0)
    val sigma2 = na * nb / lit(12.0) *
      ((n + lit(1.0)) - d(col("__ties")) / (n * (n - lit(1.0))))
    agg.select(col("n_a"), col("n_b"), u.as("u_stat"),
      ((u - na * nb / lit(2.0)) / sqrt(sigma2)).as("z"))
  }

  /** Kruskal-Wallis H across ALL groups of `groupCol` over integer-valued
    * `valueCol`, tie-corrected — the k-sample extension of [[rankSumTest]]
    * and the rank-based sibling of [[Stats.anovaF]]. Output: one row —
    * k, n, h_stat (tie-corrected).
    *
    * Per-(group, value) counts join the value-grid cumulative (below)
    * counts, giving exact doubled rank sums 2R_g per group; the cross-group
    * Σ R_g²/n_g mixes per-group doubles, so it folds LEFT over the
    * group-name-sorted term list (the q204 fixed-order discipline). */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val gv = df.select(col(groupCol).as("__g"), col(valueCol).cast("bigint").as("__v"))
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("cg"))
    val av = gv.groupBy(col("__v")).agg(sum(col("cg")).as("cnt"))
    val w = Window.orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, -1)
    val cum = av.withColumn("__below", coalesce(sum(col("cnt")).over(w), lit(0L)))
    val per = gv.join(cum, "__v")
      .groupBy(col("__g"))
      .agg(sum(col("cg")).as("n_g"),
        sum(col("cg") * (lit(2) * col("__below") + col("cnt") + 1)).as("__r2"))
    val ties = cum.agg(
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("__ties"))
    // R_g = __r2/2; term = R_g²/n_g — folded left over the sorted group list
    val agg = per.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        array_sort(collect_list(struct(col("__g").as("__k"),
          (d(col("__r2")) * d(col("__r2")) / (lit(4.0) * d(col("n_g"))))
            .as("__t")))).as("__l"))
      .crossJoin(broadcast(ties))
    val sumR2 = expr("aggregate(transform(__l, s -> s.__t), CAST(0 AS DOUBLE)," +
      " (a, x) -> a + x)")
    val n = d(col("n"))
    val h = lit(12.0) / (n * (n + lit(1.0))) * sumR2 - lit(3.0) * (n + lit(1.0))
    val corr = lit(1.0) - d(col("__ties")) / (n * n * n - n)
    agg.select(col("k"), col("n"), (h / corr).as("h_stat"))
  }

  /** Per-group Gini coefficient of the non-negative integer-valued
    * `valueCol` — the inequality measure a token-budget report reads (do a
    * few giant documents own a source's character mass?). Output per
    * group: n, total mass, gini.
    *
    * Fully exact until one division: on the per-group value grid with
    * counts c_k and mass m_k = c_k·v_k, the trapezoid form
    * G = 1 − Σ c_k·(2·cumM_k − m_k) / (n·M) has an all-BIGINT numerator
    * (cumM inclusive cumulative mass). The cumulative window runs per
    * group over the value GRID, never data rows. */
  def giniByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val grid = df.select(col(groupCol).as("__g"), col(valueCol).cast("bigint").as("__v"))
      .groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("m", col("c") * col("__v"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.withColumn("__cm", sum(col("m")).over(w))
      .groupBy(col("__g"))
      .agg(sum(col("c")).as("n"), sum(col("m")).as("total"),
        sum(col("c") * (lit(2) * col("__cm") - col("m"))).as("__num"))
      .select(col("__g").as(groupCol), col("n"), col("total"),
        (lit(1.0) - d(col("__num")) / (d(col("n")) * d(col("total"))))
          .as("gini"))
  }

  /** Benjamini-Hochberg step-up over a per-hypothesis p-value table: rank
    * p ascending (id tie-break), compare to i·α/m, and reject every
    * hypothesis at or below the LARGEST passing rank — the FDR control a
    * many-sources drift screen applies before alerting. Input is one row
    * per hypothesis (already aggregated — tiny); both windows run over
    * that table, never data. Output: idCol, p, p_rank, bh_crit,
    * significant.
    *
    * α = 1/10 enters as the rational alphaNum/alphaDen so the pass
    * predicate p·m·den ≤ i·num stays in exact terms on the p side only once. */
  def bhFdr(df: DataFrame, idCol: String, pCol: String): DataFrame = {
    val (alphaNum, alphaDen) = (1L, 10L)
    val m = Window.partitionBy()
    val w = Window.orderBy(col(pCol).asc, col(idCol).asc)
    val ranked = df
      .withColumn("p_rank", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(m))
      .withColumn("bh_crit",
        d(col("p_rank")) * lit(alphaNum.toDouble) /
          (lit(alphaDen.toDouble) * d(col("__m"))))
      .withColumn("__pass", col(pCol) <= col("bh_crit"))
    val cutoff = Window.orderBy(col("p_rank"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ranked
      .withColumn("significant",
        max(when(col("__pass"), col("p_rank"))).over(cutoff).isNotNull)
      .drop("__m", "__pass")
  }

  /** Mutual information (nats) between two categorical columns, with both
    * marginal entropies — the dependence screen for category pairs where
    * chi-square's cell table (q172) already exists but one number is
    * wanted. Output: one row — n, n_cells, mi_nats, h_row, h_col.
    *
    * Cell counts, row totals, and column totals are exact BIGINTs from one
    * scan + re-aggregates of the cell table; each double term
    * (c/n)·ln(c·n/(r·s)) and each entropy term fold LEFT over key-sorted
    * lists (cells by (row, col), marginals by key), the q204 discipline.
    * All joins run on the bounded cell table. */
  def mutualInfo(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.groupBy(col(rowCol).as("__r"), col(colCol).as("__c"))
      .agg(count(lit(1)).as("o"))
    val rt = cells.groupBy(col("__r")).agg(sum(col("o")).as("__rt"))
    val ct = cells.groupBy(col("__c")).agg(sum(col("o")).as("__ct"))
    val n = cells.agg(sum(col("o")).as("__n"))
    def foldSum(listCol: String): Column =
      expr(s"aggregate(transform($listCol, s -> s.__t), CAST(0 AS DOUBLE)," +
        " (a, x) -> a + x)")
    val miTerms = cells.join(rt, "__r").join(ct, "__c").crossJoin(broadcast(n))
      .select(struct(col("__r"), col("__c"),
        (d(col("o")) / d(col("__n")) *
          log(d(col("o")) * d(col("__n")) / (d(col("__rt")) * d(col("__ct")))))
          .as("__t")).as("__s"),
        col("__n"), col("o"))
      .agg(array_sort(collect_list(col("__s"))).as("__mi"),
        max(col("__n")).as("n"), count(lit(1)).as("n_cells"))
    def entropy(tot: DataFrame, key: String, c: String): DataFrame =
      tot.crossJoin(broadcast(n))
        .select(struct(col(key),
          (-d(col(c)) / d(col("__n")) * log(d(col(c)) / d(col("__n"))))
            .as("__t")).as("__s"))
        .agg(array_sort(collect_list(col("__s"))).as("__l"))
    miTerms
      .crossJoin(broadcast(entropy(rt, "__r", "__rt")
        .select(foldSum("__l").as("h_row"))))
      .crossJoin(broadcast(entropy(ct, "__c", "__ct")
        .select(foldSum("__l").as("h_col"))))
      .select(col("n"), col("n_cells"), foldSum("__mi").as("mi_nats"),
        col("h_row"), col("h_col"))
  }

  /** Per-group Kendall tau-b between integer-valued `xCol` and `yCol` —
    * the concordance rank correlation whose tie handling (tau-b) keeps it
    * honest on stepped series. Intended for SMALL per-group series (a
    * 30-day daily trend → 435 pairs): the group-keyed self-join is O(n²)
    * per group by definition, the [[Stats.theilSen]] contract — row-scale
    * inputs belong in [[Stats.spearmanByGroup]]. Output per group: n,
    * tau_b.
    *
    * C − D = Σ_{pairs} sign(Δx)·sign(Δy) is an exact BIGINT over the
    * deterministic pair set x_i < x_j plus (x-tied, y-ordered) pairs; tie
    * terms n1/n2 come from the per-group x- and y-grids. One double
    * formula at the end. */
  def kendallTauByGroup(df: DataFrame, groupCol: String, xCol: String,
                        yCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
      col(xCol).cast("bigint").as("__x"), col(yCol).cast("bigint").as("__y"))
    val a = base.select(col("__g"), col("__x").as("__x1"), col("__y").as("__y1"))
    val b = base.select(col("__g").as("__g2"), col("__x").as("__x2"),
      col("__y").as("__y2"))
    val pairs = a.join(b, col("__g") === col("__g2") &&
        (col("__x1") < col("__x2") ||
          (col("__x1") === col("__x2") && col("__y1") < col("__y2"))))
      .groupBy(col("__g"))
      .agg(sum(signum(col("__x2") - col("__x1")).cast("bigint") *
        signum(col("__y2") - col("__y1")).cast("bigint")).as("__cd"))
    // tie terms kept as the (always even) Σ t(t−1) BIGINT; halved in doubles
    def tiePairs(c: String, out: String) =
      base.groupBy(col("__g"), col(c)).agg(count(lit(1)).as("t"))
        .groupBy(col("__g"))
        .agg(sum(col("t") * (col("t") - 1)).as(out),
          sum(col("t")).as(s"__n_$out"))
    val tx = tiePairs("__x", "__s1")
    val ty = tiePairs("__y", "__s2").drop("__n___s2")
    val joined = pairs.join(tx, "__g").join(ty, "__g")
    val n = d(col("__n___s1"))
    val n0 = n * (n - lit(1.0)) / lit(2.0)
    joined.select(col("__g").as(groupCol), col("__n___s1").as("n"),
      (d(col("__cd")) /
        sqrt((n0 - d(col("__s1")) / lit(2.0)) *
          (n0 - d(col("__s2")) / lit(2.0)))).as("tau_b"))
  }

  /** Poisson(1) CDF thresholds for weights 0..4 (mass beyond 5 truncates,
    * ≈ 3.7e-4) — shared LITERAL doubles; the oracle carries the identical
    * strings cast from VARCHAR so both engines compare the same bits. */
  private val poissonCdf = Seq(0.36787944117144233, 0.7357588823428847,
    0.9196986029286058, 0.9810118431238463, 0.9963401531726563)

  /** Poisson-bootstrap percentile CI for the per-group mean — the
    * resampling answer to "how sure is this average", where the
    * closed-form SE (q179) needs distributional faith the data may not
    * earn. Replicates are DETERMINISTIC: row `id`'s weight in replicate
    * `j` is Poisson(1) read off a uniform built from ONE md5 per row
    * (Sketches.hash60 — the q79/q266 sampling hash) mixed per replicate
    * by a Weyl-increment XOR + Knuth multiply mod 2^32 (16-bit split, so
    * no intermediate wraps 64-bit — the hashBuckets discipline; pure
    * BIGINT arithmetic any engine replays bit-for-bit). The first cut
    * evaluated md5 PER (row, replicate) — B=32 digests per row was 85%
    * of the query's warmed cost (8.3 s at sf0.1; 1 digest + 32 integer
    * mixes is the scale-correct form). PRNG-grade, not crypto-grade,
    * independence across replicates — exactly what bootstrap weights
    * need. Poisson bootstrap (each
    * row's multiplicity drawn independently) is the STREAMING/SHARDED
    * form of the classic n-out-of-n bootstrap — exactly what a
    * distributed engine wants, since no replicate ever needs a global
    * sample of fixed size.
    *
    * Exactness: replicate means divide an exact DECIMAL(12,2)-sum
    * numerator by an exact BIGINT weight sum (the q59 float rule);
    * the CI percentiles interpolate over the B-row replicate-mean grid
    * per group (grid-bounded, the q49 posture).
    *
    * Scale: the B replicate sums ride in ONE mergeable 2B-long buffer
    * per group ([[graft.functions.PoissonBootstrapAgg]]) — the n×B row
    * expansion the earlier crossJoin form paid (every row hashed B
    * times into the partial aggregate) collapses to B in-register adds
    * per row, one pass, |groups|·2B longs of shuffle. The aggregator
    * replays the identical Weyl-xor-Knuth mix, so no bits move.
    * Null discipline: rows with a null value column are dropped BEFORE
    * hashing, so replicate means and the point mean see the same rows
    * (a null used to contribute weight to Σw but nothing to Σw·v).
    * Output: (groupCol, n, point_mean, ci_lo, ci_hi, n_replicates). */
  def bootstrapCi(df: DataFrame, groupCol: String, idCol: String,
                  valCol: String, b: Int): DataFrame = {
    val lo = 0.025
    val hi = 0.975
    require(b >= 2, "need b >= 2 resamples")
    val bootAgg = udaf(new graft.functions.PoissonBootstrapAgg(
        b, poissonCdf.toArray),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
    // weighted sums ride in exact integer CENTS (decimal-quantized once
    // per row): long arithmetic through the hot aggregate, not decimal
    val means = df
      .where(col(valCol).isNotNull)
      .select(col(groupCol).as("__g"),
        Sketches.hash60(col(idCol)).bitwiseAND(lit(0xFFFFFFFFL))
          .as("__h32"),
        (col(valCol).cast(DecimalType(12, 2)) * lit(100)).cast("long")
          .as("__vc"))
      .groupBy(col("__g"))
      .agg(bootAgg(col("__h32"), col("__vc")).as("__reps"))
      .select(col("__g"), explode(col("__reps")).as("__e"))
      .select(col("__g"), col("__e._1").as("__sw"), col("__e._2").as("__swc"))
      .where(col("__sw") > 0)
      .select(col("__g"),
        (col("__swc").cast("double") / lit(100.0) /
          col("__sw").cast("double")).as("__mean_r"))
    val ci = means.groupBy(col("__g"))
      .agg(expr(s"percentile(__mean_r, CAST($lo AS DOUBLE))").as("ci_lo"),
        expr(s"percentile(__mean_r, CAST($hi AS DOUBLE))").as("ci_hi"),
        count(lit(1)).as("n_replicates"))
    val point = df.groupBy(col(groupCol).as("__g2"))
      .agg(count(col(valCol)).as("n"),
        (sum(col(valCol).cast(DecimalType(12, 2))).cast("double") /
          count(col(valCol)).cast("double")).as("point_mean"))
    point.join(ci, col("__g2") === col("__g"))
      .select(col("__g2").as(groupCol), col("n"), col("point_mean"),
        col("ci_lo"), col("ci_hi"), col("n_replicates"))
  }

  /** Delete-one-block jackknife (Quenouille 1956; Tukey 1958) for a
    * ratio-of-sums metric R = Σnum/Σden over `blockCol` blocks — the
    * standard error for ratio metrics (revenue per event, CTR) whose
    * within-block correlation the naive per-row SE ignores; days or
    * cohorts are the blocks, exactly the deleted-bucket jackknife search
    * eval runs. The resampling sibling of [[bootstrapCi]]: J determinate
    * replicates instead of B seeded ones.
    *
    * Exactness: block sums are exact DECIMAL/BIGINT; each leave-one-out
    * ratio is quantized to integer micro-units at first appearance, so
    * the replicate moments are exact BIGINT sums and the SE is one
    * fixed-order double formula. |blocks| rows of state — grid-bounded.
    * Blocks whose deletion empties the denominator yield a null ratio
    * and are excluded (n_blocks counts the kept ones). Output: (n_blocks,
    * r_point, r_jack_mean, se_jack). */
  def jackknifeRatio(df: DataFrame, blockCol: Column,
                     numCol: Column, denCol: Column): DataFrame = {
    val perB = df
      .select(blockCol.as("__b"), numCol.cast(DecimalType(12, 2)).as("__x"),
        denCol.cast("bigint").as("__y"))
      .groupBy(col("__b"))
      .agg(sum(col("__x")).as("__bx"), sum(col("__y")).as("__by"))
    val tot = perB.agg(sum(col("__bx")).as("__tx"),
      sum(col("__by")).as("__ty"))
    val rMu = when(col("__ty") - col("__by") === 0,
        lit(null).cast("bigint"))
      .otherwise(round((d(col("__tx")) - d(col("__bx"))) /
        (d(col("__ty")) - d(col("__by"))) * lit(1e6)).cast("bigint"))
    val reps = perB.crossJoin(broadcast(tot))
      .select(col("__tx"), col("__ty"), rMu.as("__r"))
      .where(col("__r").isNotNull)
    reps.groupBy(col("__tx"), col("__ty"))
      .agg(count(lit(1)).as("__j"), sum(col("__r")).as("__sr"),
        sum(col("__r") * col("__r")).as("__sr2"))
      .select(col("__j").as("n_blocks"),
        (d(col("__tx")) / d(col("__ty"))).as("r_point"),
        (d(col("__sr")) / d(col("__j")) / lit(1e6)).as("r_jack_mean"),
        (sqrt((d(col("__j")) - lit(1.0)) / d(col("__j")) *
          (d(col("__sr2")) - d(col("__sr")) * d(col("__sr")) /
            d(col("__j")))) / lit(1e6)).as("se_jack"))
  }

  /** Cochran-Mantel-Haenszel test (Mantel & Haenszel 1959) for a common
    * treatment-outcome association ACROSS strata of 2×2 tables — the
    * confounding-adjusted companion to the q288 Simpson audit: q288
    * DETECTS the reversal, CMH tests the association with the strata
    * held fixed. Uncorrected statistic (no Yates continuity term,
    * documented), plus the Mantel-Haenszel pooled odds ratio ΣR_k/ΣS_k.
    *
    * Exactness: each stratum's expectation E_k, variance V_k and OR
    * terms R_k/S_k are fixed-order doubles of exact BIGINT counts,
    * quantized to integer micro-units at first appearance; the
    * across-strata sums are then exact BIGINTs (no double fold), and χ²
    * is one terminal fixed-order formula. |strata| rows of intermediate
    * state. Output: one row (n_strata, sum_a, e_mu, v_mu, cmh_chi2,
    * or_mh). */
  def cmhTest(df: DataFrame, strataCol: Column, armCol: Column,
              outcomeCol: Column): DataFrame = {
    val cells = df
      .select(strataCol.as("__s"), armCol.cast("boolean").as("__a"),
        outcomeCol.cast("boolean").as("__o"))
      .groupBy(col("__s"))
      .agg(count(when(col("__a") && col("__o"), 1)).as("n11"),
        count(when(col("__a") && !col("__o"), 1)).as("n10"),
        count(when(!col("__a") && col("__o"), 1)).as("n01"),
        count(when(!col("__a") && !col("__o"), 1)).as("n00"))
      .withColumn("__n", col("n11") + col("n10") + col("n01") + col("n00"))
      .where(col("__n") >= 2)
    val eMu = round(d(col("n11") + col("n10")) * d(col("n11") + col("n01")) /
      d(col("__n")) * lit(1e6)).cast("bigint")
    val vMu = round(d(col("n11") + col("n10")) * d(col("n01") + col("n00")) *
      d(col("n11") + col("n01")) * d(col("n10") + col("n00")) /
      (d(col("__n")) * d(col("__n")) * (d(col("__n")) - lit(1.0))) *
      lit(1e6)).cast("bigint")
    val rMu = round(d(col("n11")) * d(col("n00")) / d(col("__n")) * lit(1e6))
      .cast("bigint")
    val sMu = round(d(col("n10")) * d(col("n01")) / d(col("__n")) * lit(1e6))
      .cast("bigint")
    cells
      .select(col("n11"), eMu.as("__e"), vMu.as("__v"),
        rMu.as("__rk"), sMu.as("__sk"))
      .agg(count(lit(1)).as("n_strata"), sum(col("n11")).as("sum_a"),
        sum(col("__e")).as("e_mu"), sum(col("__v")).as("v_mu"),
        sum(col("__rk")).as("__r"), sum(col("__sk")).as("__s"))
      .select(col("n_strata"), col("sum_a"), col("e_mu"), col("v_mu"),
        when(col("v_mu") === 0, lit(null).cast("double"))
          .otherwise((d(col("sum_a")) - d(col("e_mu")) / lit(1e6)) *
            (d(col("sum_a")) - d(col("e_mu")) / lit(1e6)) /
            (d(col("v_mu")) / lit(1e6))).as("cmh_chi2"),
        when(col("__s") === 0, lit(null).cast("double"))
          .otherwise(d(col("__r")) / d(col("__s"))).as("or_mh"))
  }

  /** Grouped Benford χ² audit (Newcomb 1881; Benford 1938) — "WHICH
    * segment fails the first-digit law": per group, the 8-df χ²
    * goodness-of-fit of the group's leading-digit counts against
    * log10(1 + 1/d), with a pass/fail flag at the caller's critical
    * value. The test-statistic companion to q228's global per-digit
    * screen ([[Stats.benfordScreen]] shows WHERE the global shape
    * deviates; this says WHICH slice deviates significantly — the
    * segment whose amounts were capped, minimum-priced, or synthesized).
    *
    * Determinism: amounts quantize to exact integer cents, the leading
    * digit is the first character of the BIGINT's decimal string (no
    * log10 on data), the nine expected shares are driver-computed
    * literals shared with the oracle, and each (group, digit) χ² term
    * micro-quantizes before an exact BIGINT per-group sum — absent
    * digits still contribute their n·p term through the group×digit
    * grid. State: |groups|×9 rows. Output per group: (groupCol,
    * n_amounts, chi2, fails_benford). */
  def benfordByGroup(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val chi2Crit = 15.507313
    val probs = (1 to 9).map(dd => dd -> math.log10(1.0 + 1.0 / dd))
    val cents = (valueCol.cast(DecimalType(12, 2)) * lit(100))
      .cast("bigint")
    val obs = df.select(col(groupCol).as("__g"), cents.as("__c"))
      .where(col("__c") > 0)
      .select(col("__g"),
        substring(col("__c").cast("string"), 1, 1).cast("bigint")
          .as("digit"))
      .groupBy(col("__g"), col("digit")).agg(count(lit(1)).as("__no"))
    // full group×digit grid so an absent digit still contributes n·p
    val grid = obs.select(col("__g")).distinct()
      .crossJoin(broadcast(
        df.sparkSession.range(1, 10).toDF("digit")))
      .join(obs, Seq("__g", "digit"), "left")
      .select(col("__g"), col("digit"),
        coalesce(col("__no"), lit(0L)).as("n_obs"))
    val tot = grid.groupBy(col("__g")).agg(sum(col("n_obs")).as("__n"))
    val expShare = probs.foldLeft(when(lit(false), 0.0)) {
      case (acc, (dd, p)) => acc.when(col("digit") === dd, lit(p)) }
    grid.join(tot, "__g")
      .withColumn("__t", round(
        (d(col("n_obs")) - d(col("__n")) * expShare) *
          (d(col("n_obs")) - d(col("__n")) * expShare) /
          (d(col("__n")) * expShare) * lit(1e6)).cast("bigint"))
      .groupBy(col("__g"), col("__n"))
      .agg(sum(col("__t")).as("__chi_mu"))
      .select(col("__g").as(groupCol), col("__n").as("n_amounts"),
        (d(col("__chi_mu")) / lit(1e6)).as("chi2"),
        (d(col("__chi_mu")) / lit(1e6) > lit(chi2Crit))
          .as("fails_benford"))
  }

  /** Empirical-Bayes beta-binomial shrinkage (Robbins 1956; the
    * method-of-moments recipe of Morris 1983) of per-entity success
    * rates: fit a Beta(α, β) prior to the observed per-entity rates,
    * then report each entity's posterior-mean rate
    * (k + α)/(n + α + β) — small-sample entities pull toward the grand
    * mean, heavy-sample ones keep their data; the ranking fix for
    * "3-for-3 beats 900-for-1000" rate leaderboards.
    *
    * Exactness: each entity's rate is the exact integer micro-unit
    * k·1e6 div n, so the prior's two moments are exact BIGINT sums; α,
    * α+β and every shrunk rate are fixed-order double formulas of those
    * sums. Degenerate prior (zero between-entity variance) yields null
    * α and shrunk = raw. One entity-keyed aggregate + a broadcast 1-row
    * prior. Output: (idCol, n, k, raw_rate, shrunk_rate, alpha, beta). */
  def ebBetaShrink(df: DataFrame, idCol: String, trialCol: Column,
                   successCol: Column): DataFrame = {
    val perId = df
      .select(col(idCol).as("__id"), trialCol.cast("bigint").as("__t"),
        successCol.cast("bigint").as("__k"))
      .groupBy(col("__id"))
      .agg(sum(col("__t")).as("n"), sum(col("__k")).as("k"))
      .where(col("n") > 0)
      .withColumn("__p", expr("k * 1000000L div n"))
    val prior = perId.agg(count(lit(1)).as("__j"),
      sum(col("__p")).as("__sp"), sum(col("__p") * col("__p")).as("__sp2"))
    val m = d(col("__sp")) / d(col("__j")) / lit(1e6)
    val v = (d(col("__sp2")) / d(col("__j")) -
      (d(col("__sp")) / d(col("__j"))) * (d(col("__sp")) / d(col("__j")))) /
      lit(1e12)
    val abSum = when(v <= 0.0, lit(null).cast("double"))
      .otherwise(m * (lit(1.0) - m) / v - lit(1.0))
    perId.crossJoin(broadcast(prior))
      .select(col("__id").as(idCol), col("n"), col("k"),
        (d(col("k")) / d(col("n"))).as("raw_rate"),
        when(abSum.isNull || abSum <= 0.0, d(col("k")) / d(col("n")))
          .otherwise((d(col("k")) + m * abSum) / (d(col("n")) + abSum))
          .as("shrunk_rate"),
        (m * abSum).as("alpha"),
        ((lit(1.0) - m) * abSum).as("beta"))
  }
}
