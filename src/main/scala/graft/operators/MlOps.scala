package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Classical-ML operators a training-data pipeline runs ON the corpus itself:
  * a multinomial naive-Bayes source classifier (the fastText-style
  * quality/domain gate), one-pass covariance + PCA over embeddings, per-key
  * rank normalization, rank-stability (RBO) between two orderings, a
  * k-anonymity privacy audit, and closed-form two-feature OLS.
  *
  * Shared determinism discipline (same as TextLm): every log is quantized to
  * integer micro-nats per TYPE (`round(ln(x)*1e6)` as BIGINT) so cross-row
  * sums are exact integer arithmetic; doubles appear only in final per-row
  * formulas written with the same operation order as the SQL oracle.
  */
object MlOps {

  /** Train/test split + confusion matrix for a multinomial naive-Bayes
    * classifier predicting `classCol` from whitespace tokens of `textCol`
    * (add-one smoothing, log-space, vocabulary = train tokens).
    * Docs with even `idCol` train; odd docs are scored.
    *
    * Scale design: the model is three aggregates of the train split —
    * (class, token) counts (vocab-bounded), class totals and priors
    * (class-bounded). Scoring is an inverted-index join: test (doc, token,
    * tf) rows meet model rows token-keyed — never a doc × vocab product.
    * The dense (doc × class) score matrix is linear in test size times the
    * number of classes, which for a classifier is a bounded model property
    * (NOT a data-driven dimension — unlike q91's cluster map, broadcasting
    * it is size-safe by construction, the q106 label-centroid argument).
    * Argmax runs per-doc over #class rows — a bounded window frame.
    *
    * Determinism: log-likelihoods are micro-nat BIGINTs per (class, token)
    * TYPE, so per-doc sums are exact integers; ties break by class name.
    */
  def naiveBayesConfusion(docs: DataFrame, idCol: String, textCol: String,
                          classCol: String): DataFrame =
    naiveBayesPredictions(docs, idCol, textCol, classCol)
      .groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))

  /** Per-document argmax of [[naiveBayesConfusion]]'s scored test half —
    * (idCol, actual, predicted) for every doc the model did NOT train on
    * (odd ids; gating on training docs would leak the fit). Same scoring
    * pipeline verbatim up to the confusion groupBy; the doc-partitioned
    * argmax window is bounded by |classes| rows per doc. */
  def naiveBayesPredictions(docs: DataFrame, idCol: String, textCol: String,
                            classCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("__id"), col(classCol).as("__cls"),
      explode(split(col(textCol), " ")).as("token"))
    val train = toks.where(col("__id") % 2 === 0)
    val cnt = train.groupBy(col("__cls").as("__mcls"), col("token"))
      .agg(count(lit(1)).as("__c"))
    val classTot = cnt.groupBy("__mcls").agg(sum("__c").as("__tot"))
    val priors = docs.where(col(idCol) % 2 === 0)
      .groupBy(col(classCol).as("__mcls")).agg(count(lit(1)).as("__nd"))
    val globals = cnt.agg(countDistinct("token").as("__v"))
      .crossJoin(docs.where(col(idCol) % 2 === 0).agg(count(lit(1)).as("__td")))
    val classes = classTot.join(priors, "__mcls").crossJoin(broadcast(globals))
    val testTf = toks.where(col("__id") % 2 === 1)
      .groupBy("__id", "__cls", "token").agg(count(lit(1)).as("__tf"))
      .join(cnt.select("token").distinct(), Seq("token"))
    val like = testTf.crossJoin(broadcast(classes))
      .join(cnt, Seq("__mcls", "token"), "left")
      .groupBy(col("__id"), col("__cls"), col("__mcls"))
      .agg(sum(col("__tf") *
        expr("CAST(round(ln(CAST(coalesce(__c, 0) + 1 AS DOUBLE)" +
          " / CAST(__tot + __v AS DOUBLE)) * 1e6) AS BIGINT)")).as("__like"))
    val base = docs.where(col(idCol) % 2 === 1)
      .select(col(idCol).as("__id"), col(classCol).as("__cls"))
      .crossJoin(broadcast(classes))
      .select(col("__id"), col("__cls"), col("__mcls"),
        expr("CAST(round(ln(CAST(__nd AS DOUBLE) / CAST(__td AS DOUBLE)) * 1e6)" +
          " AS BIGINT)").as("__prior"))
    val scored = base.join(like, Seq("__id", "__cls", "__mcls"), "left")
      .select(col("__id"), col("__cls"), col("__mcls"),
        (col("__prior") + coalesce(col("__like"), lit(0L))).as("__score"))
    val w = Window.partitionBy("__id")
      .orderBy(col("__score").desc, col("__mcls").asc)
    scored.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("__id").as(idCol), col("__cls").as("actual"),
        col("__mcls").as("predicted"))
  }

  /** Doc-level quality gate from an ensemble of CLASSIFIER signals — the
    * model-driven complement to the rule funnel (q114) and the rank
    * ensemble of cheap heuristics (q159): each vote comes from a model
    * fit on the corpus itself, the fastText-style gate a pretraining
    * pipeline runs before mixing.
    *
    * Votes, one per certified component query:
    *  - source_ok — the naive-Bayes source classifier (q193) re-derives
    *    the doc's claimed `classCol`: a miss means the text does not look
    *    like its provenance says it should.
    *  - lang_ok — the Cavnar-Trenkle trigram LID (q316, top 20
    *    trigrams) agrees with the doc's `langCol` label (false when the
    *    doc is too short to profile).
    *  - lm_ok — corpus bigram-LM cross-entropy (q140's scorer) lands in
    *    [3.0, 3.6] nats: below is degenerate repetition, above is
    *    gibberish (false when the doc has no scorable bigram).
    *
    * keep = majority (>= 2 of 3). Gated docs are the NB TEST half only
    * (odd ids) — gating docs the classifier trained on would leak the
    * fit. Output: idCol, source_ok, xent, lang_ok, lm_ok, votes, keep.
    *
    * Scale: three bounded-model stages (vocab-/class-/|langs|-bounded
    * broadcasts, id-keyed joins — each argued at its component query)
    * composed by doc-id equi-joins; the gate itself adds one narrow
    * 3-way join and in-row boolean math. */
  def classifierEnsembleGate(docs: DataFrame, idCol: String, textCol: String,
                             langCol: String, classCol: String): DataFrame = {
    val (k, xentLo, xentHi) = (20, 3.0, 3.6)
    val nb = naiveBayesPredictions(docs, idCol, textCol, classCol)
      .select(col(idCol), (col("predicted") === col("actual")).as("source_ok"))
    val lid = ctLangIdPredictions(docs, idCol, textCol, langCol, k)
      .select(col(idCol), (col("predicted") === col(langCol)).as("__lid"))
    val lm = TextLm.bigramCrossEntropy(docs, idCol, textCol)
      .select(col(idCol), col("xent"))
    docs.where(col(idCol) % 2 === 1)
      .select(col(idCol))
      .join(nb, Seq(idCol))
      .join(lid, Seq(idCol), "left")
      .join(lm, Seq(idCol), "left")
      .withColumn("lang_ok", coalesce(col("__lid"), lit(false)))
      .withColumn("lm_ok", col("xent").isNotNull &&
        col("xent") >= lit(xentLo) && col("xent") <= lit(xentHi))
      .drop("__lid")
      .withColumn("votes",
        (col("source_ok").cast("int") + col("lang_ok").cast("int") +
          col("lm_ok").cast("int")).cast("bigint"))
      .withColumn("keep", col("votes") >= 2L)
  }

  /** Micro-unit quantization of a float-array column: each component becomes
    * `round(x * 1e6)` as BIGINT, making all downstream sums exact. */
  private def quantized(vecCol: String): Column =
    expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")

  /** The packed one-pass Gram sums for `vecCol`: one row, one array
    * `[n, s_0..s_{d-1}, p_0..p_{T-1}]` (see [[graft.functions.GramMatrixAgg]]). */
  private def gramRow(embs: DataFrame, vecCol: String, d: Int): DataFrame = {
    val gram = udaf(new graft.functions.GramMatrixAgg(d),
      ExpressionEncoder[Seq[Long]]())
    embs.select(quantized(vecCol).as("__q")).agg(gram(col("__q")).as("__g"))
  }

  /** Full population covariance matrix of a d-dim embedding column, upper
    * triangle as (dim_i, dim_j, cov) rows.
    *
    * Scale design: ONE pass, O(d²) state per task (see GramMatrixAgg — the
    * declarative posexplode+self-join plan would shuffle n*d²/2 rows; this
    * ships one 17 KB buffer per partition). The d²-row expansion happens
    * AFTER aggregation, joining the 1-row result against a constant
    * d(d+1)/2-row index table. cov = (n*Sxy - Sx*Sy) / n² / 1e12 with the
    * numerator exact in DECIMAL(38,0).
    */
  def embeddingCovariance(embs: DataFrame, vecCol: String, d: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val tri = (for { i <- 0 until d; j <- i until d }
      yield (i, j, i * d - i * (i - 1) / 2 + (j - i))).toDF("dim_i", "dim_j", "__k")
    tri.crossJoin(broadcast(gramRow(embs, vecCol, d)))
      .select(col("dim_i"), col("dim_j"),
        (expr("CAST(CAST(element_at(__g, 1) AS DECIMAL(10,0))" +
          s" * CAST(element_at(__g, 2 + $d + __k) AS DECIMAL(19,0))" +
          " - CAST(element_at(__g, 2 + dim_i) AS DECIMAL(15,0))" +
          " * CAST(element_at(__g, 2 + dim_j) AS DECIMAL(15,0)) AS DECIMAL(38,0))")
          .cast("double")
          / col("__g").getItem(0).cast("double")
          / col("__g").getItem(0).cast("double") / lit(1e12)).as("cov"))
  }

  /** Top principal component via power iteration on the driver.
    *
    * The covariance matrix is a CONSTANT-size (d², dimension-bounded) model
    * artifact — collecting it is the documented 1-row-stats pattern, not a
    * data collect; the O(d² · iters) eigen step is microscopic next to the
    * scan. Start vector is all-ones (deterministic); the sign is fixed by
    * making the largest-|component| coordinate positive, so the result is a
    * pure function of the input set.
    */
  def pcaTopComponent(embs: DataFrame, vecCol: String, d: Int): Array[Double] = {
    val iters = 100
    val g = gramRow(embs, vecCol, d).head().getSeq[Long](0).toArray
    val n = g(0).toDouble
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val k = 1 + d + i * d - i * (i - 1) / 2 + (j - i)
        val c = (n * g(k).toDouble -
          g(1 + i).toDouble * g(1 + j).toDouble) / n / n / 1e12
        cov(i)(j) = c; cov(j)(i) = c
        j += 1
      }
      i += 1
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iters) {
      val nv = Array.tabulate(d) { r =>
        var s = 0.0; var c = 0
        while (c < d) { s += cov(r)(c) * v(c); c += 1 }
        s
      }
      val norm = math.sqrt(nv.map(x => x * x).sum)
      v = if (norm == 0.0) v else nv.map(_ / norm)
      it += 1
    }
    val maxIdx = v.indices.maxBy(idx => (math.abs(v(idx)), -idx))
    if (v(maxIdx) < 0) v.map(x => -x) else v
  }

  /** Projection of every vector onto the top principal component, top-k rows
    * by |projection| — the outlier/diversity screen PCA buys. The component
    * is a broadcast d-length literal; the dot product is the codegen'd
    * native [[graft.functions.VectorOps]] expression; top-k is
    * TakeOrderedAndProject. The eigenvector is not SQL-derivable, but the
    * projection is hash-gated by a DYNAMIC oracle (MlQueries.oracleDynamic)
    * that feeds DuckDB the Spark-computed component as exact literals;
    * MlOpsSpec carries the eigen-alignment semantics. */
  def pcaProjection(embs: DataFrame, idCol: String, vecCol: String, d: Int,
                    k: Int): DataFrame = {
    val comp = pcaTopComponent(embs, vecCol, d)
    val proj = graft.functions.VectorFunctions.dot_d(
      col(vecCol).cast("array<double>"), typedlit(comp.toSeq))
    Relational.topK(
      embs.select(col(idCol), proj.as("proj")),
      k, abs(col("proj")).desc, col(idCol).asc)
  }

  /** Per-key rank normalization: percent_rank of `scoreCol` within `keyCol`
    * plus the decile bucket — the cross-source score-calibration step that
    * makes heterogeneous quality scores comparable before mixing.
    *
    * Ties share a rank (ORDER BY score only), so the output is independent
    * of row order and engine. percent_rank = (rank-1)/(n-1) is an exact
    * rational in both engines; the decile floor is computed in the same
    * operation order. One sort-window per key — the standard exact plan;
    * for keys too large to sort, the documented swap is the mergeable
    * histogram quantile (q107, Sketches.histogramQuantiles). */
  def rankNormalize(df: DataFrame, keyCol: String, scoreCol: String,
                    idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(scoreCol).asc)
    df.select(col(idCol), col(keyCol), col(scoreCol))
      .withColumn("pctl", percent_rank().over(w))
      .withColumn("decile",
        least(floor(col("pctl") * 10), lit(9L)).cast("int"))
  }

  /** Rank-biased overlap (Webber et al., TOIS 2010) at depth `k` with
    * persistence p = 1/2, between the top-k of two orderings of the same
    * items per group — "how stable is my ranking under a different score".
    *
    * Exact-arithmetic scheme: with p = 1/2 the truncated RBO
    * (1-p) · Σ_{dd=1..k} p^(dd-1) · A(dd)/dd  is a rational with constant
    * denominator L·2^k (L = lcm(1..k)). Each item in both top-k lists
    * contributes W(m) = Σ_{dd=m..k} (L/dd)·2^(k-dd) to the integer
    * numerator, where m = max(rank1, rank2) — so the whole measure is ONE
    * integer sum per group over a k-bounded item set, then a single double
    * division by a constant. No floating-point accumulation anywhere.
    *
    * Scale: rankings come from TopKAgg partial aggregation (O(k) state per
    * group-task, no sort window over the data); the join is (group, id)
    * keyed over ≤ 2k rows per group.
    */
  /** The integer-numerator RBO weight table: item with worst-rank m
    * contributes W(m) = Σ_{dd=m..k} (L/dd)·2^(k-dd); the measure's constant
    * denominator is L·2^k (L = lcm(1..k), p = 1/2). Exposed so the SQL
    * oracle interpolates the identical constants. */
  def rboWeights(k: Int): (Seq[(Long, Long)], Long) = {
    val lcm = (1 to k).foldLeft(1L)((a, b) => a / gcd(a, b.toLong) * b)
    val ws = (1 to k).map { m =>
      (m.toLong, (m to k).map(dd => (lcm / dd) * (1L << (k - dd))).sum)
    }
    (ws, lcm * (1L << k))
  }

  def rboRankStability(df: DataFrame, keyCol: String, score1: String,
                       score2: String, idCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (ws, denomL) = rboWeights(k)
    val weights = ws.toDF("__m", "__w")
    // (1-p)·Σ p^(dd-1)·A(dd)/dd with p=1/2 has constant denominator L·2^k —
    // an exact Long (< 2^53 for k <= 20), so the double division is the only
    // floating-point step and both engines divide the same two exact values.
    val denom = denomL.toDouble

    val r1 = Relational.topKPerKey(df, Seq(keyCol), score1, idCol, k)
      .select(col(keyCol), col(idCol), col("rnk").as("__r1"))
    val r2 = Relational.topKPerKey(df, Seq(keyCol), score2, idCol, k)
      .select(col(keyCol), col(idCol), col("rnk").as("__r2"))
    r1.join(r2, Seq(keyCol, idCol))
      .select(col(keyCol), greatest(col("__r1"), col("__r2")).as("__m"))
      .join(broadcast(weights), "__m")
      .groupBy(keyCol).agg(
        (sum(col("__w")).cast("double") / lit(denom)).as("rbo"))
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** k-anonymity audit over a set of quasi-identifier columns: how many
    * QI-groups exist, how many fall below the anonymity threshold, and how
    * many rows those small groups expose. One keyed aggregate over the QI
    * tuple + one constant-size roll-up — the standard privacy pre-release
    * screen, linear at any scale. */
  def kAnonymityProfile(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame =
    df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("__sz"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("__sz") < k, 1L).otherwise(0L)).as("small_groups"),
        sum(when(col("__sz") < k, col("__sz")).otherwise(0L)).as("rows_at_risk"),
        min(col("__sz")).as("min_group"),
        max(col("__sz")).as("max_group"))

  /** l-diversity audit — k-anonymity's necessary companion: a quasi-group
    * can be large yet still leak if every member shares one SENSITIVE
    * value (the homogeneity attack k-anonymity misses). Reports, per
    * distinct-sensitive-value count l, how many quasi-groups have exactly
    * that diversity and how many rows they hold — the l-histogram a
    * release gate thresholds ("no group below l=3").
    *
    * Scale: one QI+sensitive-keyed aggregate, one QI-keyed aggregate,
    * one census over the (small) l-histogram — all bounded by group
    * cardinality, never by rows. */
  def lDiversityProfile(df: DataFrame, quasiCols: Seq[String],
                        sensitiveCol: String): DataFrame = {
    val perGroup = df
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__sz"),
        countDistinct(col(sensitiveCol)).as("__l"))
    perGroup.groupBy(col("__l").as("l"))
      .agg(count(lit(1)).as("n_groups"), sum(col("__sz")).as("n_rows"),
        min(col("__sz")).as("min_group"), max(col("__sz")).as("max_group"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007 — public paper):
    * the third leg of the release-gate triad after [[kAnonymityProfile]]
    * (group SIZE) and [[lDiversityProfile]] (value COUNT): a quasi-group
    * can be large and diverse yet still leak when its sensitive-value
    * DISTRIBUTION differs sharply from the table's (the skewness attack
    * l-diversity misses — a group that is 90% one priority tells you that
    * priority with 90% confidence). Per quasi-group, the Earth-Mover
    * Distance between the group's sensitive distribution and the global
    * one over the ORDERED value grid: EMD = Σ_i |cumP_i − cumQ_i| /
    * (m − 1) (Wasserstein-1 with unit-spaced ordinal values, the paper's
    * ordered-attribute form; the sensitive column's lexicographic order
    * is the domain order for TPC-H priorities).
    *
    * Exactness: cumulative differences are cross-multiplied integers —
    * |cumGC·total − cumTC·groupSz| — summed in DECIMAL(38,0) (counts at
    * 100 TB put the product past 2^63; oracle: HUGEINT), and t is ONE
    * half-up 6-dp division of exact integers. The above-threshold flag
    * compares micro-units (t_mu > tNum·1e6/tDen as integers), never
    * doubles.
    *
    * Scale: one (QI, value)-keyed aggregate; the cumulative window runs
    * over groups × the VALUE GRID (|groups|·m rows — m is the sensitive
    * domain, a constant), partitioned by group; the global distribution
    * is an m-row broadcast. Output per quasi-group: quasiCols, group_sz,
    * t (6 dp), above_t. */
  def tClosenessProfile(df: DataFrame, quasiCols: Seq[String],
                        sensitiveCol: String): DataFrame = {
    val tNum: Long = 1L
    val tDen: Long = 5L
    val qs = quasiCols.map(col)
    val gv = df.groupBy(qs :+ col(sensitiveCol).as("__v"): _*)
      .agg(count(lit(1)).as("__gc"))
    val gsz = gv.groupBy(qs: _*).agg(sum(col("__gc")).as("__gsz"))
    val tv = df.groupBy(col(sensitiveCol).as("__v"))
      .agg(count(lit(1)).as("__tc"))
    val mTot = tv.agg(count(lit(1)).as("__m"), sum(col("__tc")).as("__tot"))
    // groups x value grid (grid-bounded), zeros filled, cumulative walk
    val gridded = gsz.crossJoin(broadcast(tv))
      .join(gv, quasiCols :+ "__v", "left")
      .withColumn("__gc0", coalesce(col("__gc"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qs: _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    gridded
      .withColumn("__cgc", sum(col("__gc0")).over(w))
      .withColumn("__ctc", sum(col("__tc")).over(w))
      .crossJoin(broadcast(mTot))
      .groupBy(qs :+ col("__gsz").as("group_sz"): _*)
      .agg(expr(
        """sum(abs(CAST(__cgc AS DECIMAL(38,0)) * __tot
          |        - CAST(__ctc AS DECIMAL(38,0)) * __gsz))""".stripMargin)
        .as("__s"),
        max(col("__m")).as("__m"), max(col("__tot")).as("__tot"))
      // m = 1 (a single-value sensitive domain) makes every distribution
      // equal by construction: t = 0 exactly, never a 0/0 NULL (and the
      // oracle's HUGEINT division would error instead of NULL — the two
      // engines would diverge without this guard)
      .withColumn("__t_mu", expr(
        """CAST(CASE WHEN __m <= 1 THEN 0 ELSE
          | (2 * __s * 1000000
          |  + CAST(group_sz AS DECIMAL(38,0)) * __tot * (__m - 1))
          | div (2 * CAST(group_sz AS DECIMAL(38,0)) * __tot * (__m - 1))
          | END AS BIGINT)""".stripMargin))
      .select(qs ++ Seq(col("group_sz"),
        (col("__t_mu").cast("double") / lit(1e6)).as("t"),
        (col("__t_mu") * lit(tDen) > lit(tNum * 1000000L)).as("above_t")): _*)
  }

  /** ε-differentially-private count release (Laplace mechanism, Dwork et
    * al. 2006): per-group counts plus Laplace(1/ε) noise — the third leg
    * of the privacy family after [[kAnonymityProfile]] (size) and
    * [[lDiversityProfile]] (homogeneity): what you PUBLISH when the
    * groups themselves may not leave the building. Count queries have
    * sensitivity 1, so scale b = 1/ε.
    *
    * Determinism (the no-rand() house rule): noise is the Laplace
    * inverse-CDF −b·sign(u−½)·ln(1−2·|u−½|) of the shared md5 uniform
    * hash60("dp#" ++ group key) — a pure function of the group, replayed
    * identically by any engine/partitioning (and by the oracle). A
    * PRODUCTION release would swap the hash seed per release epoch; the
    * mechanism's ε analysis is unchanged. Noise is quantized to integer
    * micro-units at its only appearance (the q101 libm discipline:
    * round(1e6·x) absorbs sub-µ ln() differences between libms); the ln
    * argument clamps at 1e-12 so the measure-zero u=1 edge cannot emit
    * −inf.
    *
    * Scale: one keyed count + per-ROW closed-form noise — nothing after
    * the aggregate depends on data size.
    * Output: groupCols, n, noise_mu, n_noisy, epsilon. */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String],
                    epsilon: Double): DataFrame = {
    require(epsilon > 0, "epsilon must be positive")
    val b = 1.0 / epsilon
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    val u = (Sketches.hash60(concat_ws("#",
        lit("dp") +: groupCols.map(c => col(c).cast("string")): _*))
      + lit(0.5)) / lit((1L << 60).toDouble)
    val v = u - lit(0.5)
    val noiseMu = round(lit(1e6) * (lit(-b) * signum(v) *
        log(greatest(lit(1e-12), lit(1.0) - lit(2.0) * abs(v)))))
      .cast("bigint")
    counts.select(groupCols.map(col) ++ Seq(col("n"),
      noiseMu.as("noise_mu"),
      ((col("n") * lit(1000000L) + noiseMu).cast("double") / lit(1e6))
        .as("n_noisy"),
      lit(epsilon).as("epsilon")): _*)
  }

  /** Closed-form two-feature OLS with intercept: y ~ b0 + b1·x1 + b2·x2,
    * solved by Cramer's rule on the 3×3 normal equations. All nine moment
    * sums are exact BIGINT aggregates of integer features (ONE pass, one
    * 1-row result); determinants are exact DECIMAL(38,0) products of those
    * sums, and doubles appear only in the three final divisions — so the
    * coefficients are a pure function of the input set at any scale. */
  def ols2(df: DataFrame, x1c: Column, x2c: Column, yc: Column): DataFrame = {
    val sums = df.select(x1c.cast("long").as("x1"), x2c.cast("long").as("x2"),
        yc.cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum("x1").as("sx1"), sum("x2").as("sx2"),
        sum("y").as("sy"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
    // 3x3 symmetric system: [n sx1 sx2; sx1 s11 s12; sx2 s12 s22] b = [sy; s1y; s2y]
    // DECIMAL(38,0): the triple products reach sy·s11·s22 ≈ 2e34 at sf0.1
    // (DECIMAL(12) overflowed there); 38 digits hold to ~sf10. The oracle
    // mirrors with HUGEINT (same 1e38 envelope).
    def d(c: String): String = s"CAST($c AS DECIMAL(38,0))"
    val det = "(" +
      s"${d("n")}*(${d("s11")}*${d("s22")} - ${d("s12")}*${d("s12")})" +
      s" - ${d("sx1")}*(${d("sx1")}*${d("s22")} - ${d("s12")}*${d("sx2")})" +
      s" + ${d("sx2")}*(${d("sx1")}*${d("s12")} - ${d("s11")}*${d("sx2")}))"
    val det0 = "(" +
      s"${d("sy")}*(${d("s11")}*${d("s22")} - ${d("s12")}*${d("s12")})" +
      s" - ${d("sx1")}*(${d("s1y")}*${d("s22")} - ${d("s12")}*${d("s2y")})" +
      s" + ${d("sx2")}*(${d("s1y")}*${d("s12")} - ${d("s11")}*${d("s2y")}))"
    val det1 = "(" +
      s"${d("n")}*(${d("s1y")}*${d("s22")} - ${d("s12")}*${d("s2y")})" +
      s" - ${d("sy")}*(${d("sx1")}*${d("s22")} - ${d("s12")}*${d("sx2")})" +
      s" + ${d("sx2")}*(${d("sx1")}*${d("s2y")} - ${d("s1y")}*${d("sx2")}))"
    val det2 = "(" +
      s"${d("n")}*(${d("s11")}*${d("s2y")} - ${d("s1y")}*${d("s12")})" +
      s" - ${d("sx1")}*(${d("sx1")}*${d("s2y")} - ${d("s1y")}*${d("sx2")})" +
      s" + ${d("sy")}*(${d("sx1")}*${d("s12")} - ${d("s11")}*${d("sx2")}))"
    sums.select(col("n"),
      expr(s"CAST($det0 AS DOUBLE) / CAST($det AS DOUBLE)").as("b0"),
      expr(s"CAST($det1 AS DOUBLE) / CAST($det AS DOUBLE)").as("b1"),
      expr(s"CAST($det2 AS DOUBLE) / CAST($det AS DOUBLE)").as("b2"))
  }

  /** Effective rank (participation ratio) of the embedding covariance:
    * tr(C)² / ‖C‖²_F = (Σλ)²/Σλ² — "how many dimensions does this embedding
    * actually use", the collapse/anisotropy diagnostic for representation
    * quality — WITHOUT an eigendecomposition: both traces are exact matrix
    * functionals (Σλ = Σ C_ii, Σλ² = Σ_ij C_ij²), so one covariance pass
    * suffices.
    *
    * Determinism: the covariance entries are engine-identical doubles
    * (q194's gate); the two reductions over them run as LEFT FOLDS over the
    * (i, j)-sorted entry list — a fixed summation order both engines replay
    * — never an unordered SUM over doubles. The fold is over d(d+1)/2
    * entries (dimension-bounded, constant in corpus size), so the single-row
    * collect_list is the 1-row-stats pattern, not a data collect. */
  def effectiveRank(embs: DataFrame, vecCol: String, d: Int): DataFrame =
    embeddingCovariance(embs, vecCol, d)
      .agg(array_sort(collect_list(struct(col("dim_i"), col("dim_j"),
        col("cov")))).as("__l"))
      .select(lit(d).as("n_dims"),
        expr("aggregate(transform(__l, s -> CASE WHEN s.dim_i = s.dim_j" +
          " THEN s.cov ELSE CAST(0 AS DOUBLE) END)," +
          " CAST(0 AS DOUBLE), (a, x) -> a + x)").as("trace"),
        expr("aggregate(transform(__l, s -> CASE WHEN s.dim_i = s.dim_j" +
          " THEN s.cov * s.cov ELSE (s.cov * s.cov) + (s.cov * s.cov) END)," +
          " CAST(0 AS DOUBLE), (a, x) -> a + x)").as("frob"))
      .withColumn("eff_rank", (col("trace") * col("trace")) / col("frob"))

  /** Consecutive-run (gaps-and-islands) profile: maximal runs of equal
    * `valCol` per `keyCol` ordered by `ordCols`, rolled up per value —
    * n_runs, longest run, mean run length. Two windows per key partition
    * (lag + running sum — both key-bounded, never global), then two keyed
    * aggregates over data that shrinks at each step. */
  def runProfile(df: DataFrame, keyCol: String, valCol: String,
                 ordCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(ordCols: _*)
    val runs = df
      .withColumn("__chg",
        when(lag(col(valCol), 1).over(w).isNull ||
          lag(col(valCol), 1).over(w) =!= col(valCol), 1L).otherwise(0L))
      .withColumn("__run", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col(valCol), col("__run"))
      .agg(count(lit(1)).as("__len"))
    runs.groupBy(col(valCol))
      .agg(count(lit(1)).as("n_runs"), max(col("__len")).as("max_len"),
        (sum(col("__len")).cast("double") /
          count(lit(1)).cast("double")).as("avg_len"))
  }

  /** Depth-1 decision stump: the single threshold on integer-valued
    * `valueCol` that minimizes weighted Gini impurity of the boolean
    * `label` split (v ≤ t goes left) — the first split every tree
    * learner makes, and on its own the interpretable "is this one feature
    * predictive at all" screen. Output: one row — threshold, gini, and
    * the four split counts.
    *
    * Every candidate threshold is a grid value; left/right class counts
    * come from cumulative sums over the value GRID (exact BIGINTs, the
    * q158 bounded-window discipline), so the scan is one pass + one
    * grid-sized window regardless of row count. Gini is pure algebra
    * (no libm) — bit-identical across engines; ties on impurity break to
    * the smallest threshold, deterministically. */
  def decisionStump(df: DataFrame, valueCol: String, label: Column): DataFrame = {
    def d(c: Column) = c.cast("double")
    val grid = df.select(col(valueCol).cast("bigint").as("__v"),
        when(label, 1L).otherwise(0L).as("__y"))
      .groupBy(col("__v")).agg(count(lit(1)).as("c"), sum(col("__y")).as("p"))
    val w = Window.orderBy(col("__v")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid
      .withColumn("cn", sum(col("c")).over(w))
      .withColumn("cp", sum(col("p")).over(w))
    val tot = grid.agg(sum(col("c")).as("n"), sum(col("p")).as("pos"))
    val nl = d(col("cn")); val pl = d(col("cp"))
    val nr = d(col("n")) - nl; val pr = d(col("pos")) - pl
    val gl = lit(1.0) - (pl / nl) * (pl / nl) -
      ((nl - pl) / nl) * ((nl - pl) / nl)
    val gr = lit(1.0) - (pr / nr) * (pr / nr) -
      ((nr - pr) / nr) * ((nr - pr) / nr)
    // the g expression is CASE-guarded as well as filtered: the optimizer
    // may inline it into an aggregate whose codegen evaluates the
    // projection on pre-filter rows, and ANSI mode faults the nr = 0 row
    // (the max grid value) instead of discarding it
    val scored = cum.crossJoin(broadcast(tot))
      .where(col("cn") < col("n")) // the max value splits nothing off
      .select(col("__v"), col("cn"), col("cp"), col("n"), col("pos"),
        when(col("cn") < col("n"),
          nl / d(col("n")) * gl + nr / d(col("n")) * gr).as("g"))
    val best = scored.agg(min(col("g")).as("__mg"))
    val tied = scored.crossJoin(broadcast(best)).where(col("g") === col("__mg"))
    tied.crossJoin(broadcast(tied.agg(min(col("__v")).as("__bt"))))
      .where(col("__v") === col("__bt"))
      .select(col("__v").as("threshold"), col("g").as("gini"),
        col("cn").as("n_left"), col("cp").as("pos_left"),
        (col("n") - col("cn")).as("n_right"),
        (col("pos") - col("cp")).as("pos_right"))
  }

  /** Cavnar-Trenkle character-n-gram rank-profile language ID (Cavnar &
    * Trenkle 1994, "N-Gram-Based Text Categorization") — the classic
    * n-gram LID beside the stopword heuristic (q30) and the word-level
    * naive Bayes (q193): each language's profile is its top-k trigrams
    * by frequency; a document is scored by the out-of-place distance
    * Σ|rank_doc − rank_lang| over its own top-k profile (missing grams
    * pay the max penalty k) and classified to the nearest profile, ties
    * to the lexicographically first language. Output: the
    * (lang, predicted, n_docs) confusion matrix.
    *
    * Scale: the doc side is SHUFFLE-FREE — the native
    * [[graft.functions.CharNgramCounts]] expression emits each
    * document's full trigram profile pre-sorted by (count DESC, gram
    * ASC) in one text scan, so the rank-k doc profile is an in-row
    * `slice`, and with every language profile collapsed into ONE
    * broadcast row of (cand, gram→rank) maps, the out-of-place
    * distance and nearest-profile argmin run in-row via
    * transform/aggregate/array_min (k·|langs| map probes per doc).
    * The only data shuffles left are the Zipf-bounded (lang, gram)
    * profile aggregate and the |langs|² confusion groupBy. (Replaced
    * the r12 formulation — per-occurrence explode, (doc, gram)
    * aggregate, two per-doc rank windows, k·|langs| scoring shuffle —
    * measured 4.2 s warmed at sf0.1; semantics and oracle unchanged.) */
  def ctLangIdConfusion(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String, k: Int): DataFrame =
    ctLangIdPredictions(docs, idCol, textCol, langCol, k)
      .groupBy(col(langCol), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))

  /** Per-document prediction stage of [[ctLangIdConfusion]] — (idCol,
    * langCol, predicted) for every doc long enough to profile (length >=
    * 3; shorter docs have no trigram evidence and drop out). Same
    * shuffle-free doc side and 1-row broadcast profile scoring. */
  def ctLangIdPredictions(docs: DataFrame, idCol: String, textCol: String,
                          langCol: String, k: Int): DataFrame = {
    val counted = docs.where(length(col(textCol)) >= 3)
      .select(col(idCol).as("__id"), col(langCol).as("__lang"),
        graft.functions.CharNgramCounts
          .char_ngram_counts(col(textCol), 3).as("__gc"))
    // language profiles: FULL per-(lang, gram) counts (not just doc
    // top-k) folded by the mergeable GramProfileAgg — one text scan,
    // per-(partition, lang) gram maps bounded by the Zipf-bounded
    // trigram vocabulary, emitted pre-sorted so rank = position + 1
    // with no (lang, gram) explode and no rank window
    val profAgg = org.apache.spark.sql.functions.udaf(
      new graft.functions.GramProfileAgg(3, k),
      org.apache.spark.sql.Encoders.STRING)
    val lpTop = docs.where(length(col(textCol)) >= 3)
      .groupBy(col(langCol).as("__lang"))
      .agg(profAgg(col(textCol)).as("__prof"))
    // ALL candidate langs (mirroring the oracle: every lang in docs,
    // even one whose docs are all < 3 chars — its null map makes every
    // probe miss, charging the max penalty k per profile row), with
    // each profile as a gram→rank map, collapsed to a 1-row broadcast
    val langs = docs.select(col(langCol).as("__cand")).distinct()
    val pm = lpTop.select(col("__lang"), expr(
      """map_from_entries(transform(__prof,
        |  (x, i) -> struct(x._1, CAST(i + 1 AS BIGINT))))""".stripMargin)
      .as("__pm"))
    val profiles = langs
      .join(pm, col("__cand") === col("__lang"), "left")
      .agg(collect_list(struct(col("__cand").as("cand"), col("__pm").as("pm")))
        .as("__profs"))
    // in-row scoring: doc rank r = slice position + 1, out-of-place
    // distance per candidate, argmin with (dist ASC, cand ASC) ties via
    // lexicographic struct array_min
    val kL = s"CAST($k AS BIGINT)"
    val pred = counted.crossJoin(broadcast(profiles))
      .select(col("__id"), col("__lang"),
        expr(
          s"""array_min(transform(__profs, p -> named_struct(
             |  'd', aggregate(
             |         transform(slice(__gc, 1, $k), (x, i) ->
             |           coalesce(abs(CAST(i + 1 AS BIGINT)
             |               - try_element_at(p.pm, x.g)), $kL)),
             |         CAST(0 AS BIGINT), (a, b) -> a + b),
             |  'c', p.cand)))""".stripMargin).getField("c").as("predicted"))
    pred.select(col("__id").as(idCol), col("__lang").as(langCol),
      col("predicted"))
  }

  /** Sigmoid lookup, micro-units, on the shared z grid (321 points, 0.05
    * step over [-8, 8]). Driver-computed ONCE and fed to BOTH engines as
    * the same integer literals (Spark via typedlit, DuckDB via the SQL the
    * generator renders from this array) — zero libm calls in either
    * engine's plan, so no cross-engine exp() divergence is possible. */
  private[graft] val SigmoidLutMicros: Array[Long] =
    Array.tabulate(321)(i =>
      math.round(1e6 / (1.0 + math.exp(-(-8.0 + 0.05 * i)))))

  /** Exact round-half-away-from-zero of a/b (b > 0) in Long arithmetic:
    * sign-split (2|a| + b) div (2b). */
  private[graft] def halfUpLong(a: Long, b: Long): Long = {
    val s = if (a < 0) -1L else 1L
    val m = math.abs(a)
    s * ((2 * m + b) / (2 * b))
  }

  /** In-engine logistic-regression quality gate: `steps` full-batch
    * gradient-descent steps trained against a deterministic linear teacher
    * rule over integer text features, returning the per-step weight trace
    * and held-in accuracy — the TRAINED classifier beside the q193
    * naive-Bayes counter and the q319 rule/vote ensembles.
    *
    * Teacher: y = [2·n_tokens + 120·#scan + 90·#join > 482] (calibrated to
    * the corpus median — a known ground-truth boundary, so the spec can
    * assert the trainer actually LEARNS: accuracy climbs across steps).
    * Features: bias, half-up-quantized centered token count ((nt−54)/8),
    * 'scan' count, 'join' count, and quantized centered distinct-token
    * count ((dt−23)/4) as a correlated nuisance dimension.
    *
    * Cross-engine exactness: every per-doc quantity is INTEGER (features,
    * z in micro-units, the sigmoid via the shared literal LUT after
    * clipping z to ±8e6 micros and half-up snapping to the 0.05 grid);
    * gradient sums are exact BIGINT micro-sums (fold-order immune); the
    * weight update w −= lr·G/n is one exact sign-split half-up division.
    * DuckDB re-derives the full training loop independently (unrolled
    * materialized CTEs) from the same constants — the oracle certifies the
    * optimizer, not just the scoring pass.
    *
    * Scale design: one features pass persisted, then steps+1 passes each a
    * single mergeable 8-sum aggregate; the only driver traffic is the
    * constant-size (5 gradients + 2 counts) row per step — the documented
    * 1-row-stats pattern (PCA precedent above). Gradient micro-sums stay
    * < 2^63 up to ~10^13 docs; widen to DECIMAL(38,0) beyond.
    *
    * Output per step (1..steps): weights AFTER the step's update (micros /
    * 1e6, an exact integer-over-1e6 double both engines) plus that weight
    * vector's n_pred_pos / n_correct over the corpus.
    *
    * Cost is 7 constant-width aggregate passes over the cached feature
    * projection.
    */
  /** The q330/q332 feature projection: integer features + teacher label
    * (see logisticTeacherGate's scaladoc), cached — training makes
    * steps+1 passes over it. */
  private[graft] def logisticFeatures(docs: DataFrame, textCol: String)
  : DataFrame = {
    val toks = split(col(textCol), " ")
    def cnt(t: String) =
      size(filter(toks, x => x === lit(t))).cast("long")
    // half-up quantization of a possibly-negative integer column, exact:
    // operands stay far below 2^53, so the double floor-div is exact
    def q(c: org.apache.spark.sql.Column, b: Int) =
      when(c >= 0, floor((c * 2 + b) / lit(2.0 * b)))
        .otherwise(-floor((-c * 2 + b) / lit(2.0 * b))).cast("long")
    val nt = size(toks).cast("long")
    val dt = size(array_distinct(toks)).cast("long")
    CacheScope.persist(docs.select(
      lit(1L).as("x0"), q(nt - 54, 8).as("x1"),
      cnt("scan").as("x2"), cnt("join").as("x3"),
      q(dt - 23, 4).as("x4"),
      when(nt * 2 + cnt("scan") * 120 + cnt("join") * 90 > 482, 1L)
        .otherwise(0L).as("y")))
  }

  /** z (micro-units) for a literal weight vector over the x0..x4 feature
    * columns. */
  private def zMicros(w: Array[Long]): org.apache.spark.sql.Column =
    (0 until 5).map(j => lit(w(j)) * col(s"x$j")).reduce(_ + _)

  /** LUT sigmoid in micro-units: clip z to ±8e6, half-up snap to the 0.05
    * grid, look up the shared literal table. Exact in both engines. */
  private[graft] def sigmoidMicros(z: org.apache.spark.sql.Column)
  : org.apache.spark.sql.Column = {
    val zc = greatest(least(z, lit(8000000L)), lit(-8000000L))
    // z >= 0 after the +8e6 shift: plain half-up, exact double floor-div
    val idx = floor(((zc + 8000000L) * 2 + 50000L) / lit(100000.0))
      .cast("int")
    element_at(typedlit(SigmoidLutMicros.toSeq), idx + 1)
  }

  /** The GD loop shared by q330 (step trace) and q332 (calibration of the
    * final weights): steps+1 single-aggregate passes; pass p evaluates
    * w_{p-1} and (while p <= steps) mints w_p, at 6 steps of learning
    * rate 3/2. Returns the per-step trace (step, weights-after-update,
    * n_pred_pos, n_correct). */
  private[graft] def trainLogistic(feats: DataFrame): Seq[(Long, Array[Long], Long, Long)] = {
    val steps = 6
    val lrNum = 3L
    val lrDen = 2L
    val n = feats.count()
    var w = Array.fill(5)(0L)
    val trace = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Long], Long, Long)]
    var prevW: Array[Long] = null
    for (pass <- 1 to steps + 1) {
      val sig = sigmoidMicros(zMicros(w))
      val pred = when(sig >= 500000L, 1L).otherwise(0L)
      val aggs =
        (0 until 5).map(j =>
          sum((sig - col("y") * 1000000L) * col(s"x$j")).as(s"g$j")) ++
          Seq(sum(pred).as("np"),
            sum(when(pred === col("y"), 1L).otherwise(0L)).as("nc"))
      val r = feats.agg(aggs.head, aggs.tail: _*).head()
      if (pass > 1)
        trace += ((pass - 1L, prevW, r.getAs[Long]("np"),
          r.getAs[Long]("nc")))
      if (pass <= steps) {
        prevW = Array.tabulate(5)(j =>
          w(j) - halfUpLong(lrNum * r.getAs[Long](s"g$j"), lrDen * n))
        w = prevW
      }
    }
    trace.toSeq
  }

  def logisticTeacherGate(docs: DataFrame, textCol: String)
  : DataFrame = {
    val spark = docs.sparkSession
    val feats = logisticFeatures(docs, textCol)
    import spark.implicits._
    trainLogistic(feats)
      .map { case (st, wv, np, nc) =>
        (st, wv(0) / 1e6, wv(1) / 1e6, wv(2) / 1e6, wv(3) / 1e6,
          wv(4) / 1e6, np, nc) }
      .toDF("step", "w_bias", "w_tokens", "w_scan", "w_join", "w_distinct",
        "n_pred_pos", "n_correct")
  }

  /** Probability-calibration audit of the q330 trained model: score every
    * doc with the FINAL weights, bucket predicted probability into ten
    * fixed 0.1-wide bins, and report the reliability table — per bin n,
    * positives, mean predicted probability, observed rate — plus the
    * corpus-level Expected Calibration Error (Naeini et al. 2015,
    * Σ n_b·|obs_b − pred_b| / N) and Brier score. The model-quality sheet
    * beside q196's rank calibration (which calibrates SCORES, not a
    * trained model's probabilities).
    *
    * Exactness: predicted probabilities are LUT micro-integers, so every
    * bin statistic is an exact BIGINT sum; |obs − pred| per bin is the
    * integer |n_pos·1e6 − Σsig| over the common denominator, making ECE
    * ONE exact integer sum with two fixed-order double divisions at the
    * end; Brier's numerator Σ(sig − y·1e6)² is exact (< 2^63 up to ~10^6
    * docs per partition aggregate path; widen to DECIMAL beyond). The
    * oracle re-derives training AND calibration.
    *
    * Scale: training passes as q330, then ONE scoring aggregate to the
    * ≤10-row bin table; the global joins broadcast 1-row artifacts.
    */
  def logisticCalibration(docs: DataFrame, textCol: String)
  : DataFrame = {
    val feats = logisticFeatures(docs, textCol)
    val w = trainLogistic(feats).last._2
    val sig = sigmoidMicros(zMicros(w))
    val scored = feats.select(sig.as("__sig"), col("y"),
      least(floor(sig / lit(100000.0)).cast("long"), lit(9L)).as("bin"))
    val bt = scored.groupBy(col("bin")).agg(
      count(lit(1)).as("n"),
      sum(col("__sig")).as("__sum_pred"),
      sum(col("y")).as("n_pos"))
    val gl = bt.agg(
      sum(abs(col("n_pos") * 1000000L - col("__sum_pred"))).as("__S"),
      sum(col("n")).as("__N"))
    val br = scored.agg(
      sum((col("__sig") - col("y") * 1000000L)
        * (col("__sig") - col("y") * 1000000L)).as("__B"))
    bt.crossJoin(broadcast(gl)).crossJoin(broadcast(br))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("__sum_pred").cast("double") / lit(1e6)
          / col("n").cast("double")).as("mean_pred"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("obs_rate"),
        (col("__S").cast("double") / lit(1e6)
          / col("__N").cast("double")).as("ece"),
        (col("__B").cast("double") / lit(1e12)
          / col("__N").cast("double")).as("brier"))
  }

  /** Isotonic-regression calibration map (PAV; Zadrozny & Elkan 2002)
    * for the q330 trained model, via the MINIMAX characterization
    * iso(k) = max_{i≤k} min_{j≥k} mean(y over grid cells i..j) — the
    * closed form of pool-adjacent-violators that needs NO sequential
    * pooling loop, so the whole fit stays declarative: the score grid is
    * the ≤321 DISTINCT LUT sigmoid values (bounded by the LUT, not the
    * corpus), interval means come from exact prefix sums, the suffix-min
    * rides a per-i grid window and the max is one grouped aggregate over
    * the G² interval table. Output: one row per occupied grid value —
    * (sig_micro, n, n_pos, raw = sig/1e6, iso) with iso monotone
    * non-decreasing by construction.
    *
    * Exactness: interval means are single divisions of exact BIGINTs —
    * equal rationals land on the SAME double in both engines (identical
    * numerator/denominator pairs or equal reals within 2^53), so min/max
    * comparisons cannot diverge; no double is ever summed.
    *
    * Scale: after the one scoring aggregate, everything is G²-bounded
    * (≤321² ≈ 103k interval rows) regardless of corpus size; the only
    * corpus-scale work is training + one scan.
    *
    * The grid and interval table do not grow with the corpus.
    */
  def isotonicCalibration(docs: DataFrame, textCol: String)
  : DataFrame = {
    val feats = logisticFeatures(docs, textCol)
    val w = trainLogistic(feats).last._2
    isotonicOnScores(
      feats.select(sigmoidMicros(zMicros(w)).as("__sig"), col("y")))
  }

  /** The minimax PAV core over (__sig, y) score pairs — see
    * [[isotonicCalibration]]; separated so the fit is testable on hand
    * grids. */
  private[graft] def isotonicOnScores(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = scored.groupBy(col("__sig"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
    val wg = Window.orderBy(col("__sig"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid
      .withColumn("__r", row_number().over(Window.orderBy(col("__sig"))))
      .withColumn("__cn", sum(col("n")).over(wg))
      .withColumn("__cp", sum(col("p")).over(wg))
      .localCheckpoint()
    val lo = cum.select(col("__r").as("i"),
      (col("__cn") - col("n")).as("n_before"),
      (col("__cp") - col("p")).as("p_before"))
    val hi = cum.select(col("__r").as("j"), col("__cn").as("cn_j"),
      col("__cp").as("cp_j"))
    val a = lo.join(broadcast(hi), col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("cp_j") - col("p_before")).cast("double") /
          (col("cn_j") - col("n_before")).cast("double")).as("__a"))
    val wsm = Window.partitionBy(col("i")).orderBy(col("j").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val iso = a.withColumn("__sm", min(col("__a")).over(wsm))
      .groupBy(col("j")).agg(max(col("__sm")).as("iso"))
    cum.join(iso, col("__r") === col("j"))
      .select(col("__sig").as("sig_micro"), col("n"), col("p").as("n_pos"),
        (col("__sig").cast("double") / lit(1e6)).as("raw"),
        col("iso"))
  }
}
