package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.ModelEval

/** Round-10 model-evaluation batch: the classifier-gate sheets — exact
  * AUC-ROC (rank-sum identity), the full precision/recall curve, the
  * decile gains/lift table, and PSI cohort drift. The "model" under
  * evaluation is deliberately a transparent toy (document length
  * predicting lang = 'en') so the oracle can replay every number while
  * the MACHINERY — grid-exact thresholds, tie handling, integer bin
  * assignment, fold-ordered PSI terms — is the real, scale-safe thing
  * a trained classifier's scores would flow through unchanged. */
object EvalQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q244's PSI cohorts and bin count. */
  private val psiA = "src0"
  private val psiB = "src1"
  private val psiBins = 10

  /** q322's declared target policy (shared verbatim with the oracle). */
  private val ipsTargetPolicy: Seq[(String, Double)] = Seq(
    "purchase" -> 0.4, "signup" -> 0.2, "click" -> 0.2,
    "view" -> 0.1, "error" -> 0.1)

  val queries: Map[String, Q] = Map(

    // Exact tie-aware AUC via U/(n+·n-) — q216's rank machinery read as
    // "probability a random positive outscores a random negative".
    "q241_auc" -> ((s, d) =>
      ModelEval.aucRoc(table(s, d, "documents"), "n_chars",
        col("lang") === "en")),

    // Precision/recall/F1 at every distinct threshold from the
    // descending score-grid cumulative — the full operating-point sheet.
    "q242_pr_curve" -> ((s, d) =>
      ModelEval.prCurve(table(s, d, "documents"), "n_chars",
        col("lang") === "en")),

    // Decile gains/lift: ties never split bins, bin = ceil(cum·10/n)
    // all-integer — "the top decile captures X% of positives at Y×".
    "q243_gains_table" -> ((s, d) =>
      ModelEval.gainsTable(table(s, d, "documents"), "n_chars",
        col("lang") === "en", nBins = 10)),

    // PSI drift between src0's and src1's length distributions over 10
    // fixed-width bins with Laplace smoothing — the score-stability
    // monitor (< 0.1 stable, > 0.25 shifted).
    "q244_psi" -> ((s, d) =>
      ModelEval.psi(table(s, d, "documents"), "source", psiA, psiB,
        "n_chars", psiBins)),

    // NDCG@10 of label-match relevance over the q33 exact neighbor
    // ranking — the graded retrieval gate beside q112's recall@k and
    // q197's RBO. Micro-unit discount table, exact BIGINT DCG/IDCG.
    // See ModelEval.ndcgAtK.
    "q263_ndcg" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val knn = graft.operators.Similarity.bruteForceKnn(
        emb, "vec_id", "embedding", col("vec_id") < 50, k = 10)
      val lbl = emb.select(col("vec_id"), col("label"))
      val ranked = knn
        .join(lbl.select(col("vec_id").as("query_id"),
          col("label").as("__ql")), "query_id")
        .join(lbl.select(col("vec_id").as("neighbor_id"),
          col("label").as("__nl")), "neighbor_id")
        .select(col("query_id"), col("rnk"),
          when(col("__ql") === col("__nl"), 1L).otherwise(0L).as("rel"))
      ModelEval.ndcgAtK(ranked, "query_id", "rnk", "rel")
    }),

    // MMR-diversified top-5 from each query's top-20 cosine candidates
    // (λ=0.5) — the diversity-aware rerank plain top-k (q33) lacks and
    // RRF (q109) does not address. Greedy rounds as bounded keyed
    // joins; 6-dp cosine discipline throughout. See Similarity.mmrRerank.
    "q284_mmr_rerank" -> ((s, d) =>
      graft.operators.Similarity.mmrRerank(table(s, d, "embeddings"),
        "vec_id", "embedding", col("vec_id") < 20, m = 20, k = 5)),

    // Split-conformal 90% interval for the n_chars ~ tokens line:
    // train/calibrate/test by id mod 3, residual-quantile half-width,
    // empirical held-out coverage — distribution-free error bars beside
    // q282's bootstrap (mean) CI. See ModelEval.splitConformal.
    "q293_split_conformal" -> ((s, d) =>
      ModelEval.splitConformal(table(s, d, "documents"), "doc_id",
        size(split(col("text"), " ")), col("n_chars"))),

    // Off-policy evaluation: score the declared purchase-leaning target
    // policy against the logged event stream — IPS / SNIPS and their
    // clip-1.5 truncated variants plus weight ESS, with per-(user-bucket)
    // empirical logging propensities. snips == ips certifies the exact
    // propensities (full-support identity, see ModelEval.ipsEval);
    // the clipped pair is the decision number.
    "q322_ips_eval" -> ((s, d) =>
      ModelEval.ipsEval(table(s, d, "events"), pmod(col("user_id"), lit(8)),
        "event_type", "value", ipsTargetPolicy, clip = 1.5)),

    // Uplift decile table + Qini curve over the synthetic randomized
    // assignment (treatment = user parity, declared): users ranked by
    // click-count targeting score into ten cumulative bins, per-bin
    // treated/control conversions, cumulative uplift, Qini y and the
    // discrete Qini coefficient. Randomized parity makes near-zero
    // uplift the EXPECTED reading (the null-honest audit, q313's SRM
    // spirit); the spec pins a real-uplift fixture. See
    // ModelEval.upliftQini.
    "q335_uplift_qini" -> ((s, d) => {
      // outcome = purchases outnumber views (scale-free ~50/50 split;
      // a has-any-purchase outcome saturates at 100% on this stream)
      val units = table(s, d, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("score"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("__np"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("__nv"))
      ModelEval.upliftQini(units.withColumn("conv",
          when(col("__np") > col("__nv"), 1L).otherwise(0L)),
        "score", pmod(col("user_id"), lit(2)) === 1, col("conv") === 1)
    }))

  /** The q284 oracle: q33's candidate CTEs + the pairwise candidate sims
    * + k unrolled greedy MMR rounds (each: max-sim-to-selected, score,
    * per-query argmax with id tie-break), mirroring Similarity.mmrRerank
    * round for round. */
  private def mmrSql(m: Int, k: Int): String = {
    val rounds = (2 to k).map { t =>
      s"""sc$t AS (
         |  SELECT c.query_id, c.cand, 0.5 * c.rel - 0.5 * mx.msim AS score
         |  FROM cand c
         |  JOIN (SELECT s.query_id, s.a AS cand, max(s.sim) AS msim
         |        FROM s JOIN acc${t - 1} z
         |          ON s.query_id = z.query_id AND s.b = z.cand
         |        GROUP BY 1, 2) mx
         |    ON c.query_id = mx.query_id AND c.cand = mx.cand
         |  WHERE NOT EXISTS (SELECT 1 FROM acc${t - 1} z2
         |    WHERE z2.query_id = c.query_id AND z2.cand = c.cand)),
         |acc$t AS (
         |  SELECT query_id, cand, score, mmr_rank FROM acc${t - 1}
         |  UNION ALL
         |  SELECT query_id, cand, score, $t AS mmr_rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, cand ASC) AS rn
         |    FROM sc$t) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
       |  FROM embeddings),
       |n AS (SELECT vec_id, emb,
       |    sqrt(list_reduce(list_transform(emb, x -> x*x), (a,x) -> a+x))
       |      AS nrm
       |  FROM e),
       |p AS (SELECT q.vec_id AS query_id, c.vec_id AS cand,
       |    list_reduce(list_transform(range(1, len(q.emb)+1),
       |      i -> q.emb[i]*c.emb[i]), (a,x) -> a+x) / (q.nrm * c.nrm)
       |      AS cos
       |  FROM n q, n c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
       |r AS (SELECT query_id, cand, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, cand ASC) AS rnk
       |  FROM p),
       |cand AS (SELECT query_id, cand, round(cos, 6) AS rel
       |  FROM r WHERE rnk <= $m),
       |ce AS (SELECT c.query_id, c.cand, n.emb, n.nrm
       |  FROM cand c JOIN n ON c.cand = n.vec_id),
       |s AS (SELECT x.query_id, x.cand AS a, y.cand AS b,
       |    round(list_reduce(list_transform(range(1, len(x.emb)+1),
       |      i -> x.emb[i]*y.emb[i]), (aa,xx) -> aa+xx)
       |      / (x.nrm * y.nrm), 6) AS sim
       |  FROM ce x JOIN ce y
       |    ON x.query_id = y.query_id AND x.cand <> y.cand),
       |acc1 AS (SELECT query_id, cand, rel AS score, 1 AS mmr_rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cand ASC) AS rn
       |    FROM cand) WHERE rn = 1),
       |$rounds
       |SELECT query_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
       |  cand AS neighbor_id, score
       |FROM acc$k""".stripMargin
  }

  /** q322's policy CASE, generated from the same Seq the query uses. */
  private def ipsPolicySql: String =
    ipsTargetPolicy.map { case (a, p) =>
      s"WHEN '$a' THEN '$p'::DOUBLE" }.mkString(" ") + " ELSE '0.0'::DOUBLE"

  val oracle: Map[String, String] = Map(
    // Mirrors ModelEval.upliftQini: per-user units, the score-grid ceil
    // binning, two grid cumulations, NULL-guarded ratios and the
    // floor-micro-quantized Qini-coefficient sum.
    "q335_uplift_qini" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
        |        ELSE 0 END)
        |      > sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      THEN 1 ELSE 0 END AS y,
        |    CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(t) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS cc
        |  FROM u GROUP BY v),
        |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM g),
        |b AS (
        |  SELECT g.*, CAST((sum(c) OVER (ORDER BY v DESC
        |      ROWS UNBOUNDED PRECEDING) * 10 + n1.n - 1) // n1.n
        |    AS BIGINT) AS bin
        |  FROM g, n1),
        |bb AS (
        |  SELECT bin, CAST(sum(c) AS BIGINT) AS bc,
        |    CAST(sum(nt) AS BIGINT) AS bnt,
        |    CAST(sum(ct) AS BIGINT) AS bct,
        |    CAST(sum(cc) AS BIGINT) AS bcc
        |  FROM b GROUP BY bin),
        |cm AS (
        |  SELECT bin,
        |    CAST(sum(bnt) OVER wc AS BIGINT) AS cum_n_t,
        |    CAST(sum(bc - bnt) OVER wc AS BIGINT) AS cum_n_c,
        |    CAST(sum(bct) OVER wc AS BIGINT) AS cum_conv_t,
        |    CAST(sum(bcc) OVER wc AS BIGINT) AS cum_conv_c
        |  FROM bb WINDOW wc AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
        |q AS (
        |  SELECT cm.*,
        |    CASE WHEN cum_n_c > 0 THEN CAST(cum_conv_t AS DOUBLE)
        |      - CAST(cum_conv_c AS DOUBLE) * CAST(cum_n_t AS DOUBLE)
        |        / CAST(cum_n_c AS DOUBLE) END AS qini_y,
        |    cum_n_t + cum_n_c AS cum_n
        |  FROM cm),
        |fin AS (SELECT qini_y AS qfin, cum_n AS nn FROM q
        |  ORDER BY bin DESC LIMIT 1),
        |cf AS (
        |  SELECT CAST(sum(CAST(floor((q.qini_y - fin.qfin
        |      * CAST(q.cum_n AS DOUBLE) / CAST(fin.nn AS DOUBLE)) * 1e6)
        |      AS BIGINT)) AS BIGINT) AS smu
        |  FROM q, fin)
        |SELECT q.bin, q.cum_n_t, q.cum_n_c, q.cum_conv_t, q.cum_conv_c,
        |  CASE WHEN q.cum_n_t > 0 AND q.cum_n_c > 0 THEN
        |    CAST(q.cum_conv_t AS DOUBLE) / CAST(q.cum_n_t AS DOUBLE)
        |    - CAST(q.cum_conv_c AS DOUBLE) / CAST(q.cum_n_c AS DOUBLE)
        |    END AS uplift_cum,
        |  q.qini_y,
        |  CAST(cf.smu AS DOUBLE) / CAST('1e7' AS DOUBLE) AS qini_coef
        |FROM q, cf""".stripMargin,


    // Mirrors ModelEval.ipsEval: cell-grid aggregate, exact DECIMAL
    // reward sums, identical (p1*nb)/c weight sequence, micro-quantized
    // cell terms, exact BIGINT totals into the same final divisions.
    "q322_ips_eval" ->
      s"""WITH cells AS (
         |  SELECT CAST(user_id % 8 AS BIGINT) AS ctx, event_type AS a,
         |    CAST(count(*) AS BIGINT) AS c,
         |    sum(CAST(value AS DECIMAL(12,2))) AS sv
         |  FROM events GROUP BY 1, 2),
         |nb AS (SELECT ctx, CAST(sum(c) AS BIGINT) AS nb
         |  FROM cells GROUP BY 1),
         |w AS (
         |  SELECT c, CAST(sv AS DOUBLE) AS svd,
         |    (CASE a $ipsPolicySql END)
         |      * CAST(nb.nb AS DOUBLE) / CAST(c AS DOUBLE) AS w
         |  FROM cells JOIN nb USING (ctx)),
         |m AS (SELECT c, w, least(w, '1.5'::DOUBLE) AS wc, svd FROM w),
         |t AS (
         |  SELECT c, w,
         |    CAST(round(w * svd * '1000000'::DOUBLE) AS BIGINT) AS num,
         |    CAST(round(wc * svd * '1000000'::DOUBLE) AS BIGINT) AS numc,
         |    CAST(round(w * CAST(c AS DOUBLE) * '1000000'::DOUBLE)
         |      AS BIGINT) AS den,
         |    CAST(round(wc * CAST(c AS DOUBLE) * '1000000'::DOUBLE)
         |      AS BIGINT) AS denc,
         |    CAST(round(w * w * CAST(c AS DOUBLE) * '1000000'::DOUBLE)
         |      AS BIGINT) AS den2
         |  FROM m),
         |g AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n,
         |    CAST(count(*) AS BIGINT) AS n_cells, max(w) AS w_max,
         |    CAST(sum(num) AS BIGINT) AS snum,
         |    CAST(sum(numc) AS BIGINT) AS snumc,
         |    CAST(sum(den) AS BIGINT) AS sden,
         |    CAST(sum(denc) AS BIGINT) AS sdenc,
         |    CAST(sum(den2) AS BIGINT) AS sden2
         |  FROM t)
         |SELECT n, n_cells, w_max,
         |  CAST(snum AS DOUBLE) / '1000000'::DOUBLE
         |    / CAST(n AS DOUBLE) AS ips,
         |  CAST(snum AS DOUBLE) / CAST(sden AS DOUBLE) AS snips,
         |  CAST(snumc AS DOUBLE) / '1000000'::DOUBLE
         |    / CAST(n AS DOUBLE) AS ips_clip,
         |  CAST(snumc AS DOUBLE) / CAST(sdenc AS DOUBLE) AS snips_clip,
         |  (CAST(sden AS DOUBLE) * CAST(sden AS DOUBLE))
         |    / ('1000000'::DOUBLE * CAST(sden2 AS DOUBLE)) AS ess
         |FROM g""".stripMargin,

    "q284_mmr_rerank" -> mmrSql(20, 5),

    // Mirrors ModelEval.splitConformal: q170-form fit on split 0,
    // quantile_cont == percentile on split 1's residuals, exact BIGINT
    // coverage on split 2; one shared residual operation order.
    "q293_split_conformal" ->
      """WITH b AS (
        |  SELECT doc_id % 3 AS s,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
        |    n_chars AS y
        |  FROM documents),
        |mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_train,
        |    sum(CAST(x AS DECIMAL(12,2))) AS sx,
        |    sum(CAST(y AS DECIMAL(12,2))) AS sy,
        |    sum(CAST(x AS DECIMAL(12,2)) * CAST(y AS DECIMAL(12,2)))
        |      AS sxy,
        |    sum(CAST(x AS DECIMAL(12,2)) * CAST(x AS DECIMAL(12,2)))
        |      AS sxx
        |  FROM b WHERE s = 0),
        |m1 AS (
        |  SELECT n_train,
        |    (CAST(n_train AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n_train AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        |    sx, sy
        |  FROM mom),
        |m2 AS (
        |  SELECT n_train, slope,
        |    (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |      / CAST(n_train AS DOUBLE) AS intercept
        |  FROM m1),
        |cal AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_cal,
        |    quantile_cont(abs(CAST(y AS DOUBLE)
        |      - (intercept + slope * CAST(x AS DOUBLE))), 0.9) AS q_hat
        |  FROM b, m2 WHERE s = 1),
        |tst AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN abs(CAST(y AS DOUBLE)
        |        - (intercept + slope * CAST(x AS DOUBLE))) <= q_hat
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cov
        |  FROM b, m2, cal WHERE s = 2)
        |SELECT m2.n_train, cal.n_cal, tst.n_test, m2.slope,
        |  m2.intercept, cal.q_hat,
        |  CAST(tst.cov AS DOUBLE) / CAST(tst.n_test AS DOUBLE)
        |    AS coverage,
        |  '0.9'::DOUBLE AS level
        |FROM m2, cal, tst""".stripMargin,

    "q263_ndcg" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |n AS (SELECT vec_id, emb,
        |    sqrt(list_reduce(list_transform(emb, x -> x*x), (a,x) -> a+x))
        |      AS nrm FROM e),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(range(1, len(q.emb)+1),
        |      i -> q.emb[i]*c.emb[i]), (a,x) -> a+x) / (q.nrm*c.nrm) AS cos
        |  FROM n q, n c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |k AS (SELECT query_id, neighbor_id, rnk FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |    FROM p) WHERE rnk <= 10),
        |rel AS (SELECT k.query_id, k.rnk,
        |    CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel
        |  FROM k JOIN embeddings ql ON ql.vec_id = k.query_id
        |    JOIN embeddings nl ON nl.vec_id = k.neighbor_id),
        |g AS (SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel,
        |    CAST(sum(rel * CAST(round(1e6 / log2(CAST(rnk AS DOUBLE) + 1.0))
        |      AS BIGINT)) AS BIGINT) AS dcg
        |  FROM rel GROUP BY 1)
        |SELECT query_id, n_rel,
        |  CASE WHEN n_rel = 0 THEN CAST(0.0 AS DOUBLE)
        |    ELSE round(CAST(dcg AS DOUBLE) / CAST(list_sum(list_transform(
        |      range(1, CAST(n_rel AS INT) + 1),
        |      i -> CAST(round(1e6 / log2(CAST(i AS DOUBLE) + 1.0))
        |        AS BIGINT))) AS DOUBLE), 6) END AS ndcg
        |FROM g""".stripMargin,

    "q241_auc" ->
      s"""WITH ${OracleSql.enRankGridCte("")},
        |a AS (
        |  SELECT CAST(sum(ca) AS BIGINT) AS n_pos,
        |    CAST(sum(cnt - ca) AS BIGINT) AS n_neg,
        |    CAST(sum(ca * (2 * below + cnt + 1)) AS BIGINT) AS r2a
        |  FROM c)
        |SELECT n_pos, n_neg,
        |  (CAST(r2a AS DOUBLE) / 2.0
        |    - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
        |  / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
        |FROM a""".stripMargin,

    "q242_pr_curve" ->
      """WITH grid AS (
        |  SELECT n_chars AS threshold, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM documents GROUP BY 1),
        |cum AS (
        |  SELECT threshold,
        |    CAST(sum(p) OVER (ORDER BY threshold DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |    CAST(sum(c) OVER (ORDER BY threshold DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp
        |  FROM grid),
        |tot AS (SELECT CAST(sum(p) AS BIGINT) AS pos FROM grid)
        |SELECT threshold, tp, pp - tp AS fp, pos - tp AS fn,
        |  CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE) AS "precision",
        |  CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE) AS recall,
        |  CASE WHEN CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE)
        |         + CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE) = 0.0 THEN 0.0
        |    ELSE 2.0 * (CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE))
        |           * (CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE))
        |         / (CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE)
        |           + CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE)) END AS f1
        |FROM cum CROSS JOIN tot""".stripMargin,

    "q243_gains_table" ->
      """WITH grid AS (
        |  SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(p) AS BIGINT) AS pos FROM grid),
        |cum AS (
        |  SELECT v, c, p,
        |    CAST(sum(c) OVER (ORDER BY v DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn
        |  FROM grid),
        |bb AS (SELECT (cn * 10 + n - 1) // n AS bin, c, p, n, pos
        |  FROM cum CROSS JOIN tot),
        |bins AS (SELECT bin, n, pos, CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(sum(p) AS BIGINT) AS n_pos
        |  FROM bb GROUP BY 1, 2, 3),
        |fin AS (
        |  SELECT bin, n_rows, n_pos, n, pos,
        |    CAST(sum(n_rows) OVER (ORDER BY bin ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cumn,
        |    CAST(sum(n_pos) OVER (ORDER BY bin ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cump
        |  FROM bins)
        |SELECT bin, n_rows, n_pos,
        |  CAST(cump AS DOUBLE) / CAST(pos AS DOUBLE) AS cum_capture,
        |  (CAST(cump AS DOUBLE) / CAST(cumn AS DOUBLE))
        |    / (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)) AS cum_lift
        |FROM fin""".stripMargin,

    "q244_psi" ->
      s"""WITH base AS (
         |  SELECT CASE WHEN source = '$psiA' THEN 1 ELSE 0 END AS a,
         |    CAST(n_chars AS BIGINT) AS v
         |  FROM documents WHERE source IN ('$psiA', '$psiB')),
         |bounds AS (SELECT CAST(min(v) AS BIGINT) AS mn,
         |    CAST(max(v) AS BIGINT) AS mx FROM base),
         |binned AS (
         |  SELECT ((v - mn) * $psiBins) // (mx - mn + 1) AS bin,
         |    CAST(sum(a) AS BIGINT) AS ca, CAST(sum(1 - a) AS BIGINT) AS cb
         |  FROM base CROSS JOIN bounds GROUP BY 1),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(cb) AS BIGINT) AS nb FROM binned),
         |terms AS (
         |  -- cross-products in HUGEINT (Spark: DECIMAL(38,0)) — they reach
         |  -- ~na*nb, which errors BIGINT past 2^63 (~3e9-row cohorts);
         |  -- value-neutral below that (same exact integers either way)
         |  SELECT bin, na, nb,
         |    CAST(ca + 1 AS HUGEINT) * (nb + $psiBins)
         |       - CAST(cb + 1 AS HUGEINT) * (na + $psiBins) AS num,
         |    CAST(round(ln(
         |      CAST(CAST(ca + 1 AS HUGEINT) * (nb + $psiBins) AS DOUBLE)
         |      / CAST(CAST(cb + 1 AS HUGEINT) * (na + $psiBins) AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS lr_mu
         |  FROM binned CROSS JOIN tot)
         |SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
         |  CAST(count(*) AS BIGINT) AS n_bins_hit,
         |  CAST(sum(num * lr_mu) AS DOUBLE)
         |    / CAST(CAST(max(na) + $psiBins AS HUGEINT) * (max(nb) + $psiBins) AS DOUBLE)
         |    / 1e6 AS psi
         |FROM terms""".stripMargin)
}
