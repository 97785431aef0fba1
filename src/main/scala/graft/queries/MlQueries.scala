package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.MlOps

/** Round-10 classical-ML batch: naive-Bayes source classification, one-pass
  * embedding covariance + PCA, rank normalization, RBO rank stability,
  * k-anonymity audit, closed-form 2-feature OLS, a TPC-H Q20-shaped nested
  * threshold semi-join, and a gaps-and-islands run profile.
  *
  * Oracle discipline unchanged: logs quantized to micro-nat BIGINTs per
  * TYPE, covariance/OLS numerators exact in DECIMAL(38,0), RBO as one
  * integer sum over a constant weight table — doubles only in final
  * same-order formulas.
  */
object MlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q194/q195 embedding dimensionality (the testdata tables are 64-dim). */
  private val embDim = 64

  /** q197 RBO depth. */
  private val rboK = 20

  /** q198 anonymity threshold. */
  private val anonK = 5

  /** q337 coreset size — small enough that the unrolled oracle stays
    * readable, large enough that the greedy's running-min update and
    * tie-breaking are exercised across 7 real rounds. */
  private val kcenterK = 8

  /** q213's PPJoin pair set, session-keyed like LlmQueries.ngramPairs
    * (the r12 verdict's other ≥4 s dedup heavy): the n=12 gram-set
    * inventory + prefix-filtered candidate join is the cost; what
    * persists is only the qualifying pair set. RoundThirteenOpsSpec
    * compares the cached pairs against a fresh `ppjoinPairs` build. */
  private[queries] val ppjoinPairsShared = SharedCache("ppjoin_pairs") {
    (s, d) =>
      graft.operators.TextDedup.ppjoinPairs(
        table(s, d, "documents"), "doc_id", "text", n = 12, threshold = 0.7)
  }

  val queries: Map[String, Q] = Map(

    // Pairwise linear-kernel MMD^2 between label groups' embedding
    // distributions: ||mu_a - mu_b||^2 from exact micro-quantized
    // per-(group, dim) sums — "did the encoder or corpus move between
    // slices", the embedding-space drift beside JS/KS/W1. See
    // Similarity.linearMmdDrift.
    "q307_embedding_mmd" -> ((s, d) =>
      graft.operators.Similarity.linearMmdDrift(
        table(s, d, "embeddings"), "label", "embedding")),

    // Cavnar-Trenkle trigram rank-profile language ID: top-20 gram
    // profiles per language, out-of-place distance, nearest-profile
    // classification -> confusion matrix — the classic n-gram LID
    // beside q30's stopword heuristic. See MlOps.ctLangIdConfusion.
    "q316_ct_langid" -> ((s, d) =>
      MlOps.ctLangIdConfusion(table(s, d, "documents"), "doc_id", "text",
        "lang", k = 20)),

    // Multinomial naive-Bayes source classifier (add-one smoothing), the
    // fastText-style domain/quality gate: train on even doc_ids, score odd,
    // output the confusion matrix. Model = three train-split aggregates;
    // scoring = token-keyed inverted-index join (never doc x vocab);
    // argmax per doc over a #class-bounded frame. See MlOps.naiveBayesConfusion.
    "q193_nb_source_confusion" -> ((s, d) =>
      MlOps.naiveBayesConfusion(
        table(s, d, "documents"), "doc_id", "text", "source")),

    // In-engine logistic-regression quality gate: 6 full-batch GD steps
    // against a deterministic linear teacher over integer text features,
    // sigmoid via a shared 321-entry literal LUT (zero libm in either
    // engine), exact BIGINT gradient micro-sums, sign-split half-up
    // weight updates. The TRAINED classifier beside q193's NB counter
    // and q319's vote ensemble; the oracle re-derives the whole training
    // loop in unrolled materialized CTEs. See MlOps.logisticTeacherGate.
    "q330_logistic_gate" -> ((s, d) =>
      MlOps.logisticTeacherGate(table(s, d, "documents"), "text")),

    // Probability-calibration audit of the q330 trained model: ten fixed
    // 0.1 reliability bins (n, positives, mean predicted vs observed
    // rate) + corpus ECE and Brier — exact BIGINT bin sums over the LUT
    // micro-probabilities, two fixed-order double divisions at the end.
    // See MlOps.logisticCalibration.
    "q332_model_calibration" -> ((s, d) =>
      MlOps.logisticCalibration(table(s, d, "documents"), "text")),

    // Isotonic (PAV) calibration map for the q330 model via the minimax
    // closed form — no sequential pooling loop, G²-bounded on the ≤321
    // LUT grid; monotone by construction. See MlOps.isotonicCalibration.
    "q336_isotonic_calibration" -> ((s, d) =>
      MlOps.isotonicCalibration(table(s, d, "documents"), "text")),

    // k-center greedy coreset (Gonzalez farthest-first): 8 spanning
    // exemplars over the embedding table — the diversity selection dual
    // to SemDeDup's redundancy removal (q142). Exact micro-unit BIGINT
    // distances, (dmin DESC, id ASC) argmax ties; the oracle unrolls the
    // same 8 greedy rounds in materialized CTEs. See
    // Similarity.kcenterCoreset.
    "q337_kcenter_coreset" -> ((s, d) =>
      graft.operators.Similarity.kcenterCoreset(
        table(s, d, "embeddings"), "vec_id", "embedding", k = kcenterK)),

    // Classifier-ensemble keep/drop gate over the NB test half: NB
    // source agreement (q193) + CT trigram LID agreement (q316) + bigram
    // LM cross-entropy band (q140's scorer), majority vote — the
    // model-driven gate beside the q114 rule funnel and q159 heuristic
    // rank ensemble. On THIS corpus the NB vote fails for every doc
    // (the 20 synthetic sources are stylistically identical, so no text
    // corroborates its provenance label) — which is the gate's point:
    // one dead signal must not decide alone, and majority voting keeps
    // the verdict on the other two. RoundThirteenOpsSpec pins each vote
    // flipping on a separable fixture. See MlOps.classifierEnsembleGate.
    "q319_classifier_gate" -> ((s, d) =>
      MlOps.classifierEnsembleGate(
        table(s, d, "documents"), "doc_id", "text", "lang", "source")),

    // Full 64x64 covariance matrix of the embedding table in ONE pass:
    // O(d^2) mergeable state per task (GramMatrixAgg) instead of the
    // n*d^2/2-row shuffle the declarative explode+self-join plan pays; the
    // d^2-row expansion joins the 1-row result against a constant index
    // table. Micro-unit quantized, DECIMAL(38,0)-exact numerators.
    "q194_embedding_covariance" -> ((s, d) =>
      MlOps.embeddingCovariance(
        table(s, d, "embeddings"), "embedding", embDim)),

    // Top principal component (power iteration on the d^2 constant-size
    // covariance — the documented 1-row-stats driver pattern), then every
    // vector's projection, top-50 by |projection|: the PCA outlier screen.
    // Eigenvectors are not SQL-expressible — rows-only gate + MlOpsSpec.
    "q195_pca_projection" -> ((s, d) =>
      MlOps.pcaProjection(
        table(s, d, "embeddings"), "vec_id", "embedding", embDim, k = 50)),

    // Per-source rank normalization of document length: percent_rank +
    // decile — the cross-source score-calibration step before mixing.
    // Ties share ranks (ORDER BY score only) so the result is engine- and
    // order-independent. See MlOps.rankNormalize.
    "q196_rank_normalize" -> ((s, d) =>
      MlOps.rankNormalize(
        table(s, d, "documents"), "source", "n_chars", "doc_id")),

    // Rank-biased overlap (p=1/2, depth 20) between ranking docs by
    // character count vs by token count per source — "does my ranking
    // survive a different score". Rankings via TopKAgg partial aggregation
    // (no sort windows over data); RBO as ONE integer sum against a
    // constant weight table, one double division at the end.
    "q197_rbo_rank_stability" -> ((s, d) =>
      MlOps.rboRankStability(
        table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            size(split(col("text"), " ")).cast("bigint").as("n_tokens")),
        "source", "n_chars", "n_tokens", "doc_id", rboK)),

    // k-anonymity audit of (market segment, nation, order year) as
    // quasi-identifiers over customer x orders: group count, groups below
    // k=5, rows those groups expose. One QI-keyed aggregate + one
    // constant-size roll-up.
    "q198_k_anonymity" -> ((s, d) =>
      MlOps.kAnonymityProfile(
        table(s, d, "orders")
          .join(table(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("c_nationkey"),
            year(col("o_orderdate")).as("o_year")),
        Seq("c_mktsegment", "c_nationkey", "o_year"), anonK)),

    // l-diversity over the SAME quasi-identifiers with order priority as
    // the sensitive attribute — the homogeneity-attack audit q198's size
    // counts cannot see: a big group whose every order is 1-URGENT still
    // leaks. Output: the l-histogram. See MlOps.lDiversityProfile.
    "q269_l_diversity" -> ((s, d) =>
      MlOps.lDiversityProfile(
        table(s, d, "orders")
          .join(table(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("c_nationkey"),
            year(col("o_orderdate")).as("o_year"), col("o_orderpriority")),
        Seq("c_mktsegment", "c_nationkey", "o_year"), "o_orderpriority")),

    // ε-DP noisy customer census per (segment, nation) — the Laplace
    // release leg of the privacy family (q198 size, q269 homogeneity):
    // deterministic inverse-CDF noise from the shared md5 uniform,
    // micro-unit quantized. See MlOps.dpNoisyCounts.
    "q286_dp_noisy_counts" -> ((s, d) =>
      MlOps.dpNoisyCounts(table(s, d, "customer"),
        Seq("c_mktsegment", "c_nationkey"), epsilon = 0.5)),

    // t-closeness over the SAME quasi-identifiers and sensitive
    // attribute as q269 — the skewness-attack audit l-diversity misses
    // (a large, diverse group that is 90% one priority still leaks):
    // exact-integer EMD between each group's priority distribution and
    // the global one over the ordered value grid, flag at t > 0.2.
    // Completes the k (size) / l (count) / t (distribution) triad. See
    // MlOps.tClosenessProfile.
    "q372_t_closeness" -> ((s, d) =>
      MlOps.tClosenessProfile(
        table(s, d, "orders")
          .join(table(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("c_nationkey"),
            year(col("o_orderdate")).cast("bigint").as("o_year"),
            col("o_orderpriority")),
        Seq("c_mktsegment", "c_nationkey", "o_year"), "o_orderpriority")),

    // Closed-form two-feature OLS with intercept: n_chars ~ b0 +
    // b1*n_tokens + b2*n_distinct_tokens over documents. Nine exact BIGINT
    // moment sums in one pass, Cramer determinants in DECIMAL(38,0),
    // doubles only in the three final divisions. See MlOps.ols2.
    "q199_ols2_length_model" -> ((s, d) =>
      MlOps.ols2(
        table(s, d, "documents"),
        size(split(col("text"), " ")),
        size(array_distinct(split(col("text"), " "))),
        col("n_chars"))),

    // TPC-H Q20-shaped nested threshold semi-join: suppliers for whom 1996
    // shipments of blue-named parts exceed half their all-time shipments of
    // that part. One (suppkey, partkey)-keyed conditional aggregate, an
    // exact-decimal threshold filter on the SHRUNK table, then the supplier
    // join — the fact table is scanned once and never self-joined.
    "q200_threshold_part_suppliers" -> ((s, d) => {
      import graft.operators.Relational.dec
      val base = table(s, d, "lineitem")
        .join(table(s, d, "part").where(col("p_name").like("%blue%"))
          .select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(
          sum(when(year(col("l_shipdate")) === 1996, dec(col("l_quantity")))
            .otherwise(dec(lit(0)))).as("q96"),
          sum(dec(col("l_quantity"))).as("qall"))
        .where(col("q96") * 2 > col("qall"))
      base.join(table(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name")).agg(count(lit(1)).as("n_parts"))
    }),

    // Gaps-and-islands run profile: maximal runs of equal event_type per
    // user (ordered by ts, event_id), rolled up per type — n_runs, longest,
    // mean length. Per-user lag + running-sum windows (key-bounded, never
    // global), then two shrinking keyed aggregates.
    "q201_event_runs" -> ((s, d) =>
      MlOps.runProfile(
        table(s, d, "events"), "user_id", "event_type",
        Seq(col("ts"), col("event_id")))),

    // HyperLogLog distinct tokens per source: constant 4 KB register
    // buffer per (group, task), element-wise-max merge — the dense-register
    // complement to KMV (q77), exact-integer harmonic sum so the raw
    // estimator is bit-reproducible in SQL. exact_distinct rides along for
    // calibration. See functions/HllAgg.
    "q202_hll_distinct" -> ((s, d) =>
      graft.operators.Sketches.hllDistinct(
        table(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("token")),
        Seq("source"), "token", p = 12)),

    // Token communities by deterministic synchronous label propagation over
    // the top-100-token adjacency graph (3 rounds, largest incident weight
    // wins, ties to the smallest label): the topic-structure probe on the
    // corpus's Zipf-bounded co-occurrence graph. The oracle replays all
    // three rounds as unrolled CTEs (the q181 PageRank discipline).
    "q203_token_communities" -> ((s, d) =>
      graft.operators.Graphs.tokenCommunities(
        table(s, d, "documents"), "text", topV = 100, iters = 3,
        minW = 30L)),

    // Effective rank (participation ratio) of the embedding covariance:
    // (Σλ)²/Σλ² via the trace identities tr(C) and ‖C‖²_F — no
    // eigendecomposition, one covariance pass; both reductions are fixed-
    // order left folds over the (i,j)-sorted entries, never an unordered
    // double SUM. The representation-collapse diagnostic.
    "q204_effective_rank" -> ((s, d) =>
      MlOps.effectiveRank(table(s, d, "embeddings"), "embedding", embDim)),

    // Schema-driven column profiler over lineitem: per column null count,
    // exact distinct, numeric min/max view (timestamps as epoch seconds) —
    // ONE wide aggregate + stack pivot, never a scan per column. The
    // data-quality census; documented hllDistinct swap at true scale.
    "q205_column_profile" -> ((s, d) =>
      graft.operators.Relational.columnProfile(table(s, d, "lineitem"))),

    // The Expand-free scale form of q205: same one-pass nulls/min/max,
    // per-column distincts from mergeable HllAgg sketches over canonical
    // string hashes instead of the 11-way count(DISTINCT) Expand — the
    // profiler a 100 TB census actually runs; q205's exact counts stay
    // beside it as the calibration truth. See
    // Relational.columnProfileSketch.
    "q320_profile_sketch" -> ((s, d) =>
      graft.operators.Relational.columnProfileSketch(
        table(s, d, "lineitem"))),

    // Theil–Sen robust slope of each event type's daily volume trend: the
    // median of all pairwise day-slopes, selected by explicit rank (never
    // engine percentile interpolation). The outlier-resistant counterpart
    // to the q170 OLS trend.
    "q206_theil_sen" -> ((s, d) =>
      graft.operators.Stats.theilSen(
        table(s, d, "events")
          .groupBy(col("event_type"),
            unix_date(to_date(col("ts"))).as("day"))
          .agg(count(lit(1)).as("n")),
        "event_type", "day", "n")),

    // Token-weighted median document length per source: smallest value
    // whose cumulative weight reaches half the total — all-integer
    // arithmetic, one per-key sort window. The size-what-you-train-on view
    // (a long doc counts by its tokens, not once).
    "q207_weighted_median" -> ((s, d) =>
      graft.operators.Stats.weightedMedian(
        table(s, d, "documents")
          .select(col("source"), col("n_chars"),
            size(split(col("text"), " ")).cast("bigint").as("w")),
        "source", "n_chars", "w")),

    // CDC snapshot diff: classify every doc key as added / removed /
    // changed / unchanged between the corpus and a deterministically
    // mutated next-load version (drop %17, retext %10, insert 25) — one
    // full-outer join on the key with null-safe md5 row fingerprints,
    // linear in both snapshots. See Relational.snapshotDiff.
    "q208_snapshot_diff" -> ((s, d) => {
      val old = table(s, d, "documents")
      graft.operators.Relational.snapshotDiff(
        old, mutatedDocs(old), Seq("doc_id"))
    }),

    // CDC changeset apply (DataFrame-level MERGE): upserts replace-or-
    // insert by key (keep-latest dedup over a union), deletes anti-join —
    // two single-shuffle keyed passes, then a per-source census of the
    // merged state. The spec proves merged == the directly-built next
    // snapshot row-for-row. See Relational.applyChanges.
    "q209_changeset_apply" -> ((s, d) => {
      val old = table(s, d, "documents")
      val upserts = old
        .where(pmod(col("doc_id"), lit(10)) === 0 &&
          pmod(col("doc_id"), lit(17)) =!= 0)
        .withColumn("text", concat(col("text"), lit(" v2")))
        .unionByName(old.where(col("doc_id") < 25)
          .withColumn("doc_id", col("doc_id") + 100000))
        .withColumn("__op", lit("upsert"))
      val deletes = old.where(pmod(col("doc_id"), lit(17)) === 0)
        .withColumn("__op", lit("delete"))
      graft.operators.Relational.applyChanges(
          old, upserts.unionByName(deletes), "__op", Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // Morton/Z-order clustering key over (partkey, suppkey): the
    // multi-dimensional layout key whose sort keeps file min-max stats
    // tight on BOTH columns (ScaleSpec measures the file-skipping win of
    // the companion zorderWrite). Top-20 by z — pure bit arithmetic,
    // TakeOrderedAndProject.
    "q210_zorder_key" -> ((s, d) =>
      graft.operators.Relational.topK(
        table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"),
            graft.operators.Scale.zValue(
              col("l_partkey"), col("l_suppkey")).as("zval")),
        20, col("zval").asc, col("l_orderkey").asc, col("l_linenumber").asc)),

    // Pairwise Pearson correlation matrix over the four lineitem measures
    // in ONE pass: all 14 moment sums in a single wide exact-decimal
    // aggregate, per-pair formula in fixed-order doubles (the q59 pattern,
    // generalized to C(4,2) pairs without rescanning).
    "q211_corr_matrix" -> ((s, d) =>
      graft.operators.Stats.corrMatrix(
        table(s, d, "lineitem"), corrCols)),

    // PPJoin prefix-filtered similarity join at the HIGH threshold the
    // algorithm is built for (t=0.7 -> 30% prefixes; prefix size scales as
    // (1-t)|d|, so candidate volume falls quadratically as t rises —
    // LSH/q75 own the low-t regime, PPJoin the high-t exact regime): each
    // doc's L rarest grams are a LOSSLESS candidate filter, tightened by
    // the classical length + positional filters. The oracle computes ALL
    // qualifying pairs brute-force, so a hash match certifies the filters
    // lose nothing (unlike the df-capped q75 scheme's documented blind
    // spot).
    "q213_ppjoin_pairs" -> ((s, d) => ppjoinPairsShared(s, d)),

    // One-way ANOVA F across sources on document length — the k-sample
    // sibling of q179's Welch t-test: exact BIGINT moment sums; the
    // between-groups term folds LEFT over the group-sorted list (the q204
    // fixed-order discipline), doubles only in final same-order formulas.
    "q214_anova_f" -> ((s, d) =>
      graft.operators.Stats.anovaF(
        table(s, d, "documents"), "source", "n_chars")),

    // Token-weighted p90 document length per source: the q207 weighted
    // median generalized to an arbitrary rational quantile — den*cum >=
    // num*tot stays all-integer, no doubles anywhere.
    "q215_weighted_p90" -> ((s, d) =>
      graft.operators.Stats.weightedQuantile(
        table(s, d, "documents")
          .select(col("source"), col("n_chars"),
            size(split(col("text"), " ")).cast("bigint").as("w")),
        "source", "n_chars", "w", num = 9, den = 10)),

    // Recursive hierarchy traversal (the engine's WITH RECURSIVE): BFS
    // depth assignment over the deterministic binary-heap tree parent =
    // (id-1) div 2, one edge-keyed join per LEVEL with checkpointed
    // frontiers — O(depth) rounds, never a self-join explosion. Census of
    // nodes per depth; the oracle runs the native recursive CTE.
    "q212_tree_depth" -> ((s, d) => {
      val nodes = table(s, d, "documents").select(col("doc_id"))
      graft.operators.Graphs.treeDepths(
          nodes.where(col("doc_id") > 0)
            .select(col("doc_id").as("child"),
              expr("(doc_id - 1) div 2").as("parent")),
          "child", "parent",
          nodes.where(col("doc_id") === 0), "doc_id")
        .groupBy(col("depth")).agg(count(lit(1)).as("n_nodes"))
    })
  )

  /** q211's profiled measure columns. */
  private val corrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** The deterministic "next load" both CDC queries diff/merge against:
    * drop doc_id % 17, append ' v2' to text for doc_id % 10, insert 25
    * re-keyed clones. */
  private[queries] def mutatedDocs(old: DataFrame): DataFrame =
    old.where(pmod(col("doc_id"), lit(17)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(10)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(old.where(col("doc_id") < 25)
        .withColumn("doc_id", col("doc_id") + 100000))

  /** q194's oracle SELECT — also the covariance CTE q204 folds over. */
  private val covSql: String =
    """WITH q AS (SELECT vec_id,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS i,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS v
      |  FROM embeddings),
      |s AS (SELECT i, CAST(sum(v) AS BIGINT) AS si FROM q GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM embeddings),
      |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS sxy
      |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2)
      |SELECT p.i AS dim_i, p.j AS dim_j,
      |  CAST(CAST(CAST(n.n AS DECIMAL(10,0)) * CAST(p.sxy AS DECIMAL(19,0))
      |      - CAST(sa.si AS DECIMAL(15,0)) * CAST(sb.si AS DECIMAL(15,0))
      |      AS DECIMAL(38,0)) AS DOUBLE)
      |    / CAST(n.n AS DOUBLE) / CAST(n.n AS DOUBLE) / 1e12 AS cov
      |FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j
      |CROSS JOIN n""".stripMargin

  /** The three unrolled label-propagation rounds of q203's oracle. */
  private def lpaRounds(iters: Int): String =
    (1 to iters).map { k =>
      val prev = s"l${k - 1}"
      s"""g$k AS (SELECT s.a AS node, l.community, sum(s.w) AS sw
         |  FROM sym s JOIN $prev l ON l.node = s.b GROUP BY 1, 2),
         |b$k AS (SELECT node, community FROM (
         |  SELECT node, community, row_number() OVER (PARTITION BY node
         |    ORDER BY sw DESC, community ASC) AS rn FROM g$k) WHERE rn = 1),
         |l$k AS (SELECT n.node, coalesce(b.community, n.node) AS community
         |  FROM nodes n LEFT JOIN b$k b USING (node))""".stripMargin
    }.mkString(",\n")

  /** q205's profiled columns with their numeric-view kind; the oracle is
    * generated from this list so it can never drift from the schema. */
  private val liProfile: Seq[(String, String)] = Seq(
    ("l_orderkey", "num"), ("l_partkey", "num"), ("l_suppkey", "num"),
    ("l_linenumber", "num"), ("l_quantity", "num"), ("l_extendedprice", "num"),
    ("l_discount", "num"), ("l_tax", "num"), ("l_returnflag", "str"),
    ("l_linestatus", "str"), ("l_shipdate", "ts"))

  /** SQL twin of Relational's numView: a profiled column's min/max view. */
  private def numView(c: String, kind: String): String = kind match {
    case "num" => s"CAST($c AS DOUBLE)"
    case "ts" => s"CAST(CAST(epoch($c) AS BIGINT) AS DOUBLE)"
    case _ => "CAST(NULL AS DOUBLE)"
  }

  /** Each profiled column's exact null count and min/max view aggregates,
    * with `extra(c)` after the null count. */
  private def liProfileAggs(extra: String => String): String =
    liProfile.map { case (c, k) =>
      s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nu_$c,${extra(c)}
         |    min(${numView(c, k)}) AS mn_$c, max(${numView(c, k)}) AS mx_$c"""
        .stripMargin
    }.mkString(",\n    ")

  private def liProfileOracle: String = {
    val aggs = liProfileAggs(c => s"\n    count(DISTINCT $c) AS nd_$c,")
    val rows = liProfile.map { case (c, _) =>
      s"SELECT '$c' AS column_name, n_rows, nu_$c AS n_null," +
        s" nd_$c AS n_distinct, mn_$c AS min_num, mx_$c AS max_num FROM w"
    }.mkString("\nUNION ALL\n")
    s"""WITH w AS (SELECT count(*) AS n_rows,
       |    $aggs
       |  FROM lineitem)
       |$rows""".stripMargin
  }

  /** SQL twin of Relational.columnProfileSketch over lineitem: per column
    * the canonical-string hash60 (nulls -> key 0), the full 2^12 register
    * pipeline from the q202 HLL oracle, raw-Flajolet + linear-counting
    * estimate, exact nulls/min/max beside it. */
  private def liProfileSketchOracle: String = {
    // canonical string form per column kind (doubles via DECIMAL(18,2) —
    // the lineitem doubles are currency/ratio columns, exact at 2dp)
    def canon(c: String, kind: String): String = kind match {
      case "dbl" => s"CAST(CAST($c AS DECIMAL(18,2)) AS VARCHAR)"
      case "ts" => s"CAST(CAST(epoch($c) AS BIGINT) AS VARCHAR)"
      case "str" => c
      case _ => s"CAST($c AS VARCHAR)"
    }
    val kinds = Map("l_quantity" -> "dbl", "l_extendedprice" -> "dbl",
      "l_discount" -> "dbl", "l_tax" -> "dbl")
    val perCol = liProfile.map { case (c, k) =>
      val h = ScaleQueries.duckHash60(canon(c, kinds.getOrElse(c, k)))
      s"""hh_$c AS (SELECT DISTINCT coalesce($h, 0) AS h FROM lineitem),
         |r_$c AS (SELECT CAST(h >> 48 AS INTEGER) AS idx,
         |    max(CASE WHEN (h & ((1::BIGINT << 48) - 1)) = 0 THEN 49
         |        ELSE 48 - length(bin(h & ((1::BIGINT << 48) - 1))) + 1 END)
         |      AS mj
         |  FROM hh_$c GROUP BY 1),
         |reg_$c AS (SELECT coalesce(r_$c.mj, 0) AS mj
         |  FROM range(0, 4096) g LEFT JOIN r_$c ON r_$c.idx = g.range),
         |sm_$c AS (SELECT sum(1::HUGEINT << (62 - mj)) AS hs,
         |    sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS v0 FROM reg_$c),
         |est_$c AS (SELECT CAST(floor(CASE
         |    WHEN (0.7213 / (1 + 1.079 / 4096.0)) * 4096.0 * 4096.0
         |        * CAST(1::BIGINT << 62 AS DOUBLE) / CAST(hs AS DOUBLE)
         |      <= 2.5 * 4096.0 AND v0 > 0
         |    THEN 4096.0 * ln(4096.0 / CAST(v0 AS DOUBLE))
         |    ELSE (0.7213 / (1 + 1.079 / 4096.0)) * 4096.0 * 4096.0
         |        * CAST(1::BIGINT << 62 AS DOUBLE) / CAST(hs AS DOUBLE)
         |    END) AS BIGINT) AS nd FROM sm_$c)"""
        .stripMargin
    }.mkString(",\n")
    val aggs = liProfileAggs(_ => "")
    val rows = liProfile.map { case (c, _) =>
      s"SELECT '$c' AS column_name, n_rows, nu_$c AS n_null," +
        s" est_$c.nd AS hll_distinct, mn_$c AS min_num, mx_$c AS max_num" +
        s" FROM w, est_$c"
    }.mkString("\nUNION ALL\n")
    s"""WITH $perCol,
       |w AS (SELECT count(*) AS n_rows,
       |    $aggs
       |  FROM lineitem)
       |$rows""".stripMargin
  }

  /** SQL twin of [[mutatedDocs]], shared by the q208/q209 oracles. */
  private[queries] val newtSql: String =
    """SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END AS text,
      |    lang, source, n_chars
      |  FROM documents WHERE doc_id % 17 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000, text, lang, source, n_chars
      |  FROM documents WHERE doc_id < 25""".stripMargin

  /** SQL twin of Relational.rowHash over the documents value columns. */
  private[queries] val docHashSql: String =
    "md5(concat_ws(chr(1), coalesce(CAST(text AS VARCHAR), chr(0))," +
      " coalesce(CAST(lang AS VARCHAR), chr(0))," +
      " coalesce(CAST(source AS VARCHAR), chr(0))," +
      " coalesce(CAST(n_chars AS VARCHAR), chr(0))))"

  /** SQL twin of Scale.zValue: the unrolled 2·16-term Morton interleave. */
  private def zValueSql(x: String, y: String): String =
    (0 until 16).map { i =>
      s"(((($x & 65535) >> $i) & 1) << ${2 * i})" +
        s" | (((($y & 65535) >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")

  /** q211 oracle: the q59 exact-corr formula per pair, sums shared. */
  private def corrMatrixOracle: String = {
    def dc(c: String) = s"CAST($c AS DECIMAL(12,2))"
    // decimal -> double through VARCHAR — see OracleSql.decToDouble for
    // the double-rounding rationale (shared; use it in any oracle whose
    // exact sums can pass 2^53 unscaled).
    def dd(x: String) = OracleSql.decToDouble(x)
    val sums =
      corrCols.map(c => s"sum(${dc(c)}) AS s_$c") ++
        corrCols.map(c => s"sum(${dc(c)} * ${dc(c)}) AS q_$c") ++
        (for { i <- corrCols.indices; j <- i + 1 until corrCols.size }
          yield s"sum(${dc(corrCols(i))} * ${dc(corrCols(j))})" +
            s" AS p_${corrCols(i)}__${corrCols(j)}")
    val rows = (for { i <- corrCols.indices; j <- i + 1 until corrCols.size }
      yield {
        val (a, b) = (corrCols(i), corrCols(j))
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  (CAST(n AS DOUBLE) * ${dd(s"p_${a}__$b")}
           |     - ${dd(s"s_$a")} * ${dd(s"s_$b")})
           |  / (sqrt(CAST(n AS DOUBLE) * ${dd(s"q_$a")}
           |       - ${dd(s"s_$a")} * ${dd(s"s_$a")})
           |     * sqrt(CAST(n AS DOUBLE) * ${dd(s"q_$b")}
           |       - ${dd(s"s_$b")} * ${dd(s"s_$b")})) AS corr
           |FROM c""".stripMargin
      }).mkString("\nUNION ALL\n")
    s"""WITH c AS (SELECT count(*) AS n,
       |    ${sums.mkString(",\n    ")}
       |  FROM lineitem)
       |$rows""".stripMargin
  }

  private def rboWeightValues: String = {
    val (ws, _) = MlOps.rboWeights(rboK)
    ws.map { case (m, w) => s"($m, $w)" }.mkString(", ")
  }
  private def rboDenom: Long = MlOps.rboWeights(rboK)._2

  /** Unrolled-CTE mirror of MlOps.logisticTeacherGate: the full GD loop
    * re-derived in DuckDB from the same integer constants and the same
    * literal sigmoid LUT. Every CTE is MATERIALIZED — weight CTEs are
    * referenced by the next step's scoring AND the final projection, and
    * DuckDB re-executes non-materialized CTEs multiplicatively (the q326
    * HITS lesson). Pass k scores under w_{k-1}; step k's output row pairs
    * w_k with pass k+1's eval counts, exactly like the Spark loop. */
  /** The LUT-sigmoid scoring expression under weight CTE alias `w` —
    * shared by every training pass and by q332's calibration scoring. */
  private def logisticSigSql: String = {
    val z = "w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 + w.w4*f.x4"
    s"l[CAST((2*(least(greatest($z, -8000000), 8000000)" +
      s" + 8000000) + 50000) // 100000 AS BIGINT) + 1]"
  }

  /** The WITH-chain shared by q330 and q332: lut/features/cnt/w0, then per
    * training step the gradient+eval CTE and the weight-update CTE;
    * `withEval` appends the extra pass that evaluates w_steps (q330 needs
    * it for the last trace row; q332 scores w_steps itself). Returned
    * WITHOUT a final SELECT so each query attaches its own. */
  private def logisticPrefixSql(steps: Int, lrNum: Long, lrDen: Long,
                                withEval: Boolean): String = {
    val lut = MlOps.SigmoidLutMicros.mkString("[", ", ", "]")
    def gCte(k: Int) = {
      val sums = (0 to 4).map(j =>
        s"CAST(sum((sig - y*1000000) * x$j) AS BIGINT) AS g$j")
        .mkString(",\n      ")
      s"""g$k AS MATERIALIZED (
         |  SELECT $sums,
         |      CAST(sum(CASE WHEN sig >= 500000 THEN 1 ELSE 0 END)
         |        AS BIGINT) AS np,
         |      CAST(sum(CASE WHEN (CASE WHEN sig >= 500000 THEN 1 ELSE 0
         |        END) = y THEN 1 ELSE 0 END) AS BIGINT) AS nc
         |  FROM (SELECT f.y, f.x0, f.x1, f.x2, f.x3, f.x4,
         |          $logisticSigSql AS sig
         |        FROM f, w${k - 1} w, lut))""".stripMargin
    }
    def wCte(k: Int) = {
      val upd = (0 to 4).map { j =>
        s"""CAST(w.w$j - (CASE WHEN g.g$j >= 0
           |    THEN (2*$lrNum*g.g$j + $lrDen*c.n) // (2*$lrDen*c.n)
           |    ELSE -((2*$lrNum*(-g.g$j) + $lrDen*c.n)
           |      // (2*$lrDen*c.n)) END) AS BIGINT) AS w$j""".stripMargin
      }.mkString(",\n    ")
      s"""w$k AS MATERIALIZED (
         |  SELECT $upd
         |  FROM w${k - 1} w, g$k g, cnt c)""".stripMargin
    }
    val stepCtes = (1 to steps).map(k => gCte(k) + ",\n" + wCte(k)) ++
      (if (withEval) Seq(gCte(steps + 1)) else Nil)
    s"""WITH lut AS MATERIALIZED (SELECT $lut::BIGINT[] AS l),
       |base AS (
       |  SELECT len(split(text, ' ')) AS nt,
       |    len(list_distinct(split(text, ' '))) AS dt,
       |    len(list_filter(split(text, ' '), t -> t = 'scan')) AS sc,
       |    len(list_filter(split(text, ' '), t -> t = 'join')) AS jn
       |  FROM documents),
       |f AS MATERIALIZED (
       |  SELECT CAST(1 AS BIGINT) AS x0,
       |    CAST(CASE WHEN nt - 54 >= 0 THEN (2*(nt-54) + 8) // 16
       |      ELSE -((2*(54-nt) + 8) // 16) END AS BIGINT) AS x1,
       |    CAST(sc AS BIGINT) AS x2, CAST(jn AS BIGINT) AS x3,
       |    CAST(CASE WHEN dt - 23 >= 0 THEN (2*(dt-23) + 4) // 8
       |      ELSE -((2*(23-dt) + 4) // 8) END AS BIGINT) AS x4,
       |    CAST(CASE WHEN 2*nt + 120*sc + 90*jn > 482 THEN 1 ELSE 0 END
       |      AS BIGINT) AS y
       |  FROM base),
       |cnt AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
       |w0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS w0,
       |  CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2,
       |  CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS w4),
       |${stepCtes.mkString(",\n")}""".stripMargin
  }

  private def logisticGateSql(steps: Int, lrNum: Long, lrDen: Long): String = {
    val rows = (1 to steps).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS step,
         |  CAST(w.w0 AS DOUBLE)/1e6 AS w_bias,
         |  CAST(w.w1 AS DOUBLE)/1e6 AS w_tokens,
         |  CAST(w.w2 AS DOUBLE)/1e6 AS w_scan,
         |  CAST(w.w3 AS DOUBLE)/1e6 AS w_join,
         |  CAST(w.w4 AS DOUBLE)/1e6 AS w_distinct,
         |  g.np AS n_pred_pos, g.nc AS n_correct
         |FROM w$k w, g${k + 1} g""".stripMargin)
      .mkString("\nUNION ALL\n")
    logisticPrefixSql(steps, lrNum, lrDen, withEval = true) + "\n" + rows
  }

  /** Mirrors MlOps.logisticCalibration: the q330 chain through w_steps,
    * then one LUT scoring pass, ten fixed 0.1 bins (micro-integer floor
    * division, 1.0 clamped into bin 9), exact BIGINT bin sums, and the
    * two fixed-order double divisions for each reported rate. */
  private def logisticCalibrationSql(steps: Int, lrNum: Long, lrDen: Long)
  : String = {
    logisticPrefixSql(steps, lrNum, lrDen, withEval = false) +
      s""",
         |sc AS MATERIALIZED (
         |  SELECT sig, y, CAST(least(sig // 100000, 9) AS BIGINT) AS bin
         |  FROM (SELECT f.y, $logisticSigSql AS sig
         |        FROM f, w$steps w, lut)),
         |bt AS MATERIALIZED (
         |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(sig) AS BIGINT) AS sum_pred,
         |    CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM sc GROUP BY bin),
         |gl AS MATERIALIZED (
         |  SELECT CAST(sum(abs(n_pos*1000000 - sum_pred)) AS BIGINT) AS s,
         |    CAST(sum(n) AS BIGINT) AS nn
         |  FROM bt),
         |br AS MATERIALIZED (
         |  SELECT CAST(sum((sig - y*1000000)*(sig - y*1000000)) AS BIGINT)
         |      AS b
         |  FROM sc)
         |SELECT bin, n, n_pos,
         |  CAST(sum_pred AS DOUBLE)/1e6/CAST(n AS DOUBLE) AS mean_pred,
         |  CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE) AS obs_rate,
         |  CAST(s AS DOUBLE)/1e6/CAST(nn AS DOUBLE) AS ece,
         |  CAST(b AS DOUBLE)/1e12/CAST(nn AS DOUBLE) AS brier
         |FROM bt, gl, br""".stripMargin
  }

  /** Mirrors MlOps.isotonicCalibration: the shared chain through
    * w_steps, one scoring pass, the occupied-sigmoid grid with prefix
    * sums, the G² interval-mean table, per-i suffix-min window and the
    * grouped max — the same minimax PAV closed form. */
  private def isotonicSql(steps: Int, lrNum: Long, lrDen: Long): String =
    logisticPrefixSql(steps, lrNum, lrDen, withEval = false) +
      s""",
         |sc2 AS MATERIALIZED (
         |  SELECT sig, y FROM (SELECT f.y, $logisticSigSql AS sig
         |    FROM f, w$steps w, lut)),
         |gg AS MATERIALIZED (
         |  SELECT sig, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS p
         |  FROM sc2 GROUP BY sig),
         |cc AS MATERIALIZED (
         |  SELECT sig, n, p,
         |    CAST(row_number() OVER (ORDER BY sig) AS BIGINT) AS r,
         |    CAST(sum(n) OVER (ORDER BY sig ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS cn,
         |    CAST(sum(p) OVER (ORDER BY sig ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) AS cp
         |  FROM gg),
         |aij AS (
         |  SELECT lo.r AS i, hi.r AS j,
         |    CAST(hi.cp - (lo.cp - lo.p) AS DOUBLE)
         |      / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS a
         |  FROM cc lo JOIN cc hi ON lo.r <= hi.r),
         |sm2 AS (
         |  SELECT i, j, min(a) OVER (PARTITION BY i ORDER BY j DESC
         |    ROWS UNBOUNDED PRECEDING) AS sm
         |  FROM aij),
         |io AS (SELECT j, max(sm) AS iso FROM sm2 GROUP BY j)
         |SELECT cc.sig AS sig_micro, cc.n, cc.p AS n_pos,
         |  CAST(cc.sig AS DOUBLE)/1e6 AS raw, io.iso
         |FROM cc JOIN io ON cc.r = io.j""".stripMargin

  /** Mirrors [[graft.operators.Similarity.kcenterCoreset]]: the same k
    * greedy rounds unrolled — seed = min id, then per round the
    * (dmin DESC, id ASC) argmax and a least() running-min update against
    * the pick's vector. Every CTE referenced more than once is
    * MATERIALIZED (DuckDB re-executes plain CTEs multiplicatively — the
    * q326 lesson); distances are the identical micro-unit BIGINT folds. */
  private def kcenterSql(k: Int): String = {
    def dist(a: String, b: String) =
      s"""CAST(list_reduce(list_transform(range(1, len($a.xmu) + 1),
         |      i -> ($a.xmu[i] - $b.xmu[i]) * ($a.xmu[i] - $b.xmu[i])),
         |    (acc, v) -> acc + v) AS BIGINT)""".stripMargin
    val rounds = (2 to k).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT id, xmu, dmin FROM d${r - 1}
         |  ORDER BY dmin DESC, id ASC LIMIT 1),
         |d$r AS MATERIALIZED (
         |  SELECT m.id, m.xmu,
         |    least(m.dmin, ${dist("m", "s")}) AS dmin
         |  FROM d${r - 1} m, s$r s WHERE m.id <> s.id)""".stripMargin
    }.mkString(",\n")
    val sel = (2 to k).map(r =>
      s"SELECT $r AS rnk, id AS center_id, dmin AS sel_dist_mu2 FROM s$r")
      .mkString("\n  UNION ALL ")
    s"""WITH mu AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(round(x * 1e6) AS BIGINT)) AS xmu
       |  FROM embeddings),
       |c1 AS MATERIALIZED (SELECT id, xmu FROM mu ORDER BY id ASC LIMIT 1),
       |d1 AS MATERIALIZED (
       |  SELECT m.id, m.xmu, ${dist("m", "c")} AS dmin
       |  FROM mu m, c1 c WHERE m.id <> c.id),
       |$rounds,
       |fr AS (SELECT coalesce(max(dmin), CAST(0 AS BIGINT))
       |    AS final_radius_mu2 FROM d$k),
       |sel AS (
       |  SELECT 1 AS rnk, id AS center_id, CAST(0 AS BIGINT) AS sel_dist_mu2
       |  FROM c1
       |  UNION ALL $sel)
       |SELECT CAST(sel.rnk AS BIGINT) AS rnk, sel.center_id,
       |  CAST(sel.sel_dist_mu2 AS BIGINT) AS sel_dist_mu2,
       |  fr.final_radius_mu2
       |FROM sel, fr""".stripMargin
  }

  /** The q193 multinomial naive-Bayes source classifier (no WITH):
    * add-one token likelihoods trained on even doc_ids, integer micro-nat
    * log-prior + likelihood scores for every odd doc and class, ranked as
    * `pick(doc_id, actual, mcls, rn)` (score DESC, mcls ASC). */
  /** q207/q215: per source the cumulative word-count weight `cum` of
    * each doc in n_chars order (`c`) and the total weight `tw` (`tot`) —
    * Stats.weightedQuantile's window and total join. */
  private val weightedCumCte =
    """t AS (SELECT source, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w
      |  FROM documents),
      |c AS (SELECT source, n_chars, w,
      |    sum(w) OVER (PARTITION BY source ORDER BY n_chars ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t),
      |tot AS (SELECT source, sum(w) AS tw FROM t GROUP BY 1)"""

  private val nbPickCte =
    """tok AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |train AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
      |cnt AS (SELECT source AS mcls, token, count(*) AS c
      |  FROM train GROUP BY 1, 2),
      |tot AS (SELECT mcls, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
      |pri AS (SELECT source AS mcls, count(*) AS nd
      |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
      |gl AS (SELECT (SELECT count(DISTINCT token) FROM cnt) AS v,
      |  (SELECT count(*) FROM documents WHERE doc_id % 2 = 0) AS td),
      |classes AS (SELECT t.mcls, t.tot, p.nd, g.v, g.td
      |  FROM tot t JOIN pri p ON t.mcls = p.mcls CROSS JOIN gl g),
      |ttf AS (SELECT doc_id, source AS actual, token, count(*) AS tf
      |  FROM tok WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
      |ttfv AS (SELECT * FROM ttf
      |  WHERE token IN (SELECT DISTINCT token FROM cnt)),
      |lik AS (SELECT t.doc_id, t.actual, cl.mcls,
      |    sum(t.tf * CAST(round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
      |      / CAST(cl.tot + cl.v AS DOUBLE)) * 1e6) AS BIGINT)) AS lk
      |  FROM ttfv t CROSS JOIN classes cl
      |  LEFT JOIN cnt c ON c.mcls = cl.mcls AND c.token = t.token
      |  GROUP BY 1, 2, 3),
      |base AS (SELECT dd.doc_id, dd.source AS actual, cl.mcls,
      |    CAST(round(ln(CAST(cl.nd AS DOUBLE) / CAST(cl.td AS DOUBLE)) * 1e6)
      |      AS BIGINT) AS prior
      |  FROM documents dd CROSS JOIN classes cl WHERE dd.doc_id % 2 = 1),
      |sc AS (SELECT b.doc_id, b.actual, b.mcls,
      |    b.prior + coalesce(l.lk, 0) AS score
      |  FROM base b LEFT JOIN lik l
      |    ON l.doc_id = b.doc_id AND l.mcls = b.mcls),
      |pick AS (SELECT doc_id, actual, mcls,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, mcls ASC) AS rn
      |  FROM sc)""".stripMargin

  /** The q316 Cavnar-Trenkle language-ID distances (no WITH): char
    * trigram rank profiles (count DESC, gram ASC, top 20) per language
    * and per doc, and the out-of-place `dist(doc_id, cand, dist)` with the
    * k=20 penalty. */
  private val ctLangIdCte =
    """g AS (
      |  SELECT doc_id, lang, u.g AS g
      |  FROM (SELECT doc_id, lang,
      |      [substr(text, i, 3) for i in range(1, length(text) - 1)]
      |        AS gs
      |    FROM documents WHERE length(text) >= 3) t,
      |    unnest(gs) AS u(g)),
      |dc AS (SELECT doc_id, lang, g, CAST(count(*) AS BIGINT) AS c
      |  FROM g GROUP BY 1, 2, 3),
      |lp AS (SELECT lang AS pl, g, rnk FROM (
      |  SELECT lang, g, CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY sum(c) DESC, g ASC) AS BIGINT) AS rnk
      |  FROM dc GROUP BY lang, g) WHERE rnk <= 20),
      |dp AS (SELECT doc_id, g, rnk FROM (
      |  SELECT doc_id, g, CAST(row_number() OVER (PARTITION BY doc_id
      |      ORDER BY c DESC, g ASC) AS BIGINT) AS rnk
      |  FROM dc) WHERE rnk <= 20),
      |langs AS (SELECT DISTINCT lang AS cand FROM documents),
      |dist AS (
      |  SELECT dp.doc_id, langs.cand,
      |    CAST(sum(coalesce(abs(dp.rnk - lp.rnk), 20)) AS BIGINT)
      |      AS dist
      |  FROM dp CROSS JOIN langs
      |  LEFT JOIN lp ON lp.pl = langs.cand AND lp.g = dp.g
      |  GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q332_model_calibration" -> logisticCalibrationSql(6, 3, 2),
    "q336_isotonic_calibration" -> isotonicSql(6, 3, 2),
    "q330_logistic_gate" -> logisticGateSql(6, 3, 2),
    "q337_kcenter_coreset" -> kcenterSql(8),


    // Mirrors MlOps.ctLangIdConfusion: identical (count DESC, gram ASC)
    // rank windows, out-of-place distance with the k=20 penalty, ties to
    // the lexicographically first language.
    "q316_ct_langid" ->
      s"""WITH $ctLangIdCte,
        |pred AS (SELECT doc_id, cand AS predicted FROM (
        |  SELECT doc_id, cand, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY dist ASC, cand ASC) AS rn
        |  FROM dist) WHERE rn = 1)
        |SELECT d.lang, p.predicted, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        |GROUP BY 1, 2""".stripMargin,

    // Mirrors Similarity.linearMmdDrift: the q194 component
    // quantization, exact per-(group, dim) BIGINT sums, then the
    // per-(pair, dim) mean difference re-quantized to micro-unit
    // BIGINTs (one IEEE division + round — deterministic in both
    // engines) so the squared sum stays exact at any group size; no
    // s*n cross-product, no n^2*n^2 quartic (Long-overflow-prone past
    // ~55k vectors per group).
    "q307_embedding_mmd" ->
      """WITH comp AS (
        |  SELECT label AS g,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS d,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
        |      AS c
        |  FROM embeddings),
        |m AS (SELECT g, d, CAST(sum(c) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM comp GROUP BY 1, 2),
        |pr AS (
        |  SELECT a.g AS label_a, b.g AS label_b, a.n AS n_a, b.n AS n_b,
        |    CAST(round(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
        |             - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
        |      AS BIGINT) AS md
        |  FROM m a JOIN m b ON a.d = b.d AND a.g < b.g)
        |SELECT label_a, label_b, n_a, n_b,
        |  CAST(sum(md * md) AS DOUBLE) / 1e12 AS mmd2
        |FROM pr GROUP BY 1, 2, 3, 4""".stripMargin,

    "q193_nb_source_confusion" ->
      s"""WITH $nbPickCte
        |SELECT actual, mcls AS predicted, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pick WHERE rn = 1 GROUP BY 1, 2""".stripMargin,

    // Mirrors MlOps.classifierEnsembleGate: the q193 NB pipeline to its
    // per-doc argmax, the q316 CT-LID pipeline to its per-doc argmin, the
    // q140 bigram-LM scorer to its 6-dp per-doc xent, composed by doc_id
    // left-joins with the same coalesce(false) missing-evidence rule.
    "q319_classifier_gate" ->
      s"""WITH $nbPickCte,
        |nbp AS (SELECT doc_id, (mcls = actual) AS source_ok
        |  FROM pick WHERE rn = 1),
        |$ctLangIdCte,
        |lidp AS (SELECT doc_id, cand AS predicted FROM (
        |  SELECT doc_id, cand, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY dist ASC, cand ASC) AS rn
        |  FROM dist) WHERE rn = 1),
        |${OracleSql.addOneLmCte},
        |xsc AS (${OracleSql.bigramXentSql}),
        |gate AS (
        |  SELECT d.doc_id, nbp.source_ok, x.xent,
        |    coalesce(lidp.predicted = d.lang, false) AS lang_ok,
        |    coalesce(x.xent >= CAST(3.0 AS DOUBLE)
        |      AND x.xent <= CAST(3.6 AS DOUBLE), false) AS lm_ok
        |  FROM documents d
        |  JOIN nbp ON nbp.doc_id = d.doc_id
        |  LEFT JOIN lidp ON lidp.doc_id = d.doc_id
        |  LEFT JOIN xsc x ON x.doc_id = d.doc_id
        |  WHERE d.doc_id % 2 = 1)
        |SELECT doc_id, source_ok, xent, lang_ok, lm_ok,
        |  CAST(CAST(source_ok AS INT) + CAST(lang_ok AS INT)
        |    + CAST(lm_ok AS INT) AS BIGINT) AS votes,
        |  (CAST(source_ok AS INT) + CAST(lang_ok AS INT)
        |    + CAST(lm_ok AS INT) >= 2) AS keep
        |FROM gate""".stripMargin,

    "q194_embedding_covariance" -> covSql,

    // Mirrors MlOps.dpNoisyCounts µ for µ: same md5 uniform, same
    // inverse-CDF operation order, round(1e6·x) absorbing sub-µ libm ln
    // differences (the q101 discipline).
    "q286_dp_noisy_counts" -> {
      val u = "(CAST(" + ScaleQueries.duckHash60(
        "concat_ws('#', 'dp', c_mktsegment, CAST(c_nationkey AS VARCHAR))") +
        " AS DOUBLE) + 0.5) / CAST(1152921504606846976 AS DOUBLE)"
      s"""WITH c AS (
         |  SELECT c_mktsegment, c_nationkey,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM customer GROUP BY 1, 2),
         |u AS (SELECT *, $u AS uu FROM c),
         |z AS (SELECT *, CAST(round(1e6 * (CAST(-2.0 AS DOUBLE)
         |    * sign(uu - 0.5)
         |    * ln(greatest(1e-12, 1.0 - 2.0 * abs(uu - 0.5)))))
         |    AS BIGINT) AS noise_mu
         |  FROM u)
         |SELECT c_mktsegment, c_nationkey, n, noise_mu,
         |  CAST(n * 1000000 + noise_mu AS DOUBLE) / 1e6 AS n_noisy,
         |  CAST(0.5 AS DOUBLE) AS epsilon
         |FROM z""".stripMargin
    },

    // q195_pca_projection: the EIGENVECTOR is not SQL-derivable, but the
    // projection step is SQL-expressible once the component is a constant —
    // so its oracle is DYNAMIC (oracleDynamic below, r10 verdict item 4):
    // Verify embeds the Spark-computed component as DOUBLE literals at dump
    // time and DuckDB hash-gates the projections + top-k like any other
    // query. MlOpsSpec still carries the eigen-alignment semantics.

    "q196_rank_normalize" ->
      """SELECT doc_id, source, n_chars,
        |  percent_rank() OVER w AS pctl,
        |  CAST(least(floor(percent_rank() OVER w * 10), 9) AS INTEGER)
        |    AS decile
        |FROM documents
        |WINDOW w AS (PARTITION BY source ORDER BY n_chars ASC)""".stripMargin,

    "q197_rbo_rank_stability" ->
      s"""WITH f AS (SELECT doc_id, source, n_chars,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r1 AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
         |    ORDER BY n_chars DESC, doc_id ASC) AS r FROM f),
         |r2 AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
         |    ORDER BY n_tokens DESC, doc_id ASC) AS r FROM f),
         |w(m, wt) AS (VALUES $rboWeightValues),
         |j AS (SELECT r1.source, greatest(r1.r, r2.r) AS m
         |  FROM r1 JOIN r2 ON r1.source = r2.source AND r1.doc_id = r2.doc_id
         |  WHERE r1.r <= $rboK AND r2.r <= $rboK)
         |SELECT j.source, CAST(sum(w.wt) AS DOUBLE) / CAST($rboDenom AS DOUBLE)
         |  AS rbo
         |FROM j JOIN w ON w.m = j.m GROUP BY 1""".stripMargin,

    "q198_k_anonymity" ->
      s"""WITH qi AS (SELECT c.c_mktsegment, c.c_nationkey,
         |    year(o.o_orderdate) AS o_year, count(*) AS sz
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         |  GROUP BY 1, 2, 3)
         |SELECT CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(CASE WHEN sz < $anonK THEN 1 ELSE 0 END) AS BIGINT)
         |    AS small_groups,
         |  CAST(sum(CASE WHEN sz < $anonK THEN sz ELSE 0 END) AS BIGINT)
         |    AS rows_at_risk,
         |  CAST(min(sz) AS BIGINT) AS min_group,
         |  CAST(max(sz) AS BIGINT) AS max_group
         |FROM qi""".stripMargin,

    "q269_l_diversity" ->
      """WITH qi AS (SELECT c.c_mktsegment, c.c_nationkey,
        |    year(o.o_orderdate) AS o_year,
        |    CAST(count(*) AS BIGINT) AS sz,
        |    CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2, 3)
        |SELECT l, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(sz) AS BIGINT) AS n_rows,
        |  CAST(min(sz) AS BIGINT) AS min_group,
        |  CAST(max(sz) AS BIGINT) AS max_group
        |FROM qi GROUP BY 1""".stripMargin,

    // Mirrors MlOps.tClosenessProfile: groups x ordered value grid,
    // zeros filled, cumulative cross-multiplied integer EMD, HUGEINT-
    // widened half-up 6-dp t, micro-unit threshold flag.
    "q372_t_closeness" ->
      """WITH base AS (SELECT c.c_mktsegment, c.c_nationkey,
        |    year(o.o_orderdate) AS o_year, o.o_orderpriority AS v
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |gv AS (SELECT c_mktsegment, c_nationkey, o_year, v,
        |    CAST(count(*) AS BIGINT) AS gc
        |  FROM base GROUP BY 1, 2, 3, 4),
        |gsz AS (SELECT c_mktsegment, c_nationkey, o_year,
        |    CAST(sum(gc) AS BIGINT) AS group_sz
        |  FROM gv GROUP BY 1, 2, 3),
        |tv AS (SELECT v, CAST(count(*) AS BIGINT) AS tc
        |  FROM base GROUP BY 1),
        |mt AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(tc) AS BIGINT) AS tot FROM tv),
        |gr AS (SELECT g.c_mktsegment, g.c_nationkey, g.o_year, g.group_sz,
        |    tv.v, tv.tc, coalesce(gv.gc, 0) AS gc0
        |  FROM gsz g CROSS JOIN tv
        |  LEFT JOIN gv ON gv.c_mktsegment = g.c_mktsegment
        |    AND gv.c_nationkey = g.c_nationkey
        |    AND gv.o_year = g.o_year AND gv.v = tv.v),
        |cum AS (SELECT c_mktsegment, c_nationkey, o_year, group_sz,
        |    CAST(sum(gc0) OVER (PARTITION BY c_mktsegment, c_nationkey,
        |      o_year ORDER BY v) AS BIGINT) AS cgc,
        |    CAST(sum(tc) OVER (PARTITION BY c_mktsegment, c_nationkey,
        |      o_year ORDER BY v) AS BIGINT) AS ctc
        |  FROM gr),
        |sm AS (SELECT c_mktsegment, c_nationkey, o_year, group_sz,
        |    sum(abs(CAST(cgc AS HUGEINT) * (SELECT tot FROM mt)
        |          - CAST(ctc AS HUGEINT) * group_sz)) AS s
        |  FROM cum GROUP BY 1, 2, 3, 4),
        |tt AS (SELECT c_mktsegment, c_nationkey, o_year, group_sz,
        |    CAST(CASE WHEN mt.m <= 1 THEN 0 ELSE
        |     (2 * s * 1000000
        |      + CAST(group_sz AS HUGEINT) * mt.tot * (mt.m - 1))
        |     // (2 * CAST(group_sz AS HUGEINT) * mt.tot * (mt.m - 1))
        |     END AS BIGINT) AS t_mu
        |  FROM sm, mt)
        |SELECT c_mktsegment, c_nationkey, o_year, group_sz,
        |  CAST(t_mu AS DOUBLE) / 1e6 AS t,
        |  t_mu * 5 > 1000000 AS above_t
        |FROM tt""".stripMargin,

    "q199_ols2_length_model" ->
      """WITH m AS (SELECT
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x1,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS x2,
        |    n_chars AS y
        |  FROM documents),
        |su AS (SELECT count(*) AS n,
        |    CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
        |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
        |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
        |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
        |    CAST(sum(x2 * y) AS BIGINT) AS s2y
        |  FROM m)
        |SELECT n,
        |  CAST((CAST(sy AS HUGEINT) * (CAST(s11 AS HUGEINT) * CAST(s22 AS HUGEINT) - CAST(s12 AS HUGEINT) * CAST(s12 AS HUGEINT))
        |    - CAST(sx1 AS HUGEINT) * (CAST(s1y AS HUGEINT) * CAST(s22 AS HUGEINT) - CAST(s12 AS HUGEINT) * CAST(s2y AS HUGEINT))
        |    + CAST(sx2 AS HUGEINT) * (CAST(s1y AS HUGEINT) * CAST(s12 AS HUGEINT) - CAST(s11 AS HUGEINT) * CAST(s2y AS HUGEINT))) AS DOUBLE)
        |  / CAST((CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * CAST(s22 AS HUGEINT) - CAST(s12 AS HUGEINT) * CAST(s12 AS HUGEINT))
        |    - CAST(sx1 AS HUGEINT) * (CAST(sx1 AS HUGEINT) * CAST(s22 AS HUGEINT) - CAST(s12 AS HUGEINT) * CAST(sx2 AS HUGEINT))
        |    + CAST(sx2 AS HUGEINT) * (CAST(sx1 AS HUGEINT) * CAST(s12 AS HUGEINT) - CAST(s11 AS HUGEINT) * CAST(sx2 AS HUGEINT))) AS DOUBLE) AS b0,
        |  CAST((CAST(n AS HUGEINT) * (CAST(s1y AS HUGEINT) * CAST(s22 AS HUGEINT) - CAST(s12 AS HUGEINT) * CAST(s2y AS HUGEINT))
        |    - CAST(sy AS HUGEINT) * (CAST(sx1 AS HUGEINT) * CAST(s22 AS HUGEINT) - CAST(s12 AS HUGEINT) * CAST(sx2 AS HUGEINT))
        |    + CAST(sx2 AS HUGEINT) * (CAST(sx1 AS HUGEINT) * CAST(s2y AS HUGEINT) - CAST(s1y AS HUGEINT) * CAST(sx2 AS HUGEINT))) AS DOUBLE)
        |  / CAST((CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * CAST(s22 AS HUGEINT) - CAST(s12 AS HUGEINT) * CAST(s12 AS HUGEINT))
        |    - CAST(sx1 AS HUGEINT) * (CAST(sx1 AS HUGEINT) * CAST(s22 AS HUGEINT) - CAST(s12 AS HUGEINT) * CAST(sx2 AS HUGEINT))
        |    + CAST(sx2 AS HUGEINT) * (CAST(sx1 AS HUGEINT) * CAST(s12 AS HUGEINT) - CAST(s11 AS HUGEINT) * CAST(sx2 AS HUGEINT))) AS DOUBLE) AS b1,
        |  CAST((CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * CAST(s2y AS HUGEINT) - CAST(s1y AS HUGEINT) * CAST(s12 AS HUGEINT))
        |    - CAST(sx1 AS HUGEINT) * (CAST(sx1 AS HUGEINT) * CAST(s2y AS HUGEINT) - CAST(s1y AS HUGEINT) * CAST(sx2 AS HUGEINT))
        |    + CAST(sy AS HUGEINT) * (CAST(sx1 AS HUGEINT) * CAST(s12 AS HUGEINT) - CAST(s11 AS HUGEINT) * CAST(sx2 AS HUGEINT))) AS DOUBLE)
        |  / CAST((CAST(n AS HUGEINT) * (CAST(s11 AS HUGEINT) * CAST(s22 AS HUGEINT) - CAST(s12 AS HUGEINT) * CAST(s12 AS HUGEINT))
        |    - CAST(sx1 AS HUGEINT) * (CAST(sx1 AS HUGEINT) * CAST(s22 AS HUGEINT) - CAST(s12 AS HUGEINT) * CAST(sx2 AS HUGEINT))
        |    + CAST(sx2 AS HUGEINT) * (CAST(sx1 AS HUGEINT) * CAST(s12 AS HUGEINT) - CAST(s11 AS HUGEINT) * CAST(sx2 AS HUGEINT))) AS DOUBLE) AS b2
        |FROM su""".stripMargin,

    "q200_threshold_part_suppliers" ->
      """WITH base AS (SELECT l.l_suppkey, l.l_partkey,
        |    sum(CASE WHEN year(l.l_shipdate) = 1996
        |      THEN CAST(l.l_quantity AS DECIMAL(12,2))
        |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS q96,
        |    sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS qall
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE p.p_name LIKE '%blue%'
        |  GROUP BY 1, 2)
        |SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_parts
        |FROM base JOIN supplier s ON base.l_suppkey = s.s_suppkey
        |WHERE q96 * 2 > qall
        |GROUP BY 1""".stripMargin,

    "q202_hll_distinct" -> {
      val h = ScaleQueries.duckHash60("token")
      s"""WITH tok AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |hv AS (SELECT DISTINCT source, token FROM tok),
         |hh AS (SELECT source, $h AS h FROM hv),
         |b AS (SELECT source, CAST(h >> 48 AS INTEGER) AS idx,
         |    h & ((1::BIGINT << 48) - 1) AS rest FROM hh),
         |r AS (SELECT source, idx,
         |    max(CASE WHEN rest = 0 THEN 49
         |        ELSE 48 - length(bin(rest)) + 1 END) AS mj
         |  FROM b GROUP BY 1, 2),
         |grid AS (SELECT s.source, g.range AS i
         |  FROM (SELECT DISTINCT source FROM documents) s
         |  CROSS JOIN range(0, 4096) g),
         |reg AS (SELECT grid.source, coalesce(r.mj, 0) AS mj
         |  FROM grid LEFT JOIN r ON r.source = grid.source AND r.idx = grid.i),
         |sm AS (SELECT source, sum(1::HUGEINT << (62 - mj)) AS hs,
         |    sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS v0
         |  FROM reg GROUP BY 1),
         |raw AS (SELECT source, v0,
         |    (0.7213 / (1 + 1.079 / 4096.0)) * 4096.0 * 4096.0
         |      * CAST(1::BIGINT << 62 AS DOUBLE) / CAST(hs AS DOUBLE) AS r
         |  FROM sm),
         |ex AS (SELECT source, count(DISTINCT token) AS exact_distinct
         |  FROM tok GROUP BY 1)
         |SELECT raw.source,
         |  CAST(floor(CASE WHEN r <= 2.5 * 4096.0 AND v0 > 0
         |    THEN 4096.0 * ln(4096.0 / CAST(v0 AS DOUBLE))
         |    ELSE r END) AS BIGINT) AS hll_distinct,
         |  ex.exact_distinct
         |FROM raw JOIN ex USING (source)""".stripMargin
    },

    "q203_token_communities" ->
      s"""WITH tt AS (SELECT string_split(text, ' ') AS t FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |tok AS (SELECT unnest(t) AS token FROM tt),
         |top AS (SELECT token FROM (
         |  SELECT token, count(*) AS c FROM tok WHERE token <> ''
         |  GROUP BY 1 ORDER BY c DESC, token ASC LIMIT 100)),
         |pr0 AS (SELECT unnest(
         |    [struct_pack(a := t[i], b := t[i+1]) for i in range(1, len(t))],
         |    recursive := true) FROM tt),
         |pe AS (SELECT a AS src, b AS dst, count(*) AS w FROM pr0
         |  WHERE a <> '' AND b <> '' AND a <> b
         |    AND a IN (SELECT token FROM top)
         |    AND b IN (SELECT token FROM top)
         |  GROUP BY 1, 2 HAVING count(*) >= 30),
         |sym AS (SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
         |    SELECT src AS a, dst AS b, w FROM pe
         |    UNION ALL SELECT dst AS a, src AS b, w FROM pe)
         |  GROUP BY 1, 2),
         |nodes AS (SELECT DISTINCT a AS node FROM sym),
         |l0 AS (SELECT node, node AS community FROM nodes),
         |${lpaRounds(3)}
         |SELECT community, CAST(count(*) AS BIGINT) AS n_tokens
         |FROM l3 GROUP BY 1""".stripMargin,

    "q204_effective_rank" ->
      s"""WITH cov AS (
         |$covSql),
         |l AS (SELECT list(struct_pack(dim_i := dim_i, dim_j := dim_j,
         |    cov := cov) ORDER BY dim_i, dim_j) AS l FROM cov)
         |SELECT n_dims, trace, frob, (trace * trace) / frob AS eff_rank
         |FROM (SELECT CAST(64 AS INTEGER) AS n_dims,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(l,
         |    s -> CASE WHEN s.dim_i = s.dim_j THEN s.cov
         |         ELSE CAST(0 AS DOUBLE) END)), (a, x) -> a + x) AS trace,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(l,
         |    s -> CASE WHEN s.dim_i = s.dim_j THEN s.cov * s.cov
         |         ELSE (s.cov * s.cov) + (s.cov * s.cov) END)),
         |    (a, x) -> a + x) AS frob
         |  FROM l)""".stripMargin,

    "q205_column_profile" -> liProfileOracle,
    "q320_profile_sketch" -> liProfileSketchOracle,

    "q210_zorder_key" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(${zValueSql("l_partkey", "l_suppkey")} AS BIGINT) AS zval
         |FROM lineitem
         |ORDER BY zval ASC, l_orderkey ASC, l_linenumber ASC
         |LIMIT 20""".stripMargin,

    "q211_corr_matrix" -> corrMatrixOracle,

    "q213_ppjoin_pairs" ->
      """WITH sets AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 12)
        |      for i in range(1, length(text) - 10)]) AS gs
        |  FROM documents WHERE length(text) >= 12)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))
        |    AS jaccard
        |FROM sets a JOIN sets b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        |    / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.7
        |""".stripMargin,

    "q214_anova_f" ->
      """WITH g AS (SELECT source, count(*) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS s,
        |    CAST(sum(n_chars * n_chars) AS BIGINT) AS q
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(s) AS BIGINT) AS ts, CAST(sum(q) AS BIGINT) AS tq,
        |    list(struct_pack(g := source,
        |      t := CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |      ORDER BY source) AS l
        |  FROM g),
        |f AS (SELECT k, n,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(l, s -> s.t)), (a, x) -> a + x)
        |      - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS ss_between,
        |    CAST(tq AS DOUBLE)
        |      - list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(l, s -> s.t)), (a, x) -> a + x) AS ss_within
        |  FROM t)
        |SELECT k, n, ss_between, ss_within,
        |  (ss_between / (CAST(k AS DOUBLE) - 1.0))
        |    / (ss_within / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))) AS f_stat
        |FROM f""".stripMargin,

    "q215_weighted_p90" ->
      s"""WITH $weightedCumCte
        |SELECT c.source, CAST(min(c.n_chars) AS BIGINT) AS w_quantile
        |FROM c JOIN tot ON c.source = tot.source
        |WHERE c.cum * 10 >= tot.tw * 9
        |GROUP BY 1""".stripMargin,

    "q212_tree_depth" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id AS node, 0 AS depth FROM documents WHERE doc_id = 0
        |  UNION ALL
        |  SELECT d.doc_id, t.depth + 1
        |  FROM documents d JOIN t ON (d.doc_id - 1) // 2 = t.node
        |  WHERE d.doc_id > 0)
        |SELECT CAST(depth AS BIGINT) AS depth,
        |  CAST(count(*) AS BIGINT) AS n_nodes
        |FROM t GROUP BY 1""".stripMargin,

    "q208_snapshot_diff" ->
      s"""WITH newt AS (
         |$newtSql),
         |ho AS (SELECT doc_id, $docHashSql AS h FROM documents),
         |hn AS (SELECT doc_id, $docHashSql AS h FROM newt),
         |j AS (SELECT ho.h AS ho, hn.h AS hn
         |  FROM ho FULL OUTER JOIN hn USING (doc_id))
         |SELECT CASE WHEN ho IS NULL THEN 'added'
         |    WHEN hn IS NULL THEN 'removed'
         |    WHEN ho <> hn THEN 'changed'
         |    ELSE 'unchanged' END AS change_type,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM j GROUP BY 1""".stripMargin,

    "q209_changeset_apply" ->
      s"""WITH newt AS (
         |$newtSql)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM newt GROUP BY 1""".stripMargin,

    "q206_theil_sen" ->
      """WITH daily AS (SELECT event_type,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |pairs AS (SELECT a.event_type,
        |    CAST(b.n - a.n AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS s,
        |    a.day AS x1, b.day AS x2
        |  FROM daily a JOIN daily b ON a.event_type = b.event_type
        |    AND a.day < b.day),
        |ranked AS (SELECT event_type, s,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY s ASC, x1 ASC, x2 ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM pairs)
        |SELECT event_type, CAST(max(cnt) AS BIGINT) AS n_pairs,
        |  sum(s) / CAST(count(*) AS DOUBLE) AS ts_slope
        |FROM ranked
        |WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
        |GROUP BY 1""".stripMargin,

    "q207_weighted_median" ->
      s"""WITH $weightedCumCte
        |SELECT c.source, CAST(min(c.n_chars) AS BIGINT) AS w_median
        |FROM c JOIN tot ON c.source = tot.source
        |WHERE c.cum * 2 >= tot.tw
        |GROUP BY 1""".stripMargin,

    "q201_event_runs" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (SELECT user_id, event_type,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS run
        |  FROM o),
        |runs AS (SELECT user_id, event_type, run, count(*) AS len
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(max(len) AS BIGINT) AS max_len,
        |  CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_len
        |FROM runs GROUP BY 1""".stripMargin
  )

  /** Oracles whose SQL embeds a Spark-computed CONSTANT the oracle engine
    * cannot derive itself. Verify evaluates these at dump time against the
    * same sfDir the queries run on, so the dumped oracle_sql.json stays
    * fully static SQL for DuckDB.
    *
    * q195: power iteration is not SQL-expressible, but the projection IS
    * once the component is a literal — the dynamic oracle feeds DuckDB the
    * exact eigenvector doubles (shortest-roundtrip `Double.toString`
    * literals parse back to identical bits) and recomputes projection +
    * top-k independently. Two measured DuckDB pitfalls dictate the SQL
    * shape: (1) the sum is spelled as an EXPLICIT left-associated addition
    * chain (t1 + t2 + … + t64), forcing the same FP operation order as
    * `dot_d`'s `acc += x(i)*y(i)` fold — `list_reduce` is NOT a strict
    * sequential fold (9/50 top-k rows off by 1 ULP); (2) each component
    * constant rides in as a STRING cast to DOUBLE — DuckDB parses bare
    * numeric literals as DECIMAL first, and DECIMAL→DOUBLE is not
    * correctly-rounded strtod (first term already 1 ULP off). */
  val oracleDynamic: Map[String, (SparkSession, String) => String] = Map(
    "q195_pca_projection" -> ((s, d) => {
      val comp = MlOps.pcaTopComponent(
        table(s, d, "embeddings"), "embedding", embDim)
      val chain = comp.zipWithIndex.map { case (c, i) =>
        s"embedding[${i + 1}]::DOUBLE * '${java.lang.Double.toString(c)}'::DOUBLE"
      }.mkString("\n    + ")
      s"""SELECT vec_id, proj FROM (
         |  SELECT vec_id, $chain AS proj
         |  FROM embeddings)
         |ORDER BY abs(proj) DESC, vec_id ASC LIMIT 50""".stripMargin
    }))
}
