package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the quality-filtering
  * primitive behind CCNet-style pipelines: train a smoothed bigram model on
  * the corpus itself, score every document by its per-token cross-entropy,
  * and keep/drop/bucket documents by that score. Unusually fluent text
  * (boilerplate, lorem-ipsum spam) and unusually disfluent text (garbled
  * extraction) both land in the tails.
  *
  * Plan (all shuffles keyed, nothing corpus x corpus):
  *  1. per-doc bigram occurrences: split once, zip-adjacent, explode,
  *     aggregate on (doc, w1, w2) — one shuffle keyed by doc+bigram;
  *  2. model = global bigram counts (re-aggregate 1's output on (w1, w2) —
  *     no second corpus pass) + unigram history counts + vocabulary size
  *     (one broadcast row);
  *  3. score = equi-join 1's output with the model on (w1, w2), then one
  *     per-doc aggregate. Model size is the number of OBSERVED bigram
  *     types — Zipf-bounded, far below |V|^2 — and the join is keyed on
  *     the bigram, so the same plan holds at any corpus size.
  *
  * Smoothing: add-one over the unigram history — p(w2|w1) =
  * (c(w1,w2) + 1) / (c(w1) + |V|) — chosen over backoff/Kneser-Ney because
  * it is exactly replayable in one SQL pass (the oracle mirrors it) while
  * keeping the operative property (unseen continuations get small nonzero
  * mass).
  *
  * Determinism: each bigram TYPE's log-probability is quantized to integer
  * micro-units once in the model (`round(ln(p)*1e6)` as BIGINT — the same
  * discipline as TextRank's scoring), so the per-doc sum is an exact
  * integer sum weighted by occurrence counts: order-free under partial
  * aggregation and bit-identical on any engine. The single division and
  * 6 dp round happen once per document at the end.
  */
object TextLm {

  /** Per-document bigram cross-entropy in nats: doc_id, n_bigrams, xent.
    * Documents with fewer than two tokens have no bigrams and are omitted
    * (a length filter runs before an LM filter in any real pipeline). */
  def bigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("t"))
    val pairs = toks.select(col(idCol),
        explode(arrays_zip(
          expr("slice(t, 1, size(t) - 1)").as("w1"),
          expr("slice(t, 2, size(t) - 1)").as("w2"))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val docBig = pairs.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("occ"))
    val big = docBig.groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("c2"))
    val uni = toks.select(explode(col("t")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val model = big.join(uni, "w1").crossJoin(broadcast(vocab))
      .withColumn("lp_mu", expr(
        "CAST(round(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)) * 1e6) AS BIGINT)"))
      .select(col("w1"), col("w2"), col("lp_mu"))
    knCrossEntropyFrom(docBig, model, idCol)
  }

  /** The exact integer half-up micro-nat image of the rational (−mu)/m —
    * round-half-up(a/b) = (2a+b) div (2b) for a,b > 0 — over the columns
    * `mu` and `m`. Never a float round(x, 6): the r13 sf0.1 gate caught a
    * doc whose FP xent sat ON a …5 boundary where Spark's decimal-string
    * round and DuckDB's FP round disagree; the integer image is
    * engine-proof. */
  private def halfUpMu(mu: String): Column =
    expr(s"CAST((2 * (-$mu) + m) DIV (2 * m) AS BIGINT)")

  /** [[halfUpMu]] as 6-dp nats. */
  private def halfUpXent(mu: String): Column = halfUpMu(mu).cast("double") / lit(1e6)

  /** Per-doc cross-entropy over scored n-gram rows (idCol, occ, lp_mu):
    * (idCol, `nCol` = n-gram count, xent) — the [[bigramCrossEntropy]]
    * contract. */
  private def xentPerDoc(scored: DataFrame, idCol: String, nCol: String): DataFrame =
    scored.groupBy(col(idCol))
      .agg(sum(col("occ") * col("lp_mu")).as("mu"), sum(col("occ")).as("m"))
      .select(col(idCol), col("m").as(nCol), halfUpXent("mu").as("xent"))

  /** Shared tokenize + per-doc bigram aggregate — (idCol, w1, w2, occ),
    * one row per (document, observed bigram TYPE): the frame every
    * bigram-LM operator here starts from. Scoring joins consume it
    * directly and every model is a RE-AGGREGATE of it — never a second
    * corpus pass. Exposed so the query layer can build it once per
    * session (the SharedCaches `kn_doc_bigrams` entry) and feed all the
    * KN-family consumers (q342/q343/q344/q347/q348/q349/q354). */
  def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("t"))
      .select(col(idCol),
        explode(arrays_zip(
          expr("slice(t, 1, size(t) - 1)").as("w1"),
          expr("slice(t, 2, size(t) - 1)").as("w2"))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("occ"))

  /** The interpolated-KN per-bigram-type log-probability in micro-nats —
    * [[knCrossEntropyFrom]]'s D = 3/4 closed form over columns
    * c2/c1/n1p/nc/t_types/v. ONE constant so its three Spark consumers
    * ([[knBigramModel]], and the reference/general sides
    * [[excessLossSelectFrom]]/[[knImportanceWeightsFrom]] inherit through
    * the shared model) can never drift. */
  private[graft] val knLpSql: String =
    """CAST(round(ln(
      |  CAST((4 * c2 - 3) * (t_types + v) + 3 * n1p * (nc + 1) AS DOUBLE)
      |  / CAST(4 * c1 * (t_types + v) AS DOUBLE)) * 1e6) AS BIGINT)"""
      .stripMargin

  /** Interpolated-KN bigram model TYPE table (w1, w2, lp_mu micro-nats)
    * from a prebuilt [[docBigrams]] aggregate; `docs` supplies only the
    * vocabulary count (a 1-row broadcast — a single-token document
    * carries a word but no bigram, so V is not derivable from the bigram
    * table). Zipf-bounded: one row per OBSERVED bigram type. Session-
    * shared as SharedCaches `kn_bigram_model`. */
  def knBigramModel(docBig: DataFrame, docs: DataFrame, textCol: String): DataFrame = {
    val big = docBig.groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("c2"))
    val hist = big.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val sizes = big.agg(count(lit(1)).as("t_types")).crossJoin(
      docs.select(explode(split(col(textCol), " ")).as("w"))
        .agg(countDistinct(col("w")).as("v")))
    big.join(hist, "w1").join(cont, "w2")
      .crossJoin(broadcast(sizes))
      .withColumn("lp_mu", expr(knLpSql))
      .select(col("w1"), col("w2"), col("lp_mu"))
  }

  /** Interpolated Kneser-Ney bigram cross-entropy — the production upgrade
    * of [[bigramCrossEntropy]]: CCNet/DSIR-style pipelines score with
    * KN-smoothed n-gram models, not add-one. Absolute discounting with the
    * KN continuation distribution (Kneser & Ney 1995; Chen & Goodman 1998),
    * with the discount fixed at the rational D = 3/4 so every probability
    * is a ratio of two BIGINTs:
    *
    *   p(w2|w1) = (c(w1,w2) − D)/c(w1) + D·N1+(w1,·)/c(w1) · p_cont(w2)
    *   p_cont(w2) = (N1+(·,w2) + 1) / (T + V)          [add-one floored]
    *
    * where c(w1) = Σ_x c(w1,x) is the HISTORY count (not the raw unigram
    * count — a document-final token is no bigram history), N1+(w1,·) /
    * N1+(·,w2) are distinct-continuation/-history type counts, T = observed
    * bigram types, V = vocabulary size. The +1/(T+V) floor on the
    * continuation keeps p_cont total and strictly positive (the same role
    * the uniform bottom layer plays in full interpolated KN), which lets
    * the SAME model form serve the DSIR variant where a scored bigram can
    * be target-unseen. With D = 3/4 every observed bigram's probability is
    * exactly
    *
    *   [ (4·c2 − 3)·(T+V) + 3·n1p·(nc+1) ] / [ 4·c1·(T+V) ]
    *
    * — all integers — so the per-TYPE micro-nat quantization
    * (round(ln(num/den)·1e6) as BIGINT) is a deterministic function of
    * integer model counts and the oracle re-derives the whole model in one
    * SQL pass. Scale: identical plan shape to [[bigramCrossEntropy]] — the
    * model is the observed-bigram TYPE table (Zipf-bounded) joined to two
    * type-count tables keyed by w1/w2 plus one broadcast (T, V) row.
    * Overflow envelope: num ≤ 4·c2·(T+V) must stay under 2^63 — safe while
    * occurrence-count × type-count < ~5.7e17 (a ~30 B-token corpus with
    * ~1e8 types); beyond that widen num/den to DECIMAL(38,0) in BOTH
    * engines before the ln.
    *
    * Inputs: `docBig` from [[docBigrams]] and `model` from
    * [[knBigramModel]] (the session shares both); the scoring stage is one
    * model equi-join + one per-doc aggregate.
    *
    * Output: doc_id, n_bigrams, xent (nats, exact-integer half-up 6 dp) —
    * the [[bigramCrossEntropy]] contract. */
  def knCrossEntropyFrom(docBig: DataFrame, model: DataFrame,
                         idCol: String): DataFrame =
    xentPerDoc(docBig.join(model, Seq("w1", "w2")), idCol, "n_bigrams")

  /** SoftDeDup commonness reweighting (Xia et al. 2024, "SoftDedup: an
    * Efficient Data Reweighting Method for Speeding Up Language Model
    * Pre-training" — public paper): instead of BINARY dropping
    * duplicates, assign every document a LOSS WEIGHT from its data
    * commonness — the geometric mean of its n-grams' corpus
    * frequencies. Common (duplicated / boilerplate) documents train at
    * reduced weight, rare documents above 1, and no token is discarded
    * — the soft alternative the q345 pipeline's hard drops.
    *
    * House form on the shared [[docBigrams]] inventory: per bigram TYPE
    * lp_mu = round(ln(c2/T)·1e6) (the unsmoothed corpus log-frequency —
    * a TYPE-table constant, the q101 micro-nat discipline); per doc
    * rarity = −mean lp over its bigram occurrences (exact half-up
    * integer rational — rarity is −log commonness, so the geometric
    * mean is computed without ever forming the underflowing product);
    * loss_weight = rarity / corpus-mean-rarity (half-up 6-dp on the
    * micro integers; mean weight ≈ 1 by construction, the paper's
    * normalization). Documents with < 2 tokens carry no bigram and are
    * excluded — the q378 scored-population contract. A corpus whose
    * every bigram is the same type has rarity 0 everywhere; weights
    * degrade to uniform 1.0 (guarded, not divided).
    *
    * Output: idCol, n_grams, rarity (6-dp), loss_weight (6-dp).
    * Scale: one Zipf-bounded TYPE-table build + one model join + two
    * doc-keyed aggregates + a 1-row broadcast — the q342 shape; the
    * occ·lp_mu sum shares [[knCrossEntropyFrom]]'s overflow envelope. */
  def softDedupWeights(docBig: DataFrame, idCol: String): DataFrame = {
    val big = docBig.groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("c2"))
    val tot = big.agg(sum(col("c2")).as("tt"))
    val model = big.crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"),
        expr("CAST(round(ln(CAST(c2 AS DOUBLE) / CAST(tt AS DOUBLE)) * 1e6)" +
          " AS BIGINT)").as("lp_mu"))
    val pd = docBig.join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(sum(col("occ") * col("lp_mu")).as("mu"), sum(col("occ")).as("m"))
      .select(col(idCol), col("m").as("n_grams"), halfUpMu("mu").as("rmu"))
    val mean = pd.agg(expr(
      "CAST((2 * sum(rmu) + count(1)) DIV (2 * count(1)) AS BIGINT)").as("mmu"))
    pd.crossJoin(broadcast(mean))
      .select(col(idCol), col("n_grams"),
        (col("rmu").cast("double") / lit(1e6)).as("rarity"),
        when(col("mmu") === 0L, lit(1.0)).otherwise(
          expr("CAST((CAST(2 AS DECIMAL(38,0)) * rmu * 1000000 + mmu)" +
              " DIV (2 * mmu) AS BIGINT)").cast("double") / lit(1e6))
          .as("loss_weight"))
  }

  /** Interpolated Kneser-Ney TRIGRAM cross-entropy — the full KN
    * recursion [[knCrossEntropyFrom]]'s bigram form is the base case of
    * (production LM-quality pipelines run KN-smoothed higher-order
    * models; the recursion below is Chen & Goodman 1998's interpolated
    * form at order 3, D = 3/4 at every level):
    *
    *   p3(w3|w1w2) = (c(w1w2w3) − D)⁺/c(w1w2)
    *               + D·N1+(w1w2·)/c(w1w2) · p2(w3|w2)
    *   p2(w3|w2)   = (N1+(·w2w3) − D)⁺/N1+(·w2·)
    *               + D·N1+(w2·)/N1+(·w2·) · p1(w3)     [continuation cnts]
    *   p1(w3)      = (N1+(·w3) + 1)/(T2 + V)           [add-one floored]
    *
    * where the middle level runs ENTIRELY on TRIGRAM-TYPE counts
    * (N1+(·w2w3) = distinct w1 preceding (w2,w3); N1+(·w2·) = trigram
    * types with middle w2; N1+(w2·) = |{w3 : N1+(·w2w3) > 0}| — distinct
    * continuations OF the continuation distribution, so the p2 layer's
    * mass is exactly 1) and the bottom on BIGRAM-TYPE counts — the
    * defining KN property that lower orders model CONTEXT DIVERSITY, not
    * raw frequency.
    *
    * Determinism: every count is an exact BIGINT; the three-level value is
    * computed per trigram TYPE in FIXED-ORDER double arithmetic (each
    * operand an exactly-representable integer; the formula text is
    * identical in both engines, and IEEE ops at fixed order are
    * deterministic — the q59/q211 components-exact-formula-in-doubles
    * discipline; exact three-level rationals overflow Long at warehouse
    * type counts, so doubles-at-fixed-order is the scalable form), then
    * micro-nat quantized once; per-doc sums are exact occ-weighted BIGINT
    * sums with the house half-up terminal division. Counts stay exactly
    * representable while trigram occurrences < 2^51 per history.
    *
    * Scale: the model is three Zipf-bounded TYPE tables (trigram, its two
    * marginal projections, bigram) joined on trigram/bigram/word keys plus
    * one broadcast (T2, V) row — same shape class as [[knCrossEntropyFrom]],
    * one order deeper. Docs with fewer than three tokens have no trigrams
    * and are omitted. The bottom level's bigram TYPE table is the
    * distinct (w1, w2) projection of the prebuilt [[docBigrams]] aggregate
    * `docBig` (the same type set, no second corpus tokenize). Output:
    * doc_id, n_trigrams, xent. */
  def kn3CrossEntropyFrom(docBig: DataFrame, docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("t"))
    // the >= 3 guard keeps slice's length argument non-negative (Spark
    // slice THROWS on negative length; a 1-token doc would pass -1)
    val tris = toks.where(size(col("t")) >= 3).select(col(idCol),
        explode(arrays_zip(
          expr("slice(t, 1, size(t) - 2)").as("w1"),
          expr("slice(t, 2, size(t) - 2)").as("w2"),
          expr("slice(t, 3, size(t) - 2)").as("w3"))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.w3").as("w3"))
    val docTri = tris.groupBy(col(idCol), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("occ"))
    val tri = docTri.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("occ")).as("c3"))
    val hist12 = tri.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("c12"), count(lit(1)).as("npt"))
    val sub23 = tri.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("ns"))
    // ONE w2-keyed aggregate carries both middle-level stats: nm =
    // N1+(·w2·), and npb = the interpolation weight's CONTINUATIONS OF
    // THE CONTINUATION DISTRIBUTION — N1+(w2·) = |{w3 : N1+(·w2w3) > 0}|
    // = rows per w2 in the s23 table (Chen & Goodman 1998's exact count),
    // NOT raw bigram types per w2: a bigram occurring only as a document's
    // opening two tokens is never any trigram's trailing bigram, and
    // counting it would supernormalize the p2 layer (mass > 1)
    val mid2 = sub23.groupBy(col("w2"))
      .agg(sum(col("ns")).as("nm"), count(lit(1)).as("npb"))
    // bigram TYPE table for the BOTTOM level's continuation stats
    val big = docBig.select(col("w1").as("b1"), col("w2").as("b2")).distinct()
    val cont = big.groupBy(col("b2")).agg(count(lit(1)).as("nc"))
      .withColumnRenamed("b2", "w3")
    val sizes = big.agg(count(lit(1)).as("t2")).crossJoin(
      toks.select(explode(col("t")).as("w"))
        .agg(countDistinct(col("w")).as("v")))
    val model = tri
      .join(hist12, Seq("w1", "w2"))
      .join(sub23, Seq("w2", "w3"))
      .join(mid2, Seq("w2"))
      .join(cont, Seq("w3"))
      .crossJoin(broadcast(sizes))
      .withColumn("lp_mu", expr(
        """CAST(round(ln(
          |  CAST(greatest(4 * c3 - 3, 0) AS DOUBLE) / CAST(4 * c12 AS DOUBLE)
          |  + CAST(3 * npt AS DOUBLE) / CAST(4 * c12 AS DOUBLE)
          |    * (CAST(greatest(4 * ns - 3, 0) AS DOUBLE) / CAST(4 * nm AS DOUBLE)
          |       + CAST(3 * npb AS DOUBLE) / CAST(4 * nm AS DOUBLE)
          |         * (CAST(nc + 1 AS DOUBLE) / CAST(t2 + v AS DOUBLE)))
          |) * 1e6) AS BIGINT)""".stripMargin))
      .select(col("w1"), col("w2"), col("w3"), col("lp_mu"))
    xentPerDoc(docTri.join(model, Seq("w1", "w2", "w3")), idCol, "n_trigrams")
  }

  /** Per-bigram-type MODIFIED Kneser-Ney probability as engine-shared SQL
    * text (the q338 verbatim-shared-constant discipline: Spark's `expr`
    * and the DuckDB oracle evaluate the IDENTICAL character string, so
    * the fixed-order double arithmetic cannot diverge). Columns in scope:
    * c2 (bigram count), c1 (history count), m1/m2c/m3p (history's
    * count-1 / count-2 / count-≥3 continuation type counts), nc
    * (N1+(·w2)), t_types, v, and the global count-of-counts n1..n4.
    *
    * Chen & Goodman 1998's count-specific discounts, estimated from the
    * corpus's own count-of-counts (Y = n1/(n1+2n2); D1 = 1−2Y·n2/n1;
    * D2 = 2−3Y·n3/n2; D3+ = 3−4Y·n4/n3), each clamped into [0, i] so the
    * discounted numerator (c − D(c))⁺ and the backoff weight γ stay
    * nonnegative on adversarial corpora; if any of n1/n2/n3 is zero the
    * estimator is undefined and all three fall back to the fixed D = 3/4
    * of [[knCrossEntropyFrom]] (mirrored verbatim in the oracle). */
  val mknProbSql: String = {
    val y = "(CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE))"
    def clamp(raw: String, hi: Int) =
      s"least(greatest($raw, CAST(0 AS DOUBLE)), CAST($hi AS DOUBLE))"
    def disc(i: Int, num: String, den: String) =
      s"""(CASE WHEN n1 = 0 OR n2 = 0 OR n3 = 0 THEN CAST(0.75 AS DOUBLE)
         | ELSE ${clamp(s"CAST($i AS DOUBLE) - CAST(${i + 1} AS DOUBLE) * $y" +
             s" * (CAST($num AS DOUBLE) / CAST($den AS DOUBLE))", i)} END)"""
        .stripMargin.replaceAll("\n\\s*", " ")
    val d1 = disc(1, "n2", "n1")
    val d2 = disc(2, "n3", "n2")
    val d3 = disc(3, "n4", "n3")
    val dOfC = s"(CASE WHEN c2 = 1 THEN $d1 WHEN c2 = 2 THEN $d2 ELSE $d3 END)"
    s"""(greatest(CAST(c2 AS DOUBLE) - $dOfC, CAST(0 AS DOUBLE))
       |   / CAST(c1 AS DOUBLE)
       | + (($d1 * CAST(m1 AS DOUBLE) + $d2 * CAST(m2c AS DOUBLE)
       |     + $d3 * CAST(m3p AS DOUBLE)) / CAST(c1 AS DOUBLE))
       |   * (CAST(nc + 1 AS DOUBLE) / CAST(t_types + v AS DOUBLE)))"""
      .stripMargin.replaceAll("\n\\s*", " ")
  }

  /** MODIFIED Kneser-Ney bigram cross-entropy — the production form of
    * [[knCrossEntropyFrom]] (Chen & Goodman 1998 §: "modified Kneser-Ney", the
    * smoothing every production LM toolkit defaults to): instead of one
    * fixed discount D, three count-specific discounts D1/D2/D3+ are
    * ESTIMATED FROM THE CORPUS'S OWN COUNT-OF-COUNTS n1..n4 (the number
    * of bigram types occurring exactly 1/2/3/4 times):
    *
    *   Y = n1/(n1 + 2·n2); D1 = 1 − 2Y·n2/n1; D2 = 2 − 3Y·n3/n2;
    *   D3+ = 3 − 4Y·n4/n3
    *   p(w2|w1) = (c(w1,w2) − D(c))⁺/c(w1) + γ(w1)·p_cont(w2)
    *   γ(w1) = (D1·N1(w1·) + D2·N2(w1·) + D3+·N3+(w1·))/c(w1)
    *   p_cont(w2) = (N1+(·w2) + 1)/(T + V)          [add-one floored]
    *
    * where N_i(w1·) counts continuation types of w1 with count exactly i
    * (≥3 for the last). Discounts are clamped and degenerate
    * count-of-counts fall back to D = 3/4 — see [[mknProbSql]], the
    * engine-shared formula text.
    *
    * Determinism: the count-of-counts are a 4-column broadcast constant
    * beside (T, V); the per-TYPE probability is fixed-order double
    * arithmetic over exactly-representable integers with the formula text
    * shared VERBATIM between engines, then micro-nat quantized once;
    * per-doc sums are exact occ-weighted BIGINT sums with the house
    * half-up terminal division. Scale: identical plan shape to
    * [[knCrossEntropyFrom]] — one extra conditional count triple on the
    * history aggregate and four on the 1-row sizes aggregate; the model
    * stays the Zipf-bounded observed-bigram TYPE table.
    *
    * Input: a prebuilt [[docBigrams]] aggregate (the MKN model itself
    * stays query-local: its count-specific discounts are not the shared
    * KN model's). Output: doc_id, n_bigrams, xent — the
    * [[bigramCrossEntropy]] contract. */
  def mknCrossEntropyFrom(docBig: DataFrame, docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val big = docBig.groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("c2"))
    val hist = big.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"),
        count(when(col("c2") === 1, lit(1))).as("m1"),
        count(when(col("c2") === 2, lit(1))).as("m2c"),
        count(when(col("c2") >= 3, lit(1))).as("m3p"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val sizes = big.agg(count(lit(1)).as("t_types"),
        count(when(col("c2") === 1, lit(1))).as("n1"),
        count(when(col("c2") === 2, lit(1))).as("n2"),
        count(when(col("c2") === 3, lit(1))).as("n3"),
        count(when(col("c2") === 4, lit(1))).as("n4"))
      .crossJoin(docs.select(explode(split(col(textCol), " ")).as("w"))
        .agg(countDistinct(col("w")).as("v")))
    val model = big.join(hist, "w1").join(cont, "w2")
      .crossJoin(broadcast(sizes))
      .withColumn("lp_mu",
        expr(s"CAST(round(ln($mknProbSql) * 1e6) AS BIGINT)"))
      .select(col("w1"), col("w2"), col("lp_mu"))
    knCrossEntropyFrom(docBig, model, idCol)
  }

  /** Min-K% Prob membership/contamination score (Shi et al. 2023,
    * "Detecting Pretraining Data from Large Language Models" — public
    * paper): score each document by the mean negative log-probability of
    * its k% LEAST LIKELY tokens under the corpus LM (here the
    * [[knCrossEntropyFrom]] interpolated-KN bigram model — formula reused
    * verbatim). A LOW score means even the document's most surprising
    * n-grams are well explained — the memorized/contaminated signature;
    * the mean over ALL tokens (plain xent) washes that signal out, which
    * is the paper's point. The audit sheet beside the q85/q118/q135
    * n-gram-overlap contamination checks: those need the eval set, this
    * flags suspicious documents from the model side alone.
    *
    * Exactness: per-doc token multiset = (lp_mu, occ) pairs; the bottom
    * ceil(m·kNum/kDen) INSTANCES are taken by an in-row fold over the
    * lp-sorted pair array (`least(occ, kk − taken)` splits the boundary
    * type exactly); instances sharing an lp value are interchangeable, so
    * the take is order-free. All arithmetic BIGINT micro-nats; one house
    * half-up 6-dp division per doc at the end. Plan shape =
    * [[knCrossEntropyFrom]] plus one per-doc collect_list of the doc's OWN
    * distinct bigram types (doc-bounded arrays, no windows).
    *
    * Inputs: `docBig` from [[docBigrams]] and `model` from
    * [[knBigramModel]] (one model join + one per-doc aggregate here).
    * Output: doc_id, n_bigrams, mink_xent (nats, 6 dp; docs with <2
    * tokens omitted — the [[bigramCrossEntropy]] contract). */
  def minKProbFrom(docBig: DataFrame, model: DataFrame, idCol: String): DataFrame = {
    val kNum = 1
    val kDen = 5
    bottomKFold(docBig.join(model, Seq("w1", "w2")), idCol, "lp_mu", kNum, kDen)
      .select(col(idCol), col("m").as("n_bigrams"),
        (expr("CAST((2 * (-agg.s) + agg.t) DIV (2 * agg.t) AS BIGINT)")
          .cast("double") / lit(1e6)).as("mink_xent"))
  }

  /** Each doc's bottom ceil(m·kNum/kDen) bigram INSTANCES by `scoreCol`,
    * taken by an in-row fold over the score-sorted (score, occ) array
    * (`least(occ, kk − taken)` splits the boundary type exactly): adds
    * (m, kk, agg = {t: instances taken, s: their score sum}) per idCol. */
  private def bottomKFold(scored: DataFrame, idCol: String, scoreCol: String,
                          kNum: Int, kDen: Int): DataFrame =
    scored.groupBy(col(idCol))
      .agg(collect_list(struct(col(scoreCol), col("occ"))).as("lst"),
        sum(col("occ")).as("m"))
      .withColumn("kk", expr(s"(m * $kNum + ${kDen - 1}) DIV $kDen"))
      .withColumn("agg", expr(
        s"""aggregate(array_sort(lst), named_struct('t', CAST(0 AS BIGINT),
          |    's', CAST(0 AS BIGINT)),
          |  (acc, x) -> IF(acc.t >= kk, acc,
          |    named_struct('t', acc.t + least(x.occ, kk - acc.t),
          |      's', acc.s + least(x.occ, kk - acc.t) * x.$scoreCol)))"""
          .stripMargin))

  /** CCNet-style perplexity bucketing: score every document with
    * [[bigramCrossEntropy]], split each group's score distribution into
    * head / middle / tail terciles (head = most fluent), and report the
    * per-(group, bucket) document count and mean cross-entropy — the table
    * a quality-stratified sampling stage is driven by (CCNet trains on
    * head+middle and drops tail). Output: group, bucket, n_docs, mean_xent.
    *
    * Tercile cutoffs are ORDER STATISTICS ON THE MICRO-UNIT INTEGER SCALE,
    * not interpolated percentiles: cutoff_j = the smallest 6-dp score value
    * v such that at least ceil(j·n/3) documents score <= v. Everything is
    * exact integer arithmetic — no percentile interpolation whose FP
    * formula an oracle engine might order differently — and ties at a
    * cutoff value land deterministically in the lower bucket.
    *
    * Scale: the cumulative window runs over the per-group DISTINCT-VALUE
    * table of 6-dp scores, whose size is bounded by the score RANGE
    * (~ln|V|·1e6 rows worst case, a constant in corpus size — the q107
    * histogram-table argument), never over documents. Cutoffs are a
    * |groups|·2-row broadcast; bucket assignment is one integer compare
    * per document. */
  def crossEntropyMix(docs: DataFrame, idCol: String, textCol: String,
                      groupCol: String): DataFrame =
    tercileMix(bigramCrossEntropy(docs, idCol, textCol), docs, idCol, groupCol)

  /** RHO-style excess-loss selection (Mindermann et al. 2022, "Prioritized
    * Training on Points that are Learnable, Worth Learning, and Not Yet
    * Learnt"; Lin et al. 2024, RHO-1 — public papers): score each document
    * by its EXCESS loss — cross-entropy under a weak model minus
    * cross-entropy under a strong reference model — and keep the top
    * keepNum/keepDen = 1/4 per group. High excess = the document is
    * poorly fit by the weak model but well explained by the reference:
    * learnable signal, not noise (noise scores high under BOTH models and
    * cancels). In-engine proxy for the two models: the add-one bigram LM
    * ([[bigramCrossEntropy]], the weak "current" model) and the
    * interpolated-KN bigram LM ([[knCrossEntropyFrom]], the strong reference)
    * — same corpus, same tokenization, so the excess isolates what better
    * smoothing explains.
    *
    * Plan: ONE tokenize + per-doc bigram aggregate (it feeds both models
    * and the scoring join); both models are observed-bigram
    * TYPE tables (Zipf-bounded) derived from the SAME type-count frame;
    * per-doc scoring is one double model join + one aggregate. The
    * per-group cut is an integer order statistic over the (group,
    * excess)-GRID (value-keyed aggregate + grid window — never a window
    * over data rows): cut = min excess with cum·den ≥ n·(den−num);
    * selected ⇔ excess > cut, ties at the cut fall to the unselected side
    * (the q140/q343 tie-to-lower discipline — so ≤ num/den·n docs are
    * selected, exact at distinct-value boundaries).
    *
    * Determinism: both per-doc xents are the exact integer half-up
    * micro-nat images ((2·(−mu)+m) div (2·m) — the house form), so the
    * excess is a BIGINT difference, the cut is integer arithmetic, and
    * the only doubles are the final 6-dp group means.
    * Inputs: a prebuilt [[docBigrams]] aggregate and the
    * [[knBigramModel]] reference model; only the weak add-one model (one
    * token-count aggregate + one type-table join) is built here.
    * Output: (groupCol, selected, n_docs, mean_excess — nats, 6 dp). */
  def excessLossSelectFrom(docBig: DataFrame, knModel: DataFrame,
                           docs: DataFrame, idCol: String, textCol: String,
                           groupCol: String): DataFrame = {
    val (keepNum, keepDen) = (1, 4)
    val scored = excessSums(docBig, knModel, docs, idCol, textCol)
      .select(col(idCol), (halfUpMu("mua") - halfUpMu("muk")).as("__e"))
      .join(docs.select(col(idCol), col(groupCol).as("__g")), idCol)
    val vals = CacheScope.persist(scored.groupBy(col("__g"), col("__e"))
      .agg(count(lit(1)).as("__c")))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__e"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = vals.withColumn("__cum", sum(col("__c")).over(cumW))
    val totals = vals.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    val cuts = cum.join(totals, "__g")
      .groupBy(col("__g"))
      .agg(min(when(col("__cum") * keepDen >= col("__n") * (keepDen - keepNum),
        col("__e"))).as("__cut"))
    scored.join(broadcast(cuts), "__g")
      .withColumn("selected", col("__e") > col("__cut"))
      .groupBy(col("__g"), col("selected"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__e")).as("__se"))
      .select(col("__g").as(groupCol), col("selected"), col("n_docs"),
        round((col("__se").cast("double") / lit(1e6))
          / col("n_docs").cast("double"), 6).as("mean_excess"))
  }

  /** Per-doc micro-nat sums (idCol, mua, muk, m) under the weak add-one
    * bigram model (`lpa`, bigramCrossEntropy's formula verbatim) and the
    * shared interpolated-KN reference model (`lpk`, knLpSql) — the two
    * sides of the per-doc excess loss. */
  private def excessSums(docBig: DataFrame, knModel: DataFrame, docs: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    val big = docBig.groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("c2"))
    val uni = docs.select(explode(split(col(textCol), " ")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1u"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val amodel = big.join(uni, "w1").crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), expr(
        "CAST(round(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1u + v AS DOUBLE)) * 1e6) AS BIGINT)")
        .as("lpa"))
    val kmodel = knModel.select(col("w1"), col("w2"), col("lp_mu").as("lpk"))
    docBig
      .join(amodel, Seq("w1", "w2")).join(kmodel, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(sum(col("occ") * col("lpa")).as("mua"),
        sum(col("occ") * col("lpk")).as("muk"), sum(col("occ")).as("m"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining" —
    * public paper): per-domain EXCESS LOSS under a proxy model vs a
    * reference model drives multiplicative weight updates over a fixed
    * number of Group-DRO rounds, with uniform smoothing each round. The
    * in-engine proxy pair is the q348 shelf: add-one bigram LM (the weak
    * "proxy") vs interpolated-KN bigram LM (the "reference") on the same
    * corpus — domains whose documents the better smoothing explains much
    * better (high clamped excess) get upweighted.
    *
    * Recipe (doc-granular proxy of DoReMi Algorithm 1, η = 1):
    *  - per-doc excess e_d = max(0, xent_proxy − xent_ref), both the
    *    house half-up micro-nat images (the q348 `__e`, clamped);
    *  - per-domain λ_g = bigram-weighted mean of e_d (exact half-up
    *    micro-nats), boost_g = round(exp(min(λ_g, 10 nats)) · 1e6) — the
    *    ONLY libm value, quantized at first appearance (the 10-nat clip
    *    is the overflow/stability guard: e^10·1e6 ≈ 2.2e10 keeps every
    *    BIGINT product in range at any corpus size; DoReMi's per-step
    *    update is similarly bounded by its learning rate);
    *  - w_0 = uniform; round t: num_g = w_{t−1,g}·boost_g, normalize
    *    a_g = half-up(num_g·1e6/Σnum) (evaluated in DECIMAL(38,0) /
    *    HUGEINT — num·1e6 can pass 2^63), then smooth
    *    w_t = half-up(((den−num)·a_g·k + num·1e6)/(den·k)) with
    *    c = smoothNum/smoothDen and k = |domains| (DoReMi's
    *    (1−c)·α + c·u step on the 6-dp integer grid).
    *
    * Every round is exact integer arithmetic on a |domains|-row frame —
    * the rounds unroll as grid-bounded plan stages (the q181/q330
    * discipline), and the oracle replays them as materialized CTE
    * levels. Scale: ONE pass over the corpus (the shared doc-bigram
    * aggregate + two model joins); everything after the λ aggregate is
    * |domains|-bounded.
    *
    * Output: (round, source, n_docs, excess, weight) for round 0..rounds
    * — the weight trajectory a mixing stage consumes (excess in nats,
    * 6 dp; weight on the 6-dp probability grid). Inputs: the
    * [[docBigrams]] aggregate and [[knBigramModel]] (only the weak add-one
    * model and the |domains|-row round ladder are built here). */
  def doremiWeightsFrom(docBig: DataFrame, knModel: DataFrame,
                        docs: DataFrame, idCol: String, textCol: String,
                        srcCol: String): DataFrame = {
    val rounds = 4
    val smoothNum = 1
    val smoothDen = 5
    val perDoc = excessSums(docBig, knModel, docs, idCol, textCol)
      .select(col(idCol), col("m"),
        greatest(halfUpMu("mua") - halfUpMu("muk"), lit(0L)).as("__e"))
    // lam is persisted because TWO subplans consume it (the boost frame
    // and the 1-row k count) — without the persist each would re-run the
    // whole two-model scoring pass
    val lam = CacheScope.persist(perDoc
      .join(docs.select(col(idCol), col(srcCol).as("source")), idCol)
      .groupBy(col("source"))
      // __e·m sums in DECIMAL(38,0): a source with ~5e12 bigrams at ~2
      // nats clamped excess passes 2^63 in BIGINT (oracle sum is HUGEINT
      // already) — the same wrap class as the unimax/fertility rationals
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("CAST(__e AS DECIMAL(38,0))") * col("m")).as("__se"),
        sum(col("m")).as("__sm"))
      .select(col("source"), col("n_docs"),
        expr("CAST((2 * __se + __sm) DIV (2 * __sm) AS BIGINT)").as("lam_mu")))
    val base = CacheScope.persist(lam
      .withColumn("boost", expr(
        "CAST(round(exp(CAST(least(lam_mu, 10000000) AS DOUBLE) / 1e6) * 1e6) AS BIGINT)"))
      .crossJoin(broadcast(lam.agg(count(lit(1)).as("k")))))
    // each round is localCheckpointed (the q326/bpe iterative cadence):
    // round t's plan references round t−1 TWICE (the 1-row sum subquery
    // and the main frame), so without lineage truncation the plan — and
    // its count of tiny broadcast jobs — doubles per round
    val w0 = base.withColumn("w", expr("(2 * 1000000 + k) DIV (2 * k)"))
      .localCheckpoint()
    val ws = Iterator.iterate(w0) { prev =>
      val s = prev.agg(sum(col("w") * col("boost")).as("ss"))
      prev.crossJoin(broadcast(s))
        .withColumn("a", expr(
          "CAST((CAST(2 AS DECIMAL(38,0)) * w * boost * 1000000 + ss) DIV (2 * ss) AS BIGINT)"))
        .withColumn("w", expr(
          s"(2 * (${smoothDen - smoothNum} * a * k + $smoothNum * 1000000)" +
            s" + $smoothDen * k) DIV (2 * $smoothDen * k)"))
        .select(col("source"), col("n_docs"), col("lam_mu"), col("boost"),
          col("k"), col("w"))
        .localCheckpoint()
    }.take(rounds + 1).toSeq
    ws.zipWithIndex.map { case (f, r) =>
        f.select(lit(r.toLong).as("rnd"), col("source"), col("n_docs"),
          (col("lam_mu").cast("double") / lit(1e6)).as("excess"),
          (col("w").cast("double") / lit(1e6)).as("weight"))
      }.reduce(_.unionByName(_))
  }

  /** The tercile stage over an already-scored (idCol, n_bigrams, xent)
    * frame — see [[crossEntropyMix]] for the exact-integer cutoff
    * semantics; output contract identical to it. On the
    * [[knCrossEntropyFrom]] scores it is the CCNet production pairing
    * (KN perplexity + tercile mix, q343); on
    * [[groupedKnXentPerDocFromScored]] the per-language mix (q374). */
  def tercileMix(scoredDocs: DataFrame, docs: DataFrame,
                 idCol: String, groupCol: String): DataFrame = {
    val scored = scoredDocs
      .join(docs.select(col(idCol), col(groupCol).as("__g")), idCol)
      // xent is rounded to 6 dp, so this recovers its exact integer image
      .withColumn("__xmu", expr("CAST(round(xent * 1e6) AS BIGINT)"))
    val vals = scored.groupBy(col("__g"), col("__xmu"))
      .agg(count(lit(1)).as("__c"))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__xmu"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = vals.withColumn("__cum", sum(col("__c")).over(cumW))
    val totals = vals.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    val cuts = cum.join(totals, "__g")
      .groupBy(col("__g"))
      .agg(min(when(col("__cum") * 3 >= col("__n"), col("__xmu"))).as("__cut1"),
        min(when(col("__cum") * 3 >= col("__n") * 2, col("__xmu"))).as("__cut2"))
    scored.join(broadcast(cuts), "__g") // |groups| x 2 cutoff rows
      .withColumn("bucket",
        when(col("__xmu") <= col("__cut1"), lit("head"))
          .when(col("__xmu") <= col("__cut2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("__g"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__xmu")).as("__smu"))
      .select(col("__g").as(groupCol), col("bucket"), col("n_docs"),
        round((col("__smu").cast("double") / lit(1e6)) / col("n_docs").cast("double"), 6)
          .as("mean_xent"))
  }

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public paper): score each
    * corpus slice by the token-weighted average log-likelihood RATIO between
    * a bigram model trained on a TARGET subset (the domain you want more
    * of) and one trained on the whole corpus. Positive = the slice looks
    * target-like; the ratios drive up-/down-sampling weights in a data-mix
    * stage. Output: group, n_bigrams, avg_logratio (nats, 6 dp).
    *
    * Plan: ONE tokenize + per-doc bigram aggregate feeds both models (the
    * target model is a filtered re-aggregate of the doc-level counts — no
    * second corpus pass). Both models are observed-bigram tables
    * (Zipf-bounded); scoring is two bigram-keyed left joins plus a
    * history-keyed join, never corpus x corpus; the two vocabulary sizes
    * travel as one broadcast row. Same add-one smoothing as
    * [[bigramCrossEntropy]] — target-unseen bigrams get mass
    * 1 / (c_t(w1) + |V_t|), exactly replayable in SQL.
    *
    * Determinism: both log-probs are quantized to micro-units per bigram
    * TYPE (round(ln p * 1e6) as BIGINT), so group sums are exact integer
    * sums of occ-weighted differences; one division + 6 dp round per group
    * at the end. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        groupCol: String, targetPred: Column): DataFrame = {
    val base = docs.select(col(idCol), col(groupCol).as("__g"),
      targetPred.as("__tgt"), split(col(textCol), " ").as("t"))
    val pairs = base.select(col(idCol), col("__g"), col("__tgt"),
        explode(arrays_zip(
          expr("slice(t, 1, size(t) - 1)").as("w1"),
          expr("slice(t, 2, size(t) - 1)").as("w2"))).as("p"))
      .select(col(idCol), col("__g"), col("__tgt"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    val docBig = pairs.groupBy(col(idCol), col("__g"), col("__tgt"),
        col("w1"), col("w2"))
      .agg(count(lit(1)).as("occ"))
    // general model: every doc bigram is present by construction
    val gBig = docBig.groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("gc2"))
    val gUni = base.select(explode(col("t")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("gc1"))
    // target model: filtered re-aggregate of the same doc-level counts
    val tBig = docBig.where(col("__tgt"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("tc2"))
    val tUni = base.where(col("__tgt")).select(explode(col("t")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("tc1"))
    logRatioScored(docBig, gBig, gUni, tBig, tUni)
      .groupBy(col("__g"))
      .agg(sum(col("occ") * col("lr_mu")).as("mu"), sum(col("occ")).as("m"))
      .select(col("__g").as(groupCol), col("m").as("n_bigrams"),
        round((col("mu").cast("double") / lit(1e6)) / col("m").cast("double"), 6)
          .as("avg_logratio"))
  }

  /** Every row of `docBig` with its type's add-one target-vs-general
    * log-ratio `lr_mu` (micro-nats) from the general (gBig, gUni) and
    * target (tBig, tUni) counts; a type unseen in the target counts 0
    * there. */
  private def logRatioScored(docBig: DataFrame, gBig: DataFrame, gUni: DataFrame,
                             tBig: DataFrame, tUni: DataFrame): DataFrame = {
    val sizes = gUni.agg(count(lit(1)).as("gv"))
      .crossJoin(tUni.agg(count(lit(1)).as("tv")))
    docBig
      .join(gBig, Seq("w1", "w2"))
      .join(gUni, Seq("w1"))
      .join(tBig, Seq("w1", "w2"), "left")
      .join(tUni, Seq("w1"), "left")
      .crossJoin(broadcast(sizes))
      .withColumn("lr_mu", expr(
        """CAST(round(ln(CAST(coalesce(tc2, 0) + 1 AS DOUBLE)
          |  / CAST(coalesce(tc1, 0) + tv AS DOUBLE)) * 1e6) AS BIGINT)
          |- CAST(round(ln(CAST(gc2 + 1 AS DOUBLE)
          |  / CAST(gc1 + gv AS DOUBLE)) * 1e6) AS BIGINT)""".stripMargin))
  }

  /** DSIR importance RESAMPLING draw — the selection step
    * [[importanceWeights]] computes the signal for (Xie et al. 2023 §2:
    * after scoring, DSIR samples the corpus WITHOUT replacement with
    * probability ∝ the importance weight). Sampling ∝ exp(log-weight)
    * without replacement is exactly Gumbel-top-k (Vieira 2014; Kool et
    * al. 2019 — public): add an independent Gumbel draw to each doc's
    * log-weight and take the k largest perturbed scores.
    *
    *  - log-weight lw_d = Σ occ·lr_mu over the doc's bigrams — the
    *    exact-integer SUM of the same per-TYPE micro-nat add-one
    *    log-ratios q151 aggregates (the sum is the doc's full
    *    importance log-weight; q151 reports token-weighted means as a
    *    per-group signal);
    *  - Gumbel g_d = −ln(−ln(u_d)) with u_d = (h_d + 0.5)/2^60 from the
    *    house 60-bit md5 fold salted 'rs#' (the q286 draw form — u is
    *    strictly inside (0,1), so the ln ladder never hits ±inf),
    *    micro-nat-quantized at its only appearance;
    *  - score_mu = lw_mu + g_mu (exact BIGINT), top k by
    *    (score DESC, id ASC).
    *
    * Deterministic end-to-end: re-running the draw reproduces the same
    * sample bit-for-bit on either engine — the reproducibility a data-
    * selection audit needs. Docs with < 2 tokens have no bigrams and are
    * omitted (the q101 contract); requires a non-empty target (the q151
    * contract). Scale: the q151 model plan + one per-doc aggregate +
    * TakeOrdered(k) — the only window orders the k selected rows.
    * Input: a prebuilt [[docBigrams]] aggregate (target flags rejoin by
    * id, the [[knImportanceWeightsFrom]] discipline; only the token-count
    * aggregates and the |docs|-row draw are built here).
    * Output: (rnk, idCol, log_weight, gumbel, score) — nats, 6 dp. */
  def dsirResampleFrom(docBig: DataFrame, docs: DataFrame, idCol: String,
                       textCol: String, targetPred: Column,
                       k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    val dflag = docBig.join(
      docs.select(col(idCol), targetPred.as("__tgt")), idCol)
    val gBig = docBig.groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("gc2"))
    val gUni = docs.select(explode(split(col(textCol), " ")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("gc1"))
    val tBig = dflag.where(col("__tgt"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("tc2"))
    val tUni = docs.where(targetPred)
      .select(explode(split(col(textCol), " ")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("tc1"))
    val lw = logRatioScored(docBig, gBig, gUni, tBig, tUni)
      .groupBy(col(idCol))
      .agg(sum(col("occ") * col("lr_mu")).as("lw_mu"))
    val u = (Sketches.hash60(concat_ws("#", lit("rs"),
        col(idCol).cast("string"))) + lit(0.5)) / lit((1L << 60).toDouble)
    val scored = lw
      .withColumn("g_mu",
        round(lit(1e6) * -log(-log(u))).cast("bigint"))
      .withColumn("score_mu", col("lw_mu") + col("g_mu"))
      .orderBy(col("score_mu").desc, col(idCol).asc).limit(k)
    scored
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_mu").desc, col(idCol).asc)).cast("long"))
      .select(col("rnk"), col(idCol),
        (col("lw_mu").cast("double") / lit(1e6)).as("log_weight"),
        (col("g_mu").cast("double") / lit(1e6)).as("gumbel"),
        (col("score_mu").cast("double") / lit(1e6)).as("score"))
  }

  /** HELD-OUT interpolated-KN cross-entropy per source — the
    * self-scoring-bias-free form of [[knCrossEntropyFrom]]: every LM-quality
    * signal in this shelf trains on the corpus it scores, which
    * systematically favors duplicated/templated text (the model has seen
    * it); the proper evaluation trains on a TRAIN carve and scores only
    * the HELD-OUT docs. Split = the house md5 carve (salt 'ho', test ⇔
    * h < 2^60/8 — an exact integer compare, membership a pure function
    * of id, the q113 discipline). The KN model (D = 3/4, [[knLpSql]]'s
    * closed form) is trained on TRAIN bigrams only; held-out bigrams run
    * the FULL interpolation ladder (the [[knImportanceWeightsFrom]]
    * target-side ladder): observed → the standard formula; history
    * observed, bigram unseen → the c2 = 0 clamp leaves λ(w1)·p_cont;
    * history unseen → p_cont = (nc+1)/(T+V) with nc = 0 when the
    * continuation is unseen too. An EMPTY train side (degenerate carve)
    * yields NULL xent, never ln(1/0) (the q344 NULL discipline; oracle
    * mirrors).
    *
    * Output per source: n_docs (held-out docs scored), n_bigrams, xent
    * (token-weighted pooled nats, exact half-up 6 dp). Scale: the q342
    * model plan on the train slice + one left-ladder join over the
    * held-out slice — both filtered re-aggregates of the ONE shared
    * doc-bigram frame (`docBig`, from [[docBigrams]]); no second corpus
    * pass. */
  def heldoutKnXentFrom(docBig: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String, srcCol: String): DataFrame = {
    val hoExpr = Sketches.hash60(concat_ws("#", lit("ho"),
      col(idCol).cast("string"))) < lit(144115188075855872L)
    val dflag = docBig.join(
      docs.select(col(idCol), col(srcCol).as("source"),
        hoExpr.as("__ho")), idCol)
    val big = dflag.where(!col("__ho"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("c2"))
    val hist = big.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val sizes = big.agg(count(lit(1)).as("t_types")).crossJoin(
      docs.where(!hoExpr)
        .select(explode(split(col(textCol), " ")).as("w"))
        .agg(countDistinct(col("w")).as("v")))
    dflag.where(col("__ho"))
      .join(big, Seq("w1", "w2"), "left")
      .join(hist, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(sizes))
      .withColumn("lp_mu", expr(
        """CAST(round(ln(CASE WHEN t_types + v = 0 THEN NULL
          |    WHEN c1 IS NULL
          |    THEN CAST(coalesce(nc, 0) + 1 AS DOUBLE)
          |      / CAST(t_types + v AS DOUBLE)
          |    ELSE CAST(greatest(4 * coalesce(c2, 0) - 3, 0) * (t_types + v)
          |          + 3 * n1p * (coalesce(nc, 0) + 1) AS DOUBLE)
          |      / CAST(4 * c1 * (t_types + v) AS DOUBLE)
          |  END) * 1e6) AS BIGINT)""".stripMargin))
      .groupBy(col("source"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        sum(col("occ") * col("lp_mu")).as("mu"), sum(col("occ")).as("m"))
      .select(col("source"), col("n_docs"), col("m").as("n_bigrams"),
        halfUpXent("mu").as("xent"))
  }

  /** DSIR importance weights with BOTH models Kneser-Ney smoothed — the
    * [[importanceWeights]] upgrade matching [[knCrossEntropyFrom]]'s model
    * form (D = 3/4 absolute discounting, add-one-floored continuation).
    * The production recipe scores with KN-smoothed models on both sides
    * of the ratio; add-one's over-flat unseen mass systematically shrinks
    * |log-ratio| for rare target bigrams.
    *
    * A scored bigram is always observed in the GENERAL model (trained on
    * the scoring corpus) but can be target-unseen, so the target side
    * runs the full interpolation ladder, every rung a BIGINT rational:
    *  - bigram observed: the [[knCrossEntropyFrom]] formula;
    *  - history observed, bigram unseen: the discounted term is
    *    max(4·c2−3, 0) = 0, leaving λ(w1)·p_cont(w2) — SAME formula with
    *    c2 = 0 clamped;
    *  - history unseen: p = p_cont(w2) = (nc+1)/(T_t+V_t), nc = 0 if the
    *    continuation is target-unseen too.
    *
    * Determinism and plan shape as [[importanceWeights]]: per-TYPE
    * micro-nat quantization of both log-probs, exact occ-weighted integer
    * sums, bigram-/history-/continuation-keyed joins over Zipf-bounded
    * model tables, one broadcast (T_g, V_g, T_t, V_t) row.
    * Inputs: a prebuilt [[docBigrams]] aggregate and [[knBigramModel]].
    * The GENERAL side of the ratio IS that model (same corpus, same
    * [[knLpSql]] closed form, so its quantized log-prob is reused as-is);
    * only the target-filtered model is built here, from a filtered
    * re-aggregate of the doc-bigram frame — no second corpus pass. Group
    * and target flags rejoin by id (they are per-document attributes;
    * the join is id-keyed and exact).
    * Output: group, n_bigrams, avg_logratio (nats, 6 dp). */
  def knImportanceWeightsFrom(docBig: DataFrame, knModel: DataFrame,
                              docs: DataFrame, idCol: String, textCol: String,
                              groupCol: String, targetPred: Column)
  : DataFrame = {
    val flags = docs.select(col(idCol), col(groupCol).as("__g"),
      targetPred.as("__tgt"))
    val dflag = docBig.join(flags, idCol)
    // target model: filtered re-aggregate of the same doc-level counts
    val tBig = dflag.where(col("__tgt"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("tc2"))
    val tHist = tBig.groupBy(col("w1"))
      .agg(sum(col("tc2")).as("tc1"), count(lit(1)).as("tn1p"))
    val tCont = tBig.groupBy(col("w2")).agg(count(lit(1)).as("tnc"))
    val sizes = tBig.agg(count(lit(1)).as("tt")).crossJoin(
      docs.where(targetPred)
        .select(explode(split(col(textCol), " ")).as("w"))
        .agg(countDistinct(col("w")).as("tv")))
    dflag
      // general side: the shared model's lp_mu (every scored bigram is
      // observed in it by construction — inner join is a no-op filter)
      .join(knModel, Seq("w1", "w2"))
      .join(tBig, Seq("w1", "w2"), "left")
      .join(tHist, Seq("w1"), "left")
      .join(tCont, Seq("w2"), "left")
      .crossJoin(broadcast(sizes))
      // tt + tv = 0 ⇔ targetPred matched no documents: there IS no target
      // model, so the ratio is undefined — NULL (→ NULL avg_logratio), not
      // ln(1/0) = Inf, whose BIGINT cast is Long.MaxValue on Spark and an
      // error on DuckDB (silent garbage vs failure). Oracle mirrors.
      .withColumn("lr_mu", expr(
        """CAST(round(ln(CASE WHEN tt + tv = 0 THEN NULL
          |    WHEN tc1 IS NULL
          |    THEN CAST(coalesce(tnc, 0) + 1 AS DOUBLE) / CAST(tt + tv AS DOUBLE)
          |    ELSE CAST(greatest(4 * coalesce(tc2, 0) - 3, 0) * (tt + tv)
          |          + 3 * tn1p * (coalesce(tnc, 0) + 1) AS DOUBLE)
          |      / CAST(4 * tc1 * (tt + tv) AS DOUBLE)
          |  END) * 1e6) AS BIGINT)
          |- lp_mu""".stripMargin))
      .groupBy(col("__g"))
      .agg(sum(col("occ") * col("lr_mu")).as("mu"), sum(col("occ")).as("m"))
      .select(col("__g").as(groupCol), col("m").as("n_bigrams"),
        round((col("mu").cast("double") / lit(1e6)) / col("m").cast("double"), 6)
          .as("avg_logratio"))
  }

  /** Data-scaling-law fit (Kaplan et al. 2020; Hoffmann et al. 2022
    * "Chinchilla" — public papers), in-engine: held-out cross-entropy of
    * the interpolated-KN bigram LM at NESTED train-data fractions, plus
    * the log-linear slope — the measurement a data-curation team runs to
    * ask "is more of THIS corpus still buying loss?". The held-out eighth
    * is [[heldoutKnXentFrom]]'s md5 carve (salt 'ho', h < 2^57 — deliberately
    * THE SAME carve, so the k = 7 point is q364's model evaluated pooled);
    * train set k uses the docs with h >= (8−k)·2^57, k ∈ ks — nested by
    * construction (train_1 ⊂ train_2 ⊂ … ), the way a real scaling sweep
    * subsamples one corpus.
    *
    * Per k the FULL q364 interpolation ladder runs against the k-carve
    * model (observed / history-only / unseen-history; empty train → NULL
    * xent, the q344 rule). The fit is OLS of xent on ln(train tokens)
    * over the non-NULL points, with BOTH coordinates micro-quantized
    * BIGINTs (x = round(1e6·ln n), y = the half-up micro-nat xent), so
    * slope = (n·Σxy − Σx·Σy)/(n·Σxx − Σx²) is a single division of two
    * exact integers — no FP accumulation order anywhere (the q170 OLS
    * discipline, integer-hardened). Fewer than 2 points or zero variance
    * → NULL slope. Slope unit: nats per e-fold of training tokens
    * (negative = more data still helps).
    *
    * Scale: the carve flag joins the SHARED doc-bigram frame once and the
    * per-doc unigram frame once (both persisted); every per-k model is a
    * filtered re-aggregate of those two frames — Zipf-bounded TYPE
    * tables, no second corpus pass, |ks| small and fixed. Output per k:
    * train_eighths, n_train_tokens, n_bigrams (held-out scored), xent,
    * slope (the fit, repeated — it IS the result). `docBig` is a
    * prebuilt [[docBigrams]] aggregate.
    *
    * Per-carve models are NOT per-k corpus re-aggregates: the shared
    * frames are collapsed ONCE to per-eighth-BUCKET type tables
    * ((w1, w2, bucket) and (w, bucket), bucket = floor(h/2^57)), and
    * every carve's model is a grid ROLLUP of the buckets >= 8−k —
    * Zipf-bounded work per k regardless of corpus size (nested carves
    * are unions of buckets, so sums of bucket sums equal the carve
    * sums exactly). Only the held-out ladder join runs per k, against
    * the fixed held-out eighth.
    *
    * r20 fold (guide §2.4): the per-k ladders used to be |ks| SEQUENTIAL
    * chains, each re-scanning the held-out eighth and re-joining its own
    * (big, hist, cont) tables — the suite's last serial query at sf0.1
    * (8-vs-32-core ratio 1.00). Now k is a STACKED COLUMN: the bucket
    * tables carry one conditional sum per k (`c2_k = sum(occ) over
    * buckets >= 8−k` — nested carves make each per-k count a conditional
    * aggregate of the SAME rows), the held-out eighth is scanned ONCE
    * through one 3-join chain, and the per-k points come out of ONE
    * aggregate via `stack`. NULL mapping is exact: `sum` of an empty
    * conditional set is NULL, precisely where the per-k left joins
    * produced NULL (RoundSixteenShelfSpec's hand-computed replay and the
    * oracle pin the fold). */
  def dataScalingFitFrom(docBig: DataFrame, docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val ks = Seq(1, 2, 4, 7)
    val eighth = 144115188075855872L // 2^57 = 2^60 / 8
    val flags = docs.select(col(idCol),
      Sketches.hash60(concat_ws("#", lit("ho"),
        col(idCol).cast("string"))).as("__h"))
    val dflag = docBig.join(flags, idCol)
      // integer div, NOT `/`: h spans 60 bits, past double's 53-bit
      // mantissa — FP division would misbucket near eighth boundaries
      .withColumn("__bkt", expr(s"__h div $eighth"))
    // held-out eighth (bucket 0) — scanned ONCE by the single ladder join
    val ho = CacheScope.persist(dflag.where(col("__bkt") === 0L))
    // ALL per-k bigram TYPE tables in one aggregate: c2_k is NULL exactly
    // when the type has no occurrence in carve k (sum over an empty
    // conditional set), matching the old per-k left-join NULL
    val bigAll = CacheScope.persist(dflag.where(col("__bkt") >= 1L)
      .groupBy(col("w1"), col("w2"))
      .agg(sum(when(col("__bkt") >= (8L - ks.head), col("occ")))
          .as(s"c2_${ks.head}"),
        ks.tail.map(k => sum(when(col("__bkt") >= (8L - k), col("occ")))
          .as(s"c2_$k")): _*))
    // history/continuation tables per k from the SAME frame: sum/count
    // skip NULLs, so c1_k is NULL and n1p_k/nc_k are 0 exactly when the
    // old per-k tables had no row
    val histAgg = ks.flatMap(k => Seq(
      sum(col(s"c2_$k")).as(s"c1_$k"), count(col(s"c2_$k")).as(s"n1p_$k")))
    val histAll = bigAll.groupBy(col("w1")).agg(histAgg.head, histAgg.tail: _*)
    val contAgg = ks.map(k => count(col(s"c2_$k")).as(s"nc_$k"))
    val contAll = bigAll.groupBy(col("w2")).agg(contAgg.head, contAgg.tail: _*)
    // per-word train-unigram counts with k stacked the same way
    val uniAgg = ks.map(k =>
      sum(when(col("__bkt") >= (8L - k), 1L)).as(s"uocc_$k"))
    val uniAll = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .join(flags, idCol)
      .withColumn("__bkt", expr(s"__h div $eighth"))
      .where(col("__bkt") >= 1L)
      .groupBy(col("w")).agg(uniAgg.head, uniAgg.tail: _*)
    val sizeAgg = ks.map(k => count(col(s"c2_$k")).as(s"t_types_$k"))
    val vAgg = ks.flatMap(k => Seq(
      count(col(s"uocc_$k")).as(s"v_$k"),
      coalesce(sum(col(s"uocc_$k")), lit(0L)).as(s"ntt_$k")))
    val sizesAll = bigAll.agg(sizeAgg.head, sizeAgg.tail: _*)
      .crossJoin(uniAll.agg(vAgg.head, vAgg.tail: _*))
    val lpCols = ks.map { k =>
      expr(
        s"""CAST(round(ln(CASE WHEN t_types_$k + v_$k = 0 THEN NULL
           |    WHEN c1_$k IS NULL
           |    THEN CAST(coalesce(nc_$k, 0) + 1 AS DOUBLE)
           |      / CAST(t_types_$k + v_$k AS DOUBLE)
           |    ELSE CAST(greatest(4 * coalesce(c2_$k, 0) - 3, 0) * (t_types_$k + v_$k)
           |          + 3 * n1p_$k * (coalesce(nc_$k, 0) + 1) AS DOUBLE)
           |      / CAST(4 * c1_$k * (t_types_$k + v_$k) AS DOUBLE)
           |  END) * 1e6) AS BIGINT)""".stripMargin).as(s"lp_mu_$k")
    }
    val pointAgg = Seq(sum(col("occ")).as("n_bigrams")) ++
      ks.flatMap(k => Seq(
        max(col(s"ntt_$k")).as(s"ntt_$k"),
        sum(col("occ") * col(s"lp_mu_$k")).as(s"mu_$k")))
    val stacked = ks.map(k =>
      s"CAST($k AS BIGINT), ntt_$k, n_bigrams, CAST(CASE WHEN mu_$k IS" +
        s" NOT NULL THEN (2 * (-mu_$k) + n_bigrams) DIV (2 * n_bigrams)" +
        s" END AS BIGINT)").mkString(", ")
    val points = ho
      .join(bigAll, Seq("w1", "w2"), "left")
      .join(histAll, Seq("w1"), "left")
      .join(contAll, Seq("w2"), "left")
      .crossJoin(broadcast(sizesAll))
      .select(col("occ") +: ks.map(k => col(s"ntt_$k")) ++: lpCols: _*)
      .groupBy()
      .agg(pointAgg.head, pointAgg.tail: _*)
      .select(expr(s"stack(${ks.size}, $stacked)" +
        " AS (train_eighths, n_train_tokens, n_bigrams, y_mu)"))
    val curve = CacheScope.persist(points)
    val fit = curve
      .where(col("y_mu").isNotNull && col("n_train_tokens") > 0L)
      .select(expr("CAST(round(ln(CAST(n_train_tokens AS DOUBLE)) * 1e6)" +
        " AS BIGINT)").as("x_mu"), col("y_mu"))
      .agg(count(lit(1)).as("np"), sum(col("x_mu")).as("sx"),
        sum(col("y_mu")).as("sy"),
        sum(col("x_mu") * col("y_mu")).as("sxy"),
        sum(col("x_mu") * col("x_mu")).as("sxx"))
      .select(expr(
        """CASE WHEN np >= 2 AND np * sxx - sx * sx <> 0
          |THEN round(CAST(np * sxy - sx * sy AS DOUBLE)
          |         / CAST(np * sxx - sx * sx AS DOUBLE), 6)
          |END""".stripMargin).as("slope"))
    curve
      .crossJoin(broadcast(fit))
      .select(col("train_eighths"), col("n_train_tokens"), col("n_bigrams"),
        (col("y_mu").cast("double") / lit(1e6)).as("xent"), col("slope"))
  }

  /** PER-GROUP interpolated-KN cross-entropy with per-group MODELS — the
    * multilingual CCNet production shape (Wenzek et al. 2020, public):
    * one LM per language, each trained on ITS OWN slice, each scoring
    * only its own documents. A single corpus-global model (q342) makes
    * minority languages look uniformly "bad" because the model is mostly
    * the majority language; per-group models measure within-group
    * fluency, the signal a per-language quality filter actually needs.
    *
    * Model tables are the [[knBigramModel]] aggregates with the group
    * key PREPENDED — (g, w1, w2) counts, (g, w1) histories, (g, w2)
    * continuations, and a |groups|-row (t_types, v) table joined by
    * group (broadcast — groups are languages, a constant). Every scored
    * bigram is observed in its own group's model by construction (the
    * q342 self-scoring shape, sharded by group), so the closed-form
    * [[knLpSql]] applies with no ladder.
    *
    * Scale: every join and every shuffle carries the group key, so the
    * whole computation shards by language with zero cross-group traffic
    * — the rare LM operator that gets CHEAPER per partition as the
    * corpus gets more multilingual. One corpus pass (the doc-bigram
    * aggregate); everything downstream is Zipf-bounded per group.
    * Output per group: grpCol, n_docs, n_bigrams, xent (pooled
    * token-weighted nats, exact half-up 6 dp). `docBig` is a prebuilt
    * [[docBigrams]] aggregate (the group flag rejoins by id). */
  def groupedKnXentFrom(docBig: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String, grpCol: String): DataFrame =
    groupedKnXentFromScored(
      groupedKnScoredFrom(docBig, docs, idCol, textCol, grpCol),
      idCol, grpCol)

  /** [[groupedKnXentFrom]]'s pooling stage over a prebuilt
    * [[groupedKnScoredFrom]] frame — the shared-cache consumer form. */
  def groupedKnXentFromScored(scored: DataFrame, idCol: String,
                              grpCol: String): DataFrame =
    scored
      .groupBy(col("__g"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        sum(col("occ") * col("lp_mu")).as("mu"), sum(col("occ")).as("m"))
      .select(col("__g").as(grpCol), col("n_docs"), col("m").as("n_bigrams"),
        halfUpXent("mu").as("xent"))

  /** PER-DOCUMENT cross-entropy under the per-group models — the
    * [[knCrossEntropyFrom]] output contract (idCol, n_bigrams, xent),
    * each document scored by ITS OWN group's KN model. The frame the
    * multilingual CCNet mix composes with [[tercileMix]] (per-language
    * terciles over per-language models — q374). */
  def groupedKnXentPerDocFrom(docBig: DataFrame, docs: DataFrame,
                              idCol: String, textCol: String,
                              grpCol: String): DataFrame =
    groupedKnXentPerDocFromScored(
      groupedKnScoredFrom(docBig, docs, idCol, textCol, grpCol), idCol)

  /** [[groupedKnXentPerDocFrom]]'s per-doc stage over a prebuilt
    * [[groupedKnScoredFrom]] frame — the shared-cache consumer form. */
  def groupedKnXentPerDocFromScored(scored: DataFrame,
                                    idCol: String): DataFrame =
    xentPerDoc(scored, idCol, "n_bigrams")

  /** The ONE grouped-model scoring stage behind [[groupedKnXentFrom]]
    * and [[groupedKnXentPerDocFrom]] — group-keyed model aggregates, the
    * [[knLpSql]] closed form per (group, bigram) type. One row per
    * (doc, group, bigram type) with columns (idCol, __g, occ, lp_mu, …);
    * session-shared as the `lang_kn_scored` SharedCaches entry (it feeds
    * q369 AND q374). */
  def groupedKnScoredFrom(docBig: DataFrame, docs: DataFrame,
                          idCol: String, textCol: String,
                          grpCol: String): DataFrame = {
    val dflag = docBig
      .join(docs.select(col(idCol), col(grpCol).as("__g")), idCol)
    val big = dflag.groupBy(col("__g"), col("w1"), col("w2"))
      .agg(sum(col("occ")).as("c2"))
    val hist = big.groupBy(col("__g"), col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    val cont = big.groupBy(col("__g"), col("w2"))
      .agg(count(lit(1)).as("nc"))
    val sizes = big.groupBy(col("__g"))
      .agg(count(lit(1)).as("t_types"))
      .join(docs.select(col(grpCol).as("__g"),
          explode(split(col(textCol), " ")).as("w"))
        .groupBy(col("__g")).agg(countDistinct(col("w")).as("v")),
        Seq("__g"))
    dflag
      .join(big, Seq("__g", "w1", "w2"))
      .join(hist, Seq("__g", "w1"))
      .join(cont, Seq("__g", "w2"))
      .join(broadcast(sizes), Seq("__g"))
      .withColumn("lp_mu", expr(knLpSql))
  }

  /** Min-K%++ membership score (Zhang et al. 2024, "Min-K%++: Improved
    * Baselines for Detecting Pre-training Data from LLMs" — public
    * paper): q354's Min-K% with each token's log-probability NORMALIZED
    * by its context's next-token distribution — z = (ln p(w2|w1) − μ(w1))
    * / σ(w1), where μ/σ are the mean and standard deviation of
    * ln p(·|w1) UNDER p(·|w1) (μ = −entropy of the next-token
    * distribution). The paper's insight: raw Min-K% confuses "this token
    * is rare" with "this context is high-entropy"; the z-score asks
    * whether the token is a LOCAL MODE of its own context — the actual
    * memorization signature. Doc score = mean z of the bottom kNum/kDen
    * instances (the q354 in-row fold).
    *
    * The hard part at scale is μ/σ: they are moments over the FULL vocab
    * for EVERY history — naively |histories|·|V| work. Closed form
    * instead: under interpolated KN, p(v|w1) for v UNSEEN after w1 is
    * λ(w1)·p_cont(v) with λ(w1) = 3·n1p/(4·c1), so
    * Σ_unseen p·(ln p)^j expands into λ·Σ_unseen p_cont·(ln λ +
    * ln p_cont)^j — and Σ_unseen f(p_cont) = GLOBAL_f − Σ_observed
    * f(p_cont). The global sums are THREE numbers over the (nc+1)-VALUE
    * GRID (continuation counts are Zipf — the grid is tiny and constant
    * in corpus size); the observed sums are per-history aggregates over
    * the bigram TYPE table. Total work: one grid pass + one type-table
    * pass — never |histories|·|V|.
    *
    * Determinism: every summed term (observed p·(ln p)^j, observed
    * p_cont·(ln p_cont)^j, grid gcnt·p_cont·(ln p_cont)^j) is quantized
    * to an exact pico-unit BIGINT (1e-12) per TYPE/grid row, so all
    * cross-row sums are integer; μ/σ are then single fixed-order double
    * expressions of those integers per history (grid-row vs per-type
    * rounding differ by ≤1 pico-unit per row — a defined, deterministic
    * approximation both engines share). σ = 0 → NULL z (excluded, with
    * n_bigrams counting scored instances only). Output: doc_id,
    * n_bigrams, minkpp (mean bottom-k z, 6 dp — typically negative).
    * `docBig` is a prebuilt [[docBigrams]] aggregate. */
  def minKppProbFrom(docBig: DataFrame, docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val kNum = 1
    val kDen = 5
    val big = docBig.groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("c2"))
    val hist = big.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1p"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("nc"))
    val vocab = docs.select(explode(split(col(textCol), " ")).as("w"))
      .distinct()
      .join(cont.withColumnRenamed("w2", "w"), Seq("w"), "left")
      .select(col("w"), coalesce(col("nc"), lit(0L)).as("nc"))
    val sizes = big.agg(count(lit(1)).as("t_types")).crossJoin(
      vocab.agg(count(lit(1)).as("v")))
    // continuation probability / full KN probability — ONE formula text
    // each, shared by the grid, the observed sums and the scoring join
    val pc = "CAST(nc + 1 AS DOUBLE) / CAST(t_types + v AS DOUBLE)"
    val pf = "CAST((4 * c2 - 3) * (t_types + v) + 3 * n1p * (nc + 1)" +
      " AS DOUBLE) / CAST(4 * c1 * (t_types + v) AS DOUBLE)"
    // global p_cont moments over the (nc+1)-value grid, pico-quantized
    // per grid row then integer-summed
    val glob = vocab.groupBy(col("nc")).agg(count(lit(1)).as("gcnt"))
      .crossJoin(broadcast(sizes))
      .select(
        expr(s"CAST(round(CAST(gcnt AS DOUBLE) * ($pc) * 1e12) AS BIGINT)")
          .as("g0r"),
        expr(s"CAST(round(CAST(gcnt AS DOUBLE) * ($pc) * ln($pc) * 1e12)" +
          " AS BIGINT)").as("g1r"),
        expr(s"CAST(round(CAST(gcnt AS DOUBLE) * ($pc) * ln($pc) * ln($pc)" +
          " * 1e12) AS BIGINT)").as("g2r"))
      .agg(sum(col("g0r")).as("g0"), sum(col("g1r")).as("g1"),
        sum(col("g2r")).as("g2"))
    // per-history observed sums: full-p moments (a1, a2) and p_cont
    // moments (b0, b1, b2), pico-quantized per bigram TYPE
    val obs = big.join(hist, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(sizes))
      .select(col("w1"),
        expr(s"CAST(round(($pf) * ln($pf) * 1e12) AS BIGINT)").as("a1r"),
        expr(s"CAST(round(($pf) * ln($pf) * ln($pf) * 1e12) AS BIGINT)")
          .as("a2r"),
        expr(s"CAST(round(($pc) * 1e12) AS BIGINT)").as("b0r"),
        expr(s"CAST(round(($pc) * ln($pc) * 1e12) AS BIGINT)").as("b1r"),
        expr(s"CAST(round(($pc) * ln($pc) * ln($pc) * 1e12) AS BIGINT)")
          .as("b2r"))
      .groupBy(col("w1"))
      .agg(sum(col("a1r")).as("a1"), sum(col("a2r")).as("a2"),
        sum(col("b0r")).as("b0"), sum(col("b1r")).as("b1"),
        sum(col("b2r")).as("b2"))
    val hstats = hist.join(obs, Seq("w1"))
      .crossJoin(broadcast(glob))
      .withColumn("lam", expr(
        "CAST(3 * n1p AS DOUBLE) / CAST(4 * c1 AS DOUBLE)"))
      .withColumn("mu_h", expr(
        """CAST(a1 AS DOUBLE) / 1e12 + lam * (ln(lam)
          | * (CAST(g0 - b0 AS DOUBLE) / 1e12)
          | + CAST(g1 - b1 AS DOUBLE) / 1e12)""".stripMargin))
      .withColumn("sg_h", expr(
        """sqrt(greatest(CAST(a2 AS DOUBLE) / 1e12 + lam * (ln(lam) * ln(lam)
          | * (CAST(g0 - b0 AS DOUBLE) / 1e12)
          | + 2 * ln(lam) * (CAST(g1 - b1 AS DOUBLE) / 1e12)
          | + CAST(g2 - b2 AS DOUBLE) / 1e12) - mu_h * mu_h, 0))"""
          .stripMargin))
      .select(col("w1"), col("mu_h"), col("sg_h"))
    val scoredTypes = big.join(hist, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(sizes))
      .join(hstats, Seq("w1"))
      .select(col("w1"), col("w2"),
        expr(s"""CASE WHEN sg_h > 0 THEN
          |CAST(round((ln($pf) - mu_h) / sg_h * 1e6) AS BIGINT) END"""
          .stripMargin).as("z_mu"))
    bottomKFold(docBig.join(scoredTypes, Seq("w1", "w2"))
      .where(col("z_mu").isNotNull), idCol, "z_mu", kNum, kDen)
      .select(col(idCol), col("m").as("n_bigrams"),
        // SIGNED half-up integer division (z sums can be negative; a
        // double round() hits decimal-boundary disagreements between
        // engines — one sf0.01 row did)
        (expr("""CAST(CASE WHEN agg.s >= 0
          |  THEN (2 * agg.s + agg.t) DIV (2 * agg.t)
          |  ELSE -((2 * (-agg.s) + agg.t) DIV (2 * agg.t))
          |  END AS BIGINT)""".stripMargin).cast("double") / lit(1e6))
          .as("minkpp"))
  }

  /** Jelinek-Mercer deleted-interpolation EM (Jelinek & Mercer 1980;
    * Chen & Goodman 1998 §2.4 — public): the CLASSIC way to set an
    * interpolation weight, estimating λ in
    * p(w2|w1) = λ·p_ML(w2|w1) + (1−λ)·p_uni(w2) by EM on HELD-OUT data
    * — the ancestor of every smoothing knob on this shelf, and the one
    * whose value is LEARNED from the corpus rather than fixed (KN's
    * D = 3/4). Train side supplies the ML bigram model (c2/c1; unseen
    * bigram or history → 0) and the add-one unigram (cu+1)/(N+V);
    * held-out bigram instances drive `rounds` EM updates from
    * λ0 = 1/2:  λ' = Σ occ·q / Σ occ  with per-TYPE posterior
    * q = λ·p_b / (λ·p_b + (1−λ)·p_uni). Split = the house 'ho' md5
    * carve (the q364/q368 split, deliberately the same).
    *
    * Determinism: p_b and p_uni are fixed-order exact-int-ratio doubles
    * computed ONCE per held-out type; each round's posterior is
    * micro-quantized per type (6-dp half-up), λ is the exact half-up
    * integer division of BIGINT sums, and the round's held-out
    * cross-entropy re-enters λ only as that exact integer — so the
    * whole trajectory is replayable bit-for-bit (the DoReMi q356
    * round-ladder discipline). A zero mixture (possible only at the
    * λ = 1 boundary on an unseen bigram) scores NULL, never ln(0).
    *
    * Scale: one corpus pass (the shared doc-bigram frame split by the
    * carve flag); model and held-out tables are Zipf-bounded TYPE
    * tables; each round is one broadcast of the 1-row λ + one aggregate
    * over the held-out TYPE table — constant rounds, no corpus re-scan.
    * Output per round r = 1..rounds: round, lambda (λ_r, 6 dp),
    * n_bigrams (held-out instances), heldout_xent (under λ_r). `docBig`
    * is a prebuilt [[docBigrams]] aggregate. */
  def jmDeletedInterpolationFrom(docBig: DataFrame, docs: DataFrame,
                                 idCol: String, textCol: String): DataFrame = {
    val rounds = 3
    val eighth = 144115188075855872L // 2^57 = 2^60 / 8
    val flags = docs.select(col(idCol),
      (Sketches.hash60(concat_ws("#", lit("ho"),
        col(idCol).cast("string"))) < lit(eighth)).as("__ho"))
    val dflag = docBig.join(flags, idCol)
    val big = dflag.where(!col("__ho"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("c2"))
    val hist = big.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val uni = docs.join(flags, idCol).where(!col("__ho"))
      .select(explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val sizes = uni.agg(
      (coalesce(sum(col("cu")), lit(0L)) + count(lit(1))).as("nv"))
    // held-out TYPE table with both component probabilities, fixed-order
    // doubles from exact integers — computed once, reused every round
    val scored = CacheScope.persist(dflag.where(col("__ho"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("occ"))
      .join(big, Seq("w1", "w2"), "left")
      .join(hist, Seq("w1"), "left")
      .join(uni.withColumnRenamed("w", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(sizes))
      .withColumn("pb", expr(
        """CASE WHEN c1 IS NULL THEN CAST(0 AS DOUBLE)
          |ELSE CAST(coalesce(c2, 0) AS DOUBLE) / CAST(c1 AS DOUBLE) END"""
          .stripMargin))
      // nv = 0 <=> the train side is empty: there IS no unigram model, so
      // the mixture is undefined — NULL (-> NULL xent), never 1/0 = Inf
      .withColumn("pu", expr(
        """CASE WHEN nv = 0 THEN NULL
          |ELSE CAST(coalesce(cu, 0) + 1 AS DOUBLE) / CAST(nv AS DOUBLE)
          |END""".stripMargin))
      .select(col("occ"), col("pb"), col("pu")))
    val mixSql =
      """(CAST(lmu AS DOUBLE) / 1e6) * pb
        |+ (1.0 - CAST(lmu AS DOUBLE) / 1e6) * pu""".stripMargin
    var lam = scored.sparkSession.range(1)
      .select(lit(500000L).as("lmu"))
    val rows = (1 to rounds).map { r =>
      val nextLam = scored.crossJoin(broadcast(lam))
        .withColumn("q_mu", expr(
          s"""CAST(round(CASE WHEN pb = 0 THEN CAST(0 AS DOUBLE)
             |ELSE ((CAST(lmu AS DOUBLE) / 1e6) * pb) / ($mixSql)
             |END * 1e6) AS BIGINT)""".stripMargin))
        .agg(expr("CAST((2 * sum(occ * q_mu) + sum(occ))" +
          " DIV (2 * sum(occ)) AS BIGINT)").as("lmu"))
      lam = nextLam.localCheckpoint(true)
      scored.crossJoin(broadcast(lam))
        .withColumn("lp_mu", expr(
          s"""CAST(round(ln(CASE WHEN ($mixSql) > 0 THEN ($mixSql) END)
             | * 1e6) AS BIGINT)""".stripMargin))
        .agg(max(col("lmu")).as("lmu"),
          sum(col("occ") * col("lp_mu")).as("mu"), sum(col("occ")).as("m"))
        .select(lit(r.toLong).as("round"),
          (col("lmu").cast("double") / lit(1e6)).as("lambda"),
          col("m").as("n_bigrams"),
          (expr("CAST(CASE WHEN mu IS NOT NULL THEN" +
            " (2 * (-mu) + m) DIV (2 * m) END AS BIGINT)").cast("double")
            / lit(1e6)).as("heldout_xent"))
    }
    rows.reduce(_.unionByName(_))
  }

  /** Per-language UniMax over the CCNet lineage — the multilingual
    * budget stage the q374 mix feeds into: within each language, keep
    * the head + middle terciles of the per-doc own-language KN scores
    * (the q374 integer order-statistic cuts — CCNet trains on
    * head/middle and discards the tail, Wenzek et al. 2020 §4.3), then
    * split the global token budget across LANGUAGES with
    * [[graft.operators.Scale.unimaxMix]]'s closed-form waterfilling
    * (UniMax's sources ARE languages in Chung et al. 2023) — epoch caps
    * per language over the KEPT token counts, so no language's junk
    * tail inflates its budget share.
    *
    * `scoredDocs` is the (idCol, n_bigrams, xent) per-doc frame from
    * [[groupedKnXentPerDocFromScored]] (the session-shared
    * `lang_kn_scored` lineage); docs with < 2 tokens carry no bigrams,
    * are never scored, and do not participate (the q374 contract).
    * xent's exact integer image is recovered via round(xent·1e6) — the
    * tercile stage is the same value-grid integer order statistic as
    * [[tercileMix]], partitioned by language.
    *
    * Scale: tercile cuts on the per-language (xmu) VALUE GRID (grid
    * window, never a window over doc rows); the keep join broadcasts
    * |langs| cut rows; the waterfill is [[Scale.unimaxMix]]'s
    * grid-bounded segment arithmetic. Every shuffle before the
    * |langs|-row waterfill carries the lang key. Output per language:
    * lang, n_tokens (kept), cap, allocation, epochs. */
  def langUnimaxFromScored(scoredDocs: DataFrame, docs: DataFrame,
                           idCol: String, textCol: String, langCol: String): DataFrame = {
    val scored = scoredDocs
      .select(col(idCol), expr("CAST(round(xent * 1e6) AS BIGINT)").as("__xmu"))
      .join(docs.select(col(idCol), col(langCol).as("lang"),
        col(textCol).as("__txt")), idCol)
    val vals = scored.groupBy(col("lang"), col("__xmu"))
      .agg(count(lit(1)).as("__c"))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("__xmu"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cuts = vals.withColumn("__cum", sum(col("__c")).over(cumW))
      .join(vals.groupBy(col("lang")).agg(sum(col("__c")).as("__n")), "lang")
      .groupBy(col("lang"))
      .agg(min(when(col("__cum") * 3 >= col("__n") * 2, col("__xmu")))
        .as("__cut2"))
    val kept = scored.join(broadcast(cuts), "lang")
      .where(col("__xmu") <= col("__cut2"))
    Scale.unimaxMix(kept.select(col("lang"), col("__txt")), "lang", "__txt")
      .withColumnRenamed("source", "lang")
  }

  /** KenLM-style quantized-model size/loss audit (Heafield 2011;
    * Whittaker & Raj 2001 — public: production n-gram inference stores
    * each type's log-probability as a b-bit codebook index over
    * equal-frequency bins, not a float): for each bit width (4, 8 and
    * 16), report the model's memory at that quantization and the corpus
    * cross-entropy delta the quantization costs — the size/quality trade
    * table an LM shelf ships with.
    *
    * Quantizer (a MONOTONE function of the value, so equal lp_mu always
    * means equal code — ties cannot split): bin(v) = ⌊cumBefore(v) ·
    * 2^bits / n_types⌋ with cumBefore the count of strictly-smaller
    * valued types — an order-statistic cut on the lp_mu VALUE GRID (the
    * q343 discipline: one value-keyed aggregate + one grid window, never
    * a window over type rows). Codebook value per bin = exact half-up
    * integer mean of the bin's micro-nat magnitudes ((2·Σm + n) div
    * (2·n) on m = −lp_mu ≥ 0). When 2^bits ≥ the distinct-value count
    * every bin is a singleton and the delta is exactly 0 — the audit's
    * saturation row.
    *
    * Corpus xent under each codebook runs ENTIRELY on the value grid
    * (per-value occurrence mass × its bin's code value — the type table
    * is never re-joined); sums are DECIMAL(38,0)-widened (occ·15e6
    * micro-nats passes 2^63 near ~6e11 corpus bigrams — inside the
    * 100 TB design point, unlike the per-doc sums elsewhere).
    *
    * Output per bit width: bits, n_types, n_bins_used, prob_bytes
    * (⌈n_types·bits/8⌉), codebook_bytes (8 per used bin), xent, xent_q,
    * xent_delta (nats, 6 dp, delta exact from the micro images). */
  def knQuantAudit(model: DataFrame, docBig: DataFrame): DataFrame = {
    val bitsList = Seq(4, 8, 16)
    val big = docBig.groupBy(col("w1"), col("w2"))
      .agg(sum(col("occ")).as("occ"))
    // value grid: per distinct lp_mu, type count + occurrence mass
    val grid = CacheScope.persist(
      big.join(model, Seq("w1", "w2"))
        .groupBy(col("lp_mu"))
        .agg(count(lit(1)).as("tc"), sum(col("occ")).as("socc")))
    val gw = org.apache.spark.sql.expressions.Window.orderBy(col("lp_mu"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val ranked = grid
      .withColumn("__cb", sum(col("tc")).over(gw) - col("tc"))
      .withColumn("__m", -col("lp_mu"))
    val totals = grid.agg(sum(col("tc")).as("n_types"),
      sum(col("socc")).as("n_occ"),
      // exact-model corpus xent micro image, DECIMAL(38,0)-widened
      expr("CAST((2 * sum(CAST(socc AS DECIMAL(38,0)) * (-lp_mu))" +
        " + sum(socc)) DIV (2 * sum(socc)) AS BIGINT)").as("__xmu"))
    val perBits = bitsList.map { b =>
      val binned = ranked.crossJoin(broadcast(totals))
        .withColumn("__bin",
          expr(s"CAST(__cb * CAST(${1L << b} AS BIGINT) DIV n_types" +
            " AS BIGINT)"))
      val codes = binned.groupBy(col("__bin"))
        .agg(expr("CAST((2 * sum(CAST(tc AS DECIMAL(38,0)) * __m) + sum(tc))" +
            " DIV (2 * sum(tc)) AS BIGINT)").as("__mq"),
          sum(col("socc")).as("__bocc"))
      codes.crossJoin(broadcast(totals))
        .agg(max(col("n_types")).as("n_types"),
          count(lit(1)).as("n_bins_used"),
          expr("CAST((2 * sum(CAST(__bocc AS DECIMAL(38,0)) * __mq)" +
            " + max(n_occ)) DIV (2 * max(n_occ)) AS BIGINT)").as("__xqmu"),
          max(col("__xmu")).as("__xmu"))
        .select(lit(b.toLong).as("bits"), col("n_types"), col("n_bins_used"),
          expr(s"CAST((n_types * $b + 7) DIV 8 AS BIGINT)").as("prob_bytes"),
          (col("n_bins_used") * 8L).as("codebook_bytes"),
          (col("__xmu").cast("double") / lit(1e6)).as("xent"),
          (col("__xqmu").cast("double") / lit(1e6)).as("xent_q"),
          ((col("__xqmu") - col("__xmu")).cast("double") / lit(1e6))
            .as("xent_delta"))
    }
    perBits.reduce(_.unionByName(_))
  }
}
