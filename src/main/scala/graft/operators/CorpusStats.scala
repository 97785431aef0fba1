package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-level term statistics for LLM-data analysis: collocation mining
  * (PMI) and Zipf-law fit — the "what is IN this corpus" companions to the
  * per-document quality screens (entropy, repetition, LM cross-entropy).
  *
  * Scale design: both operators reduce the corpus to its VOCABULARY before
  * any expensive step. Vocabulary-sized tables are Zipf-bounded — they grow
  * roughly with the log of the corpus, not its size — so vocabulary-keyed
  * shuffles, windows over per-group vocab, and pair expansions bounded by
  * per-document distinct terms all survive a 100x corpus where anything
  * corpus x corpus would not.
  *
  * Determinism: log values are quantized to integer micro-units
  * (`round(ln(x)·1e6)` as BIGINT — the TextLm/TextRank discipline) before
  * any sum, so aggregates are exact integer arithmetic, order-free under
  * partial aggregation, and replayable bit-for-bit by a SQL oracle.
  */
object CorpusStats {

  /** Within-document token co-occurrence PMI — collocation mining, the
    * classic phrase/word-association signal (Church & Hanks 1990):
    * pmi(a,b) = ln( N · docs(a,b) / (docs(a) · docs(b)) ) over DOCUMENT
    * co-occurrence counts. Output: tok_a, tok_b (tok_a < tok_b), n_ab,
    * pmi (6 dp) for pairs with n_ab >= minPairCount.
    *
    * Plan: per-doc DISTINCT tokens (one narrow explode), then a doc-keyed
    * self-join expands each document's token-pair set — bounded by
    * (per-doc distinct tokens)^2, the collocation-mining analogue of the
    * LSH bucket expansion, NOT corpus x corpus. The pair count + the two
    * unary counts meet through pair-keyed equi-joins.
    *
    * The single ln() runs once per surviving PAIR TYPE on an exact integer
    * ratio, rounded to 6 dp — no sums over doubles anywhere. */
  def tokenPmi(docs: DataFrame, idCol: String, textCol: String,
               minPairCount: Long): DataFrame = {
    val dt = docs.select(col(idCol).as("__id"),
        explode(array_distinct(split(col(textCol), " "))).as("tok"))
      .where(length(col("tok")) >= 1)
    val nDocs = docs.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val kept = dt.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val dtk = dt.join(kept.select(col("tok")), "tok")
    val pairs = dtk.join(
        dtk.select(col("__id"), col("tok").as("tok_b")), "__id")
      .where(col("tok") < col("tok_b"))
      .groupBy(col("tok").as("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPairCount)
    pairs
      .join(kept.select(col("tok").as("tok_a"), col("c").as("__ca")), "tok_a")
      .join(kept.select(col("tok").as("tok_b"), col("c").as("__cb")), "tok_b")
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        round(log((col("n_docs") * col("n_ab")).cast("double") /
          (col("__ca") * col("__cb")).cast("double")), 6).as("pmi"))
  }

  /** Characteristic vocabulary per source — Dunning log-likelihood (G²)
    * keyness: for each (source, token), how improbably OVER-represented the
    * token's occurrence count is in that source against the rest of the
    * corpus (Dunning 1993, the corpus-linguistics standard; it is what
    * "what makes this crawl slice different" reports are built on). Output:
    * the top `k` over-represented tokens per source — source, tok,
    * n_in_source, g2 (6 dp), rank.
    *
    * Plan: ONE tokenize pass aggregated on (source, token); per-token
    * corpus counts re-aggregate that table (no second pass); per-source
    * totals and the grand total are |sources|-row / 1-row broadcasts. The
    * G² formula is closed-form PER ROW — no aggregation over doubles
    * anywhere, so cross-engine determinism needs only the ln-ulp
    * robustness the 6 dp round provides (the q101/q125 discipline). The
    * only window ranks the per-source vocabulary — Zipf-bounded, the q82
    * precedent. Count ratios go through doubles (a·N as BIGINT would
    * overflow at web scale where a~1e12, N~1e14).
    *
    * `minCount` drops rare tokens (keyness over tiny counts is noise);
    * only over-represented tokens (a/Tₛ > C_t/N) are ranked — the
    * under-represented tail is the OTHER sources' signal. */
  def sourceKeyness(docs: DataFrame, groupCol: String, textCol: String,
                    k: Int, minCount: Long): DataFrame = {
    val st = docs.select(col(groupCol).as("__g"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("__g"), col("tok")).agg(count(lit(1)).as("a"))
    val perSource = st.groupBy(col("__g")).agg(sum(col("a")).as("ts"))
    val perTok = st.groupBy(col("tok")).agg(sum(col("a")).as("ct"))
    val grand = st.agg(sum(col("a")).as("n"))
    st.where(col("a") >= minCount)
      .join(broadcast(perSource), "__g")   // |sources| rows
      .join(perTok, "tok")                 // vocab-keyed equi-join
      .crossJoin(broadcast(grand))         // 1-row total
      // over-representation gate in exact integer cross-products would
      // overflow; the double ratio is exact enough for a strict inequality
      .where(col("a").cast("double") / col("ts").cast("double") >
        col("ct").cast("double") / col("n").cast("double"))
      .withColumn("g2", round(
        lit(2.0) * (col("a").cast("double") *
            log(col("a").cast("double") * col("n").cast("double") /
              (col("ts").cast("double") * col("ct").cast("double"))) +
          when(col("ct") > col("a"),
            (col("ct") - col("a")).cast("double") *
              log((col("ct") - col("a")).cast("double") * col("n").cast("double") /
                ((col("n") - col("ts")).cast("double") * col("ct").cast("double"))))
            .otherwise(lit(0.0))), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__g")).orderBy(col("g2").desc, col("tok").asc)))
      .where(col("rank") <= k)
      .select(col("__g").as(groupCol), col("tok"), col("a").as("n_in_source"),
        col("g2"), col("rank").cast("bigint").as("rank"))
  }

  /** Nucleus (top-p) vocabulary coverage per group: the number of distinct
    * tokens, taken most-frequent-first, needed to cover fraction `p` of the
    * group's token occurrences — the "how head-heavy is this source"
    * companion to [[zipfSlope]] (a tokenizer/compression planning stat: a
    * source whose p90 nucleus is 50 tokens is template spam; natural text
    * needs thousands). Output: group, vocab_size, total_tokens, n_top_p.
    *
    * Plan: one (group, token) count, then rank + running-sum windows over
    * the per-group VOCABULARY (Zipf-bounded, never the data — the q125
    * precedent), a broadcast |groups|-row totals join, one final keyed
    * count. A token is in the nucleus iff coverage strictly before it is
    * under p·total — exact BIGINT cumsum against a double threshold,
    * deterministic ties by (count desc, token asc). */
  def nucleusCoverage(docs: DataFrame, groupCol: String, textCol: String,
                      p: Double): DataFrame = {
    require(p > 0.0 && p < 1.0, "p must be strictly inside (0,1)")
    val cnt = docs.select(col(groupCol).as("__g"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("__g"), col("tok")).agg(count(lit(1)).as("c"))
    val totals = cnt.groupBy(col("__g"))
      .agg(sum(col("c")).as("__t"), count(lit(1)).as("vocab_size"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("c").desc, col("tok").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    cnt.withColumn("__cb", coalesce(sum(col("c")).over(w), lit(0L)))
      .join(broadcast(totals), "__g")
      .groupBy(col("__g"), col("vocab_size"), col("__t"))
      .agg(sum(when(col("__cb").cast("double") <
          lit(p) * col("__t").cast("double"), 1L).otherwise(0L)).as("n_top_p"))
      .select(col("__g").as(groupCol), col("vocab_size"),
        col("__t").as("total_tokens"), col("n_top_p"))
  }

  /** The (`__g`, tok, c) token counts per group of [[jsDivergence]] and
    * [[oovRate]], and the corpus's top-`topV` tokens (tok, ct) by total
    * count, ties by token — via orderBy+limit => TakeOrderedAndProject (a
    * distributed top-k, never a single-partition sort of the vocabulary). */
  private def topVocab(docs: DataFrame, groupCol: String, textCol: String,
                       topV: Int): (DataFrame, DataFrame) = {
    val cnt = docs.select(col(groupCol).as("__g"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("__g"), col("tok")).agg(count(lit(1)).as("c"))
    (cnt, cnt.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("tok").asc).limit(topV))
  }

  /** Pairwise Jensen-Shannon divergence between per-group unigram
    * distributions, restricted to the corpus-wide top-`topV` tokens — the
    * distribution-level "how different are these slices" companion to
    * [[sourceKeyness]] (which names individual tokens). JS is symmetric,
    * bounded by ln 2, and zero iff the restricted distributions agree —
    * the standard corpus-drift / source-similarity scalar. Output:
    * group_a, group_b (a < b), n_common (tokens present in both),
    * js_divergence (nats, 6 dp).
    *
    * Plan: one (group, token) count; the global top-V vocabulary comes from
    * a rank window over the VOCABULARY table (Zipf-bounded — the q82/q125
    * precedent) and caps every later table at |groups|·V rows, so the
    * group-pair expansion is a join between two tiny broadcastable tables
    * no matter the corpus size. Restricting to the shared top-V also makes
    * the measure well-defined (full-vocab JS would need smoothing choices
    * the oracle could not replay exactly).
    *
    * Determinism: each token's JS contribution is computed once per
    * (pair, token) row — the expression text is shared with the SQL oracle
    * so both engines run the identical IEEE op sequence — then quantized to
    * micro-units and summed exactly (the TextLm discipline). */
  def jsDivergence(docs: DataFrame, groupCol: String, textCol: String,
                   topV: Int): DataFrame = {
    val (cnt, vocab) = topVocab(docs, groupCol, textCol, topV)
    val top = vocab.select(col("tok"))
    val restricted = cnt.join(top, "tok")
    val totals = restricted.groupBy(col("__g")).agg(sum(col("c")).as("t"))
    // full |groups| x V grid so tokens missing from one group score as p=0
    val grid = top.crossJoin(broadcast(totals)) // V x |groups| rows, tiny
      .join(restricted, Seq("__g", "tok"), "left")
      .select(col("__g"), col("tok"), col("t"), coalesce(col("c"), lit(0L)).as("c"))
    val a = grid.select(col("__g").as("group_a"), col("tok"),
      col("c").as("ca"), col("t").as("ta"))
    val b = grid.select(col("__g").as("group_b"), col("tok"),
      col("c").as("cb"), col("t").as("tb"))
    a.join(b, Seq("tok"))
      .where(col("group_a") < col("group_b"))
      // identical expression text to the oracle => identical IEEE sequence
      .withColumn("mu", expr(
        """CAST(round((
          |  CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)) *
          |    ln((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)) /
          |      ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) +
          |        CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) / 2)) ELSE 0.0 END +
          |  CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) *
          |    ln((CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) /
          |      ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) +
          |        CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) / 2)) ELSE 0.0 END
          |) * 5e5) AS BIGINT)""".stripMargin))
      .groupBy(col("group_a"), col("group_b"))
      .agg(sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L)).as("n_common"),
        sum(col("mu")).as("__mu"))
      .select(col("group_a"), col("group_b"), col("n_common"),
        round(col("__mu").cast("double") / lit(1e6), 6).as("js_divergence"))
  }

  /** Out-of-vocabulary occurrence rate per group against the corpus-wide
    * top-`topV` vocabulary — the "how well would a fixed vocab tokenizer
    * cover this slice" planning stat (high OOV => byte-fallback blowup for
    * that source). Output: group, total_tokens, oov_occurrences, oov_rate.
    *
    * Plan: one (group, token) count reused for both the global vocabulary
    * (re-aggregate, rank window over the Zipf-bounded vocab table) and the
    * per-group rollup; membership is a vocab-keyed left join marked before
    * the final |groups|-row aggregate. Exact BIGINT counts, one division. */
  def oovRate(docs: DataFrame, groupCol: String, textCol: String,
              topV: Int): DataFrame = {
    val (cnt, vocab) = topVocab(docs, groupCol, textCol, topV)
    val top = vocab.select(col("tok"), lit(1L).as("__in"))
    cnt.join(top, Seq("tok"), "left")
      .groupBy(col("__g"))
      .agg(sum(col("c")).as("total_tokens"),
        sum(when(col("__in").isNull, col("c")).otherwise(0L)).as("oov_occurrences"))
      .select(col("__g").as(groupCol), col("total_tokens"), col("oov_occurrences"),
        (col("oov_occurrences").cast("double") / col("total_tokens").cast("double"))
          .as("oov_rate"))
  }

  /** Training-mix plan: given per-group available token counts and a total
    * token budget (`budgetFrac` of the corpus), split the budget uniformly
    * across groups and report, per group, how many tokens it must supply
    * and the implied epoch count — the repeat-factor sheet a pretraining
    * data order is built from (groups over `maxEpochs` flag a mix the
    * curriculum cannot honor without quality loss). Output: group,
    * available_tokens, target_tokens, epochs (6 dp), needs_upsampling,
    * over_cap.
    *
    * Plan: one narrow projection summed per group (map-side combined), a
    * 1-row corpus total broadcast, closed-form per-group arithmetic —
    * nothing here grows with anything but the number of groups. */
  def mixPlan(docs: DataFrame, groupCol: String, textCol: String,
              maxEpochs: Double): DataFrame = {
    val budgetFrac = 0.5
    val avail = docs.select(col(groupCol).as("__g"),
        size(split(col(textCol), " ")).cast("bigint").as("nt"))
      .groupBy(col("__g")).agg(sum(col("nt")).as("available_tokens"))
    val tot = avail.agg(sum(col("available_tokens")).as("__tot"),
      count(lit(1)).as("__ng"))
    avail.crossJoin(broadcast(tot)) // 1-row corpus totals
      .withColumn("target_tokens",
        floor(lit(budgetFrac) * col("__tot").cast("double") /
          col("__ng").cast("double")).cast("bigint"))
      .withColumn("epochs", round(
        col("target_tokens").cast("double") / col("available_tokens").cast("double"), 6))
      .select(col("__g").as(groupCol), col("available_tokens"), col("target_tokens"),
        col("epochs"),
        when(col("target_tokens") > col("available_tokens"), 1L).otherwise(0L)
          .as("needs_upsampling"),
        when(col("epochs") > lit(maxEpochs), 1L).otherwise(0L).as("over_cap"))
  }

  /** Per-group Zipf-law fit: least-squares slope of ln(frequency) against
    * ln(rank) over each group's top `topK` terms (natural text sits near
    * slope -1; machine-generated or template text departs sharply — a
    * corpus-forensics signal). Output: group, n_terms, zipf_slope (6 dp).
    *
    * Plan: one token count keyed on (group, term), then a rank window over
    * the per-group VOCABULARY (Zipf-bounded — the q82 precedent), truncated
    * to topK rows per group; the regression consumes ≤ topK rows per group.
    * Slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) over micro-unit logs: every
    * sum is exact BIGINT arithmetic (|x|,|y| ≤ ~2e7 at any realistic count,
    * so n·Σxy stays far under 2^63), the one division happens per GROUP.
    * Ties rank deterministically (count desc, term asc). */
  def zipfSlope(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val topK = 100
    val cnt = docs.select(col(groupCol).as("__g"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("__g"), col("tok")).agg(count(lit(1)).as("c"))
    val top = cnt.withColumn("r", row_number().over(
        Window.partitionBy(col("__g")).orderBy(col("c").desc, col("tok").asc)))
      .where(col("r") <= topK)
    top.select(col("__g"),
        expr("CAST(round(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT)").as("x"),
        expr("CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)").as("y"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("__g").as(groupCol), col("n").as("n_terms"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("zipf_slope"))
  }

  /** Exact within-group percentile calibration of an integer-valued score:
    * each row gets the fraction of its group scoring <= its value — the
    * rank normalization that makes a raw signal (length, LM score, quality
    * gate) comparable ACROSS sources with different score distributions
    * (percentile 0.97 means the same thing in every source; raw value 4000
    * does not). Output: idCol, groupCol, valueCol, pct_rank (6 dp).
    *
    * Scale: the cumulative window runs over the per-group DISTINCT-VALUE
    * table — bounded by the score's value range (the q107/q140 argument),
    * never over rows — and rows join back to their value's cumulative count
    * by (group, value), a plain equi-join that shuffles on a key with
    * bounded cardinality per group. No per-row window, no global sort. */
  /** Consecutive-token repetition screen — the "the the the" loop detector
    * for machine-generated or glitched text (Gopher's repetition family
    * covers n-gram MASS; this one targets RUNS, which a mass ratio dilutes
    * in long documents). Output per doc: n_tokens, n_stutter (tokens equal
    * to their predecessor), max_run (longest constant run), stutter_frac.
    *
    * Plan: everything is an IN-ROW fold over the token array (codegen'd
    * higher-order functions) — no explode, no window, no shuffle; the
    * operator is a pure projection and scales with bytes scanned. The
    * max-run fold carries a (current, best) struct through one pass. A SQL
    * oracle replays the same numbers via the gaps-and-islands window form —
    * integer arithmetic, so the two formulations agree exactly. */
  def consecutiveRepetition(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("t"))
      .select(col(idCol), size(col("t")).cast("bigint").as("n_tokens"),
        expr("""IF(size(t) < 2, CAST(0 AS BIGINT),
                aggregate(sequence(2, size(t)), CAST(0 AS BIGINT),
                  (a, i) -> a + IF(element_at(t, i) = element_at(t, i-1),
                    CAST(1 AS BIGINT), CAST(0 AS BIGINT))))""")
          .as("n_stutter"),
        expr("""IF(size(t) < 2, CAST(least(size(t), 1) AS BIGINT),
                aggregate(sequence(2, size(t)),
                  named_struct('cur', CAST(1 AS BIGINT), 'best', CAST(1 AS BIGINT)),
                  (acc, i) -> named_struct(
                    'cur', IF(element_at(t, i) = element_at(t, i-1),
                      acc.cur + CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
                    'best', greatest(acc.best,
                      IF(element_at(t, i) = element_at(t, i-1),
                        acc.cur + CAST(1 AS BIGINT), CAST(1 AS BIGINT)))),
                  acc -> acc.best))""").as("max_run"))
      .withColumn("stutter_frac",
        round(col("n_stutter").cast("double") / col("n_tokens").cast("double"), 6))

  /** Template-shape detection per group: a document's SHAPE is the md5 of
    * its token-length sequence — identical for any two docs produced by the
    * same fill-in-the-blanks template with same-length slots, cheap to
    * compute, and robust to vocabulary changes. A source whose top shape
    * covers most of its documents is a template mill (calendar pages, stub
    * articles, generated listings) — candidates for aggressive dedup or
    * downsampling. Output: group, n_docs, n_shapes, top_shape_docs,
    * top_shape_share.
    *
    * Plan: shape is an in-row projection; then one (group, shape) count and
    * one |groups|-row rollup whose argmax is a max(struct) aggregate (ties
    * break to the lexicographically larger shape hash — mirrored by the
    * oracle's ORDER BY c DESC, shape DESC), never a window. */
  def templateShapes(docs: DataFrame, groupCol: String,
                     textCol: String): DataFrame = {
    val shaped = docs.select(col(groupCol).as("__g"),
      md5(expr(s"concat_ws(',', transform(split($textCol, ' '), " +
        "x -> CAST(length(x) AS STRING)))")).as("shape"))
    shaped.groupBy(col("__g"), col("shape")).agg(count(lit(1)).as("c"))
      .groupBy(col("__g"))
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_shapes"),
        max(struct(col("c"), col("shape"))).as("m"))
      .select(col("__g").as(groupCol), col("n_docs"), col("n_shapes"),
        col("m.c").as("top_shape_docs"),
        round(col("m.c").cast("double") / col("n_docs").cast("double"), 6)
          .as("top_shape_share"))
  }

  def percentileCalibration(df: DataFrame, idCol: String, groupCol: String,
                            valueCol: String): DataFrame = {
    val base = df.select(col(idCol), col(groupCol).as("__g"),
      col(valueCol).cast("bigint").as("__v"))
    val vals = base.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = vals.withColumn("__cum", sum(col("__c")).over(cumW))
    val totals = vals.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    base.join(cum.select(col("__g"), col("__v"), col("__cum")), Seq("__g", "__v"))
      .join(totals, "__g")
      .select(col(idCol), col("__g").as(groupCol), col("__v").as(valueCol),
        round(col("__cum").cast("double") / col("__n").cast("double"), 6)
          .as("pct_rank"))
  }

  /** One BPE merge iteration over the corpus — the inner loop of tokenizer
    * training (Sennrich et al. 2016): count adjacent CHARACTER pairs across
    * all token occurrences and report the top-k merge candidates. Running
    * this repeatedly (merging the winner and re-counting) IS byte-pair
    * encoding; one iteration exposes the scale shape. Output: pair,
    * occurrences — top `k` by count, ties to the lexicographically smaller
    * pair.
    *
    * Scale design: the pair expansion runs over the VOCABULARY (distinct
    * token + occurrence count), not the corpus — the standard BPE trick.
    * The corpus contributes one token-keyed count; everything after is
    * Zipf-bounded: |vocab| rows exploded into ≤ token-length pairs each,
    * weighted by the token's corpus count, one pair-keyed sum, and a
    * distributed top-k (TakeOrderedAndProject, never a global sort). */
  def bpeMergeCandidates(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val vocab = docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    vocab.where(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).as("occurrences"))
      .orderBy(col("occurrences").desc, col("pair").asc).limit(k)
  }

  /** Two-sample Kolmogorov-Smirnov distance per group: each group's
    * distribution of `valueCol` vs the REST of the corpus — the numeric
    * drift test beside [[jsDivergence]]'s categorical one (KS sees shape
    * shifts JS over coarse bins misses, and its statistic is
    * distribution-free). Output: group, n_group, n_rest, ks (6 dp).
    *
    * Scale design + determinism: both CDFs are evaluated on the DISTINCT
    * VALUE grid (bounded by the value range — the q144 discipline), never
    * per row: one (group, value) count, the global value table joined
    * back, cumulative windows over the per-group value grid only. The
    * supremum is taken over exact INTEGER cross-products
    * |cum_g * n_rest - cum_rest * n_g| (the max is order-free), with ONE
    * division at the end — bit-identical on any engine. Groups comprising
    * the whole corpus (n_rest = 0) are dropped rather than divided by
    * zero. */
  /** Rank-ensemble quality score — the "combine weak signals" step of a
    * quality-filtering stage: three cheap per-document metrics (length,
    * type-token ratio, stopword ratio) are each converted to their
    * within-corpus percentile, and the ensemble score is their mean. Rank
    * ensembling sidesteps the units problem (a raw length and a raw ratio
    * cannot be averaged; their percentiles can) — the same reason rank
    * fusion beats score fusion in retrieval (RRF, q109). Output: doc_id,
    * pct_len, pct_ttr, pct_stop, quality (all 6 dp).
    *
    * Scale design: metrics are computed in one narrow projection (in-row
    * folds, no explode); each percentile comes from a cumulative window
    * over that metric's DISTINCT-VALUE table (the q144 discipline — ratio
    * metrics are pre-quantized to integer micro-units, so each grid is
    * bounded by 1e6 regardless of corpus size) and joined back by value.
    *
    * Determinism: percentiles are upper cumulative fractions of exact
    * BIGINT counts; the ensemble mean is the single rational
    * (cum1+cum2+cum3)/(3n) — one division + round per output value. */
  def rankEnsembleQuality(docs: DataFrame, idCol: String, textCol: String,
                          stopwords: String): DataFrame = {
    val base = docs.select(col(idCol),
      length(col(textCol)).cast("bigint").as("m_len"),
      expr(s"CAST(CAST(size(array_distinct(split($textCol, ' '))) AS BIGINT) " +
        s"* 1000000 DIV size(split($textCol, ' ')) AS BIGINT)").as("m_ttr"),
      expr(s"CAST(CAST(size(filter(split($textCol, ' '), t -> t IN $stopwords)) " +
        s"AS BIGINT) * 1000000 DIV size(split($textCol, ' ')) AS BIGINT)")
        .as("m_stop"))
    def cumRank(metric: String): DataFrame = {
      val vals = base.groupBy(col(metric)).agg(count(lit(1)).as("__c"))
      val w = Window.orderBy(col(metric))
        .rowsBetween(Window.unboundedPreceding, 0)
      // the window runs over the distinct-value grid only (<= 1e6 rows for
      // quantized ratios, value-range-bounded for lengths) — never over docs
      vals.select(col(metric), sum(col("__c")).over(w).as(s"cum_$metric"))
    }
    val n = base.agg(count(lit(1)).as("__n"))
    base
      .join(cumRank("m_len"), "m_len")
      .join(cumRank("m_ttr"), "m_ttr")
      .join(cumRank("m_stop"), "m_stop")
      .crossJoin(broadcast(n))
      .select(col(idCol),
        round(col("cum_m_len").cast("double") / col("__n").cast("double"), 6)
          .as("pct_len"),
        round(col("cum_m_ttr").cast("double") / col("__n").cast("double"), 6)
          .as("pct_ttr"),
        round(col("cum_m_stop").cast("double") / col("__n").cast("double"), 6)
          .as("pct_stop"),
        round((col("cum_m_len") + col("cum_m_ttr") + col("cum_m_stop"))
          .cast("double") / (col("__n") * 3).cast("double"), 6).as("quality"))
  }

  def ksDrift(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
      col(valueCol).cast("bigint").as("__v"))
    val gv = base.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("c"))
    val av = gv.groupBy(col("__v")).agg(sum(col("c")).as("ca"))
    // per-group grid over ALL distinct values (value-range bounded): the
    // supremum can sit at a step of either CDF
    val groups = gv.select(col("__g")).distinct()
    val grid = groups.crossJoin(av)
      .join(gv, Seq("__g", "__v"), "left")
      .select(col("__g"), col("__v"), col("ca"),
        coalesce(col("c"), lit(0L)).as("cg"))
    val cumW = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid
      .withColumn("cum_g", sum(col("cg")).over(cumW))
      .withColumn("cum_a", sum(col("ca")).over(cumW))
    val totals = gv.groupBy(col("__g")).agg(sum(col("c")).as("n_g"))
      .crossJoin(broadcast(av.agg(sum(col("ca")).as("n_a"))))
      .select(col("__g"), col("n_g"), (col("n_a") - col("n_g")).as("n_r"))
    cum.join(broadcast(totals), "__g")
      .where(col("n_r") > 0)
      .select(col("__g"), col("n_g"), col("n_r"),
        abs(col("cum_g") * col("n_r") -
          (col("cum_a") - col("cum_g")) * col("n_g")).as("__x"))
      .groupBy(col("__g"), col("n_g"), col("n_r"))
      .agg(max(col("__x")).as("__m"))
      .select(col("__g").as(groupCol),
        col("n_g").as("n_group"), col("n_r").as("n_rest"),
        round(col("__m").cast("double") /
          (col("n_g") * col("n_r")).cast("double"), 6).as("ks"))
  }

  /** Vocabulary-coverage panel per group: Good-Turing unseen mass
    * (P₀ = N₁/N — the probability the NEXT token is a never-seen type;
    * Good 1953) and the bias-corrected Chao1 richness estimate
    * (V + N₁(N₁−1)/(2(N₂+1)); Chao 1984) from the frequency-of-
    * frequencies — "how much vocabulary is this source still hiding",
    * the coverage question Zipf slope (q125) and OOV rate (q138) skirt.
    *
    * Two keyed aggregates: (group, token) counts, then one row per group
    * off the Zipf-bounded type table. All inputs to the two estimator
    * formulas are exact BIGINTs; each formula is one fixed-order double
    * expression the oracle mirrors textually. The bias-corrected Chao1
    * form is total (no N₂ = 0 divide-by-zero arm needed). Output:
    * (groupCol, v_obs, n_tokens, n1, n2, gt_unseen_mass, chao1). */
  def vocabCoverage(docs: DataFrame, groupCol: String,
                    textCol: String): DataFrame = {
    val tok = docs.select(col(groupCol).as("__g"),
        explode(split(col(textCol), " ")).as("__t"))
      .where(col("__t") =!= "")
    tok.groupBy(col("__g"), col("__t")).agg(count(lit(1)).as("f"))
      .groupBy(col("__g")).agg(
        count(lit(1)).as("v_obs"),
        sum(col("f")).as("n_tokens"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("f") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("__g").as(groupCol), col("v_obs"), col("n_tokens"),
        col("n1"), col("n2"),
        (col("n1").cast("double") / col("n_tokens").cast("double"))
          .as("gt_unseen_mass"),
        (col("v_obs").cast("double") +
          col("n1").cast("double") * (col("n1").cast("double") - lit(1.0)) /
            (lit(2.0) * (col("n2").cast("double") + lit(1.0))))
          .as("chao1"))
  }

  /** Exact 1-D Wasserstein-1 (earth-mover) distance between every PAIR of
    * groups' integer-value distributions — the drift family's third axis:
    * JS ([[q137 divergence]]) weighs mass overlap, KS ([[ksDrift]]) the
    * worst single CDF gap, W1 the total TRANSPORT WORK ("how far apart",
    * in value units, not just "how different"). For 1-D, W1 = ∫|F_a−F_b|.
    *
    * Exactness — NO fold-order anywhere: on the global distinct-value
    * grid, each step contributes |cum_a·n_b − cum_b·n_a| · gap, an exact
    * integer (products widened to DECIMAL(38,0) before the order-free
    * sum), and the single division by n_a·n_b happens once at the end —
    * so the distance is a pure rational of the data, identical in any
    * engine and under any partitioning.
    *
    * Scale: the grid is value-range bounded (the q158 argument) and the
    * pair expansion is an equi-join on the grid value — |groups|²·|grid|
    * rows, never data×data. Output: (src_a < src_b, n_a, n_b, w1). */
  def wassersteinDrift(df: DataFrame, groupCol: String,
                       valueCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
      col(valueCol).cast("bigint").as("__v"))
    val gv = base.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("c"))
    val allv = gv.select(col("__v")).distinct()
    val groups = gv.select(col("__g")).distinct()
    val grid = allv.crossJoin(broadcast(groups))
      .join(gv, Seq("__g", "__v"), "left")
      .select(col("__g"), col("__v"), coalesce(col("c"), lit(0L)).as("cg"))
    val cumW = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val gapW = Window.partitionBy(col("__g")).orderBy(col("__v"))
    val cum = grid
      .withColumn("cum", sum(col("cg")).over(cumW))
      .withColumn("gap",
        coalesce(lead(col("__v"), 1).over(gapW) - col("__v"), lit(0L)))
    val totals = gv.groupBy(col("__g")).agg(sum(col("c")).as("n"))
    val side = cum.join(totals, "__g")
      .select(col("__g"), col("__v"), col("cum"), col("gap"), col("n"))
    val a = side.toDF("ga", "va", "cuma", "gapa", "na")
    val b = side.toDF("gb", "vb", "cumb", "gapb", "nb")
    a.join(b, col("va") === col("vb") && col("ga") < col("gb"))
      .select(col("ga"), col("gb"), col("na"), col("nb"),
        (abs(col("cuma").cast(DecimalType(38, 0)) * col("nb") -
          col("cumb").cast(DecimalType(38, 0)) * col("na")) *
          col("gapa")).as("__t"))
      .groupBy(col("ga"), col("gb"), col("na"), col("nb"))
      .agg(sum(col("__t")).as("__s"))
      .select(col("ga").as("src_a"), col("gb").as("src_b"),
        col("na").as("n_a"), col("nb").as("n_b"),
        (col("__s").cast("double") /
          (col("na") * col("nb")).cast("double")).as("w1"))
  }

  /** Per-group Shannon entropy of a categorical column — here the language
    * mix of each source: H = -Σ p ln p, the effective category count
    * exp(H) ("this source is really 2.3 languages"), and the dominant
    * share. The monolingual-vs-mixed census a pretraining mix needs per
    * source before setting language budgets.
    *
    * Scale: two keyed aggs on the (group, category) table — bounded by
    * |groups|·|categories|, never by rows. Determinism: each category's
    * ln(p) quantizes to integer micro-nats per (group, category) ROW
    * before the weighted sum (exact BIGINT arithmetic, the q137/q219
    * discipline); libm-touched outputs round to 6dp. */
  def categoryEntropy(df: DataFrame, groupCol: String,
                      catCol: String): DataFrame = {
    val cnt = df.groupBy(col(groupCol), col(catCol))
      .agg(count(lit(1)).as("__n"))
    val tot = cnt.groupBy(col(groupCol))
      .agg(sum("__n").as("__t"), count(lit(1)).as("n_cats"),
        max("__n").as("__mx"))
    val h = col("__s").cast("double") / (col("__t") * lit(-1e6))
    cnt.join(tot, groupCol)
      .withColumn("__mu", expr(
        "CAST(round(ln(CAST(__n AS DOUBLE) / CAST(__t AS DOUBLE)) * 1e6) AS BIGINT)"))
      .groupBy(col(groupCol), col("__t"), col("n_cats"), col("__mx"))
      .agg(sum(col("__n") * col("__mu")).as("__s"))
      .select(col(groupCol), col("__t").as("n_rows"), col("n_cats"),
        round(h, 6).as("entropy"),
        round(exp(h), 6).as("effective_cats"),
        (col("__mx").cast("double") / col("__t")).as("top_share"))
  }

  /** Heaps'-law vocabulary-growth curve V(N) ≈ K·N^β (Heaps 1978; Herdan
    * 1960) over a deterministic id-ordered corpus prefix, plus the fitted
    * growth exponent β — the companion curve to Zipf rank-frequency
    * (q125) and the Good-Turing/Chao1 unseen-mass panel (q297): sublinear
    * β ≈ 0.4–0.6 is the healthy-natural-text signature, β → 1 flags
    * id-heavy or synthetic-junk corpora whose "vocabulary" never
    * saturates.
    *
    * Scale: the curve is sampled at `buckets` fixed id-range checkpoints,
    * NOT per document — new-type counts come from one (token → min
    * bucket) aggregate, cumulative sums ride the bucket grid (≤ `buckets`
    * rows, a constant), and the β fit is a least-squares slope over that
    * same grid. ln is the one libm call: each ln is quantized to integer
    * micro-units at first appearance (the q219 discipline), so the fit's
    * sums are exact BIGINTs and β is a fixed-order double formula.
    * Output: (bucket, n_tokens, new_types, cum_tokens, cum_vocab,
    * heaps_beta) — β repeated per row. */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
               buckets: Int): DataFrame = {
    require(buckets >= 2, "need at least two checkpoints to fit a slope")
    val mx = docs.agg(max(col(idCol)).cast("bigint").as("__mx"))
    val tok = docs.crossJoin(broadcast(mx))
      .select(expr(s"CAST($idCol AS BIGINT) * $buckets DIV (__mx + 1)")
        .as("__b"), explode(split(col(textCol), " ")).as("__t"))
      .where(col("__t") =!= "")
    val perB = tok.groupBy(col("__b")).agg(count(lit(1)).as("n_tokens"))
    val newV = tok.groupBy(col("__t")).agg(min(col("__b")).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val grid = perB.join(newV, Seq("__b"), "left")
      .select(col("__b").as("bucket"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("new_types")).over(w))
      .withColumn("__x",
        round(log(col("cum_tokens").cast("double")) * lit(1e6))
          .cast("bigint"))
      .withColumn("__y",
        round(log(col("cum_vocab").cast("double")) * lit(1e6))
          .cast("bigint"))
    val fit = grid.agg(count(lit(1)).as("__j"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__y")).as("__sxy"),
      sum(col("__x") * col("__x")).as("__sxx"))
    val beta = (col("__j").cast("double") * col("__sxy").cast("double") -
        col("__sx").cast("double") * col("__sy").cast("double")) /
      (col("__j").cast("double") * col("__sxx").cast("double") -
        col("__sx").cast("double") * col("__sx").cast("double"))
    grid.crossJoin(broadcast(fit))
      .select(col("bucket"), col("n_tokens"), col("new_types"),
        col("cum_tokens"), col("cum_vocab"), beta.as("heaps_beta"))
  }
}
