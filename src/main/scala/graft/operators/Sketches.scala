package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.BinaryType

/** Sketch-based operators for cardinality estimation and join pruning — the
  * two sketches a 100 TB pipeline reaches for first.
  *
  * Both are deliberately deterministic (md5-derived hashes, no seeded RNG), so
  * their outputs are pure functions of the input set and a SQL oracle can
  * replay them exactly. The reference has no sketches (its only aggregate is a
  * 5-column global min/max/avg/sum, reference: spark_jobs/gold_openmeteo.py:20-27);
  * these are additive scale operators.
  */
object Sketches {

  /** 60-bit uniform hash of `c` on the md5 hex domain — positive, identical
    * in any engine with md5 (DuckDB: fold the same 15 hex chars). Since
    * r13 this is the native [[graft.functions.Hash60]] codegen expression
    * (digest-byte fold, no hex-string round-trip) — bit-identical to the
    * composed conv(substring(md5(..), 1, 15), 16, 10) it replaces
    * (RoundThirteenOpsSpec pins the parity on real data). */
  def hash60(c: Column): Column =
    graft.functions.Hash60.hash60(c.cast("string"))

  /** Capture-recapture distinct-count estimate (Chapman-corrected
    * Lincoln-Petersen): two independent hash-drawn "captures" at rate
    * 1/`rate`, n̂ = (n₁+1)(n₂+1)/(m+1) − 1 from their sizes and overlap —
    * the ecology estimator read as a distinct-count audit: unlike KMV
    * (q77) / HLL (q202) it needs only MEMBERSHIP tests on two samples,
    * the shape that works when the "stream" is two partial logs you can
    * intersect but never fully deduplicate. The exact countDistinct
    * column is the calibration truth and is the multi-distinct Expand
    * this estimator replaces at scale (the q205 pricing; production
    * keeps only the two capture counts). Captures draw by
    * hash60(id#cap1/2) mod rate — deterministic, independent, replayed
    * by the oracle. Chapman's +1s make the estimate total (no zero-
    * overlap divide). Output one row:
    * (n1, n2, m, n_hat, n_exact, rel_err). */
  def captureRecapture(df: DataFrame, idCol: String): DataFrame = {
    val rate = 4
    val in1 = pmod(hash60(concat(col(idCol).cast("string"), lit("#cap1"))),
      lit(rate)) === 0
    val in2 = pmod(hash60(concat(col(idCol).cast("string"), lit("#cap2"))),
      lit(rate)) === 0
    val d = (c: Column) => c.cast("double")
    df.agg(
        countDistinct(when(in1, col(idCol))).as("n1"),
        countDistinct(when(in2, col(idCol))).as("n2"),
        countDistinct(when(in1 && in2, col(idCol))).as("m"),
        countDistinct(col(idCol)).as("n_exact"))
      .select(col("n1"), col("n2"), col("m"),
        (((col("n1") + 1) * (col("n2") + 1)).cast("double") /
          (col("m") + 1).cast("double") - lit(1.0)).as("n_hat"),
        col("n_exact"))
      .select(col("n1"), col("n2"), col("m"), col("n_hat"), col("n_exact"),
        ((col("n_hat") - d(col("n_exact"))) / d(col("n_exact")))
          .as("rel_err"))
  }

  /** Distinct-count estimate per group via the KMV sketch, next to the exact
    * count for calibration. The sketch aggregates map-side (bounded k-long
    * buffer per group per task); the exact `count(DISTINCT)` column is there
    * to measure the estimate and would be dropped at real scale — it is the
    * expensive full-shuffle the sketch replaces. */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val k = 64
    val kmv = udaf(new graft.functions.KmvAgg(k), Encoders.scalaLong)
    df.groupBy(groupCols.map(col): _*)
      .agg(
        kmv(hash60(col(valueCol))).as("est_distinct"),
        countDistinct(col(valueCol)).as("exact_distinct"))
  }

  /** Bloom-filter semi-join: build a Bloom filter over `dim`'s join keys,
    * pre-filter `fact` with the codegen'd `might_contain` predicate AT THE
    * SCAN — before the shuffle — then run the exact semi-join on the
    * survivors to drop the false positives.
    *
    * Insert and probe both hash with `xxhash64`, exactly like the runtime
    * filters Spark's `InjectRuntimeFilter` rule injects for selective joins
    * (same `BloomFilterAggregate` / `BloomFilterMightContain` pair), so a
    * true match can never be dropped. The finished sketch is a fixed-size bit
    * array returned to the driver like any aggregate value (one row, bounded
    * by `expectedItems`·bits — NOT a materialization of dim's rows) and
    * inlined as a literal into the probe.
    *
    * At 100 TB the bloom probe eliminates the bulk of the fact table's
    * shuffle I/O for the cost of that bit array, and the trailing equi-join
    * keeps the result EXACTLY equal to `fact SEMI JOIN dim` — the sketch can
    * only change performance, never the answer (oracle = plain semi-join).
    *
    * NOT lazy: the dim aggregation runs at call time (the `.head()` below),
    * because the probe literal cannot exist before the sketch does — the
    * same build-before-probe order Spark's own runtime filters follow,
    * except theirs hides inside one query execution. Callers timing this
    * operator must wrap construction, not just the final action. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                    dimKey: String): DataFrame = {
    val expectedItems: Long = 10000L
    val bfAgg = new BloomFilterAggregate(
      GraftShims.expression(xxhash64(col(dimKey))), expectedItems)
    val bytes = dim.select(GraftShims.column(bfAgg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bytes == null) // empty dim: nothing to prune, result is empty anyway
      fact.join(dim.select(col(dimKey)), col(factKey) === col(dimKey), "left_semi")
    else {
      val mightContain = GraftShims.column(BloomFilterMightContain(
        Literal.create(bytes, BinaryType),
        GraftShims.expression(xxhash64(col(factKey)))))
      fact.where(mightContain)
        .join(dim.select(col(dimKey)), col(factKey) === col(dimKey), "left_semi")
    }
  }

  /** Count-min sketch point estimates: frequency estimates for `queries`'
    * keys from a `d x w` counter grid instead of the full per-key frequency
    * table.
    *
    * Row j hashes every item to `bucket = h_j(x) mod w`, where h_j is the
    * j-th 8-hex-char slice of ONE md5 digest per key (same
    * one-digest-many-draws trick as [[graft.functions.MinHashSigs]] — d
    * independent-bit hashes for a single hash invocation, and a SQL engine
    * replays the slices exactly); a key's estimate is the MIN over rows of
    * its bucket's count. Estimates can only OVERcount (collisions add,
    * never subtract): est >= exact always, and P[est > exact + 2N/w] <= 2^-d
    * by the classic Markov bound.
    *
    * Scale: the sketch is d·w cells regardless of key cardinality, built by
    * one groupBy over (row, bucket) — partial aggregation collapses it
    * map-side, and two sketches merge by cell-wise add (the streaming /
    * multi-day shape). The exact column is the full-shuffle the sketch
    * replaces, kept for calibration like [[kmvDistinct]]. */
  def cmsPointEstimates(items: DataFrame, keyCol: String, queries: DataFrame,
                        w: Int): DataFrame = {
    val d = 4
    require(w >= 2, "need w >= 2")
    val rows = (0 until d).map(j => struct(lit(j).as("j"),
      pmod(conv(substring(md5(col(keyCol).cast("string")), j * 8 + 1, 8), 16, 10)
        .cast("long"), lit(w)).as("b")))
    val sketch = items
      .select(explode(array(rows: _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
    val probes = queries.select(col(keyCol)).distinct()
      .select(col(keyCol), explode(array(rows: _*)).as("jb"))
      .select(col(keyCol), col("jb.j").as("j"), col("jb.b").as("b"))
    val est = probes.join(sketch, Seq("j", "b"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
    val exact = items.join(broadcast(queries.select(col(keyCol)).distinct()),
        Seq(keyCol), "left_semi")
      .groupBy(col(keyCol)).agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq(keyCol), "left")
      .select(col(keyCol), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"))
  }

  /** Two-pass heavy hitters: terms occurring in at least `minFrac` of all
    * rows, found without ever shuffling the full (term, count) space twice.
    *
    * Pass 1 counts only a deterministic 1-in-`sampleMod` document sample
    * (`idCol % sampleMod = 0` — systematic, no RNG) and keeps terms above
    * HALF the target frequency in the sample: a true `minFrac` heavy hitter
    * concentrates in any uniform sample, so the 2x safety margin makes a
    * miss require the term to be pathologically anti-correlated with the
    * sample residue. Pass 2 semi-joins the full data to that small candidate
    * set (broadcast) and keeps exact counts `>= minFrac * total`.
    *
    * Scale: pass 1 aggregates ~1/sampleMod of the rows; pass 2's per-term
    * shuffle carries ONLY candidate terms (bounded by 2/minFrac distinct
    * values by pigeonhole), not the long tail that dominates real corpora'
    * vocabulary. The final counts are exact — the sample decides which terms
    * get counted, never what their counts are — so the oracle replays both
    * passes verbatim. */
  def sampledHeavyHitters(terms: DataFrame, termCol: String, idCol: String,
                          sampleMod: Int, minFrac: Double): DataFrame = {
    require(sampleMod >= 1 && minFrac > 0.0, "need sampleMod >= 1, minFrac > 0")
    val sample = terms.where(pmod(col(idCol), lit(sampleMod)) === 0)
    val sampleTotal = sample.agg(count(lit(1)).as("s_total"))
    val cand = sample.groupBy(col(termCol)).agg(count(lit(1)).as("s_cnt"))
      .crossJoin(broadcast(sampleTotal))
      .where(col("s_cnt").cast("double") >=
        lit(minFrac) / lit(2.0) * col("s_total").cast("double"))
      .select(col(termCol))
    val total = terms.agg(count(lit(1)).as("total"))
    terms.join(broadcast(cand), Seq(termCol), "left_semi")
      .groupBy(col(termCol)).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .where(col("cnt").cast("double") >= lit(minFrac) * col("total").cast("double"))
      .select(col(termCol), col("cnt"), col("total"))
  }

  /** Mergeable fixed-width-histogram quantile estimate — the approximate
    * twin of the exact percentile (q96) the same way KMV twins
    * count(DISTINCT): bounded state, map-side combinable, one value-keyed
    * shuffle of at most `bins` groups. Pass 1 is a 1-row min/max/count
    * (broadcast); pass 2 bins every value into `bins` equal-width buckets;
    * the estimate interpolates linearly inside the bucket containing each
    * target rank. Everything after the bin counts runs over ≤ `bins` rows,
    * so the rank scan is O(bins) state regardless of input size (the
    * cumulative window is ordered over that bounded bin table, never over
    * data). Error is bounded by one bin width — (max-min)/bins — by
    * construction. Deterministic: bin ids are single floor expressions,
    * counts are exact longs, and the interpolation is one fixed double
    * expression per quantile, so a SQL oracle reproduces it exactly. */
  def histogramQuantiles(df: DataFrame, valueCol: String, bins: Int,
                         ps: Seq[Double]): DataFrame = {
    require(bins >= 2 && ps.nonEmpty && ps.forall(p => p > 0.0 && p < 1.0),
      "need bins >= 2 and quantiles strictly inside (0, 1)")
    val v = col(valueCol)
    val stats = df.agg(min(v).as("lo"), max(v).as("hi"), count(lit(1)).as("n"))
    val binned = df.crossJoin(broadcast(stats))
      .select(least(lit(bins - 1), greatest(lit(0),
          floor((v - col("lo")) / ((col("hi") - col("lo")) / lit(bins)))
            .cast("int"))).as("bin"),
        col("lo"), col("hi"), col("n"))
      .groupBy(col("bin"), col("lo"), col("hi"), col("n"))
      .agg(count(lit(1)).as("cnt"))
    // bounded-window cumulative: the frame is over the ≤`bins`-row bin
    // table (a constant), not over the data — safe at any corpus size
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = binned.withColumn("cum_before",
      coalesce(sum(col("cnt")).over(w), lit(0L)))
    // CAST keeps the quantile a DOUBLE literal — a bare 0.5 parses as
    // DECIMAL(1,1) in both Spark and DuckDB and decimal math would diverge
    val targets = ps.map(p => s"CAST($p AS DOUBLE)").mkString("array(", ", ", ")")
    cum.select(col("bin"), col("lo"), col("hi"), col("n"),
        col("cnt"), col("cum_before"),
        explode(expr(targets)).as("p"))
      .where(col("cum_before").cast("double") < col("p") * col("n").cast("double") &&
        col("p") * col("n").cast("double") <=
          (col("cum_before") + col("cnt")).cast("double"))
      .select(col("p"),
        (col("lo") + (col("hi") - col("lo")) / lit(bins) *
          (col("bin").cast("double") +
            (col("p") * col("n").cast("double") - col("cum_before").cast("double")) /
              col("cnt").cast("double"))).as("est"))
  }

  /** Pairwise Jaccard similarity between groups, ESTIMATED from bottom-k
    * (KMV) sketches of each group's word-n-gram set — the mergeable-sketch
    * twin of the exact cross-group overlap matrix: the exact form shuffles
    * every shared gram's inverted list; this form reduces each group to a
    * k-hash sketch first, so the pairwise stage costs |groups|²·k no
    * matter how large the corpus gets, and the sketches union/merge for
    * free across shards or days (Beyer et al. 2007, the classic KMV
    * estimator: J ≈ |bottomK(A∪B) ∩ A ∩ B| / |bottomK(A∪B)|). Output:
    * group_a < group_b, sketch_shared, sketch_size, est_jaccard.
    *
    * Determinism: gram identities are the md5-fold [[hash60]] (exactly
    * replayable in SQL); bottom-k selection happens on those 60-bit longs
    * via the TopKAgg partial aggregator — double score rounding is
    * MONOTONE and its id tie-break is the hash itself, so score collisions
    * at 2^53 still order correctly and the selected set is exact, not
    * approximately-bottom. The estimate is then a division of two exact
    * integers. O(k) state per (group, task) — never a per-group sort. */
  def kmvPairwiseJaccard(df: DataFrame, groupCol: String, textCol: String, k: Int): DataFrame = {
    val gramN = 5
    val topk = graft.functions.TopKAgg.columnAgg(k)
    val grams = df.select(col(groupCol).as("__g"),
        split(col(textCol), " ").as("toks"))
      .where(size(col("toks")) >= gramN)
      .select(col("__g"), explode(expr(
        s"array_distinct(transform(sequence(1, size(toks) - ${gramN - 1}), " +
          s"i -> concat_ws(' ', slice(toks, i, $gramN))))")).as("g"))
      .distinct() // per-group distinct grams — set semantics before the sketch
      .select(col("__g"), hash60(col("g")).as("h"))
    val sk = grams.groupBy(col("__g"))
      // negated score keeps the SMALLEST hashes; monotone rounding + id
      // tie-break make the selection exact (see scaladoc)
      .agg(topk((col("h") * lit(-1L)).cast("double"), col("h")).as("tk"))
      .select(col("__g"), expr("transform(tk, e -> e._2)").as("hs"))
    val a = sk.select(col("__g").as("group_a"), col("hs").as("ha"))
    val b = sk.select(col("__g").as("group_b"), col("hs").as("hb"))
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        expr(s"slice(array_sort(array_distinct(concat(ha, hb))), 1, $k)")
          .as("u"), col("ha"), col("hb"))
      .select(col("group_a"), col("group_b"),
        expr("CAST(size(array_intersect(array_intersect(u, ha), hb)) AS BIGINT)")
          .as("sketch_shared"),
        expr("CAST(size(u) AS BIGINT)").as("sketch_size"))
      .withColumn("est_jaccard",
        col("sketch_shared").cast("double") / col("sketch_size").cast("double"))
  }

  /** HyperLogLog distinct estimate per group via [[graft.functions.HllAgg]]
    * — a CONSTANT 2^p-byte register buffer per (group, task), element-wise
    * max merge. The dense-register complement to [[kmvDistinct]]: KMV is
    * exact below k and degrades above; HLL holds ~1.04/√m relative error at
    * any cardinality. `exact_distinct` rides along for calibration (drop it
    * at true scale — it is the expensive exact path the sketch replaces).
    * Raw Flajolet estimator, exact-integer harmonic sum: bit-reproducible
    * by a SQL oracle (see HllAgg scaladoc). */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  p: Int): DataFrame = {
    val hll = udaf(new graft.functions.HllAgg(p), Encoders.scalaLong)
    df.groupBy(groupCols.map(col): _*)
      .agg(hll(hash60(col(valueCol))).as("hll_distinct"),
        countDistinct(col(valueCol)).as("exact_distinct"))
  }

  /** Unknown-range quantile estimates per group from a mergeable bottom-k
    * hash-sample rank sketch ([[graft.functions.BottomKSampleAgg]] — see
    * its scaladoc for why this merge-invariant sample replaces KLL/
    * t-digest under this repo's determinism discipline), with a built-in
    * error-band AUDIT: each estimate's true rank is measured against the
    * full data and gated at `band` (≥ the DKW bound sqrt(ln(2/δ)/(2k)) ≈
    * 0.051 for k=1024, δ=0.01). Output per group, wide (the q96 shape):
    * n, est_p50/est_p90/est_p99 (interpolated percentile OVER THE SAMPLE
    * — the same percentile semantics q96 proves cross-engine exact),
    * rank_p50/rank_p90/rank_p99 (true CDF at each estimate, one exact
    * conditional-count scan), and within_band (all three |rank−p| ≤
    * band). At production scale the rank columns are the calibration
    * truth to drop — the sketch pass alone never sorts: each map task
    * ships one ≤k buffer per group, and the percentile runs over |groups|
    * × ≤k sampled rows, not the data.
    *
    * The sample key is hash60(idCol) — idCol must be row-unique (the
    * determinism spine); ties beyond (hash, value) are interchangeable.
    * Oracle: `row_number() OVER (PARTITION BY g ORDER BY hash60, value)
    * <= k` then quantile_cont, replayed verbatim. */
  def rankSketchQuantiles(df: DataFrame, groupCol: String, idCol: String,
                          valueCol: String, k: Int): DataFrame = {
    val band = 0.06
    require(k >= 2, "need k >= 2")
    val samp = df.groupBy(col(groupCol))
      .agg(graft.functions.BottomKSampleAgg.columnAgg(k)(
        hash60(col(idCol)), col(valueCol)).as("__s"),
        count(lit(1)).as("n"))
    val est = samp
      .select(col(groupCol), col("n"), explode(col("__s")).as("__e"))
      .groupBy(col(groupCol), col("n"))
      .agg(expr("percentile(__e._2, array(CAST(0.5 AS DOUBLE), " +
        "CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)))").as("__q"))
      .select(col(groupCol), col("n"),
        col("__q").getItem(0).as("est_p50"),
        col("__q").getItem(1).as("est_p90"),
        col("__q").getItem(2).as("est_p99"))
    // audit pass: exact rank of each estimate in the FULL data — the
    // |groups|×5-row estimate table broadcasts into one conditional-count
    // scan; ranks are a division of exact BIGINTs by n
    val bandL = lit(band)
    df.select(col(groupCol), col(valueCol).as("__v"))
      .join(broadcast(est), Seq(groupCol))
      .groupBy(col(groupCol), col("n"),
        col("est_p50"), col("est_p90"), col("est_p99"))
      .agg(sum(when(col("__v") <= col("est_p50"), 1L).otherwise(0L)).as("__c50"),
        sum(when(col("__v") <= col("est_p90"), 1L).otherwise(0L)).as("__c90"),
        sum(when(col("__v") <= col("est_p99"), 1L).otherwise(0L)).as("__c99"))
      .select(col(groupCol), col("n"),
        col("est_p50"), col("est_p90"), col("est_p99"),
        (col("__c50").cast("double") / col("n").cast("double")).as("rank_p50"),
        (col("__c90").cast("double") / col("n").cast("double")).as("rank_p90"),
        (col("__c99").cast("double") / col("n").cast("double")).as("rank_p99"))
      .withColumn("within_band",
        abs(col("rank_p50") - lit(0.5)) <= bandL &&
          abs(col("rank_p90") - lit(0.9)) <= bandL &&
          abs(col("rank_p99") - lit(0.99)) <= bandL)
  }

  /** Sampled per-key top terms with O(k) state per key — the batch twin
    * of [[graft.streaming.StreamingTopK]] (same
    * [[graft.functions.BottomKTermSampleAgg]] semilattice, same
    * estimator): a bottom-k hash sample of term OCCURRENCES per key,
    * finished into the `topN` terms by in-sample count with estimated
    * share s_cnt/k' and count s_cnt·n/k' (k' = min(k, n); keys with
    * n ≤ k degrade to exact counts). Where [[sampledHeavyHitters]]
    * answers "which terms exceed a frequency floor" with exact counts,
    * this answers "what are each key's top terms" at FIXED state —
    * the shape that survives an unbounded vocabulary.
    *
    * `idCol` must be occurrence-unique (it seeds the sample hash).
    * Deterministic: sample membership is the (hash ASC, term ASC)
    * bottom-k — a pure function of the occurrence multiset, replayed in
    * SQL as `row_number() OVER (ORDER BY hash, term) <= k` — and the
    * final rank ties break (s_cnt DESC, term ASC).
    *
    * Scale: the aggregate ships one k-bounded buffer per key per map
    * task (map-side combined, never the occurrence stream); the finish
    * stage's window orders ≤k sampled-term rows per key, never data. */
  def sampledTopTerms(occ: DataFrame, keyCol: String, idCol: String,
                      termCol: String, k: Int, topN: Int): DataFrame = {
    require(k >= 2 && topN >= 1, "need k >= 2, topN >= 1")
    val bk = graft.functions.BottomKTermSampleAgg.columnAgg(k)
    val g = occ.groupBy(col(keyCol))
      .agg(bk(hash60(col(idCol)), col(termCol)).as("sample"),
        count(lit(1)).as("n"))
    val perTerm = g
      .select(col(keyCol), col("n"), explode(col("sample")).as("__e"))
      .groupBy(col(keyCol), col("n"), col("__e._2").as("term"))
      .agg(count(lit(1)).as("s_cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("s_cnt").desc, col("term"))
    perTerm
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= topN)
      .withColumn("__ke", least(lit(k.toLong), col("n")))
      .select(col(keyCol), col("rnk"), col("term"), col("s_cnt"),
        (col("s_cnt").cast("double") / col("__ke").cast("double"))
          .as("est_share"),
        (col("s_cnt").cast("double") * col("n").cast("double") /
          col("__ke").cast("double")).as("est_cnt"),
        col("n"))
  }
}
