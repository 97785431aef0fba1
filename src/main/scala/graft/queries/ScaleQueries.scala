package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.{CacheScope, Relational, Scale, Sketches, Temporal, TextDedup, TextRank}
import OracleSql.embNormsCte

/** Round-5 scale operators: sketch-based cardinality estimation, bloom-filter
  * join pruning, n-gram Jaccard dedup, deterministic stratified/weighted
  * sampling, incremental dedup, interval-overlap joins, and TF-IDF retrieval.
  *
  * Same oracle discipline as [[LlmQueries]]: md5 for all hashing, integer or
  * DECIMAL arithmetic wherever partial-aggregation order could move a double,
  * and 6dp rounding on scores derived from `ln` (the one libm function in
  * play) so a 1-ulp library difference cannot flip a comparison.
  */
object ScaleQueries {

  type Q = (SparkSession, String) => DataFrame

  /** TF-IDF query terms (fixed vocabulary of the synthetic corpus). */
  private val tfidfTerms = Seq("join", "vector", "stream", "window", "spark")

  /** The ONE carve definition shared by q113 (export sizing) and q118 (leak
    * audit) — changing the shipped split bounds changes both together. */
  private val splitBounds = Seq("train" -> 0.9, "val" -> 0.95)
  private val splitLast = "test"

  /** The exact-substring RUN inventory at the house (l=20, maxDf=10)
    * point — FIVE queries consume one build (q300 verbatim, q377's
    * removal, q384's l=20 leg, q391/q398 through the dedup-discounted
    * allocation), each previously re-paying the window-fingerprint +
    * pair-join + island-stitch chain (~1.1–1.6 s apiece at sf0.1).
    * Session-shared like the LlmQueries caches; SharedFormsSpec compares
    * its consumers against a fresh `exactSubstringRuns` build. The
    * persisted frame is the RUNS (tiny — pairs × diagonals above l). */
  private[queries] val exactRunsShared = SharedCache("exact_runs_l20") {
    (s, d) =>
      TextDedup.exactSubstringRuns(table(s, d, "documents"),
        "doc_id", "text", l = 20, maxDf = 10)
  }

  /** The per-doc exact-substring dedup frame (doc_id, n_tokens,
    * n_tokens_removed, clean_md5) at the same point — q377's whole
    * output, consumed again by q391 and q398's dedup leg. Built from
    * [[exactRunsShared]]. */
  private[queries] val exactSubstrDocShared =
    SharedCache("exact_substr_doc", exactRunsShared) { (s, d) =>
      TextDedup.exactSubstringDedupFrom(table(s, d, "documents"),
        "doc_id", "text", exactRunsShared(s, d))
    }

  val queries: Map[String, Q] = Map(

    // Character n-gram Jaccard near-dup pairs — exact set similarity, the
    // third dedup family next to MinHash-LSH banding (q31) and SimHash
    // (q32). Candidates = pairs sharing >= 2 rare grams (df <= 2% of the
    // corpus); verification = exact integer intersection via rare-count +
    // common-vocab bitmask popcount (see TextDedup.ngramJaccardPairs).
    // The oracle computes the SAME integer intersection by plain list
    // overlap on the same candidate set — mechanism differs, result is
    // bit-identical.
    // The pair set is built once per (session, sf dir) and shared with
    // q291's agreement Venn (LlmQueries.ngramPairs) — the candidate
    // build is the suite's most expensive stage; the persisted result is
    // only the verified pairs above threshold.
    "q75_ngram_jaccard_pairs" -> ((s, d) => LlmQueries.ngramPairs(s, d)),

    // Bloom-filter semi-join: dim-side BloomFilterAggregate sketch probes the
    // fact scan BEFORE the shuffle (same expression pair Spark's runtime
    // filters inject); trailing exact semi-join keeps the answer identical to
    // a plain semi-join, which is exactly what the oracle runs.
    "q76_bloom_semi_join" -> ((s, d) => {
      val dim = table(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      Sketches.bloomSemiJoin(table(s, d, "orders"), dim,
          "o_custkey", "c_custkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          Relational.sumExact(col("o_totalprice")).as("sum_price"))
    }),

    // KMV distinct-count sketch per group (k=64): bounded map-side sketch vs
    // the exact count(DISTINCT) it replaces. md5-derived hashes make the
    // estimate a pure function of the input set — the oracle replays it.
    "q77_kmv_distinct" -> ((s, d) =>
      Sketches.kmvDistinct(table(s, d, "events"),
        Seq("event_type"), "user_id")),

    // Capture-recapture (Chapman) distinct-user estimate from two 25%
    // hash captures + the exact truth for calibration — the membership-
    // only distinct audit beside KMV (q77) and HLL (q202). See
    // Sketches.captureRecapture.
    "q298_capture_recapture" -> ((s, d) =>
      Sketches.captureRecapture(table(s, d, "events"), "user_id")),

    // Exact-substring dedup (Lee et al. 2022 ExactSubstr): maximal
    // cross-document verbatim runs at >= 20-token granularity via
    // sliding-window fingerprints + per-(pair, diagonal) island
    // stitching — catches SHIFTED duplicates that q98's fixed
    // non-overlapping 32-token chunks provably miss (spec plants one).
    // l=20 is the scaled-down stand-in for the paper's 50 on this
    // corpus's ~55-token median documents. See
    // TextDedup.exactSubstringRuns.
    "q300_exact_substring" -> ((s, d) => exactRunsShared(s, d)),

    // Exact-substring dedup with REMOVAL + reconstruction (Lee et al.
    // 2022): q300's run inventory applied — every matched range removed
    // from the later doc of its pair (keep-first-in-corpus-order), docs
    // rebuilt from surviving tokens. Anchor-keep; idempotent on its own
    // output (spec-pinned). See TextDedup.exactSubstringDedupFrom.
    "q377_exact_substr_dedup" -> ((s, d) => exactSubstrDocShared(s, d)),

    // Dedup-granularity sweep (Lee et al. 2022 §4): the q300/q377 run
    // machinery at l = 10/20/40, each reduced to run count, distinct
    // removed-token mass and the duplicated corpus fraction — the
    // threshold-tuning artifact. See TextDedup.exactSubstringSweep.
    "q384_exact_substr_sweep" -> ((s, d) =>
      TextDedup.exactSubstringSweep(table(s, d, "documents"),
        "doc_id", "text", exactRunsShared(s, d))),

    // Cross-snapshot incremental exact-substring dedup, batch form (the
    // oracled twin of streaming CrossSnapshotSubstrDedup): even doc_ids
    // play the accumulated crawl (the fingerprint store), odd doc_ids
    // the NEW snapshot deduped against it + within itself — no pair
    // join, no run stitching, the store holds fingerprints only. See
    // TextDedup.snapshotSubstrDedup.
    "q396_snapshot_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      TextDedup.snapshotSubstrDedup(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text")
    }),

    // Kish effective sample size of the length-weighted corpus per
    // language: ESS = (Σw)²/Σw² with w = n_chars — the design-effect
    // audit importance-weighted training mixes (q123 temperature
    // weights, q151 DSIR weights) owe their token-budget math. One
    // exact BIGINT keyed aggregate; see Scale.kishEss.
    "q299_kish_ess" -> ((s, d) =>
      Scale.kishEss(table(s, d, "documents"), "lang", col("n_chars"))),

    // Stratified sampling: exactly 10 docs per language stratum, chosen by
    // md5(doc_id) order — deterministic on any engine and any partitioning,
    // and per-stratum exact sizes (rand()-based sampling gives neither).
    "q78_stratified_sample" -> ((s, d) =>
      table(s, d, "documents")
        .withColumn("u", md5(col("doc_id").cast("string")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("u"), col("doc_id"))).cast("bigint"))
        .where(col("rn") <= 10)
        .select(col("doc_id"), col("lang"), col("rn"))),

    // Weighted sampling: keep a doc with probability proportional to its
    // length (p = min(1, n_chars/400)), decided by comparing an md5-uniform
    // in [0,1) against p — reproducible, no RNG state, embarrassingly
    // parallel.
    "q79_weighted_sample" -> ((s, d) =>
      table(s, d, "documents")
        .withColumn("u",
          Sketches.hash60(col("doc_id")) / lit((1L << 60).toDouble))
        .where(col("u") <
          least(lit(1.0), col("n_chars").cast("double") / lit(400.0)))
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    // Exact-k length-weighted sample per language (A-Res reservoir):
    // q79's Bernoulli sampler hits an EXPECTED rate; this fills an exact
    // quota of 5, window-free via the cap-bounded TopKAgg on integer
    // micro-unit exponential keys. See Scale.weightedReservoir.
    "q266_weighted_reservoir" -> ((s, d) =>
      Scale.weightedReservoir(table(s, d, "documents"), "lang", "doc_id",
        col("n_chars"), k = 5)),

    // Data-skipping audit for `o_totalprice > 400000` under two layouts:
    // the natural ingest layout (month files — orderkeys and prices are
    // uncorrelated, nothing skips) vs a price-clustered layout (50k
    // bands — everything below the predicate band skips). The measured
    // contrast is the justification behind the q210 Z-order layout.
    // See Scale.skippingAudit.
    "q275_skipping_audit" -> ((s, d) => {
      val o = table(s, d, "orders")
      Scale.skippingAudit(o,
          date_format(col("o_orderdate"), "yyyy-MM"),
          "o_totalprice", 400000.0)
        .withColumn("layout", lit("ingest_month"))
        .unionByName(Scale.skippingAudit(o,
            concat(lit("band_"),
              floor(col("o_totalprice") / 50000).cast("bigint")),
            "o_totalprice", 400000.0)
          .withColumn("layout", lit("price_clustered")))
    }),

    // Compaction dry run: per ship-month, row count, estimated bytes at
    // a declared 128 B/row, and planned output files at a 1 MiB target
    // — the small-file report reviewed before any rewrite.
    // See Scale.compactionPlan.
    "q276_compaction_plan" -> ((s, d) =>
      Scale.compactionPlan(table(s, d, "lineitem"),
        date_format(col("l_shipdate"), "yyyy-MM"), lit(128L),
        targetFileBytes = 1L << 20)),

    // Incremental dedup — the standing shape for continuously-ingested
    // corpora: fingerprint the new batch, dedupe within it, anti-join against
    // the existing store's fingerprints. The batch here is the next 10
    // sources plus a simulated re-crawl of the store (same text, new ids),
    // which the anti-join must fully eliminate.
    "q80_incremental_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val isOld = expr("CAST(substring(source, 4) AS INT) < 10")
      val store = docs.where(isOld)
      val batch = docs.where(!isOld)
        .unionByName(store.withColumn("doc_id", col("doc_id") + 10000))
      val batchDedup = Relational.dedupeByKey(
        batch.withColumn("fingerprint", md5(col("text"))),
        Seq(col("fingerprint")), Seq(col("doc_id").asc))
      batchDedup
        .join(store.select(md5(col("text")).as("fingerprint")),
          Seq("fingerprint"), "left_anti")
        .select(col("doc_id"), col("fingerprint"), col("source"))
    }),

    // Interval-overlap join: click-intervals x view-intervals (closed
    // [ts, ts+floor(value)] second intervals) meeting through time-bucket
    // equi-join — never a theta join; each pair emitted exactly once.
    "q81_interval_overlap_join" -> ((s, d) => {
      val base = table(s, d, "events").select(
          col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("start_sec"),
          (unix_timestamp(col("ts")) + floor(col("value"))).as("end_sec"))
      Temporal.intervalOverlapJoin(
        base.where(col("event_type") === "click").withColumnRenamed("event_id", "a_id"),
        base.where(col("event_type") === "view").withColumnRenamed("event_id", "b_id"),
        "a_id", "b_id", "start_sec", "end_sec", bucketSec = 600L)
    }),

    // TF-IDF retrieval: score = sum over query terms of tf(t,doc) * ln(N/df),
    // top-20 docs. Corpus stats arrive as ONE broadcast row (no per-term
    // shuffle); per-doc term frequencies come from the native single-pass
    // `term_counts` expression (codegen'd; the interpreted alternative —
    // one filter(split(...)) HOF per term plus one array_contains(split(...))
    // per term in the stats agg — re-splits the text 2N times per row and
    // was q82's 5x regression). Scores rounded to 6dp before ordering so
    // both engines rank identically.
    "q82_tfidf_topk" -> ((s, d) => {
      val docs = table(s, d, "documents")
      // cache-scoped: tf feeds both the stats aggregate and the scorer —
      // persisting the (doc_id, 5 longs) projection reads+scans text ONCE
      val tf = CacheScope.persist(docs.select(col("doc_id"),
        graft.functions.TermCounts.term_counts(col("text"), tfidfTerms).as("tf")))
      val stats = tf.agg(
        count(lit(1)).as("n_docs"),
        tfidfTerms.indices.map { i =>
          sum(when(col("tf")(i) > 0, 1).otherwise(0)).as(s"df_$i")
        }: _*)
      // greatest(df, 1) guards a query term with zero document frequency:
      // without it Spark yields ln(inf)=inf scores while DuckDB's x/0
      // behavior differs across versions — the clamp keeps the pair
      // engine-agnostic under data changes (df >= 1 leaves scores as-is)
      val score = tfidfTerms.indices.map { i =>
        col("tf")(i).cast("double") *
          log(col("n_docs").cast("double") /
            greatest(col(s"df_$i"), lit(1)).cast("double"))
      }.reduce(_ + _)
      tf.crossJoin(broadcast(stats))
        .select(col("doc_id"), round(score, 6).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
    }),

    // Generalized TF-IDF retrieval: query terms are DATA, not literals —
    // here the distinct >= 6-char tokens of the first three documents,
    // ranking the corpus by relevance to them through TextRank's
    // inverted-index plan (term-keyed joins only, integer-microunit
    // scores). q82 remains the fixed-vocabulary instance.
    "q83_tfidf_retrieval" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val terms = docs.where(col("doc_id") < 3)
        .select(explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) >= 6)
      TextRank.tfidfTopK(docs, "doc_id", "text", terms, "term", k = 15)
    }),

    // BM25 retrieval over the same data-driven vocabulary as q83 — the
    // saturating-tf, length-normalized ranking a retrieval pipeline would
    // actually ship. Same inverted-index shape; oracle mirrors the exact
    // arithmetic (Lucene-style idf with +1 inside the log).
    "q84_bm25_retrieval" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val terms = docs.where(col("doc_id") < 3)
        .select(explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) >= 6)
      TextRank.bm25TopK(docs, "doc_id", "text", terms, "term", k = 15)
    }),

    // Hybrid retrieval: reciprocal-rank fusion of the q84 BM25 ranking
    // (sparse) with the embedding-cosine ranking against doc 0's vector
    // (dense) — top-50 each, fused to a top-15. The fuse itself is a tiny
    // keyed agg over the already-bounded lists (rank reciprocals quantized
    // to integer micro-units before the order-free sum); the rank windows
    // run over LIMIT-bounded 50-row frames, never the corpus. See
    // RankFusion.rrf.
    "q109_hybrid_rrf" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val terms = docs.where(col("doc_id") < 3)
        .select(explode(split(col("text"), " ")).as("term"))
        .where(length(col("term")) >= 6)
      val sparse = TextRank.bm25TopK(docs, "doc_id", "text", terms, "term", k = 50)
        .withColumn("r", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
      val dense = graft.operators.Similarity.bruteForceKnn(
        table(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") === 0, k = 50)
      graft.operators.RankFusion.rrf(
        Seq((sparse, "doc_id", "r"), (dense, "neighbor_id", "rnk")),
        outId = "doc_id", topK = 15)
    }),

    // Train/eval decontamination: the first 10 documents act as the
    // benchmark; every corpus doc sharing a distinct 13-token shingle with
    // one of them is flagged (self-matches excluded — the benchmark docs
    // trivially contain themselves). Catches the corpus's planted near-dups
    // of the eval docs, which is exactly the leak this stage exists for.
    "q85_decontamination" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val evalSet = docs.where(col("doc_id") < 10)
        .select(col("doc_id").as("eval_id"), col("text"))
      TextDedup.contaminationPairs(docs, "doc_id", "text",
          evalSet, "eval_id", "text")
        .where(col("doc_id") =!= col("eval_id"))
    }),

    // Gopher/MassiveText-style repetition filters: fraction of the doc
    // covered by its most frequent token bigram, and the duplicate-trigram
    // occurrence fraction; a doc passes when both sit under the classic
    // thresholds (0.20 / 0.30). All ratios are divisions of exact integers.
    "q87_repetition_filter" -> ((s, d) => {
      val docs = table(s, d, "documents")
      // whole filter is a single narrow projection — per-doc work only,
      // and both gram statistics are native single-pass expressions
      // (TokenNgrams: byte-window probing, no token/shingle arrays, inside
      // whole-stage codegen) instead of a corpus-wide groupBy(doc, bigram)
      // (~1.3M mostly-unique string groups for a per-doc max) or the
      // interpreted sort+fold that replaced it. Oracle still computes the
      // max via grouping: same integer, different mechanism.
      docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
          graft.functions.TokenNgrams
            .token_ngram_distinct_count(col("text"), 3).as("n_distinct_tri"),
          graft.functions.TokenNgrams
            .token_top_ngram_count(col("text"), 2).as("top_bigram_n"))
        .where(col("n_tokens") >= 3)
        .select(col("doc_id"), col("n_tokens"),
          (col("top_bigram_n") * lit(2) / col("n_tokens").cast("double")).as("top_bigram_frac"),
          (lit(1.0) - col("n_distinct_tri").cast("double") /
            (col("n_tokens") - 2).cast("double")).as("dup_trigram_frac"))
        .withColumn("quality_pass",
          when(col("top_bigram_frac") <= 0.2 && col("dup_trigram_frac") <= 0.3, 1L)
            .otherwise(0L))
    }),

    // Sequence packing: documents -> fixed 256-token context windows, packed
    // greedily in id order inside 8 deterministic shards (the parallel unit —
    // a global pack order would be one unpartitioned window). Output is the
    // per-doc placement a training-data writer consumes.
    "q88_sequence_packing" -> ((s, d) =>
      graft.operators.TextPrep.packSequences(
        table(s, d, "documents"), "doc_id", "text", ctxLen = 256, nBuckets = 8)),

    // Two-pass heavy hitters: candidate terms from a 1-in-10 systematic
    // document sample (at half the target frequency — the safety margin),
    // exact counts only for the candidates via broadcast semi-join. The
    // pattern that finds frequent vocabulary without shuffling a web-scale
    // corpus's long-tail vocabulary.
    "q89_heavy_hitters" -> ((s, d) =>
      Sketches.sampledHeavyHitters(
        table(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token")),
        "token", "doc_id", sampleMod = 10, minFrac = 0.01)),

    // Greedy max-coverage selection: 6 docs maximizing marginal distinct
    // TRIGRAM coverage (the 31-word testdata vocabulary is covered by one
    // doc — phrases are the universe where the greedy works) — the
    // submodular (1-1/e) cover, the discrete dual of q337's k-center
    // picks. The oracle unrolls the same 6 greedy rounds. See
    // Scale.maxCoverageSelect.
    "q340_max_coverage" -> ((s, d) => {
      val pairs = table(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .where(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w) - 3), i -> " +
            "concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("gram"))
      Scale.maxCoverageSelect(pairs, "doc_id", "gram", k = 6)
    }),

    // Sampled per-source top terms at O(k) state per source — the batch
    // twin of the streaming top-k gate, oracled: DuckDB replays the
    // bottom-k sample as row_number() OVER (ORDER BY hash, term) <= k.
    // Where q89 reports exceeders of a frequency floor with exact
    // counts, this reports each key's ranked top at fixed state — the
    // unbounded-vocabulary shape. See Sketches.sampledTopTerms.
    "q339_sampled_topk_terms" -> ((s, d) => {
      val tok = table(s, d, "documents")
        .select(col("source"), col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .select(col("source"),
          concat(col("doc_id").cast("string"), lit("#"),
            col("pos").cast("string")).as("occ_id"),
          col("term"))
      Sketches.sampledTopTerms(tok, "source", "occ_id", "term",
        k = 64, topN = 3)
    }),

    // Two-stage quantized re-rank ANN: int8 max-abs quantization scores the
    // corpus (integer dot products), top-50 candidates per query, exact
    // double cosine re-ranks to top-10. Queries = first 5 vectors.
    "q90_quantized_rerank" -> ((s, d) =>
      graft.operators.Similarity.quantizedRerankKnn(
        table(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 5, k = 10, nCandidates = 50)),

    // The flagship entry query (SparkEntry.entry), oracled: lineitem x
    // orders x customer, revenue + item count per market segment. Joins are
    // unhinted — AQE picks broadcast for the dims at small SF and degrades
    // to shuffle joins as they grow.
    "q100_flagship" -> ((s, d) =>
      table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(Relational.sumExact(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_items"))),

    // TPC-H Q5-shaped 6-table join: revenue per nation where the customer
    // and the line's supplier share a nation, region + date filtered — the
    // classic join-order/planning stress (two independent paths into the
    // nation key). All joins unhinted: AQE broadcasts region/nation/
    // supplier at small SF and degrades the customer/orders/lineitem spine
    // to shuffle joins as they grow; the date filter pushes to the orders
    // scan. Revenue through the DECIMAL(12,2) exact-sum discipline.
    "q133_region_nation_revenue" -> ((s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(table(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(table(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        // decimal-FIRST product (the q14/q146 pattern): casting the raw
        // 2-dp doubles to DECIMAL is engine-stable, multiplying doubles
        // BEFORE the cast is not — the sf0.1 gate caught one product on a
        // half-cent boundary where Spark's and DuckDB's double->decimal
        // roundings disagreed by a cent
        .agg(sum(Relational.dec(col("l_extendedprice")) *
            (lit(1) - Relational.dec(col("l_discount"))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))),

    // TPC-H Q8-shaped market share: per order-year within region ASIA,
    // each supplier nation's share of total revenue. The share denominator
    // is a second |years|-row aggregate joined back (broadcast-tiny), not a
    // window over line items; both sums go through the DECIMAL(12,2)
    // exact-sum discipline so the share is one double division of two
    // exact totals. Joins unhinted — AQE broadcasts the dims.
    "q146_market_share" -> ((s, d) => {
      val vol = table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(table(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .select(year(col("o_orderdate")).cast("bigint").as("o_year"),
          col("n_name"),
          // decimal-cast each FACTOR, multiply in decimal (exact — the q70
          // pattern; casting the double PRODUCT hits a rounding tie)
          (Relational.dec(col("l_extendedprice")) *
            (lit(1) - Relational.dec(col("l_discount")))).as("vol"))
      // revenue stays DECIMAL through BOTH aggregation levels (per-nation,
      // then per-year total) — exact and associative — and casts to double
      // only for the final division and output
      val byNation = vol.groupBy(col("o_year"), col("n_name"))
        .agg(sum(col("vol")).as("__rev"))
      val byYear = byNation.groupBy(col("o_year"))
        .agg(sum(col("__rev")).as("__tot"))
      byNation.join(byYear, "o_year")
        .select(col("o_year"), col("n_name"),
          col("__rev").cast("double").as("revenue"),
          round(col("__rev").cast("double") / col("__tot").cast("double"), 6)
            .as("mkt_share"))
    }),

    // Salted skew join: the fact side's hot keys fan out over 8 salted
    // sub-keys, the dim side replicates x8 — identical result to the plain
    // join (the oracle), without one reducer absorbing a hot key's rows.
    "q99_salted_join" -> ((s, d) =>
      graft.operators.Scale.saltedJoin(
          table(s, d, "orders"),
          table(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
          "o_custkey", "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          Relational.sumExact(col("o_totalprice")).as("sum_price"))),

    // Chunk-level dedup: fingerprint non-overlapping 32-token chunks and
    // score each document by the fraction of its chunks that appear in some
    // OTHER document too — the sub-document granularity (boilerplate,
    // quoted passages) that whole-doc fingerprints miss. Two keyed
    // shuffles: chunk-fp count, then per-doc rollup.
    "q98_chunk_dedup" -> ((s, d) => {
      val chunks = graft.operators.TextPrep.chunk(
          table(s, d, "documents"), "doc_id", "text", size = 32, stride = 32)
        .select(col("doc_id"), md5(col("chunk")).as("fp"))
      val dupFps = chunks.groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") > 1)
        .select(col("fp"), lit(1L).as("is_dup"))
      chunks.join(dupFps, Seq("fp"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_chunks"))
        .withColumn("dup_frac",
          col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
    }),

    // Forward as-of join: each click matched to the user's EARLIEST
    // at-or-after purchase (q43 is the backward direction). Same
    // single-shuffle tagged-union window, time order reversed.
    "q97_asof_forward" -> ((s, d) => {
      val ev = table(s, d, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      Temporal.asofJoinDirected(clicks, purchases, "user_id", "ts",
          payload = Seq("ts", "value"), forward = true)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("__match.ts")).as("purchase_sec"),
          col("__match.value").as("purchase_value"))
    }),

    // Sliding event-time windows (1 h window, 30 min slide): every event
    // lands in exactly 2 windows; Spark's window() expands them at the scan
    // (a generator, no join) and the keyed agg shuffles once. Second-
    // truncated inputs so engine timestamp precision can't flip a boundary.
    "q95_sliding_window" -> ((s, d) =>
      table(s, d, "events")
        .withColumn("tss", date_trunc("second", col("ts")))
        .groupBy(window(col("tss"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          Relational.sumExact(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("window_start_sec"),
          col("event_type"), col("n"), col("sum_value"))),

    // Exact interpolated percentiles per group (the quantile family beyond
    // q49's median): one sort-based aggregate, quartiles from the same pass.
    "q96_percentiles" -> ((s, d) =>
      table(s, d, "events").groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.25D, 0.5D, 0.75D))").as("qs"),
          count(lit(1)).as("n"))
        .select(col("event_type"),
          col("qs").getItem(0).as("p25"),
          col("qs").getItem(1).as("p50"),
          col("qs").getItem(2).as("p75"), col("n"))),

    // Group-wise top-k WITHOUT a rank window: TopKAgg ships <= k rows per
    // (group, map task); the oracle runs the row_number formulation it
    // replaces — same rows, O(k) state instead of a per-group sort-shuffle.
    "q93_topk_per_group" -> ((s, d) =>
      Relational.topKPerKey(table(s, d, "orders"),
        Seq("o_orderpriority"), "o_totalprice", "o_orderkey", k = 3)),

    // UniMax epoch-capped budget allocation (Chung et al. 2023): exact
    // integer waterfilling of half the corpus's token budget across
    // sources with a 2-epoch per-source cap. See Scale.unimaxMix.
    "q355_unimax_mix" -> ((s, d) =>
      graft.operators.Scale.unimaxMix(
        table(s, d, "documents"), "source", "text")),

    // Data-constrained scaling allocation (Muennighoff et al. 2023): the
    // q355 waterfill under a 2x-the-corpus budget with a 4-epoch cap,
    // repeats discounted by the paper's R* = 15.4 value decay — effective
    // tokens D', effective epochs and repeat efficiency per source. See
    // Scale.dataConstrainedMix.
    "q386_data_constrained_mix" -> ((s, d) =>
      graft.operators.Scale.dataConstrainedMix(
        table(s, d, "documents"), "source", "text")),

    // Dedup-discounted data-constrained allocation: exact-substring
    // dedup (q377, Lee et al. 2022) prices each source's duplicated
    // mass; the q386 Muennighoff machinery allocates epochs on the
    // UNIQUE mass — how many epochs each source is worth AFTER dedup.
    // See Scale.dedupAwareMixFrom.
    "q391_dedup_aware_mix" -> ((s, d) =>
      graft.operators.Scale.dedupAwareMixFrom(
        table(s, d, "documents"), "doc_id", "source",
        exactSubstrDocShared(s, d))),

    // Token-budget source mixing: each source contributes documents in
    // md5(doc_id) order until its 600-token budget is crossed (the doc
    // crossing the line is kept — budgets are floors, not ceilings). The
    // window is per-source, so parallelism grows with the source count;
    // this is the token-quota form of q74's doc-count mixing.
    "q94_token_budget_mix" -> ((s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("u"), col("doc_id"))
      table(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
          md5(col("doc_id").cast("string")).as("u"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .where(col("cum_tokens") - col("n_tokens") < 600)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
    }),

    // Count-min sketch point estimates for the fixed query vocabulary, next
    // to the exact counts (the full-shuffle the sketch replaces). md5-derived
    // row hashes make the estimate a pure function of the input multiset —
    // the oracle replays the grid cell by cell.
    "q92_cms_counts" -> ((s, d) => {
      import s.implicits._
      Sketches.cmsPointEstimates(
        table(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("token")),
        "token", tfidfTerms.toDF("token"), w = 1024)
    }),

    // Character-entropy quality score (gibberish / repetition detector):
    // Shannon entropy of the per-doc character distribution, each
    // -p·ln(p) term quantized to integer nano-nats BEFORE the per-doc sum
    // so summation order cannot move the double. The whole statistic is ONE
    // native expression (CharEntropyStats) — the explode-per-char + double
    // groupBy formulation it replaces shuffled one row per corpus CHARACTER
    // (7.5M at sf0.1) to produce a per-doc scalar; the oracle still runs
    // that formulation and matches bit-for-bit (same term arithmetic,
    // same HALF_UP rounding, order-free integer sum).
    // length > 0 keeps the pair aligned on empty documents: the oracle's
    // per-character unnest yields no row for an empty string, while the
    // native expression is total and would emit (0, 0)
    "q86_char_entropy" -> ((s, d) =>
      table(s, d, "documents")
        .where(length(col("text")) > 0)
        .select(col("doc_id"),
          graft.functions.CharEntropyStats.char_entropy_stats(col("text")).as("st"))
        .select(col("doc_id"),
          (col("st.mu_sum").cast("double") / lit(1e9)).as("entropy_nats"),
          col("st.n_distinct").as("n_distinct_chars"))),

    // Per-source frequency cap (crawl balancing: at most 25 docs per
    // source), window-free via the cap-bounded TopKAgg — see
    // Scale.capPerKey for why this beats row_number() on a hot domain.
    // Deterministic md5-uniform preference order; oracle IS the
    // row_number() formulation (bit-identical result, different plan).
    "q102_source_cap" -> ((s, d) =>
      graft.operators.Scale.capPerKey(
        table(s, d, "documents"), "source", "doc_id", cap = 25)),

    // Training-shard export sizing: 8 hash-assigned shards with doc/token/
    // char totals — the pre-write balance check. See Scale.shardPlan.
    "q105_shard_plan" -> ((s, d) =>
      graft.operators.Scale.shardPlan(
        table(s, d, "documents"), "doc_id", "text", nShards = 8)),

    // Pairwise source similarity from bottom-256 KMV sketches of each
    // source's 5-gram set — the mergeable-sketch twin of q104's exact
    // overlap matrix: |groups|²·k pairwise cost regardless of corpus size,
    // exact-integer estimator. See Sketches.kmvPairwiseJaccard.
    "q130_kmv_source_jaccard" -> ((s, d) =>
      Sketches.kmvPairwiseJaccard(
        table(s, d, "documents"), "source", "text", k = 256)),

    // Quality-tier assignment from mergeable-histogram quartile cutpoints:
    // every document gets a 1–4 length tier WITHOUT the global sort ntile()
    // would cost — the sketch cutpoints (q107's bounded-state path, ≤256-
    // group shuffle) come back as one broadcast 3-value row and the
    // assignment is a narrow per-row filter count. The pattern any
    // percentile-bucketed curriculum/quality split uses at corpus scale.
    "q128_quality_tiers" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .select(col("doc_id"), col("n_chars").cast("double").as("v"))
      val cuts = Sketches.histogramQuantiles(docs, "v", bins = 256,
          ps = Seq(0.25, 0.5, 0.75))
        .agg(sort_array(collect_list(col("est"))).as("cuts"))
      docs.crossJoin(broadcast(cuts)) // 1-row cutpoint table
        .select(col("doc_id"), col("v").cast("bigint").as("n_chars"),
          (lit(1) + expr("size(filter(cuts, c -> v > c))")).cast("bigint")
            .as("tier"))
    }),

    // Temperature-scaled (alpha = 0.5) source-mixing plan: per-source
    // sampling probabilities proportional to sqrt(token mass) and the
    // expected draw counts for a 10k-doc epoch — the tail-upweighting mix
    // of multilingual/multi-source recipes. Micro-unit exact weights, one
    // tiny aggregate. See Scale.temperatureMix.
    "q123_temperature_mix" -> ((s, d) =>
      graft.operators.Scale.temperatureMix(
        table(s, d, "documents"), "source", "text", budget = 10000L)),

    // Approximate quantiles from a 256-bin mergeable histogram — the
    // bounded-state twin of exact q96, one bin-keyed shuffle of ≤256
    // groups. See Sketches.histogramQuantiles.
    "q107_histogram_quantile" -> ((s, d) =>
      graft.operators.Sketches.histogramQuantiles(
        table(s, d, "events"), "value", bins = 256,
        ps = Seq(0.5, 0.9, 0.99))),

    // Unknown-range quantiles per event type from the mergeable bottom-k
    // hash-sample rank sketch, with the per-group DKW error-band audit —
    // the monitoring quantile q107's declared-range histogram can't be
    // (no [lo, hi] up front) and exact q96 can't afford (full sort). See
    // Sketches.rankSketchQuantiles / BottomKSampleAgg for why this
    // merge-invariant sample stands in for KLL/t-digest here.
    "q317_sketch_quantile" -> ((s, d) =>
      graft.operators.Sketches.rankSketchQuantiles(
        table(s, d, "events"), "event_type", "event_id", "value",
        k = 1024)),

    // Deterministic 90/5/5 train/val/test carve with per-split sizing —
    // membership is a pure function of doc_id (never hops as the corpus
    // grows). See Scale.splitPlan.
    "q113_split_plan" -> ((s, d) =>
      graft.operators.Scale.splitPlan(
        table(s, d, "documents"), "doc_id", "text",
        splitBounds, lastSplit = splitLast)),

    // Per-doc keyword tagging: top-3 tf-idf terms (>= 6 chars) per
    // document against corpus-wide document frequencies — the transpose of
    // q83's query-side retrieval. Doc-partitioned rank window (bounded),
    // term-keyed df aggregate. See TextRank.keywordsPerDoc.
    "q117_doc_keywords" -> ((s, d) =>
      TextRank.keywordsPerDoc(
        table(s, d, "documents"), "doc_id", "text", k = 3, minTermLen = 6)),

    // Leak-check of the q113 hash carve itself: distinct 13-token shingles
    // shared between the train and test splits, and how many test docs are
    // touched — the audit that runs BEFORE a split ships (near-dups
    // straddling a random-by-id carve are exactly how eval leakage
    // happens). Shingle identities travel as 64-bit hashes (q85's
    // discipline); the semi join is hash-keyed; at warehouse scale the
    // train set would be fronted by a Bloom filter (Sketches.bloomSemiJoin)
    // before the shuffle.
    "q118_split_leakage" -> ((s, d) => {
      val assigned = table(s, d, "documents").select(col("doc_id"), col("text"),
        graft.operators.Scale.splitAssign(col("doc_id"), splitBounds, splitLast)
          .as("split"))
      val sh = assigned.select(col("split"), col("doc_id"),
        explode(graft.functions.TokenNgrams
          .token_ngram_distinct_hashes(col("text"), 13)).as("sh"))
      val train = sh.where(col("split") === splitBounds.head._1)
        .select(col("sh")).distinct()
      val test = sh.where(col("split") === splitLast)
        .select(col("doc_id"), col("sh"))
      test.join(train, Seq("sh"), "left_semi")
        .agg(count_distinct(col("sh")).as("n_leaky_shingles"),
          count_distinct(col("doc_id")).as("n_test_docs_affected"))
    }),

    // One-row corpus data card: sizes, diversity, exact-dup fraction —
    // the summary block of a dataset release. One scan, one global
    // aggregate; every ratio a double division of exact counts.
    "q119_corpus_card" -> ((s, d) =>
      table(s, d, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum((length(col("text")) -
          length(replace(col("text"), lit(" "), lit(""))) + 1).cast("bigint"))
          .as("n_tokens"),
        sum(length(col("text")).cast("bigint")).as("n_chars"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        count_distinct(md5(col("text"))).as("n_unique_texts"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_unique_texts")).cast("double") /
          col("n_docs").cast("double"))
      .withColumn("avg_doc_tokens",
        col("n_tokens").cast("double") / col("n_docs").cast("double"))),

    // Reproducible training order: (shard, pos) address per doc, both pure
    // functions of the id — the deterministic global shuffle a training
    // export ships. Rank window partitioned by shard only. See
    // Scale.trainOrder.
    "q155_train_order" -> ((s, d) =>
      graft.operators.Scale.trainOrder(
        table(s, d, "documents"), "doc_id", nShards = 8)),

    // TPC-H Q10-shaped returned-items report: revenue lost to returns per
    // customer over one quarter, top-20 customers. Joins unhinted (AQE
    // broadcasts nation, degrades the spine as it grows); the date filter
    // pushes to the orders scan and the returnflag filter to lineitem;
    // DECIMAL-exact revenue; top-20 via TakeOrderedAndProject with the
    // (revenue DESC, custkey ASC) total order — never a global sort.
    "q162_returns_report" -> ((s, d) =>
      Relational.topK(
        table(s, d, "customer")
          .join(table(s, d, "orders"), col("c_custkey") === col("o_custkey"))
          .join(table(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .join(table(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
          .where(col("l_returnflag") === "R" &&
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          // decimal-cast each FACTOR, multiply in decimal (the q146
          // pattern — casting the double PRODUCT hits rounding ties)
          .agg(sum(Relational.dec(col("l_extendedprice")) *
              (lit(1) - Relational.dec(col("l_discount"))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_items")),
        20, col("revenue").desc, col("c_custkey").asc)),

    // TPC-H Q18-shaped large-volume orders: orders whose total lineitem
    // quantity exceeds a threshold, with their customer — the classic
    // "aggregate, HAVING-filter, then join the survivors back" shape. The
    // per-order aggregate runs FIRST and the >300 cut makes the join
    // input tiny (AQE sees the post-filter size); quantity sums go
    // through the DECIMAL discipline (l_quantity is a double). Top-20 by
    // (sum_qty DESC, orderkey ASC) via TakeOrderedAndProject.
    "q163_big_orders" -> ((s, d) => {
      val big = table(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(Relational.dec(col("l_quantity"))).as("__q"))
        .where(col("__q") > 300)
        .select(col("l_orderkey"), col("__q").cast("double").as("sum_qty"))
      Relational.topK(
        big.join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_totalprice"), col("sum_qty")),
        20, col("sum_qty").desc, col("o_orderkey").asc)
    }),

    // TPC-H Q22-shaped dormant high-balance customers: above-average
    // balance AND no RECENT orders — scalar aggregate broadcast back +
    // anti join, per-segment rollup. The anti join is custkey-keyed with
    // the recency filter pushed to the orders scan BEFORE the exchange;
    // the average is one broadcast row computed with exact DECIMAL sums.
    "q164_dormant_capital" -> ((s, d) => {
      val cust = table(s, d, "customer")
      val avgBal = cust.where(col("c_acctbal") > 0)
        .agg((sum(Relational.dec(col("c_acctbal"))).cast("double") /
          count(lit(1))).as("__avg"))
      cust.crossJoin(broadcast(avgBal))
        .where(col("c_acctbal") > col("__avg"))
        .join(table(s, d, "orders")
            .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_custs"),
          Relational.sumExact(col("c_acctbal")).as("total_bal"))
    }))

  /** One hex-fold helper used by several oracles: 60-bit value of the first
    * 15 md5 hex chars, as the same left-to-right integer fold Spark's
    * `conv(_, 16, 10)` performs. */
  private[queries] def duckHash60(e: String): String =
    s"list_reduce(list_transform(range(1, 16), i -> " +
      s"CAST(strpos('0123456789abcdef', substr(substr(md5(CAST($e AS VARCHAR)), 1, 15), i, 1)) - 1 AS BIGINT)), " +
      "(a, x) -> a * 16 + x)"

  /** The q300 run-inventory chain (sliding 20-token window fingerprints
    * → 2..10 df cap → pair join → per-(pair, diagonal) island stitch),
    * ending at `runs(doc_a, doc_b, a_start, b_start, run_tokens)` —
    * shared by the q300 and q377 oracles so the run rule can never
    * drift between find and remove. */
  private[queries] def exactRunsCte(pfx: String = ""): String =
    s"""${pfx}toks AS (
      |  SELECT doc_id, split(text, ' ') AS ts FROM documents
      |  WHERE len(split(text, ' ')) >= 20),
      |${pfx}pos AS (
      |  SELECT doc_id, CAST(u.s.i AS BIGINT) AS i, u.s.fp AS fp
      |  FROM ${pfx}toks,
      |    unnest([struct_pack(i := i,
      |        fp := md5(array_to_string(ts[i:i+19], ' ')))
      |      for i in range(1, len(ts) - 18)]) AS u(s)),
      |${pfx}keep AS (
      |  SELECT fp FROM ${pfx}pos GROUP BY fp
      |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
      |${pfx}pk AS (SELECT ${pfx}pos.* FROM ${pfx}pos
      |  JOIN ${pfx}keep USING (fp)),
      |${pfx}pr AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
      |  FROM ${pfx}pk a JOIN ${pfx}pk b
      |    ON a.fp = b.fp AND a.doc_id < b.doc_id),
      |${pfx}st AS (
      |  SELECT doc_a, doc_b, ia, ia - ib AS diag,
      |    ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib
      |      ORDER BY ia) AS isl
      |  FROM ${pfx}pr),
      |${pfx}runs AS (
      |  SELECT doc_a, doc_b,
      |    CAST(min(ia) AS BIGINT) AS a_start,
      |    CAST(min(ia) - diag AS BIGINT) AS b_start,
      |    CAST(max(ia) - min(ia) + 20 AS BIGINT) AS run_tokens
      |  FROM ${pfx}st GROUP BY doc_a, doc_b, diag, isl)""".stripMargin

  /** The q386/q391 shared decay-allocation chain: the q355 waterfill
    * (budget 2x, cap 4) + the driver-computed Muennighoff grid
    * (Scale.muennighoffGrid — the SAME constants the Spark side embeds)
    * over a prebuilt `perTbl(source, s)` CTE, ending at
    * `dm(source, s, cap, allocation, dmu)`. */
  private[queries] def dataConstrainedChainSql(perTbl: String,
                                               pfx: String = ""): String = {
    val grid = graft.operators.Scale.muennighoffGrid
      .map { case (m, c, nx) => s"($m, $c, $nx)" }.mkString(", ")
    s"""${pfx}caps AS MATERIALIZED (SELECT source, s, s * 4 AS cap
       |  FROM $perTbl),
       |${pfx}tot AS (SELECT CAST(sum(s) AS BIGINT) AS ts,
       |    CAST(count(*) AS BIGINT) AS n FROM ${pfx}caps),
       |${pfx}grid AS (SELECT cap, CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(cap) AS BIGINT) AS sc FROM ${pfx}caps GROUP BY 1),
       |${pfx}segs AS (
       |  SELECT CAST(sum(c) OVER (ORDER BY cap) AS BIGINT) AS k,
       |    CAST(sum(sc) OVER (ORDER BY cap) AS BIGINT) AS p
       |  FROM ${pfx}grid
       |  UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
       |${pfx}lvl AS (
       |  SELECT CAST(max((ts * 2 // 1 - p) // (n - k)) AS BIGINT) AS lvl
       |  FROM ${pfx}segs CROSS JOIN ${pfx}tot
       |  WHERE k < n AND ts * 2 // 1 >= p),
       |${pfx}eg AS (SELECT * FROM (VALUES $grid) AS t(m, cum_mu, nxt_mu)),
       |${pfx}al AS (SELECT source, s, cap,
       |    CAST(least(cap, lvl) AS BIGINT) AS allocation,
       |    CAST(least(cap, lvl) // s AS BIGINT) AS mf
       |  FROM ${pfx}caps CROSS JOIN ${pfx}lvl),
       |${pfx}dm AS (SELECT source, s, cap, allocation,
       |    CAST(s AS HUGEINT) * cum_mu
       |      + CAST(allocation - mf * s AS HUGEINT) * nxt_mu AS dmu
       |  FROM ${pfx}al JOIN ${pfx}eg ON ${pfx}al.mf = ${pfx}eg.m)"""
      .stripMargin
  }

  /** The q386/q391 shared output-column list over `dm`. */
  private[queries] def dataConstrainedSelectSql(pfx: String = ""): String =
    s"""${pfx}dm.source, ${pfx}dm.s AS n_tokens, CAST(cap AS BIGINT) AS cap,
      |  allocation,
      |  CAST(CAST((CAST(2 AS HUGEINT) * allocation * 1000000 + ${pfx}dm.s)
      |    // (2 * ${pfx}dm.s) AS BIGINT) AS DOUBLE) / 1e6 AS epochs,
      |  CAST((2 * dmu + 1000000) // 2000000 AS BIGINT) AS eff_tokens,
      |  CAST(CAST((2 * dmu + ${pfx}dm.s)
      |    // (2 * CAST(${pfx}dm.s AS HUGEINT)) AS BIGINT)
      |    AS DOUBLE) / 1e6 AS eff_epochs,
      |  CASE WHEN allocation = 0 THEN 0.0 ELSE
      |    CAST(CAST((2 * dmu + allocation)
      |      // (2 * CAST(allocation AS HUGEINT)) AS BIGINT) AS DOUBLE) / 1e6
      |    END AS repeat_efficiency""".stripMargin

  /** The distinct doc_b token positions `cov(doc_id, pos)` covered by
    * the exact-substring `runs` (q377, q391). */
  private val runsCoveredCte =
    """cov AS (SELECT DISTINCT doc_id, pos FROM (
      |  SELECT doc_b AS doc_id,
      |    CAST(unnest(range(b_start, b_start + run_tokens)) AS BIGINT)
      |      AS pos
      |  FROM runs))"""

  /** The q377 rebuild over tokens `tk(doc_id, pos, tok)` and covered
    * positions `cov(doc_id, pos)`: per-doc token and removed counts and
    * the md5 of the uncovered tokens in order ('' when all are removed). */
  private val coveredRebuildSql =
    """SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN cov.pos IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_tokens_removed,
      |  md5(coalesce(string_agg(CASE WHEN cov.pos IS NULL THEN tok END,
      |    ' ' ORDER BY tk.pos), '')) AS clean_md5
      |FROM tk LEFT JOIN cov ON cov.doc_id = tk.doc_id
      |  AND cov.pos = tk.pos
      |GROUP BY tk.doc_id""".stripMargin

  /** The q83/q84 query terms (no WITH): the distinct >= 6-char tokens
    * of docs 0..2. */
  private val queryTermsCte =
    """qt AS (
      |  SELECT DISTINCT term FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term
      |    FROM documents WHERE doc_id < 3)
      |  WHERE length(term) >= 6)""".stripMargin

  /** The q84 BM25 chain (k1 = 1.2, b = 0.75, no WITH) through per-(doc,
    * query term) micro-unit scores (doc_id, mu) in the CTE named `mu`, in
    * one fixed double operation order. */
  private def bm25MuCte(mu: String): String =
    s"""$queryTermsCte,
       |toks AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dlen,
       |    unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf, min(dlen) AS dlen
       |  FROM toks JOIN qt USING (term) GROUP BY 1, 2),
       |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |st AS (
       |  SELECT count(*) AS n_docs,
       |    sum(len(string_split(text, ' '))) AS total_toks
       |  FROM documents),
       |$mu AS (
       |  SELECT doc_id, CAST(round((
       |    ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
       |       (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1 AS DOUBLE)) *
       |    (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
       |    (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
       |      CAST(0.75 AS DOUBLE) * CAST(dlen AS DOUBLE) /
       |      (CAST(total_toks AS DOUBLE) / CAST(n_docs AS DOUBLE))))
       |    ) * 1e6) AS BIGINT) AS mu
       |  FROM tf JOIN dfs USING (term), st)""".stripMargin

  val oracle: Map[String, String] = Map(

    // Mirrors Sketches.captureRecapture: same md5 capture draws, the
    // Chapman formula in one shared operation order.
    "q298_capture_recapture" -> {
      val h1 = duckHash60("user_id || '#cap1'")
      val h2 = duckHash60("user_id || '#cap2'")
      s"""WITH h AS (
         |  SELECT user_id,
         |    ($h1) % 4 = 0 AS in1,
         |    ($h2) % 4 = 0 AS in2
         |  FROM events),
         |a AS (SELECT
         |    CAST(count(DISTINCT CASE WHEN in1 THEN user_id END)
         |      AS BIGINT) AS n1,
         |    CAST(count(DISTINCT CASE WHEN in2 THEN user_id END)
         |      AS BIGINT) AS n2,
         |    CAST(count(DISTINCT CASE WHEN in1 AND in2 THEN user_id END)
         |      AS BIGINT) AS m,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |  FROM h),
         |e AS (SELECT *,
         |    CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / CAST(m + 1 AS DOUBLE)
         |      - 1.0 AS n_hat
         |  FROM a)
         |SELECT n1, n2, m, n_hat, n_exact,
         |  (n_hat - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
         |    AS rel_err
         |FROM e""".stripMargin
    },

    // Mirrors TextDedup.exactSubstringRuns stage for stage: sliding
    // 20-token window md5 fingerprints, 2..10 distinct-doc df cap, pair
    // join on the fingerprint, ia − row_number() island stitching per
    // (pair, diagonal). Chain shared with the q377 removal oracle.
    "q300_exact_substring" ->
      s"""WITH ${exactRunsCte()}
         |SELECT doc_a, doc_b, a_start, b_start, run_tokens
         |FROM runs""".stripMargin,

    // Mirrors TextDedup.exactSubstringDedupFrom: the shared runs chain, each
    // run's doc_b range exploded to DISTINCT covered positions, one
    // position-keyed left join against the full token inventory, ordered
    // rebuild md5 (coalesce '' when every token is removed).
    "q377_exact_substr_dedup" ->
      s"""WITH ${exactRunsCte()},
         |$runsCoveredCte,
         |tk AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, ts[i] AS tok
         |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
         |    FROM documents),
         |    LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i))
         |$coveredRebuildSql""".stripMargin,

    // Mirrors TextDedup.snapshotSubstrDedup: even-id docs' distinct
    // window fingerprints are the store; odd-id (new-snapshot) windows
    // covered when their fingerprint is in the store OR shared with a
    // smaller odd doc (anchor-keep); covered positions DISTINCT, q377's
    // rebuild form.
    "q396_snapshot_dedup" ->
      s"""WITH ntk AS MATERIALIZED (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
        |  FROM documents WHERE doc_id % 2 = 1),
        |otk AS (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
        |  FROM documents WHERE doc_id % 2 = 0),
        |store AS (
        |  SELECT DISTINCT md5(array_to_string(ts[i:i+19], ' ')) AS fp
        |  FROM otk, LATERAL (SELECT unnest(range(1, len(ts) - 18)) AS i)),
        |ninv AS MATERIALIZED (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i,
        |    md5(array_to_string(ts[i:i+19], ' ')) AS fp
        |  FROM ntk, LATERAL (SELECT unnest(range(1, len(ts) - 18)) AS i)),
        |bmin AS (SELECT fp, min(doc_id) AS mind FROM ninv
        |  GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (
        |  SELECT doc_id, i FROM ninv WHERE fp IN (SELECT fp FROM store)
        |  UNION
        |  SELECT n.doc_id, n.i FROM ninv n JOIN bmin
        |    ON n.fp = bmin.fp AND n.doc_id > bmin.mind),
        |cov AS (SELECT DISTINCT doc_id, i + o AS pos
        |  FROM hit, LATERAL (SELECT unnest(range(0, 20)) AS o)),
        |tk AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, ts[i] AS tok
        |  FROM ntk, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i))
        |$coveredRebuildSql""".stripMargin,

    // Mirrors TextDedup.exactSubstringSweep: the q300 chain with the
    // window length l as a DATA column (one comprehension parameterized
    // by the unnested [10, 20, 40] row), every stage keyed by l, zero
    // rows coalesced back in from the l grid.
    "q384_exact_substr_sweep" ->
      """WITH ll AS (SELECT unnest([10, 20, 40]) AS l),
        |toks0 AS MATERIALIZED (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
        |  FROM documents),
        |tot AS (SELECT CAST(sum(len(ts)) AS BIGINT) AS n_tokens FROM toks0),
        |pos AS MATERIALIZED (
        |  SELECT l, doc_id, CAST(u.s.i AS BIGINT) AS i, u.s.fp AS fp
        |  FROM toks0, ll,
        |    unnest([struct_pack(i := i,
        |        fp := md5(array_to_string(ts[i:i+l-1], ' ')))
        |      for i in range(1, len(ts) - l + 2)]) AS u(s)
        |  WHERE len(ts) >= l),
        |keep AS (
        |  SELECT l, fp FROM pos GROUP BY l, fp
        |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
        |pk AS (SELECT pos.* FROM pos JOIN keep USING (l, fp)),
        |pr AS (
        |  SELECT a.l, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.i AS ia, b.i AS ib
        |  FROM pk a JOIN pk b
        |    ON a.l = b.l AND a.fp = b.fp AND a.doc_id < b.doc_id),
        |st AS (
        |  SELECT l, doc_a, doc_b, ia, ia - ib AS diag,
        |    ia - row_number() OVER (PARTITION BY l, doc_a, doc_b, ia - ib
        |      ORDER BY ia) AS isl
        |  FROM pr),
        |runs AS MATERIALIZED (
        |  SELECT l, doc_a, doc_b,
        |    CAST(min(ia) - diag AS BIGINT) AS b_start,
        |    CAST(max(ia) - min(ia) + l AS BIGINT) AS run_tokens
        |  FROM st GROUP BY l, doc_a, doc_b, diag, isl),
        |nr AS (SELECT l, CAST(count(*) AS BIGINT) AS n_runs
        |  FROM runs GROUP BY 1),
        |cov AS (SELECT DISTINCT l, doc_id, pos FROM (
        |  SELECT l, doc_b AS doc_id,
        |    CAST(unnest(range(b_start, b_start + run_tokens)) AS BIGINT)
        |      AS pos
        |  FROM runs)),
        |nd AS (SELECT l, CAST(count(*) AS BIGINT) AS n_dup_tokens
        |  FROM cov GROUP BY 1)
        |SELECT CAST(ll.l AS BIGINT) AS l,
        |  coalesce(n_runs, 0) AS n_runs,
        |  coalesce(n_dup_tokens, 0) AS n_dup_tokens, n_tokens,
        |  CAST(CAST((CAST(2 AS HUGEINT) * coalesce(n_dup_tokens, 0) * 1000000
        |    + n_tokens) // (2 * n_tokens) AS BIGINT) AS DOUBLE) / 1e6
        |    AS dup_frac
        |FROM ll LEFT JOIN nr ON nr.l = ll.l LEFT JOIN nd ON nd.l = ll.l
        |CROSS JOIN tot""".stripMargin,

    // Mirrors Scale.kishEss: DuckDB's BIGINT sum returns HUGEINT, so both
    // sums are cast back before the two fixed-order double divisions.
    "q299_kish_ess" ->
      """WITH a AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_w,
        |    CAST(sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
        |      AS BIGINT) AS sum_w2
        |  FROM documents GROUP BY lang)
        |SELECT lang, n, sum_w, sum_w2,
        |  CAST(sum_w AS DOUBLE) * CAST(sum_w AS DOUBLE)
        |    / CAST(sum_w2 AS DOUBLE) AS ess,
        |  CAST(sum_w AS DOUBLE) * CAST(sum_w AS DOUBLE)
        |    / CAST(sum_w2 AS DOUBLE) / CAST(n AS DOUBLE) AS efficiency
        |FROM a""".stripMargin,

    "q75_ngram_jaccard_pairs" ->
      """WITH sets AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 8) for i in range(1, length(text) - 6)]) AS gs
        |  FROM documents WHERE length(text) >= 8),
        |grams AS (SELECT doc_id, unnest(gs) AS g FROM sets),
        |rare AS (SELECT g FROM grams GROUP BY g
        |         HAVING count(*) <= CAST(0.02 AS DOUBLE) *
        |           CAST((SELECT count(*) FROM sets) AS DOUBLE)),
        |rg AS (SELECT doc_id, g FROM grams JOIN rare USING (g)),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM rg a JOIN rg b USING (g) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |scored AS (
        |  SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(sa.gs, sb.gs)) AS DOUBLE) /
        |      (len(sa.gs) + len(sb.gs) - len(list_intersect(sa.gs, sb.gs))) AS jaccard
        |  FROM cand
        |  JOIN sets sa ON sa.doc_id = cand.doc_a
        |  JOIN sets sb ON sb.doc_id = cand.doc_b)
        |SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.5""".stripMargin,

    "q76_bloom_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority""".stripMargin,

    "q77_kmv_distinct" -> {
      val h = duckHash60("user_id")
      s"""WITH hv AS (SELECT DISTINCT event_type, $h AS h FROM events),
         |r AS (SELECT event_type, h,
         |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |      FROM hv),
         |agg AS (SELECT event_type, count(*) AS nd,
         |          max(CASE WHEN rn = 64 THEN h END) AS hk
         |        FROM r GROUP BY event_type),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
         |       FROM events GROUP BY event_type)
         |SELECT agg.event_type,
         |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
         |       ELSE (CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
         |            / CAST(hk AS DOUBLE) END AS est_distinct,
         |  ex.exact_distinct
         |FROM agg JOIN ex USING (event_type)""".stripMargin
    },

    "q78_stratified_sample" ->
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10""".stripMargin,

    "q79_weighted_sample" -> {
      val h = duckHash60("doc_id")
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE CAST($h AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)
         |      < least(CAST(1 AS DOUBLE), CAST(n_chars AS DOUBLE) / CAST(400 AS DOUBLE))""".stripMargin
    },

    "q275_skipping_audit" ->
      """WITH a AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS file_group,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    min(o_totalprice) AS min_v, max(o_totalprice) AS max_v
        |  FROM orders GROUP BY 1),
        |ta AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM a),
        |b AS (
        |  SELECT 'band_' || CAST(CAST(floor(o_totalprice / 50000)
        |      AS BIGINT) AS VARCHAR) AS file_group,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    min(o_totalprice) AS min_v, max(o_totalprice) AS max_v
        |  FROM orders GROUP BY 1),
        |tb AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM b)
        |SELECT file_group, n_rows, min_v, max_v,
        |  max_v <= 400000.0 AS skippable,
        |  CAST(n_rows AS DOUBLE) / ta.t AS row_share,
        |  'ingest_month' AS layout
        |FROM a, ta
        |UNION ALL
        |SELECT file_group, n_rows, min_v, max_v,
        |  max_v <= 400000.0 AS skippable,
        |  CAST(n_rows AS DOUBLE) / tb.t AS row_share,
        |  'price_clustered' AS layout
        |FROM b, tb""".stripMargin,

    "q276_compaction_plan" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS part,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) * 128 AS BIGINT) AS est_bytes,
        |  greatest(CAST(1 AS BIGINT),
        |    CAST(ceil(CAST(count(*) * 128 AS DOUBLE) / 1048576.0)
        |      AS BIGINT)) AS planned_files
        |FROM lineitem GROUP BY 1""".stripMargin,

    // Mirrors Scale.weightedReservoir: u = (hash60+1)/2^60 with the +1 in
    // INTEGER space (2^60 > 2^53 — float-then-add would round differently),
    // exponential key quantized to micro-units before the rank.
    "q266_weighted_reservoir" -> {
      val h = duckHash60("doc_id")
      s"""WITH w AS (
         |  SELECT lang, doc_id,
         |    CAST(round(-ln(CAST($h + 1 AS DOUBLE)
         |        / CAST(1152921504606846976 AS DOUBLE))
         |      / CAST(n_chars AS DOUBLE) * 1e6) AS BIGINT) AS key_mu
         |  FROM documents),
         |r AS (
         |  SELECT lang, doc_id, key_mu, row_number() OVER (
         |    PARTITION BY lang ORDER BY key_mu, doc_id) AS rn
         |  FROM w)
         |SELECT lang, CAST(rn AS BIGINT) AS rank, doc_id, key_mu
         |FROM r WHERE rn <= 5""".stripMargin
    },

    "q80_incremental_dedup" ->
      """WITH store AS (
        |  SELECT * FROM documents WHERE CAST(substr(source, 4) AS INT) < 10),
        |batch AS (
        |  SELECT doc_id, text, source FROM documents
        |  WHERE CAST(substr(source, 4) AS INT) >= 10
        |  UNION ALL
        |  SELECT doc_id + 10000, text, source FROM store),
        |bfp AS (SELECT doc_id, md5(text) AS fingerprint, source FROM batch),
        |bd AS (
        |  SELECT doc_id, fingerprint, source FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        |    FROM bfp)
        |  WHERE rn = 1)
        |SELECT doc_id, fingerprint, source FROM bd
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM store WHERE md5(store.text) = bd.fingerprint)""".stripMargin,

    "q81_interval_overlap_join" ->
      """WITH base AS (
        |  SELECT event_id, event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |      + CAST(floor(value) AS BIGINT) AS e
        |  FROM events),
        |a AS (SELECT event_id AS a_id, s AS a_s, e AS a_e FROM base
        |      WHERE event_type = 'click'),
        |b AS (SELECT event_id AS b_id, s AS b_s, e AS b_e FROM base
        |      WHERE event_type = 'view')
        |SELECT a_id, b_id,
        |  least(a_e, b_e) - greatest(a_s, b_s) AS overlap_sec
        |FROM a, b
        |WHERE a_s <= b_e AND b_s <= a_e""".stripMargin,

    "q82_tfidf_topk" -> {
      val dfCols = tfidfTerms.zipWithIndex.map { case (t, i) =>
        s"sum(CASE WHEN list_contains(string_split(text, ' '), '$t') THEN 1 ELSE 0 END) AS df_$i"
      }.mkString(",\n        |    ")
      val scoreTerms = tfidfTerms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(string_split(d.text, ' '), x -> x = '$t')) AS DOUBLE)" +
          s" * ln(CAST(st.n_docs AS DOUBLE) / CAST(greatest(st.df_$i, 1) AS DOUBLE))"
      }.mkString("\n        |    + ")
      s"""WITH st AS (
         |  SELECT count(*) AS n_docs,
         |    $dfCols
         |  FROM documents),
         |sc AS (
         |  SELECT d.doc_id,
         |    $scoreTerms AS score
         |  FROM documents d, st)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id
         |LIMIT 20""".stripMargin
    },

    "q83_tfidf_retrieval" ->
      s"""WITH $queryTermsCte,
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM toks JOIN qt USING (term) GROUP BY 1, 2),
        |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |mu AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(tf AS DOUBLE)
        |      * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e6) AS BIGINT) AS mu
        |  FROM tf JOIN dfs USING (term), n),
        |sc AS (SELECT doc_id, sum(mu) AS mu FROM mu GROUP BY 1)
        |SELECT doc_id, CAST(mu AS DOUBLE) / 1e6 AS score FROM sc
        |ORDER BY mu DESC, doc_id
        |LIMIT 15""".stripMargin,

    "q84_bm25_retrieval" ->
      s"""WITH ${bm25MuCte("mu")},
        |sc AS (SELECT doc_id, sum(mu) AS mu FROM mu GROUP BY 1)
        |SELECT doc_id, CAST(mu AS DOUBLE) / 1e6 AS score FROM sc
        |ORDER BY mu DESC, doc_id
        |LIMIT 15""".stripMargin,

    // Mirrors RankFusion.rrf over the q84 BM25 chain (top-50) and the q33
    // cosine chain against vec 0 (top-50): reciprocals quantized to BIGINT
    // micro-units per list, summed (BIGINT-cast out of HUGEINT), ties on id.
    "q109_hybrid_rrf" ->
      s"""WITH ${bm25MuCte("bmu")},
        |bsc AS (SELECT doc_id, CAST(sum(mu) AS BIGINT) AS mu FROM bmu GROUP BY 1),
        |sp AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY mu DESC, doc_id ASC) AS r
        |       FROM bsc ORDER BY mu DESC, doc_id ASC LIMIT 50),
        |${embNormsCte()},
        |p AS (SELECT c.vec_id AS doc_id,
        |        list_reduce(list_transform(range(1, len(q.emb)+1), i -> q.emb[i]*c.emb[i]), (a,x) -> a+x)
        |          / (q.nrm * c.nrm) AS cos
        |      FROM n q, n c
        |      WHERE q.vec_id = 0 AND c.vec_id <> 0),
        |dr AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r
        |       FROM p),
        |de AS (SELECT doc_id, r FROM dr WHERE r <= 50),
        |u AS (
        |  SELECT doc_id,
        |    CAST(round(CAST(1000000 AS DOUBLE) / CAST(60 + r AS DOUBLE)) AS BIGINT) AS mu
        |  FROM sp
        |  UNION ALL
        |  SELECT doc_id,
        |    CAST(round(CAST(1000000 AS DOUBLE) / CAST(60 + r AS DOUBLE)) AS BIGINT)
        |  FROM de),
        |f AS (SELECT doc_id, CAST(sum(mu) AS BIGINT) AS mu FROM u GROUP BY 1)
        |SELECT doc_id, CAST(mu AS DOUBLE) / 1e6 AS rrf_score FROM f
        |ORDER BY mu DESC, doc_id ASC
        |LIMIT 15""".stripMargin,

    "q85_decontamination" ->
      s"""WITH ${OracleSql.evalShinglesCte}
        |SELECT cs.doc_id, es.eval_id, count(*) AS n_shared
        |FROM cs JOIN es USING (sh)
        |WHERE cs.doc_id <> es.eval_id
        |GROUP BY 1, 2""".stripMargin,

    "q87_repetition_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    len(list_distinct(
        |      [array_to_string(toks[i : i + 2], ' ') for i in range(1, len(toks) - 1)])) AS n_distinct_tri
        |  FROM t WHERE len(toks) >= 3),
        |bg AS (
        |  SELECT doc_id,
        |    unnest([array_to_string(toks[i : i + 1], ' ') for i in range(1, len(toks))]) AS bg
        |  FROM t),
        |bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |tp AS (SELECT doc_id, max(c) AS top_bigram_n FROM bgc GROUP BY 1),
        |fr AS (
        |  SELECT b.doc_id, b.n_tokens,
        |    CAST(tp.top_bigram_n * 2 AS DOUBLE) / CAST(b.n_tokens AS DOUBLE) AS top_bigram_frac,
        |    CAST(1 AS DOUBLE) - CAST(b.n_distinct_tri AS DOUBLE)
        |      / CAST(b.n_tokens - 2 AS DOUBLE) AS dup_trigram_frac
        |  FROM base b JOIN tp USING (doc_id))
        |SELECT doc_id, n_tokens, top_bigram_frac, dup_trigram_frac,
        |  CAST(CASE WHEN top_bigram_frac <= CAST(0.2 AS DOUBLE)
        |            AND dup_trigram_frac <= CAST(0.3 AS DOUBLE)
        |       THEN 1 ELSE 0 END AS BIGINT) AS quality_pass
        |FROM fr""".stripMargin,

    "q88_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS bucket,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, bucket, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) - n_tokens AS start_tok
        |  FROM t)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(start_tok // 256 AS BIGINT) AS seq_id,
        |  CAST(start_tok % 256 AS BIGINT) AS seq_offset,
        |  n_tokens
        |FROM c""".stripMargin,

    // Mirrors Scale.maxCoverageSelect: the same 6 greedy rounds unrolled —
    // per round the (gain DESC, doc_id ASC) argmax over docs' NEW-token
    // counts against the covered set, covered set unioned forward. An
    // exhausted round leaves s_r empty and every later round empty too,
    // which is exactly the operator's early stop. Round CTEs referenced
    // more than once are MATERIALIZED (the q326 lesson).
    "q340_max_coverage" -> {
      val rounds = (2 to 6).map { r =>
        s"""g$r AS (SELECT t.doc_id, count(*) AS c
           |  FROM tok t LEFT JOIN c${r - 1} cv ON t.token = cv.token
           |  WHERE cv.token IS NULL GROUP BY 1),
           |s$r AS MATERIALIZED (SELECT doc_id, CAST(c AS BIGINT) AS c
           |  FROM g$r ORDER BY c DESC, doc_id ASC LIMIT 1),
           |c$r AS MATERIALIZED (SELECT token FROM c${r - 1}
           |  UNION SELECT t.token FROM tok t, s$r s WHERE t.doc_id = s.doc_id),
           |n$r AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM c$r)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 6).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rnk, s$r.doc_id, s$r.c AS gain, " +
          s"n$r.nc AS covered_total FROM s$r, n$r")
        .mkString("\n  UNION ALL ")
      s"""WITH tok AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, token FROM (
         |    SELECT doc_id,
         |      unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |        for i in range(1, len(w) - 1)]) AS token
         |    FROM (SELECT doc_id, string_split(text, ' ') AS w
         |          FROM documents)
         |    WHERE len(w) >= 3)),
         |g1 AS (SELECT doc_id, count(*) AS c FROM tok GROUP BY 1),
         |s1 AS MATERIALIZED (SELECT doc_id, CAST(c AS BIGINT) AS c
         |  FROM g1 ORDER BY c DESC, doc_id ASC LIMIT 1),
         |c1 AS MATERIALIZED (
         |  SELECT t.token FROM tok t, s1 s WHERE t.doc_id = s.doc_id),
         |n1 AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM c1),
         |$rounds
         |$sel""".stripMargin
    },

    // Mirrors Sketches.sampledTopTerms: the bottom-k occurrence sample is
    // row_number() OVER (ORDER BY hash ASC, term ASC) <= k — the exact
    // SQL replay the BottomKTermSampleAgg semilattice guarantees — then
    // in-sample counts ranked (s_cnt DESC, term ASC); share/count
    // estimates are the same single divisions of the same exact longs.
    "q339_sampled_topk_terms" -> {
      val h = duckHash60("doc_id || '#' || CAST(pos AS VARCHAR)")
      s"""WITH tok AS (
         |  SELECT source, doc_id,
         |    unnest(string_split(text, ' ')) AS term,
         |    generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
         |  FROM documents),
         |occ AS MATERIALIZED (
         |  SELECT source, term, $h AS h FROM tok),
         |nn AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM occ GROUP BY 1),
         |samp AS (
         |  SELECT source, term,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY h ASC, term ASC) AS rn
         |  FROM occ),
         |sc AS (SELECT source, term, CAST(count(*) AS BIGINT) AS s_cnt
         |  FROM samp WHERE rn <= 64 GROUP BY 1, 2),
         |r AS (SELECT source, term, s_cnt,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY s_cnt DESC, term ASC) AS BIGINT) AS rnk
         |  FROM sc)
         |SELECT r.source, r.rnk, r.term, r.s_cnt,
         |  CAST(r.s_cnt AS DOUBLE) / CAST(least(64, nn.n) AS DOUBLE)
         |    AS est_share,
         |  CAST(r.s_cnt AS DOUBLE) * CAST(nn.n AS DOUBLE)
         |    / CAST(least(64, nn.n) AS DOUBLE) AS est_cnt,
         |  nn.n
         |FROM r JOIN nn ON r.source = nn.source
         |WHERE r.rnk <= 3""".stripMargin
    },

    "q89_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |s AS (SELECT token FROM toks WHERE doc_id % 10 = 0),
        |st AS (SELECT count(*) AS s_total FROM s),
        |cand AS (
        |  SELECT token FROM s, st
        |  GROUP BY token, s_total
        |  HAVING CAST(count(*) AS DOUBLE) >=
        |    CAST(0.01 AS DOUBLE) / CAST(2 AS DOUBLE) * CAST(s_total AS DOUBLE)),
        |t AS (SELECT count(*) AS total FROM toks)
        |SELECT token, count(*) AS cnt, total
        |FROM toks JOIN cand USING (token), t
        |GROUP BY token, total
        |HAVING CAST(count(*) AS DOUBLE) >= CAST(0.01 AS DOUBLE) * CAST(total AS DOUBLE)""".stripMargin,

    "q90_quantized_rerank" -> {
      val maxAbs = ",\n        list_reduce(list_transform(emb, x -> abs(x)), (a,x) -> greatest(a,x)) AS scale"
      s"""WITH ${embNormsCte(maxAbs)},
        |qn AS (SELECT vec_id, emb, nrm, scale,
        |        list_transform(emb, x ->
        |          CAST(round(x * CAST(127 AS DOUBLE) / greatest(scale, 1e-30)) AS BIGINT)) AS qv
        |      FROM n),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        CAST(list_reduce(list_transform(range(1, len(q.qv)+1), i -> q.qv[i]*c.qv[i]),
        |              (a,x) -> a+x) AS DOUBLE)
        |          * q.scale * c.scale / CAST(16129 AS DOUBLE) / (q.nrm * c.nrm) AS approx
        |      FROM qn q, qn c
        |      WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
        |cand AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY approx DESC, neighbor_id ASC) AS rn
        |    FROM p)
        |  WHERE rn <= 50),
        |r AS (SELECT cand.query_id, cand.neighbor_id,
        |        list_reduce(list_transform(range(1, len(q.emb)+1), i -> q.emb[i]*c.emb[i]),
        |          (a,x) -> a+x) / (q.nrm * c.nrm) AS cos
        |      FROM cand
        |      JOIN n q ON q.vec_id = cand.query_id
        |      JOIN n c ON c.vec_id = cand.neighbor_id),
        |rr AS (SELECT query_id, neighbor_id, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |      FROM r)
        |SELECT query_id, rnk, neighbor_id, round(cos, 6) AS cos_sim FROM rr WHERE rnk <= 10""".stripMargin
    },

    "q100_flagship" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q99_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q98_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(floor((len(string_split(text, ' ')) - 1) / 32) AS INT) + 1 AS n_ch
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, chunk FROM (
        |    SELECT doc_id,
        |      unnest([array_to_string(toks[i*32+1 : i*32+32], ' ') for i in range(0, n_ch)]) AS chunk
        |    FROM t)
        |  WHERE length(chunk) > 0),
        |fp AS (SELECT doc_id, md5(chunk) AS f FROM ch),
        |dup AS (SELECT f FROM fp GROUP BY f HAVING count(DISTINCT doc_id) > 1)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN f IN (SELECT f FROM dup) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_chunks,
        |  CAST(sum(CASE WHEN f IN (SELECT f FROM dup) THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_frac
        |FROM fp GROUP BY doc_id""".stripMargin,

    "q97_asof_forward" ->
      OracleSql.asofPurchaseSql("<="),

    "q95_sliding_window" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events),
        |w AS (
        |  SELECT event_type, value, (sec // 1800 - o) * 1800 AS ws
        |  FROM t, (SELECT unnest([0, 1]) AS o))
        |SELECT ws AS window_start_sec, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,

    "q96_percentiles" ->
      """SELECT event_type,
        |  quantile_cont(value, 0.25) AS p25,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.75) AS p75,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    "q93_topk_per_group" ->
      """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3""".stripMargin,

    // Mirrors Scale.unimaxMix: per-source token sums, cap grid with
    // prefix counts/sums, water level = max over nonneg-guarded segment
    // candidates (negative integer division rounds differently across
    // engines — the guard keeps every division nonnegative; the k=0
    // candidate always survives), capped allocations + house epochs.
    "q355_unimax_mix" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS s
        |  FROM documents GROUP BY 1),
        |caps AS MATERIALIZED (SELECT source, s, s * 2 AS cap FROM per),
        |tot AS (SELECT CAST(sum(s) AS BIGINT) AS ts,
        |    CAST(count(*) AS BIGINT) AS n FROM caps),
        |grid AS (SELECT cap, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(cap) AS BIGINT) AS sc FROM caps GROUP BY 1),
        |segs AS (
        |  SELECT CAST(sum(c) OVER (ORDER BY cap) AS BIGINT) AS k,
        |    CAST(sum(sc) OVER (ORDER BY cap) AS BIGINT) AS p FROM grid
        |  UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |lvl AS (
        |  SELECT CAST(max((ts * 1 // 2 - p) // (n - k)) AS BIGINT) AS lvl
        |  FROM segs CROSS JOIN tot
        |  WHERE k < n AND ts * 1 // 2 >= p)
        |SELECT source, s AS n_tokens, CAST(cap AS BIGINT) AS cap,
        |  CAST(least(cap, lvl) AS BIGINT) AS allocation,
        |  CAST(CAST((CAST(2 AS HUGEINT) * least(cap, lvl) * 1000000 + s)
        |    // (2 * s) AS BIGINT) AS DOUBLE) / 1e6 AS epochs
        |FROM caps CROSS JOIN lvl""".stripMargin,

    // Mirrors Scale.dataConstrainedMix: the q355 waterfill chain at
    // budget 2x / cap 4, then the driver-computed Muennighoff decay grid
    // (shared VERBATIM with the Spark side via Scale.muennighoffGrid —
    // libm exp can never diverge) joined on the full-epoch count, HUGEINT
    // effective-token arithmetic. Chain shared with the q391 oracle via
    // dataConstrainedChainSql.
    "q386_data_constrained_mix" ->
      s"""WITH per AS (
         |  SELECT source,
         |    CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS s
         |  FROM documents GROUP BY 1),
         |${dataConstrainedChainSql("per")}
         |SELECT ${dataConstrainedSelectSql()} FROM dm""".stripMargin,

    // Mirrors Scale.dedupAwareMixFrom: the shared q377 removal chain rolled
    // up per source (unique mass = raw - removed, zero-mass sources
    // excluded — the documented s = 0 divergence guard), then the q386
    // decay/waterfill chain VERBATIM on the unique masses.
    "q391_dedup_aware_mix" ->
      s"""WITH ${exactRunsCte()},
         |$runsCoveredCte,
         |tk AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos
         |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
         |    FROM documents),
         |    LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i)),
         |pd AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN cov.pos IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_rm
         |  FROM tk LEFT JOIN cov ON cov.doc_id = tk.doc_id
         |    AND cov.pos = tk.pos
         |  GROUP BY tk.doc_id),
         |per AS (SELECT d.source,
         |    CAST(sum(pd.n_tokens) AS BIGINT) AS n_raw_tokens,
         |    CAST(sum(pd.n_rm) AS BIGINT) AS n_dup_tokens,
         |    CAST(sum(pd.n_tokens) - sum(pd.n_rm) AS BIGINT) AS s
         |  FROM pd JOIN documents d USING (doc_id) GROUP BY 1
         |  HAVING sum(pd.n_tokens) - sum(pd.n_rm) > 0),
         |${dataConstrainedChainSql("per")}
         |SELECT per.n_raw_tokens, per.n_dup_tokens, ${dataConstrainedSelectSql()}
         |FROM dm JOIN per USING (source)""".stripMargin,

    "q94_token_budget_mix" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS u
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id)
        |      AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens - n_tokens < 600""".stripMargin,

    "q92_cms_counts" -> {
      // row j's hash = 8-hex-char slice j of md5(token), folded to BIGINT —
      // the same left-to-right fold duckHash60 does over 15 chars
      val h = "list_reduce(list_transform(range(1, 9), i -> " +
        "CAST(strpos('0123456789abcdef', " +
        "substr(substr(md5(CAST(token AS VARCHAR)), j*8+1, 8), i, 1)) - 1 AS BIGINT)), " +
        "(a, x) -> a * 16 + x)"
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |rws AS (SELECT unnest([0,1,2,3]) AS j),
         |cells AS (
         |  SELECT j, $h % 1024 AS b, count(*) AS cnt
         |  FROM toks, rws GROUP BY 1, 2),
         |q AS (SELECT unnest(['join','vector','stream','window','spark']) AS token),
         |probes AS (SELECT token, j, $h % 1024 AS b FROM q, rws),
         |est AS (SELECT token, min(coalesce(cnt, 0)) AS est_count
         |        FROM probes LEFT JOIN cells USING (j, b) GROUP BY token),
         |ex AS (SELECT token, count(*) AS exact_count FROM toks JOIN q USING (token) GROUP BY token)
         |SELECT est.token, est_count, coalesce(exact_count, 0) AS exact_count
         |FROM est LEFT JOIN ex USING (token)""".stripMargin
    },

    "q86_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, length(text) AS len,
        |    unnest([substr(text, i, 1) for i in range(1, length(text) + 1)]) AS ch
        |  FROM documents WHERE length(text) > 0),
        |g AS (SELECT doc_id, len, ch, count(*) AS cnt FROM ch GROUP BY 1, 2, 3),
        |mu AS (
        |  SELECT doc_id, ch,
        |    CAST(round(-(CAST(cnt AS DOUBLE) / CAST(len AS DOUBLE)) *
        |      ln(CAST(cnt AS DOUBLE) / CAST(len AS DOUBLE)) * 1e9) AS BIGINT) AS mu
        |  FROM g)
        |SELECT doc_id, CAST(sum(mu) AS DOUBLE) / 1e9 AS entropy_nats,
        |  count(DISTINCT ch) AS n_distinct_chars
        |FROM mu GROUP BY 1""".stripMargin,

    // Mirrors Scale.capPerKey (TopKAgg, window-free) with the row_number()
    // formulation — same md5-uniform order, same id tie-break.
    "q102_source_cap" -> {
      val h = duckHash60("doc_id")
      s"""WITH u AS (
         |  SELECT source, doc_id,
         |    CAST($h AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE) AS u
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id,
         |    row_number() OVER (PARTITION BY source ORDER BY u ASC, doc_id ASC) AS rn
         |  FROM u)
         |SELECT source, doc_id FROM r WHERE rn <= 25""".stripMargin
    },

    // Mirrors Scale.shardPlan: same 60-bit md5 fold mod 8, same space-count
    // token identity; counts/sums BIGINT on both sides.
    "q105_shard_plan" -> {
      val h = duckHash60("doc_id")
      s"""SELECT $h % 8 AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(text) - len(replace(text, ' ', '')) + 1) AS BIGINT) AS n_tokens,
         |  CAST(sum(len(text)) AS BIGINT) AS n_chars
         |FROM documents GROUP BY 1""".stripMargin
    },

    // Mirrors Sketches.histogramQuantiles(256, [0.5, 0.9, 0.99]): same
    // clamped floor binning, BIGINT bin counts, and one double
    // interpolation expression per quantile in the same operation order.
    // The quantile literals are CAST to DOUBLE (bare 0.5 is DECIMAL in
    // both engines and decimal math would diverge).
    // Mirrors Sketches.rankSketchQuantiles: same 60-bit md5 sample keys,
    // same (hash, value) bottom-1024 selection via row_number, same
    // continuous-interpolation percentile over the sample (the q96-proven
    // cross-engine-exact pair percentile ↔ quantile_cont), exact BIGINT
    // conditional counts for the rank audit, one terminal division each.
    "q317_sketch_quantile" -> {
      val h = duckHash60("event_id")
      s"""WITH h AS (
         |  SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY $h, value) AS rn
         |  FROM events),
         |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |      FROM events GROUP BY 1),
         |e AS (
         |  SELECT event_type,
         |    quantile_cont(value, 0.5) AS est_p50,
         |    quantile_cont(value, 0.9) AS est_p90,
         |    quantile_cont(value, 0.99) AS est_p99
         |  FROM h WHERE rn <= 1024 GROUP BY 1),
         |r AS (
         |  SELECT v.event_type,
         |    CAST(sum(CASE WHEN v.value <= e.est_p50 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c50,
         |    CAST(sum(CASE WHEN v.value <= e.est_p90 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c90,
         |    CAST(sum(CASE WHEN v.value <= e.est_p99 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS c99
         |  FROM events v JOIN e USING (event_type) GROUP BY 1),
         |f AS (
         |  SELECT e.event_type, n.n, e.est_p50, e.est_p90, e.est_p99,
         |    CAST(r.c50 AS DOUBLE) / CAST(n.n AS DOUBLE) AS rank_p50,
         |    CAST(r.c90 AS DOUBLE) / CAST(n.n AS DOUBLE) AS rank_p90,
         |    CAST(r.c99 AS DOUBLE) / CAST(n.n AS DOUBLE) AS rank_p99
         |  FROM e JOIN n USING (event_type) JOIN r USING (event_type))
         |SELECT event_type, n, est_p50, est_p90, est_p99,
         |  rank_p50, rank_p90, rank_p99,
         |  (abs(rank_p50 - CAST(0.5 AS DOUBLE)) <= CAST(0.06 AS DOUBLE)
         |   AND abs(rank_p90 - CAST(0.9 AS DOUBLE)) <= CAST(0.06 AS DOUBLE)
         |   AND abs(rank_p99 - CAST(0.99 AS DOUBLE)) <= CAST(0.06 AS DOUBLE))
         |    AS within_band
         |FROM f""".stripMargin
    },

    "q107_histogram_quantile" ->
      """WITH s AS (SELECT min(value) AS lo, max(value) AS hi,
        |             CAST(count(*) AS BIGINT) AS n FROM events),
        |b AS (
        |  SELECT least(255, greatest(0,
        |      CAST(floor((value - s.lo) / ((s.hi - s.lo) / 256)) AS INT))) AS bin,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events, s GROUP BY 1),
        |c AS (
        |  SELECT bin, cnt,
        |    COALESCE(CAST(sum(cnt) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
        |  FROM b),
        |p AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
        |                     CAST(0.99 AS DOUBLE)]) AS p)
        |SELECT p.p,
        |  s.lo + (s.hi - s.lo) / 256 *
        |    (CAST(c.bin AS DOUBLE) +
        |     (p.p * CAST(s.n AS DOUBLE) - CAST(c.cb AS DOUBLE)) / CAST(c.cnt AS DOUBLE)) AS est
        |FROM p, s, c
        |WHERE CAST(c.cb AS DOUBLE) < p.p * CAST(s.n AS DOUBLE)
        |  AND p.p * CAST(s.n AS DOUBLE) <= CAST(c.cb + c.cnt AS DOUBLE)""".stripMargin,

    // Mirrors Scale.splitPlan: same 60-bit md5 uniform, same explicit
    // cumulative bounds as double literals, same space-count token
    // identity; counts/sums BIGINT on both sides.
    "q113_split_plan" -> {
      val h = duckHash60("doc_id")
      s"""WITH a AS (
         |  SELECT CASE
         |      WHEN CAST($h AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)
         |        < CAST(0.9 AS DOUBLE) THEN 'train'
         |      WHEN CAST($h AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)
         |        < CAST(0.95 AS DOUBLE) THEN 'val'
         |      ELSE 'test' END AS split,
         |    CAST(len(text) - len(replace(text, ' ', '')) + 1 AS BIGINT) AS toks,
         |    CAST(len(text) AS BIGINT) AS chars
         |  FROM documents)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(chars) AS BIGINT) AS n_chars
         |FROM a GROUP BY 1""".stripMargin
    },

    // Mirrors TextRank.keywordsPerDoc: same length filter, micro-unit
    // tf*ln(N/df), rank by (mu DESC, term ASC) within each doc.
    "q117_doc_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |ft AS (SELECT doc_id, term FROM toks WHERE length(term) >= 6),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM ft GROUP BY 1, 2),
        |dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |mu AS (
        |  SELECT doc_id, term,
        |    CAST(round(CAST(tf AS DOUBLE)
        |      * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e6) AS BIGINT) AS mu
        |  FROM tf JOIN dfs USING (term), n),
        |r AS (
        |  SELECT doc_id, term, mu,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY mu DESC, term ASC) AS rnk
        |  FROM mu)
        |SELECT doc_id, rnk, term, CAST(mu AS DOUBLE) / 1e6 AS score
        |FROM r WHERE rnk <= 3""".stripMargin,

    // Mirrors q118 with raw-string shingles (the hashed Spark identities
    // match absent a 2^-64 FNV collision — q85's precedent); same md5
    // split-carve as q113's oracle.
    "q118_split_leakage" -> {
      val h = duckHash60("doc_id")
      s"""WITH a AS (
         |  SELECT doc_id, text,
         |    CASE
         |      WHEN CAST($h AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)
         |        < CAST(0.9 AS DOUBLE) THEN 'train'
         |      WHEN CAST($h AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)
         |        < CAST(0.95 AS DOUBLE) THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM documents),
         |t AS (SELECT doc_id, split, string_split(text, ' ') AS toks
         |      FROM a WHERE len(string_split(text, ' ')) >= 13),
         |sh AS (SELECT DISTINCT doc_id, split, sh FROM (
         |  SELECT doc_id, split,
         |    unnest([array_to_string(toks[i : i + 12], ' ')
         |            for i in range(1, len(toks) - 11)]) AS sh
         |  FROM t)),
         |tr AS (SELECT DISTINCT sh FROM sh WHERE split = 'train'),
         |te AS (SELECT doc_id, sh FROM sh WHERE split = 'test')
         |SELECT CAST(count(DISTINCT te.sh) AS BIGINT) AS n_leaky_shingles,
         |  CAST(count(DISTINCT te.doc_id) AS BIGINT) AS n_test_docs_affected
         |FROM te JOIN tr ON te.sh = tr.sh""".stripMargin
    },

    // Mirrors q119: exact counts, double ratios.
    "q119_corpus_card" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(text) - len(replace(text, ' ', '')) + 1) AS BIGINT) AS n_tokens,
        |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
        |  CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_frac,
        |  CAST(CAST(sum(len(text) - len(replace(text, ' ', '')) + 1) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_doc_tokens
        |FROM documents""".stripMargin,

    // Final DECIMAL sum -> DOUBLE routed through VARCHAR (the
    // OracleSql.decToDouble form): DuckDB's direct DECIMAL->DOUBLE cast
    // double-rounds once the unscaled sum crosses 2^53 (~sf10 here).
    "q133_region_nation_revenue" ->
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))))
        |    AS VARCHAR) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin,

    // Mirrors q146: revenue DECIMAL through both aggregation levels, one
    // double division for the share.
    "q146_market_share" ->
      """WITH vol AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, n_name,
        |    CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2))) AS vol
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |bn AS (SELECT o_year, n_name, sum(vol) AS rev FROM vol GROUP BY 1, 2),
        |yt AS (SELECT o_year, sum(rev) AS tot FROM bn GROUP BY 1)
        |SELECT bn.o_year, bn.n_name, CAST(bn.rev AS DOUBLE) AS revenue,
        |  round(CAST(bn.rev AS DOUBLE) / CAST(yt.tot AS DOUBLE), 6) AS mkt_share
        |FROM bn JOIN yt USING (o_year)""".stripMargin,

    // Mirrors q130: same md5-fold gram hashes (duckHash60 = Spark's
    // conv(md5) fold), bottom-256 by ORDER BY h, same exact-integer
    // estimator arithmetic.
    "q130_kmv_source_jaccard" -> {
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT DISTINCT source,
        |    unnest(list_distinct(
        |      [array_to_string(toks[i : i + 4], ' ') for i in range(1, len(toks) - 3)])) AS g
        |  FROM t WHERE len(toks) >= 5),
        |h AS (SELECT source, """.stripMargin + duckHash60("g") +
      """ AS h FROM g),
        |sk AS (SELECT source, (list(h ORDER BY h))[1:256] AS hs
        |       FROM h GROUP BY 1),
        |p AS (
        |  SELECT a.source AS group_a, b.source AS group_b, a.hs AS ha, b.hs AS hb
        |  FROM sk a JOIN sk b ON a.source < b.source),
        |u AS (
        |  SELECT group_a, group_b, ha, hb,
        |    (list_sort(list_distinct(list_concat(ha, hb))))[1:256] AS u
        |  FROM p)
        |SELECT group_a, group_b,
        |  CAST(len(list_filter(u, x -> list_contains(ha, x) AND list_contains(hb, x)))
        |    AS BIGINT) AS sketch_shared,
        |  CAST(len(u) AS BIGINT) AS sketch_size,
        |  CAST(len(list_filter(u, x -> list_contains(ha, x) AND list_contains(hb, x)))
        |    AS DOUBLE) / CAST(len(u) AS DOUBLE) AS est_jaccard
        |FROM u""".stripMargin
    },

    // Mirrors q128: replays the q107 binning construction on
    // CAST(n_chars AS DOUBLE) for the three quartile cutpoints, then the
    // same strictly-greater filter count per document.
    "q128_quality_tiers" ->
      """WITH v AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS v FROM documents),
        |s AS (SELECT min(v) AS lo, max(v) AS hi,
        |             CAST(count(*) AS BIGINT) AS n FROM v),
        |b AS (
        |  SELECT least(255, greatest(0,
        |      CAST(floor((v - s.lo) / ((s.hi - s.lo) / 256)) AS INT))) AS bin,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM v, s GROUP BY 1),
        |c AS (
        |  SELECT bin, cnt,
        |    COALESCE(CAST(sum(cnt) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
        |  FROM b),
        |p AS (SELECT unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
        |                     CAST(0.75 AS DOUBLE)]) AS p),
        |cuts AS (
        |  SELECT s.lo + (s.hi - s.lo) / 256 *
        |      (CAST(c.bin AS DOUBLE) +
        |       (p.p * CAST(s.n AS DOUBLE) - CAST(c.cb AS DOUBLE))
        |         / CAST(c.cnt AS DOUBLE)) AS est
        |  FROM p, s, c
        |  WHERE CAST(c.cb AS DOUBLE) < p.p * CAST(s.n AS DOUBLE)
        |    AND p.p * CAST(s.n AS DOUBLE) <= CAST(c.cb + c.cnt AS DOUBLE))
        |SELECT d.doc_id, CAST(d.v AS BIGINT) AS n_chars,
        |  CAST(1 + (SELECT count(*) FROM cuts WHERE d.v > cuts.est) AS BIGINT)
        |    AS tier
        |FROM v d""".stripMargin,

    // Mirrors q123: micro-unit sqrt weights summed exactly, then two
    // exact-integer divisions.
    "q123_temperature_mix" ->
      """WITH mass AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(text) - len(replace(text, ' ', '')) + 1) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs, n_tokens,
        |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_mu
        |  FROM mass),
        |t AS (SELECT sum(w_mu) AS tw FROM w)
        |SELECT source, n_docs, n_tokens,
        |  CAST(w_mu AS DOUBLE) / CAST(t.tw AS DOUBLE) AS p_sample,
        |  CAST(round(CAST(w_mu AS DOUBLE) / CAST(t.tw AS DOUBLE) * 10000)
        |    AS BIGINT) AS expected_docs
        |FROM w, t""".stripMargin,

    // Mirrors Scale.trainOrder: same shard hash, same independent salted
    // order hash, same (order, id) tie-break inside the shard window.
    "q155_train_order" -> {
      val hShard = duckHash60("doc_id")
      val hOrd = duckHash60("CAST(doc_id AS VARCHAR) || '#ord'")
      s"""WITH a AS (SELECT doc_id,
         |    CAST($hShard % 8 AS BIGINT) AS shard,
         |    $hOrd AS ord
         |  FROM documents)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY ord ASC, doc_id ASC) AS BIGINT) AS pos
         |FROM a""".stripMargin
    },

    // Mirrors q162: DECIMAL-exact revenue, identical quarter + returnflag
    // filters, same (revenue DESC, custkey ASC) top-20 cut.
    "q162_returns_report" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    // Mirrors q163: DECIMAL quantity sums, same >300 HAVING cut and
    // (sum_qty DESC, orderkey ASC) top-20.
    "q163_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS q
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_totalprice,
        |  CAST(q AS DOUBLE) AS sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    // Mirrors q164: exact-DECIMAL average, identical anti-join carve.
    "q164_dormant_capital" ->
      """WITH a AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |    / count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_custs,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer, a
        |WHERE c_acctbal > a.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin
  )
}
