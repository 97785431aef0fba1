package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import CacheScope.checkpoint

/** Deduplication operators for large-scale document corpora.
  *
  * Scale design (100 TB): every operator here is bucketed — candidate pairs are
  * generated ONLY within hash buckets (exact fingerprint, MinHash band
  * signature, or SimHash band), never by an all-pairs product. The shuffles are
  * hash-partitioned on bucket keys, whose cardinality grows with the corpus, so
  * the same plans hold on a 1000-executor cluster. Bucket skew is bounded by
  * construction: a MinHash/SimHash band bucket only collects near-duplicate
  * cluster members, not arbitrary fractions of the corpus.
  *
  * Capability derives from the LLM-pipeline extension requirements (the
  * reference itself has no dedup beyond an AVG-collapse,
  * reference: dags/weather_daily_etl.py:186-196).
  */
object TextDedup {

  /** Whitespace tokens of a single-space-separated text column. */
  def tokens(textCol: String): org.apache.spark.sql.Column =
    split(col(textCol), " ")

  /** Distinct word k-shingles of `textCol` as ONE array per document — the
    * doc-level set representation both signature generation and exact
    * verification derive from (computed once, not per consumer). Rows with
    * fewer than k tokens are dropped. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.where(size(tokens(textCol)) >= k)
      .select(col(idCol),
        // greatest(..., 1) makes the expression TOTAL: the optimizer may
        // evaluate the projection speculatively before the filter, and
        // sequence(1, 0) runs DESCENDING into slice(_, 0, _) which throws.
        // Short rows produce one (truncated) shingle here and are then
        // dropped by the filter — never observable in the output.
        expr(s"array_distinct(transform(sequence(1, greatest(size(split($textCol,' '))-${k - 1}, 1)), " +
          s"i -> concat_ws(' ', slice(split($textCol,' '), i, $k))))").as("shs"))

  /** Long form: one row per (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shingleSets(df, idCol, textCol, k).select(col(idCol), explode(col("shs")).as("sh"))

  /** Exact content dedup: fingerprint = md5(text); keeps the row with the
    * smallest `idCol` per fingerprint. One shuffle on the fingerprint. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Relational.dedupeByKey(
      df.withColumn("fingerprint", md5(col(textCol))),
      Seq(col("fingerprint")), Seq(col(idCol).asc))

  /** The (id, band, sig) signature vocabulary of the persistent cross-run
    * dedup store: per-band MinHash rows (band 0..bands-1, one native
    * [[graft.functions.MinHashSigs]] pass) plus one exact-md5 SENTINEL row
    * per doc (band = -1) so short documents that yield no shingles are
    * still collision-guarded. Shared by the streaming ingest gate
    * ([[graft.streaming.IncrementalNearDup]]) and the batch twin
    * [[crossRunVerdicts]] — one signature scheme, two consumption modes. */
  def bandSignatureRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val banded = stackBands(minhashSigs(docs, idCol, textCol), idCol)
    val sentinels = docs.select(col(idCol),
      lit(-1).as("band"), md5(col(textCol)).as("sig"))
    banded.unionByName(sentinels)
  }

  /** BATCH cross-run near-dup gate: verdict every batch document against
    * a persisted signature store from previous runs — the batch twin of
    * the streaming [[graft.streaming.IncrementalNearDup]], for the
    * "monthly crawl lands as one 100 TB batch" shape where a foreachBatch
    * micro-ingest is the wrong tool. `storeSigs` is any frame with the
    * store's (band, sig) rows (the per-doc store layout written by the
    * streaming gate reads directly); semantics mirror the streaming rule:
    * a doc is rejected when ANY of its rows — banded or sentinel —
    * collides with ANY store row, or shares a bucket with a smaller-id
    * batch doc (within-batch minima computed over the FULL batch first,
    * the replay-stable order). A doc already in the store is reported as
    * rejected-by-store here (sentinel collision), where the streaming
    * form silently drops it — a gate reports, an ingester skips.
    *
    * Output per batch doc: store_hits / batch_prior_hits (exact counts
    * over its ≤ bands+1 signature rows) and accepted = both zero. The
    * survivors' [[bandSignatureRows]] are what a caller appends to the
    * store to close the run.
    *
    * Scale: everything is (band, sig)-keyed — the bucket-minimum
    * aggregate, the store probe (store side bucketed on (band, sig) at
    * warehouse scale), and the per-doc verdict aggregate; nothing is
    * all-pairs, and the store is never materialized per-doc. */
  def crossRunVerdicts(storeSigs: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val sigs = bandSignatureRows(batch, idCol, textCol)
    val storeKeys = storeSigs.select(col("band"), col("sig")).distinct()
    val minPerBucket = sigs.groupBy(col("band"), col("sig"))
      .agg(min(col(idCol)).as("__min_id"))
    sigs
      .join(minPerBucket, Seq("band", "sig"))
      .join(storeKeys.withColumn("__st", lit(1L)), Seq("band", "sig"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("__st"), lit(0L))).as("store_hits"),
        sum(when(col("__min_id") < col(idCol), 1L).otherwise(0L))
          .as("batch_prior_hits"))
      .withColumn("accepted",
        col("store_hits") === lit(0L) && col("batch_prior_hits") === lit(0L))
  }

  /** The MinHash band scheme every signature here uses: word 3-shingles,
    * 4 bands of 2 draws each (8 4-hex-char md5 slices fit one digest). */
  private val shingleK = 3
  private val bands = 4

  /** Each doc's 2·bands-draw MinHash signature `mh`, one native
    * [[graft.functions.MinHashSigs]] pass; docs with no shingles drop. */
  private def minhashSigs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), graft.functions.MinHashSigs.minhash_sigs(
        split(col(textCol), " "), shingleK, 2 * bands).as("mh"))
      .where(col("mh").isNotNull)

  /** The (idCol, band, sig) rows of a [[minhashSigs]] frame: band b
    * concatenates the minima of draws 2b and 2b+1. */
  private def stackBands(sigs: DataFrame, idCol: String): DataFrame = {
    val stacked = (0 until bands)
      .map(b => s"$b, concat(mh[${2 * b}], mh[${2 * b + 1}])").mkString(", ")
    sigs.select(col(idCol), expr(s"stack($bands, $stacked) AS (band, sig)"))
  }

  /** The candidate pairs (doc_a < doc_b) sharing a (band, sig) bucket of
    * `sig`, with the shingle sets of the docs in them: exact verification
    * builds shingle ARRAYS only for docs that appear in some candidate
    * pair (a semi-join — typically a tiny fraction of the corpus), then
    * intersects in-row. */
  private def bandCandidates(sig: DataFrame, docs: DataFrame, idCol: String,
                             textCol: String): (DataFrame, DataFrame) = {
    val a = sig.select(col("band"), col("sig"), col(idCol).as("doc_a"))
    val b = sig.select(col("band"), col("sig"), col(idCol).as("doc_b"))
    val cand = a.join(b, Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val candIds = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("cand_id"))
      .distinct()
    val sets = shingleSets(
      docs.join(candIds, col(idCol) === col("cand_id"), "left_semi"),
      idCol, textCol, shingleK)
    (cand, sets)
  }

  /** MinHash-LSH near-duplicate pairs with exact Jaccard verification.
    *
    * Classic (b bands) x (r=2 rows) scheme: each of the 8 minhash draws is an
    * independent 4-hex-char slice of the shingle's md5; band i's signature
    * concatenates the minima of draws 2i and 2i+1, so a pair is a candidate
    * iff BOTH minhashes of some band agree — collision probability
    * 1-(1-s^2)^bands at Jaccard s, a much sharper threshold curve than
    * single-row bands (far fewer low-similarity candidates to verify at
    * scale). md5 is the hash so a SQL oracle reproduces it bit-for-bit.
    * Candidates come from a self-join on (band, sig) — bucketed, never
    * all-pairs; the exact Jaccard filter then removes false positives.
    */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          threshold: Double = 0.5): DataFrame = {
    // Per-band min-hash signatures in ONE native pass over the token array
    // (no intermediate shingle/hash arrays — see MinHashSigs). Band b
    // concatenates the minima of draws 2b and 2b+1. The sig table is tiny
    // (bands rows per doc) and consumed by both sides of the self-join, so
    // it is persisted; at cluster scale a checkpoint plays this role.
    val sig = CacheScope.persist(
      stackBands(minhashSigs(docs, idCol, textCol), idCol))
    val (cand, sets) = bandCandidates(sig, docs, idCol, textCol)
    cand
      .join(sets.toDF("doc_a", "sh_a"), "doc_a")
      .join(sets.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Connected components over a near-duplicate pair graph — the step that
    * turns pairwise matches into KEEP/DROP decisions (each cluster keeps its
    * minimum id as representative). Deterministic min-label propagation:
    * every node's label converges to the smallest id reachable from it.
    *
    * Scale design: pure DataFrame iteration — each round is one join + one
    * aggregation, both hash-partitioned on node id; one-hop propagation needs
    * O(component diameter) rounds, and near-dup graphs are unions of tiny
    * cliques (diameter 1-2), so 2-3 rounds in practice. The driver only
    * checks the converged flag (a 1-row count), never collects the graph.
    *
    * Checkpointing: each round's state is materialized AND its lineage
    * truncated, so iteration N's plan doesn't embed plans 1..N-1 (plain
    * persist keeps the whole chain and planning cost grows superlinearly),
    * through [[CacheScope.checkpoint]]: reliable when the session has a
    * checkpoint dir, else local. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val aCol = "doc_a"
    val bCol = "doc_b"
    val maxIter = 50
    val edges = checkpoint(pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct())
    var labels = checkpoint(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("label", "nl"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nmin"))
      val next = checkpoint(labels.join(neighborMin, "id")
        .select(col("id"), least(col("label"), col("nmin")).as("label")))
      converged = next.join(labels.withColumnRenamed("label", "old"), "id")
        .where(col("label") =!= col("old")).isEmpty
      labels = next
      iter += 1
    }
    // One-hop propagation needs O(component diameter) rounds; silently
    // returning unconverged labels would split true components. Near-dup
    // graphs are unions of small cliques, so hitting this means the input
    // is not the expected shape — fail loudly.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations " +
        "(component diameter exceeds it)")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** BLEU-2 diagnostic over a near-duplicate candidate pair set — the MT
    * metric (Papineni et al. 2002, public) reused as a dedup audit: MinHash
    * Jaccard on 3-shingle SETS is blind to how much of the candidate's
    * token MASS the match covers (a doc that repeats its twin's text 5×
    * still has Jaccard 1.0), while BLEU's clipped n-gram precisions with a
    * brevity penalty measure exactly that. Scoring each surviving pair with
    * both separates true mirrors (both high) from set-equal/mass-skewed
    * pairs (Jaccard high, BLEU low) — the audit a dedup run logs before
    * trusting its KEEP/DROP policy on asymmetric pairs.
    *
    * Per pair (doc_a = candidate, doc_b = reference; pairs are oriented
    * a < b upstream): p_n = Σ_g min(cnt_a(g), cnt_b(g)) / (n_a − n + 1)
    * for n = 1, 2, and log_bleu2 = min(0, 1 − n_b/n_a) + (ln p1 + ln p2)/2,
    * micro-quantized ONCE (6-dp half-up on the full expression — single
    * deterministic double evaluation, the q364 ln discipline); zero overlap
    * at either order → NULL, never ln(0) (the q344 NULL rule).
    *
    * Scale: gram count tables are built ONLY for documents appearing in
    * some pair (one semi-join — the [[minhashNearDupPairs]] verification
    * discipline); clipping is a gram-keyed join of the pair's two count
    * tables (never a corpus-wide join); everything downstream of the pair
    * set is proportional to |pairs|, not |corpus|.
    * Output per pair: doc_a, doc_b, p1, p2, log_bleu2. */
  def pairBleu(pairs: DataFrame, docs: DataFrame, idCol: String,
               textCol: String): DataFrame = {
    val candIds = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("cand_id"))
      .distinct()
    val toks = CacheScope.persist(docs
      .join(candIds, col(idCol) === col("cand_id"), "left_semi")
      .select(col(idCol).cast("long").as("doc_id"),
        split(col(textCol), " ").as("t")))
    val lens = toks.select(col("doc_id"), size(col("t")).cast("long").as("n"))
    val uni = toks.select(col("doc_id"), explode(col("t")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val bi = toks
      .select(col("doc_id"), explode(expr(
        // size(t) < 2 must yield an EMPTY array (sequence(1, 0) would
        // descend), so single-token docs simply have no bigram rows
        "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), " +
          "i -> concat_ws(' ', slice(t, i, 2))) " +
          "ELSE slice(t, 1, 0) END")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    def clipped(grams: DataFrame, out: String): DataFrame = {
      val ga = grams.toDF("doc_a", "g", "ca")
      val gb = grams.toDF("doc_b", "g", "cb")
      pairs.select(col("doc_a"), col("doc_b"))
        .join(ga, Seq("doc_a"))
        .join(gb, Seq("doc_b", "g"), "left")
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(least(col("ca"), coalesce(col("cb"), lit(0L)))).as(out))
    }
    pairs.select(col("doc_a"), col("doc_b"))
      .join(lens.toDF("doc_a", "n_a"), Seq("doc_a"))
      .join(lens.toDF("doc_b", "n_b"), Seq("doc_b"))
      .join(clipped(uni, "m1"), Seq("doc_a", "doc_b"), "left")
      .join(clipped(bi, "m2"), Seq("doc_a", "doc_b"), "left")
      .withColumn("p1",
        coalesce(col("m1"), lit(0L)).cast("double") / col("n_a").cast("double"))
      .withColumn("p2", when(col("n_a") >= 2L,
        coalesce(col("m2"), lit(0L)).cast("double") /
          (col("n_a") - 1L).cast("double")))
      .withColumn("log_bleu2", expr(
        """CAST(round((least(0.0, 1.0 - CAST(n_b AS DOUBLE) / CAST(n_a AS DOUBLE))
          |  + 0.5 * (ln(CASE WHEN p1 > 0 THEN p1 END)
          |         + ln(CASE WHEN p2 > 0 THEN p2 END))) * 1e6) AS BIGINT)
          |""".stripMargin).cast("double") / lit(1e6))
      .select(col("doc_a"), col("doc_b"), col("p1"), col("p2"),
        col("log_bleu2"))
  }

  /** Self-BLEU-4 corpus diversity census (Zhu et al. 2018, Texygen —
    * public): each document BLEU-scored against the REST of the corpus
    * as the reference pool — the diversity audit generation papers
    * report, turned on a training corpus: a source whose documents
    * self-BLEU high is internally repetitive (template families,
    * boilerplate) even when no single pair crosses a dedup threshold.
    * [[pairBleu]] diagnoses PAIRS the MinHash stage already caught;
    * this scores EVERY document against everything else.
    *
    * Reference-pool form: clipped count of gram g in doc d =
    * min(c_d(g), C(g) − c_d(g)) with C the corpus count — "the rest of
    * the corpus" exactly, no per-reference max (the pool is one bag).
    * Order 4 (the Texygen standard): low orders saturate on any corpus
    * with a shared vocabulary (measured: p2 ≡ 1 across all 5000 sf0.1
    * docs — every bigram recurs somewhere), while 4-gram clipping
    * separates (mean p4 0.33, 29 zero / 255 saturated docs). Brevity
    * penalty is identically 0 in log space (the pool is always longer
    * than the candidate), so log selfBLEU-4 = Σ_k ln p_k / 4,
    * micro-rounded once (the [[pairBleu]] convention); NULL when any
    * precision is 0 or the doc has < 4 tokens.
    *
    * Scale: per-(doc, order) gram aggregates joined to the corpus gram
    * TYPE tables (Zipf-bounded) on the gram key — doc-keyed +
    * type-keyed shuffles only, never doc × doc. Output: doc_id, p1..p4,
    * log_selfbleu4. */
  def selfBleu(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lens = docs.select(col(idCol).cast("long").as("doc_id"),
      size(split(coalesce(col(textCol), lit("")), " ")).cast("long").as("n"))
    // one native single-pass expression per order mints every k-gram's
    // 64-bit FNV-1a byte-span fingerprint (token_window_hashes): no token
    // array, no gram strings — fingerprints are GROUP identity only (the
    // q75/q300 hashed-identity precedent; the windows partition exactly as
    // the concat_ws(' ', slice(t, i, k)) strings they replace, since each
    // hash covers the same byte span). Every downstream shuffle moves
    // longs, not up-to-4-token strings.
    // ACCEPTED RISK (r19 ADVICE): a 64-bit collision between two distinct
    // corpus grams merges their type counts and skews the clipped
    // precisions of every doc carrying either gram — an unbounded silent
    // bias at extreme corpus sizes. See the TokenWindowHashes scaladoc for
    // the quantified envelope (≈ D²/2^65 expected merges; oracle-exact at
    // every tested scale).
    def grams(k: Int): DataFrame =
      docs.select(col(idCol).cast("long").as("doc_id"),
        explode(graft.functions.TokenNgrams.token_window_hashes(
          coalesce(col(textCol), lit("")), k)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    def clippedSelf(k: Int): DataFrame = {
      val gk = grams(k)
      gk.join(gk.groupBy(col("g")).agg(sum(col("c")).as("cg")), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(sum(least(col("c"), col("cg") - col("c"))).as(s"m$k"))
    }
    val joined = (1 to 4).foldLeft(lens) { (acc, k) =>
      acc.join(clippedSelf(k), Seq("doc_id"), "left")
    }
    val withP = (1 to 4).foldLeft(joined) { (acc, k) =>
      acc.withColumn(s"p$k", when(col("n") >= k.toLong,
        coalesce(col(s"m$k"), lit(0L)).cast("double") /
          (col("n") - (k - 1).toLong).cast("double")))
    }
    withP
      .withColumn("log_selfbleu4", expr(
        """CAST(round((0.25 * (ln(CASE WHEN p1 > 0 THEN p1 END)
          |  + ln(CASE WHEN p2 > 0 THEN p2 END)
          |  + ln(CASE WHEN p3 > 0 THEN p3 END)
          |  + ln(CASE WHEN p4 > 0 THEN p4 END))) * 1e6) AS BIGINT)"""
          .stripMargin).cast("double") / lit(1e6))
      .select(col("doc_id"), col("p1"), col("p2"), col("p3"), col("p4"),
        col("log_selfbleu4"))
  }

  /** Dedup-granularity sweep (the Lee et al. 2022 §4 tuning artifact):
    * [[exactSubstringRuns]] at window lengths l = 10, 20 and 40, each
    * reduced to the numbers the threshold decision needs — run count,
    * distinct duplicated tokens (doc_b side, the [[exactSubstringDedupFrom]]
    * removal mass) and the duplicated fraction of the corpus (half-up
    * 6-dp). Short l over-matches (natural collocations), long l
    * under-matches (misses short boilerplate); the sweep shows where the
    * curve bends for THIS corpus.
    *
    * Scale: the l = 10 and 40 legs share ONE pass over the
    * window-fingerprint machinery with l stacked as a column
    * ([[exactSubstringRunsMulti]] — per-l run multisets are identical to
    * [[exactSubstringRuns]] by construction), each df-capped exactly like
    * q300; the covered-position explode stays linear in duplicated mass
    * per l, and the census is one l-keyed aggregate pair. A leg with zero
    * runs keeps its row through the left joins (coalesce 0). Output row
    * per l: l, n_runs, n_dup_tokens, n_tokens, dup_frac.
    *
    * `runs20` CONTRACT (r19 ADVICE): it MUST be the [[exactSubstringRuns]]
    * output for exactly (docs, idCol, textCol, l = 20, maxDf = 10) — a
    * frame built from other docs or another l or maxDf silently yields
    * wrong sweep rows. The schema is asserted below; provenance is the
    * caller's responsibility (the query passes the session-shared l=20
    * inventory, SharedFormsSpec-pinned). */
  def exactSubstringSweep(docs: DataFrame, idCol: String, textCol: String,
                          runs20: DataFrame): DataFrame = {
    val (ls, maxDf) = (Seq(10, 20, 40), 10)
    require(runs20.columns.toSeq == Seq("doc_a", "doc_b", "a_start", "b_start",
        "run_tokens"),
      s"runs20 is not an exactSubstringRuns output " +
        s"(got columns ${runs20.columns.mkString(",")})")
    val total = docs.select(
      sum(size(split(coalesce(col(textCol), lit("")), " ")))
        .cast("long").as("n_tokens"))
    val runsAll = CacheScope.persist(exactSubstringRunsMulti(
        docs, idCol, textCol, ls.filterNot(_ == 20), maxDf))
      .unionByName(runs20.withColumn("l", lit(20L)))
    val nRunsPerL = runsAll.groupBy(col("l"))
      .agg(count(lit(1)).as("n_runs"))
    val nDupPerL = runsAll.select(col("l"), col("doc_b"),
        explode(sequence(col("b_start"),
          col("b_start") + col("run_tokens") - 1)).as("pos"))
      .distinct()
      .groupBy(col("l")).agg(count(lit(1)).as("n_dup_tokens"))
    total.select(explode(array(ls.map(l => lit(l.toLong)): _*)).as("l"),
        col("n_tokens"))
      .join(nRunsPerL, Seq("l"), "left")
      .join(nDupPerL, Seq("l"), "left")
      .select(col("l"), coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        col("n_tokens"))
      .withColumn("dup_frac",
        expr("CAST(CAST((CAST(2 AS DECIMAL(38,0)) * n_dup_tokens * 1000000" +
            " + n_tokens) DIV (2 * n_tokens) AS BIGINT) AS DOUBLE)")
          / lit(1e6))
  }

  /** Distinct character n-grams of `textCol` as ONE array `gs` of 64-bit
    * hashes per document (rows shorter than n chars are dropped) — the set
    * representation for [[ngramJaccardPairs]]. One native single-pass
    * expression ([[graft.functions.NgramDistinctHashes]]) emits them:
    * byte-exact distinctness (so `size(gs)` is the true set size), hashed
    * identity (so every downstream shuffle moves longs, not n-char
    * strings). */
  def charNgramHashSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.where(length(col(textCol)) >= n)
      .select(col(idCol),
        graft.functions.TextHashes.ngram_distinct_hashes(col(textCol), n).as("gs"))

  /** Character n-gram Jaccard near-duplicate pairs — the third dedup family
    * next to MinHash-LSH (probabilistic banding) and SimHash (bit
    * fingerprint): EXACT set similarity, with candidates generated by shared
    * RARE n-grams instead of signature collisions.
    *
    * Candidate generation is document-frequency-capped (the classic prefix/
    * rare-token filter): an n-gram appearing in more than `maxDf` documents
    * is too common to identify near-duplicates and is skipped, which bounds
    * every gram's id group at `maxDf` rows (≤ maxDf²/2 candidate pairs per
    * n-gram, expanded IN-ROW by the native PackedPairs expression after one
    * groupBy — no self-join, no stop-gram ever floods a partition). A pair
    * whose every shared n-gram is more common than
    * the df cap is missed — the standard recall trade-off of df-capped
    * candidate generation; near-duplicate documents share long runs of text
    * and therefore many rare n-grams, so for dedup thresholds (≥ ~0.4)
    * recall is effectively total (256/256 true J≥0.5 pairs on the sf0.1
    * corpus, measured against a provably-exact prefix-filter join). The
    * Jaccard filter then makes the survivors exact.
    *
    * Three scale levers, all measured against the naive rare-gram join that
    * shipped first (295,696 candidate pairs dragging two ~270-element string
    * arrays each to keep 256 survivors at sf0.1):
    *
    *  1. '''Fractional df cap.''' "Rare" means df ≤ `maxDfFrac`·N, not an
    *     absolute count — the cap keeps pace with corpus growth, and by the
    *     Zipf bound the COMMON vocabulary it induces is finite: per-doc gram
    *     counts sum to avgGrams·N, so at most avgGrams/maxDfFrac distinct
    *     grams can exceed the cap at ANY corpus size (~13.5k for 270-gram
    *     docs at 2%).
    *  2. '''Shared-gram count filter.''' A pair is verified only if it
    *     shares ≥ `minShared` rare grams (`groupBy(pair).count`, replacing a
    *     `distinct()` that kept every coincidental single-gram collision):
    *     one shared rare 8-gram is overwhelmingly coincidence, several
    *     almost never are. The aggregate also returns the count itself,
    *     which IS the exact rare-side intersection — stage 2 never
    *     recomputes it.
    *  3. '''Bitset verify.''' The common vocabulary is finite (lever 1), so
    *     each doc's common-gram membership packs into a fixed-width bitmask
    *     (array of longs, one bit per common vocab id — ~57 longs vs ~270
    *     20-byte strings); total intersection = rare count (lever 2) +
    *     popcount of the mask AND. The verify joins shuffle ~13× fewer
    *     bytes and replace per-pair hash-set intersection with bit ops.
    *     The result is the SAME exact integer |a∩b| and the same double
    *     division a SQL oracle computes from plain array intersection.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDfFrac: Double, threshold: Double,
                        maxInRow: Int = 1024): DataFrame = {
    val n = 8
    val minShared = 2
    // ONE parse of the corpus, cached in array form (one row per doc - the
    // cheapest shape to cache); every consumer below re-explodes from this
    // cache instead of re-parsing text. The harness releases all CacheScope
    // persists after materializing the query.
    // Grams travel as 64-bit hashes (charNgramHashSets): set SIZES are
    // byte-exact, identities are hashes — cross-doc equality can differ from
    // raw grams only through a 2^-64 collision, which the SQL oracle's
    // raw-gram replay has never observed (and at corpus scale shifts a
    // Jaccard by at most 1/|union|). Every shuffle below (df count, rare
    // self-join, vocab join) moves 8-byte longs instead of n-char strings.
    val sets = CacheScope.persist(charNgramHashSets(docs, idCol, textCol, n))
    val grams = sets.select(col(idCol), explode(col("gs")).as("g"))
    val dfs = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // fractional cap: df <= maxDfFrac * N(docs with >= 1 gram), computed as
    // a broadcast 1-row join so the plan stays lazy end to end
    val nDocs = sets.agg(count(lit(1)).as("n_docs"))
    val capped = CacheScope.persist(dfs.crossJoin(broadcast(nDocs))
      .withColumn("is_rare", col("df") <= col("n_docs").cast("double") * maxDfFrac))

    // Stage 1: candidates + exact rare-side intersection in one aggregate.
    // The count aggregate both filters (>= minShared, killing coincidental
    // single-gram collisions) and returns the exact rare-side intersection
    // for stage 3. rareG has a single consumer now — no persist (the old
    // self-join read it from both sides).
    val rareG = grams.join(capped.where(col("is_rare")).select("g"), "g")
    // candidate pairs WITHOUT a self-join: group each rare gram's ids and
    // expand the pairs IN-ROW (native PackedPairs — min<<32|max per pair),
    // one shuffle of the (gram, id) rows instead of two join sides. The
    // packed-long key then feeds a map-side-combinable count; the unsigned
    // right shift keeps ids in [2^31, 2^32) positive on unpack (ids must
    // be < 2^32 — wider id spaces would keep a two-column key).
    //
    // The FRACTIONAL df cap grows with the corpus, so a boundary bucket's
    // in-row expansion (ids^2/2 longs in ONE task) would not survive 100x —
    // buckets beyond `maxInRow` ids therefore fall back to the classic
    // gram-keyed self-join, whose pair volume spreads across partitions as
    // rows. By the Zipf bound near the cap, oversized buckets are few, so
    // the fallback join stays small; both paths emit the identical packed
    // pair multiset (ids are distinct per gram).
    // default 1024 => <= 1024^2/2 packed longs ~ 4 MB per expanded row
    val rareIds = rareG
      .groupBy(col("g"))
      .agg(collect_list(col(idCol).cast("long")).as("ids"))
      .where(size(col("ids")) > 1)
    val smallPairs = rareIds.where(size(col("ids")) <= maxInRow)
      .select(explode(graft.functions.PackedPairs.packed_pairs(col("ids"))).as("pair"))
    val bigG = rareIds.where(size(col("ids")) > maxInRow)
      .select(col("g"), explode(col("ids")).as("id"))
    val bigPairs = bigG.select(col("g"), col("id").as("doc_a"))
      .join(bigG.select(col("g"), col("id").as("doc_b")), Seq("g"))
      .where(col("doc_a") < col("doc_b"))
      .select((shiftleft(col("doc_a"), 32).bitwiseOR(col("doc_b"))).as("pair"))
    val cand = smallPairs.unionByName(bigPairs)
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_rare"))
      .where(col("n_rare") >= minShared)
      .select(shiftrightunsigned(col("pair"), 32).as("doc_a"),
        col("pair").bitwiseAND(lit(0xFFFFFFFFL)).as("doc_b"), col("n_rare"))

    // Stage 2: per-doc bitmask over the (bounded) common vocabulary. The
    // vocab id window runs over avgGrams/maxDfFrac rows at most - a bounded
    // single-partition sort, same class as a broadcast dim.
    val vocab = capped.where(!col("is_rare"))
      .select(col("g"), (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("g"))) - 1).as("vid"))
    // coalesce(0) covers an EMPTY common vocab (all grams rare): masks are
    // then zero-length arrays and the whole intersection is the rare count
    val vocabStats = vocab.agg(
      coalesce(floor(max(col("vid")) / 64) + 1, lit(0L)).as("n_words"))
    val wordBits = grams.join(vocab, "g")
      .groupBy(col(idCol), (col("vid") / 64).cast("long").as("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(vid % 64 AS INT)))").as("bits"))
    val masks = wordBits.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("wm"))
    val meta = CacheScope.persist(sets
      .select(col(idCol), size(col("gs")).as("sz"))
      .join(masks, Seq(idCol), "left")
      .crossJoin(broadcast(vocabStats))
      .select(col(idCol), col("sz"),
        // sequence() is inclusive AND runs descending for (0, -1) - the
        // CASE keeps an empty vocab at an empty mask instead of [0, -1]
        expr("CASE WHEN n_words = 0 THEN CAST(array() AS ARRAY<BIGINT>) " +
          "ELSE transform(sequence(0, CAST(n_words AS INT) - 1), " +
          "w -> coalesce(wm[CAST(w AS BIGINT)], CAST(0 AS BIGINT))) END").as("mask")))

    // Stage 3: exact Jaccard from (rare count) + (mask popcount) - integer
    // intersection, so the division is bit-identical to an oracle's
    // array_intersect formulation. meta is small relative to the candidate
    // set (one ~W-long mask per doc); AQE broadcasts it when it fits and
    // keeps a keyed shuffle when it does not.
    cand
      .join(meta.toDF("doc_a", "sz_a", "m_a"), "doc_a")
      .join(meta.toDF("doc_b", "sz_b", "m_b"), "doc_b")
      .withColumn("n_inter", col("n_rare") +
        expr("aggregate(zip_with(m_a, m_b, (x, y) -> bit_count(x & y)), 0, (a, x) -> a + x)"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("n_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Train/eval DECONTAMINATION: flag corpus documents sharing at least
    * `minShared` distinct word `k`-shingles with any document of an
    * evaluation set — the standard guard against benchmark leakage in
    * training data (13-token overlap is the classic heuristic; GPT-3
    * appendix C used the same family). Output: (corpus id, eval id,
    * n_shared), one row per contaminated (train, eval) pair.
    *
    * Scale design: both sides reduce to distinct (doc, shingle) rows and
    * meet through a shingle-keyed equi-join — never a cross product. The
    * eval side is small by nature (a benchmark), so AQE broadcasts it and
    * the corpus side never shuffles; join fan-out per shingle is
    * corpusDf x evalDf, bounded in practice because 13-token runs are
    * near-unique (no df-cap needed — and none is wanted: dropping a common
    * shingle could hide real contamination). */
  def contaminationPairs(corpus: DataFrame, idCol: String, textCol: String,
                         evalDocs: DataFrame, evalIdCol: String,
                         evalTextCol: String): DataFrame = {
    val k = 13
    val minShared = 1
    require(idCol != evalIdCol,
      "corpus and eval id columns must have distinct names (both appear in the output)")
    // shingle identities travel as 64-bit hashes (token_ngram_distinct_hashes:
    // byte-exact distinctness per doc, FNV identity) — the shingle-keyed join
    // and count below move longs instead of k-token strings. The raw-string
    // oracle replay matches exactly absent a 2^-64 collision.
    def hashed(df: DataFrame, id: String, text: String) =
      df.select(col(id), explode(graft.functions.TokenNgrams
        .token_ngram_distinct_hashes(col(text), k)).as("sh"))
    val cg = hashed(corpus, idCol, textCol)
    val eg = hashed(evalDocs, evalIdCol, evalTextCol).toDF("__eval_id", "sh")
    cg.join(eg, "sh")
      .groupBy(col(idCol), col("__eval_id").as(evalIdCol))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Cross-group contamination matrix: for every pair of groups (sources,
    * splits, crawls…), the number of distinct word-k-shingles they share —
    * the leakage report run before a train/eval split ships. Differs from
    * [[decontaminate]] (doc-vs-benchmark membership) in reporting overlap
    * MASS between corpus partitions.
    *
    * Plan: ONE corpus pass and ONE gram-keyed shuffle — no self-join. Each
    * gram's postings fold into a `collect_set` of the groups containing it
    * (map-side combined, capped at |groups| elements — the set dedups, so a
    * group contributing a gram a million times ships it once per map task);
    * the pair expansion then happens IN-ROW over that ≤|groups| set, the
    * same bounded-combinations trick as ngramJaccardPairs' candidate stage.
    * A self-join formulation recomputes the whole shingle pipeline for
    * both sides and shuffles twice — it measured 4.3 s at sf0.1 in the
    * warmed suite where the rest of the gram pipeline family (q29/q85)
    * runs well under 1 s; this one-pass form removes the recompute.
    * Shingle identities are the native one-pass 64-bit FNV hashes
    * (token_ngram_distinct_hashes: no shingle-string materialization, no
    * per-gram md5 — the same move that took q85 from 3.9 to 1.1 s), so
    * shuffles carry longs, never gram text; the raw-string oracle matches
    * exactly absent a 2⁻⁶⁴ collision (q85/q118's accepted discipline). */
  def crossGroupOverlap(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val k = 5
    docs.select(col(groupCol).as("g"),
        explode(graft.functions.TokenNgrams
          .token_ngram_distinct_hashes(col(textCol), k)).as("gh"))
      .groupBy(col("gh"))
      .agg(sort_array(collect_set(col("g"))).as("gs"))
      .where(size(col("gs")) >= 2)
      .select(explode(expr(
        "flatten(transform(gs, (x, i) -> " +
          "transform(slice(gs, i + 2, size(gs)), y -> struct(x AS a, y AS b))))"))
        .as("p"))
      .groupBy(col("p.a").as("group_a"), col("p.b").as("group_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** SimHash near-duplicate pairs: 64-bit SimHash over tokens (native codegen
    * expression), split into `nBands` bit-bands; pairs sharing any band are
    * candidates; kept if total Hamming distance <= maxHamming. Bucketed on
    * (band index, band bits) — never all-pairs. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nBands = 4
    val maxHamming = 8
    val w = 64 / nBands
    val hashed = docs.select(col(idCol),
      graft.functions.TextHashes.simhash64(tokens(textCol)).as("sh64"))
    val banded = hashed.select(col(idCol), col("sh64"),
      explode(lit((0 until nBands).toArray)).as("band"))
      .withColumn("bits", expr(s"(sh64 >> (band * $w)) & ${(1L << w) - 1}"))
    val a = banded.select(col("band"), col("bits"),
      col(idCol).as("doc_a"), col("sh64").as("h_a"))
    val b = banded.select(col("band"), col("bits"),
      col(idCol).as("doc_b"), col("sh64").as("h_b"))
    a.join(b, Seq("band", "bits"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(h_a ^ h_b) AS BIGINT)").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Per-document duplicated-n-gram fraction: of each document's DISTINCT
    * word-n-grams, the share that also appears in at least `minDocs`-1
    * OTHER documents — the cross-document memorization signal (C4 ships a
    * 3-sentence version; n-gram granularity is the Gopher/RefinedWeb
    * variant). High values mark boilerplate: docs assembled from spans the
    * corpus repeats, which exact and near dedup both miss when the
    * surrounding text differs. Documents shorter than n tokens have no
    * n-grams and are omitted. Output: doc_id, n_grams, n_dup, dup_frac.
    *
    * Plan: one corpus pass via the native one-pass 64-bit gram hashes
    * ([[graft.functions.TokenNgrams]] — per-doc distinct by construction,
    * shuffles carry longs, never gram strings); gram document-frequency is
    * ONE gram-keyed count over that same table (each doc contributes a
    * gram once, so count(*) = document frequency), joined back gram-keyed
    * and re-aggregated per doc. Both shuffles are keyed, nothing is
    * corpus x corpus, and the gram table is the same one the dedup family
    * (q75/q85/q104) already scales on. Raw-string oracle matches absent a
    * 2^-64 hash collision. */
  /** Per-document n-gram NOVELTY against everything ingested before it (in
    * id order): the share of the document's distinct word-n-grams whose
    * FIRST occurrence is this document. The curriculum/ordering twin of
    * [[dupNgramFraction]]: that one asks "is this span repeated anywhere",
    * this one asks "did this document bring anything new when it arrived" —
    * the signal an incremental-crawl prioritizer ranks by. Documents
    * shorter than n tokens are omitted. Output: doc_id, n_grams, n_novel,
    * novelty_frac.
    *
    * Plan: the same single-pass hashed gram table as the dedup family,
    * one gram-keyed min(doc_id) aggregate ("who saw it first" — map-side
    * combined), one gram-keyed join back, one doc-keyed re-aggregate. The
    * ordering is by-id, so "before" needs no timestamps and no sort —
    * first-occurrence is a pure min. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val grams = docs.select(col(idCol), explode(graft.functions.TokenNgrams
      .token_ngram_distinct_hashes(col(textCol), n)).as("gh"))
    val first = grams.groupBy(col("gh")).agg(min(col(idCol)).as("__first"))
    grams.join(first, "gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty_frac"))
  }

  /** Per-cluster GROUP-composition report over a dedup cluster map
    * ([[connectedComponents]] output: doc_id, cluster_id): cluster size,
    * number of distinct groups, the majority group's share, and the Shannon
    * entropy of the group distribution — distinguishing cross-source
    * mirrors (high entropy: the same page syndicated everywhere) from
    * within-source reposts (entropy 0: one site repeating itself), the
    * signal that decides whether dedup should be global or per-source.
    * Output: cluster_id, n_docs, n_groups, majority_share, group_entropy.
    *
    * Plan: two keyed aggregates over the (already tiny) cluster map joined
    * with one narrow doc projection — the q116 histogram's shape. Entropy
    * uses H = ln(n) − (Σ c·ln c)/n with each ln c quantized to micro-units
    * before the exact BIGINT sum (the TextLm discipline), so partial-agg
    * order never touches a double. */
  def clusterGroupPurity(clusters: DataFrame, docs: DataFrame,
                         idCol: String, groupCol: String): DataFrame = {
    val byGroup = clusters
      .join(docs.select(col(idCol).as("doc_id"), col(groupCol).as("__g")), "doc_id")
      .groupBy(col("cluster_id"), col("__g")).agg(count(lit(1)).as("c"))
      .withColumn("clnc_mu", expr(
        "c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)"))
    byGroup.groupBy(col("cluster_id"))
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_groups"),
        max(col("c")).as("__cmax"), sum(col("clnc_mu")).as("__mu"))
      .select(col("cluster_id"), col("n_docs"), col("n_groups"),
        (col("__cmax").cast("double") / col("n_docs").cast("double"))
          .as("majority_share"),
        round(log(col("n_docs").cast("double")) -
          (col("__mu").cast("double") / lit(1e6)) / col("n_docs").cast("double"), 6)
          .as("group_entropy"))
  }

  /** Winnowed document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    * MOSS scheme): hash every k-token gram, slide a window of `w`
    * consecutive gram hashes over the document, keep each window's MINIMUM
    * hash — a position-robust fingerprint set with a guarantee exact
    * shingle matching lacks: any shared run of at least k+w-1 tokens
    * yields at least one shared fingerprint, while storage shrinks ~w-fold
    * versus all-shingles. Fingerprints are md5 hex (identical in any
    * engine, so the oracle replays the exact same selection). Documents
    * shorter than k+w-1 tokens have no full window and are omitted.
    * Output: one (idCol, fp) row per distinct selected fingerprint.
    *
    * Plan: one tokenize+gram pass, then a min window over each DOCUMENT'S
    * gram sequence — partitioned by doc, frame of w rows, bounded by
    * document length (the q117/q88 per-doc window precedent), never over
    * the corpus. */
  def winnowedFingerprints(docs: DataFrame, idCol: String, textCol: String,
                           k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    // r20: selection runs per row in ONE native scan
    // ([[graft.functions.TokenNgrams.winnowedMins]]): md5 digested over
    // each window's byte span (identical hex to the old
    // md5(concat_ws(slice)) build — the span IS that string), frame
    // minima in unsigned digest order (= the hex-string order the old
    // window min used), distinct in-row. Kills the transform+slice+
    // concat_ws window build, the per-doc window function and the
    // corpus-wide distinct (RoundTwentyOptSpec pins old == new). md5
    // remains the identity — the winnow MIN is part of the declared
    // output, so the 64-bit FNV swap is NOT applicable here.
    docs.select(col(idCol),
      explode(graft.functions.TokenNgrams.md5_winnowed_mins(
        col(textCol), k, w)).as("fp"))
  }

  /** Near-dup candidate pairs from winnowed fingerprints: documents sharing
    * at least `minShared` selected fingerprints, excluding boilerplate
    * fingerprints present in more than `maxDf` documents (the df-cap
    * discipline every shingle-family operator here uses — a fingerprint in
    * thousands of documents is a template, and capping it bounds the
    * per-fingerprint inverted list, so the self-join never expands on a
    * hot key). Output: doc_a, doc_b (a < b), n_shared. Ids must be
    * integers in [0, 2^32); any other id fails the query. */
  def winnowNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int, minShared: Long, maxDf: Long): DataFrame = {
    val fps = CacheScope.persist(winnowedFingerprints(docs, idCol, textCol, k, w))
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf).select(col("fp"))
    // r20 (guide §2.4): candidate pairs WITHOUT a self-join — group each
    // fingerprint's ids and expand the pairs IN-ROW (native PackedPairs,
    // the ngramJaccardPairs idiom; identical pair multiset since ids are
    // distinct per fp). The df cap bounds every group at maxDf ids, so no
    // oversized-bucket fallback is needed. Each id packs into 32 bits, so
    // an id that is non-numeric (it would cast to NULL and drop out),
    // negative or >= 2^32 (it would corrupt its pair) fails the query.
    val id = col(idCol).try_cast("long")
    val packable = when(id.isNull && col(idCol).isNotNull ||
        id < 0L || id >= (1L << 32),
      raise_error(concat(lit(s"winnowNearDupPairs: $idCol must be an " +
        "integer in [0, 2^32), got "), col(idCol).cast("string"))))
      .otherwise(id)
    fps.join(keep, "fp")
      .groupBy(col("fp"))
      .agg(collect_list(packable).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(graft.functions.PackedPairs.packed_pairs(col("ids")))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select(shiftrightunsigned(col("pair"), 32).as("doc_a"),
        col("pair").bitwiseAND(lit(0xFFFFFFFFL)).as("doc_b"),
        col("n_shared"))
  }

  def dupNgramFraction(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    val minDocs = 2
    val grams = docs.select(col(idCol), explode(graft.functions.TokenNgrams
      .token_ngram_distinct_hashes(col(textCol), n)).as("gh"))
    val df = grams.groupBy(col("gh")).agg(count(lit(1)).as("__df"))
    grams.join(df, "gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= minDocs, 1L).otherwise(0L)).as("n_dup"))
      .select(col(idCol), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams").cast("double"))
          .as("dup_frac"))
  }

  /** MinHash-LSH calibration sheet: for every banded-bucket CANDIDATE pair
    * (pre-verification — the raw output of the (band, sig) self-join),
    * the Jaccard ESTIMATE from the full minhash signature (fraction of the
    * 2·bands draws that agree) against the exact shingle Jaccard. This is
    * how band/draw parameters are tuned: the estimate-vs-exact scatter
    * shows the threshold curve the banding actually achieves, and a drift
    * between the columns flags a hash or shingling bug before a 100-TB
    * dedup run trusts the index. Output: doc_a, doc_b, n_agree,
    * est_jaccard, jaccard.
    *
    * Plan: same bucketed candidate generation as [[minhashNearDupPairs]]
    * (never all-pairs); the estimate is an in-row zip over two
    * 2·bands-element signature arrays; exact verification builds shingle
    * arrays only for candidate docs (semi-join). */
  def minhashCalibration(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nDraws = 2 * bands
    val sigs = CacheScope.persist(minhashSigs(docs, idCol, textCol))
    val (cand, sets) =
      bandCandidates(stackBands(sigs, idCol), docs, idCol, textCol)
    cand
      .join(sigs.toDF("doc_a", "mh_a"), "doc_a")
      .join(sigs.toDF("doc_b", "mh_b"), "doc_b")
      .withColumn("n_agree", expr(
        "aggregate(zip_with(mh_a, mh_b, (x, y) -> IF(x = y, CAST(1 AS BIGINT), CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .join(sets.toDF("doc_a", "sh_a"), "doc_a")
      .join(sets.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        round(col("n_agree").cast("double") / lit(nDraws.toDouble), 6)
          .as("est_jaccard"),
        round(col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Per-group attrition report over a retention worklist (any frame with a
    * group column and a 0/1 `keep` column — the q91 keep/drop sheet): how
    * much of each source does dedup remove? The number a crawl-acquisition
    * team actually reads — a source with 60% attrition is re-crawling
    * itself, one near 0% may be under-deduped. Output: group, n_docs,
    * n_kept, n_dropped, attrition_rate (6 dp).
    *
    * Plan: one |groups|-row keyed aggregate over the (already computed)
    * worklist — map-side combined, nothing here scales with anything but
    * the group count. */
  def attritionByGroup(worklist: DataFrame, groupCol: String): DataFrame =
    worklist.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"))
      .select(col(groupCol), col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_dropped"),
        round((col("n_docs") - col("n_kept")).cast("double") /
          col("n_docs").cast("double"), 6).as("attrition_rate"))

  /** Blocked edit-distance near-dup pairs — the record-linkage classic for
    * catching SMALL edits (typo-level divergence) that token-set measures
    * (MinHash/Jaccard) under-weight: block documents by their first
    * `blockChars` characters, then compare `cmpChars`-char prefixes by
    * Levenshtein distance within each block. Output: doc_a, doc_b (a < b),
    * dist (edit distance, <= maxDist).
    *
    * Scale design: the quadratic is confined to blocks — pair generation is
    * a self-equi-join on the block key (hash-partitioned; block cardinality
    * grows with the corpus), and blocks larger than `maxBlock` are DROPPED,
    * bounding per-block work at maxBlock^2 Levenshtein calls on
    * fixed-length prefixes. That is the right trade at 100 TB: an oversized
    * prefix-block is a template family, which the MinHash/exact passes
    * already catch — the ED pass exists for the long tail of small blocks
    * where a one-character edit defeats fingerprinting. Levenshtein runs on
    * `cmpChars`-char prefixes, so each call is O(cmpChars^2) constant work,
    * not O(doc^2). */
  def blockedEditDistance(docs: DataFrame, idCol: String, textCol: String,
                          maxBlock: Int): DataFrame = {
    val blockChars = 16
    val cmpChars = 64
    val maxDist = 20
    val rows = docs.select(col(idCol).as("__id"),
      substring(col(textCol), 1, blockChars).as("__blk"),
      substring(col(textCol), 1, cmpChars).as("__pfx"))
    val ok = rows.join(
      rows.groupBy(col("__blk")).agg(count(lit(1)).as("__n"))
        .where(col("__n").between(2, maxBlock)).select(col("__blk")),
      "__blk")
    val a = ok.select(col("__blk"), col("__id").as("doc_a"), col("__pfx").as("__pa"))
    val b = ok.select(col("__blk"), col("__id").as("doc_b"), col("__pfx").as("__pb"))
    a.join(b, Seq("__blk"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__pa"), col("__pb")).cast("bigint").as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Prefix-filtered exact similarity join (the PPJoin prefix filter, Xiao
    * et al., WWW 2008): the LOSSLESS counterpart to [[ngramJaccardPairs]]'
    * df-capped candidates. Each doc keeps only its L = |d| − ⌈t·|d|⌉ + 1
    * RAREST grams (a consistent global (df, hash) order); two sets with
    * J ≥ t must share at least one such prefix gram, so joining on prefix
    * grams alone loses NO qualifying pair — the df cap's "all shared grams
    * too common" blind spot does not exist here. Verification is exact
    * Jaccard on the full hashed sets.
    *
    * Scale design: the prefix sort is IN-ROW (array_sort over the doc's
    * own (df, gram) structs — bounded by doc length, never a global rank
    * window); candidates meet through a gram-keyed equi-join on the
    * prefix's rare-by-construction grams, and the classical LENGTH filter
    * (t·|a| ≤ |b|) plus POSITIONAL filter prune them before the exact
    * verify: shared grams form an order-consistent subsequence of both
    * docs, so the FIRST shared prefix gram (min position on both sides —
    * the same gram, by order consistency) bounds the overlap by
    * 1 + min(|a|−i, |b|−j), which must reach ⌈t/(1+t)·(|a|+|b|)⌉ for
    * J ≥ t. All three filters are lossless — the oracle deliberately
    * ignores them and computes ALL J ≥ t pairs brute-force: a hash-match
    * certifies losslessness, not just agreement.
    *
    * Cost model (measured, sf0.1): prefix volume is (1−t)·Σ|d| and
    * candidate volume is quadratic in per-gram prefix df — so BOTH the
    * threshold and the gram length are first-class levers. On the
    * small-vocabulary test corpus, (n=8, t=0.5) → 37.7 s (every gram
    * common → prefixes common), +length/positional filters → 31.8, t=0.7 →
    * 18.3, n=12 (grams span ~2 words → Zipf-rare) → 4.5 s with the
    * identical 25-pair answer. Real web text is Zipf by default, which is
    * why classical PPJoin works there out of the box; the df-capped
    * [[ngramJaccardPairs]] remains the screen-first choice for low
    * thresholds, PPJoin the lossless high-t verifier. */
  def ppjoinPairs(docs: DataFrame, idCol: String, textCol: String,
                  n: Int, threshold: Double): DataFrame = {
    val sets = CacheScope.persist(
      charNgramHashSets(docs, idCol, textCol, n)
        .withColumn("sz", size(col("gs")).cast("bigint"))
        .where(col("sz") > 0))
    val grams = sets.select(col(idCol), explode(col("gs")).as("g"))
    val dfs = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val prefix = grams.join(dfs, "g")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("ord"))
      .join(sets.select(col(idCol), col("sz")), Seq(idCol))
      .select(col(idCol).as("__id"), col("sz"),
        posexplode(expr("transform(slice(ord, 1, CAST(sz - ceil(" +
          s"$threshold * CAST(sz AS DOUBLE)) + 1 AS INT)), s -> s.g)"))
          .as(Seq("__pos", "g")))
    val cand = prefix
      .select(col("__id").as("doc_a"), col("sz").as("__sa"),
        col("__pos").as("__pa"), col("g"))
      .join(prefix.select(col("__id").as("doc_b"), col("sz").as("__sb"),
        col("__pos").as("__pb"), col("g")), Seq("g"))
      .where(col("doc_a") < col("doc_b") &&
        // length filter: t|a| <= |b| and t|b| <= |a|
        col("__sb").cast("double") >= lit(threshold) * col("__sa").cast("double") &&
        col("__sa").cast("double") >= lit(threshold) * col("__sb").cast("double"))
      // positional filter: a gram matching at (0-based) positions (i, j)
      // bounds the overlap by min(i,j) [shared before, at best] + 1 [this
      // gram] + min(sa-i-1, sb-j-1) [shared after, at best]. EVERY matching
      // gram's bound is a valid upper bound, so the pair prunes when the
      // MINIMUM over its shared prefix grams falls below the J >= t
      // overlap requirement ceil(t/(1+t) * (sa+sb))
      .withColumn("__ub", least(col("__pa"), col("__pb")) + 1L +
        least(col("__sa") - col("__pa") - 1, col("__sb") - col("__pb") - 1))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("__ub")).as("__ub"),
        first(col("__sa")).as("__sa"), first(col("__sb")).as("__sb"))
      .where(col("__ub").cast("double") >=
        ceil(lit(threshold) / (1.0 + threshold) *
          (col("__sa") + col("__sb")).cast("double")))
      .select(col("doc_a"), col("doc_b"))
    val a = sets.select(col(idCol).as("doc_a"), col("gs").as("__ga"),
      col("sz").as("__va"))
    val b = sets.select(col(idCol).as("doc_b"), col("gs").as("__gb"),
      col("sz").as("__vb"))
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("__inter",
        size(array_intersect(col("__ga"), col("__gb"))).cast("bigint"))
      .select(col("doc_a"), col("doc_b"),
        (col("__inter").cast("double") /
          (col("__va") + col("__vb") - col("__inter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Cross-document EXACT-substring duplicate runs at ≥ `l`-token
    * granularity — the ExactSubstr dedup of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499), which removes verbatim shared passages that
    * every set-similarity detector under-reports and that fixed
    * non-overlapping chunk fingerprints ([[graft.queries.ScaleQueries]]
    * q98, 32-token stride) MISS entirely when the shared text is merely
    * SHIFTED between documents (a 5-token prefix misaligns every chunk
    * boundary; a sliding window cannot be misaligned).
    *
    * Suffix-array-free distributed design: every sliding `l`-token
    * window becomes (doc, start, md5 fingerprint); windows whose
    * fingerprint crosses 2..maxDf documents join pairwise on the
    * fingerprint (the df cap is the q85 boilerplate guard bounding
    * fan-out); within a (pair, diagonal = iₐ−i_b) the matched starts are
    * stitched into MAXIMAL runs by the ia − row_number() island trick —
    * a run of m consecutive matching windows is one shared substring of
    * m + l − 1 tokens. All shuffles are keyed (fingerprint, then pair ×
    * diagonal); the one window function is partitioned by (pair,
    * diagonal), never global. At 100 TB the window inventory is ~tokens
    * × 16 B rows — the same order as the corpus itself — and every
    * stage is linear in it except the df-capped pair join. Priced at
    * sf0.1: 3.2 s warmed with the first-cut md5(concat_ws(slice))
    * inventory → **1.2 s** after token_window_hashes minted the
    * fingerprints natively (one codegen'd pass, 8-byte join keys, no
    * window strings); inventory persisted once for its three consumers.
    * On replica corpora the cost is output-bound (replica cliques
    * multiply the TRUE pairs) — the same answer-size floor as the other
    * pair-output dedups.
    *
    * Output: one row per maximal run — (doc_a, doc_b, a_start, b_start,
    * run_tokens), 1-based token offsets, doc_a < doc_b. */
  def exactSubstringRuns(docs: DataFrame, idCol: String, textCol: String,
                         l: Int, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One native single-pass expression mints every window's 64-bit
    // FNV-1a byte-span fingerprint (token_window_hashes): no token
    // array, no window strings, no digest — fingerprints are JOIN
    // IDENTITY only, so swapping the md5 form moved no output bits (the
    // q75 hashed-gram-identity precedent; the DuckDB oracle keeps
    // md5(window) as ITS key — both are the same partition of windows).
    // The expression is total (short rows → empty array), so no
    // speculative-evaluation guard is needed.
    val pos = docs
      .select(col(idCol).as("doc"),
        posexplode(graft.functions.TokenNgrams.token_window_hashes(
          col(textCol), l)).as(Seq("__p0", "fp")))
      .select(col("doc"), (col("__p0") + 1).cast("bigint").as("i"),
        col("fp"))
    // the window inventory feeds the df-cap aggregate AND both pair-join
    // sides — persist once instead of re-hashing every window three times
    val posC = CacheScope.persist(pos)
    val keep = posC.groupBy(col("fp"))
      .agg(countDistinct(col("doc")).as("__nd"))
      .where(col("__nd") >= 2 && col("__nd") <= maxDf)
      .select(col("fp"))
    val pk = posC.join(keep, Seq("fp"))   // columns: (fp, doc, i)
    // fresh names on both sides — self-joins on shared lineage otherwise
    // collapse to ambiguous attribute references
    val pairs = pk.toDF("fp", "doc_a", "ia")
      .join(pk.toDF("fp", "doc_b", "ib"), Seq("fp"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ia"), col("ib"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("ia"))
    pairs.withColumn("diag", col("ia") - col("ib"))
      .withColumn("__isl", col("ia") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("__isl"))
      .agg(min(col("ia")).as("__amin"), max(col("ia")).as("__amax"))
      .select(col("doc_a"), col("doc_b"),
        col("__amin").cast("bigint").as("a_start"),
        (col("__amin") - col("diag")).cast("bigint").as("b_start"),
        (col("__amax") - col("__amin") + l).cast("bigint").as("run_tokens"))
  }

  /** [[exactSubstringRuns]] at SEVERAL window lengths in ONE machinery
    * pass (r20, guide §2.4): l rides as a column of the window inventory
    * (one corpus scan mints every l's fingerprints via a per-row
    * l-struct array — the memWindowInventoryMulti pattern), the df-cap
    * aggregate / pair self-join / island stitch all key by (l, fp) /
    * (pair, diag, l), so each l's run multiset is EXACTLY the single-l
    * build's (fingerprint domains never mix across l; spec-pinned).
    * Output: the [[exactSubstringRuns]] columns plus `l`. Used by the
    * q384 sweep for its non-prebuilt legs. */
  private[graft] def exactSubstringRunsMulti(docs: DataFrame, idCol: String,
                                             textCol: String, ls: Seq[Int],
                                             maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ls.nonEmpty && ls.forall(_ >= 2), "need window lengths >= 2")
    val pos = docs
      .select(col(idCol).as("doc"),
        explode(array(ls.map(l => struct(lit(l).as("l"),
          graft.functions.TokenNgrams.token_window_hashes(col(textCol), l)
            .as("hs"))): _*)).as("kh"))
      .select(col("doc"), col("kh.l").as("l"),
        posexplode(col("kh.hs")).as(Seq("__p0", "fp")))
      .select(col("doc"), col("l"), (col("__p0") + 1).cast("bigint").as("i"),
        col("fp"))
    val posC = CacheScope.persist(pos)
    val keep = posC.groupBy(col("l"), col("fp"))
      .agg(countDistinct(col("doc")).as("__nd"))
      .where(col("__nd") >= 2 && col("__nd") <= maxDf)
      .select(col("l"), col("fp"))
    val pk = posC.select(col("l"), col("fp"), col("doc"), col("i"))
      .join(keep, Seq("l", "fp"))
    val pairs = pk.toDF("l", "fp", "doc_a", "ia")
      .join(pk.toDF("l", "fp", "doc_b", "ib"), Seq("l", "fp"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("l"), col("doc_a"), col("doc_b"), col("ia"), col("ib"))
    val w = Window.partitionBy(col("l"), col("doc_a"), col("doc_b"),
        col("diag"))
      .orderBy(col("ia"))
    pairs.withColumn("diag", col("ia") - col("ib"))
      .withColumn("__isl", col("ia") - row_number().over(w))
      .groupBy(col("l"), col("doc_a"), col("doc_b"), col("diag"),
        col("__isl"))
      .agg(min(col("ia")).as("__amin"), max(col("ia")).as("__amax"))
      .select(col("doc_a"), col("doc_b"),
        col("__amin").cast("bigint").as("a_start"),
        (col("__amin") - col("diag")).cast("bigint").as("b_start"),
        (col("__amax") - col("__amin") + col("l")).cast("bigint")
          .as("run_tokens"),
        col("l").cast("bigint").as("l"))
  }

  /** Exact-substring dedup with REMOVAL and reconstruction (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better" —
    * public paper): the production form of [[exactSubstringRuns]]. q300
    * FINDS the >= l-token verbatim cross-document runs; this operator
    * REMOVES every matched token range from the LATER document of each
    * pair (doc_a < doc_b — the keep-first-in-corpus-order policy, the
    * min-id retention rule every dedup stage here uses) and rebuilds the
    * survivor from its remaining tokens in order.
    *
    * Anchor-keep, not chain-keep (the q142 anchor-greedy precedent): a
    * range is removed from doc_b whenever SOME smaller doc shares it,
    * whether or not that smaller doc itself keeps its copy (doc_a's copy
    * may in turn be removed by a pair with an even smaller doc) — one
    * position-keyed join instead of a sequential corpus scan, and the
    * verdict is a pure function of the run set. Intra-document repeats
    * are out of scope by construction (runs have doc_a < doc_b); the
    * within-doc rule is [[intraDocLineDedup]].
    *
    * Idempotence (the Lee et al. §4 re-run property, spec-pinned): on
    * the rebuilt corpus the surviving copies are unique, so a second
    * pass removes nothing — up to splice artifacts (removal can abut
    * tokens into a NEW >= l window matching another doc; rare in
    * practice, the paper accepts the same), a re-run is a no-op.
    *
    * Scale: covered positions explode one row per REMOVED token — linear
    * in the duplicated mass, never in pairs (run_tokens bounds the
    * fan-out; the df cap already bounded the run inventory); the flag is
    * ONE (doc, pos)-keyed left join against the linear token inventory;
    * the rebuild is the per-doc aggregate every census here ends with.
    *
    * Output per doc: n_tokens, n_tokens_removed, clean_md5 (md5 of the
    * kept tokens space-joined — md5("") when everything was removed) —
    * the [[lineDedup]] narrow contract. [[exactSubstringRebuild]] is the
    * TEXT form downstream composition consumes.
    *
    * `runs` is an [[exactSubstringRuns]] inventory (q377/q391/q398
    * consume one session-shared l = 20, maxDf = 10 build; SharedFormsSpec
    * compares it against a fresh `exactSubstringRuns` build). */
  def exactSubstringDedupFrom(docs: DataFrame, idCol: String,
                              textCol: String, runs: DataFrame): DataFrame =
    exactSubstrFlagged(docs, idCol, textCol, runs)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_tokens_removed"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("pos"), col("tok"))))),
            t => t.getField("tok")), " ")).as("clean_md5"))

  /** [[exactSubstringDedupFrom]]'s rebuild in TEXT form — (doc_id,
    * clean_text, "" when every token was removed); exists for
    * composition (the idempotence spec re-runs the operator on it). */
  def exactSubstringRebuild(docs: DataFrame, idCol: String, textCol: String,
                            l: Int): DataFrame =
    exactSubstrFlagged(docs, idCol, textCol,
        exactSubstringRuns(docs, idCol, textCol, l, maxDf = 10))
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(
            when(col("__keep"), struct(col("pos"), col("tok"))))),
          t => t.getField("tok")), " ").as("clean_text"))

  /** The flagged token inventory behind both exact-substring removal
    * forms: (doc_id, pos, tok, __keep) with __keep false exactly on
    * positions covered by some run's doc_b range — shared so the census
    * and the rebuild can never drift (the lineFlagged precedent). */
  private def exactSubstrFlagged(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 runs: DataFrame): DataFrame = {
    val covered = runs.select(col("doc_b").as("doc_id"),
        explode(sequence(col("b_start"),
          col("b_start") + col("run_tokens") - 1)).as("pos"))
      .distinct()
      .withColumn("__hit", lit(1L))
    docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), " "))
          .as(Seq("__p0", "tok")))
      .select(col("doc_id"), (col("__p0") + 1).cast("long").as("pos"),
        col("tok"))
      .join(covered, Seq("doc_id", "pos"), "left")
      .withColumn("__keep", col("__hit").isNull)
  }

  /** C4-style corpus-wide span removal (Raffel et al. 2020 §2.2: "we
    * discarded all but one of any three-sentence span occurring more than
    * once"): tile every document into consecutive `tileTokens`-token spans
    * (last tile may be short), keep exactly ONE occurrence of each distinct
    * span — pinned deterministically to the minimum (doc_id, tile_pos) in
    * corpus order — and rebuild each document from its surviving tiles.
    *
    * This REMOVES duplicated text and returns the cleaned corpus; q98's
    * chunk dedup only SCORES overlap, and q300 reports cross-doc runs
    * without rewriting anything — this is the destructive keep-first gate
    * those two diagnose for.
    *
    * Scale design: the tile inventory is linear in token count; the keeper
    * choice is ONE tile-keyed aggregate (`min` of a packed (doc, pos) key —
    * mergeable, map-side combinable) plus ONE tile-keyed equi-join back,
    * then a per-doc rebuild aggregate. No windows, no pairwise joins — the
    * same span occurring a million times costs one group, not 10^12 pairs.
    * Packing bound: tile_pos must stay < 1e5 (100 tiles/doc at the default
    * tile here means 400-token docs; raise the multiplier for book-length
    * corpora). Tiles join on their text; at 100 TB key the shuffle on a
    * 64-bit fingerprint instead and resolve the keeper's text from the
    * exploded inventory (hash-identity swap, the q75/q300 precedent).
    *
    * Output per doc: n_tiles, kept_tiles, clean_text (NULL when every tile
    * of the doc occurred earlier elsewhere). NULL text tiles as "" (one
    * single-empty-token tile, the shared [[tileInventory]] rule since the
    * q351 landing): a NULL-text doc competes for the "" span like any
    * other instead of vanishing — the oracle mirrors with coalesce.
    * On replica corpora the keeper group count stays constant; cost
    * rides the tile shuffles, never pairs.
    */
  def c4SpanDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tileTokens = 4
    val tiles = tileInventory(docs, idCol, textCol, tileTokens)
      .select(col("doc_id"), col("tpos"),
        array_join(col("lts"), " ").as("tile"))
    val packed = col("doc_id") * 100000L + col("tpos")
    val keeper = tiles.groupBy(col("tile"))
      .agg(min(packed).as("__keeper"))
    val flagged = tiles.join(keeper, Seq("tile"))
      .select(col("doc_id"), col("tpos"), col("tile"),
        (packed === col("__keeper")).as("__keep"))
    val rebuilt = array_join(
      transform(
        array_sort(collect_list(
          when(col("__keep"), struct(col("tpos"), col("tile"))))),
        t => t.getField("tile")), " ")
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tiles"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("kept_tiles"),
        rebuilt.as("__txt"))
      .select(col("doc_id"), col("n_tiles"), col("kept_tiles"),
        when(col("kept_tiles") === 0, lit(null: String))
          .otherwise(col("__txt")).as("clean_text"))
  }

  /** End-to-end dedup pipeline — the run-this-first worklist a corpus
    * curation job actually ships: exact → MinHash near-dup → semantic,
    * applied IN ORDER with min-id retention at each stage, emitting one
    * row per document with its fate and the doc it was deduplicated
    * against. This composes the existing lineage (q28 fingerprints, the
    * q31/q61 pair graph + components, the q142 semantic pair policy) into
    * ONE operator rather than re-deriving any of it.
    *
    * Stage semantics (each stage sees only the previous stage's
    * survivors):
    *  1. exact — md5(text) groups; keep min doc_id, attribute the rest to
    *     it;
    *  2. near_dup — `nearPairs` (doc_a < doc_b, the FULL-corpus MinHash
    *     pair graph) restricted to pairs with BOTH endpoints surviving;
    *     connected components; keep the component min, attribute members
    *     to it;
    *  3. semantic — `semPairs` (id_a > id_b, the full-corpus within-cell
    *     cosine pairs) restricted to surviving endpoints; the
    *     [[graft.operators.Similarity.semanticDedupFrom]] anchor-greedy rule
    *     (drop id_a if ANY surviving smaller id qualifies), survivor
    *     attribution = the smallest such anchor (which, anchor-greedy,
    *     need not itself survive the stage — the documented q142 policy).
    *
    * Pair graphs are computed ONCE on the full corpus and filtered per
    * stage — the 100 TB shape (signatures/pairs are the expensive
    * artifacts; retention is cheap joins over them), and what makes the
    * stage order well-defined: stage k's removals can only shrink later
    * stages' pair sets. Running the pipeline again on its own survivors
    * removes nothing (components are collapsed to one member; every
    * semantic anchor pair has been cut) — the idempotence the spec pins.
    *
    * Output: (doc_id, stage ∈ exact|near_dup|semantic|retained,
    * survivor_id; retained rows carry their own id). Exactly one row per
    * input document. Scale: fingerprint groupBy + pair-keyed joins +
    * id-keyed anti-joins; the only iteration is inside
    * [[connectedComponents]] (component-diameter rounds over the near-dup
    * graph, cliques in practice). Worklists are persisted per stage via
    * [[CacheScope]] — each survivor set feeds three consumers.
    *
    * 10× cost envelope (measured, sf0.1×10 quiet box, r15): pipeline
    * 8.2 → 43.8 s, of which the MinHash pair-graph build ALONE is
    * 6.1 → 28.4 s (~65% of the 10× total) — the replica corpus is the
    * adversarial case for LSH (every replica pair is a true J=1.0 pair,
    * candidates grow ~factor² per original). The exact stage is
    * 0.7 → 0.9 s, and the remainder (~14 s: semantic pair graph + CC
    * rounds + stage joins) is flat-to-linear because components and the
    * semantic stage run on the exact-stage SURVIVOR set, constant across
    * replication factors. So the pipeline's growth curve IS the pair
    * graphs' curve — by design, they are the expensive 100 TB artifacts
    * — and the CC iteration never dominates; a large-star/small-star CC
    * variant would shave the flat remainder, not the slope. */
  def dedupPipeline(docs: DataFrame, idCol: String, textCol: String,
                    nearPairs: DataFrame, semPairs: DataFrame): DataFrame = {
    // coalesce: md5(NULL) is NULL and NULL keys never equi-join, so a
    // NULL-text doc would vanish from the worklist entirely — breaking the
    // one-row-per-document contract. NULL text fingerprints as "" (groups
    // with empty docs; the oracle mirrors the same coalesce).
    val fp = CacheScope.persist(docs
      .select(col(idCol).as("doc_id"),
        md5(coalesce(col(textCol), lit(""))).as("__f")))
    val k1 = fp.groupBy(col("__f")).agg(min(col("doc_id")).as("survivor_id"))
    val tagged = CacheScope.persist(fp.join(k1, "__f"))
    val ex = tagged.where(col("doc_id") =!= col("survivor_id"))
      .select(col("doc_id"), lit("exact").as("stage"), col("survivor_id"))
    val s1 = CacheScope.persist(
      tagged.where(col("doc_id") === col("survivor_id")).select(col("doc_id")))
    val p2 = nearPairs
      .join(s1.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(s1.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"))
    val nd = CacheScope.persist(connectedComponents(p2)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit("near_dup").as("stage"),
        col("cluster_id").as("survivor_id")))
    val s2 = CacheScope.persist(
      s1.join(nd.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    val sem = CacheScope.persist(semPairs
      .join(s2.withColumnRenamed("doc_id", "id_a"), "id_a")
      .join(s2.withColumnRenamed("doc_id", "id_b"), "id_b")
      .groupBy(col("id_a"))
      .agg(min(col("id_b")).as("survivor_id"))
      .select(col("id_a").as("doc_id"), lit("semantic").as("stage"),
        col("survivor_id")))
    val retained = s2.join(sem.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("retained").as("stage"),
        col("doc_id").as("survivor_id"))
    ex.unionByName(nd).unionByName(sem).unionByName(retained)
  }

  /** Line-level dedup with document reconstruction — the CCNet/FineWeb
    * curation stage between [[c4SpanDedup]]'s keep-one span removal and
    * q98's chunk SCORING: a "line" duplicated across `minDocs` OR MORE
    * documents is boilerplate (headers, navigation, license banners) and
    * is dropped from EVERY document (no keeper — unlike C4's keep-first
    * rule), then each document is rebuilt from its surviving lines in
    * order.
    *
    * Line proxy: this corpus has no newlines, so a line is a consecutive
    * non-overlapping `lineTokens`-token window (the [[c4SpanDedup]] tile
    * rule; the last line may be short) — on newline-delimited text, split
    * on the delimiter upstream and pass lineTokens-sized lines through
    * unchanged. Duplication counts DISTINCT documents (a line repeated
    * inside one document is not cross-doc boilerplate).
    *
    * Scale design: the line inventory is linear in token count; the
    * document-frequency table is ONE line-keyed distinct + aggregate
    * (map-side combinable) joined back once; the rebuild is a per-doc
    * sort of the doc's own lines. No windows, no pairwise joins — the
    * same shape as [[c4SpanDedup]]. At 100 TB, key the join on a 64-bit
    * line fingerprint instead of the text (the q75/q300 hash-identity
    * swap).
    *
    * Output per doc (every input doc, even fully-boilerplate ones):
    * n_lines, n_lines_dropped, n_tokens_kept, clean_md5 (md5 of the
    * space-rejoined surviving text; md5("") for fully-dropped docs — the
    * hash travels instead of the text so the result stays narrow). */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    rebuildFlagged(lineFlagged(docs, idCol, textCol))

  /** INTRA-document line dedup with reconstruction — the CCNet "remove
    * repeated paragraphs within a document" stage, the WITHIN-doc
    * complement of [[lineDedup]]'s cross-doc rule: a line repeated
    * inside ONE document (per-section cookie banners, copy-paste spam)
    * is invisible to the cross-doc document-frequency rule when the
    * page itself is unique; here every repeat after a line's FIRST
    * occurrence in its own document is dropped and the doc rebuilt.
    * Same tile rule ([[tileInventory]]), same narrow output contract.
    *
    * Scale: one (doc, line)-keyed min aggregate + one join back + the
    * per-doc rebuild — all shuffles carry the doc id, so the stage is
    * embarrassingly doc-parallel; no cross-doc structure AT ALL (the
    * rare dedup stage with zero corpus-global state).
    * Output per doc: n_lines, n_lines_dropped, n_tokens_kept,
    * clean_md5. */
  def intraDocLineDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lineTokens = 3
    val lines = tileInventory(docs, idCol, textCol, lineTokens)
      .select(col("doc_id"), col("tpos").as("lpos"),
        array_join(col("lts"), " ").as("line"),
        size(col("lts")).cast("long").as("ntoks"))
    val first = lines.groupBy(col("doc_id"), col("line"))
      .agg(min(col("lpos")).as("__kpos"))
    rebuildFlagged(lines.join(first, Seq("doc_id", "line"))
      .withColumn("__keep", col("lpos") === col("__kpos")))
  }

  /** The ONE per-doc rebuild aggregate over a __keep-flagged (doc_id,
    * lpos, line, ntoks) frame — shared by [[lineDedup]] and
    * [[intraDocLineDedup]] so the census/rebuild contract can never
    * drift between the cross-doc and within-doc rules. */
  private def rebuildFlagged(flagged: DataFrame): DataFrame =
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_lines_dropped"),
        sum(when(col("__keep"), col("ntoks")).otherwise(0L)).as("n_tokens_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("lpos"), col("line"))))),
            t => t.getField("line")), " ")).as("clean_md5"))

  /** [[lineDedup]]'s flagged line inventory — (doc_id, lpos, line, ntoks,
    * __keep) with __keep false exactly for boilerplate lines (3-token
    * lines with document frequency >= 3) — shared with
    * [[cleanTextRebuild]] so the keep rule can never drift between the
    * census and the rebuild. */
  private def lineFlagged(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lineTokens = 3
    val minDocs = 3
    val lines = tileInventory(docs, idCol, textCol, lineTokens)
      .select(col("doc_id"), col("tpos").as("lpos"),
        array_join(col("lts"), " ").as("line"),
        size(col("lts")).cast("long").as("ntoks"))
    val docFreq = lines.select(col("doc_id"), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("__df"))
    lines.join(docFreq, Seq("line"))
      .withColumn("__keep", col("__df") < minDocs)
  }

  /** [[lineDedup]]'s rebuild in TEXT form: one row per input document
    * with its boilerplate-stripped text ("" when every line was dropped)
    * — the frame downstream CLEAN-TEXT consumers start from (the census
    * form ships clean_md5 so the result stays narrow; this form exists
    * for composition). */
  def cleanTextRebuild(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    lineFlagged(docs, idCol, textCol)
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(
            when(col("__keep"), struct(col("lpos"), col("line"))))),
          t => t.getField("line")), " ").as("clean_text"))

  /** Paragraph-granular MinHash near-dup pairs over boilerplate-stripped
    * text — the FineWeb ordering: line-level dedup FIRST
    * ([[cleanTextRebuild]]), THEN the [[minhashNearDupPairs]] stage on
    * the rebuilt corpus. Running near-dup detection on raw web text
    * pairs documents that merely share navigation chrome; stripping the
    * shared lines first makes the pair graph about actual content (and
    * conversely keeps true content twins paired — their clean texts
    * still match). Documents whose clean text has fewer than `shingleK`
    * tokens drop out of the pair stage (the q31 contract, applied to the
    * clean text on both engines).
    *
    * Pure composition of the two shared-rule operators — the new
    * guarantee is the ORDER; the rebuilt corpus is persisted because the
    * pair stage consumes it twice (signatures + verification sets).
    * Scale: [[lineDedup]]'s scan-shaped stages plus the bucketed pair
    * stage — no new shuffle classes. Output: (doc_a, doc_b, jaccard) on
    * clean shingles. */
  def paragraphMinhashPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val clean = CacheScope.persist(cleanTextRebuild(docs, idCol, textCol))
    minhashNearDupPairs(clean, "doc_id", "clean_text")
  }

  /** Span-level EVAL-SET DECONTAMINATION with document reconstruction —
    * the surgical form of q135's containment gate (production
    * decontamination à la PaLM / GPT-4 removes the overlapping WINDOWS
    * from training documents rather than dropping whole documents —
    * Chowdhery et al. 2022 §6; OpenAI GPT-4 technical report, appendix C
    * — both public): every `tileTokens`-token tile of a TRAIN document
    * whose text equals any tile of any EVAL document is removed, and the
    * train document is rebuilt from its surviving tiles in order.
    *
    * Uses the ONE shared [[tileInventory]] rule (q329/q351), so span
    * granularity can never drift from the other span operators; the
    * train/eval carve is a caller-supplied predicate (the q361 query
    * derives it from the house md5-fold — membership a pure function of
    * id, the q113 carve discipline).
    *
    * Scale: the eval tile set is |eval|-bounded and DISTINCT (tiny next
    * to the corpus — broadcastable in practice, tile-keyed join either
    * way); the train side is the linear tile inventory + ONE keyed left
    * join + per-doc rebuild aggregate. No windows, no pairs. At 100 TB
    * key the join on a 64-bit tile fingerprint (the q75/q300 swap).
    *
    * Output per train doc: n_tiles, n_tiles_dropped, n_tokens_kept,
    * clean_md5 — the [[lineDedup]] narrow contract (md5("") when every
    * tile matched the eval set). */
  def decontaminateSpans(docs: DataFrame, idCol: String, textCol: String,
                         evalPred: Column): DataFrame = {
    val tileTokens = 4
    val evalTiles = tileInventory(docs.where(evalPred), idCol, textCol,
        tileTokens)
      .select(array_join(col("lts"), " ").as("tile")).distinct()
    val train = tileInventory(docs.where(!evalPred), idCol, textCol,
        tileTokens)
      .select(col("doc_id"), col("tpos"),
        array_join(col("lts"), " ").as("tile"),
        size(col("lts")).cast("long").as("ntoks"))
    train
      .join(evalTiles.withColumn("__hit", lit(1L)), Seq("tile"), "left")
      .withColumn("__keep", col("__hit").isNull)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tiles"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_tiles_dropped"),
        sum(when(col("__keep"), col("ntoks")).otherwise(0L)).as("n_tokens_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("tpos"), col("tile"))))),
            t => t.getField("tile")), " ")).as("clean_md5"))
  }

  /** The ONE tile rule, shared by [[c4SpanDedup]], [[lineDedup]] and
    * [[decontaminateSpans]] so the span operators can never drift:
    * non-overlapping `tileTokens`-token
    * windows over the whitespace tokens, one row per (doc_id, tpos, lts)
    * with lts the tile's token ARRAY (last tile may be short; callers
    * derive the joined text / token count they need). NULL text tiles as
    * "" (one single-empty-token tile) so no document vanishes.
    * sequence() must stay ascending (sequence(1,0) DESCENDS): every doc
    * yields >= 1 tile via the greatest() guard. */
  /** Bloom-filter paragraph-dedup calibration census — the Dolma "BFF"
    * (Bloom Filter deduper, Soldaini et al. 2024; Groeneveld's bff tool —
    * public) read as an audit: production web-scale dedup often trades the
    * exact line-keyed aggregate ([[lineDedup]]) for an m-bit Bloom filter
    * (constant memory, no shuffle), accepting false positives — distinct
    * paragraphs wrongly dropped because earlier inserts already set all k
    * of their probe bits. This operator measures that trade on the real
    * corpus: for each k in 1..3 it reports how many distinct 3-token line
    * TYPES a 2^16-bit (mBits) filter would falsely flag, next to the true-dup
    * mass (repeat occurrences) any filter catches by design.
    *
    * Order-free formulation: BFF's outcome depends on insertion order, so
    * the census fixes the CANONICAL deterministic order — ascending 60-bit
    * md5 order key o = h60('bfford#'||line) over line types (any fixed
    * order is a valid BFF run; md5 order makes membership a pure function
    * of the text, the q113 carve discipline). Probe bit i of a type is
    * b_i = h60('bffbit<i>#'||line) mod mBits. A type is FALSELY flagged
    * under k iff for EVERY i <= k some other type with smaller o sets bit
    * b_i — i.e. minSetter_k(b_i) < o, where minSetter_k(b) is the least o
    * over all (type, slot <= k) probes of b. Strict '<' excludes the
    * type's own probes, so true first-insertions are never flagged.
    *
    * INSERT-ALWAYS assumption: minSetter counts probe bits from ALL
    * smaller-o types — including types that are themselves falsely
    * flagged — i.e. the census models a filter that inserts EVERY
    * queried item (classic BFF: query and insert are one combined op).
    * [[graft.streaming.StreamingBloomDedup]] inserts bits only for KEPT
    * lines, so even at nShards = 1 its decisions are not this census's
    * canonical-order decisions, and the census slightly OVERSTATES FP
    * counts relative to a keep-only run (a flagged type's bits never
    * enter a keep-only filter, so it can't cascade further flags). Read
    * the census as an upper bound on the keep-only streaming filter, not
    * its exact price.
    *
    * Scale: one tile pass + one line-keyed TYPE aggregate (the
    * [[lineDedup]] frame); probes are 3 narrow hash columns; per-bit
    * first-setter tables are bounded by mBits·maxK (CONSTANTS — the
    * whole point of a Bloom filter); per-k flags are one bit-keyed join +
    * one type-keyed all-slots-seen aggregate. Nothing is per-occurrence
    * after the type aggregate. Output row per k: k, n_types, n_fp_types,
    * fp_rate (6-dp half-up), n_bits_set, n_dup_occ (k-independent). */
  def bloomDedupCensus(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (lineTokens, mBits, maxK) = (3, 1L << 16, 3)
    val types = CacheScope.persist(
      tileInventory(docs, idCol, textCol, lineTokens)
        .select(col("doc_id"), array_join(col("lts"), " ").as("line"))
        .groupBy(col("line")).agg(count(lit(1)).as("occ"))
        .select(col("line"), col("occ"),
          graft.operators.Sketches.hash60(
            concat(lit("bfford#"), col("line"))).as("o")))
    val slots = CacheScope.persist(types.select(col("o"),
      posexplode(array((1 to maxK).map(i =>
        graft.operators.Sketches.hash60(
          concat(lit(s"bffbit$i#"), col("line"))) % lit(mBits)): _*))
        .as(Seq("i0", "b")))
      .select(col("o"), (col("i0") + 1).as("slot"), col("b")))
    // per-(bit, slot) first setter — bounded by mBits * maxK rows
    val bitSlotMin = slots.groupBy(col("b"), col("slot"))
      .agg(min(col("o")).as("mo"))
    val dupOcc = types.agg(
      (sum(col("occ")) - count(lit(1))).as("n_dup_occ"))
    val perK = (1 to maxK).map { k =>
      val bitMin = bitSlotMin.where(col("slot") <= k)
        .groupBy(col("b")).agg(min(col("mo")).as("mo"))
      val flagged = slots.where(col("slot") <= k)
        .join(bitMin, Seq("b"))
        .groupBy(col("o"))
        .agg(min(when(col("mo") < col("o"), 1L).otherwise(0L)).as("fp"))
      val bitsSet = slots.where(col("slot") <= k)
        .agg(countDistinct(col("b")).as("n_bits_set"))
      flagged.agg(count(lit(1)).as("n_types"),
          sum(col("fp")).as("n_fp_types"))
        .select(lit(k.toLong).as("k"), col("n_types"), col("n_fp_types"),
          // DECIMAL(38,0) wrap guard: 2·n_fp_types·1e6 passes 2^63 once
          // the corpus holds ~4.6e12 line types (the q338/q355 discipline)
          (expr("CAST(CAST((CAST(2 AS DECIMAL(38,0)) * n_fp_types * 1000000" +
              " + n_types) div (2 * n_types) AS BIGINT) AS DOUBLE)")
            / lit(1e6)).as("fp_rate"))
        .crossJoin(broadcast(bitsSet))
    }
    perK.reduce(_.unionByName(_)).crossJoin(broadcast(dupOcc))
  }

  private def tileInventory(docs: DataFrame, idCol: String, textCol: String,
                            tileTokens: Int): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      split(coalesce(col(textCol), lit("")), " ").as("ts"))
    val nTiles = greatest(
      floor((size(col("ts")) + lit(tileTokens - 1)) / lit(tileTokens))
        .cast("int"), lit(1))
    toks.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nTiles - 1),
          i => slice(col("ts"), i * tileTokens + 1, lit(tileTokens))))
          .as(Seq("tpos", "lts")))
      .select(col("doc_id"), col("tpos").cast("long").as("tpos"), col("lts"))
  }

  /** Gopher-style repetition-rule census (Rae et al. 2021 §A1.1, Table
    * A1 — public paper): the per-document repetition signals the big web
    * corpora actually gate on, computed in ONE pass family over the
    * shared tile/n-gram machinery. Per document:
    *
    *  - dup_line_frac       — line occurrences beyond their type's first
    *                          / total lines          (threshold 0.30)
    *  - dup_line_char_frac  — characters in those repeat occurrences
    *                          / characters in all lines     (0.20)
    *  - dup_para_frac / dup_para_char_frac — same rules at paragraph
    *                          granularity            (0.30 / 0.20)
    *  - top{2,3,4}_char_frac — characters covered by the most frequent
    *                          word n-gram (occurrences × n-gram length,
    *                          over the doc's raw char count; overlapping
    *                          occurrences may push it past 1.0 — the
    *                          paper's own definition)  (0.20/0.18/0.16)
    *  - dup{5..10}gram_char_frac — characters covered by ANY word n-gram
    *                          occurring ≥ 2 times, each covered position
    *                          counted ONCE (the paper's "taking care not
    *                          to count characters that occur in
    *                          overlapping n-grams more than once");
    *                          covered mass = the covered tokens' char
    *                          lengths (inter-word spaces unattributed —
    *                          house convention), denominator the raw
    *                          char count   (0.15/0.14/0.13/0.12/0.11/0.10)
    *
    * — ALL thirteen Table A1 repetition rules — and `pass` = 1 iff every
    * rule holds. q87/q148 gate on single rules;
    * this is the COMPOSED rule table (the per-source roll-up is
    * [[gopherPassReportFrom]]). "Lines"/"paragraphs" are the house tile
    * proxies ([[tileInventory]], `lineTokens`/`paraTokens`-token
    * non-overlapping tiles) — same rule as q351/q363, so the census can
    * never drift from the dedup operators. Top-gram ties break to the
    * lexicographically smallest gram (count desc, gram asc — one
    * min(struct) aggregate, no window).
    *
    * Exact-integer discipline: every fraction is the house half-up 6-dp
    * rational (2·num·1e6 + den) div (2·den) on BIGINT char/line counts,
    * DECIMAL(38,0)-widened against the 2^63 wrap (book-length docs ×
    * 1e6 stay far under 38 digits); zero denominators (empty text)
    * yield 0. Thresholds compare in micro-units, so pass/fail is an
    * integer decision on both engines.
    *
    * Scale: every aggregate and join is doc-keyed (tile counts, type
    * counts, n-gram argmax) — embarrassingly doc-parallel, zero
    * corpus-global state; the n-gram stage is linear in token count.
    * The 100 TB shape is the q363 one: shuffles carry the doc id.
    *
    * `micro` is the [[gopherMicro]] census (five queries ride one build:
    * q375/q376/q381/q385/q392, the `gopher_micro` SharedCaches entry). */
  def gopherRepetitionFrom(micro: DataFrame): DataFrame =
    micro.select(col("doc_id") +: col("n_lines") +:
      gopherRules.map { case (n, _, _) =>
        (col(s"${n}_mu").cast("double") / lit(1e6)).as(n)
      } :+ col("pass"): _*)

  /** [[gopherRepetitionFrom]] rolled up per source: one row per (source,
    * rule) with the doc count, failure count and 6-dp failure rate,
    * plus an 'all' row per source for the full-census pass rate — the
    * corpus-card table a curation run reports. Rule thresholds are the
    * Rae et al. 2021 Table A1 values, compared in micro-units. `micro`
    * is the [[gopherMicro]] census. */
  def gopherPassReportFrom(micro: DataFrame, docs: DataFrame,
                           idCol: String, srcCol: String): DataFrame = {
    val census = micro
      .join(docs.select(col(idCol).cast("long").as("doc_id"),
        col(srcCol).as("source")), Seq("doc_id"))
    val ruleAggs = gopherRules.zipWithIndex.map { case ((n, thr, _), i) =>
      sum(when(col(s"${n}_mu") > thr, 1L).otherwise(0L)).as(s"__f$i")
    } :+ sum(when(col("pass") === 0L, 1L).otherwise(0L)).as("__fall")
    val nStack = gopherRules.size + 1
    census.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), ruleAggs: _*)
      .select(col("source"), col("n_docs"),
        expr(s"stack($nStack, ${gopherRules.zipWithIndex.map { case ((n, _, _), i) =>
          s"CAST(${i + 1} AS BIGINT), '$n', __f$i"
        }.mkString(", ")}, CAST($nStack AS BIGINT), 'all', __fall)" +
          " AS (rule_order, rule, n_fail)"))
      .withColumn("fail_rate",
        expr("CAST(CAST((CAST(2 AS DECIMAL(38,0)) * n_fail * 1000000 + n_docs)" +
            " DIV (2 * n_docs) AS BIGINT) AS DOUBLE)") / lit(1e6))
  }

  /** Gopher QUALITY-rule census (Rae et al. 2021 §A1.1, first block —
    * public paper): the non-repetition half of the Table A1 gate,
    * completing [[gopherRepetitionFrom]]'s rule table. Per document:
    *
    *  - n_words ∈ [50, 100000]
    *  - mean word length ∈ [3, 10] characters (exact half-up 6-dp)
    *  - symbol-to-word ratio ('#' or ellipsis occurrences / words) ≤ 0.1
    *  - ≤ 90% of lines start with a bullet ('-' or '•'); ≤ 30% end with
    *    an ellipsis ("..." or "…") — "lines" are the house
    *    [[tileInventory]] 3-token proxy, the q375 rule
    *  - ≥ 80% of words contain ≥ 1 alphabetic character
    *  - ≥ 2 occurrences of the paper's stop set (the, be, to, of, and,
    *    that, have, with)
    *
    * and pass = 1 iff every rule holds. Ratios are the house half-up
    * 6-dp rationals on BIGINT counts (zero denominators → 0); rule
    * decisions compare micro-unit integers on both engines.
    *
    * Scale: ONE tokenize pass feeds every word-level aggregate (all
    * doc-keyed); the line rules ride the shared tile inventory — zero
    * corpus-global state, the q375 shape. */
  def gopherQualityRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lineTokens = 3
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val words = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(split(coalesce(col(textCol), lit("")), " ")).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("wchars"),
        sum(when(col("w").rlike("[A-Za-z]"), 1L).otherwise(0L))
          .as("alpha_words"),
        sum(when(col("w").isin(stops: _*), 1L).otherwise(0L))
          .as("n_stopwords"))
    val syms = docs.select(col(idCol).cast("long").as("doc_id"),
      (regexp_count(coalesce(col(textCol), lit("")), lit("#")) +
        regexp_count(coalesce(col(textCol), lit("")), lit("\\.\\.\\.")) +
        regexp_count(coalesce(col(textCol), lit("")), lit("…")))
        .cast("long").as("n_sym"))
    val lines = tileInventory(docs, idCol, textCol, lineTokens)
      .select(col("doc_id"), array_join(col("lts"), " ").as("line"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("line").rlike("^[-•]"), 1L).otherwise(0L))
          .as("bullet_lines"),
        // \z (true end-of-text, supported by Java regex AND RE2), not $:
        // Java's $ matches before a final line terminator, RE2's does
        // not — a line ending "...\n" would diverge between engines
        sum(when(col("line").rlike("(\\.\\.\\.|…)\\z"), 1L).otherwise(0L))
          .as("ellipsis_lines"))
    def mu(num: String, den: String): Column =
      when(col(den) === 0L, 0L).otherwise(expr(
        s"CAST((CAST(2 AS DECIMAL(38,0)) * ($num) * 1000000 + ($den))" +
          s" DIV (2 * ($den)) AS BIGINT)"))
    words.join(syms, Seq("doc_id")).join(lines, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_stopwords"),
        mu("wchars", "n_words").as("__mwl"),
        mu("n_sym", "n_words").as("__sym"),
        mu("bullet_lines", "n_lines").as("__bul"),
        mu("ellipsis_lines", "n_lines").as("__ell"),
        mu("alpha_words", "n_words").as("__alf"))
      .select(col("doc_id"), col("n_words"),
        (col("__mwl").cast("double") / lit(1e6)).as("mean_word_len"),
        (col("__sym").cast("double") / lit(1e6)).as("symbol_ratio"),
        (col("__bul").cast("double") / lit(1e6)).as("bullet_line_frac"),
        (col("__ell").cast("double") / lit(1e6)).as("ellipsis_line_frac"),
        (col("__alf").cast("double") / lit(1e6)).as("alpha_word_frac"),
        col("n_stopwords"),
        (col("n_words") >= 50L && col("n_words") <= 100000L &&
          col("__mwl") >= 3000000L && col("__mwl") <= 10000000L &&
          col("__sym") <= 100000L && col("__bul") <= 900000L &&
          col("__ell") <= 300000L && col("__alf") >= 800000L &&
          col("n_stopwords") >= 2L).cast("bigint").as("pass"))
  }

  /** The COMPLETE Gopher document gate (Rae et al. 2021 §A1.1, both
    * blocks): a document is kept iff it passes EVERY repetition rule
    * ([[gopherRepetitionFrom]]) AND every quality rule
    * ([[gopherQualityRules]]) — the conjunction production pipelines
    * actually apply, rolled up per source with the retention rate a
    * corpus card leads with. Pure composition of the two shared-rule
    * censuses (both pass flags are already micro-unit integer
    * decisions), so the gate can never drift from either rule table.
    *
    * Output per source: n_docs, n_pass_repetition, n_pass_quality,
    * n_pass_all (≤ min of the two — the conjunction), retention_rate
    * (half-up 6-dp of n_pass_all/n_docs). Scale: two doc-keyed census
    * passes + one id-keyed join + one source-keyed roll-up. `micro` is
    * the [[gopherMicro]] census and `quality` the [[gopherQualityRules]]
    * frame (session-shared as `gopher_micro` + `gopher_quality`). */
  def gopherFullGateFrom(micro: DataFrame, quality: DataFrame,
                         docs: DataFrame, idCol: String,
                         srcCol: String): DataFrame = {
    val rep = micro.select(col("doc_id"), col("pass").as("__rp"))
    val qual = quality.select(col("doc_id"), col("pass").as("__qp"))
    docs.select(col(idCol).cast("long").as("doc_id"), col(srcCol).as("source"))
      .join(rep, Seq("doc_id")).join(qual, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__rp")).as("n_pass_repetition"),
        sum(col("__qp")).as("n_pass_quality"),
        sum(col("__rp") * col("__qp")).as("n_pass_all"))
      .withColumn("retention_rate",
        expr("CAST(CAST((CAST(2 AS DECIMAL(38,0)) * n_pass_all * 1000000" +
            " + n_docs) DIV (2 * n_docs) AS BIGINT) AS DOUBLE)")
          / lit(1e6))
  }

  /** (column-name, micro-unit threshold, doc) per Gopher rule, in report
    * order — ONE list so the census, the report and the oracle thresholds
    * can never drift. All THIRTEEN Table A1 repetition rules: the four
    * line/paragraph dup fractions, the three top-n-gram char fractions,
    * and the six duplicate-n-gram char-coverage fractions (n = 5..10). */
  private val gopherRules: Seq[(String, Long, String)] = Seq(
    ("dup_line_frac", 300000L, "dup line fraction <= 0.30"),
    ("dup_line_char_frac", 200000L, "dup line char fraction <= 0.20"),
    ("dup_para_frac", 300000L, "dup paragraph fraction <= 0.30"),
    ("dup_para_char_frac", 200000L, "dup paragraph char fraction <= 0.20"),
    ("top2_char_frac", 200000L, "top 2-gram char fraction <= 0.20"),
    ("top3_char_frac", 180000L, "top 3-gram char fraction <= 0.18"),
    ("top4_char_frac", 160000L, "top 4-gram char fraction <= 0.16"),
    ("dup5gram_char_frac", 150000L, "dup 5-gram char fraction <= 0.15"),
    ("dup6gram_char_frac", 140000L, "dup 6-gram char fraction <= 0.14"),
    ("dup7gram_char_frac", 130000L, "dup 7-gram char fraction <= 0.13"),
    ("dup8gram_char_frac", 120000L, "dup 8-gram char fraction <= 0.12"),
    ("dup9gram_char_frac", 110000L, "dup 9-gram char fraction <= 0.11"),
    ("dup10gram_char_frac", 100000L, "dup 10-gram char fraction <= 0.10"))

  /** The dup-n-gram n values behind the six coverage rules — shared with
    * the oracle CTE so the rule set can never drift. */
  private[graft] val gopherDupNs: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)

  /** Rule-vs-LM cross-audit: does each Gopher repetition rule actually
    * separate documents by language-model quality on THIS corpus? For
    * every q375 rule (and the all-rules gate) the mean KN cross-entropy
    * of passing vs failing documents, over the scored population —
    * the ablation table a curation run consults before turning a
    * threshold on (a rule whose failing docs score BETTER than its
    * passing docs is mis-calibrated for the corpus); one stacked row per
    * rule plus the 'all' gate. `scoredDocs` is the
    * (idCol, n_bigrams, xent) frame from [[graft.operators.TextLm]]'s
    * scoring stage (the session-shared KN model); docs with < 2 tokens
    * carry no score and are excluded from both counts (documented —
    * the q378 scored-population contract).
    *
    * Exact arithmetic: xent's integer image is recovered once
    * (round(xent·1e6)); per-rule sums are BIGINT; the two means divide
    * out at the end (round(·, 6), the tercileMix mean contract; NULL
    * when a side is empty). One joined frame, ONE aggregate row, one
    * stack — no per-rule passes. Scale: the census is doc-keyed (q375),
    * the join is id-keyed, the stack is one row per rule + 'all'.
    * `micro` is the [[gopherMicro]] census. */
  def gopherXentAblationFrom(micro: DataFrame, scoredDocs: DataFrame,
                             idCol: String): DataFrame = {
    val j = micro
      .join(scoredDocs.select(col(idCol).cast("long").as("doc_id"),
        expr("CAST(round(xent * 1e6) AS BIGINT)").as("__xmu")), Seq("doc_id"))
    val preds = gopherRules.map { case (n, thr, _) =>
      (n, col(s"${n}_mu") <= thr)
    } :+ (("all", col("pass") === 1L))
    val aggs = preds.zipWithIndex.flatMap { case ((_, ok), i) => Seq(
      sum(when(ok, 1L).otherwise(0L)).as(s"__p$i"),
      sum(when(ok, col("__xmu")).otherwise(0L)).as(s"__sp$i"),
      sum(when(!ok, 1L).otherwise(0L)).as(s"__f$i"),
      sum(when(!ok, col("__xmu")).otherwise(0L)).as(s"__sf$i"))
    }
    val stacked = preds.zipWithIndex.map { case ((n, _), i) =>
      s"CAST(${i + 1} AS BIGINT), '$n', __p$i, __sp$i, __f$i, __sf$i"
    }.mkString(", ")
    j.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${preds.size}, $stacked)" +
        " AS (rule_order, rule, n_pass, __sp, n_fail, __sf)"))
      .select(col("rule_order"), col("rule"), col("n_pass"), col("n_fail"),
        when(col("n_pass") === 0L, lit(null).cast("double")).otherwise(
          round((col("__sp").cast("double") / lit(1e6))
            / col("n_pass").cast("double"), 6)).as("mean_xent_pass"),
        when(col("n_fail") === 0L, lit(null).cast("double")).otherwise(
          round((col("__sf").cast("double") / lit(1e6))
            / col("n_fail").cast("double"), 6)).as("mean_xent_fail"))
  }

  /** The micro-unit census behind [[gopherRepetitionFrom]] /
    * [[gopherPassReportFrom]] / the ablation / both gates: doc_id, n_lines,
    * one `<rule>_mu` BIGINT per rule, pass ∈ {0,1}. Exposed to the
    * query layer so ONE session-shared build (`gopher_micro`) can feed
    * its five consumers. */
  private[graft] def gopherMicro(docs: DataFrame, idCol: String,
                                 textCol: String, lineTokens: Int,
                                 paraTokens: Int): DataFrame = {
    require(lineTokens >= 1 && paraTokens > lineTokens,
      "need lineTokens >= 1 < paraTokens")
    val txt = coalesce(col(textCol), lit(""))
    // r20: tile-granularity dup stats (dup-line/para rules) and the
    // top-{2,3,4}-gram char masses are PURE per-document statistics —
    // computed per row by the native byte-exact scans
    // ([[graft.functions.TokenNgrams.tileStats]]/[[...TokenNgrams.topNgramMass]])
    // instead of five corpus-wide (doc, tile/gram-string) exchanges + five
    // doc-keyed joins. Identity stays byte-EXACT (the scans probe the
    // original buffer; tie-break = unsigned byte order = Spark string
    // order), so the numbers cannot move; RoundTwentyOptSpec pins the
    // rewrite against the aggregate form, and the oracle re-gates it.
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
        length(txt).cast("long").as("n_chars"),
        graft.functions.TokenNgrams.token_tile_stats(txt, lineTokens)
          .as("__lt"),
        graft.functions.TokenNgrams.token_tile_stats(txt, paraTokens)
          .as("__pt"),
        graft.functions.TokenNgrams.token_top_ngram_mass(txt, 2).as("m2"),
        graft.functions.TokenNgrams.token_top_ngram_mass(txt, 3).as("m3"),
        graft.functions.TokenNgrams.token_top_ngram_mass(txt, 4).as("m4"))
      .select(col("doc_id"), col("n_chars"),
        element_at(col("__lt"), 1).as("l_n"),
        element_at(col("__lt"), 2).as("l_nt"),
        element_at(col("__lt"), 3).as("l_ch"),
        element_at(col("__lt"), 4).as("l_dch"),
        element_at(col("__pt"), 1).as("p_n"),
        element_at(col("__pt"), 2).as("p_nt"),
        element_at(col("__pt"), 3).as("p_ch"),
        element_at(col("__pt"), 4).as("p_dch"),
        col("m2"), col("m3"), col("m4"))
    // duplicate-n-gram char coverage (Table A1's last six rules): token
    // positions covered by ANY word n-gram occurring >= 2 times in the
    // doc, counted ONCE each (the paper's "taking care not to count
    // characters that occur in overlapping n-grams more than once");
    // covered char mass = the covered tokens' lengths (inter-word
    // spaces are not attributed — documented house convention; the
    // denominator stays the doc's raw char count, the top-gram rule).
    // ONE chain serves all six n via an exploded n column: grams keyed
    // (doc, n, fingerprint) with their start lists (doc-bounded), dup
    // starts exploded to covered positions, distinct, then one
    // token-length join — linear in token count x |ns|, all doc-keyed.
    // r20: gram identity = the native 64-bit FNV-1a byte-span
    // fingerprint (token_window_hashes — the q75/q300/q383 hashed-
    // identity precedent; GROUP identity only, within one (doc, n)), so
    // the two gram exchanges move longs, not n-token strings, and the
    // split+transform+slice string build disappears.
    val grams = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(array(gopherDupNs.map(n => struct(lit(n).as("n"),
          graft.functions.TokenNgrams.token_window_hashes(txt, n)
            .as("hs"))): _*)).as("kh"))
      .select(col("doc_id"), col("kh.n").as("n"),
        posexplode(col("kh.hs")).as(Seq("i", "g")))
    // dup keys via count-only aggregate + semi-join back to the gram
    // inventory (NOT collect_list+explode): a degenerate doc (one token
    // repeated millions of times) would concentrate every start of its
    // single gram type into one aggregation buffer — the semi-join
    // recovers (doc_id, n, i) with bounded per-key state
    val dupKeys = grams.groupBy(col("doc_id"), col("n"), col("g"))
      .agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1L)
      .select(col("doc_id"), col("n"), col("g"))
    val dupStarts = grams.join(dupKeys, Seq("doc_id", "n", "g"), "left_semi")
      .select(col("doc_id"), col("n"), col("i"))
    val covered = dupStarts.select(col("doc_id"), col("n"),
        explode(sequence(col("i"), col("i") + col("n") - 1)).as("p"))
      .distinct()
    val tokLen = docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), " "))
          .as(Seq("p", "w")))
      .select(col("doc_id"), col("p"), length(col("w")).cast("long").as("wl"))
    val ddAggs = gopherDupNs.map(n =>
      sum(when(col("n") === n, col("wl")).otherwise(0L)).as(s"dd$n"))
    val dupMass = covered.join(tokLen, Seq("doc_id", "p"))
      .groupBy(col("doc_id")).agg(ddAggs.head, ddAggs.tail: _*)
    val joined = base
      .join(dupMass, Seq("doc_id"), "left")
      .na.fill(0L, gopherDupNs.map(n => s"dd$n"))
    def mu(num: String, den: String): Column =
      when(col(den) === 0L, 0L).otherwise(expr(
        s"CAST((CAST(2 AS DECIMAL(38,0)) * ($num) * 1000000 + ($den))" +
          s" DIV (2 * ($den)) AS BIGINT)"))
    val withMu = joined.select(Seq(
      col("doc_id"), col("l_n").as("n_lines"),
      mu("l_n - l_nt", "l_n").as("dup_line_frac_mu"),
      mu("l_dch", "l_ch").as("dup_line_char_frac_mu"),
      mu("p_n - p_nt", "p_n").as("dup_para_frac_mu"),
      mu("p_dch", "p_ch").as("dup_para_char_frac_mu"),
      mu("m2", "n_chars").as("top2_char_frac_mu"),
      mu("m3", "n_chars").as("top3_char_frac_mu"),
      mu("m4", "n_chars").as("top4_char_frac_mu")) ++
      gopherDupNs.map(n =>
        mu(s"dd$n", "n_chars").as(s"dup${n}gram_char_frac_mu")): _*)
    withMu.withColumn("pass",
      gopherRules.map { case (n, thr, _) => col(s"${n}_mu") <= thr }
        .reduce(_ && _).cast("bigint"))
  }

  /** The (doc_id, fp, nxt) prompt-window inventory behind the
    * memorization shelf (q389/q393/q397 and the q395 card leg): one row
    * per k-token window CARRYING a continuation (windows at document end
    * are excluded — the q389 contract), fingerprints minted natively
    * ([[graft.functions.TokenNgrams.token_window_hashes]], group identity
    * only — the q75/q300 precedent). Built once per k as a session-shared
    * cache; every consumer's aggregate is fingerprint- or doc-keyed over
    * this frame. */
  def memWindowInventory(docs: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame = {
    require(k >= 1, "need window length >= 1")
    docs.select(col(idCol).cast("long").as("doc_id"),
        split(coalesce(col(textCol), lit("")), " ").as("ts"),
        posexplode(graft.functions.TokenNgrams.token_window_hashes(
          coalesce(col(textCol), lit("")), k)).as(Seq("p", "fp")))
      .where(col("p") + k + 1 <= size(col("ts")))
      .select(col("doc_id"), col("fp"),
        element_at(col("ts"), col("p") + k + 1).as("nxt"))
  }

  /** ALL requested per-k [[memWindowInventory]] frames minted in ONE
    * corpus pass (doc_id, k, fp, nxt): the parquet scan and the token
    * `split` are paid once and each k's windows ride their own
    * [[graft.functions.TokenNgrams.token_window_hashes]] column of a
    * per-row k-struct array (the gopherMicro exploded-n pattern).
    * `where k = <k>` of this frame is row-identical to the single-k
    * build (spec-pinned) — the shared-cache parent the three
    * mem_windows_k* children filter. */
  def memWindowInventoryMulti(docs: DataFrame, idCol: String,
                              textCol: String, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "need window lengths >= 1")
    val txt = coalesce(col(textCol), lit(""))
    val perK = array(ks.map(k => struct(lit(k).as("k"),
      graft.functions.TokenNgrams.token_window_hashes(txt, k)
        .as("hs"))): _*)
    docs.select(col(idCol).cast("long").as("doc_id"),
        split(txt, " ").as("ts"), explode(perK).as("kh"))
      .select(col("doc_id"), col("kh.k").as("k"), col("ts"),
        posexplode(col("kh.hs")).as(Seq("p", "fp")))
      .where(col("p") + col("k") + 1 <= size(col("ts")))
      .select(col("doc_id"), col("k"), col("fp"),
        element_at(col("ts"), col("p") + col("k") + 1).as("nxt"))
  }

  /** Extractable-memorization census (Carlini et al. 2021 "Extracting
    * Training Data from Large Language Models" / 2023 "Quantifying
    * Memorization Across Neural Language Models" — public papers): for
    * each prompt length k, how much of the corpus is DETERMINISTICALLY
    * continuable — a k-token context is deterministic when every one of
    * its corpus occurrences is followed by the SAME next token, the
    * corpus-side proxy for "a k-token prompt extracts the continuation
    * verbatim". The memorization-relevant slice is the REPEATED
    * contexts (occ ≥ 2): a unique context is trivially deterministic,
    * while a repeated-and-still-deterministic one is exactly the
    * duplicated string the papers show LMs regurgitate (and the q300 /
    * q377 dedup shelf exists to remove).
    *
    * Mechanics: per k, the [[exactSubstringRuns]] native window
    * fingerprints ([[graft.functions.TokenNgrams.token_window_hashes]] —
    * fingerprints are GROUP identity only, the q75/q300 hashed-identity
    * precedent; the oracle keys on md5(window), the same partition)
    * paired with the following token, one fingerprint-keyed aggregate
    * (occurrences, distinct continuations), then ONE census row:
    * n_prefix_types, n_det_types, n_occ, n_det_occ, n_rep_types,
    * n_rep_det_types, extractable_frac (half-up 6-dp n_det_occ/n_occ;
    * 0 when the corpus has no k+1-token window). Windows at document
    * end carry no continuation and are excluded on both engines.
    *
    * Scale: the window inventory is ~tokens × |ks| rows (the q300
    * envelope), every aggregate fingerprint- then 1-row-keyed — no
    * pair join at all, strictly cheaper than q300.
    *
    * `ks` pairs each k with its [[memWindowInventory]] frame (the
    * shared-cache form; the doc_id column rides along unused, so the
    * fingerprint-keyed aggregate is unchanged). SharedFormsSpec compares
    * the shared inventories against fresh `memWindowInventory` builds.
    *
    * CONTRACT (r19 ADVICE, also [[memorizationRiskBySourceFrom]]): each
    * Int MUST be the k the paired frame was built with — the label is
    * trusted, and a mismatched pair mislabels every output row's k with
    * no error. The only callers pass the session-shared mem_windows_k<k>
    * caches, each keyed by its own k. */
  def extractableMemorizationFrom(ks: Seq[(Int, DataFrame)]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_._1 >= 1), "need window lengths >= 1")
    val perK = ks.map { case (k, pw) =>
      val byPrefix = pw.groupBy(col("fp"))
        .agg(count(lit(1)).as("occ"), countDistinct(col("nxt")).as("ncont"))
      byPrefix.agg(
          count(lit(1)).as("n_prefix_types"),
          coalesce(sum(when(col("ncont") === 1L, 1L).otherwise(0L)), lit(0L))
            .as("n_det_types"),
          coalesce(sum(col("occ")), lit(0L)).as("n_occ"),
          coalesce(sum(when(col("ncont") === 1L, col("occ")).otherwise(0L)),
            lit(0L)).as("n_det_occ"),
          coalesce(sum(when(col("occ") >= 2L, 1L).otherwise(0L)), lit(0L))
            .as("n_rep_types"),
          coalesce(sum(when(col("occ") >= 2L && col("ncont") === 1L, 1L)
            .otherwise(0L)), lit(0L)).as("n_rep_det_types"))
        .select(lit(k.toLong).as("k"), col("n_prefix_types"),
          col("n_det_types"), col("n_occ"), col("n_det_occ"),
          col("n_rep_types"), col("n_rep_det_types"),
          (when(col("n_occ") === 0L, 0L).otherwise(expr(
            "CAST((CAST(2 AS DECIMAL(38,0)) * n_det_occ * 1000000 + n_occ)" +
              " DIV (2 * n_occ) AS BIGINT)"))
            .cast("double") / lit(1e6)).as("extractable_frac"))
    }
    perK.reduce(_.unionByName(_))
  }

  /** The window length, in tokens, of both cross-snapshot dedup forms. */
  private val snapshotL = 20

  /** Window-fingerprint inventory shared by the cross-snapshot dedup
    * forms: (doc_id, i 1-based, fp) — one row per sliding
    * [[snapshotL]]-token window, fingerprints minted natively
    * ([[graft.functions.TokenNgrams.token_window_hashes]], the q300
    * join-identity precedent; the oracle keys on md5(window), the same
    * partition of windows). */
  private[graft] def windowFpInventory(docs: DataFrame, idCol: String,
                                       textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(graft.functions.TokenNgrams.token_window_hashes(
          coalesce(col(textCol), lit("")), snapshotL)).as(Seq("__p0", "fp")))
      .select(col("doc_id"), (col("__p0") + 1).cast("long").as("i"),
        col("fp"))

  /** Covered (doc_id, pos) set of a snapshot inventory under the
    * store-extended anchor-keep rule: a token position is covered iff
    * some window over it has its fingerprint IN THE STORE (shared with
    * a previous snapshot) or shared with a SMALLER doc_id inside the
    * snapshot itself (the doc_a < doc_b removal-from-later policy of
    * [[exactSubstringDedupFrom]], applied intra-snapshot). */
  private[graft] def snapshotCovered(inv: DataFrame, storeFps: DataFrame): DataFrame = {
    val storeHit = inv.join(storeFps.select(col("fp")), Seq("fp"),
        "left_semi")
      .select(col("doc_id"), col("i"))
    val batchMin = inv.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("__mind"),
        countDistinct(col("doc_id")).as("__nd"))
      .where(col("__nd") >= 2)
      .select(col("fp"), col("__mind"))
    val intraHit = inv.join(batchMin, Seq("fp"))
      .where(col("doc_id") > col("__mind"))
      .select(col("doc_id"), col("i"))
    storeHit.unionByName(intraHit)
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + snapshotL - 1)).as("pos"))
      .distinct()
  }

  /** Cross-snapshot exact-substring dedup, BATCH form (Lee et al. 2022
    * applied incrementally — the oracled twin of
    * [[graft.streaming.CrossSnapshotSubstrDedup]]): dedup the NEW crawl
    * snapshot `newDocs` against the fingerprint store accumulated from
    * `oldDocs` WITHOUT recomputing the old corpus's run inventory —
    * the store holds fingerprints, not positions, so cross-snapshot
    * removal needs no pair join and no run stitching. A new doc's token
    * position is removed iff covered by an `l`-token window (l = 20) shared with
    * ANY old doc or with a smaller-id doc in the same snapshot
    * ([[snapshotCovered]]); the survivor is rebuilt from its remaining
    * tokens in order. Docs shorter than `l` tokens carry no window and
    * pass through verbatim.
    *
    * Output per NEW doc: doc_id, n_tokens, n_tokens_removed, clean_md5
    * (md5 of the kept tokens space-joined; md5("") when everything was
    * removed — the q377 narrow contract).
    *
    * Scale: the store build is one fingerprint-keyed DISTINCT over the
    * old inventory (~old-tokens rows; in production this is the
    * PERSISTED store, not a rebuild — the streaming twin reads it as
    * parquet); the snapshot side is one semi-join + one snapshot-local
    * fingerprint aggregate + a covered-position explode linear in the
    * duplicated mass (the q377 envelope) + one doc-keyed rebuild.
    * Fingerprint TYPES are constant across replicas (the store DISTINCT
    * and the per-fp aggregate never grow); the covered explode tracks the
    * duplicated mass. */
  def snapshotSubstrDedup(newDocs: DataFrame, oldDocs: DataFrame,
                          idCol: String, textCol: String)
  : DataFrame = {
    val store = windowFpInventory(oldDocs, idCol, textCol)
      .select(col("fp")).distinct()
    val inv = CacheScope.persist(windowFpInventory(newDocs, idCol, textCol))
    rebuildUncovered(newDocs, idCol, textCol, snapshotCovered(inv, store))(
      kept => md5(kept).as("clean_md5"))
  }

  /** Per doc_id of `docs`: n_tokens, n_tokens_removed (the 1-based
    * positions listed in `covered` (doc_id, pos)) and `clean` of the kept
    * tokens re-joined in order — the rebuild [[snapshotSubstrDedup]] and
    * its streaming twin [[graft.streaming.CrossSnapshotSubstrDedup]]
    * share. */
  private[graft] def rebuildUncovered(docs: DataFrame, idCol: String, textCol: String,
                                      covered: DataFrame)(clean: Column => Column): DataFrame = {
    val hits = covered.withColumn("__hit", lit(1L))
    docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(coalesce(col(textCol), lit("")), " "))
          .as(Seq("__p0", "tok")))
      .select(col("doc_id"), (col("__p0") + 1).cast("long").as("pos"),
        col("tok"))
      .join(hits, Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__hit").isNull, 0L).otherwise(1L))
          .as("n_tokens_removed"),
        clean(array_join(transform(
          array_sort(collect_list(when(col("__hit").isNull,
            struct(col("pos"), col("tok"))))),
          t => t.getField("tok")), " ")))
  }

  /** Per-document memorization-RISK drill-down (Carlini et al. 2021 /
    * 2023 — public papers): [[extractableMemorizationFrom]] reports the
    * corpus-level census; the actionable artifact is per-doc — for each
    * document, the fraction of its `k`-token windows (those carrying a
    * continuation) that are REPEATED-AND-DETERMINISTIC corpus-wide, i.e.
    * the windows a k-token prompt would extract verbatim because every
    * corpus occurrence continues identically. These are exactly the
    * documents a dedup pass should kill first: a doc whose windows are
    * mostly repeated-deterministic is a duplicated passage carrier.
    *
    * Mechanics: the q389 window inventory WITH doc_id retained — per
    * window (doc_id, fp, next token), one fingerprint-keyed aggregate
    * (occ, distinct continuations) joined back to the (doc, window)
    * rows on the FINGERPRINT, then one doc-keyed roll-up. Windows at
    * document end carry no continuation and are excluded on both
    * engines (the q389 contract); documents with no k+1-token window
    * carry no row.
    *
    * Output per doc: doc_id, n_windows, n_risky (occ ≥ 2 AND exactly
    * one continuation), risk_frac (half-up 6-dp n_risky/n_windows).
    *
    * Scale: the inventory is ~tokens rows (the q300 envelope); the
    * aggregate and the join are fingerprint-keyed, the roll-up
    * doc-keyed — NO pair join, strictly cheaper than q300 and one
    * fp-keyed join over q389's cost. Replica corpora multiply each
    * fingerprint's occ, not the fingerprint TYPES, so the aggregate side
    * stays constant and only the doc-keyed join side grows.
    *
    * `pw` is a [[memWindowInventory]] frame (the shared-cache form;
    * SharedFormsSpec compares it against a fresh build). */
  def memorizationRiskFrom(pw: DataFrame): DataFrame = {
    val byPrefix = pw.groupBy(col("fp"))
      .agg(count(lit(1)).as("occ"), countDistinct(col("nxt")).as("ncont"))
    pw.join(byPrefix, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("occ") >= 2L && col("ncont") === 1L, 1L).otherwise(0L))
          .as("n_risky"))
      .select(col("doc_id"), col("n_windows"), col("n_risky"),
        (expr("CAST((CAST(2 AS DECIMAL(38,0)) * n_risky * 1000000" +
            " + n_windows) DIV (2 * n_windows) AS BIGINT)")
          .cast("double") / lit(1e6)).as("risk_frac"))
  }

  /** Per-SOURCE memorization-risk census over the prompt-length grid —
    * the curation table [[memorizationRiskFrom]]'s per-doc drill-down rolls
    * up to (Carlini et al. 2023 report discoverable extraction as a
    * function of prompt length k; a curation run acts per SOURCE): for
    * each k and source, the pooled repeated-and-deterministic window
    * fraction and how many documents are HIGH-RISK — majority of their
    * windows risky, decided by the EXACT integer rule
    * n_risky·highDen ≥ n_windows·highNum (no rounding anywhere, so the
    * engines cannot disagree at the boundary).
    *
    * Output per (k, source): n_docs (scored docs — those with ≥ 1
    * k+1-token window), n_windows, n_risky, risk_frac (pooled half-up
    * 6-dp n_risky/n_windows), n_high_risk.
    *
    * Scale: the q393 chain per k (fingerprint-keyed aggregate + join,
    * NO pair join) + one id-keyed source join + a source-keyed roll-up
    * — |ks| passes over the window inventory, the q389 envelope. The
    * fingerprint-keyed aggregate is type-bounded on replica corpora;
    * only the join sides grow.
    *
    * `ks` pairs each k with its [[memWindowInventory]] frame (the
    * [[extractableMemorizationFrom]] label contract) and `src` is a
    * (doc_id, source) map — the shared-cache form (SharedFormsSpec
    * compares it against fresh inventories). */
  def memorizationRiskBySourceFrom(ks: Seq[(Int, DataFrame)],
                                   src: DataFrame): DataFrame = {
    val highNum = 1
    val highDen = 2
    require(ks.nonEmpty && ks.forall(_._1 >= 1), "need window lengths >= 1")
    val perK = ks.map { case (k, pw) =>
      val byPrefix = pw.groupBy(col("fp"))
        .agg(count(lit(1)).as("occ"), countDistinct(col("nxt")).as("ncont"))
      val perDoc = pw.join(byPrefix, Seq("fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nw"),
          sum(when(col("occ") >= 2L && col("ncont") === 1L, 1L)
            .otherwise(0L)).as("nr"))
      perDoc.join(src, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_windows"),
          sum(col("nr")).as("n_risky"),
          sum(when(col("nr") * highDen >= col("nw") * highNum, 1L)
            .otherwise(0L)).as("n_high_risk"))
        .select(lit(k.toLong).as("k"), col("source"), col("n_docs"),
          col("n_windows"), col("n_risky"),
          (expr("CAST((CAST(2 AS DECIMAL(38,0)) * n_risky * 1000000" +
              " + n_windows) DIV (2 * n_windows) AS BIGINT)")
            .cast("double") / lit(1e6)).as("risk_frac"),
          col("n_high_risk"))
    }
    perK.reduce(_.unionByName(_))
  }

  /** Duplicate-cluster size census — the corpus-card table behind every
    * near-dup stage: how much of the corpus sits in duplicate clusters,
    * and how big they run (FineWeb/Dolma report exactly this histogram;
    * cluster-size skew also drives the q91/q121 retention cost model).
    * Components of the near-dup pair graph ([[connectedComponents]] over
    * the session-shared MinHash pairs) grouped by size; documents in no
    * pair appear as the cluster_size = 1 row (components are always
    * ≥ 2 docs, so the row never collides). Output: cluster_size,
    * n_clusters, n_docs — Σ n_docs = |corpus| by construction (the
    * spec's conservation pin).
    *
    * Scale: the pair graph is the priced shared artifact; the census
    * adds two keyed aggregates on the cluster map and one anti-join for
    * the singleton row — nothing touches text. */
  def dupClusterCensus(docs: DataFrame, idCol: String,
                       pairs: DataFrame): DataFrame = {
    val cl = connectedComponents(pairs)
    val hist = cl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val sing = docs.select(col(idCol).cast("long").as("doc_id"))
      .join(cl.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
    hist.unionByName(sing)
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
  }

  /** Dedup × quality INTERACTION census — the FineWeb-ablation question
    * "does deduplication remove low-quality documents first?" as one
    * table: for every [[dedupPipeline]] worklist stage (exact /
    * near_dup / semantic removals and the retained survivors), how many
    * documents pass vs fail the complete Gopher gate
    * ([[gopherFullGateFrom]]'s conjunction — repetition AND quality), and
    * each stage's gate-pass rate. If dedup removals fail the gate at a
    * higher rate than the retained set, dedup is doing quality work for
    * free (the FineWeb finding); if not, the two gates are independent
    * and BOTH are needed. `worklist` is the one-row-per-document
    * [[dedupPipeline]] output (injectable — the q381 scored-frame
    * contract), so the census rides the session-shared worklist build.
    *
    * Output: (stage_order, stage, gate_pass ∈ {0,1}, n_docs,
    * stage_frac — half-up 6-dp share of the stage). Both censuses are
    * doc-keyed scans (the q385 price); the join is id-keyed; the
    * roll-up is ≤ 8 rows. `micro` is the [[gopherMicro]] census and
    * `quality` the [[gopherQualityRules]] frame. */
  def dedupQualityInteractionFrom(micro: DataFrame, quality: DataFrame,
                                  worklist: DataFrame): DataFrame = {
    val rep = micro.select(col("doc_id"), col("pass").as("__rp"))
    val qual = quality.select(col("doc_id"), col("pass").as("__qp"))
    val cells = worklist
      .select(col("doc_id").cast("long").as("doc_id"), col("stage"))
      .join(rep, Seq("doc_id")).join(qual, Seq("doc_id"))
      .groupBy(col("stage"), (col("__rp") * col("__qp")).as("gate_pass"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("stage"))
      .agg(sum(col("n_docs")).as("__tot"))
    cells.join(totals, Seq("stage"))
      .select(
        when(col("stage") === "exact", 1L)
          .when(col("stage") === "near_dup", 2L)
          .when(col("stage") === "semantic", 3L)
          .otherwise(4L).as("stage_order"),
        col("stage"), col("gate_pass"), col("n_docs"),
        (expr("CAST((CAST(2 AS DECIMAL(38,0)) * n_docs * 1000000 + __tot)" +
            " DIV (2 * __tot) AS BIGINT)")
          .cast("double") / lit(1e6)).as("stage_frac"))
  }

  /** The [[dedupPipeline]] funnel: per-stage docs_in / docs_removed /
    * docs_out in stage order — the attrition report a curation run logs.
    * One 1-row aggregate over the worklist, stacked to three rows. */
  def dedupFunnel(worklist: DataFrame): DataFrame =
    worklist.agg(
        count(lit(1)).as("__total"),
        coalesce(sum(when(col("stage") === "exact", 1L)), lit(0L)).as("__r1"),
        coalesce(sum(when(col("stage") === "near_dup", 1L)), lit(0L)).as("__r2"),
        coalesce(sum(when(col("stage") === "semantic", 1L)), lit(0L)).as("__r3"))
      .select(expr(
        """stack(3,
          |  CAST(1 AS BIGINT), 'exact',    __total,               __r1,
          |  CAST(2 AS BIGINT), 'near_dup', __total - __r1,        __r2,
          |  CAST(3 AS BIGINT), 'semantic', __total - __r1 - __r2, __r3)
          |AS (stage_order, stage, docs_in, docs_removed)""".stripMargin))
      .withColumn("docs_out", col("docs_in") - col("docs_removed"))
}
