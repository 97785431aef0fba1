package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text preparation operators for LLM training pipelines: normalization,
  * redaction, chunking, and term statistics. All are narrow per-row
  * projections or single-shuffle aggregations — embarrassingly parallel at
  * 100 TB — and every regex sticks to a syntax subset that behaves
  * identically in Java regex and RE2, so a SQL oracle can mirror them. */
object TextPrep {

  /** Canonical text normalization: lowercase, collapse whitespace runs, trim. */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "[ \\t\\r\\n]+", " "))

  /** Redact email-ish and long-digit-run tokens (the two highest-volume PII
    * shapes in web corpora). */
  def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
      "[0-9]{6,}", "<NUM>")

  /** Fixed-size token chunks with overlap (stride < size): the standard LLM
    * context-window preprocessing. One output row per chunk, `chunk_id`
    * 0-based; the final chunk may be short; a trailing window that would
    * start past the end is not emitted. Narrow explode — no shuffle. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            size: Int, stride: Int): DataFrame = {
    require(stride > 0 && stride <= size, "need 0 < stride <= size")
    df.select(col(idCol),
        split(col(textCol), " ").as("toks"))
      .select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, CAST(floor((size(toks)-1)/$stride) AS INT)), " +
          s"i -> concat_ws(' ', slice(toks, i*$stride + 1, $size)))"))
          .as(Seq("chunk_id", "chunk")))
      .where(length(col("chunk")) > 0)
      .withColumn("chunk_id", col("chunk_id").cast("bigint"))
  }

  /** Sequence packing: assign each document a slot in a stream of fixed
    * `ctxLen`-token context windows — the step that turns a deduped corpus
    * into training sequences. Documents are concatenated in id order and the
    * stream is cut every `ctxLen` tokens; a document belongs to the window
    * its first token lands in (`seq_id`), at offset `seq_offset`.
    *
    * Scale design: a single global concatenation order would be one
    * unpartitioned window (every row through one task). Packing instead runs
    * independently inside `nBuckets` deterministic shards (`id % nBuckets`) —
    * each shard is its own token stream, so the window is
    * `partitionBy(bucket)` and parallelism grows with the bucket count.
    * Training pipelines shard exactly this way (one packed stream per
    * writer/worker); within-shard the window's sort is the only cost and
    * AQE splits skewed shards. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    ctxLen: Int, nBuckets: Int): DataFrame = {
    require(ctxLen > 0 && nBuckets > 0, "need positive ctxLen and nBuckets")
    val w = Window.partitionBy(col("bucket")).orderBy(col(idCol))
    df.select(col(idCol),
        size(split(col(textCol), " ")).cast("bigint").as("n_tokens"))
      .withColumn("bucket", pmod(col(idCol), lit(nBuckets)).cast("bigint"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col(idCol), col("bucket"),
        expr(s"CAST(start_tok DIV $ctxLen AS BIGINT)").as("seq_id"),
        (col("start_tok") % ctxLen).cast("bigint").as("seq_offset"),
        col("n_tokens"))
  }

  /** Term frequency + document frequency per (doc, token) — the integer core
    * of TF-IDF (the log-weighting step is a trivial projection on top; kept
    * out so results stay exactly integer-comparable across engines). */
  def termDocFreq(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
    val tf = terms.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "token").select(col(idCol), col("token"), col("tf"), col("df"))
  }

  /** Encode the corpus with its own trained BPE or WordPiece vocabulary
    * (`dict`: the final word-type table of [[bpeMergeLoopFrom]] /
    * [[wordpieceMergeLoopFrom]], session-shared as `bpe_dict` /
    * `wordpiece_dict`) and report per-document compression: word count,
    * initial symbol count (chars + one `</w>` per word), encoded symbol
    * count, and the compression ratio — the train→apply round trip that
    * proves the merge table actually tokenizes.
    *
    * Closed-vocab contract: encoding joins each word against the trained
    * word-type dictionary (the corpus trains on itself, so there are no
    * OOV words; an open-vocab encode would fall back to character
    * symbols). Scale: the dictionary is the Heaps-bounded word-type
    * table — ONE word-keyed join + per-doc aggregate on top of training.
    */
  def encodeFromDict(docs: DataFrame, idCol: String, textCol: String,
                     dict: DataFrame): DataFrame = {
    val dictNs = dict.select(col("w"),
      size(split(col("sym"), " ")).cast("long").as("__ns"))
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .join(dictNs, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")) + 1).cast("long").as("n_syms_init"),
        sum(col("__ns")).as("n_syms"))
      .select(col(idCol), col("n_words"), col("n_syms_init"), col("n_syms"),
        (col("n_syms_init").cast("double") / col("n_syms").cast("double"))
          .as("compression"))
  }

  /** Per-source tokenizer COMPRESSION census — the corpus-card table a
    * tokenizer choice is justified with: for each trained family (BPE
    * [[bpeMergeLoopFrom]], WordPiece [[wordpieceMergeLoopFrom]], unigram-LM
    * [[unigramLmTrainStepFrom]]'s Viterbi segmenter) and each source, the
    * word/char/piece masses and the two rates every tokenizer report
    * leads with — fertility (pieces per word) and chars-per-piece (the
    * bytes-per-token proxy; `</w>` is an emitted symbol carrying zero
    * raw chars, so BPE/WordPiece rates include the word-boundary cost
    * exactly as their q334/q358 encoders do).
    *
    * Comparability contract: all three rows roll up the SAME word
    * population — words of 1..maxWordLen chars (the q352
    * modeled-word contract; the unigram DP only segments those) — so
    * the rates differ only by tokenizer, never by coverage. Training
    * itself is unrestricted (each family trains exactly as its q331/
    * q357/q350 form does). Rates are exact half-up 6-dp rationals on
    * BIGINT masses, DECIMAL(38,0)-widened (the q352 wrap guard).
    *
    * Scale: three Heaps-bounded dictionary builds (each priced by its
    * own trainer row) + ONE persisted corpus word scan joined
    * word-keyed three times + |sources|-row aggregates — the q352
    * shape × 3.
    *
    * Inputs: the three trained dictionaries (`bpe_dict` /
    * `wordpiece_dict` / `unigram_dp` — the session-shared forms), so the
    * census pays only its own corpus word scan plus three word-keyed
    * joins; each trainer's floor is priced by its own shared build. */
  def tokenizerCompressionCensusFrom(docs: DataFrame, textCol: String,
                                     srcCol: String, bpeDict: DataFrame,
                                     wpDict: DataFrame, ugDp: DataFrame): DataFrame = {
    val maxWordLen = 16
    val words = CacheScope.persist(
      docs.select(col(srcCol).as("source"),
          explode(split(col(textCol), " ")).as("w"))
        .where(length(col("w")) >= 1 && length(col("w")) <= maxWordLen))
    val bpeD = bpeDict
      .select(col("w"), size(split(col("sym"), " ")).cast("long").as("np"))
    val wpD = wpDict
      .select(col("w"), size(split(col("sym"), " ")).cast("long").as("np"))
    val ugD = ugDp
      .select(col("w"), (size(col("bounds")) - 1).cast("long").as("np"))
    def roll(d: DataFrame, name: String): DataFrame =
      words.join(d, Seq("w"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("w"))).cast("long").as("n_chars"),
          sum(col("np")).as("n_pieces"))
        .select(lit(name).as("tokenizer"), col("source"), col("n_words"),
          col("n_chars"), col("n_pieces"),
          (expr("CAST((CAST(2 AS DECIMAL(38,0)) * n_pieces * 1000000" +
              " + n_words) DIV (2 * n_words) AS BIGINT)")
            .cast("double") / lit(1e6)).as("fertility"),
          (expr("CAST((CAST(2 AS DECIMAL(38,0)) * n_chars * 1000000" +
              " + n_pieces) DIV (2 * n_pieces) AS BIGINT)")
            .cast("double") / lit(1e6)).as("chars_per_piece"))
    roll(bpeD, "bpe")
      .unionByName(roll(wpD, "wordpiece"))
      .unionByName(roll(ugD, "unigram"))
  }

  /** Byte-pair-encoding vocabulary TRAINER (Sennrich et al. 2016): `merges`
    * greedy merge rounds over the corpus word-type table, returning the
    * merge table — (round, pair, merged, pair_count, vocab_size) — the
    * tokenizer-training step upstream of every token-counting operator
    * here.
    *
    * Semantics pinned for cross-engine exactness: words are whitespace
    * tokens, a word's initial symbol string is its characters space-joined
    * plus a trailing `</w>` marker; each round counts adjacent symbol
    * pairs weighted by word frequency, picks argmax with the total
    * (count DESC, pair ASC) order, and rewrites every word by LEFT-TO-RIGHT
    * NON-OVERLAPPING replacement of the pair (both engines' `replace`
    * semantics — so `a a a` merges to `aa a`, never `a aa`; the spec pins
    * this on a fixture). All arithmetic is integer — no libm, no doubles
    * anywhere.
    *
    * Scale design: the ONLY corpus-scale step is the one word-type
    * aggregate (token-keyed, map-side combinable); every merge round runs
    * on the word-TYPE table — Heaps-bounded vocabulary, not corpus rows —
    * as a bigram explode + keyed sum + 1-row argmax broadcast back. Rounds
    * are localCheckpointed (the q326 HITS cadence: 3·merges tiny jobs beat
    * one 3·merges-deep lazy plan). Exact replicas scale every pair count
    * uniformly, so all merge decisions are identical and round cost never
    * leaves the vocabulary table.
    *
    * Input: a word-type seed ([[seedWordTypesPlan]] rows — the
    * session-shared `tok_word_seed` feeds the three trainer families one
    * corpus scan). Returns (merge-table rows, final word-type table with
    * each word's post-merge symbol string — the [[encodeFromDict]]
    * dictionary).
    */
  private[graft] def bpeMergeLoopFrom(seed: DataFrame, merges: Int)
  : (DataFrame, DataFrame) =
    mergeLoop(seed, merges)((_, pairs) =>
      pairs.orderBy(col("pair_count").desc, col("pair").asc))

  /** WordPiece vocabulary TRAINER (Schuster & Nakajima 2012, "Japanese
    * and Korean Voice Search"; the BERT tokenizer — Devlin et al. 2019 —
    * as specified in Wu et al. 2016 §3.1): the third tokenizer family
    * beside [[bpeMergeLoopFrom]] (count-greedy) and [[unigramLmTrainStepFrom]]
    * (prune-from-large). Same greedy merge loop as BPE over the same
    * word-type table, but each round merges the adjacent pair with the
    * highest LIKELIHOOD-RATIO score
    *
    *   score(a, b) = count(ab) / (count(a) · count(b))
    *
    * — the merge that most increases the corpus likelihood under a
    * unigram symbol model, so rare-but-collocated symbol pairs win over
    * merely frequent ones (the defining WordPiece/BERT property).
    *
    * Determinism: count(ab), count(a), count(b) are exact BIGINTs from
    * freq-weighted aggregates; the score is ONE IEEE division of two
    * exactly-representable integers (count(a)·count(b) computed in
    * BIGINT, exact in a double below 2^53) — deterministic on any IEEE
    * engine, no libm anywhere. Argmax order is (score DESC, pair_count
    * DESC, pair ASC) — the two-level tie-break the spec pins: equal
    * scores fall to the more frequent pair, then lexicographic.
    * Envelope: count(a)·count(b) must stay < 2^53 for the double to be
    * exact (~9.4e7 occurrences per symbol side at the boundary); beyond
    * that compare cross-products in DECIMAL(38,0) on both engines.
    *
    * Scale design identical to [[bpeMergeLoopFrom]]: one corpus-scale word-type
    * aggregate, then Heaps-bounded rounds (pair explode + TWO keyed
    * sums — pairs and symbol counts — + 1-row argmax), rounds
    * localCheckpointed. Input and return contract as [[bpeMergeLoopFrom]];
    * the merge table adds the score column:
    * (round, pair, merged, pair_count, score, vocab_size). */
  private[graft] def wordpieceMergeLoopFrom(seed: DataFrame, merges: Int)
  : (DataFrame, DataFrame) =
    mergeLoop(seed, merges) { (wt, pairs) =>
      // freq-weighted unigram symbol counts of the CURRENT segmentation —
      // the denominator model the likelihood ratio scores against
      val syms = wt
        .select(col("freq"), explode(split(col("sym"), " ")).as("s"))
        .groupBy(col("s")).agg(sum(col("freq")).as("cnt"))
      pairs
        .withColumn("__sa", expr("split(pair, ' ')[0]"))
        .withColumn("__sb", expr("split(pair, ' ')[1]"))
        .join(syms.select(col("s").as("__sa"), col("cnt").as("__ca")), "__sa")
        .join(syms.select(col("s").as("__sb"), col("cnt").as("__cb")), "__sb")
        // BIGINT product (exact), exact double below 2^53, ONE IEEE
        // division — deterministic on both engines, no libm
        .select(col("pair"), col("pair_count"),
          expr("CAST(pair_count AS DOUBLE) / CAST(__ca * __cb AS DOUBLE)")
            .as("score"))
        .orderBy(col("score").desc, col("pair_count").desc, col("pair").asc)
    }

  /** The greedy loop both merge trainers run. Each round counts the
    * freq-weighted adjacent symbol pairs of the current word types as
    * (pair, pair_count); `argmax(wt, pairs)` orders them by the trainer's
    * rule, and its first row is merged. The merge table is (round, pair,
    * merged, the argmax row's other columns, vocab_size). */
  private def mergeLoop(seed: DataFrame, merges: Int)(
      argmax: (DataFrame, DataFrame) => DataFrame): (DataFrame, DataFrame) = {
    require(merges >= 1, "need at least one merge round")
    var wt = seed
    val rows = Seq.newBuilder[DataFrame]
    var best: DataFrame = null
    var k = 1
    var exhausted = false
    while (k <= merges && !exhausted) {
      val s = split(col("sym"), " ")
      // zip_with over the two shifted slices is total: a fully-merged
      // 1-symbol word yields empty slices -> no pairs (sequence(1, 0)
      // would DESCEND; slices can't)
      val pairs = wt.select(col("freq"),
          explode(zip_with(
            slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
            (a, b) => concat(a, lit(" "), b))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))
      best = argmax(wt, pairs).limit(1).localCheckpoint()
      // a corpus can fully merge before `merges` rounds: an empty best
      // must STOP the loop, not cross-join the word table to nothing
      if (best.isEmpty) exhausted = true
      else {
        wt = mergeRewritten(wt, best)
        rows += mergeRow(best, wt, k)
        k += 1
      }
    }
    // zero completed rounds (empty corpus / all-empty texts): the empty
    // argmax row gives an explicitly-schema'd empty merge table instead of
    // letting reduce() throw on the empty builder — the early-stop contract
    // the greedy siblings (maxCoverageSelect / kcenterCoreset) already honor
    val merged = rows.result() match {
      case Seq() => mergeRow(best, wt, 0)
      case rs => rs.reduce(_ unionByName _)
    }
    (merged, wt)
  }

  private def mergeRow(best: DataFrame, wt: DataFrame, round: Int): DataFrame =
    best.crossJoin(vocabSize(wt)).select(
      Seq(lit(round.toLong).as("round"), col("pair"),
        expr("replace(pair, ' ', '')").as("merged")) ++
        best.columns.filter(_ != "pair").map(col) :+ col("vocab_size"): _*)

  /** Corpus word-TYPE seed shared by both merge loops: (w, freq, sym)
    * with sym the space-joined characters + `</w>` marker. Chars via
    * substr (split-on-empty-regex trails an empty string on some
    * engines; substr is unambiguous). The PLAN form — the session-shared
    * `tok_word_seed` builder persists it. */
  private[graft] def seedWordTypesPlan(docs: DataFrame, textCol: String)
  : DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        concat(array_join(transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))), " "), lit(" </w>")).as("sym"))

  /** The ONE boundary-safe pair rewrite, shared by both merge loops:
    * each symbol is matched with BOTH its delimiters by doubling the
    * inter-symbol spaces, so the pair can never match a symbol's
    * suffix/prefix ("b d</w>" inside "ab d</w>") and adjacent
    * occurrences still merge left-to-right non-overlapping, the
    * canonical order ("a a a a" -> "aa aa"). */
  private def mergeRewritten(wt: DataFrame, best: DataFrame): DataFrame =
    wt.crossJoin(broadcast(best.select(col("pair").as("__p"))))
      .select(col("w"), col("freq"),
        expr("trim(replace(replace(" +
          "concat(' ', replace(sym, ' ', '  '), ' '), " +
          "concat(' ', replace(__p, ' ', '  '), ' '), " +
          "concat(' ', replace(__p, ' ', ''), ' ')), '  ', ' '))")
          .as("sym"))
      .localCheckpoint()

  private def vocabSize(wt: DataFrame): DataFrame =
    wt.select(explode(split(col("sym"), " ")).as("s"))
      .agg(countDistinct(col("s")).as("vocab_size"))

  /** Unigram-LM (SentencePiece) tokenizer training step — one hard-EM
    * iteration over a seeded subword vocabulary with Viterbi segmentation
    * (Kudo 2018, "Subword Regularization", public paper; Kudo's full EM
    * uses forward–backward expected counts — the Viterbi/hard-EM variant
    * here assigns each word type its single best segmentation, the
    * standard deterministic approximation). The missing half of the
    * tokenizer shelf beside [[bpeMergeLoopFrom]]: BPE grows a vocabulary by
    * merging, unigram-LM starts from a large seed vocabulary and
    * re-estimates piece probabilities (pruning then iterates — one
    * iteration is the oracled unit here).
    *
    * Semantics, pinned for cross-engine exactness:
    *  1. SEED: every substring of every word type with length
    *     1..`maxPieceLen` is a piece; seed count = Σ_word freq(word) ×
    *     (occurrences of the substring position in the word); seed
    *     log-prob = micro-nat-quantized ln(count/total) — a BIGINT per
    *     piece TYPE.
    *  2. E-STEP (Viterbi): each word type's best segmentation maximizes
    *     the sum of piece log-probs — an EXACT INTEGER DP over micro-nat
    *     scores (best[i] = max over pieces ending at i of best[start] +
    *     lp), so ties are exact and broken deterministically toward the
    *     SMALLEST start (the longest final piece) during backtrace.
    *     Single-character pieces are always in the vocabulary, so every
    *     position is reachable.
    *  3. M-STEP: piece count = Σ_word freq(word) × (uses in the word's
    *     Viterbi path); updated log-prob = micro-nat ln(count/total′)
    *     over pieces actually used.
    *
    * Words longer than `maxWordLen` chars are excluded (bounds the DP;
    * production SentencePiece bounds sentence length the same way).
    *
    * Scale design: the corpus is touched ONCE (the word-type aggregate —
    * token-keyed, map-side combinable); everything after runs on the
    * Heaps-bounded word-TYPE table: the piece inventory is |types| ×
    * len × maxPieceLen rows, the DP is a per-word-type fold over arrays
    * of ≤ maxWordLen × maxPieceLen candidate structs (no joins, no
    * shuffles inside the DP), and the two model tables are
    * vocabulary-bounded. The DP arithmetic is all-BIGINT — no doubles
    * until the final display division, so Spark and the DuckDB oracle
    * (which replays the DP as unrolled per-position CTE levels) agree
    * bit-for-bit.
    *
    * Output: (piece, em_count, lp0, lp1) for every piece with em_count >
    * 0 — piece, its Viterbi usage count, seed and re-estimated log-probs
    * (nats, 6 dp).
    *
    * Input: the [[unigramDpFrom]] Viterbi DP frame (the session-shared
    * `unigram_dp`): the piece inventory AND the seed log-prob table are
    * both recovered from the DP's own candidate structs (every piece's
    * seed lp rides every (word, position) candidate — min per piece TYPE
    * is exact recovery, all copies equal), so ONE shared frame serves the
    * whole unigram shelf. */
  def unigramLmTrainStepFrom(dp0: DataFrame): DataFrame = {
    val dp = CacheScope.persist(dp0)
    val em = dp.select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("em_count"))
    val t1 = em.agg(sum(col("em_count")).as("t1"))
    em.crossJoin(broadcast(t1)).join(lp0FromDp(dp), Seq("piece"))
      .select(col("piece"), col("em_count"),
        (col("lp0_mu").cast("double") / lit(1e6)).as("lp0"),
        (expr("CAST(round(ln(CAST(em_count AS DOUBLE) / CAST(t1 AS DOUBLE)) * 1e6) AS BIGINT)")
          .cast("double") / lit(1e6)).as("lp1"))
  }

  /** Per-source segmentation FERTILITY under the unigram-LM seed model —
    * the train→apply round trip for [[unigramLmTrainStepFrom]], exactly
    * as [[encodeFromDict]] is to [[bpeMergeLoopFrom]]: segment every word
    * type with the Viterbi DP (same model, same min-start tie-break), then charge each
    * source its occurrence-weighted piece count. Fertility
    * (pieces/word) is THE tokenizer-quality number a corpus report
    * tracks per language/source (high fertility = the vocabulary fits
    * that source badly).
    *
    * Scale: the DP runs ONCE per word TYPE (Heaps-bounded); the apply
    * side is one word-keyed join from the exploded corpus onto the
    * |types|-row piece-count table plus a per-source aggregate — the
    * encodeFromDict shape. Words over `maxWordLen` are excluded from both
    * the model and the count (mirrored in the oracle).
    *
    * Output: (source, n_words, n_pieces, fertility) with fertility the
    * house exact-integer half-up 6-dp rational. `dp` is the
    * [[unigramDpFrom]] frame (session-shared as `unigram_dp`). */
  def unigramLmFertilityFrom(dp: DataFrame, docs: DataFrame,
                             textCol: String, srcCol: String,
                             maxWordLen: Int): DataFrame = {
    val perWord = dp.select(col("w"),
      (size(col("bounds")) - 1).cast("long").as("np"))
    docs.select(col(srcCol).as("source"),
        explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
      .join(perWord, Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
      .select(col("source"), col("n_words"), col("n_pieces"),
        // DECIMAL(38,0) product: 2·n_pieces·1e6 wraps BIGINT past
        // ~4.6e12 pieces per source (oracle's sum() is already HUGEINT)
        (expr("CAST((CAST(2 AS DECIMAL(38,0)) * n_pieces * 1000000 + n_words)" +
            " DIV (2 * n_words) AS BIGINT)")
          .cast("double") / lit(1e6)).as("fertility"))
  }

  /** Unigram-LM vocabulary PRUNING step (Kudo 2018 §3: after each EM
    * round, SentencePiece drops the lowest-contribution pieces and
    * re-estimates — usage count is the deterministic contribution proxy
    * here): keep the top `keepNum/keepDen` fraction of MULTI-character
    * pieces by EM usage count (single-character pieces are always kept —
    * they guarantee every word stays segmentable), re-normalize the
    * model over the kept set with an add-one floor (zero-usage single
    * chars stay finite), re-run the Viterbi segmentation under the
    * pruned model, and report the vocabulary/fertility deltas.
    *
    * The cut is the house integer order statistic over the (usage-count)
    * VALUE GRID — cut = min count with cum·den ≥ n·(den−num), kept ⇔
    * count > cut, ties dropped (the q343/q348 tie-to-lower rule). The
    * grid window runs over DISTINCT usage counts (Zipf-bounded — the
    * q107 histogram-table argument), never over pieces.
    *
    * Output (one row): seed_vocab (all seed pieces), active_vocab
    * (pieces the EM step used), kept_vocab (post-prune), n_words
    * (corpus occurrences of modeled words), pieces_before/pieces_after
    * (occurrence-weighted Viterbi piece totals under seed vs pruned
    * model), fertility_before/fertility_after (house exact half-up
    * 6 dp). Scale: two TYPE-table Viterbi passes + three 1-row
    * aggregates — nothing new touches the corpus. `dp0` is the
    * [[unigramDpFrom]] frame (session-shared as `unigram_dp`); the
    * piece-position inventory is recovered from its candidate structs
    * ([[invFromDp]]). */
  def unigramLmPruneFrom(dp0: DataFrame, keepNum: Int, keepDen: Int)
  : DataFrame = {
    require(keepNum > 0 && keepDen > keepNum, "need 0 < keepNum < keepDen")
    // the seed DP feeds BOTH the em aggregate and the `before` piece
    // counts — persisted so the dominant fold runs once, not twice
    val dp = CacheScope.persist(dp0)
    val inv = CacheScope.persist(invFromDp(dp))
    val em = CacheScope.persist(
      dp.select(col("freq"), explode(col("pieces")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("em")))
    val multi = em.where(length(col("piece")) > 1)
    val vals = multi.groupBy(col("em")).agg(count(lit(1)).as("__c"))
    val cumW = Window.orderBy(col("em"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cut = vals.withColumn("__cum", sum(col("__c")).over(cumW))
      .crossJoin(broadcast(vals.agg(sum(col("__c")).as("__n"))))
      .agg(min(when(col("__cum") * keepDen >= col("__n") * (keepDen - keepNum),
        col("em"))).as("__cut"))
    val keptMulti = multi.crossJoin(broadcast(cut))
      .where(col("em") > col("__cut")).select(col("piece"), col("em"))
    val singles = inv.where(length(col("piece")) === 1)
      .select(col("piece")).distinct()
      .join(em, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("em"), lit(0L)).as("em"))
    val kept = CacheScope.persist(singles.unionByName(keptMulti))
    val sizes = kept.agg(sum(col("em")).as("t2"), count(lit(1)).as("k"))
    val lp2 = kept.crossJoin(broadcast(sizes))
      .select(col("piece"), expr(
        "CAST(round(ln(CAST(em + 1 AS DOUBLE) / CAST(t2 + k AS DOUBLE)) * 1e6) AS BIGINT)")
        .as("lp"))
    val dp2 = viterbiFold(inv.join(lp2, Seq("piece"))
      .groupBy(col("w"), col("freq"))
      .agg(collect_list(struct(col("s"), col("e"), col("lp"))).as("cands")))
    val before = dp.select(col("w"), col("freq"),
      (size(col("bounds")) - 1).cast("long").as("np1"))
    val after = dp2.select(col("w"),
      (size(col("bounds")) - 1).cast("long").as("np2"))
    before.join(after, Seq("w"))
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("np1")).as("pieces_before"),
        sum(col("freq") * col("np2")).as("pieces_after"))
      .crossJoin(broadcast(
        inv.agg(countDistinct(col("piece")).as("seed_vocab"))))
      .crossJoin(broadcast(em.agg(count(lit(1)).as("active_vocab"))))
      .crossJoin(broadcast(kept.agg(count(lit(1)).as("kept_vocab"))))
      .select(col("seed_vocab"), col("active_vocab"), col("kept_vocab"),
        col("n_words"), col("pieces_before"), col("pieces_after"),
        // DECIMAL(38,0): same >~4.6e12-piece BIGINT-wrap guard as
        // unigramLmFertilityFrom (q353's oracle widens with CAST(2 AS
        // HUGEINT) — its agg CTE pre-casts the piece sums to BIGINT)
        (expr("CAST((CAST(2 AS DECIMAL(38,0)) * pieces_before * 1000000 + n_words)" +
            " DIV (2 * n_words) AS BIGINT)")
          .cast("double") / lit(1e6)).as("fertility_before"),
        (expr("CAST((CAST(2 AS DECIMAL(38,0)) * pieces_after * 1000000 + n_words)" +
            " DIV (2 * n_words) AS BIGINT)")
          .cast("double") / lit(1e6)).as("fertility_after"))
  }

  /** Shared seed-model + Viterbi chain for [[unigramLmTrainStepFrom]] /
    * [[unigramLmFertilityFrom]] / [[unigramLmPruneFrom]]: one row per
    * word type with its DP `best` array, backtrace `bounds`, decoded
    * `pieces`, and the candidate structs `cands` (s, e, lp) the seed
    * model and piece inventory are recoverable from ([[lp0FromDp]] /
    * [[invFromDp]]) — the ONE frame the session shares as `unigram_dp`.
    * Input: a (w, freq) word-type table of non-empty words of at most
    * `maxWordLen` chars (the `tok_word_seed` scan, maxWordLen-filtered,
    * so all three trainer families share one corpus scan). */
  private[graft] def unigramDpFrom(words: DataFrame, maxPieceLen: Int,
                                   maxWordLen: Int): DataFrame = {
    require(maxPieceLen >= 1 && maxWordLen >= maxPieceLen,
      "need maxPieceLen >= 1 and maxWordLen >= maxPieceLen")
    val inv = words.select(col("w"), col("freq"),
        explode(expr(
          s"""flatten(transform(sequence(0, length(w) - 1),
             |  s -> transform(sequence(1, least($maxPieceLen, length(w) - s)),
             |    l -> named_struct('s', s, 'e', s + l,
             |      'piece', substr(w, s + 1, l)))))""".stripMargin)).as("c"))
      .select(col("w"), col("freq"), col("c.s").as("s"), col("c.e").as("e"),
        col("c.piece").as("piece"))
    val seed = inv.groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val t0 = seed.agg(sum(col("cnt")).as("t0"))
    val lp0 = CacheScope.persist(seed.crossJoin(broadcast(t0))
      .select(col("piece"), expr(
        "CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t0 AS DOUBLE)) * 1e6) AS BIGINT)")
        .as("lp0_mu")))
    val cands = inv.join(lp0, Seq("piece"))
      .groupBy(col("w"), col("freq"))
      .agg(collect_list(struct(col("s"), col("e"),
        col("lp0_mu").as("lp"))).as("cands"))
    viterbiFold(cands)
  }

  /** Per-word piece-position inventory (w, freq, s, e, piece) recovered
    * from a DP frame's candidate structs — exactly the rows the seed
    * inventory held (the cands join against the seed model is lossless:
    * the model covers every seed piece). */
  private def invFromDp(dp: DataFrame): DataFrame =
    dp.select(col("w"), col("freq"), explode(col("cands")).as("c"))
      .select(col("w"), col("freq"), col("c.s").as("s"), col("c.e").as("e"),
        col("w").substr(col("c.s") + 1, col("c.e") - col("c.s")).as("piece"))

  /** Seed log-prob table (piece, lp0_mu) recovered from a DP frame: each
    * candidate struct carries its piece's seed lp, all copies equal —
    * min per piece TYPE is exact recovery. */
  private def lp0FromDp(dp: DataFrame): DataFrame =
    dp.select(explode(col("cands")).as("c"), col("w"))
      .select(col("w").substr(col("c.s") + 1, col("c.e") - col("c.s"))
        .as("piece"), col("c.lp").as("lp"))
      .groupBy(col("piece")).agg(min(col("lp")).as("lp0_mu"))

  /** The Viterbi DP + backtrace over a (w, freq, cands) frame — pure
    * integer folds over the word's own candidate array (c.s/c.e are
    * 0-based positions; Spark's [] array access is 0-based, element_at
    * is 1-based with -1 = last). bounds descends len -> ... -> 0; pieces
    * re-derive from the boundary pairs by substr, so the fold carries
    * only ints. Shared by the seed pass and [[unigramLmPruneFrom]]'s second
    * pass over the restricted vocabulary. */
  private def viterbiFold(cands: DataFrame): DataFrame =
    cands
      .withColumn("best", expr(
        """aggregate(sequence(1, length(w)), array(CAST(0 AS BIGINT)),
          |  (acc, i) -> concat(acc, array(
          |    array_max(transform(filter(cands, c -> c.e = i),
          |      c -> acc[c.s] + c.lp)))))""".stripMargin))
      .withColumn("bounds", expr(
        """aggregate(sequence(1, length(w)), array(length(w)),
          |  (acc, x) -> IF(element_at(acc, -1) = 0, acc,
          |    concat(acc, array(
          |      array_min(transform(
          |        filter(cands, c -> c.e = element_at(acc, -1)
          |          AND best[c.s] + c.lp = best[element_at(acc, -1)]),
          |        c -> c.s))))))""".stripMargin))
      .withColumn("pieces", expr(
        """transform(sequence(1, size(bounds) - 1),
          |  j -> substr(w, element_at(bounds, j + 1) + 1,
          |    element_at(bounds, j) - element_at(bounds, j + 1)))"""
          .stripMargin))

  /** The PII detector battery for [[piiCensus]]: (type, pattern) pairs.
    * Patterns deliberately use only the Java-regex ∩ RE2 common subset
    * (character classes, bounded/unbounded repetition, groups, literal
    * escapes — no backrefs, no lookaround), so Spark's `regexp_count`
    * and DuckDB's `len(regexp_extract_all(...))` count the IDENTICAL
    * non-overlapping leftmost matches. Shared verbatim by the q338
    * oracle generator — one constant, two engines. */
  val piiDetectors: Seq[(String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"),
    ("digit_run", "[0-9]{8,}"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}"),
    ("hex_secret", "[0-9a-f]{32,}"),
    ("url", "https?://[^ ]+"))

  /** Per-(source, detector) PII prevalence census — the compliance audit
    * a pipeline runs BEFORE training (and before q53's redaction decides
    * what to scrub): for every source and every detector in
    * [[piiDetectors]], how many documents hit, how many total matches,
    * and the hit rate. A census reports; the redactor acts.
    *
    * Output: (source, pii_type, docs, docs_hit, matches, hit_rate) with
    * every (source, type) cell present (zero-hit cells included — an
    * auditor needs the explicit zero). hit_rate goes through the house
    * exact integer half-up form ((2a+b) div 2b of the micro rate, then
    * /1e6) so both engines produce the identical double.
    *
    * Scale: ONE narrow scan computes all detector counts per row
    * (codegen regexp_count, no explode of matches), the stack to long
    * form multiplies rows by the constant detector count, and the only
    * shuffle is the (source, type)-keyed aggregate — |sources|×|types|
    * result rows. Nothing is per-match. */
  def piiCensus(docs: DataFrame, textCol: String,
                srcCol: String): DataFrame = {
    val counts = docs.select(
      col(srcCol).as("source") +:
        piiDetectors.map { case (n, p) =>
          regexp_count(col(textCol), lit(p)).cast("bigint").as(n)
        }: _*)
    val stacked = piiDetectors.map(d => s"'${d._1}', ${d._1}")
      .mkString(s"stack(${piiDetectors.size}, ", ", ", ") AS (pii_type, m)")
    counts.select(col("source"), expr(stacked))
      .groupBy(col("source"), col("pii_type"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("m") > 0L, 1L).otherwise(0L)).as("docs_hit"),
        sum(col("m")).as("matches"))
      .withColumn("hit_rate",
        // same wrap guard: 2·docs_hit·1e6 exceeds 2^63 past ~4.6e12 docs
        expr("CAST(CAST((CAST(2 AS DECIMAL(38,0)) * docs_hit * 1000000 + docs)" +
            " div (2 * docs) AS BIGINT) AS DOUBLE)")
          / lit(1e6))
  }

  /** SentencePiece-style character-coverage alphabet selection (Kudo &
    * Richardson 2018 §4.1, `--character_coverage` — public paper/tool):
    * the stage that runs BEFORE every tokenizer trainer on this shelf
    * (BPE q331, WordPiece q357, unigram-LM q350). Characters are ranked
    * by corpus frequency and the KEPT alphabet is the minimal prefix of
    * that ranking covering >= covNum/covDen = 99/100 of all character occurrences;
    * everything outside it is the byte-fallback/UNK tail. Output is the
    * per-source audit a corpus card reports: total char occurrences,
    * occurrences outside the kept alphabet, the 6-dp OOV rate, and the
    * (corpus-global) kept alphabet size. "Character" means Unicode CODE
    * POINT on both engines — the Spark side tokenizes with the one-code-
    * point regex '(?s).' (split(text, "") would shear astral-plane
    * characters into lone UTF-16 surrogates), matching DuckDB's
    * code-point string_split(text, '').
    *
    * Exact-integer discipline: the keep rule is the minimal-prefix
    * closed form — a char is kept iff the cumulative count of STRICTLY
    * HIGHER-RANKED chars has not yet reached coverage, i.e.
    * (cum − cnt)·covDen < total·covNum — so membership is one BIGINT
    * compare, ties broken (count desc, char asc), no percentile
    * interpolation. The oov_rate is the house half-up 6-dp rational:
    * (2·oov·1e6 + n) div (2·n), DECIMAL(38,0)-widened against the
    * 2^63 wrap past ~4.6e12 occurrences per source.
    *
    * Scale: ONE tokenize-to-chars pass feeds both the global char grid
    * and the per-(source, char) aggregate; the ranking window runs over
    * the DISTINCT-CHAR grid (alphabet-bounded — a constant in corpus
    * size, the q107 histogram-table argument), never over data rows; the
    * kept set rejoins the per-source aggregate char-keyed (broadcast-
    * sized). Nothing is per-occurrence after the first aggregate. */
  def charCoverage(docs: DataFrame, textCol: String, srcCol: String): DataFrame = {
    val (covNum, covDen) = (99L, 100L)
    // code-POINT tokenization, not code units: split(text, "") Java-regex-
    // splits astral-plane characters (emoji, CJK extensions) into two lone
    // UTF-16 surrogates, while DuckDB's string_split(text, '') is
    // code-point-based — '(?s).' matches exactly one code point in Java
    // regex, so both engines see the same alphabet (non-BMP fixture in
    // RoundSixteenShelfSpec pins this)
    val chars = docs.select(col(srcCol).as("source"),
      explode(regexp_extract_all(coalesce(col(textCol), lit("")),
        lit("(?s)."), lit(0))).as("ch"))
      .where(col("ch") =!= "")
    val bySrc = CacheScope.persist(chars
      .groupBy(col("source"), col("ch"))
      .agg(count(lit(1)).as("cnt")))
    val grid = bySrc.groupBy(col("ch")).agg(sum(col("cnt")).as("gcnt"))
    val total = grid.agg(sum(col("gcnt")).as("gtotal"))
    val ranked = grid
      .withColumn("cum", sum(col("gcnt")).over(
        Window.orderBy(col("gcnt").desc, col("ch").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      // kept <=> the prefix ABOVE this char hasn't reached coverage yet
      .withColumn("kept",
        (col("cum") - col("gcnt")) * lit(covDen) < col("gtotal") * lit(covNum))
    val alpha = ranked.agg(
      sum(when(col("kept"), 1L).otherwise(0L)).as("alphabet_size"))
    bySrc
      .join(ranked.select(col("ch"), col("kept")), Seq("ch"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_char_occ"),
        sum(when(!col("kept"), col("cnt")).otherwise(0L)).as("n_oov_occ"))
      .crossJoin(broadcast(alpha))
      .withColumn("oov_rate",
        expr("CAST(CAST((CAST(2 AS DECIMAL(38,0)) * n_oov_occ * 1000000" +
            " + n_char_occ) div (2 * n_char_occ) AS BIGINT) AS DOUBLE)")
          / lit(1e6))
      .select(col("source"), col("n_char_occ"), col("n_oov_occ"),
        col("oov_rate"), col("alphabet_size"))
  }
}
