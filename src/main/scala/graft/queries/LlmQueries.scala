package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table
import graft.operators.{Similarity, TextDedup}
import OracleSql.embNormsCte

/** LLM-training-data pipeline operators over the driver's `documents` and
  * `embeddings` tables: text statistics, quality scoring, language-ID,
  * fingerprinting, exact + MinHash-LSH + SimHash dedup, and cosine
  * similarity search (brute-force baseline + LSH-bucketed scale path).
  *
  * Every oracle below reproduces the Spark computation bit-for-bit in DuckDB:
  * counts are BIGINT on both sides, ratios are double divisions of exact
  * integers, hashes are md5 (identical hex in both engines), and dot products
  * are sequential left folds over doubles (same order => same IEEE result).
  */
object LlmQueries {

  type Q = (SparkSession, String) => DataFrame

  /** q338 deterministic PII seeding — (modulus, suffix) appended to every
    * doc with doc_id % modulus == 0 (the q53 salting trick, widened to
    * all five detector shapes). The mod-11 hex token deliberately also
    * contains a 10-digit run, so the census proves detectors count
    * independently on shared text. Apostrophe-free: the suffixes embed
    * verbatim in the single-quoted SQL oracle. */
  private val piiSalts: Seq[(Int, String)] = Seq(
    (5, " reach alice.smith@corp-mail.example or bob@ex.io via" +
      " https://portal.example/login?next=home"),
    (7, " card 4111222233334444 backup 88887777 ok"),
    (11, " host 192.168.10.254 token" +
      " deadbeefcafebabe0123456789abcdef0123"))

  /** The MinHash-LSH near-dup pair set is consumed by three queries (q31
    * pairs, q60 edit distances, q61 clustering). Computed once per
    * (session, sf dir) and persisted — exactly how a production dedup
    * pipeline feeds one candidate graph to all its consumers, and it keeps
    * the bench honest about shared intermediates. The result is tiny
    * (pairs above threshold). */
  private[queries] val nearDupPairs = SharedCache("minhash_pair_graph") {
    (s, d) =>
      TextDedup.minhashNearDupPairs(
        table(s, d, "documents"), "doc_id", "text", threshold = 0.5)
  }

  /** q75's n-gram Jaccard pair set, shared the same way: its inverted-
    * index candidate build is the suite's single most expensive stage
    * (~5 s warmed at sf0.1), and q291's agreement Venn used to re-pay it
    * in full. Computed once per (session, sf dir); what persists is only
    * the verified pairs above threshold — tiny. Queries remain standalone
    * in semantics: each consumer rebuilds identically if run alone. */
  private[queries] val ngramPairs = SharedCache("ngram_jaccard_pairs") {
    (s, d) =>
      TextDedup.ngramJaccardPairs(
        table(s, d, "documents"), "doc_id", "text",
        maxDfFrac = 0.02, threshold = 0.5)
  }

  /** q141's winnowed-fingerprint pair set, shared the same way (the r12
    * verdict's last ≥4 s dedup heavies): the fingerprint inventory +
    * df-capped inverted-list self-join is the cost; what persists is
    * only the verified pair set — tiny. RoundThirteenOpsSpec compares the
    * cached pairs against a fresh `winnowNearDupPairs` build. */
  private[queries] val winnowPairs = SharedCache("winnow_pairs") { (s, d) =>
    TextDedup.winnowNearDupPairs(
      table(s, d, "documents"), "doc_id", "text",
      k = 5, w = 4, minShared = 2, maxDf = 20)
  }

  /** The q142 Lloyd ASSIGNMENT over the embeddings table (vec_id, cid,
    * emb, nrm) plus its trained centroid frame, as (cents, assign) — FOUR
    * consumers derive this identical pair at identical parameters
    * (nlist=8, lloydIters=2): q142 semanticDedupFrom, q362
    * prototypicalityBandFrom, q387 semanticDecontamFrom, and
    * [[dedupWorklist]]'s semantic pair stage; each previously re-ran the norms scan + Lloyd
    * rounds + assignment (~1–2.5 s apiece at sf0.1). ONE build installs
    * both frames. SharedFormsSpec compares all four consumers against
    * their `*From` forms over a fresh `semAssignmentFrames` build. */
  private[queries] val semFrames = SharedCache.twin("sem_cents", "sem_assign") {
    (s, d) =>
      val (assign, cents) = Similarity.semAssignmentFrames(
        table(s, d, "embeddings"), "vec_id", "embedding",
        nlist = 8, lloydIters = 2)
      (cents, assign)
  }

  /** The q345/q346 end-to-end dedup worklist (exact → near-dup →
    * semantic, per-doc fate + survivor): the worklist query and its
    * funnel both consume one build, and the persisted result is |docs|
    * rows. The near-dup stage reuses the shared MinHash pair graph; the
    * semantic pair set is the q142 cell lineage's pair form.
    * SharedFormsSpec compares it against `dedupPipeline` over fresh
    * MinHash and semantic pair builds. */
  private[queries] val dedupWorklist =
    SharedCache("dedup_worklist", nearDupPairs, semFrames) { (s, d) =>
      TextDedup.dedupPipeline(
        table(s, d, "documents"), "doc_id", "text",
        nearDupPairs(s, d),
        Similarity.semanticDupPairsFrom(semFrames(s, d)._2, "vec_id",
          threshold = 0.3))
    }

  /** The KN-family shared tokenize + per-doc bigram aggregate (doc_id,
    * w1, w2, occ) — SEVEN queries start from this one frame
    * (q342/q343/q344/q347/q348/q349/q354), and before r16 each rebuilt
    * it (~1.5–4.7 s apiece at sf0.1). |rows| ≈ corpus bigram instances
    * collapsed to per-doc types. SharedFormsSpec compares its consumers
    * against their `*From` forms over a fresh `docBigrams` build. */
  private[queries] val knDocBigrams = SharedCache("kn_doc_bigrams") { (s, d) =>
    graft.operators.TextLm.docBigrams(table(s, d, "documents"), "doc_id", "text")
  }

  /** The interpolated-KN bigram model TYPE table (w1, w2, lp_mu), built
    * from [[knDocBigrams]]. Consumed directly by q342/q343/q354, as the
    * reference model by q348, and as the general ratio side by q344.
    * Zipf-bounded type table — tiny. */
  private[queries] val knModelShared =
    SharedCache("kn_bigram_model", knDocBigrams) { (s, d) =>
      graft.operators.TextLm.knBigramModel(
        knDocBigrams(s, d), table(s, d, "documents"), "text")
    }

  /** The per-language KN scored TYPE frame (one row per (doc, lang,
    * bigram type) with lp_mu under the doc's OWN language model) — feeds
    * q369 (pooled) and q374 (per-doc + tercile mix). Built from
    * [[knDocBigrams]]. SharedFormsSpec compares q369/q374 against a
    * fresh `groupedKnScoredFrom(docBigrams(docs))` chain. */
  private[queries] val langKnScored =
    SharedCache("lang_kn_scored", knDocBigrams) { (s, d) =>
      graft.operators.TextLm.groupedKnScoredFrom(
        knDocBigrams(s, d), table(s, d, "documents"), "doc_id", "text", "lang")
    }

  /** The 13-rule Gopher repetition MICRO census (doc_id, n_lines,
    * <rule>_mu x13, pass) — FIVE queries consume one build
    * (q375/q376/q381/q385/q392; ~4-5 s apiece at sf0.1 rebuilt, the
    * single most-shared frame after the KN caches). RoundEighteenShelfSpec
    * compares its consumers against their `*From` forms over a fresh
    * `gopherMicro` build. */
  private[queries] val gopherMicroShared = SharedCache("gopher_micro") {
    (s, d) =>
      TextDedup.gopherMicro(table(s, d, "documents"), "doc_id", "text",
        lineTokens = 3, paraTokens = 10)
  }

  /** The Gopher QUALITY-rule census (q380's full output) — three
    * consumers (q380/q385/q392). */
  private[queries] val gopherQualityShared = SharedCache("gopher_quality") {
    (s, d) =>
      TextDedup.gopherQualityRules(table(s, d, "documents"), "doc_id", "text")
  }

  /** The SoftDeDup per-doc loss-weight frame (q388's full output) —
    * THREE consumers (q388 verbatim, q394's allocation input, q398's
    * soft leg), each previously re-running the commonness model + per-doc
    * score over the shared KN inventory (~1.5–1.9 s apiece at sf0.1).
    * Built from [[knDocBigrams]]. SharedFormsSpec compares q388/q394/q398
    * against a fresh `softDedupWeights(docBigrams(docs))` build. */
  private[queries] val softDedupWeightsShared =
    SharedCache("softdedup_weights", knDocBigrams) { (s, d) =>
      graft.operators.TextLm.softDedupWeights(knDocBigrams(s, d), "doc_id")
    }

  /** The per-k memorization window inventories (doc_id, fp, nxt) —
    * EIGHT builds per suite pass collapsed to three priced ones: q389
    * (k=5/10/20), q393 (k=10), q397 (k=5/10/20) and the q395 card's
    * k=10 leg all consume [[TextDedup.memWindowInventory]] frames.
    * SharedFormsSpec compares those consumers against their `*From`
    * forms over fresh single-k `memWindowInventory` builds.
    *
    * r20: the three per-k builds each re-paid the parquet scan + token
    * split (guide §2.4 — one corpus pass instead of three). The parent
    * (doc_id, k, fp, nxt) frame is minted once
    * ([[TextDedup.memWindowInventoryMulti]]); each per-k child persists
    * its `k = const` filter of it, so consumers see EXACTLY the frames
    * they always did (schema and rows spec-pinned identical to the
    * single-k builds), and each child's registry line prices only its
    * cheap copy. */
  private[queries] val memWindowsAllShared = SharedCache("mem_windows") {
    (s, d) =>
      TextDedup.memWindowInventoryMulti(table(s, d, "documents"),
        "doc_id", "text", Seq(5, 10, 20))
  }

  private def memWindowsOf(k: Int) =
    SharedCache(s"mem_windows_k$k", memWindowsAllShared) { (s, d) =>
      memWindowsAllShared(s, d).where(col("k") === k)
        .select(col("doc_id"), col("fp"), col("nxt"))
    }

  private[queries] val memWindows5Shared = memWindowsOf(5)
  private[queries] val memWindows10Shared = memWindowsOf(10)
  private[queries] val memWindows20Shared = memWindowsOf(20)

  /** The tokenizer word-type SEED (w, freq, sym) — ONE corpus word scan
    * feeding all three trainer families (bpe/wordpiece merge loops
    * directly; unigram via the maxWordLen-filtered projection). Eight
    * consumers ride it transitively (q331/q334/q357/q358/q350/q352/
    * q353/q390 — far past the house 3+ rule). RoundNineteenShelfSpec
    * compares the eight consumers against the trainer `*From` forms over
    * a fresh `seedWordTypesPlan` build. */
  private[queries] val tokSeedShared = SharedCache("tok_word_seed") { (s, d) =>
    graft.operators.TextPrep.seedWordTypesPlan(table(s, d, "documents"), "text")
  }

  /** The trained BPE artifacts as (merges, dict) — merge table (q331) and
    * final word-type dictionary (q334/q390). ONE merge-loop run per
    * (session, sf dir) builds BOTH (the loop mints them simultaneously;
    * localCheckpointed rounds make it eager), so the `bpe_dict` registry
    * line prices ~0. */
  private[queries] val bpeTrained =
    SharedCache.twin("bpe_merges", "bpe_dict", tokSeedShared) { (s, d) =>
      graft.operators.TextPrep.bpeMergeLoopFrom(tokSeedShared(s, d), merges = 10)
    }

  /** The trained WordPiece artifacts as (merges, dict) — the
    * [[bpeTrained]] pattern for the likelihood-ratio family
    * (q357/q358/q390). */
  private[queries] val wpTrained =
    SharedCache.twin("wordpiece_merges", "wordpiece_dict", tokSeedShared) {
      (s, d) =>
        graft.operators.TextPrep.wordpieceMergeLoopFrom(
          tokSeedShared(s, d), merges = 10)
    }

  /** The unigram-LM Viterbi DP frame (one row per word type with cands/
    * best/bounds/pieces) — the ONE frame the whole SentencePiece shelf
    * derives from (q350/q352/q353/q390; the seed model and piece
    * inventory are recovered from the candidate structs). Built from
    * [[tokSeedShared]] (maxWordLen-filtered projection — freq is per word
    * TYPE, so filtering after the aggregate is identical). */
  private[queries] val unigramDpShared =
    SharedCache("unigram_dp", tokSeedShared) { (s, d) =>
      graft.operators.TextPrep.unigramDpFrom(
        tokSeedShared(s, d).where(length(col("w")) <= 16)
          .select(col("w"), col("freq")),
        maxPieceLen = 4, maxWordLen = 16)
    }

  private val stopEn = "('the','a','of','and','to','in')"
  private val stopDe = "('der','die','das','und','ist')"
  private val stopFr = "('le','la','et','les','des')"
  /** Wider function-word list for the q114 quality funnel's stopword gate. */
  private val stopFunnel = "('the','a','of','to','and','in','is','on','for','with')"

  val queries: Map[String, Q] = Map(

    // Token counting + per-document stats (LLM text-analysis surface).
    "q26_text_stats" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("bigint").as("n_distinct_tokens"),
        length(col("text")).cast("bigint").as("len_chars"),
        expr("CAST(aggregate(transform(split(text,' '), t -> length(t)), 0, (a,x) -> a+x) AS DOUBLE)" +
          " / size(split(text,' '))").as("avg_token_len"))),

    // Corpus-level token frequency: explode -> groupBy -> deterministic top-20.
    // Plans as partial+final HashAggregate then TakeOrderedAndProject.
    "q27_token_freq" -> ((s, d) =>
      table(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)),

    // Exact dedup at scale: md5 fingerprint + one keyed shuffle. Input is the
    // corpus unioned with itself (1000 rows), output collapses back to 500 —
    // proving the collapse, not just hashing distinct rows.
    "q28_fingerprint_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      TextDedup.exactDedup(docs.unionByName(docs), "doc_id", "text")
        .select(col("doc_id"), col("fingerprint"))
    }),

    // C4-style corpus-wide span removal (Raffel et al. 2020): 4-token
    // tiles, keep ONE occurrence of every duplicated span (pinned to min
    // (doc_id, tile_pos) corpus order), rebuild each doc from survivors.
    // The destructive keep-first gate beside q98's overlap scorer and
    // q300's run reporter. One tile-keyed min-aggregate + one join back —
    // never pairwise. See TextDedup.c4SpanDedup.
    "q329_c4_span_dedup" -> ((s, d) =>
      TextDedup.c4SpanDedup(table(s, d, "documents"), "doc_id", "text")),

    // BPE vocabulary TRAINER (Sennrich et al. 2016): 10 greedy merge
    // rounds over the word-type table -> the merge table the tokenizer
    // operators downstream would load. One corpus-scale aggregate; every
    // round is vocab-bounded. All-integer; the oracle re-derives the
    // whole training loop (unrolled materialized CTEs). See
    // TextPrep.bpeMergeLoopFrom.
    "q331_bpe_train" -> ((s, d) => bpeTrained(s, d)._1),

    // BPE ENCODE — the train->apply round trip: q331's 10 merges, then
    // every doc re-tokenized through the trained word-type dictionary;
    // per-doc symbol counts and compression ratio. One word-keyed join
    // on top of training. See TextPrep.encodeFromDict.
    "q334_bpe_encode" -> ((s, d) =>
      graft.operators.TextPrep.encodeFromDict(table(s, d, "documents"),
        "doc_id", "text", bpeTrained(s, d)._2)),

    // WordPiece TRAINER (Schuster & Nakajima; the BERT tokenizer) — the
    // third tokenizer family: q331's merge loop with the argmax driven
    // by the likelihood-ratio score count(ab)/(count(a)*count(b)) (one
    // exact IEEE division of exact BIGINTs — no libm), tie-break
    // (score, pair_count, pair). See TextPrep.wordpieceMergeLoopFrom.
    "q357_wordpiece_train" -> ((s, d) => wpTrained(s, d)._1),

    // WordPiece ENCODE — the train->apply round trip over q357's merge
    // table, same closed-vocab dictionary-join contract as q334. See
    // TextPrep.encodeFromDict.
    "q358_wordpiece_encode" -> ((s, d) =>
      graft.operators.TextPrep.encodeFromDict(table(s, d, "documents"),
        "doc_id", "text", wpTrained(s, d)._2)),

    // Per-source tokenizer compression census: BPE (q331), WordPiece
    // (q357) and unigram-LM (q350) apply passes rolled up per source —
    // fertility and chars-per-piece per (tokenizer, source), the
    // corpus-card table a tokenizer choice is justified with. See
    // TextPrep.tokenizerCompressionCensusFrom.
    "q390_tokenizer_census" -> ((s, d) =>
      graft.operators.TextPrep.tokenizerCompressionCensusFrom(
        table(s, d, "documents"), "text", "source",
        bpeTrained(s, d)._2, wpTrained(s, d)._2, unigramDpShared(s, d))),

    // Character-trigram profile (n-gram analysis surface). The distinct
    // count runs through the native single-pass NgramDistinctCount
    // expression — no per-row slice array, no interpreted hash set; the
    // HOF formulation it replaces was ~2 s of the sf0.1 bench on its own
    // (LlmOperatorsSpec pins native == HOF == codegen/interpreted).
    "q29_ngram_profile" -> ((s, d) =>
      table(s, d, "documents").where(length(col("text")) >= 3).select(
        col("doc_id"),
        graft.functions.TextHashes.ngram_distinct_count(col("text"), 3)
          .as("n_distinct_trigrams"),
        (length(col("text")) - 2).cast("bigint").as("n_trigrams"))),

    // Quality scoring + stopword-overlap language-ID heuristic.
    "q30_lang_quality" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        expr(s"CAST(size(filter(split(text,' '), t -> t IN $stopEn)) AS BIGINT)").as("en_hits"),
        expr(s"CAST(size(filter(split(text,' '), t -> t IN $stopDe)) AS BIGINT)").as("de_hits"),
        expr(s"CAST(size(filter(split(text,' '), t -> t IN $stopFr)) AS BIGINT)").as("fr_hits"))
        .withColumn("stop_ratio", col("en_hits").cast("double") / col("n_tokens"))
        .withColumn("guessed_lang",
          when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits") && col("en_hits") > 0, "en")
            .when(col("de_hits") >= col("fr_hits") && col("de_hits") > 0, "de")
            .when(col("fr_hits") > 0, "fr")
            .otherwise("unk"))
        .withColumn("is_quality", col("n_tokens") >= 20 && col("stop_ratio") >= 0.05)),

    // MinHash-LSH near-duplicate pairs (banded bucket-join, exact-Jaccard
    // verified). Finds the corpus's planted ~0.98-Jaccard pairs.
    "q31_minhash_lsh_pairs" -> ((s, d) => nearDupPairs(s, d)),

    // Batch cross-run dedup against a persisted signature store — the
    // batch twin of the streaming IncrementalNearDup gate: every third
    // doc (doc_id % 3 == 0) plays the already-ingested prior runs whose
    // banded-MinHash + md5-sentinel rows form the store; the rest arrive
    // as today's batch and are verdict'd against the store AND against
    // smaller-id batch docs. See TextDedup.crossRunVerdicts.
    "q318_cross_run_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val prior = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val batch = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      TextDedup.crossRunVerdicts(
        TextDedup.bandSignatureRows(prior, "doc_id", "text"),
        batch, "doc_id", "text")
    }),

    // SimHash banded near-dup pairs — native codegen'd SimHash64 expression.
    // Oracled: DuckDB mirrors FNV-1a's unsigned wraparound with HUGEINT
    // arithmetic mod 2^64 (ASCII corpus => unicode(char) == UTF-8 byte);
    // LlmOperatorsSpec additionally pins codegen-vs-interpreted agreement.
    "q32_simhash_pairs" -> ((s, d) =>
      TextDedup.simhashNearDupPairs(
        table(s, d, "documents"), "doc_id", "text")),

    // Dedup-method agreement matrix: which near-dup pairs do MinHash
    // (q31), SimHash (q32) and n-gram Jaccard (q75) each find — the
    // three-method Venn that calibrates band/threshold choices before
    // trusting any single detector (q150's calibration, cross-method).
    // Three bounded pair sets full-outer-joined on the pair key; the
    // oracle composes all three pair oracles verbatim.
    "q291_dedup_agreement" -> ((s, d) => {
      val docs = table(s, d, "documents")
      def side(df: DataFrame, flag: String) =
        df.select(col("doc_a"), col("doc_b")).withColumn(flag, lit(1))
      side(nearDupPairs(s, d), "__mh")
        .join(side(TextDedup.simhashNearDupPairs(docs, "doc_id", "text"), "__sh"),
          Seq("doc_a", "doc_b"), "full_outer")
        .join(side(ngramPairs(s, d), "__ng"),
          Seq("doc_a", "doc_b"), "full_outer")
        .groupBy((coalesce(col("__mh"), lit(0)) === 1).as("in_minhash"),
          (coalesce(col("__sh"), lit(0)) === 1).as("in_simhash"),
          (coalesce(col("__ng"), lit(0)) === 1).as("in_ngram"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // Brute-force cosine top-10 for a bounded query set — the exactness
    // baseline for ANN. Query side broadcast; candidates scanned once.
    "q33_knn_bruteforce" -> ((s, d) =>
      Similarity.bruteForceKnn(
        table(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 100, k = 10)),

    // Sign-LSH bucketed ANN — the 100x-scale path: candidate join shuffles on
    // the bucket key, no cross product.
    "q34_knn_lsh" -> ((s, d) =>
      Similarity.lshKnn(
        table(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 100, k = 3)),

    // Partitioned-write + basePath-read roundtrip (K2/K3 + S4 + Y2 + Y4):
    // write events Hive-partitioned by y/m/d with dynamic overwrite, read the
    // ROOT back with basePath so partition columns survive, partition-prune
    // with a predicate, aggregate. Oracle computes the same directly — equal
    // results prove the layout round-trips losslessly.
    "q35_partitioned_roundtrip" -> ((s, d) => {
      // stable per-sf-dir path + overwrite mode: repeated runs reuse one
      // directory instead of leaking a fresh temp copy of events each call
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_part_" +
        Integer.toHexString(d.hashCode)
      table(s, d, "events")
        .withColumn("y", year(col("ts")))
        .withColumn("m", month(col("ts")))
        .withColumn("d", dayofmonth(col("ts")))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("y", "m", "d").parquet(out)
      s.read.option("basePath", out).parquet(out)
        .where(col("d") <= 7)                       // partition-pruned scan
        .groupBy(col("y"), col("m"), col("d"))
        .agg(count(lit(1)).as("n"),
          graft.operators.Relational.sumExact(col("value")).as("sum_value"))
    }),

    // Multimodal: opaque binary payload column + typed metadata (byte size,
    // leading-bytes hex, content fingerprint) — the metadata layer every
    // media pipeline needs before any codec runs.
    // Perceptual near-dup over media payloads: aHash byte-grid bits,
    // 4×16-bit LSH bands, full-Hamming verify — the multimodal member of
    // the dedup family. Payload bytes come from fromText (the q36/q37
    // minting path); a real image codec swaps into stubDecode without
    // touching the banding/join shape. See Multimodal.ahashNearDup.
    "q309_media_ahash_dedup" -> ((s, d) =>
      graft.operators.Multimodal.ahashNearDup(
        graft.operators.Multimodal.fromText(s, table(s, d, "documents"),
          "doc_id", "text", "image"))),

    "q36_binary_meta" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        length(col("text").cast("binary")).cast("bigint").as("n_bytes"),
        hex(expr("substring(CAST(text AS BINARY), 1, 4)")).as("head_hex"),
        md5(col("text")).as("fingerprint"))),

    // Multimodal decode/feature plumbing (STUB codec, real mapPartitions
    // batching). Oracled in full: the stub's FNV-derived pseudo-metadata is
    // replayed in DuckDB with the same HUGEINT-mod-2^64 mirror as q32/q41;
    // MultimodalSpec additionally pins determinism and shapes.
    "q37_media_features" -> ((s, d) => {
      import graft.operators.Multimodal
      val media = Multimodal.fromText(s, table(s, d, "documents"), "doc_id", "text", "image")
      Multimodal.extractFeatures(media)
        .toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"), col("n_frames"))
    }),

    // Deterministic content-hash sampling (§2.9 "Sampling"): a systematic
    // ~12.5% sample keyed on md5 of the key — reproducible on ANY engine and
    // ANY partitioning, unlike rand()-seeded sampling.
    "q38_systematic_sample" -> ((s, d) =>
      table(s, d, "orders")
        .where(substring(md5(col("o_orderkey").cast("string")), 1, 1).isin("0", "1"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // A2 dedup-average, Spark-side: duplicate "stage" rows for a key collapse
    // by AVG (the reference's replay semantics,
    // dags/weather_daily_etl.py:186-196), here over a doubled daily rollup.
    "q39_stage_dedup_avg" -> ((s, d) => {
      val daily = table(s, d, "events")
        .groupBy(year(col("ts")).as("y"), month(col("ts")).as("m"),
          dayofmonth(col("ts")).as("d"))
        .agg(graft.operators.Relational.sumExact(col("value")).as("sum_value"),
          count(lit(1)).as("n_rows"))
      daily.unionByName(daily) // two identical "stage loads" for every day
        .groupBy(col("y"), col("m"), col("d"))
        .agg(avg(col("sum_value")).as("avg_sum_value"),
          avg(col("n_rows")).as("avg_n_rows"),
          count(lit(1)).as("n_stage_rows"))
    }),

    // JSON path extraction from the events.props payload column.
    "q40_json_extract" -> ((s, d) =>
      table(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),

    // Native codegen fingerprints over the corpus — oracled via the same
    // HUGEINT-mod-2^64 DuckDB mirror as q32; PropertySpec + LlmOperatorsSpec
    // additionally pin codegen-vs-interpreted agreement and partition
    // stability.
    "q41_native_fingerprints" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        graft.functions.TextHashes.rolling_hash(col("text")).as("content_hash"),
        graft.functions.TextHashes.simhash64(split(col("text"), " ")).as("simhash"))),

    // Salted two-phase aggregation for skewed/low-cardinality keys: hot keys
    // fan out over 16 salt reducers in phase 1, combine in phase 2. Decimal
    // routing makes the result bit-identical to a direct GROUP BY — which is
    // exactly what the oracle computes.
    "q42_salted_skew_agg" -> ((s, d) =>
      graft.operators.Scale.saltedSumCount(
        table(s, d, "events"), col("event_type"), col("value"))),

    // As-of join (composed: tagged union + running window — no built-in in
    // Spark): each click matched to the user's latest prior-or-simultaneous
    // purchase. Oracle is DuckDB's native ASOF LEFT JOIN.
    "q43_asof_join" -> ((s, d) => {
      val ev = table(s, d, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofJoin(clicks, purchases, "user_id", "ts",
        payload = Seq("ts", "value"))
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("__match.ts")).as("purchase_sec"),
          col("__match.value").as("purchase_value"))
    }),

    // Nearest-in-time as-of: each click's CLOSEST purchase in either
    // direction (ties resolve backward) — the sensor-fusion lookup q43
    // (backward) and q97 (forward) each get wrong half the time. Two
    // directed single-shuffle passes + an in-row distance CASE; see
    // Temporal.asofNearest.
    "q290_asof_nearest" -> ((s, d) => {
      val ev = table(s, d, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.Temporal.asofNearest(clicks, purchases, "user_id",
        "ts", payload = Seq("ts", "value"))
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("__match.ts")).as("purchase_sec"),
          col("__match.value").as("purchase_value"),
          col("__dir").as("direction"))
    }),

    // Range join via time-bucketed equi-join (never a theta join): pairs of
    // clicks by the same user within 30 minutes; each pair meets in exactly
    // one bucket, so no dedup pass.
    "q44_range_join" -> ((s, d) =>
      graft.operators.Temporal.rangeJoinPairs(
        table(s, d, "events").where(col("event_type") === "click"),
        "user_id", "ts", "event_id", maxGapSec = 1800L)),

    // Embedding-cosine near-dup pairs (dedup-flavored output): bucketed, each
    // unordered pair once, threshold 0.3 (the corpus's max cosine is ~0.51).
    "q45_embedding_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairs(
        table(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.3)),

    // BPE-ish regex token counting (runs-of-letters / runs-of-digits /
    // single punctuation — the shape of a byte-level BPE pre-tokenizer),
    // alongside whitespace counting from q26.
    "q46_bpe_tokens" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("bigint").as("n_bpe_tokens"),
        size(split(col("text"), " ")).cast("bigint").as("n_ws_tokens"))),

    // CUBE — completes the grouping-sets family next to q24's ROLLUP.
    "q47_cube" -> ((s, d) =>
      table(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          graft.operators.Relational.sumExact(col("l_quantity")).as("sum_qty"))),

    // RANGE window frame (value-based, vs q19's ROWS frame): per-customer
    // 7-day trailing spend; peers at equal dates share the frame, so the
    // result is deterministic even with date ties.
    "q48_window_range_frame" -> ((s, d) => {
      val days = datediff(col("o_orderdate"), lit("1970-01-01"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(days).rangeBetween(-7, 0)
      table(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        sum(graft.operators.Relational.dec(col("o_totalprice"))).over(w)
          .cast("double").as("trailing_7d_spend"))
    }),

    // Exact interpolated median per group.
    "q49_median" -> ((s, d) =>
      table(s, d, "events").groupBy(col("event_type"))
        .agg(median(col("value")).as("med_value"), count(lit(1)).as("n"))),

    // IVF ANN: k-means-trained coarse quantizer (2 Lloyd rounds from a
    // deterministic seed, integer-quantized centroid means so training is
    // bit-reproducible) -> inverted lists -> probe 2 nearest -> exact rank
    // within candidates. Oracle replays the same two training rounds.
    "q50_ivf_ann" -> ((s, d) =>
      Similarity.ivfKnn(
        table(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") >= 100 && col("vec_id") < 200, k = 3,
        lloydIters = 2)),

    // Text normalization (lowercase, whitespace collapse, trim) applied to a
    // deliberately-messy derivation of the corpus so the operator has work to
    // do; oracle mirrors the same derivation.
    "q52_text_normalize" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        graft.operators.TextPrep.normalize(
          concat(lit("  "), upper(col("text")), lit("\tMIXED Case  "))).as("norm_text"))),

    // PII-shape redaction (emails, long digit runs) over text salted with
    // both shapes.
    "q53_redact" -> ((s, d) =>
      table(s, d, "documents").select(
        col("doc_id"),
        graft.operators.TextPrep.redact(
          concat(substring(col("text"), 1, 40),
            lit(" contact bob@example.com id 12345678 end"))).as("clean_text"))),

    // PII prevalence census per (source, detector): the compliance audit
    // run BEFORE q53's redaction decides what to scrub. Corpus salted
    // deterministically (the q53 trick) so the census has real positives;
    // detector patterns live in TextPrep.piiDetectors and feed the oracle
    // verbatim. See TextPrep.piiCensus.
    "q338_pii_census" -> ((s, d) => {
      val salted = table(s, d, "documents").withColumn("__t", concat(
        col("text") +: piiSalts.map { case (m, sf) =>
          when(pmod(col("doc_id"), lit(m)) === 0, lit(sf)).otherwise(lit(""))
        }: _*))
      graft.operators.TextPrep.piiCensus(
        salted.select(col("source"), col("__t")), "__t", "source")
    }),

    // Document chunking: 32-token windows, stride 24 (8-token overlap) — the
    // standard context-window preprocessing; one row per chunk.
    "q54_chunking" -> ((s, d) =>
      graft.operators.TextPrep.chunk(
        table(s, d, "documents"), "doc_id", "text", size = 32, stride = 24)),

    // Term/document frequency — the integer core of TF-IDF.
    "q55_tf_df" -> ((s, d) =>
      graft.operators.TextPrep.termDocFreq(
        table(s, d, "documents"), "doc_id", "text")),

    // Pivot with an explicit category list (no extra distinct-discovery
    // pass — required for a deterministic schema and for 100 TB where the
    // implicit distinct scan would be a full extra job).
    "q56_pivot" -> ((s, d) =>
      table(s, d, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(graft.operators.Relational.sumExact(col("value")))
        .orderBy("user_id")),

    // Unpivot (melt): wide numeric columns -> long (metric, value) rows.
    "q57_unpivot" -> ((s, d) =>
      table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")),

    // Value histogram: fixed-width buckets via floor division — the
    // map-side-combinable building block for distribution profiling.
    "q58_histogram" -> ((s, d) =>
      table(s, d, "events")
        .groupBy(floor(col("value") / 10).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("n"),
          graft.operators.Relational.sumExact(col("value")).as("sum_value"))),

    // Pearson correlation from EXACT decimal component sums (n, Σx, Σy, Σxy,
    // Σx², Σy²) with one final double formula — built-in corr() accumulates
    // doubles in partition order and cannot hash-match a single-node oracle;
    // this decomposition is deterministic at any partitioning.
    "q59_corr_exact" -> ((s, d) => {
      import graft.operators.Relational.dec
      table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(dec(col("l_quantity"))).as("sx"),
          sum(dec(col("l_extendedprice"))).as("sy"),
          sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).as("sxy"),
          sum(dec(col("l_quantity")) * dec(col("l_quantity"))).as("sxx"),
          sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice"))).as("syy"))
        .select(col("l_returnflag"),
          // components go exact->double individually, formula runs in doubles
          // (keeps both engines' decimal type-widening rules out of play)
          ((col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              sqrt(col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))))
            .as("corr_qty_price"))
    }),

    // Fuzzy matching: Levenshtein edit distance between each near-dup pair's
    // text prefixes (reuses the MinHash-LSH candidates — never all-pairs).
    "q60_levenshtein" -> ((s, d) => {
      val pairs = nearDupPairs(s, d)
      val t = table(s, d, "documents").select(col("doc_id"), substring(col("text"), 1, 60).as("head"))
      pairs.join(t.toDF("doc_a", "head_a"), "doc_a")
        .join(t.toDF("doc_b", "head_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("head_a"), col("head_b")).cast("bigint").as("edit_dist"))
    }),

    // NULL-handling scalar surface over an outer join's null-extended rows:
    // coalesce, nullif, null-safe equality.
    "q65_null_handling" -> ((s, d) =>
      table(s, d, "customer")
        .join(table(s, d, "orders").where(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("o_orderkey"), lit(-1L)).as("order_or_default"),
          nullif(col("o_orderpriority"), lit("1-URGENT")).as("prio_not_urgent"),
          col("o_orderkey").isNull.as("has_no_big_order"),
          (col("o_custkey") <=> col("c_custkey")).as("nullsafe_eq"))),

    // Date/time function breadth: arithmetic, boundaries, aligned
    // day-of-week (Spark dayofweek is 1=Sunday; DuckDB's is 0=Sunday).
    "q66_date_funcs" -> ((s, d) =>
      table(s, d, "orders").select(
        col("o_orderkey"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("due_date"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        (dayofweek(col("o_orderdate")) - 1).cast("bigint").as("dow_sun0"),
        datediff(last_day(col("o_orderdate")), col("o_orderdate"))
          .cast("bigint").as("days_to_month_end"))),

    // Conditional expressions: CASE buckets, least/greatest.
    "q67_conditionals" -> ((s, d) =>
      table(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") < 10, "small")
          .when(col("l_quantity") < 30, "medium")
          .otherwise("large").as("qty_bucket"),
        least(col("l_quantity"), col("l_discount") * 100).as("least_v"),
        greatest(col("l_quantity"), col("l_discount") * 100).as("greatest_v"))),

    // String-function breadth (cross-engine-identical subset): padding,
    // translate, reverse, position, prefix extraction.
    "q68_string_funcs" -> ((s, d) =>
      table(s, d, "customer").select(
        col("c_custkey"),
        lpad(col("c_name"), 25, "*").as("padded"),
        translate(col("c_name"), "#", "-").as("translated"),
        reverse(col("c_name")).as("reversed"),
        instr(col("c_name"), "#").cast("bigint").as("hash_pos"),
        substring_index(col("c_name"), "#", 1).as("name_prefix"),
        upper(col("c_mktsegment")).as("segment_uc"))),

    // Math-function breadth restricted to exactly-rounded IEEE ops (no
    // transcendentals — exp/ln differ at the last ulp between libm builds).
    "q69_math_funcs" -> ((s, d) =>
      table(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("abs_v"),
        ceil(col("l_quantity") / 7).cast("bigint").as("ceil_v"),
        floor(col("l_quantity") / 7).cast("bigint").as("floor_v"),
        sqrt(col("l_quantity")).as("sqrt_v"),
        signum(col("l_discount") - 0.05).as("sign_v"),
        pmod(col("l_orderkey"), lit(97)).cast("bigint").as("mod_v"))),

    // TPC-H Q3-shaped showcase: selective filters on three tables, two fact
    // joins, revenue aggregation, deterministic top-10 — the canonical
    // "everything at once" analytics query.
    "q70_shipping_priority" -> ((s, d) =>
      table(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
        .join(table(s, d, "orders").where(col("o_orderdate") < lit("1995-03-15")),
          col("c_custkey") === col("o_custkey"))
        .join(table(s, d, "lineitem").where(col("l_shipdate") > lit("1995-03-15")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .agg(sum(graft.operators.Relational.dec(col("l_extendedprice")) *
            (lit(1) - graft.operators.Relational.dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)),

    // Character-n-gram language-ID (the literal n-gram heuristic): score =
    // how many of a language's signature bigrams occur in the doc; argmax
    // with deterministic precedence. Complements q30's stopword heuristic.
    "q72_ngram_lang_id" -> ((s, d) => {
      def hits(grams: String) = // count of signature bigrams present in text
        expr(s"CAST(size(filter(array$grams, g -> instr(text, g) > 0)) AS BIGINT)")
      table(s, d, "documents").select(
        col("doc_id"), col("lang"),
        hits("('th','he','an','in','er')").as("en_bigrams"),
        hits("('ch','ei','de','en','un')").as("de_bigrams"),
        hits("('le','es','on','ou','qu')").as("fr_bigrams"))
        .withColumn("guessed_lang",
          when(col("en_bigrams") >= col("de_bigrams") &&
            col("en_bigrams") >= col("fr_bigrams") && col("en_bigrams") > 0, "en")
            .when(col("de_bigrams") >= col("fr_bigrams") && col("de_bigrams") > 0, "de")
            .when(col("fr_bigrams") > 0, "fr")
            .otherwise("unk"))
    }),

    // grouping_id over rollup: distinguishes subtotal rows from genuine
    // NULL group keys — the semantic q24 leaves ambiguous.
    "q73_grouping_id" -> ((s, d) =>
      table(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping_id(col("l_returnflag"), col("l_linestatus"))
            .cast("bigint").as("gid"))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"), col("gid"))),

    // Training-data source mixing: per-source deterministic sampling rates
    // (content-hash based, so the mix is reproducible on any engine and any
    // partitioning — rand()-based sampleBy is neither).
    "q74_source_mixing" -> ((s, d) =>
      table(s, d, "documents")
        .where(
          // ~50% of src0/src1 docs, ~12.5% of everything else
          when(col("source").isin("src0", "src1"),
            substring(md5(col("doc_id").cast("string")), 1, 1)
              .isin("0", "1", "2", "3", "4", "5", "6", "7"))
            .otherwise(
              substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1")))
        .select(col("doc_id"), col("source"), col("lang"))),

    // SQL entry path (spark.sql over temp views) with a correlated scalar
    // subquery — Catalyst decorrelates it into a left outer aggregate join;
    // the same text runs verbatim on DuckDB.
    "q71_sql_correlated_subquery" -> ((s, d) => {
      table(s, d, "customer").createOrReplaceTempView("customer_v")
      table(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT c.c_custkey,
          |  (SELECT count(*) FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS n_orders,
          |  (SELECT max(o_totalprice) FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS max_spend
          |FROM customer_v c""".stripMargin)
    }),

    // Ordered string aggregation (listagg, new in Spark 4) — deterministic
    // with the WITHIN GROUP order.
    "q64_listagg" -> ((s, d) =>
      table(s, d, "nation")
        .groupBy(col("n_regionkey"))
        .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"))),

    // Distinct aggregates per group (absent from the reference, §2.9).
    "q62_count_distinct" -> ((s, d) =>
      table(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))),

    // Rank-family windows beyond row_number (q18): ntile, percent_rank,
    // nth_value — deterministic under the explicit total order.
    "q63_window_rank_family" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      table(s, d, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).cast("bigint").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
    }),

    // Dedup clustering: near-dup pairs -> connected components -> cluster
    // representative (min doc_id). The KEEP/DROP decision layer of corpus
    // dedup. Oracle walks the same graph with a recursive CTE.
    "q61_dedup_clusters" -> ((s, d) =>
      TextDedup.connectedComponents(nearDupPairs(s, d))),

    // Dedup retention policy — the KEEP/DROP decision the cluster map exists
    // for: every document joins its cluster (left: most docs are in none),
    // the cluster representative (min doc_id = the cluster_id itself) is
    // kept, all other members are dropped. The cluster map grows with the
    // duplicated fraction of the corpus (unbounded at 100x), so no broadcast
    // hint: the doc_id equi-join shuffles cleanly and AQE may still pick
    // broadcast while the map is small. The output is the exact worklist a
    // corpus-pruning stage executes.
    "q91_dedup_retention" -> ((s, d) => {
      val clusters = TextDedup.connectedComponents(nearDupPairs(s, d))
      table(s, d, "documents")
        .select(col("doc_id"), col("source"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"), 1L)
            .otherwise(0L).as("keep"))
    }),

    // Quality-aware retention: within each near-dup cluster keep the
    // LONGEST member (ties to the smaller id) instead of q91's min-id —
    // the policy real dedup stages ship (the longest variant of a template
    // family is usually the complete one). Same shared cluster lineage;
    // the per-cluster argmax is a max-struct aggregate joined back, not a
    // window. Output covers clustered docs only (q91 is the full worklist).
    // Like q91, the cluster map (one row per clustered doc) and `best` (one
    // row per cluster) are unbounded at scale — plain equi-joins, AQE decides
    // broadcast vs shuffle by measured size.
    "q121_retention_longest" -> ((s, d) => {
      val clusters = TextDedup.connectedComponents(nearDupPairs(s, d))
      val members = table(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
        .join(clusters, Seq("doc_id"))
      val best = members.groupBy(col("cluster_id"))
        .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("m"))
        .select(col("cluster_id"), (-col("m.nid")).as("keep_id"))
      members.join(best, Seq("cluster_id"))
        .select(col("cluster_id"), col("doc_id"), col("n_chars"),
          when(col("doc_id") === col("keep_id"), 1L).otherwise(0L).as("keep"))
    }),

    // Sessionization: 30-minute-gap session windows per user (events <= gap
    // apart merge; window end = last event + gap). Inputs are second-
    // truncated on both sides so engine timestamp precision can't flip a
    // boundary. Oracle is the classic gaps-and-islands rewrite.
    "q51_session_window" -> ((s, d) =>
      table(s, d, "events")
        .withColumn("tss", date_trunc("second", col("ts")))
        .groupBy(session_window(col("tss"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          graft.operators.Relational.sumExact(col("value")).as("sum_value"))
        .select(col("user_id"),
          unix_timestamp(col("sw.start")).as("session_start_sec"),
          unix_timestamp(col("sw.end")).as("session_end_sec"),
          col("n_events"), col("sum_value"))),

    // Bigram-LM cross-entropy quality scoring (CCNet-style): the corpus
    // trains its own smoothed bigram model, every doc is scored by per-token
    // cross-entropy. Fluency outliers in both tails. See TextLm scaladoc
    // for the keyed-shuffle plan + integer-microunit determinism.
    "q101_lm_xent" -> ((s, d) =>
      graft.operators.TextLm.bigramCrossEntropy(
        table(s, d, "documents"), "doc_id", "text")),

    // Exact phrase search via a positional inverted index: postings filtered
    // to the phrase's terms BEFORE the one doc-keyed shuffle, adjacency
    // counted by a codegen'd fold over a per-doc pos→term map. Overlapping
    // occurrences count individually. See TextSearch.phraseSearch.
    "q103_phrase_search" -> ((s, d) =>
      graft.operators.TextSearch.phraseSearch(
        table(s, d, "documents"), "doc_id", "text",
        Seq("slow", "hash", "batch"))),

    // Cross-source contamination matrix: distinct 5-gram overlap mass
    // between every pair of sources — the train/eval leakage report. The
    // per-gram inverted list is bounded by the number of SOURCES, so the
    // self-join cannot blow up with corpus size. See
    // TextDedup.crossGroupOverlap.
    "q104_source_overlap" -> ((s, d) =>
      graft.operators.TextDedup.crossGroupOverlap(
        table(s, d, "documents"), "source", "text")),

    // Embedding-space quality report: per-label centroids, every vector
    // re-assigned to its nearest centroid, (label, predicted) confusion
    // counts. Integer micro-unit arithmetic end-to-end — see
    // Similarity.labelCentroidConfusion.
    "q106_label_purity" -> ((s, d) =>
      graft.operators.Similarity.labelCentroidConfusion(
        table(s, d, "embeddings"), "vec_id", "embedding", "label")),

    // Conversion funnel (signup → view → click → purchase, 72 h per step):
    // greedy-earliest chain, user-keyed joins against a shrinking frontier.
    // See Temporal.funnelSteps.
    "q108_funnel_steps" -> ((s, d) =>
      graft.operators.Temporal.funnelSteps(
        table(s, d, "events"), "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase"), stepWithinSec = 259200L)),

    // kNN majority-vote labeling: the first 50 vectors (an "unlabeled"
    // batch) classified by the modal label of their 10 nearest labeled
    // neighbors — the auto-labeling / label-propagation step of a data
    // curation loop. Broadcast-query x one corpus scan; vote argmax is a
    // max-struct aggregate. See Similarity.knnClassify.
    "q110_knn_label_vote" -> ((s, d) =>
      Similarity.knnClassify(
        table(s, d, "embeddings"), "vec_id", "embedding", "label",
        col("vec_id") < 50, col("vec_id") >= 50, k = 10)),

    // Per-source robust length outliers (median/MAD, cutoff 3): the
    // corpus-QA screen that catches truncated and concatenated docs a
    // mean/stddev z-score would miss under a skewed length distribution.
    // See Robust.madOutliers.
    "q111_mad_outliers" -> ((s, d) =>
      graft.operators.Robust.madOutliers(
        table(s, d, "documents"), "source", "doc_id", "n_chars", cutoff = 3.0)),

    // Event-volume anomaly screen: daily event counts per type, flagged by
    // the same exact median/MAD operator as q111 — the ingest-monitoring
    // twin of the corpus-QA screen (a day whose volume deviates > 3 MADs
    // from its type's median is a pipeline incident, not noise). Shows the
    // robust-stats operator generalizes across tables unchanged.
    "q120_event_anomaly" -> ((s, d) =>
      graft.operators.Robust.madOutliers(
        table(s, d, "events")
          .groupBy(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n")),
        "event_type", "day", "n", cutoff = 3.0)),

    // ANN index-quality gate: per-query recall@3 of the q34 sign-LSH index
    // against the q33 exact ranking — zero-hit queries surface with recall
    // 0 rather than vanishing. See Similarity.annRecall.
    "q112_ann_recall" -> ((s, d) =>
      Similarity.annRecall(
        table(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 100, k = 3)),

    // Quality-gate FUNNEL: each doc is attributed to the FIRST gate it
    // fails (length → mean-token-length band → stopword floor → pass), and
    // the output is the per-gate casualty count — the report a filtering
    // stage publishes so a threshold change can be attributed to one gate.
    // One narrow per-doc projection + a 4-group aggregate; every ratio is
    // a double division of exact integers.
    "q114_quality_funnel" -> ((s, d) =>
      table(s, d, "documents")
        .select(
          size(split(col("text"), " ")).cast("bigint").as("nt"),
          (length(replace(col("text"), lit(" "), lit(""))).cast("double") /
            size(split(col("text"), " ")).cast("double")).as("mtl"),
          (expr(s"CAST(size(filter(split(text,' '), t -> t IN $stopFunnel)) AS DOUBLE)") /
            size(split(col("text"), " ")).cast("double")).as("sr"))
        .withColumn("gate",
          when(col("nt") < 40, "too_short")
            .when(col("mtl") < 3.8 || col("mtl") > 5.0, "token_len")
            .when(col("sr") < 0.04, "low_stopword")
            .otherwise("pass"))
        .groupBy(col("gate")).agg(count(lit(1)).as("n_docs"))),

    // Dedup-cluster size histogram: how many near-dup clusters exist at
    // each size — the shape report that says whether duplication is a few
    // giant template families or many pairs (decides salting/verify
    // budgets). Two tiny keyed aggs on top of the SHARED candidate graph
    // (same cached lineage as q61/q91).
    "q116_cluster_histogram" -> ((s, d) =>
      TextDedup.connectedComponents(nearDupPairs(s, d))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))),

    // Tokenizer fertility by language: BPE-ish subword tokens per
    // whitespace word — the stat that decides whether a tokenizer is
    // acceptable for a language mix (high fertility = wasted context
    // window). Ratio of two exact BIGINT sums, computed once per language.
    "q115_tokenizer_fertility" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("lang"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .cast("bigint").as("nb"),
          size(split(col("text"), " ")).cast("bigint").as("nw"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("n_bpe_tokens"),
          sum(col("nw")).as("n_ws_tokens"))
        .withColumn("fertility",
          col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double"))),

    // Collocation mining: within-document co-occurrence PMI over the
    // corpus vocabulary — which token pairs travel together far more (or
    // less) than chance. The doc-keyed pair expansion is bounded by
    // per-doc DISTINCT tokens; counts meet
    // through pair-keyed joins. See CorpusStats.tokenPmi.
    "q122_token_pmi" -> ((s, d) =>
      graft.operators.CorpusStats.tokenPmi(
        table(s, d, "documents"), "doc_id", "text", minPairCount = 5)),

    // Cross-document duplicated-n-gram fraction (8-token grams): the
    // boilerplate/memorization screen that catches repeated spans exact
    // and near dedup both miss. Gram identities are native 64-bit hashes;
    // df is one gram-keyed count over the per-doc distinct gram table.
    // See TextDedup.dupNgramFraction.
    "q124_dup_ngram_fraction" -> ((s, d) =>
      TextDedup.dupNgramFraction(
        table(s, d, "documents"), "doc_id", "text", n = 8)),

    // Per-source Zipf-law fit: least-squares slope of log-freq vs log-rank
    // over each source's top terms — natural text sits near -1, template
    // or machine-generated text departs. Rank window runs over the
    // Zipf-bounded per-source vocabulary, regression sums are exact
    // micro-unit BIGINTs. See CorpusStats.zipfSlope.
    "q125_zipf_slope" -> ((s, d) =>
      graft.operators.CorpusStats.zipfSlope(
        table(s, d, "documents"), "source", "text")),

    // First-order Markov transition matrix over each user's time-ordered
    // event stream: (state -> next state) counts + conditional
    // probabilities — the user-journey summary behind funnel design. One
    // per-user lead window (event-id tie-break), |states|²-bounded output.
    // See Temporal.transitionMatrix.
    "q126_event_transitions" -> ((s, d) =>
      graft.operators.Temporal.transitionMatrix(
        table(s, d, "events"), "user_id", "ts", "event_type", "event_id")),

    // Characteristic vocabulary per source: Dunning G² keyness, top-5
    // over-represented tokens — "what makes this slice different" corpus
    // forensics. Closed-form per (source, token) row, vocab-bounded rank
    // window. See CorpusStats.sourceKeyness.
    "q127_source_keyness" -> ((s, d) =>
      graft.operators.CorpusStats.sourceKeyness(
        table(s, d, "documents"), "source", "text", k = 5, minCount = 5)),

    // Pairwise label-centroid cosine similarity: which embedding classes
    // sit confusably close — the geometry report beside q106's confusion
    // matrix. Exact integer centroids/dots, |labels|²-bounded. See
    // Similarity.labelCentroidDistances.
    "q129_centroid_distances" -> ((s, d) =>
      Similarity.labelCentroidDistances(
        table(s, d, "embeddings"), "vec_id", "embedding", "label")),

    // Per-doc n-gram novelty against everything ingested before it (id
    // order): did this document bring new spans, or re-deliver known ones —
    // the incremental-crawl prioritization signal. One gram-keyed
    // min(doc_id) over the shared hashed gram table. See
    // TextDedup.ngramNovelty.
    "q131_ngram_novelty" -> ((s, d) =>
      TextDedup.ngramNovelty(
        table(s, d, "documents"), "doc_id", "text", n = 8)),

    // Burst detection: top-3 spike hours per event type by z-score against
    // that type's own hourly baseline — exact integer moments, closed-form
    // per-row z, per-key rank window over a calendar-bounded bucket table.
    // See Temporal.bucketBurst.
    "q132_event_burst" -> ((s, d) =>
      graft.operators.Temporal.bucketBurst(
        table(s, d, "events"), "event_type", "ts", "hour", topK = 3)),

    // Nucleus (top-0.9) vocabulary coverage per source: distinct tokens
    // needed, most-frequent-first, to cover 90% of occurrences — the
    // head-heaviness stat beside q125's Zipf slope. Vocab-bounded windows
    // only. See CorpusStats.nucleusCoverage.
    "q134_nucleus_coverage" -> ((s, d) =>
      graft.operators.CorpusStats.nucleusCoverage(
        table(s, d, "documents"), "source", "text", p = 0.9)),

    // Containment-scored decontamination: q85's shared-shingle pairs
    // normalized by each EVAL doc's own shingle count — the fraction of
    // the benchmark doc covered by a corpus doc, the threshold quantity
    // (containment >= 0.8 -> drop) decontamination stages actually gate
    // on. Same hashed-shingle join; the per-eval sizes are a broadcast
    // |eval|-row table from the native distinct-shingle counter.
    "q135_eval_containment" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val evalSet = docs.where(col("doc_id") < 10)
        .select(col("doc_id").as("eval_id"), col("text"))
      val pairs = TextDedup.contaminationPairs(docs, "doc_id", "text",
          evalSet, "eval_id", "text")
        .where(col("doc_id") =!= col("eval_id"))
      val evalSize = evalSet.select(col("eval_id"),
        graft.functions.TokenNgrams
          .token_ngram_distinct_count(col("text"), 13).as("n_eval_shingles"))
      pairs.join(broadcast(evalSize), "eval_id")
        .select(col("doc_id"), col("eval_id"), col("n_shared"),
          col("n_eval_shingles"),
          (col("n_shared").cast("double") / col("n_eval_shingles").cast("double"))
            .as("containment"))
    }),

    // Cluster composition forensics over the shared dedup graph: is each
    // near-dup family a cross-source mirror (high entropy) or a
    // within-source repost (entropy 0)? Decides global-vs-per-source
    // dedup. Two keyed aggs on the q61 cluster map. See
    // TextDedup.clusterGroupPurity.
    "q136_cluster_purity" -> ((s, d) =>
      TextDedup.clusterGroupPurity(
        TextDedup.connectedComponents(nearDupPairs(s, d)),
        table(s, d, "documents"), "doc_id", "source")),

    // Pairwise source Jensen-Shannon divergence over the corpus top-200
    // vocabulary — the distribution-level source-drift scalar beside
    // q127's per-token keyness. All tables vocab-bounded after the top-V
    // cut. See CorpusStats.jsDivergence.
    "q137_source_divergence" -> ((s, d) =>
      graft.operators.CorpusStats.jsDivergence(
        table(s, d, "documents"), "source", "text", topV = 200)),

    // Pairwise exact Wasserstein-1 between per-source length
    // distributions — the TRANSPORT distance beside q137's JS (mass
    // overlap) and q158's KS (worst gap): fully integer on the global
    // value grid, one terminal division. See CorpusStats.wassersteinDrift.
    "q292_wasserstein_drift" -> ((s, d) =>
      graft.operators.CorpusStats.wassersteinDrift(
        table(s, d, "documents"), "source", "n_chars")),

    // Per-source vocabulary coverage: Good-Turing unseen mass + the
    // bias-corrected Chao1 richness estimate from the frequency-of-
    // frequencies — "how much vocabulary is this source still hiding",
    // beside q125's Zipf slope and q138's OOV rate. See
    // CorpusStats.vocabCoverage.
    "q297_vocab_coverage" -> ((s, d) =>
      graft.operators.CorpusStats.vocabCoverage(
        table(s, d, "documents"), "source", "text")),

    // Heaps'-law vocabulary-growth curve over 50 id-range checkpoints +
    // the fitted growth exponent beta — the V(N) ~ K*N^beta companion to
    // Zipf (q125) and the Good-Turing panel (q297); beta near 1 flags
    // synthetic-junk corpora whose vocabulary never saturates. See
    // CorpusStats.heapsLaw.
    "q303_heaps_law" -> ((s, d) =>
      graft.operators.CorpusStats.heapsLaw(
        table(s, d, "documents"), "doc_id", "text", buckets = 50)),

    // Per-source OOV occurrence rate against the corpus top-1000 vocab —
    // the tokenizer-coverage planning stat (high OOV = byte-fallback
    // blowup). See CorpusStats.oovRate.
    "q138_oov_rate" -> ((s, d) =>
      graft.operators.CorpusStats.oovRate(
        table(s, d, "documents"), "source", "text", topV = 1000)),

    // Training-mix plan: uniform split of a half-corpus token budget across
    // sources -> per-source target tokens, epochs, upsampling flags. The
    // repeat-factor sheet a pretraining data order executes. See
    // CorpusStats.mixPlan.
    "q139_mix_plan" -> ((s, d) =>
      graft.operators.CorpusStats.mixPlan(
        table(s, d, "documents"), "source", "text",
        maxEpochs = 4.0)),

    // CCNet-style perplexity terciles per source on the q101 LM scores:
    // head/middle/tail doc counts + mean cross-entropy. Cutoffs are exact
    // integer order statistics on the micro-unit scale — no percentile
    // interpolation. See TextLm.crossEntropyMix.
    "q140_ppl_mix" -> ((s, d) =>
      graft.operators.TextLm.crossEntropyMix(
        table(s, d, "documents"), "doc_id", "text", "source")),

    // Winnowed (MOSS) fingerprint near-dup pairs: position-robust k-gram
    // fingerprints via per-document min-hash windows; any shared run of
    // k+w-1 tokens guarantees a shared fingerprint at ~1/w the shingle
    // storage. df-capped inverted lists, never all-pairs. See
    // TextDedup.winnowNearDupPairs.
    "q141_winnow_pairs" -> ((s, d) => winnowPairs(s, d)),

    // SemDeDup: k-means-partitioned semantic dedup over the embedding
    // space — within each Lloyd cluster, drop vectors cosine-close to an
    // earlier member. The cluster count is the scale knob (at web scale
    // nlist grows with the corpus); the pairwise compare never leaves its
    // cluster. See Similarity.semanticDedupFrom.
    "q142_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedupFrom(semFrames(s, d)._2, "vec_id",
        threshold = 0.3)),

    // Embedding-based semantic decontamination: vectors with vec_id % 10
    // = 0 stand in for the eval benchmark; training vectors cosine-close
    // (>= 0.3) to ANY eval vector inside their Lloyd cell are dropped —
    // the paraphrase-robust stage exact-span q361 cannot express. See
    // Similarity.semanticDecontamFrom.
    "q387_semantic_decontam" -> ((s, d) =>
      Similarity.semanticDecontamFrom(semFrames(s, d)._2, "vec_id",
        col("vec_id") % 10 === 0, threshold = 0.3)),

    // Per-source dedup attrition over the q91 retention worklist — the
    // crawl-health report (a source losing 60% to dedup is re-crawling
    // itself). One |sources|-row aggregate on the shared cluster lineage.
    "q143_dedup_attrition" -> ((s, d) => {
      val clusters = TextDedup.connectedComponents(nearDupPairs(s, d))
      val worklist = table(s, d, "documents")
        .select(col("doc_id"), col("source"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"), 1L)
            .otherwise(0L).as("keep"))
      TextDedup.attritionByGroup(worklist, "source")
    }),

    // Exact within-source percentile calibration of document length — rank
    // normalization that makes a raw score comparable across sources. The
    // cumulative window runs over the per-source distinct-VALUE table
    // (bounded by the value range), never over documents. See
    // CorpusStats.percentileCalibration.
    "q144_score_calibration" -> ((s, d) =>
      graft.operators.CorpusStats.percentileCalibration(
        table(s, d, "documents"), "doc_id", "source", "n_chars")),

    // Hard-negative mining: per query, top-5 most-similar vectors with a
    // DIFFERENT label — the contrastive-training pair sheet. TopKAgg
    // k-bounded partials, label re-attached after the cut. See
    // Similarity.hardNegatives.
    "q145_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(
        table(s, d, "embeddings"), "vec_id", "embedding", "label",
        col("vec_id") < 100, k = 5)),

    // Embedding-store hygiene: per label, degenerate-vector counts (zero
    // norm, non-finite components) + the norm envelope — the audit run
    // BEFORE building any ANN index. One projection, one |labels|-row agg.
    "q147_embedding_hygiene" -> ((s, d) =>
      Similarity.embeddingHygiene(
        table(s, d, "embeddings"), "vec_id", "embedding", "label")),

    // Consecutive-token repetition ("the the the" loops): in-row folds
    // only — no explode, no window, no shuffle. The RUN-based complement
    // to q87's n-gram mass ratios. See CorpusStats.consecutiveRepetition.
    "q148_consecutive_repetition" -> ((s, d) =>
      graft.operators.CorpusStats.consecutiveRepetition(
        table(s, d, "documents"), "doc_id", "text")),

    // Template-mill detection: per source, the share of documents carrying
    // the source's most common token-length-sequence shape. See
    // CorpusStats.templateShapes.
    "q149_template_shapes" -> ((s, d) =>
      graft.operators.CorpusStats.templateShapes(
        table(s, d, "documents"), "source", "text")),

    // MinHash banding calibration: estimate-vs-exact Jaccard for every
    // banded candidate pair — the scatter that validates band/draw
    // parameters before a full dedup run. See TextDedup.minhashCalibration.
    "q150_lsh_calibration" -> ((s, d) =>
      TextDedup.minhashCalibration(
        table(s, d, "documents"), "doc_id", "text")),

    // DSIR-style importance weights per source: token-weighted avg bigram
    // log-likelihood ratio, target LM (lang = 'en') vs corpus LM — the
    // up-/down-sampling signal of importance-resampled data selection.
    // One tokenize feeds both models. See TextLm.importanceWeights.
    "q151_importance_weights" -> ((s, d) =>
      graft.operators.TextLm.importanceWeights(
        table(s, d, "documents"), "doc_id", "text", "source",
        col("lang") === "en")),

    // Blocked Levenshtein near-dup pairs: prefix-block (16 chars), compare
    // 64-char prefixes, dist <= 20, blocks capped at 50 members — the
    // typo-level complement to the token-set dedup family. See
    // TextDedup.blockedEditDistance.
    "q152_edit_near_dup" -> ((s, d) =>
      TextDedup.blockedEditDistance(
        table(s, d, "documents"), "doc_id", "text", maxBlock = 50)),

    // Leakage-free split: the q113 hash carve keyed by NEAR-DUP CLUSTER
    // (cluster representative id, singletons by their own id) instead of
    // doc id, so a near-dup family can never straddle train/test — the
    // fix for exactly the leakage q118 audits. Per-split doc and group
    // counts; the no-straddle property is spec-asserted.
    "q153_cluster_split" -> ((s, d) => {
      val clusters = TextDedup.connectedComponents(nearDupPairs(s, d))
      table(s, d, "documents").select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("gid"))
        .select(graft.operators.Scale.splitAssign(
            col("gid"), Seq(("train", 0.9), ("val", 0.95)), "test").as("split"),
          col("gid"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("gid")).as("n_groups"))
    }),

    // Ingest drift monitor: per day, JS divergence of the event-type
    // distribution vs the previous day — the intake alarm that fires when
    // the incoming mix shifts. See Temporal.adjacentDrift.
    "q154_ingest_drift" -> ((s, d) =>
      graft.operators.Temporal.adjacentDrift(
        table(s, d, "events"), "event_type", "ts", "day")),

    // One BPE merge iteration: top-20 adjacent character pairs by corpus
    // occurrence, counted over the VOCABULARY (distinct token x count) —
    // the tokenizer-training inner loop at its corpus-scale shape. See
    // CorpusStats.bpeMergeCandidates.
    "q156_bpe_merges" -> ((s, d) =>
      graft.operators.CorpusStats.bpeMergeCandidates(
        table(s, d, "documents"), "text", k = 20)),

    // Language-ID confusion matrix: q72's n-gram classifier aggregated
    // against the labeled lang column — the eval sheet that decides
    // whether a cheap classifier can gate a language-filtered corpus.
    "q157_langid_confusion" -> ((s, d) => {
      def hits(grams: String) =
        expr(s"CAST(size(filter(array$grams, g -> instr(text, g) > 0)) AS BIGINT)")
      table(s, d, "documents").select(
        col("lang"),
        hits("('th','he','an','in','er')").as("en_bigrams"),
        hits("('ch','ei','de','en','un')").as("de_bigrams"),
        hits("('le','es','on','ou','qu')").as("fr_bigrams"))
        .select(col("lang"),
          when(col("en_bigrams") >= col("de_bigrams") &&
            col("en_bigrams") >= col("fr_bigrams") && col("en_bigrams") > 0, "en")
            .when(col("de_bigrams") >= col("fr_bigrams") && col("de_bigrams") > 0, "de")
            .when(col("fr_bigrams") > 0, "fr")
            .otherwise("unk").as("guessed_lang"))
        .groupBy(col("lang"), col("guessed_lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Per-source Kolmogorov-Smirnov distance of the document-length
    // distribution vs the rest of the corpus — the numeric drift test
    // beside q137's categorical JS. Exact integer supremum, one division.
    // See CorpusStats.ksDrift.
    "q158_length_ks" -> ((s, d) =>
      graft.operators.CorpusStats.ksDrift(
        table(s, d, "documents"), "source", "n_chars")),

    // Rank-ensemble quality score: mean within-corpus percentile of three
    // cheap metrics (length, type-token ratio, stopword ratio) — combining
    // incomparable units by rank, the q109 fusion idea applied to quality
    // gating. See CorpusStats.rankEnsembleQuality.
    "q159_quality_ensemble" -> ((s, d) =>
      graft.operators.CorpusStats.rankEnsembleQuality(
        table(s, d, "documents"), "doc_id", "text", stopFunnel)),

    // Context-window padding waste per source at ctx=256: tokens lost to
    // per-document padding if docs were NOT packed (the argument FOR q88's
    // sequence packing, quantified). Exact integer arithmetic, one
    // division per source.
    "q160_padding_waste" -> ((s, d) =>
      table(s, d, "documents")
        .select(col("source"),
          size(split(col("text"), " ")).cast("bigint").as("__t"))
        .select(col("source"), col("__t"),
          expr("CAST(((__t + 255) DIV 256) * 256 - __t AS BIGINT)").as("__pad"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__t")).as("n_tokens"),
          sum(col("__pad")).as("pad_tokens"))
        .withColumn("waste_frac",
          round(col("pad_tokens").cast("double") /
            (col("n_tokens") + col("pad_tokens")).cast("double"), 6))),

    // Near-dup graph degree histogram: how many docs have k verified
    // near-dup partners — the graph-health stat that separates scattered
    // pairs (degree 1) from template families (high degree) before a
    // retention policy runs. Two tiny keyed aggs on the shared pair graph.
    "q161_dedup_degree" -> ((s, d) =>
      nearDupPairs(s, d)
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))),

    // Product-quantization ANN (Jegou et al. ADC): 4 subspaces x 16
    // centroids, per-subspace Lloyd codebooks, integer micro-unit ADC
    // candidate scan, exact-cosine re-rank of the top-30. The 128x-
    // compressed-codes stage of IVFADC. See Similarity.pqKnn.
    "q165_pq_ann" -> ((s, d) =>
      Similarity.pqKnn(
        table(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") >= 100 && col("vec_id") < 120, k = 5)),

    // Weekly cohort retention matrix: users bucketed by first-activity
    // week, each cell = how many were active k weeks later + the rate —
    // the engagement table every product-analytics stack ships. See
    // Temporal.cohortRetention.
    "q166_cohort_retention" -> ((s, d) =>
      graft.operators.Temporal.cohortRetention(
        table(s, d, "events"), "user_id", "ts")),

    // Rolling 7-day active users per day: bounded ≤7x generator expansion
    // of the distinct (user, day) table, never a per-day range re-scan.
    // See Temporal.rollingActive.
    "q167_rolling_wau" -> ((s, d) =>
      graft.operators.Temporal.rollingActive(
        table(s, d, "events"), "user_id", "ts", windowDays = 7)),

    // Full IVFADC (q50's coarse quantizer + q165's product quantizer,
    // residual-encoded): 8 coarse lists, nprobe=2, 4x16 residual
    // codebooks, per-(query, list) integer ADC tables, exact re-rank.
    // See Similarity.ivfpqKnn.
    "q168_ivfpq_ann" -> ((s, d) =>
      Similarity.ivfpqKnn(
        table(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") >= 100 && col("vec_id") < 120, k = 5)),

    // Per-source language-mix entropy + effective language count — the
    // monolingual-vs-mixed census behind per-source language budgets.
    // Two aggs on the (source, lang) table; micro-nat quantized logs.
    // See CorpusStats.categoryEntropy.
    "q261_lang_mix_entropy" -> ((s, d) =>
      graft.operators.CorpusStats.categoryEntropy(
        table(s, d, "documents"), "source", "lang")),

    // Matryoshka truncation audit: recall@10 of 16-dim-prefix cosine
    // neighbors against full 64-dim neighbors on a bounded query sample
    // — the measurement that licenses serving truncated embeddings.
    // See Similarity.dimTruncationRecall.
    "q262_truncation_recall" -> ((s, d) =>
      Similarity.dimTruncationRecall(
        table(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 50, k = 10, dims = 16)),

    // Bitext-mining gate: margin-scored MUTUAL nearest neighbors between
    // the even side and the odd side of a bounded embedding sample
    // (ratio margin, k=4) — only pairs that pick each other survive.
    // See Similarity.marginMutualPairs.
    "q265_mutual_margin" -> ((s, d) =>
      Similarity.marginMutualPairs(
        table(s, d, "embeddings").where(col("vec_id") < 200),
        "vec_id", "embedding", sideA = col("vec_id") % 2 === 0, k = 4)),

    // Blocklist phrase filter: every occurrence of every dictionary
    // phrase in ONE corpus pass (phrases as data — never a per-phrase
    // scan, never |docs| x |phrases|). The banned-phrase screen of a
    // corpus-cleaning stage. See TextSearch.blocklistMatches.
    "q277_blocklist_phrases" -> ((s, d) => {
      import s.implicits._
      val dict = Seq(("p1", "table hash"), ("p2", "slow key"),
        ("p3", "spark"), ("p4", "merge group")).toDF("pid", "phrase")
      graft.operators.TextSearch.blocklistMatches(
        table(s, d, "documents"), "doc_id", "text", dict, "pid", "phrase")
    }),

    // Hill tail-index of the per-LANGUAGE length distribution over the
    // top 50 order statistics — "is this tail genuinely power-law, and
    // how heavy" beside q125's Zipf slope; top-(k+1) via TopKAgg, never
    // a per-group sort. Languages (not sources) so every group clears
    // the k+1 = 51 order statistics at sf0.01. See Stats.hillTailIndex.
    "q271_hill_tail" -> ((s, d) =>
      graft.operators.Stats.hillTailIndex(
        table(s, d, "documents"), "lang", "n_chars", "doc_id", k = 50)),

    // Interpolated Kneser-Ney bigram cross-entropy (D = 3/4 absolute
    // discount + add-one-floored KN continuation): the production
    // upgrade of q101's add-one model — same per-TYPE micro-nat
    // quantization and exact integer per-doc sums, model derived
    // entirely from the observed-bigram type table. See
    // TextLm.knCrossEntropyFrom.
    "q342_kn_xent" -> ((s, d) =>
      graft.operators.TextLm.knCrossEntropyFrom(
        knDocBigrams(s, d), knModelShared(s, d), "doc_id")),

    // SoftDeDup loss-weight reweighting (Xia et al. 2024): the dedup
    // signal as per-doc LOSS WEIGHTS instead of binary drops — rarity =
    // -geometric-mean corpus bigram frequency off the shared doc-bigram
    // inventory, weight = rarity / mean rarity (mean weight ~ 1). See
    // TextLm.softDedupWeights.
    "q388_softdedup_weights" -> ((s, d) => softDedupWeightsShared(s, d)),

    // q140's CCNet tercile mix driven by the KN scores: identical exact
    // integer order-statistic cutoffs, production smoothing. See
    // TextLm.tercileMix.
    "q343_kn_ppl_mix" -> ((s, d) =>
      graft.operators.TextLm.tercileMix(
        graft.operators.TextLm.knCrossEntropyFrom(
          knDocBigrams(s, d), knModelShared(s, d), "doc_id"),
        table(s, d, "documents"), "doc_id", "source")),

    // q151's DSIR importance weights with BOTH models KN-smoothed; the
    // target side runs the full interpolation ladder (bigram observed /
    // history-only / continuation-only), every rung a BIGINT rational.
    // See TextLm.knImportanceWeightsFrom.
    "q344_kn_importance_weights" -> ((s, d) =>
      graft.operators.TextLm.knImportanceWeightsFrom(
        knDocBigrams(s, d), knModelShared(s, d),
        table(s, d, "documents"), "doc_id", "text", "source",
        col("lang") === "en")),

    // End-to-end dedup pipeline worklist: exact → MinHash near-dup →
    // semantic in sequence (each stage sees the previous stage's
    // survivors; pair graphs computed once on the full corpus), one row
    // per document with its fate + survivor attribution. Composes the
    // q28/q31/q61/q91/q142 lineage into the run-this-first curation
    // recipe. See TextDedup.dedupPipeline.
    "q345_dedup_pipeline" -> ((s, d) => dedupWorklist(s, d)),

    // The q345 funnel: per-stage docs_in / docs_removed / docs_out in
    // stage order — the attrition report a curation run logs. One 1-row
    // aggregate over the shared worklist. See TextDedup.dedupFunnel.
    "q346_dedup_funnel" -> ((s, d) =>
      TextDedup.dedupFunnel(dedupWorklist(s, d))),

    // Full interpolated Kneser-Ney at order 3: discounted trigram layer
    // backing into CONTINUATION-count bigram and unigram layers (the
    // defining KN property), fixed-order double evaluation per trigram
    // TYPE, micro-nat quantization, exact per-doc sums. See
    // TextLm.kn3CrossEntropyFrom.
    "q347_kn3_xent" -> ((s, d) =>
      graft.operators.TextLm.kn3CrossEntropyFrom(
        knDocBigrams(s, d), table(s, d, "documents"), "doc_id", "text")),

    // RHO-style excess-loss selection: per-doc xent under the weak
    // add-one bigram LM minus xent under the strong KN reference, top
    // quarter per source kept by an integer-order-statistic cut (ties
    // fall to the unselected side). See TextLm.excessLossSelectFrom.
    "q348_excess_loss_select" -> ((s, d) =>
      graft.operators.TextLm.excessLossSelectFrom(
        knDocBigrams(s, d), knModelShared(s, d),
        table(s, d, "documents"), "doc_id", "text", "source")),

    // MODIFIED Kneser-Ney bigram cross-entropy: count-specific discounts
    // D1/D2/D3+ estimated from the corpus's own count-of-counts n1..n4
    // (Chen & Goodman 1998) — the smoothing production LM toolkits
    // default to; formula text shared verbatim with the oracle. See
    // TextLm.mknCrossEntropyFrom.
    "q349_mkn_xent" -> ((s, d) =>
      graft.operators.TextLm.mknCrossEntropyFrom(
        knDocBigrams(s, d), table(s, d, "documents"), "doc_id", "text")),

    // Unigram-LM (SentencePiece) tokenizer training step: seed subword
    // vocabulary (all substrings <= 4 chars), one hard-EM iteration with
    // exact-integer Viterbi segmentation per word TYPE, min-start
    // tie-break. See TextPrep.unigramLmTrainStepFrom.
    "q350_unigram_lm_em" -> ((s, d) =>
      graft.operators.TextPrep.unigramLmTrainStepFrom(unigramDpShared(s, d))),

    // Line-level dedup with document reconstruction (CCNet/FineWeb):
    // drop every line (3-token tile) occurring in >= 3 distinct docs,
    // rebuild each doc from its surviving lines in order; the md5 of the
    // rebuilt text travels instead of the text. See TextDedup.lineDedup.
    "q351_line_dedup" -> ((s, d) =>
      TextDedup.lineDedup(table(s, d, "documents"), "doc_id", "text")),

    // Paragraph-granular MinHash near-dup pairs over the q351 rebuilt
    // clean text — the FineWeb ordering (strip shared boilerplate lines
    // FIRST, then near-dup on content): composition of the two
    // shared-rule operators; pairs are on clean-text shingles. See
    // TextDedup.paragraphMinhashPairs.
    "q359_paragraph_minhash" -> ((s, d) =>
      TextDedup.paragraphMinhashPairs(
        table(s, d, "documents"), "doc_id", "text")),

    // DSIR importance RESAMPLING draw — the q151 weights turned into an
    // actual deterministic sample: Gumbel-top-k over per-doc SUM
    // log-ratios (sampling without replacement ∝ exp(log-weight)); the
    // Gumbel comes from the house md5-fold uniform, quantized once. See
    // TextLm.dsirResampleFrom.
    "q360_dsir_resample" -> ((s, d) =>
      graft.operators.TextLm.dsirResampleFrom(
        knDocBigrams(s, d), table(s, d, "documents"), "doc_id", "text",
        col("lang") === "en", k = 100)),

    // Span-level eval-set decontamination with reconstruction — the
    // surgical form of q135's whole-doc gate: 4-token tiles of train
    // docs that appear anywhere in the eval split (house md5 carve,
    // 1/16 of docs — membership a pure function of id) are removed and
    // the doc rebuilt; md5 travels. See TextDedup.decontaminateSpans.
    "q361_decontam_rebuild" -> ((s, d) =>
      TextDedup.decontaminateSpans(
        table(s, d, "documents"), "doc_id", "text",
        graft.operators.Sketches.hash60(concat_ws("#", lit("ev"),
          col("doc_id").cast("string"))) < lit(72057594037927936L))),

    // Intra-document line dedup with reconstruction — the CCNet
    // within-page stage: repeats of a line AFTER its first occurrence
    // in its own doc are dropped, doc rebuilt; zero corpus-global state
    // (every shuffle carries the doc id). See
    // TextDedup.intraDocLineDedup.
    "q363_intradoc_line_dedup" -> ((s, d) =>
      TextDedup.intraDocLineDedup(
        table(s, d, "documents"), "doc_id", "text")),

    // D4-style prototypicality band report (Tirumala et al. 2023): the
    // q142 cluster lineage, cos(point, own centroid) micro-quantized
    // once, quartile band cuts as exact integer order statistics over
    // each cluster's value grid — outlier_drop / kept / proto_drop. See
    // Similarity.prototypicalityBandFrom.
    "q362_proto_band" -> ((s, d) =>
      Similarity.prototypicalityBandFrom(
        semFrames(s, d)._2, semFrames(s, d)._1, "vec_id")),

    // Held-out KN cross-entropy per source — train the KN model on the
    // md5-carve train split, score ONLY the held-out eighth with the
    // full interpolation ladder: the self-scoring-bias-free quality
    // signal (q342 scores the corpus with itself). Rides the shared
    // doc-bigram cache. See TextLm.heldoutKnXentFrom.
    "q364_heldout_kn_xent" -> ((s, d) =>
      graft.operators.TextLm.heldoutKnXentFrom(
        knDocBigrams(s, d), table(s, d, "documents"),
        "doc_id", "text", "source")),

    // SentencePiece-style character-coverage alphabet selection (Kudo
    // & Richardson 2018 §4.1): minimal char-frequency prefix covering 99%
    // of occurrences; per-source OOV audit. The stage that runs BEFORE
    // every tokenizer trainer on this shelf (q331/q350/q357). See
    // TextPrep.charCoverage.
    "q365_char_coverage" -> ((s, d) =>
      graft.operators.TextPrep.charCoverage(
        table(s, d, "documents"), "text", "source")),

    // Bloom-filter paragraph-dedup calibration census (Dolma BFF): for
    // k = 1..3 probe hashes into a 2^16-bit filter, how many distinct
    // line types would be FALSELY flagged under the canonical md5
    // insertion order, next to the true-dup mass any filter catches.
    // See TextDedup.bloomDedupCensus.
    "q366_bloom_dedup" -> ((s, d) =>
      TextDedup.bloomDedupCensus(
        table(s, d, "documents"), "doc_id", "text")),

    // BLEU-2 diagnostic over the shared MinHash near-dup pair set: clipped
    // n-gram precisions + brevity penalty separate true mirrors from
    // set-equal/mass-skewed pairs that shingle-set Jaccard cannot tell
    // apart. See TextDedup.pairBleu.
    "q367_pair_bleu" -> ((s, d) =>
      TextDedup.pairBleu(
        nearDupPairs(s, d), table(s, d, "documents"), "doc_id", "text")),

    // Data-scaling-law fit: held-out KN cross-entropy at nested train
    // carves (1/8, 2/8, 4/8, 7/8 of the corpus — q364's md5 carve) plus
    // the integer-hardened OLS slope of xent on ln(train tokens) — "is
    // more of THIS corpus still buying loss?". Rides the shared
    // doc-bigram cache. See TextLm.dataScalingFitFrom.
    "q368_scaling_fit" -> ((s, d) =>
      graft.operators.TextLm.dataScalingFitFrom(
        knDocBigrams(s, d), table(s, d, "documents"), "doc_id", "text")),

    // PER-LANGUAGE KN models, each scoring its own slice — the
    // multilingual CCNet shape (a corpus-global model makes minority
    // languages look uniformly "bad"); every join carries the lang key,
    // so the whole computation shards by language. Rides the shared
    // doc-bigram cache. See TextLm.groupedKnXentFrom.
    "q369_lang_kn_xent" -> ((s, d) =>
      graft.operators.TextLm.groupedKnXentFromScored(
        langKnScored(s, d), "doc_id", "lang")),

    // Jelinek-Mercer deleted-interpolation EM: lambda in
    // p = lambda*p_ML + (1-lambda)*p_uni LEARNED from held-out data
    // (the house 'ho' carve) over 3 exactly-replayable integer EM
    // rounds — the classic smoothing-weight estimation beside KN's
    // fixed D = 3/4. Rides the shared doc-bigram cache. See
    // TextLm.jmDeletedInterpolationFrom.
    "q370_jm_lambda_em" -> ((s, d) =>
      graft.operators.TextLm.jmDeletedInterpolationFrom(
        knDocBigrams(s, d), table(s, d, "documents"), "doc_id", "text")),

    // The COMPLETE multilingual CCNet recipe (Wenzek et al. 2020): each
    // language's docs scored by ITS OWN KN model (q369's grouped
    // models, per-doc form), then head/middle/tail terciles WITHIN each
    // language (q343's integer order-statistic mix) — per-language
    // models + per-language cuts, so no language's distribution skews
    // another's buckets. Rides the shared doc-bigram cache. See
    // TextLm.groupedKnXentPerDocFrom + tercileMix.
    "q374_lang_kn_mix" -> ((s, d) =>
      graft.operators.TextLm.tercileMix(
        // per-doc scores off the shared lang_kn_scored frame, persisted:
        // the tercile stage references the scored docs three times
        // (value grid, totals, bucket join) — unpersisted, Spark rebuilt
        // the chain per reference (measured 21.9 s at sf0.1)
        graft.operators.CacheScope.persist(
          graft.operators.TextLm.groupedKnXentPerDocFromScored(
            langKnScored(s, d), "doc_id")),
        table(s, d, "documents"), "doc_id", "lang")),

    // Johnson-Lindenstrauss ±1 projection recall gate (Achlioptas 2003):
    // 64 -> 16 dims with a deterministic md5-parity sign matrix (one
    // broadcast row), projected-space exact top-5 vs full-dimension
    // exact top-5 per query — LSH (q112) approximates the SEARCH, JL
    // approximates the SPACE. See Similarity.jlRecall.
    "q373_jl_recall" -> ((s, d) =>
      Similarity.jlRecall(table(s, d, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 100, k = 5, dOut = 16)),

    // Min-K%++ membership score (Zhang et al. 2024): q354's Min-K% with
    // each token z-NORMALIZED by its context's next-token distribution
    // (mu = -entropy, sigma over the FULL vocab — closed-form via the
    // (nc+1)-value grid minus per-history observed sums, never
    // |histories|x|V| work). Rides the shared doc-bigram cache. See
    // TextLm.minKppProbFrom.
    "q371_minkpp_prob" -> ((s, d) =>
      graft.operators.TextLm.minKppProbFrom(
        knDocBigrams(s, d), table(s, d, "documents"), "doc_id", "text")),

    // Per-source segmentation fertility under the unigram-LM seed model
    // — the train->apply round trip for q350 (as q334 is to q331's BPE):
    // Viterbi piece counts per word TYPE, occurrence-weighted per
    // source. See TextPrep.unigramLmFertilityFrom.
    "q352_unigram_fertility" -> ((s, d) =>
      graft.operators.TextPrep.unigramLmFertilityFrom(unigramDpShared(s, d),
        table(s, d, "documents"), "text", "source", maxWordLen = 16)),

    // Unigram-LM vocabulary pruning (Kudo 2018 §3): drop the bottom half
    // of multi-char pieces by EM usage (order-statistic cut, ties drop;
    // single chars always kept), re-normalize with an add-one floor,
    // re-segment, report vocab + fertility deltas. Completes the
    // SentencePiece trio q350 (train) / q352 (apply) / q353 (prune).
    // See TextPrep.unigramLmPruneFrom.
    "q353_unigram_prune" -> ((s, d) =>
      graft.operators.TextPrep.unigramLmPruneFrom(unigramDpShared(s, d),
        keepNum = 1, keepDen = 2)),

    // Min-K% Prob membership/contamination score (Shi et al. 2023): mean
    // xent of each doc's 20% least-likely bigram instances under the KN
    // model — low = memorized/contaminated signature. The model-side
    // audit beside the q85/q118/q135 overlap checks. See TextLm.minKProbFrom.
    "q354_mink_prob" -> ((s, d) =>
      graft.operators.TextLm.minKProbFrom(
        knDocBigrams(s, d), knModelShared(s, d), "doc_id")),

    // DoReMi-style domain reweighting (Xie et al. 2023): per-source
    // clamped excess loss (add-one proxy vs KN reference — the q348
    // shelf) drives 4 Group-DRO multiplicative-update rounds with 1/5
    // uniform smoothing, every round exact integer arithmetic on the
    // |sources|-row grid. Output = the round-by-round weight trajectory.
    // See TextLm.doremiWeightsFrom.
    "q356_doremi_weights" -> ((s, d) =>
      graft.operators.TextLm.doremiWeightsFrom(
        knDocBigrams(s, d), knModelShared(s, d),
        table(s, d, "documents"), "doc_id", "text", "source")),

    // Gopher repetition-rule census (Rae et al. 2021 §A1.1 Table A1,
    // ALL 13 repetition rules): per-doc dup-line/dup-paragraph
    // fractions (count AND char mass, house 3-/10-token tiles),
    // top-2/3/4-gram char coverage, and the duplicate-5..10-gram
    // covered-character fractions, each an exact half-up 6-dp
    // rational, with the all-rules pass flag at the paper's
    // thresholds. See TextDedup.gopherRepetitionFrom.
    "q375_gopher_repetition" -> ((s, d) =>
      TextDedup.gopherRepetitionFrom(gopherMicroShared(s, d))),

    // The q375 census rolled up per source: one row per (source, rule)
    // with failure count + 6-dp failure rate, plus the 'all' row — the
    // corpus-card table a curation run reports. See
    // TextDedup.gopherPassReportFrom.
    "q376_gopher_report" -> ((s, d) =>
      TextDedup.gopherPassReportFrom(gopherMicroShared(s, d),
        table(s, d, "documents"), "doc_id", "source")),

    // Per-language UniMax over the CCNet lineage: per-lang KN tercile
    // keep (head+middle, the q374 cuts) off the shared lang_kn_scored
    // cache, then Chung et al. 2023 closed-form waterfilling across
    // LANGUAGES on the kept token counts (2-epoch caps, half-corpus
    // budget). See TextLm.langUnimaxFromScored.
    "q378_lang_unimax" -> ((s, d) =>
      graft.operators.TextLm.langUnimaxFromScored(
        graft.operators.TextLm.groupedKnXentPerDocFromScored(
          langKnScored(s, d), "doc_id"),
        table(s, d, "documents"), "doc_id", "text", "lang")),

    // KenLM-style quantized-model size/loss audit (Heafield 2011): the
    // shared KN model's memory at 4/8/16-bit equal-frequency codebooks
    // and the corpus xent delta each costs — order-statistic bins on
    // the lp_mu value grid, exact integer codebooks and deltas. See
    // TextLm.knQuantAudit.
    "q379_kn_quant_audit" -> ((s, d) =>
      graft.operators.TextLm.knQuantAudit(
        knModelShared(s, d), knDocBigrams(s, d))),

    // Gopher QUALITY-rule census (Rae et al. 2021 §A1.1, first block):
    // word count / mean word length / symbol ratio / bullet + ellipsis
    // line fractions / alphabetic-word fraction / stop-set presence,
    // pass at the paper's thresholds — the non-repetition half of the
    // q375 gate. See TextDedup.gopherQualityRules.
    "q380_gopher_quality" -> ((s, d) => gopherQualityShared(s, d)),

    // Rule-vs-LM cross-audit: per q375 rule (and the all-rules gate),
    // mean KN xent of passing vs failing docs over the scored
    // population — is each repetition threshold actually separating by
    // LM quality on THIS corpus? Rides the shared KN caches. See
    // TextDedup.gopherXentAblationFrom.
    "q381_gopher_xent_ablation" -> ((s, d) =>
      TextDedup.gopherXentAblationFrom(gopherMicroShared(s, d),
        graft.operators.TextLm.knCrossEntropyFrom(
          knDocBigrams(s, d), knModelShared(s, d), "doc_id"), "doc_id")),

    // Duplicate-cluster size census over the shared MinHash pair graph:
    // components by size + the singleton row — the corpus-card
    // histogram every near-dup stage reports (sum(n_docs) = |corpus|).
    // See TextDedup.dupClusterCensus.
    "q382_dup_cluster_census" -> ((s, d) =>
      TextDedup.dupClusterCensus(
        table(s, d, "documents"), "doc_id", nearDupPairs(s, d))),

    // Self-BLEU-4 corpus diversity census (Zhu et al. 2018): every doc
    // BLEU-scored against the rest of the corpus as one reference pool
    // — internal-repetitiveness audit below the dedup thresholds. See
    // TextDedup.selfBleu.
    "q383_self_bleu" -> ((s, d) =>
      TextDedup.selfBleu(table(s, d, "documents"), "doc_id", "text")),

    // The COMPLETE Gopher gate: repetition rules (q375) AND quality
    // rules (q380) conjoined per document, rolled up per source with
    // the retention rate — the keep/drop artifact the two censuses
    // feed. See TextDedup.gopherFullGateFrom.
    "q385_gopher_full_gate" -> ((s, d) =>
      TextDedup.gopherFullGateFrom(gopherMicroShared(s, d),
        gopherQualityShared(s, d),
        table(s, d, "documents"), "doc_id", "source")),

    // Extractable-memorization census (Carlini et al. 2021/2023): per
    // prompt length k in {5, 10, 20}, how many k-token contexts (and
    // how much occurrence mass) deterministically fix their next token
    // — the repeated-and-deterministic slice is the regurgitation risk
    // the dedup shelf exists to remove. See
    // TextDedup.extractableMemorizationFrom.
    "q389_extractable_memorization" -> ((s, d) =>
      TextDedup.extractableMemorizationFrom(Seq(
        5 -> memWindows5Shared(s, d), 10 -> memWindows10Shared(s, d),
        20 -> memWindows20Shared(s, d)))),

    // Dedup x quality interaction census (the FineWeb ablation
    // question): per dedup-pipeline stage, Gopher-gate pass/fail doc
    // counts and the stage's pass rate — rides the session-shared
    // worklist + the two shared-rule censuses. See
    // TextDedup.dedupQualityInteractionFrom.
    "q392_dedup_quality_interaction" -> ((s, d) =>
      TextDedup.dedupQualityInteractionFrom(gopherMicroShared(s, d),
        gopherQualityShared(s, d), dedupWorklist(s, d))),

    // Per-document memorization-risk drill-down (Carlini et al.): the
    // fraction of each doc's 10-token windows that are repeated-and-
    // deterministic corpus-wide — the docs a dedup pass should kill
    // first. Fingerprint-keyed aggregate + join, no pair join. See
    // TextDedup.memorizationRiskFrom.
    "q393_memorization_risk" -> ((s, d) =>
      TextDedup.memorizationRiskFrom(memWindows10Shared(s, d))),

    // Per-source memorization-risk census over the k grid (Carlini et
    // al. 2023's discoverable-extraction-vs-prompt-length curve, rolled
    // to the curation-actionable unit): per (k, source), pooled risky-
    // window fraction + high-risk doc count (majority rule, exact
    // integer compare). See TextDedup.memorizationRiskBySourceFrom.
    "q397_memorization_by_source" -> ((s, d) =>
      TextDedup.memorizationRiskBySourceFrom(Seq(
          5 -> memWindows5Shared(s, d), 10 -> memWindows10Shared(s, d),
          20 -> memWindows20Shared(s, d)),
        table(s, d, "documents").select(col("doc_id").cast("long")
          .as("doc_id"), col("source")))),

    // SOFT-weighted data-constrained allocation: q388's SoftDedup loss
    // weights turned into the allocation input (Xia et al. 2024's
    // intended use) — per-source effective mass = sum(weight * tokens)
    // over the scored population, then the q386 Muennighoff grid/
    // waterfill on the soft mass. Rides the session-shared KN doc-bigram
    // inventory. See Scale.softWeightedMix.
    "q394_soft_weighted_mix" -> ((s, d) =>
      graft.operators.Scale.softWeightedMix(table(s, d, "documents"),
        "doc_id", "source", "text", softDedupWeightsShared(s, d))),

    // Allocation ABLATION across the three discount paths: raw (q386),
    // dedup-discounted (q391, Lee x Muennighoff) and soft-weighted
    // (q394, Xia) allocations side by side per source — each chain run
    // verbatim as it would standalone; the decision table a mixing run
    // consults. See Scale.allocationAblationFrom.
    "q398_allocation_ablation" -> ((s, d) =>
      graft.operators.Scale.allocationAblationFrom(table(s, d, "documents"),
        "doc_id", "text", "source", softDedupWeightsShared(s, d),
        ScaleQueries.exactSubstrDocShared(s, d))),

    // Corpus data card v2 — the release-card roll-up of the r17/r18
    // shelves in ONE row: complete Gopher-gate retention (q375 x q380
    // conjunction), dedup-pipeline attrition (q345's worklist),
    // extractable-memorization fraction at k=10 (q389), corpus effective
    // epochs at the 2x/cap-4 budget (q386: sum eff_tokens / sum tokens),
    // and BPE fertility over the modeled-word population (q390's bpe
    // row, corpus-level). Pure composition over session-shared artifacts
    // (gopher_micro, gopher_quality, dedup_worklist, bpe_dict) plus the
    // q389 k=10 inventory; every ratio the house half-up 6-dp rational.
    "q395_corpus_card_v2" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val gate = gopherMicroShared(s, d)
        .select(col("doc_id"), col("pass").as("__rp"))
        .join(gopherQualityShared(s, d)
          .select(col("doc_id"), col("pass").as("__qp")), Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__rp") * col("__qp")).as("__npass"))
        .select(col("n_docs"),
          (expr("CAST((CAST(2 AS DECIMAL(38,0)) * __npass * 1000000" +
              " + n_docs) DIV (2 * n_docs) AS BIGINT)")
            .cast("double") / lit(1e6)).as("gopher_retention"))
      val funnel = dedupWorklist(s, d)
        .agg(count(lit(1)).as("__t"),
          sum(when(col("stage") === "retained", 0L).otherwise(1L))
            .as("__rm"))
        .select((expr("CAST((CAST(2 AS DECIMAL(38,0)) * __rm * 1000000" +
            " + __t) DIV (2 * __t) AS BIGINT)")
          .cast("double") / lit(1e6)).as("dedup_removed_frac"))
      val extr = TextDedup.extractableMemorizationFrom(
          Seq(10 -> memWindows10Shared(s, d)))
        .select(col("extractable_frac").as("extractable_frac_k10"))
      val effE = graft.operators.Scale.dataConstrainedMix(docs, "source",
          "text")
        .agg(sum(col("eff_tokens")).as("__de"),
          sum(col("n_tokens")).as("__u"))
        .select((expr("CAST((CAST(2 AS DECIMAL(38,0)) * __de * 1000000" +
            " + __u) DIV (2 * __u) AS BIGINT)")
          .cast("double") / lit(1e6)).as("eff_epochs"))
      // r20 (guide §2.3 — aggregate before you shuffle/join): word
      // INSTANCES collapse to Zipf-bounded TYPES with a map-side-combined
      // count before touching the dict, so the join probes |vocab| rows
      // instead of every corpus token; Σcnt / Σcnt·np over the type join
      // equal count(1) / Σnp over the instance join exactly
      val fert = docs.select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 1 && length(col("w")) <= 16)
        .groupBy(col("w")).agg(count(lit(1)).as("__cnt"))
        .join(bpeTrained(s, d)._2.select(col("w"),
          size(split(col("sym"), " ")).cast("long").as("__np")), Seq("w"))
        .agg(sum(col("__cnt")).as("__nw"),
          sum(col("__cnt") * col("__np")).as("__p"))
        .select((expr("CAST((CAST(2 AS DECIMAL(38,0)) * __p * 1000000" +
            " + __nw) DIV (2 * __nw) AS BIGINT)")
          .cast("double") / lit(1e6)).as("bpe_fertility"))
      gate.crossJoin(funnel).crossJoin(extr).crossJoin(effE)
        .crossJoin(fert)
    })
  )

  /** Squared Euclidean distance between list columns `v` and `c` as the
    * three sequential folds |v|² − 2·v·c + |c|² (Similarity's fold order). */
  private def d2(v: String, c: String) =
    s"""list_reduce(list_transform($v, x -> x*x), (a,x) -> a+x)
       |        - 2.0 * list_reduce(list_transform(range(1, len($v)+1), i -> $v[i]*$c[i]), (a,x) -> a+x)
       |        + list_reduce(list_transform($c, x -> x*x), (a,x) -> a+x)""".stripMargin

  /** Lloyd round `r` of Similarity.kmeansCentroids: each `e` vector to its
    * nearest centroid of c(r-1) (d2 asc, cid asc), integer-quantized
    * coordinate means (round(x*1e7) summed as BIGINT — exact, order-free —
    * then one double division), and c(r) = the means with the classic-Lloyd
    * carry-forward (LEFT JOIN + coalesce) for a centroid that lost all
    * members, so nlist stays constant every round. */
  private def lloydRound(r: Int): String = {
    val p = s"c${r - 1}"
    s"""a$r AS (
       |  SELECT vec_id, emb, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS crn
       |  FROM (
       |    SELECT e.vec_id, e.emb, c.cid,
       |      ${d2("e.emb", "c.c_emb")} AS d2
       |    FROM e, $p c)),
       |m$r AS (
       |  SELECT cid, i,
       |    CAST(sum(CAST(round(x * 1e7) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e7 AS m
       |  FROM (SELECT cid, unnest(range(1, len(emb)+1)) AS i, unnest(emb) AS x
       |        FROM a$r WHERE crn = 1)
       |  GROUP BY cid, i),
       |c$r AS (SELECT $p.cid, coalesce(nc.c_emb, $p.c_emb) AS c_emb
       |       FROM $p LEFT JOIN
       |         (SELECT cid, list(m ORDER BY i) AS c_emb FROM m$r GROUP BY cid) nc
       |       ON $p.cid = nc.cid)""".stripMargin
  }

  /** [[OracleSql.embNormsCte]] plus each vector's LSH `bucket`: the sign
    * bits of its first four coordinates (the q34/q45/q112 buckets). */
  private val lshBucketNormsCte = embNormsCte(",\n        " +
    "list_sum([CASE WHEN emb[j] > 0 THEN 1 << (j-1) ELSE 0 END for j in range(1, 5)]) AS bucket")

  /** Shared CTE chain (no WITH keyword) of the q50 IVF cells: embeddings
    * `e`, norms `n`, 2 Lloyd rounds from the vec_id<8 seeds, then every
    * vector's centroids `ranked` by distance (crn = 1 is its cell). */
  private lazy val lloydRankedCte =
    s"""${embNormsCte()},
       |c0 AS (SELECT vec_id AS cid, emb AS c_emb FROM e WHERE vec_id < 8),
       |${lloydRound(1)},
       |${lloydRound(2)},
       |dists AS (
       |  SELECT n.vec_id, n.emb, n.nrm, c.cid,
       |    ${d2("n.emb", "c.c_emb")} AS d2
       |  FROM n, c2 c),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS crn
       |  FROM dists)""".stripMargin

  /** Shared CTE chain (no WITH keyword) deriving the q142 SemDeDup cell
    * ASSIGNMENT — [[lloydRankedCte]]'s cells, final cell + emb + nrm per
    * vector as `assign`. Reused by the q142 oracle and the q345/q346
    * pipeline composition. */
  private lazy val semAssignCte = lloydRankedCte +
    ",\nassign AS MATERIALIZED (SELECT vec_id, cid, emb, nrm FROM ranked WHERE crn = 1)"

  /** Full q345/q346 pipeline CTE chain ending in the worklist `wl`:
    * the exact-fingerprint stage, components over the MinHash pairs
    * restricted to exact survivors ([[minhashPairsCte]] + filtered
    * edges), and the q142 anchor-greedy semantic stage
    * ([[semAssignCte]]'s cells) restricted to near-dup survivors —
    * the verbatim mirror of TextDedup.dedupPipeline. */
  private lazy val dedupPipelineCte =
    "WITH RECURSIVE " + minhashPairsCte + ",\n" + semAssignCte + """,
      |fp AS MATERIALIZED (
      |  SELECT doc_id, md5(coalesce(text, '')) AS f FROM documents),
      |k1 AS (SELECT f, min(doc_id) AS keeper FROM fp GROUP BY f),
      |tagged AS MATERIALIZED (
      |  SELECT fp.doc_id, k1.keeper FROM fp JOIN k1 USING (f)),
      |ex AS (SELECT doc_id, 'exact' AS stage, keeper AS survivor_id
      |       FROM tagged WHERE doc_id <> keeper),
      |s1 AS MATERIALIZED (SELECT doc_id FROM tagged WHERE doc_id = keeper),
      |p2 AS (SELECT p.doc_a, p.doc_b FROM pairs p
      |       JOIN s1 sa ON sa.doc_id = p.doc_a
      |       JOIN s1 sb ON sb.doc_id = p.doc_b),
      |edges AS MATERIALIZED (
      |  SELECT doc_a AS src, doc_b AS dst FROM p2
      |  UNION SELECT doc_b, doc_a FROM p2),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
      |cl AS MATERIALIZED (
      |  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
      |nd AS MATERIALIZED (
      |  SELECT doc_id, 'near_dup' AS stage, cluster_id AS survivor_id
      |  FROM cl WHERE doc_id <> cluster_id),
      |s2 AS MATERIALIZED (
      |  SELECT s1.doc_id FROM s1 LEFT JOIN nd USING (doc_id)
      |  WHERE nd.doc_id IS NULL),
      |sp AS MATERIALIZED (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM assign a JOIN assign b
      |    ON a.cid = b.cid AND a.vec_id > b.vec_id
      |  WHERE list_reduce(list_transform(range(1, len(a.emb)+1), i -> a.emb[i]*b.emb[i]), (x,y) -> x+y)
      |      / (a.nrm * b.nrm) >= 0.3),
      |p3 AS (SELECT sp.id_a, sp.id_b FROM sp
      |       JOIN s2 sa ON sa.doc_id = sp.id_a
      |       JOIN s2 sb ON sb.doc_id = sp.id_b),
      |sem AS MATERIALIZED (
      |  SELECT id_a AS doc_id, 'semantic' AS stage,
      |    min(id_b) AS survivor_id
      |  FROM p3 GROUP BY id_a),
      |ret AS (SELECT s2.doc_id, 'retained' AS stage,
      |    s2.doc_id AS survivor_id
      |  FROM s2 LEFT JOIN sem USING (doc_id) WHERE sem.doc_id IS NULL),
      |wl AS (SELECT * FROM ex UNION ALL SELECT * FROM nd
      |       UNION ALL SELECT * FROM sem UNION ALL SELECT * FROM ret)"""
      .stripMargin

  /** The per-language KN model + scored-types chain shared by the q369
    * and q374 oracles — knModelCte's shape with the lang key prepended
    * to every model table. Ends at `sc` (one row per (doc, lang, bigram
    * type) with lp_mu) so consumers append their own final stage. */
  private val langKnScoredCte =
    """base AS (SELECT doc_id, lang, string_split(text, ' ') AS t
      |  FROM documents),
      |pairs AS (
      |  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
      |  FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
      |db AS MATERIALIZED (SELECT doc_id, lang, w1, w2,
      |    CAST(count(*) AS BIGINT) AS occ
      |  FROM pairs GROUP BY 1, 2, 3, 4),
      |big AS MATERIALIZED (
      |  SELECT lang, w1, w2, CAST(sum(occ) AS BIGINT) AS c2
      |  FROM db GROUP BY 1, 2, 3),
      |hist AS (SELECT lang, w1, CAST(sum(c2) AS BIGINT) AS c1,
      |    CAST(count(*) AS BIGINT) AS n1p FROM big GROUP BY 1, 2),
      |cont AS (SELECT lang, w2, CAST(count(*) AS BIGINT) AS nc
      |  FROM big GROUP BY 1, 2),
      |tt AS (SELECT lang, CAST(count(*) AS BIGINT) AS t_types
      |  FROM big GROUP BY 1),
      |vv AS (SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS v
      |  FROM (SELECT lang, unnest(t) AS w FROM base) GROUP BY 1),
      |sc AS MATERIALIZED (SELECT d.doc_id, d.lang, d.occ,
      |    CAST(round(ln(
      |      CAST((4 * c2 - 3) * (t_types + v) + 3 * n1p * (nc + 1) AS DOUBLE)
      |      / CAST(4 * c1 * (t_types + v) AS DOUBLE)) * 1e6) AS BIGINT)
      |      AS lp_mu
      |  FROM db d
      |  JOIN big b ON b.lang = d.lang AND b.w1 = d.w1 AND b.w2 = d.w2
      |  JOIN hist h ON h.lang = d.lang AND h.w1 = d.w1
      |  JOIN cont cn ON cn.lang = d.lang AND cn.w2 = d.w2
      |  JOIN tt ON tt.lang = d.lang
      |  JOIN vv ON vv.lang = d.lang)""".stripMargin

  /** Doc-level bigram counts `db` and the observed-type table `big` over
    * MATERIALIZED tokens `toks` (no WITH) — the lineage knModelCte and the
    * q349 modified-KN model share. */
  private val knBigramsCte =
    """toks AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |db AS MATERIALIZED (
      |  SELECT doc_id, w1, w2, count(*) AS occ FROM (
      |    SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      |    FROM toks)
      |  GROUP BY 1, 2, 3),
      |big AS MATERIALIZED (
      |  SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c2 FROM db GROUP BY 1, 2)"""
      .stripMargin

  /** Shared CTE chain deriving the interpolated-KN bigram model (q342 +
    * q343): [[knBigramsCte]], history sums/continuation-type counts, the
    * (T, V) size row, and the per-TYPE micro-nat `model` from the exact
    * D = 3/4 rational — the verbatim mirror of TextLm.knCrossEntropyFrom's
    * model. Multiply-referenced CTEs are MATERIALIZED (DuckDB re-executes
    * plain CTEs per reference — the r13 lesson). */
  private val knModelCte =
    s"""WITH $knBigramsCte,
       |hist AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n1p FROM big GROUP BY 1),
       |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc FROM big GROUP BY 1),
       |tv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM big) AS t_types,
       |    (SELECT CAST(count(DISTINCT w1) AS BIGINT)
       |       FROM (SELECT unnest(t) AS w1 FROM toks)) AS v),
       |model AS (
       |  SELECT big.w1, big.w2,
       |    CAST(round(ln(
       |      CAST((4 * c2 - 3) * (t_types + v) + 3 * n1p * (nc + 1) AS DOUBLE)
       |      / CAST(4 * c1 * (t_types + v) AS DOUBLE)) * 1e6) AS BIGINT) AS lp_mu
       |  FROM big JOIN hist USING (w1) JOIN cont USING (w2) CROSS JOIN tv)"""
      .stripMargin

  /** The unsmoothed corpus log-frequency per bigram TYPE over `big`,
    * `fmodel(w1, w2, flp)` = round(ln(c2/T)·1e6) (the q388/q394 rarity). */
  private val freqModelCte =
    """ttl AS (SELECT CAST(sum(c2) AS BIGINT) AS tt FROM big),
      |fmodel AS (SELECT w1, w2,
      |    CAST(round(ln(CAST(c2 AS DOUBLE) / CAST(tt AS DOUBLE)) * 1e6)
      |      AS BIGINT) AS flp
      |  FROM big CROSS JOIN ttl)""".stripMargin

  /** [[knModelCte]] plus the q101 add-one model `amodel` (lpa) from the
    * SAME type counts — the reference/target pair of q348 and q356. */
  private val knAddOneCte =
    s"""$knModelCte,
       |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1u
       |        FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1),
       |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
       |amodel AS (
       |  SELECT big.w1, big.w2,
       |    CAST(round(ln(CAST(big.c2 + 1 AS DOUBLE)
       |      / CAST(uni.c1u + vv.v AS DOUBLE)) * 1e6) AS BIGINT) AS lpa
       |  FROM big JOIN uni USING (w1) CROSS JOIN vv)""".stripMargin

  /** The q140 tercile stage over a bigram `model` ⋈ `db`: per-doc micro-nat
    * xent `xmu`, per-source integer order-statistic cutoffs (cum*3 >= j*n),
    * head/middle/tail buckets and exact micro-unit bucket means. */
  private val tercileMixSql =
    """sc AS (SELECT db.doc_id,
      |    CAST((2 * (-sum(occ * lp_mu)) + sum(occ))
      |      // (2 * sum(occ)) AS BIGINT) AS xmu
      |  FROM db JOIN model USING (w1, w2) GROUP BY doc_id),
      |sg AS (SELECT sc.doc_id, d.source AS g, sc.xmu
      |       FROM sc JOIN documents d USING (doc_id)),
      |vals AS (SELECT g, xmu, CAST(count(*) AS BIGINT) AS c FROM sg GROUP BY 1, 2),
      |cum AS (SELECT g, xmu, c,
      |    CAST(sum(c) OVER (PARTITION BY g ORDER BY xmu) AS BIGINT) AS cm
      |  FROM vals),
      |tt AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM vals GROUP BY 1),
      |cuts AS (SELECT cum.g,
      |    min(CASE WHEN cm * 3 >= n THEN xmu END) AS cut1,
      |    min(CASE WHEN cm * 3 >= n * 2 THEN xmu END) AS cut2
      |  FROM cum JOIN tt USING (g) GROUP BY 1),
      |bk AS (SELECT sg.g, sg.xmu,
      |    CASE WHEN sg.xmu <= cuts.cut1 THEN 'head'
      |         WHEN sg.xmu <= cuts.cut2 THEN 'middle'
      |         ELSE 'tail' END AS bucket
      |  FROM sg JOIN cuts USING (g))
      |SELECT g AS source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  round((CAST(sum(xmu) AS DOUBLE) / 1e6) / CAST(count(*) AS DOUBLE), 6)
      |    AS mean_xent
      |FROM bk GROUP BY 1, 2""".stripMargin

  /** Unrolled-CTE mirror of TextLm.doremiWeightsFrom: the q348 per-doc
    * excess chain (shared knModelCte + add-one model), clamped at 0 and
    * bigram-weighted into per-source λ, the single quantized exp boost,
    * then `rounds` materialized CTE levels w1..wR — each ONE
    * normalize-and-smooth step in exact integer arithmetic (HUGEINT for
    * the num·1e6 product, mirroring Spark's DECIMAL(38,0)), stacked with
    * w0 into the (rnd, source, …) trajectory. */
  private def doremiOracle(rounds: Int, smoothNum: Int,
                           smoothDen: Int): String = {
    val steps = (1 to rounds).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT source, n_docs, lam_mu, boost, k,
         |    (2 * (${smoothDen - smoothNum} * a * k + $smoothNum * 1000000)
         |      + $smoothDen * k) // (2 * $smoothDen * k) AS w
         |  FROM (
         |    SELECT w${t - 1}.*,
         |      CAST((CAST(2 AS HUGEINT) * w * boost * 1000000
         |          + (SELECT CAST(sum(w * boost) AS BIGINT) FROM w${t - 1}))
         |        // (2 * (SELECT CAST(sum(w * boost) AS BIGINT) FROM w${t - 1}))
         |        AS BIGINT) AS a
         |    FROM w${t - 1}))""".stripMargin
    }.mkString(",\n")
    val stack = (0 to rounds).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS rnd, source, n_docs,
         |  CAST(lam_mu AS DOUBLE) / 1e6 AS excess,
         |  CAST(w AS DOUBLE) / 1e6 AS weight FROM w$t""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""$knAddOneCte,
       |pd AS (SELECT db.doc_id,
       |    greatest(
       |      CAST((2 * (-sum(occ * a.lpa)) + sum(occ))
       |        // (2 * sum(occ)) AS BIGINT)
       |      - CAST((2 * (-sum(occ * m.lp_mu)) + sum(occ))
       |        // (2 * sum(occ)) AS BIGINT),
       |      CAST(0 AS BIGINT)) AS e,
       |    CAST(sum(occ) AS BIGINT) AS m
       |  FROM db JOIN model m USING (w1, w2) JOIN amodel a USING (w1, w2)
       |  GROUP BY 1),
       |lam AS MATERIALIZED (
       |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST((2 * sum(pd.e * pd.m) + sum(pd.m))
       |      // (2 * sum(pd.m)) AS BIGINT) AS lam_mu
       |  FROM pd JOIN documents d USING (doc_id)
       |  GROUP BY 1),
       |w0 AS MATERIALIZED (
       |  SELECT source, n_docs, lam_mu,
       |    CAST(round(exp(CAST(least(lam_mu, 10000000) AS DOUBLE) / 1e6)
       |      * 1e6) AS BIGINT) AS boost,
       |    (SELECT CAST(count(*) AS BIGINT) FROM lam) AS k,
       |    (2 * 1000000 + (SELECT CAST(count(*) AS BIGINT) FROM lam))
       |      // (2 * (SELECT CAST(count(*) AS BIGINT) FROM lam)) AS w
       |  FROM lam),
       |$steps
       |$stack""".stripMargin
  }

  /** Unrolled-CTE mirror of TextPrep.unigramLmTrainStepFrom: the Viterbi DP
    * (best[i] = max over candidate pieces ending at i of best[start] +
    * lp) runs as `maxWord` per-position levels b1..bN — each level ONE
    * keyed aggregate over the previous levels' rows, every b_i/s_i
    * MATERIALIZED because each is referenced twice and DuckDB re-executes
    * plain CTEs per reference (the r13 multiplicative-CTE lesson).
    * The backtrace replays as `maxWord` argmin steps (min(c.s) among
    * candidates achieving best[pos] — the min-start tie-break the Spark
    * fold pins), each emitting its chosen piece via substr. All DP
    * arithmetic is BIGINT micro-nats, so equality tests are exact. */
  private def unigramLmOracle(maxPiece: Int, maxWord: Int): String =
    s"""${unigramLmChain(maxPiece, maxWord)},
       |em AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS em_count
       |  FROM segs GROUP BY 1),
       |t1 AS (SELECT CAST(sum(em_count) AS BIGINT) AS t1 FROM em)
       |SELECT em.piece, em.em_count,
       |  CAST(lp0.lp0_mu AS DOUBLE) / 1e6 AS lp0,
       |  CAST(CAST(round(ln(CAST(em_count AS DOUBLE)
       |    / CAST(t1 AS DOUBLE)) * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS lp1
       |FROM em JOIN lp0 USING (piece) CROSS JOIN t1""".stripMargin

  /** q352 final over the same chain: per-word Viterbi piece counts from
    * the backtrace rows, joined onto the source-exploded corpus, with
    * the house exact half-up 6-dp fertility. */
  private def unigramLmFertilityOracle(maxPiece: Int, maxWord: Int): String =
    s"""${unigramLmChain(maxPiece, maxWord)},
       |npw AS (SELECT w, CAST(count(*) AS BIGINT) AS np FROM segs GROUP BY 1),
       |wsrc AS (
       |  SELECT source, w FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) >= 1 AND len(w) <= $maxWord)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(np) AS BIGINT) AS n_pieces,
       |  CAST(CAST((2 * sum(np) * 1000000 + count(*))
       |    // (2 * count(*)) AS BIGINT) AS DOUBLE) / 1e6 AS fertility
       |FROM wsrc JOIN npw USING (w)
       |GROUP BY 1""".stripMargin

  /** One unrolled Viterbi DP + backtrace over candidate table `cands`,
    * with every CTE name prefixed by `pfx` so the pruning oracle can run
    * a SECOND pass over a restricted vocabulary in the same query. Ends
    * at `${pfx}segs` (w, freq, piece — one row per backtrace step). */
  private def unigramDpBlock(maxWord: Int, pfx: String,
                             cands: String,
                             wordsTbl: String = "words"): String = {
    val dp = (1 to maxWord).map { i =>
      s"""${pfx}b$i AS MATERIALIZED (SELECT * FROM ${pfx}b${i - 1} UNION ALL
         |  SELECT c.w, CAST($i AS BIGINT), max(b.best + c.lp)
         |  FROM ${pfx}b${i - 1} b
         |  JOIN $cands c ON c.w = b.w AND c.s = b.pos AND c.e = $i
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val back = (1 to maxWord).map { i =>
      s"""${pfx}s$i AS MATERIALIZED (
         |  SELECT p.w, p.freq, p.pos AS pe, min(c.s) AS ns
         |  FROM ${pfx}p${i - 1} p
         |  JOIN $cands c ON c.w = p.w AND c.e = p.pos
         |  JOIN ${pfx}best bs ON bs.w = p.w AND bs.pos = c.s
         |  JOIN ${pfx}best be ON be.w = p.w AND be.pos = p.pos
         |  WHERE p.pos > 0 AND bs.best + c.lp = be.best
         |  GROUP BY 1, 2, 3),
         |${pfx}p$i AS (SELECT w, freq, ns AS pos FROM ${pfx}s$i)""".stripMargin
    }.mkString(",\n")
    val segs = (1 to maxWord)
      .map(i => s"SELECT w, freq, substr(w, ns + 1, pe - ns) AS piece FROM ${pfx}s$i")
      .mkString("\n  UNION ALL\n  ")
    s"""${pfx}b0 AS (SELECT w, CAST(0 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS best
       |       FROM $wordsTbl),
       |$dp,
       |${pfx}best AS MATERIALIZED (SELECT * FROM ${pfx}b$maxWord),
       |${pfx}p0 AS (SELECT w, freq, CAST(len(w) AS BIGINT) AS pos FROM $wordsTbl),
       |$back,
       |${pfx}segs AS MATERIALIZED (
       |  $segs)""".stripMargin
  }

  private def unigramLmChain(maxPiece: Int, maxWord: Int,
                             pfx: String = ""): String = {
    s"""WITH ${pfx}words AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) >= 1 AND len(w) <= $maxWord GROUP BY 1),
       |${pfx}inv AS MATERIALIZED (
       |  SELECT w, freq, s, s + l AS e, substr(w, s + 1, l) AS piece
       |  FROM (SELECT w, freq,
       |      unnest(generate_series(0, len(w) - 1)) AS s FROM ${pfx}words),
       |    (SELECT unnest(generate_series(1, $maxPiece)) AS l)
       |  WHERE s + l <= len(w)),
       |${pfx}seed AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |         FROM ${pfx}inv GROUP BY 1),
       |${pfx}t0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t0 FROM ${pfx}seed),
       |${pfx}lp0 AS MATERIALIZED (
       |  SELECT piece, CAST(round(ln(CAST(cnt AS DOUBLE)
       |    / CAST(t0 AS DOUBLE)) * 1e6) AS BIGINT) AS lp0_mu
       |  FROM ${pfx}seed CROSS JOIN ${pfx}t0),
       |${pfx}cands AS MATERIALIZED (
       |  SELECT i.w, i.s, i.e, l.lp0_mu AS lp
       |  FROM ${pfx}inv i JOIN ${pfx}lp0 l USING (piece)),
       |${unigramDpBlock(maxWord, pfx, s"${pfx}cands", s"${pfx}words")}"""
      .stripMargin
  }

  /** q353 final: EM counts from the seed-pass segs, the order-statistic
    * cut over multi-char usage counts, the kept set (singles always in,
    * em coalesced to 0), the add-one re-normalized lp2 model, a SECOND
    * unrolled DP pass (prefix `r`) over the restricted candidates, and
    * the 1-row vocab/fertility delta report. */
  private def unigramLmPruneOracle(maxPiece: Int, maxWord: Int,
                                   keepNum: Int, keepDen: Int): String =
    s"""${unigramLmChain(maxPiece, maxWord)},
       |em AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS em
       |  FROM segs GROUP BY 1),
       |multi AS MATERIALIZED (SELECT * FROM em WHERE len(piece) > 1),
       |vals AS MATERIALIZED (
       |  SELECT em, CAST(count(*) AS BIGINT) AS c FROM multi GROUP BY 1),
       |cm AS (SELECT em, CAST(sum(c) OVER (ORDER BY em) AS BIGINT) AS cum
       |       FROM vals),
       |tt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vals),
       |cut AS (SELECT min(CASE WHEN cum * $keepDen >= n * ${keepDen - keepNum}
       |    THEN em END) AS cut
       |  FROM cm CROSS JOIN tt),
       |keptm AS (SELECT piece, em FROM multi CROSS JOIN cut WHERE em > cut),
       |sing AS (SELECT s.piece, CAST(coalesce(em.em, 0) AS BIGINT) AS em
       |  FROM (SELECT DISTINCT piece FROM inv WHERE len(piece) = 1) s
       |  LEFT JOIN em USING (piece)),
       |kept AS MATERIALIZED (
       |  SELECT * FROM sing UNION ALL SELECT * FROM keptm),
       |kz AS (SELECT CAST(sum(em) AS BIGINT) AS t2,
       |    CAST(count(*) AS BIGINT) AS k FROM kept),
       |lp2 AS MATERIALIZED (
       |  SELECT piece, CAST(round(ln(CAST(em + 1 AS DOUBLE)
       |    / CAST(t2 + k AS DOUBLE)) * 1e6) AS BIGINT) AS lp2_mu
       |  FROM kept CROSS JOIN kz),
       |cands2 AS MATERIALIZED (
       |  SELECT inv.w, inv.s, inv.e, lp2.lp2_mu AS lp
       |  FROM inv JOIN lp2 USING (piece)),
       |${unigramDpBlock(maxWord, "r", "cands2")},
       |np1 AS (SELECT w, CAST(count(*) AS BIGINT) AS np FROM segs GROUP BY 1),
       |np2 AS (SELECT w, CAST(count(*) AS BIGINT) AS np FROM rsegs GROUP BY 1),
       |sv AS (SELECT CAST(count(DISTINCT piece) AS BIGINT) AS seed_vocab
       |       FROM inv),
       |av AS (SELECT CAST(count(*) AS BIGINT) AS active_vocab FROM em),
       |kv AS (SELECT CAST(count(*) AS BIGINT) AS kept_vocab FROM kept),
       |agg AS (SELECT CAST(sum(words.freq) AS BIGINT) AS n_words,
       |    CAST(sum(words.freq * np1.np) AS BIGINT) AS pieces_before,
       |    CAST(sum(words.freq * np2.np) AS BIGINT) AS pieces_after
       |  FROM words JOIN np1 USING (w) JOIN np2 USING (w))
       |SELECT seed_vocab, active_vocab, kept_vocab, n_words,
       |  pieces_before, pieces_after,
       |  CAST(CAST((CAST(2 AS HUGEINT) * pieces_before * 1000000 + n_words)
       |    // (2 * n_words) AS BIGINT) AS DOUBLE) / 1e6 AS fertility_before,
       |  CAST(CAST((CAST(2 AS HUGEINT) * pieces_after * 1000000 + n_words)
       |    // (2 * n_words) AS BIGINT) AS DOUBLE) / 1e6 AS fertility_after
       |FROM sv CROSS JOIN av CROSS JOIN kv CROSS JOIN agg""".stripMargin

  /** The distinct word-3-shingles `sh(doc_id, sh)` of tokenized docs
    * `toks(doc_id, t)`, the q31 shingling; `mat` hints `sh`. */
  private def minhashShinglesCte(mat: String): String =
    s"""sh AS $mat(
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest([array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]) AS sh
       |    FROM toks))""".stripMargin

  /** The MinHash-LSH band chain (no WITH) from tokenized docs `toks(doc_id,
    * t)` to the candidate pairs' shared-shingle counts `inter` and the
    * shingle-set `sizes`: word-3-shingles, 4 bands of two md5-prefix mins,
    * band-equal candidates. `mat` ("MATERIALIZED " or "") hints `sh`. */
  private def minhashBandsSql(mat: String): String =
    s"""${minhashShinglesCte(mat)},
       |sig AS (
       |  SELECT doc_id, band,
       |    min(substr(md5(sh), band*8+1, 4)) || min(substr(md5(sh), band*8+5, 4)) AS sig
       |  FROM sh, (SELECT unnest([0,1,2,3]) AS band)
       |  GROUP BY doc_id, band),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, count(*) AS n_inter
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = doc_a
       |  JOIN sh sb ON sb.doc_id = doc_b AND sb.sh = sa.sh
       |  GROUP BY doc_a, doc_b),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** The verified pairs (Jaccard >= 0.5) of [[minhashBandsSql]], as a
    * SELECT of `cols` over (doc_a, doc_b, jaccard). */
  private def minhashVerifiedSql(cols: String): String =
    s"""SELECT $cols FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) AS jaccard
       |  FROM inter
       |  JOIN sizes na ON na.doc_id = doc_a
       |  JOIN sizes nb ON nb.doc_id = doc_b)
       |WHERE jaccard >= 0.5""".stripMargin

  /** Shared CTE chain (no WITH) from the documents to the verified
    * MinHash near-dup pair set `pairs` — the q31 lineage. `mat` ("" or
    * "MATERIALIZED ") hints `sh` and `pairs`. */
  private def minhashDocPairsCte(mat: String): String =
    s"""toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
       |  WHERE len(string_split(text,' ')) >= 3),
       |${minhashBandsSql(mat)},
       |pairs AS $mat(
       |${minhashVerifiedSql("doc_a, doc_b")})""".stripMargin

  /** [[minhashDocPairsCte]] materialized, composed by [[clusterCte]]
    * (components over ALL pairs) and by the q345/q346 pipeline oracle
    * (components over the exact-stage survivors only). */
  private lazy val minhashPairsCte = minhashDocPairsCte("MATERIALIZED ")

  /** Shared CTE chain replaying the MinHash-LSH candidate graph + connected
    * components (the same `nearDupPairs` -> `connectedComponents` lineage the
    * Spark side shares between q61 and q91): ends at `reach(id, r)`. */
  private lazy val clusterCte = "WITH RECURSIVE " + minhashPairsCte + """,
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst)""".stripMargin

  /** The q31 MinHash-LSH chain body over an arbitrary (doc_id, text)
    * relation — shared by the raw-corpus q31 oracle and the q359
    * clean-text composition so the two can never drift. q291 composes
    * q31's oracle text (`minhashPairsSql`) into its agreement matrix. */
  private def minhashChainSql(rel: String): String =
    s"""toks AS (
       |  SELECT doc_id, string_split(text,' ') AS t FROM $rel
       |  WHERE len(string_split(text,' ')) >= 3),
       |${minhashBandsSql("")}""".stripMargin

  private val minhashFinalSelect: String =
    minhashVerifiedSql("doc_a, doc_b, jaccard")

  private[queries] val minhashPairsSql: String =
    "WITH " + minhashChainSql("documents") + "\n" + minhashFinalSelect

  /** Mirrors TextDedup.gopherMicro: the house 3-/10-token tile
    * inventories rolled to per-doc dup counts/char mass, the top-2/3/4
    * word-gram argmax (count desc, gram asc), the dup-5..10-gram
    * covered-position char coverage, and the thirteen micro-unit
    * half-up rationals (HUGEINT ↔ Spark's DECIMAL(38,0)); ends at `mc`
    * (doc_id, l_n, r1..r13) so q375/q376 append their final stage. */
  private val gopherCensusCte: String = {
    def tiles(n: Int, pfx: String) =
      s"""${pfx}_t AS (
         |  SELECT doc_id, array_to_string(ts[i*$n+1 : i*$n+$n], ' ') AS line
         |  FROM (SELECT doc_id, ts, unnest(generate_series(0,
         |      greatest((len(ts) + ${n - 1}) // $n, 1) - 1)) AS i FROM gtoks)),
         |${pfx}_y AS (SELECT doc_id, line, CAST(count(*) AS BIGINT) AS occ,
         |    CAST(length(line) AS BIGINT) AS len FROM ${pfx}_t GROUP BY 1, 2),
         |${pfx}s AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS ${pfx}_n,
         |    CAST(count(*) AS BIGINT) AS ${pfx}_nt,
         |    CAST(sum(occ * len) AS BIGINT) AS ${pfx}_ch,
         |    CAST(sum((occ - 1) * len) AS BIGINT) AS ${pfx}_dch
         |  FROM ${pfx}_y GROUP BY 1)""".stripMargin
    def top(n: Int, out: String) =
      s"""$out AS (
         |  SELECT doc_id, cnt * CAST(length(g) AS BIGINT) AS $out FROM (
         |    SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY count(*) DESC, g ASC) AS rn
         |    FROM (SELECT doc_id, array_to_string(ts[i : i+${n - 1}], ' ') AS g
         |      FROM gtoks, LATERAL (SELECT unnest(range(1, len(ts) - ${n - 2}))
         |        AS i) WHERE len(ts) >= $n)
         |    GROUP BY doc_id, g) WHERE rn = 1)""".stripMargin
    val r = "(CAST(2 AS HUGEINT) * %s * 1000000 + %s) // (2 * %s)"
    def mu(num: String, den: String) =
      s"CAST(CASE WHEN $den = 0 THEN 0 ELSE ${r.format(num, den, den)} END AS BIGINT)"
    // dup-n-gram char coverage (mirrors gopherMicro's one-chain-for-all-n
    // build): dup gram starts exploded to covered token positions,
    // DISTINCT (overlaps counted once), one token-length join. The n
    // grid is unrolled per UNION ALL branch — DuckDB cannot chain a
    // LATERAL range off another LATERAL's column.
    val dupCover =
      s"""dgr AS (
         |  ${(5 to 10).map(n =>
             s"SELECT doc_id, $n AS n, i, array_to_string(ts[i+1 : i+$n]," +
               s" ' ') AS g\n  FROM gtoks, LATERAL (SELECT" +
               s" unnest(range(0, len(ts) - ${n - 1})) AS i)")
             .mkString("\n  UNION ALL\n  ")}),
         |dst AS (SELECT doc_id, n, g FROM dgr
         |  GROUP BY 1, 2, 3 HAVING count(*) > 1),
         |dcv AS (SELECT DISTINCT doc_id, n, i + o AS p
         |  FROM dgr JOIN dst USING (doc_id, n, g),
         |    LATERAL (SELECT unnest(range(0, n)) AS o)),
         |dtk AS (SELECT doc_id, p, CAST(length(w) AS BIGINT) AS wl
         |  FROM (SELECT doc_id, unnest(ts) AS w,
         |    unnest(range(0, len(ts))) AS p FROM gtoks)),
         |dms AS (SELECT doc_id,
         |    ${(5 to 10).map(n =>
               s"CAST(sum(CASE WHEN n = $n THEN wl ELSE 0 END) AS BIGINT)" +
                 s" AS dd$n").mkString(",\n    ")}
         |  FROM dcv JOIN dtk USING (doc_id, p) GROUP BY 1)""".stripMargin
    s"""gtoks AS MATERIALIZED (
       |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
       |  FROM documents),
       |${tiles(3, "l")},
       |${tiles(10, "p")},
       |${top(2, "gm2")},
       |${top(3, "gm3")},
       |${top(4, "gm4")},
       |$dupCover,
       |gbase AS (SELECT doc_id,
       |    CAST(length(coalesce(text, '')) AS BIGINT) AS nch FROM documents),
       |mc AS MATERIALIZED (SELECT gbase.doc_id, l_n,
       |    ${mu("(l_n - l_nt)", "l_n")} AS r1,
       |    ${mu("l_dch", "l_ch")} AS r2,
       |    ${mu("(p_n - p_nt)", "p_n")} AS r3,
       |    ${mu("p_dch", "p_ch")} AS r4,
       |    ${mu("coalesce(gm2, 0)", "nch")} AS r5,
       |    ${mu("coalesce(gm3, 0)", "nch")} AS r6,
       |    ${mu("coalesce(gm4, 0)", "nch")} AS r7,
       |    ${(5 to 10).zipWithIndex.map { case (n, i) =>
             s"${mu(s"coalesce(dd$n, 0)", "nch")} AS r${i + 8}"
           }.mkString(",\n    ")}
       |  FROM gbase JOIN ls USING (doc_id) JOIN ps USING (doc_id)
       |  LEFT JOIN gm2 USING (doc_id) LEFT JOIN gm3 USING (doc_id)
       |  LEFT JOIN gm4 USING (doc_id) LEFT JOIN dms USING (doc_id))"""
      .stripMargin
  }

  /** The all-rules-hold predicate over the census micro columns — shared
    * by the q375 pass flag and the q376 'all' row. */
  private val gopherPassSql: String =
    "r1 <= 300000 AND r2 <= 200000 AND r3 <= 300000 AND r4 <= 200000" +
      " AND r5 <= 200000 AND r6 <= 180000 AND r7 <= 160000" +
      " AND r8 <= 150000 AND r9 <= 140000 AND r10 <= 130000" +
      " AND r11 <= 120000 AND r12 <= 110000 AND r13 <= 100000"

  /** Mirrors TextDedup.gopherQualityRules up to the micro table `r`
    * (doc_id, n_words, n_stopwords, mwl, sym, bul, ell, alf) — shared
    * by the q380 and q385 oracles. CTE names are disjoint from
    * [[gopherCensusCte]]'s (gtoks vs qtoks) AND from the pipeline/model
    * chains (knModelCte's toks, minhashPairsCte's toks, semAssignCte's
    * m2) so the census chains compose in one WITH with any of them —
    * the q381/q385/q392 composition contract. */
  private lazy val gopherQualityCte: String =
    """qtoks AS MATERIALIZED (
      |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts,
      |    coalesce(text, '') AS txt
      |  FROM documents),
      |wa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |    CAST(sum(length(w)) AS BIGINT) AS wchars,
      |    CAST(sum(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1
      |      ELSE 0 END) AS BIGINT) AS alpha_words,
      |    CAST(sum(CASE WHEN w IN ('the','be','to','of','and','that',
      |      'have','with') THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords
      |  FROM (SELECT doc_id, unnest(ts) AS w FROM qtoks) GROUP BY 1),
      |sy AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(txt, '#'))
      |      + len(regexp_extract_all(txt, '\.\.\.'))
      |      + len(regexp_extract_all(txt, '…')) AS BIGINT) AS n_sym
      |  FROM qtoks),
      |lt AS (SELECT doc_id, array_to_string(ts[i*3+1 : i*3+3], ' ') AS line
      |  FROM (SELECT doc_id, ts, unnest(generate_series(0,
      |      greatest((len(ts) + 2) // 3, 1) - 1)) AS i FROM qtoks)),
      |la AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
      |    CAST(sum(CASE WHEN regexp_matches(line, '^[-•]') THEN 1
      |      ELSE 0 END) AS BIGINT) AS bullet_lines,
      |    CAST(sum(CASE WHEN regexp_matches(line, '(\.\.\.|…)\z') THEN 1
      |      ELSE 0 END) AS BIGINT) AS ellipsis_lines
      |  FROM lt GROUP BY 1),
      |r AS MATERIALIZED (SELECT wa.doc_id, n_words, n_stopwords,
      |    CAST(CASE WHEN n_words = 0 THEN 0 ELSE
      |      (CAST(2 AS HUGEINT) * wchars * 1000000 + n_words)
      |        // (2 * n_words) END AS BIGINT) AS mwl,
      |    CAST(CASE WHEN n_words = 0 THEN 0 ELSE
      |      (CAST(2 AS HUGEINT) * n_sym * 1000000 + n_words)
      |        // (2 * n_words) END AS BIGINT) AS sym,
      |    CAST(CASE WHEN n_lines = 0 THEN 0 ELSE
      |      (CAST(2 AS HUGEINT) * bullet_lines * 1000000 + n_lines)
      |        // (2 * n_lines) END AS BIGINT) AS bul,
      |    CAST(CASE WHEN n_lines = 0 THEN 0 ELSE
      |      (CAST(2 AS HUGEINT) * ellipsis_lines * 1000000 + n_lines)
      |        // (2 * n_lines) END AS BIGINT) AS ell,
      |    CAST(CASE WHEN n_words = 0 THEN 0 ELSE
      |      (CAST(2 AS HUGEINT) * alpha_words * 1000000 + n_words)
      |        // (2 * n_words) END AS BIGINT) AS alf
      |  FROM wa JOIN sy USING (doc_id) JOIN la USING (doc_id))"""
      .stripMargin

  /** The all-quality-rules-hold predicate over `r`'s micro columns —
    * shared by the q380 pass flag and the q385 conjunction. */
  private val gopherQualityPassSql: String =
    "n_words BETWEEN 50 AND 100000 AND mwl BETWEEN 3000000 AND 10000000" +
      " AND sym <= 100000 AND bul <= 900000 AND ell <= 300000" +
      " AND alf >= 800000 AND n_stopwords >= 2"

  /** (rule_order, rule, FAIL predicate over mc's micro columns) — the
    * ONE list behind the q376 and q381 oracle stacks. */
  private lazy val gopherRuleFailSql: Seq[(Int, String, String)] = Seq(
    (1, "dup_line_frac", "r1 > 300000"),
    (2, "dup_line_char_frac", "r2 > 200000"),
    (3, "dup_para_frac", "r3 > 300000"),
    (4, "dup_para_char_frac", "r4 > 200000"),
    (5, "top2_char_frac", "r5 > 200000"),
    (6, "top3_char_frac", "r6 > 180000"),
    (7, "top4_char_frac", "r7 > 160000"),
    (8, "dup5gram_char_frac", "r8 > 150000"),
    (9, "dup6gram_char_frac", "r9 > 140000"),
    (10, "dup7gram_char_frac", "r10 > 130000"),
    (11, "dup8gram_char_frac", "r11 > 120000"),
    (12, "dup9gram_char_frac", "r12 > 110000"),
    (13, "dup10gram_char_frac", "r13 > 100000"),
    (14, "all", s"NOT ($gopherPassSql)"))

  /** The q351 line inventory (no WITH): 3-token non-overlapping tiles of
    * each doc as `lns(doc_id, lpos, line, ntoks)`, one empty line for an
    * empty doc. */
  private val lineTilesCte =
    """toks AS (
      |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
      |  FROM documents),
      |lns AS MATERIALIZED (
      |  SELECT doc_id, i AS lpos,
      |    array_to_string(ts[i*3+1 : i*3+3], ' ') AS line,
      |    CAST(len(ts[i*3+1 : i*3+3]) AS BIGINT) AS ntoks
      |  FROM (SELECT doc_id, ts,
      |      unnest(generate_series(0,
      |        greatest((len(ts) + 2) // 3, 1) - 1)) AS i
      |    FROM toks))""".stripMargin

  /** The held-out interpolated-KN log-prob (micro-nats) of a `db d`
    * instance over LEFT-joined `b` (big), `h1` (hist), `cn` (cont) and the
    * `tv` size row: the observed-bigram rational with the clamped
    * discount, continuation-only when the history is unseen, NULL on an
    * empty model. */
  private val heldoutKnLpMu =
    """CAST(round(ln(CASE WHEN tv.t_types + tv.v = 0 THEN NULL
      |        WHEN h1.c1 IS NULL
      |        THEN CAST(coalesce(cn.nc, 0) + 1 AS DOUBLE)
      |          / CAST(tv.t_types + tv.v AS DOUBLE)
      |        ELSE CAST(greatest(4 * coalesce(b.c2, 0) - 3, 0)
      |              * (tv.t_types + tv.v)
      |              + 3 * h1.n1p * (coalesce(cn.nc, 0) + 1) AS DOUBLE)
      |          / CAST(4 * h1.c1 * (tv.t_types + tv.v) AS DOUBLE)
      |      END) * 1e6) AS BIGINT) AS lp_mu""".stripMargin

  /** Doc-level bigram counts `docbig(doc_id, source, tgt, w1, w2, occ)` of
    * the q151/q344 importance weights (no WITH); `tgt` marks English docs. */
  private val sourceDocBigramsCte =
    """base AS (SELECT doc_id, source, lang = 'en' AS tgt,
      |    string_split(text,' ') AS t FROM documents),
      |pairs AS (
      |  SELECT doc_id, source, tgt, t[i] AS w1, t[i+1] AS w2
      |  FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
      |docbig AS (SELECT doc_id, source, tgt, w1, w2,
      |    CAST(count(*) AS BIGINT) AS occ
      |  FROM pairs GROUP BY 1, 2, 3, 4, 5)""".stripMargin

  /** Per-source token-weighted mean of the `scored` log-ratio `lr_mu`
    * (micro-nats), 6 dp — the q151/q344 output. */
  private val avgLogRatioSql =
    """SELECT source, CAST(sum(occ) AS BIGINT) AS n_bigrams,
      |  round((CAST(sum(occ * lr_mu) AS DOUBLE) / 1e6)
      |    / CAST(sum(occ) AS DOUBLE), 6) AS avg_logratio
      |FROM scored GROUP BY 1""".stripMargin

  /** Per-bigram log-ratio (micro-nats) of the add-one target model over the
    * add-one general model, from [[importanceCountsCte]] joined as
    * [[importanceJoinSql]]. */
  private val importanceLogRatioMu =
    """CAST(round(ln(CAST(coalesce(tb.tc2, 0) + 1 AS DOUBLE)
      |      / CAST(coalesce(tu.tc1, 0) + sizes.tv AS DOUBLE)) * 1e6) AS BIGINT)
      |    - CAST(round(ln(CAST(gb.gc2 + 1 AS DOUBLE)
      |      / CAST(gu.gc1 + sizes.gv AS DOUBLE)) * 1e6) AS BIGINT)""".stripMargin

  /** Each `docbig d` instance joined to its general (gb, gu) and target
    * (tb, tu) counts and the `sizes` row. */
  private val importanceJoinSql =
    """FROM docbig d
      |  JOIN gbig gb ON gb.w1 = d.w1 AND gb.w2 = d.w2
      |  JOIN guni gu ON gu.w1 = d.w1
      |  LEFT JOIN tbig tb ON tb.w1 = d.w1 AND tb.w2 = d.w2
      |  LEFT JOIN tuni tu ON tu.w1 = d.w1
      |  CROSS JOIN sizes""".stripMargin

  /** The q151 importance-weight counts over `docbig(tgt, w1, w2, occ)`
    * and `base(tgt, t)`: general (g*) and target-only (t*) bigram and
    * unigram counts and the two vocabulary sizes (no WITH). */
  private val importanceCountsCte =
    """gbig AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS gc2
      |  FROM docbig GROUP BY 1, 2),
      |guni AS (SELECT w1, CAST(count(*) AS BIGINT) AS gc1
      |  FROM (SELECT unnest(t) AS w1 FROM base) GROUP BY 1),
      |tbig AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS tc2
      |  FROM docbig WHERE tgt GROUP BY 1, 2),
      |tuni AS (SELECT w1, CAST(count(*) AS BIGINT) AS tc1
      |  FROM (SELECT unnest(t) AS w1 FROM base WHERE tgt) GROUP BY 1),
      |sizes AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM guni) AS gv,
      |                 (SELECT CAST(count(*) AS BIGINT) FROM tuni) AS tv)"""
      .stripMargin

  /** Per-label embedding centroids in integer micro-units (no WITH):
    * quantized coordinates `mu`, exploded `e(vec_id, label, x, i)`, and
    * `cen(lc, i, c)` = the exact BIGINT per-dim sum over one double
    * division, rounded. */
  private val labelCentroidsCte =
    """mu AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS xmu
      |  FROM embeddings),
      |e AS (SELECT vec_id, label, unnest(xmu) AS x,
      |        unnest(range(0, len(xmu))) AS i FROM mu),
      |cen AS (
      |  SELECT label AS lc, i,
      |    CAST(round(CAST(CAST(sum(x) AS BIGINT) AS DOUBLE)
      |               / CAST(count(*) AS DOUBLE)) AS BIGINT) AS c
      |  FROM e GROUP BY 1, 2)""".stripMargin

  /** One token's Jensen-Shannon term in half-micro-nats `mu` from counts
    * ca/cb over totals ta/tb (0 · ln 0 = 0), as CorpusStats.jsDivergence
    * sums it. */
  private val jsHalfMu =
    """CAST(round((
      |    CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)) *
      |      ln((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)) /
      |        ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) +
      |          CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) / 2)) ELSE 0.0 END +
      |    CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) *
      |      ln((CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) /
      |        ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) +
      |          CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) / 2)) ELSE 0.0 END
      |  ) * 5e5) AS BIGINT) AS mu""".stripMargin

  /** The PQ re-rank shared by q165 and q168 (no WITH): the 30 best ADC
    * candidates per query from `adc(query_id, neighbor_id, adc_mu)`, then
    * their exact sequential-fold cosine over the norms `n` as `scored`. */
  private val adcRerankCte =
    """cand AS (SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id ORDER BY adc_mu ASC, neighbor_id ASC) AS crn
      |    FROM adc) WHERE crn <= 30),
      |scored AS (
      |  SELECT ca.query_id, ca.neighbor_id,
      |    list_reduce(list_transform(range(1, len(qn.emb)+1), i -> qn.emb[i]*nn.emb[i]), (x,y) -> x+y)
      |      / (qn.nrm * nn.nrm) AS cos
      |  FROM cand ca
      |  JOIN n qn ON qn.vec_id = ca.query_id
      |  JOIN n nn ON nn.vec_id = ca.neighbor_id)""".stripMargin

  /** Mirrors TextDedup.paragraphMinhashPairs: the q351 line inventory +
    * document-frequency drop + ordered rebuild (clean text, "" when all
    * lines dropped), then the SHARED q31 MinHash chain over the rebuilt
    * relation. */
  private[queries] val paragraphMinhashSql: String =
    s"""WITH toks0 AS (
       |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
       |  FROM documents),
       |lns AS MATERIALIZED (
       |  SELECT doc_id, i AS lpos,
       |    array_to_string(ts[i*3+1 : i*3+3], ' ') AS line
       |  FROM (SELECT doc_id, ts,
       |      unnest(generate_series(0,
       |        greatest((len(ts) + 2) // 3, 1) - 1)) AS i
       |    FROM toks0)),
       |ldf AS (
       |  SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfc
       |  FROM lns GROUP BY 1),
       |clean AS MATERIALIZED (
       |  SELECT doc_id, coalesce(
       |      string_agg(CASE WHEN dfc < 3 THEN line END, ' ' ORDER BY lpos),
       |      '') AS text
       |  FROM lns JOIN ldf USING (line) GROUP BY doc_id),
       |${minhashChainSql("clean")}
       |$minhashFinalSelect""".stripMargin

  /** SimHash64 of every doc (no WITH): per-token FNV-1a with its
    * unsigned-64-bit wraparound mirrored as HUGEINT arithmetic mod 2^64
    * (ASCII corpus, so unicode(char) == the UTF-8 byte hashed), bit votes,
    * and the unsigned fingerprint `sh(doc_id, shu)`. */
  private val simhashVotesCte =
    """th AS (
      |  SELECT doc_id, list_reduce(
      |    list_prepend(14695981039346656037::HUGEINT,
      |      [unicode(substr(tok, i, 1))::HUGEINT for i in range(1, length(tok)+1)]),
      |    (acc, b) -> (xor(acc, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS h
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
      |votes AS (
      |  SELECT doc_id, j, sum(CASE WHEN (h // (1::HUGEINT << j)) % 2 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, (SELECT unnest(range(0, 64)) AS j)
      |  GROUP BY doc_id, j),
      |sh AS (
      |  SELECT doc_id, sum(CASE WHEN v > 0 THEN 1::HUGEINT << j ELSE 0::HUGEINT END) AS shu
      |  FROM votes GROUP BY doc_id)""".stripMargin

  private[queries] val simhashPairsSql: String =
      "WITH " + simhashVotesCte + """,
        |sg AS (
        |  SELECT doc_id, shu,
        |    CAST(CASE WHEN shu >= (1::HUGEINT << 63)
        |      THEN shu - 18446744073709551616::HUGEINT ELSE shu END AS BIGINT) AS sh64
        |  FROM sh)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sh64, b.sh64)) AS BIGINT) AS hamming
        |FROM sg a, sg b
        |WHERE a.doc_id < b.doc_id
        |  AND EXISTS (SELECT 1 FROM (SELECT unnest([0,1,2,3]) AS band)
        |              WHERE (a.shu // (1::HUGEINT << (band*16))) % 65536
        |                  = (b.shu // (1::HUGEINT << (band*16))) % 65536)
        |  AND bit_count(xor(a.sh64, b.sh64)) <= 8""".stripMargin

  /** Unrolled-CTE mirror of TextPrep.bpeMergeLoopFrom: per round, bigram pair
    * counts over the word-type table, (count DESC, pair ASC) argmax, and
    * the left-to-right non-overlapping replace rewrite — the same integer
    * loop DuckDB re-derives end to end. Word and best-pair CTEs are
    * MATERIALIZED (each is read by the next round AND the final
    * projection; non-materialized chains re-execute multiplicatively —
    * the q326 lesson). */
  private def bpeTrainSql(merges: Int): String = {
    val rows = (1 to merges).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS round, b.pair,
         |  replace(b.pair, ' ', '') AS merged, b.pair_count, v.vocab_size
         |FROM b$k b, v$k v""".stripMargin)
      .mkString("\nUNION ALL\n")
    bpePrefixSql(merges) + "\n" + rows
  }

  /** The merge-loop WITH-chain BPE and WordPiece share: word-type table w0
    * and the `merges` unrolled rounds — pair counts p$k, the round's
    * argmax CTEs `best(k)` (ending at b$k), the left-to-right
    * non-overlapping rewrite w$k and the vocab count v$k. `pfx` renames
    * every CTE (default "" = the historical names) so the q390 census can
    * compose the chains in ONE query without name collisions. */
  private def mergeLoopSql(merges: Int, pfx: String,
                           best: Int => String): String = {
    def round(k: Int) =
      s"""${pfx}p$k AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
         |  FROM (SELECT freq,
         |      unnest([s[i] || ' ' || s[i+1] for i in range(1, len(s))])
         |        AS pair
         |    FROM (SELECT freq, split(sym, ' ') AS s FROM ${pfx}w${k - 1}))
         |  GROUP BY pair),
         |${best(k)},
         |${pfx}w$k AS MATERIALIZED (
         |  SELECT w, freq,
         |    CASE WHEN b.pair IS NULL THEN sym ELSE
         |      trim(replace(replace(' ' || replace(sym, ' ', '  ') || ' ',
         |        ' ' || replace(b.pair, ' ', '  ') || ' ',
         |        ' ' || replace(b.pair, ' ', '') || ' '), '  ', ' '))
         |    END AS sym
         |  FROM ${pfx}w${k - 1} LEFT JOIN ${pfx}b$k b ON TRUE),
         |${pfx}v$k AS MATERIALIZED (
         |  SELECT CAST(count(DISTINCT s) AS BIGINT) AS vocab_size
         |  FROM (SELECT unnest(split(sym, ' ')) AS s FROM ${pfx}w$k))"""
        .stripMargin
    s"""WITH ${pfx}w0 AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |    array_to_string(split(w, ''), ' ') || ' </w>' AS sym
       |  FROM (SELECT unnest(split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |${(1 to merges).map(round).mkString(",\n")}""".stripMargin
  }

  /** The q331/q334 shared WITH-chain: [[mergeLoopSql]] with the BPE
    * (pair_count DESC, pair ASC) argmax. */
  private def bpePrefixSql(merges: Int, pfx: String = ""): String =
    mergeLoopSql(merges, pfx, k =>
      s"""${pfx}b$k AS MATERIALIZED (
         |  SELECT pair, pair_count FROM ${pfx}p$k
         |  ORDER BY pair_count DESC, pair LIMIT 1)""".stripMargin)

  /** The q357/q358 shared WITH-chain — [[mergeLoopSql]] with the
    * WordPiece likelihood-ratio argmax: per round, pair counts p$k PLUS
    * freq-weighted symbol counts c$k (MATERIALIZED — referenced twice),
    * best = max (score DESC, pair_count DESC, pair ASC) where score is
    * the one exact IEEE division CAST(pair_count AS DOUBLE) /
    * CAST(cnt_a * cnt_b AS DOUBLE) — both engines divide the same two
    * exactly-representable integers, so the doubles are bit-identical. */
  private def wordpiecePrefixSql(merges: Int, pfx: String = ""): String =
    mergeLoopSql(merges, pfx, k =>
      s"""${pfx}c$k AS MATERIALIZED (
         |  SELECT s, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest(split(sym, ' ')) AS s FROM ${pfx}w${k - 1})
         |  GROUP BY s),
         |${pfx}b$k AS MATERIALIZED (
         |  SELECT pair, pair_count,
         |    CAST(pair_count AS DOUBLE) / CAST(ca.cnt * cb.cnt AS DOUBLE)
         |      AS score
         |  FROM ${pfx}p$k
         |  JOIN ${pfx}c$k ca ON ca.s = string_split(pair, ' ')[1]
         |  JOIN ${pfx}c$k cb ON cb.s = string_split(pair, ' ')[2]
         |  ORDER BY score DESC, pair_count DESC, pair LIMIT 1)""".stripMargin)

  /** Mirrors TextPrep.encodeFromDict: a trained merge `chain` through
    * w_merges, then one word-keyed dictionary join + per-doc aggregate. */
  private def mergeEncodeSql(chain: String, merges: Int): String =
    chain +
      s""",
         |tok AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(split(text, ' ')) AS w FROM documents)
         |  WHERE len(w) > 0),
         |dict AS MATERIALIZED (
         |  SELECT w, CAST(len(split(sym, ' ')) AS BIGINT) AS ns
         |  FROM w$merges)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(w) + 1) AS BIGINT) AS n_syms_init,
         |  CAST(sum(ns) AS BIGINT) AS n_syms,
         |  CAST(sum(len(w) + 1) AS DOUBLE) / CAST(sum(ns) AS DOUBLE)
         |    AS compression
         |FROM tok JOIN dict USING (w) GROUP BY doc_id""".stripMargin

  private def wordpieceTrainSql(merges: Int): String = {
    val rows = (1 to merges).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS round, b.pair,
         |  replace(b.pair, ' ', '') AS merged, b.pair_count, b.score,
         |  v.vocab_size
         |FROM b$k b, v$k v""".stripMargin)
      .mkString("\nUNION ALL\n")
    wordpiecePrefixSql(merges) + "\n" + rows
  }
  /** Mirrors TextPrep.tokenizerCompressionCensusFrom: the three trained-
    * tokenizer chains composed in ONE query via disjoint CTE prefixes
    * (g = BPE, y = WordPiece, u = unigram — each chain byte-equivalent
    * to its own q331/q357/q350 oracle), one shared modeled-word scan
    * (1..maxWord chars), word-keyed dictionary joins, HUGEINT half-up
    * rates. */
  private def tokenizerCensusSql(merges: Int, maxPiece: Int,
                                 maxWord: Int): String = {
    val bpe = bpePrefixSql(merges, "g").stripPrefix("WITH ")
    val wp = wordpiecePrefixSql(merges, "y").stripPrefix("WITH ")
    val ug = unigramLmChain(maxPiece, maxWord, "u").stripPrefix("WITH ")
    s"""WITH $bpe,
       |$wp,
       |$ug,
       |wsrc AS MATERIALIZED (
       |  SELECT source, w FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS w
       |    FROM documents)
       |  WHERE len(w) >= 1 AND len(w) <= $maxWord),
       |bd AS (SELECT w, CAST(len(split(sym, ' ')) AS BIGINT) AS np
       |  FROM gw$merges),
       |yd AS (SELECT w, CAST(len(split(sym, ' ')) AS BIGINT) AS np
       |  FROM yw$merges),
       |ud AS (SELECT w, CAST(count(*) AS BIGINT) AS np
       |  FROM usegs GROUP BY 1),
       |rr AS (
       |  SELECT 'bpe' AS tokenizer, source, w, np FROM wsrc JOIN bd USING (w)
       |  UNION ALL
       |  SELECT 'wordpiece', source, w, np FROM wsrc JOIN yd USING (w)
       |  UNION ALL
       |  SELECT 'unigram', source, w, np FROM wsrc JOIN ud USING (w))
       |SELECT tokenizer, source, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(w)) AS BIGINT) AS n_chars,
       |  CAST(sum(np) AS BIGINT) AS n_pieces,
       |  CAST(CAST((CAST(2 AS HUGEINT) * sum(np) * 1000000 + count(*))
       |    // (2 * count(*)) AS BIGINT) AS DOUBLE) / 1e6 AS fertility,
       |  CAST(CAST((CAST(2 AS HUGEINT) * sum(len(w)) * 1000000 + sum(np))
       |    // (2 * sum(np)) AS BIGINT) AS DOUBLE) / 1e6 AS chars_per_piece
       |FROM rr GROUP BY 1, 2""".stripMargin
  }

  /** Mirrors [[graft.operators.TextPrep.piiCensus]] over the identically
    * salted corpus: the detector patterns are embedded VERBATIM from
    * `TextPrep.piiDetectors` (Java-regex ∩ RE2 subset), salts verbatim
    * from [[piiSalts]], the hit rate is the same exact integer half-up
    * micro form. The per-doc count CTE is MATERIALIZED because the long
    * form references it once per detector. */
  private def piiCensusSql: String = {
    val saltedExpr = "text" + piiSalts.map { case (m, sf) =>
      s" || CASE WHEN doc_id % $m = 0 THEN '$sf' ELSE '' END"
    }.mkString
    val detCols = graft.operators.TextPrep.piiDetectors.map { case (n, p) =>
      s"CAST(len(regexp_extract_all(t, '$p')) AS BIGINT) AS $n"
    }.mkString(",\n    ")
    val unions = graft.operators.TextPrep.piiDetectors.map { case (n, _) =>
      s"SELECT source, '$n' AS pii_type, $n AS m FROM c"
    }.mkString("\n  UNION ALL ")
    s"""WITH s AS (SELECT source, doc_id, $saltedExpr AS t FROM documents),
       |c AS MATERIALIZED (SELECT source,
       |    $detCols
       |  FROM s),
       |l AS (
       |  $unions)
       |SELECT source, pii_type, CAST(count(*) AS BIGINT) AS docs,
       |  CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
       |  CAST(sum(m) AS BIGINT) AS matches,
       |  CAST((CAST(2 AS HUGEINT) * sum(CASE WHEN m > 0 THEN 1 ELSE 0 END)
       |        * 1000000 + count(*)) // (2 * count(*)) AS DOUBLE) / 1e6
       |    AS hit_rate
       |FROM l GROUP BY 1, 2""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q331_bpe_train" -> bpeTrainSql(10),
    "q334_bpe_encode" -> mergeEncodeSql(bpePrefixSql(10), 10),
    "q357_wordpiece_train" -> wordpieceTrainSql(10),
    "q358_wordpiece_encode" -> mergeEncodeSql(wordpiecePrefixSql(10), 10),
    "q390_tokenizer_census" -> tokenizerCensusSql(10, 4, 16),

    // Mirrors TextDedup.memorizationRiskFrom: the q389 k=10 window+next
    // inventory WITH doc_id, fingerprint-keyed (occ, ncont) aggregate,
    // join back on the fingerprint, doc-keyed roll-up, HUGEINT half-up
    // risk fraction.
    "q393_memorization_risk" ->
      """WITH xtk AS MATERIALIZED (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
        |  FROM documents),
        |xpw AS MATERIALIZED (
        |  SELECT doc_id, md5(array_to_string(ts[i+1 : i+10], ' ')) AS fp,
        |    ts[i+11] AS nxt
        |  FROM xtk, LATERAL (SELECT unnest(range(0, len(ts) - 10)) AS i)),
        |xbp AS (SELECT fp, CAST(count(*) AS BIGINT) AS occ,
        |    CAST(count(DISTINCT nxt) AS BIGINT) AS ncont
        |  FROM xpw GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN occ >= 2 AND ncont = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_risky,
        |  CAST(CAST((CAST(2 AS HUGEINT)
        |      * sum(CASE WHEN occ >= 2 AND ncont = 1 THEN 1 ELSE 0 END)
        |      * 1000000 + count(*)) // (2 * count(*)) AS BIGINT) AS DOUBLE)
        |    / 1e6 AS risk_frac
        |FROM xpw JOIN xbp USING (fp) GROUP BY 1""".stripMargin,

    // Mirrors TextDedup.memorizationRiskBySourceFrom: the q393 chain per k
    // (window+next inventory, fingerprint aggregate, join back, per-doc
    // counts), id-joined to the source and rolled up; high-risk via the
    // exact integer majority rule 2*nr >= nw.
    "q397_memorization_by_source" -> {
      val ks = Seq(5, 10, 20)
      val ctes = ks.map { k =>
        s"""ypw$k AS MATERIALIZED (
           |  SELECT doc_id, md5(array_to_string(ts[i+1 : i+$k], ' ')) AS fp,
           |    ts[i+${k + 1}] AS nxt
           |  FROM ytk, LATERAL (SELECT unnest(range(0, len(ts) - $k)) AS i)),
           |ybp$k AS (SELECT fp, CAST(count(*) AS BIGINT) AS occ,
           |    CAST(count(DISTINCT nxt) AS BIGINT) AS ncont
           |  FROM ypw$k GROUP BY 1),
           |ypd$k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
           |    CAST(sum(CASE WHEN occ >= 2 AND ncont = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nr
           |  FROM ypw$k JOIN ybp$k USING (fp) GROUP BY 1),
           |ysr$k AS (SELECT CAST($k AS BIGINT) AS k, d.source,
           |    CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(nw) AS BIGINT) AS n_windows,
           |    CAST(sum(nr) AS BIGINT) AS n_risky,
           |    CAST(sum(CASE WHEN nr * 2 >= nw * 1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_high_risk
           |  FROM ypd$k JOIN documents d USING (doc_id) GROUP BY 2)"""
          .stripMargin
      }.mkString(",\n")
      val stack = ks.map(k => s"SELECT * FROM ysr$k").mkString(" UNION ALL ")
      s"""WITH ytk AS MATERIALIZED (
         |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
         |  FROM documents),
         |$ctes
         |SELECT k, source, n_docs, n_windows, n_risky,
         |  CAST(CAST((CAST(2 AS HUGEINT) * n_risky * 1000000 + n_windows)
         |    // (2 * n_windows) AS BIGINT) AS DOUBLE) / 1e6 AS risk_frac,
         |  n_high_risk
         |FROM ($stack)""".stripMargin
    },

    // Mirrors Scale.softWeightedMix: the q388 weights chain (shared
    // knModelCte lineage) -> per-doc wmu, per-source soft mass = half-up
    // HUGEINT of sum(wmu * tokens)/1e6 over the scored population
    // (zero-mass sources excluded — the q391 guard), then the q386
    // decay/waterfill chain VERBATIM on the soft masses.
    "q394_soft_weighted_mix" ->
      s"""$knModelCte,
        |$freqModelCte,
        |spd AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST((2 * (-sum(occ * flp)) + sum(occ))
        |      // (2 * sum(occ)) AS BIGINT) AS rmu
        |  FROM db JOIN fmodel USING (w1, w2) GROUP BY 1),
        |smm AS (SELECT CAST((2 * sum(rmu) + count(*))
        |    // (2 * count(*)) AS BIGINT) AS mmu FROM spd),
        |wgt AS (SELECT doc_id,
        |    CASE WHEN mmu = 0 THEN CAST(1000000 AS BIGINT) ELSE
        |      CAST((CAST(2 AS HUGEINT) * rmu * 1000000 + mmu)
        |        // (2 * mmu) AS BIGINT) END AS wmu
        |  FROM spd CROSS JOIN smm),
        |dtok AS (SELECT doc_id, source,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |per AS (SELECT source,
        |    CAST(sum(nt) AS BIGINT) AS n_raw_tokens,
        |    CAST((2 * sum(CAST(wmu AS HUGEINT) * nt) + 1000000)
        |      // 2000000 AS BIGINT) AS s
        |  FROM dtok JOIN wgt USING (doc_id) GROUP BY 1
        |  HAVING (2 * sum(CAST(wmu AS HUGEINT) * nt) + 1000000)
        |    // 2000000 > 0),
        |${ScaleQueries.dataConstrainedChainSql("per")}
        |SELECT per.n_raw_tokens, ${ScaleQueries.dataConstrainedSelectSql()}
        |FROM dm JOIN per USING (source)""".stripMargin,

    // Mirrors Scale.allocationAblationFrom: the q386 chain (r-prefix) on
    // raw masses, the q391 chain (x/e-prefix: exact-substring runs ->
    // per-source unique mass) and the q394 chain (w-prefix: SoftDedup
    // weights -> soft mass) composed in ONE WITH via the prefixed
    // builders, two source-keyed LEFT joins off the raw spine.
    "q398_allocation_ablation" ->
      s"""WITH rper AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT)
        |      AS s
        |  FROM documents GROUP BY 1),
        |${ScaleQueries.dataConstrainedChainSql("rper", "r")},
        |${ScaleQueries.exactRunsCte("x")},
        |ecov AS (SELECT DISTINCT doc_id, pos FROM (
        |  SELECT doc_b AS doc_id,
        |    CAST(unnest(range(b_start, b_start + run_tokens)) AS BIGINT)
        |      AS pos
        |  FROM xruns)),
        |etk AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos
        |  FROM (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
        |    FROM documents),
        |    LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i)),
        |epd AS (SELECT etk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN ecov.pos IS NULL THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_rm
        |  FROM etk LEFT JOIN ecov ON ecov.doc_id = etk.doc_id
        |    AND ecov.pos = etk.pos
        |  GROUP BY etk.doc_id),
        |eper AS (SELECT d.source,
        |    CAST(sum(epd.n_tokens) - sum(epd.n_rm) AS BIGINT) AS s
        |  FROM epd JOIN documents d USING (doc_id) GROUP BY 1
        |  HAVING sum(epd.n_tokens) - sum(epd.n_rm) > 0),
        |${ScaleQueries.dataConstrainedChainSql("eper", "e")},
        |wtk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |wdb AS (SELECT doc_id, w1, w2, count(*) AS occ FROM (
        |    SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
        |      unnest(t[2:len(t)]) AS w2 FROM wtk)
        |  GROUP BY 1, 2, 3),
        |wbig AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c2
        |  FROM wdb GROUP BY 1, 2),
        |wttl AS (SELECT CAST(sum(c2) AS BIGINT) AS tt FROM wbig),
        |wfm AS (SELECT w1, w2,
        |    CAST(round(ln(CAST(c2 AS DOUBLE) / CAST(tt AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS flp
        |  FROM wbig CROSS JOIN wttl),
        |wspd AS (SELECT doc_id,
        |    CAST((2 * (-sum(occ * flp)) + sum(occ))
        |      // (2 * sum(occ)) AS BIGINT) AS rmu
        |  FROM wdb JOIN wfm USING (w1, w2) GROUP BY 1),
        |wsmm AS (SELECT CAST((2 * sum(rmu) + count(*))
        |    // (2 * count(*)) AS BIGINT) AS mmu FROM wspd),
        |wwgt AS (SELECT doc_id,
        |    CASE WHEN mmu = 0 THEN CAST(1000000 AS BIGINT) ELSE
        |      CAST((CAST(2 AS HUGEINT) * rmu * 1000000 + mmu)
        |        // (2 * mmu) AS BIGINT) END AS wmu
        |  FROM wspd CROSS JOIN wsmm),
        |wdt AS (SELECT doc_id, source,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |wper AS (SELECT source,
        |    CAST((2 * sum(CAST(wmu AS HUGEINT) * nt) + 1000000)
        |      // 2000000 AS BIGINT) AS s
        |  FROM wdt JOIN wwgt USING (doc_id) GROUP BY 1
        |  HAVING (2 * sum(CAST(wmu AS HUGEINT) * nt) + 1000000)
        |    // 2000000 > 0),
        |${ScaleQueries.dataConstrainedChainSql("wper", "w")}
        |SELECT rr.source, rr.n_tokens, rr.allocation AS alloc_raw,
        |  rr.eff_epochs AS eff_epochs_raw,
        |  ee.n_tokens AS unique_tokens, ee.allocation AS alloc_dedup,
        |  ee.eff_epochs AS eff_epochs_dedup,
        |  ww.n_tokens AS soft_tokens, ww.allocation AS alloc_soft,
        |  ww.eff_epochs AS eff_epochs_soft
        |FROM (SELECT ${ScaleQueries.dataConstrainedSelectSql("r")}
        |  FROM rdm) rr
        |LEFT JOIN (SELECT ${ScaleQueries.dataConstrainedSelectSql("e")}
        |  FROM edm) ee USING (source)
        |LEFT JOIN (SELECT ${ScaleQueries.dataConstrainedSelectSql("w")}
        |  FROM wdm) ww USING (source)""".stripMargin,

    // Mirrors the q395 card composition: the dedup-pipeline worklist
    // (wl) + BOTH gopher census chains (mc/r) + the q389 k=10 chain
    // (xtk/xpw/xbp, fresh names — the pipeline chain owns `toks`) + the
    // q386 decay chain over the raw source masses + the q331 BPE chain
    // under the `cb` prefix, each collapsed to its ONE card column and
    // cross-joined — five 1-row frames, byte-equivalent arithmetic to
    // the constituent oracles.
    "q395_corpus_card_v2" ->
      (dedupPipelineCte + ",\n" + gopherCensusCte + ",\n" +
        gopherQualityCte + ",\n" +
        bpePrefixSql(10, "cb").stripPrefix("WITH ") + s""",
        |cgate AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(CAST((CAST(2 AS HUGEINT)
        |        * sum(CASE WHEN ($gopherPassSql)
        |            AND ($gopherQualityPassSql) THEN 1 ELSE 0 END)
        |        * 1000000 + count(*)) // (2 * count(*)) AS BIGINT)
        |      AS DOUBLE) / 1e6 AS gopher_retention
        |  FROM mc JOIN r USING (doc_id)),
        |cfun AS (SELECT CAST(CAST((CAST(2 AS HUGEINT)
        |      * sum(CASE WHEN stage = 'retained' THEN 0 ELSE 1 END)
        |      * 1000000 + count(*)) // (2 * count(*)) AS BIGINT)
        |    AS DOUBLE) / 1e6 AS dedup_removed_frac FROM wl),
        |xtk AS MATERIALIZED (
        |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
        |  FROM documents),
        |xpw AS (SELECT md5(array_to_string(ts[i+1 : i+10], ' ')) AS fp,
        |    ts[i+11] AS nxt
        |  FROM xtk, LATERAL (SELECT unnest(range(0, len(ts) - 10)) AS i)),
        |xbp AS (SELECT fp, CAST(count(*) AS BIGINT) AS occ,
        |    CAST(count(DISTINCT nxt) AS BIGINT) AS ncont
        |  FROM xpw GROUP BY 1),
        |cext AS (SELECT CASE WHEN coalesce(sum(occ), 0) = 0 THEN 0.0 ELSE
        |    CAST(CAST((CAST(2 AS HUGEINT)
        |        * sum(CASE WHEN ncont = 1 THEN occ ELSE 0 END)
        |        * 1000000 + sum(occ)) // (2 * sum(occ)) AS BIGINT)
        |      AS DOUBLE) / 1e6 END AS extractable_frac_k10 FROM xbp),
        |per AS (SELECT source,
        |    CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT)
        |      AS s
        |  FROM documents GROUP BY 1),
        |${ScaleQueries.dataConstrainedChainSql("per")},
        |ceff AS (SELECT CAST(CAST((CAST(2 AS HUGEINT)
        |      * sum(CAST((2 * dmu + 1000000) // 2000000 AS BIGINT))
        |      * 1000000 + sum(s)) // (2 * sum(s)) AS BIGINT)
        |    AS DOUBLE) / 1e6 AS eff_epochs FROM dm),
        |wmod AS (SELECT w FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1 AND len(w) <= 16),
        |cbd AS (SELECT w, CAST(len(split(sym, ' ')) AS BIGINT) AS np
        |  FROM cbw10),
        |cfert AS (SELECT CAST(CAST((CAST(2 AS HUGEINT) * sum(np) * 1000000
        |      + count(*)) // (2 * count(*)) AS BIGINT) AS DOUBLE) / 1e6
        |    AS bpe_fertility
        |  FROM wmod JOIN cbd USING (w))
        |SELECT n_docs, gopher_retention, dedup_removed_frac,
        |  extractable_frac_k10, eff_epochs, bpe_fertility
        |FROM cgate, cfun, cext, ceff, cfert""".stripMargin),

    // Mirrors TextDedup.c4SpanDedup stage for stage: 4-token tiles via the
    // list-comprehension unnest, keeper = min packed (doc_id, tpos) per
    // tile text, keep-first flag, ordered string_agg rebuild (NULL when a
    // doc keeps nothing — string_agg over zero rows, matching Spark's
    // explicit NULL guard).
    "q329_c4_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, split(coalesce(text, ''), ' ') AS ts FROM documents),
        |t0 AS (
        |  SELECT doc_id,
        |    [array_to_string(ts[(i*4+1):(i*4+4)], ' ')
        |      for i in range(0, (len(ts) + 3) // 4)] AS tl
        |  FROM toks),
        |tiles AS (
        |  SELECT doc_id, CAST(generate_subscripts(tl, 1) - 1 AS BIGINT)
        |      AS tpos,
        |    unnest(tl) AS tile
        |  FROM t0),
        |k AS (
        |  SELECT tile, min(doc_id * 100000 + tpos) AS keeper
        |  FROM tiles GROUP BY tile),
        |f AS (
        |  SELECT t.doc_id, t.tpos, t.tile,
        |    (t.doc_id * 100000 + t.tpos = k.keeper) AS keep
        |  FROM tiles t JOIN k USING (tile))
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tiles,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_tiles,
        |  string_agg(CASE WHEN keep THEN tile END, ' ' ORDER BY tpos)
        |    AS clean_text
        |FROM f GROUP BY doc_id""".stripMargin,

    // Mirrors CorpusStats.categoryEntropy: per-(source, lang) micro-nat
    // quantized ln(p), exact BIGINT weighted sum, 6dp-rounded outputs.
    "q261_lang_mix_entropy" ->
      """WITH c AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS t,
        |    CAST(count(*) AS BIGINT) AS n_cats,
        |    CAST(max(n) AS BIGINT) AS mx
        |  FROM c GROUP BY 1),
        |s AS (
        |  SELECT c.source, t.t, t.n_cats, t.mx,
        |    CAST(sum(c.n * CAST(round(ln(CAST(c.n AS DOUBLE)
        |      / CAST(t.t AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS s
        |  FROM c JOIN t ON c.source = t.source
        |  GROUP BY 1, 2, 3, 4)
        |SELECT source, t AS n_rows, n_cats,
        |  round(CAST(s AS DOUBLE) / (t * -1e6), 6) AS entropy,
        |  round(exp(CAST(s AS DOUBLE) / (t * -1e6)), 6) AS effective_cats,
        |  CAST(mx AS DOUBLE) / t AS top_share
        |FROM s""".stripMargin,

    // The q33 skeleton twice (full vs 16-dim prefix), then a per-query
    // overlap count — neighbor SETS only, so the shared tie-break
    // (cos DESC, neighbor ASC) is what keeps both engines aligned.
    "q262_truncation_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |nf AS (SELECT vec_id, emb,
        |    sqrt(list_reduce(list_transform(emb, x -> x*x), (a,x) -> a+x))
        |      AS nrm FROM e),
        |nt AS (SELECT vec_id, emb[1:16] AS emb,
        |    sqrt(list_reduce(list_transform(emb[1:16], x -> x*x),
        |      (a,x) -> a+x)) AS nrm FROM e),
        |pf AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(range(1, len(q.emb)+1),
        |      i -> q.emb[i]*c.emb[i]), (a,x) -> a+x) / (q.nrm*c.nrm) AS cos
        |  FROM nf q, nf c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |kf AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |    FROM pf) WHERE rnk <= 10),
        |pt AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_transform(range(1, len(q.emb)+1),
        |      i -> q.emb[i]*c.emb[i]), (a,x) -> a+x) / (q.nrm*c.nrm) AS cos
        |  FROM nt q, nt c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |kt AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
        |    FROM pt) WHERE rnk <= 10)
        |SELECT kf.query_id,
        |  CAST(sum(CASE WHEN kt.neighbor_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        |  CAST(sum(CASE WHEN kt.neighbor_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS recall
        |FROM kf LEFT JOIN kt ON kf.query_id = kt.query_id
        |  AND kf.neighbor_id = kt.neighbor_id
        |GROUP BY 1""".stripMargin,

    // Mirrors Similarity.marginMutualPairs: same tie-break (cos DESC, id
    // ASC), same 6dp-quantized micro-unit denominator, k=4 ratio margin.
    "q265_mutual_margin" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |  FROM embeddings WHERE vec_id < 200),
        |n AS (SELECT vec_id, emb,
        |    sqrt(list_reduce(list_transform(emb, x -> x*x), (a,x) -> a+x))
        |      AS nrm FROM e),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_transform(range(1, len(a.emb)+1),
        |      i -> a.emb[i]*b.emb[i]), (a2,x) -> a2+x) / (a.nrm*b.nrm) AS cos
        |  FROM n a, n b WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
        |ra AS (SELECT id_a, id_b, cos, row_number() OVER (
        |    PARTITION BY id_a ORDER BY cos DESC, id_b) AS rn FROM p),
        |sa AS (SELECT id_a,
        |    min(CASE WHEN rn = 1 THEN id_b END) AS best_b,
        |    min(CASE WHEN rn = 1 THEN cos END) AS cos_a,
        |    CAST(sum(CASE WHEN rn <= 4
        |      THEN CAST(round(cos * 1e6) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS sum_mu_a
        |  FROM ra GROUP BY 1),
        |rb AS (SELECT id_a, id_b, cos, row_number() OVER (
        |    PARTITION BY id_b ORDER BY cos DESC, id_a) AS rn FROM p),
        |sb AS (SELECT id_b,
        |    min(CASE WHEN rn = 1 THEN id_a END) AS best_a,
        |    CAST(sum(CASE WHEN rn <= 4
        |      THEN CAST(round(cos * 1e6) AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS sum_mu_b
        |  FROM rb GROUP BY 1)
        |SELECT sa.id_a, sb.id_b, round(sa.cos_a, 6) AS cos_sim,
        |  round(sa.cos_a / (CAST(sa.sum_mu_a + sb.sum_mu_b AS DOUBLE)
        |    / CAST(8000000 AS DOUBLE)), 6) AS margin
        |FROM sa JOIN sb ON sa.best_b = sb.id_b AND sb.best_a = sa.id_a""".stripMargin,

    // Mirrors TextSearch.blocklistMatches: positional slice equality per
    // start index, overlapping matches counted, empty ranges for short docs.
    "q277_blocklist_phrases" ->
      """WITH ph(pid, p) AS (VALUES
        |    ('p1', 'table hash'), ('p2', 'slow key'),
        |    ('p3', 'spark'), ('p4', 'merge group')),
        |pt AS (SELECT pid, string_split(p, ' ') AS pts FROM ph),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents),
        |m AS (
        |  SELECT toks.doc_id, pt.pid, CAST(count(*) AS BIGINT)
        |    AS n_matches
        |  FROM toks CROSS JOIN pt,
        |    unnest([i for i in range(1, len(toks.t) - len(pt.pts) + 2)])
        |      AS u(i)
        |  WHERE toks.t[i:i + len(pt.pts) - 1] = pt.pts
        |  GROUP BY 1, 2)
        |SELECT doc_id, pid, n_matches FROM m""".stripMargin,

    // Mirrors Stats.hillTailIndex: same (value DESC, id) order, micro-unit
    // ratio logs, groups without 51 members dropped.
    "q271_hill_tail" ->
      """WITH r AS (
        |  SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents),
        |g AS (
        |  SELECT lang, max(CASE WHEN rn = 51 THEN v END) AS xref,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM r WHERE rn <= 51 GROUP BY 1),
        |s AS (
        |  SELECT r.lang, g.xref,
        |    CAST(sum(CAST(round(ln(r.v / g.xref) * 1e6) AS BIGINT))
        |      AS BIGINT) AS mu
        |  FROM r JOIN g ON r.lang = g.lang
        |  WHERE r.rn <= 50 AND g.n = 51
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(xref AS BIGINT) AS x_ref,
        |  round(CAST(mu AS DOUBLE) / 50000000.0, 6) AS hill,
        |  round(50000000.0 / CAST(mu AS DOUBLE), 6) AS alpha
        |FROM s""".stripMargin,

    "q26_text_stats" ->
      """SELECT doc_id,
        |  len(string_split(text,' ')) AS n_tokens,
        |  len(list_distinct(string_split(text,' '))) AS n_distinct_tokens,
        |  length(text) AS len_chars,
        |  CAST(list_sum([length(t) for t in string_split(text,' ')]) AS DOUBLE)
        |    / len(string_split(text,' ')) AS avg_token_len
        |FROM documents""".stripMargin,

    "q27_token_freq" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    "q28_fingerprint_dedup" ->
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, text FROM documents),
        |ranked AS (
        |  SELECT doc_id, md5(text) AS fingerprint,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
        |  FROM doubled)
        |SELECT doc_id, fingerprint FROM ranked WHERE rn = 1""".stripMargin,

    "q29_ngram_profile" ->
      """SELECT doc_id,
        |  len(list_distinct([substr(text, i, 3) for i in range(1, length(text)-1)])) AS n_distinct_trigrams,
        |  length(text)-2 AS n_trigrams
        |FROM documents WHERE length(text) >= 3""".stripMargin,

    "q30_lang_quality" ->
      s"""SELECT doc_id, lang,
         |  len(string_split(text,' ')) AS n_tokens,
         |  len(list_filter(string_split(text,' '), t -> t IN $stopEn)) AS en_hits,
         |  len(list_filter(string_split(text,' '), t -> t IN $stopDe)) AS de_hits,
         |  len(list_filter(string_split(text,' '), t -> t IN $stopFr)) AS fr_hits,
         |  CAST(len(list_filter(string_split(text,' '), t -> t IN $stopEn)) AS DOUBLE)
         |    / len(string_split(text,' ')) AS stop_ratio,
         |  CASE
         |    WHEN len(list_filter(string_split(text,' '), t -> t IN $stopEn)) >= len(list_filter(string_split(text,' '), t -> t IN $stopDe))
         |     AND len(list_filter(string_split(text,' '), t -> t IN $stopEn)) >= len(list_filter(string_split(text,' '), t -> t IN $stopFr))
         |     AND len(list_filter(string_split(text,' '), t -> t IN $stopEn)) > 0 THEN 'en'
         |    WHEN len(list_filter(string_split(text,' '), t -> t IN $stopDe)) >= len(list_filter(string_split(text,' '), t -> t IN $stopFr))
         |     AND len(list_filter(string_split(text,' '), t -> t IN $stopDe)) > 0 THEN 'de'
         |    WHEN len(list_filter(string_split(text,' '), t -> t IN $stopFr)) > 0 THEN 'fr'
         |    ELSE 'unk' END AS guessed_lang,
         |  (len(string_split(text,' ')) >= 20 AND
         |   CAST(len(list_filter(string_split(text,' '), t -> t IN $stopEn)) AS DOUBLE)
         |     / len(string_split(text,' ')) >= 0.05) AS is_quality
         |FROM documents""".stripMargin,

    "q31_minhash_lsh_pairs" -> minhashPairsSql,

    // Mirrors TextDedup.crossRunVerdicts on the q31 signature scheme:
    // same 3-token shingles, same per-band (md5-slice min || min) sigs,
    // same md5(text) sentinels, store = doc_id % 3 == 0, batch-first
    // bucket minima, exact BIGINT hit counts.
    "q318_cross_run_dedup" ->
      s"""WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents
        |  WHERE len(string_split(text,' ')) >= 3),
        |${minhashShinglesCte("")},
        |sig AS (
        |  SELECT doc_id, band,
        |    min(substr(md5(sh), band*8+1, 4)) ||
        |      min(substr(md5(sh), band*8+5, 4)) AS sig
        |  FROM sh, (SELECT unnest([0,1,2,3]) AS band)
        |  GROUP BY doc_id, band),
        |rows_all AS (
        |  SELECT doc_id, band, sig FROM sig
        |  UNION ALL
        |  SELECT doc_id, -1 AS band, md5(text) AS sig FROM documents),
        |store AS (
        |  SELECT DISTINCT band, sig FROM rows_all WHERE doc_id % 3 = 0),
        |b AS (SELECT * FROM rows_all WHERE doc_id % 3 <> 0),
        |mins AS (
        |  SELECT band, sig, min(doc_id) AS min_id FROM b GROUP BY 1, 2),
        |per AS (
        |  SELECT b.doc_id,
        |    CASE WHEN s.band IS NOT NULL THEN 1 ELSE 0 END AS st,
        |    CASE WHEN m.min_id < b.doc_id THEN 1 ELSE 0 END AS pr
        |  FROM b
        |  JOIN mins m ON m.band = b.band AND m.sig = b.sig
        |  LEFT JOIN store s ON s.band = b.band AND s.sig = b.sig)
        |SELECT doc_id, CAST(sum(st) AS BIGINT) AS store_hits,
        |  CAST(sum(pr) AS BIGINT) AS batch_prior_hits,
        |  (sum(st) = 0 AND sum(pr) = 0) AS accepted
        |FROM per GROUP BY 1""".stripMargin,

    // Mirrors CorpusStats.vocabCoverage: same tokenize/filter order,
    // exact frequency-of-frequency BIGINTs into the two estimator
    // formulas with identical operation order.
    // Mirrors Multimodal.ahashNearDup on the text-minted payloads: byte
    // values via ord, exact cross-multiplied cell bits, identical band
    // packing and Hamming verify.
    // ASCII-CORPUS ASSUMPTION: this mirror reads CODE POINTS
    // (ord/substr/length) while the Spark side hashes raw UTF-8 payload
    // BYTES; they agree only while every document is pure ASCII (byte
    // == code point, octet_length == length). The generated corpus is
    // ASCII-only and MultimodalSpec's "oracle byte/char equivalence
    // holds: corpus is ASCII" test enforces it — if non-ASCII text ever
    // lands in documents.parquet, rewrite this oracle over blob bytes
    // instead of characters.
    "q309_media_ahash_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    [ord(substr(text, i, 1)) for i in range(1, length(text) + 1)]
        |      AS l
        |  FROM documents WHERE length(text) >= 64),
        |pos AS (
        |  SELECT doc_id,
        |    CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS p,
        |    CAST(unnest(l) AS BIGINT) AS v, CAST(len(l) AS BIGINT) AS ln
        |  FROM d),
        |cellv AS (SELECT doc_id, ln, p * 64 // ln AS c, v FROM pos),
        |cs AS (SELECT doc_id, ln, c, CAST(sum(v) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM cellv GROUP BY 1, 2, 3),
        |tt AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS tot
        |  FROM cellv GROUP BY 1),
        |bits AS (SELECT cs.doc_id, cs.c // 16 AS band, cs.c % 16 AS off,
        |    CASE WHEN cs.s * cs.ln > tt.tot * cs.k THEN 1 ELSE 0 END
        |      AS bit
        |  FROM cs JOIN tt ON cs.doc_id = tt.doc_id),
        |sigs AS (SELECT doc_id, band,
        |    CAST(sum(bit * (1 << off)) AS BIGINT) AS sig
        |  FROM bits GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b
        |  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
        |    AND a.doc_id < b.doc_id),
        |h AS (
        |  SELECT cand.media_a, cand.media_b,
        |    CAST(sum(bit_count(xor(sa.sig, sb.sig))) AS BIGINT)
        |      AS hamming
        |  FROM cand
        |  JOIN sigs sa ON sa.doc_id = cand.media_a
        |  JOIN sigs sb ON sb.doc_id = cand.media_b AND sb.band = sa.band
        |  GROUP BY 1, 2)
        |SELECT media_a, media_b, hamming FROM h
        |WHERE hamming <= 12""".stripMargin,

    // Mirrors CorpusStats.heapsLaw: same integer bucket fold, ln
    // micro-quantized at first appearance, exact BIGINT fit sums.
    "q303_heaps_law" ->
      """WITH mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx
        |  FROM documents),
        |tok AS (
        |  SELECT CAST(doc_id AS BIGINT) * 50 // (mx.mx + 1) AS b,
        |    u.t AS t
        |  FROM documents, mx, unnest(string_split(text, ' ')) AS u(t)
        |  WHERE u.t <> ''),
        |perb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_tokens
        |  FROM tok GROUP BY 1),
        |newv AS (SELECT fb AS b, CAST(count(*) AS BIGINT) AS new_types
        |  FROM (SELECT t, min(b) AS fb FROM tok GROUP BY 1)
        |  GROUP BY 1),
        |grid AS (
        |  SELECT perb.b AS bucket, perb.n_tokens,
        |    coalesce(newv.new_types, 0) AS new_types
        |  FROM perb LEFT JOIN newv ON newv.b = perb.b),
        |cum AS (
        |  SELECT bucket, n_tokens, new_types,
        |    CAST(sum(n_tokens) OVER (ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |    CAST(sum(new_types) OVER (ORDER BY bucket
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
        |  FROM grid),
        |q AS (SELECT *,
        |    CAST(round(ln(CAST(cum_tokens AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS x,
        |    CAST(round(ln(CAST(cum_vocab AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS y
        |  FROM cum),
        |fit AS (SELECT CAST(count(*) AS BIGINT) AS j,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM q)
        |SELECT bucket, n_tokens, new_types, cum_tokens, cum_vocab,
        |  (CAST(j AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(j AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS heaps_beta
        |FROM q CROSS JOIN fit""".stripMargin,

    "q297_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT source AS g, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |tf AS (SELECT g, t, CAST(count(*) AS BIGINT) AS f
        |  FROM tok WHERE t <> '' GROUP BY 1, 2),
        |a AS (SELECT g,
        |    CAST(count(*) AS BIGINT) AS v_obs,
        |    CAST(sum(f) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM tf GROUP BY 1)
        |SELECT g AS source, v_obs, n_tokens, n1, n2,
        |  CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS gt_unseen_mass,
        |  CAST(v_obs AS DOUBLE)
        |    + CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)
        |      / (2.0 * (CAST(n2 AS DOUBLE) + 1.0)) AS chao1
        |FROM a""".stripMargin,

    // Mirrors CorpusStats.wassersteinDrift: identical grid, identical
    // integer step terms, one terminal division.
    "q292_wasserstein_drift" ->
      """WITH gv AS (
        |  SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |allv AS (SELECT DISTINCT v FROM gv),
        |groups AS (SELECT DISTINCT g FROM gv),
        |grid AS (
        |  SELECT groups.g, allv.v, coalesce(gv.c, 0) AS cg
        |  FROM groups CROSS JOIN allv
        |  LEFT JOIN gv ON gv.g = groups.g AND gv.v = allv.v),
        |cum AS (
        |  SELECT g, v,
        |    sum(cg) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    coalesce(lead(v) OVER (PARTITION BY g ORDER BY v) - v, 0)
        |      AS gap
        |  FROM grid),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM gv GROUP BY 1),
        |sides AS (
        |  SELECT cum.g, cum.v, cum.cum, cum.gap, tot.n
        |  FROM cum JOIN tot ON cum.g = tot.g)
        |SELECT a.g AS src_a, b.g AS src_b, a.n AS n_a, b.n AS n_b,
        |  CAST(CAST(sum(abs(CAST(a.cum AS HUGEINT) * b.n
        |      - CAST(b.cum AS HUGEINT) * a.n) * a.gap)
        |    AS DECIMAL(38,0)) AS DOUBLE)
        |    / CAST(a.n * b.n AS DOUBLE) AS w1
        |FROM sides a JOIN sides b ON a.v = b.v AND a.g < b.g
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // Composes the q31/q32/q75 pair oracles verbatim into the method-
    // agreement Venn.
    "q291_dedup_agreement" ->
      s"""WITH mh AS (SELECT doc_a, doc_b FROM ($minhashPairsSql)),
         |sh AS (SELECT doc_a, doc_b FROM ($simhashPairsSql)),
         |ng AS (SELECT doc_a, doc_b
         |  FROM (${ScaleQueries.oracle("q75_ngram_jaccard_pairs")})),
         |allp AS (
         |  SELECT doc_a, doc_b FROM mh UNION
         |  SELECT doc_a, doc_b FROM sh UNION
         |  SELECT doc_a, doc_b FROM ng),
         |f AS (SELECT p.doc_a, p.doc_b,
         |    EXISTS (SELECT 1 FROM mh
         |      WHERE mh.doc_a = p.doc_a AND mh.doc_b = p.doc_b)
         |      AS in_minhash,
         |    EXISTS (SELECT 1 FROM sh
         |      WHERE sh.doc_a = p.doc_a AND sh.doc_b = p.doc_b)
         |      AS in_simhash,
         |    EXISTS (SELECT 1 FROM ng
         |      WHERE ng.doc_a = p.doc_a AND ng.doc_b = p.doc_b)
         |      AS in_ngram
         |  FROM allp p)
         |SELECT in_minhash, in_simhash, in_ngram,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM f GROUP BY 1, 2, 3""".stripMargin,

    // FNV-1a's unsigned-64-bit wraparound is mirrored exactly with HUGEINT
    // arithmetic mod 2^64 (the corpus is ASCII, so unicode(char) == the UTF-8
    // byte SimHash64 hashes); votes and banding then replay the native
    // expression bit-for-bit.
    "q32_simhash_pairs" -> simhashPairsSql,

    // Rolling hash (h = h*1000003 + byte mod 2^64) and SimHash via the same
    // HUGEINT-mod-2^64 mirror as q32.
    "q41_native_fingerprints" ->
      ("WITH " + simhashVotesCte + """,
        |ch AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(1469598103934665603::HUGEINT,
        |      [unicode(substr(text, i, 1))::HUGEINT for i in range(1, length(text)+1)]),
        |    (acc, b) -> (acc * 1000003::HUGEINT + b) % 18446744073709551616::HUGEINT) AS chu
        |  FROM documents)
        |SELECT ch.doc_id,
        |  CAST(CASE WHEN chu >= (1::HUGEINT << 63)
        |    THEN chu - 18446744073709551616::HUGEINT ELSE chu END AS BIGINT) AS content_hash,
        |  CAST(CASE WHEN shu >= (1::HUGEINT << 63)
        |    THEN shu - 18446744073709551616::HUGEINT ELSE shu END AS BIGINT) AS simhash
        |FROM ch JOIN sh ON ch.doc_id = sh.doc_id""".stripMargin),

    // The media stub derives width/height from fnv1a(payload bytes) —
    // unsigned mod/shift replayed as HUGEINT % and // (ASCII corpus, so
    // char length == byte length).
    "q37_media_features" ->
      """WITH h AS (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(14695981039346656037::HUGEINT,
        |      [unicode(substr(text, i, 1))::HUGEINT for i in range(1, length(text)+1)]),
        |    (acc, b) -> (xor(acc, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS hu,
        |    length(text) AS n
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS kind,
        |  CAST(n AS BIGINT) AS n_bytes,
        |  CAST(16 + hu % 1024 AS INTEGER) AS width,
        |  CAST(16 + (hu // 1024) % 1024 AS INTEGER) AS height,
        |  1 AS n_frames
        |FROM h""".stripMargin,

    "q33_knn_bruteforce" ->
      s"""WITH ${embNormsCte()},
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        list_reduce(list_transform(range(1, len(q.emb)+1), i -> q.emb[i]*c.emb[i]), (a,x) -> a+x)
        |          / (q.nrm * c.nrm) AS cos
        |      FROM n q, n c
        |      WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |      FROM p)
        |SELECT query_id, rnk, neighbor_id, round(cos, 6) AS cos_sim
        |FROM r WHERE rnk <= 10""".stripMargin,

    "q34_knn_lsh" ->
      s"""WITH ${lshBucketNormsCte},
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        list_reduce(list_transform(range(1, len(q.emb)+1), i -> q.emb[i]*c.emb[i]), (a,x) -> a+x)
        |          / (q.nrm * c.nrm) AS cos
        |      FROM n q JOIN n c ON q.bucket = c.bucket
        |      WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |      FROM p)
        |SELECT query_id, rnk, neighbor_id, round(cos, 6) AS cos_sim
        |FROM r WHERE rnk <= 3""".stripMargin,

    "q35_partitioned_roundtrip" ->
      """SELECT CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m,
        |  CAST(day(ts) AS INTEGER) AS d, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE day(ts) <= 7
        |GROUP BY 1, 2, 3""".stripMargin,

    "q36_binary_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  hex(encode(substring(text, 1, 4))) AS head_hex,
        |  md5(text) AS fingerprint
        |FROM documents""".stripMargin,

    "q38_systematic_sample" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0','1')""".stripMargin,

    "q39_stage_dedup_avg" ->
      """WITH daily AS (
        |  SELECT CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m,
        |    CAST(day(ts) AS INTEGER) AS d,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |    count(*) AS n_rows
        |  FROM events GROUP BY 1, 2, 3),
        |stage AS (SELECT * FROM daily UNION ALL SELECT * FROM daily)
        |SELECT y, m, d, avg(sum_value) AS avg_sum_value,
        |  avg(n_rows) AS avg_n_rows, count(*) AS n_stage_rows
        |FROM stage GROUP BY y, m, d""".stripMargin,

    "q40_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events""".stripMargin,

    "q42_salted_skew_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    // Mirrors Temporal.asofNearest: two directed ASOF joins, microsecond
    // distance CASE, ties backward.
    "q290_asof_nearest" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT c.event_id, c.user_id, c.ts, p.ts AS bts, p.value AS bval
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.ts >= p.ts),
        |f AS (
        |  SELECT c.event_id, p.ts AS fts, p.value AS fval
        |  FROM c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.ts <= p.ts),
        |j AS (SELECT b.*, f.fts, f.fval
        |  FROM b JOIN f ON b.event_id = f.event_id),
        |d AS (SELECT *,
        |    CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
        |         WHEN fts IS NULL THEN 'backward'
        |         WHEN bts IS NULL THEN 'forward'
        |         WHEN epoch_us(ts) - epoch_us(bts)
        |           <= epoch_us(fts) - epoch_us(ts) THEN 'backward'
        |         ELSE 'forward' END AS direction
        |  FROM j)
        |SELECT event_id, user_id,
        |  CAST(epoch(date_trunc('second',
        |    CASE WHEN direction = 'backward' THEN bts
        |         WHEN direction = 'forward' THEN fts END)) AS BIGINT)
        |    AS purchase_sec,
        |  CASE WHEN direction = 'backward' THEN bval
        |       WHEN direction = 'forward' THEN fval END AS purchase_value,
        |  direction
        |FROM d""".stripMargin,

    "q43_asof_join" ->
      OracleSql.asofPurchaseSql(">="),

    "q44_range_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events WHERE event_type = 'click')
        |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  b.sec - a.sec AS gap_sec
        |FROM c a JOIN c b ON a.user_id = b.user_id
        |WHERE (a.sec < b.sec OR (a.sec = b.sec AND a.event_id < b.event_id))
        |  AND b.sec - a.sec <= 1800""".stripMargin,

    "q45_embedding_neardup" ->
      s"""WITH ${lshBucketNormsCte},
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        list_reduce(list_transform(range(1, len(a.emb)+1), i -> a.emb[i]*b.emb[i]), (x,y) -> x+y)
        |          / (a.nrm * b.nrm) AS cos
        |      FROM n a JOIN n b ON a.bucket = b.bucket
        |      WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos, 6) AS cos_sim FROM p WHERE cos >= 0.3""".stripMargin,

    "q46_bpe_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
        |  len(string_split(text, ' ')) AS n_ws_tokens
        |FROM documents""".stripMargin,

    "q47_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q48_window_range_frame" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
        |    RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d_spend
        |FROM orders""".stripMargin,

    "q49_median" ->
      """SELECT event_type, median(value) AS med_value, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,

    // Mirrors Similarity.kmeansCentroids: the two `lloydRound`s of
    // `lloydRankedCte`, so trained centroids are bit-identical to Spark's
    // regardless of partitioning; probes search their 2 nearest cells.
    "q50_ivf_ann" ->
      ("WITH " + lloydRankedCte + """,
        |assign AS (SELECT vec_id AS neighbor_id, cid, emb AS n_emb, nrm AS n_nrm
        |           FROM ranked WHERE crn = 1),
        |probes AS (SELECT vec_id AS query_id, cid, emb AS q_emb, nrm AS q_nrm
        |           FROM ranked WHERE vec_id >= 100 AND vec_id < 200 AND crn <= 2),
        |scored AS (
        |  SELECT p.query_id, a.neighbor_id,
        |    list_reduce(list_transform(range(1, len(p.q_emb)+1), i -> p.q_emb[i]*a.n_emb[i]), (x,y) -> x+y)
        |      / (p.q_nrm * a.n_nrm) AS cos
        |  FROM probes p JOIN assign a ON p.cid = a.cid
        |  WHERE p.query_id <> a.neighbor_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |      FROM scored)
        |SELECT query_id, rnk, neighbor_id, round(cos, 6) AS cos_sim
        |FROM r WHERE rnk <= 3""".stripMargin),

    "q52_text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower('  ' || upper(text) || E'\tMIXED Case  '),
        |    '[ \t\r\n]+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,

    "q53_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(substring(text, 1, 40) || ' contact bob@example.com id 12345678 end',
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS clean_text
        |FROM documents""".stripMargin,

    "q338_pii_census" -> piiCensusSql,

    "q54_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(floor((len(string_split(text, ' ')) - 1) / 24) AS INT) + 1 AS n_chunks
        |  FROM documents)
        |SELECT doc_id, chunk_id, chunk FROM (
        |  SELECT doc_id,
        |    unnest(range(0, n_chunks)) AS chunk_id,
        |    unnest([array_to_string(toks[i*24+1 : i*24+32], ' ') for i in range(0, n_chunks)]) AS chunk
        |  FROM t)
        |WHERE length(chunk) > 0""".stripMargin,

    "q55_tf_df" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id, token, tf, df FROM tf JOIN dfq USING (token)""".stripMargin,

    "q56_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS click,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS view,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q57_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin,

    "q58_histogram" ->
      """SELECT CAST(floor(value / 10) AS BIGINT) AS bucket, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    "q59_corr_exact" ->
      """WITH c AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS corr_qty_price
        |FROM c""".stripMargin,

    "q60_levenshtein" -> ("WITH " + minhashDocPairsCte("") + """
        |SELECT doc_a, doc_b,
        |  levenshtein(substring(ta.text, 1, 60), substring(tb.text, 1, 60)) AS edit_dist
        |FROM pairs
        |JOIN documents ta ON ta.doc_id = doc_a
        |JOIN documents tb ON tb.doc_id = doc_b""".stripMargin),

    "q64_listagg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "q65_null_handling" ->
      """SELECT c_custkey,
        |  coalesce(o_orderkey, -1) AS order_or_default,
        |  nullif(o_orderpriority, '1-URGENT') AS prio_not_urgent,
        |  o_orderkey IS NULL AS has_no_big_order,
        |  o_custkey IS NOT DISTINCT FROM c_custkey AS nullsafe_eq
        |FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0)
        |  ON c_custkey = o_custkey""".stripMargin,

    "q66_date_funcs" ->
      """SELECT o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |  dayofweek(o_orderdate) AS dow_sun0,
        |  datediff('day', CAST(o_orderdate AS DATE), last_day(CAST(o_orderdate AS DATE))) AS days_to_month_end
        |FROM orders""".stripMargin,

    "q67_conditionals" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity < 10 THEN 'small'
        |       WHEN l_quantity < 30 THEN 'medium'
        |       ELSE 'large' END AS qty_bucket,
        |  least(l_quantity, l_discount * 100) AS least_v,
        |  greatest(l_quantity, l_discount * 100) AS greatest_v
        |FROM lineitem""".stripMargin,

    "q72_ngram_lang_id" ->
      """SELECT doc_id, lang, en_bigrams, de_bigrams, fr_bigrams,
        |  CASE
        |    WHEN en_bigrams >= de_bigrams AND en_bigrams >= fr_bigrams
        |     AND en_bigrams > 0 THEN 'en'
        |    WHEN de_bigrams >= fr_bigrams AND de_bigrams > 0 THEN 'de'
        |    WHEN fr_bigrams > 0 THEN 'fr'
        |    ELSE 'unk' END AS guessed_lang
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_filter(['th','he','an','in','er'], g -> strpos(text, g) > 0)) AS en_bigrams,
        |    len(list_filter(['ch','ei','de','en','un'], g -> strpos(text, g) > 0)) AS de_bigrams,
        |    len(list_filter(['le','es','on','ou','qu'], g -> strpos(text, g) > 0)) AS fr_bigrams
        |  FROM documents)""".stripMargin,

    "q73_grouping_id" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  grouping(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q74_source_mixing" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE CASE WHEN source IN ('src0','src1')
        |  THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3','4','5','6','7')
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') END""".stripMargin,

    "q71_sql_correlated_subquery" ->
      """SELECT c.c_custkey,
        |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders,
        |  (SELECT max(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_spend
        |FROM customer c""".stripMargin,

    "q68_string_funcs" ->
      """SELECT c_custkey,
        |  lpad(c_name, 25, '*') AS padded,
        |  translate(c_name, '#', '-') AS translated,
        |  reverse(c_name) AS reversed,
        |  strpos(c_name, '#') AS hash_pos,
        |  split_part(c_name, '#', 1) AS name_prefix,
        |  upper(c_mktsegment) AS segment_uc
        |FROM customer""".stripMargin,

    "q69_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_v,
        |  CAST(ceil(l_quantity / 7) AS BIGINT) AS ceil_v,
        |  CAST(floor(l_quantity / 7) AS BIGINT) AS floor_v,
        |  sqrt(l_quantity) AS sqrt_v,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_v,
        |  l_orderkey % 97 AS mod_v
        |FROM lineitem""".stripMargin,

    "q70_shipping_priority" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q62_count_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q63_window_rank_family" ->
      """SELECT o_orderkey, o_orderpriority,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,

    "q61_dedup_clusters" -> (clusterCte + """
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin),

    // Mirrors q121 over the shared cluster lineage: longest member kept,
    // ties to the smaller id, replayed as a row_number argmax.
    "q121_retention_longest" -> (clusterCte + """,
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |mem AS (SELECT cl.cluster_id, d.doc_id, d.n_chars
        |        FROM cl JOIN documents d USING (doc_id)),
        |rk AS (SELECT cluster_id, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY cluster_id
        |           ORDER BY n_chars DESC, doc_id ASC) AS rn
        |       FROM mem)
        |SELECT cluster_id, doc_id, n_chars,
        |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM rk""".stripMargin),

    "q91_dedup_retention" -> (clusterCte + """,
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT d.doc_id, d.source,
        |  coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
        |  CAST(CASE WHEN cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id
        |       THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM documents d LEFT JOIN cl USING (doc_id)""".stripMargin),


    "q51_session_window" ->
      """WITH t AS (
        |  SELECT user_id, value,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, value, sec,
        |    CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM t),
        |islands AS (
        |  SELECT user_id, value, sec,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id,
        |  min(sec) AS session_start_sec,
        |  max(sec) + 1800 AS session_end_sec,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM islands
        |GROUP BY user_id, session_id""".stripMargin,

    // Mirrors TextLm.bigramCrossEntropy: add-one-smoothed bigram model
    // trained on the corpus, per-bigram-TYPE log-prob quantized to integer
    // micro-units in the model, exact integer per-doc sum, one division +
    // 6 dp round at the end. sum(occ)/sum(occ*lp_mu) are BIGINT-cast per
    // the HUGEINT discipline.
    "q101_lm_xent" ->
      s"""WITH ${OracleSql.addOneLmCte}
        |${OracleSql.bigramXentSql}""".stripMargin,

    // Mirrors TextSearch.phraseSearch("slow hash batch"): positional
    // postings (zipped unnest), one CTE per phrase token, adjacency by
    // pos-arithmetic equi-joins. Inner joins keep only matching docs, and
    // overlapping matches count once per start position — exactly the
    // Spark fold's semantics.
    "q103_phrase_search" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |p AS (SELECT doc_id, unnest(t) AS term, unnest(range(1, len(t)+1)) AS pos
        |      FROM toks),
        |f0 AS (SELECT doc_id, pos FROM p WHERE term = 'slow'),
        |f1 AS (SELECT doc_id, pos FROM p WHERE term = 'hash'),
        |f2 AS (SELECT doc_id, pos FROM p WHERE term = 'batch')
        |SELECT f0.doc_id, CAST(count(*) AS BIGINT) AS n_matches
        |FROM f0
        |JOIN f1 ON f1.doc_id = f0.doc_id AND f1.pos = f0.pos + 1
        |JOIN f2 ON f2.doc_id = f0.doc_id AND f2.pos = f0.pos + 2
        |GROUP BY f0.doc_id""".stripMargin,

    // Mirrors TextDedup.crossGroupOverlap with raw-string shingle
    // identities (the Spark side groups on their FNV hashes — q85/q118's
    // discipline; counts equal absent a 2^-64 collision).
    "q104_source_overlap" ->
      """WITH toks AS (SELECT source, string_split(text,' ') AS t FROM documents
        |              WHERE len(string_split(text,' ')) >= 5),
        |g AS (SELECT DISTINCT source,
        |        unnest([array_to_string(t[i:i+4], ' ')
        |                for i in range(1, len(t)-3)]) AS gh
        |      FROM toks)
        |SELECT a.source AS group_a, b.source AS group_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_grams
        |FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // Mirrors Similarity.labelCentroidConfusion: micro-unit quantization,
    // exact integer per-dim sums (BIGINT-cast out of DuckDB's HUGEINT),
    // one double division + round per centroid dim, integer squared
    // distances, argmin by (dist, label).
    "q106_label_purity" ->
      ("WITH " + labelCentroidsCte + """,
        |d AS (
        |  SELECT e.vec_id, e.label, cen.lc,
        |    CAST(sum((e.x - cen.c) * (e.x - cen.c)) AS BIGINT) AS dist
        |  FROM e JOIN cen ON cen.i = e.i GROUP BY 1, 2, 3),
        |a AS (
        |  SELECT vec_id, label, lc,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, lc ASC) AS rn
        |  FROM d)
        |SELECT label, lc AS pred_label, CAST(count(*) AS BIGINT) AS n
        |FROM a WHERE rn = 1 GROUP BY 1, 2""".stripMargin),

    // Mirrors Temporal.funnelSteps: per-step earliest-qualifying min(ts)
    // chained through user-keyed joins, same strict > / within-interval
    // bounds. Counts BIGINT-cast.
    "q108_funnel_steps" ->
      """WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s0 ON s0.user_id = e.user_id
        |       WHERE e.event_type = 'view' AND e.ts > s0.t
        |         AND e.ts <= s0.t + INTERVAL 259200 SECONDS GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t
        |         AND e.ts <= s1.t + INTERVAL 259200 SECONDS GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s2 ON s2.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |         AND e.ts <= s2.t + INTERVAL 259200 SECONDS GROUP BY 1)
        |SELECT 0 AS step_idx, 'signup' AS step,
        |  CAST((SELECT count(*) FROM s0) AS BIGINT) AS n_users
        |UNION ALL SELECT 1, 'view', CAST((SELECT count(*) FROM s1) AS BIGINT)
        |UNION ALL SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)""".stripMargin,

    // Mirrors Similarity.knnClassify: same sequential-fold cosine as q33,
    // rank by (cos DESC, neighbor ASC), votes BIGINT, argmax by
    // (votes DESC, label ASC).
    "q110_knn_label_vote" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |n AS (SELECT vec_id, label, emb,
        |        sqrt(list_reduce(list_transform(emb, x -> x*x), (a,x) -> a+x)) AS nrm
        |      FROM e),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
        |        list_reduce(list_transform(range(1, len(q.emb)+1), i -> q.emb[i]*c.emb[i]), (a,x) -> a+x)
        |          / (q.nrm * c.nrm) AS cos
        |      FROM n q, n c
        |      WHERE q.vec_id < 50 AND c.vec_id >= 50 AND q.vec_id <> c.vec_id),
        |r AS (SELECT query_id, label,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |      FROM p),
        |v AS (SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
        |      FROM r WHERE rnk <= 10 GROUP BY 1, 2),
        |a AS (SELECT query_id, label, votes,
        |        row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label ASC) AS rn
        |      FROM v)
        |SELECT query_id, label AS pred_label, votes FROM a WHERE rn = 1""".stripMargin,

    // Mirrors Robust.madOutliers: exact interpolated medians (identical on
    // integer input in both engines), every intermediate an exactly-
    // representable double (halves of integers), same strict > cutoff.
    "q111_mad_outliers" ->
      """WITH med AS (SELECT source, median(n_chars) AS med FROM documents GROUP BY 1),
        |dev AS (SELECT d.source, doc_id, n_chars, med,
        |          abs(CAST(n_chars AS DOUBLE) - med) AS adev
        |        FROM documents d JOIN med USING (source)),
        |mad AS (SELECT source, median(adev) AS mad FROM dev GROUP BY 1)
        |SELECT dev.source, doc_id, n_chars, med, mad.mad AS mad
        |FROM dev JOIN mad USING (source)
        |WHERE adev > CAST(3 AS DOUBLE) * mad.mad""".stripMargin,

    // Mirrors q120: same daily-count base, same exact median/MAD arithmetic
    // as the q111 oracle.
    "q120_event_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, median(n) AS med FROM daily GROUP BY 1),
        |dev AS (SELECT d.event_type, day, n, med,
        |          abs(CAST(n AS DOUBLE) - med) AS adev
        |        FROM daily d JOIN med USING (event_type)),
        |mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1)
        |SELECT dev.event_type, day, n, med, mad.mad AS mad
        |FROM dev JOIN mad USING (event_type)
        |WHERE adev > CAST(3 AS DOUBLE) * mad.mad""".stripMargin,

    // Mirrors Similarity.annRecall: the q33 chain at k=3 (exact) vs the q34
    // chain at k=3/nBits=4 (ANN), hits counted via an IN-subquery semi
    // join, recall = double division of small exact counts.
    "q112_ann_recall" ->
      s"""WITH ${lshBucketNormsCte},
        |xp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        list_reduce(list_transform(range(1, len(q.emb)+1), i -> q.emb[i]*c.emb[i]), (a,x) -> a+x)
        |          / (q.nrm * c.nrm) AS cos
        |      FROM n q, n c
        |      WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id),
        |xr AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |      FROM xp),
        |exact AS (SELECT query_id, neighbor_id FROM xr WHERE rnk <= 3),
        |ap AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |        list_reduce(list_transform(range(1, len(q.emb)+1), i -> q.emb[i]*c.emb[i]), (a,x) -> a+x)
        |          / (q.nrm * c.nrm) AS cos
        |      FROM n q JOIN n c ON q.bucket = c.bucket
        |      WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id),
        |ar AS (SELECT query_id, neighbor_id,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |      FROM ap),
        |approx AS (SELECT query_id, neighbor_id FROM ar WHERE rnk <= 3),
        |hits AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
        |         FROM exact e JOIN approx a
        |           ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |         GROUP BY 1),
        |base AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
        |         FROM exact GROUP BY 1)
        |SELECT base.query_id, n_exact,
        |  CAST(COALESCE(n_hit, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
        |FROM base LEFT JOIN hits ON hits.query_id = base.query_id""".stripMargin,

    // Mirrors the q114 funnel: same gate order, same double literals, same
    // integer-exact ratios.
    "q114_quality_funnel" ->
      s"""WITH g AS (SELECT
         |  len(string_split(text, ' ')) AS nt,
         |  CAST(len(replace(text, ' ', '')) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS mtl,
         |  CAST(len(list_filter(string_split(text, ' '),
         |        t -> t IN $stopFunnel)) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS sr
         |  FROM documents)
         |SELECT CASE
         |    WHEN nt < 40 THEN 'too_short'
         |    WHEN mtl < CAST(3.8 AS DOUBLE) OR mtl > CAST(5.0 AS DOUBLE) THEN 'token_len'
         |    WHEN sr < CAST(0.04 AS DOUBLE) THEN 'low_stopword'
         |    ELSE 'pass' END AS gate,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM g GROUP BY 1""".stripMargin,

    // Mirrors q116 over the shared cluster lineage: cluster sizes, then
    // size frequencies; counts BIGINT on both sides.
    "q116_cluster_histogram" -> (clusterCte + """,
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM cl GROUP BY 1)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM sz GROUP BY 1""".stripMargin),

    // Mirrors q115: same subword regex as q46, exact BIGINT sums, one
    // double division per language.
    "q115_tokenizer_fertility" ->
      """WITH t AS (SELECT lang,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS nb,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
        |  CAST(sum(nw) AS BIGINT) AS n_ws_tokens,
        |  CAST(CAST(sum(nb) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(nw) AS BIGINT) AS DOUBLE) AS fertility
        |FROM t GROUP BY 1""".stripMargin,

    "q122_token_pmi" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |dtn AS (SELECT doc_id, tok FROM dt WHERE length(tok) >= 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
        |ca AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM dtn GROUP BY 1),
        |pairs AS (
        |  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM dtn a JOIN dtn b USING (doc_id)
        |  WHERE a.tok < b.tok GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT p.tok_a, p.tok_b, p.n_ab,
        |  round(ln(CAST(n.n_docs * p.n_ab AS DOUBLE)
        |    / CAST(x.c * y.c AS DOUBLE)), 6) AS pmi
        |FROM pairs p, n, ca x, ca y
        |WHERE x.tok = p.tok_a AND y.tok = p.tok_b""".stripMargin,

    "q124_dup_ngram_fraction" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |gs AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(toks[i : i + 7], ' ') for i in range(1, len(toks) - 6)])) AS g
        |  FROM t WHERE len(toks) >= 8),
        |df AS (SELECT g, CAST(count(*) AS BIGINT) AS ndocs FROM gs GROUP BY 1)
        |SELECT gs.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_frac
        |FROM gs JOIN df USING (g) GROUP BY 1""".stripMargin,

    "q125_zipf_slope" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |rk AS (SELECT source, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, tok ASC) AS r
        |  FROM cnt),
        |mu AS (SELECT source,
        |    CAST(round(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |  FROM rk WHERE r <= 100),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM mu GROUP BY 1)
        |SELECT source, n AS n_terms,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
        |FROM s""".stripMargin,

    "q126_event_transitions" ->
      """WITH nx AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS next_type
        |  FROM events),
        |c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM nx WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n,
        |  CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) AS p_next
        |FROM c""".stripMargin,

    "q127_source_keyness" ->
      """WITH st AS (
        |  SELECT source AS g, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |a AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS a FROM st GROUP BY 1, 2),
        |ts AS (SELECT g, sum(a) AS ts FROM a GROUP BY 1),
        |ct AS (SELECT tok, sum(a) AS ct FROM a GROUP BY 1),
        |n AS (SELECT sum(a) AS n FROM a),
        |g2 AS (
        |  SELECT a.g, a.tok, a.a,
        |    round(CAST(2 AS DOUBLE) * (CAST(a.a AS DOUBLE) *
        |        ln(CAST(a.a AS DOUBLE) * CAST(n.n AS DOUBLE)
        |           / (CAST(ts.ts AS DOUBLE) * CAST(ct.ct AS DOUBLE))) +
        |      CASE WHEN ct.ct > a.a THEN CAST(ct.ct - a.a AS DOUBLE) *
        |        ln(CAST(ct.ct - a.a AS DOUBLE) * CAST(n.n AS DOUBLE)
        |           / (CAST(n.n - ts.ts AS DOUBLE) * CAST(ct.ct AS DOUBLE)))
        |      ELSE CAST(0 AS DOUBLE) END), 6) AS g2
        |  FROM a JOIN ts USING (g) JOIN ct USING (tok), n
        |  WHERE a.a >= 5
        |    AND CAST(a.a AS DOUBLE) / CAST(ts.ts AS DOUBLE)
        |      > CAST(ct.ct AS DOUBLE) / CAST(n.n AS DOUBLE)),
        |r AS (SELECT g, tok, a, g2,
        |    row_number() OVER (PARTITION BY g ORDER BY g2 DESC, tok ASC) AS rank
        |  FROM g2)
        |SELECT g AS source, tok, a AS n_in_source, g2, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,

    "q129_centroid_distances" ->
      ("WITH " + labelCentroidsCte + """,
        |d AS (
        |  SELECT a.lc AS label_a, b.lc AS label_b,
        |    CAST(sum(a.c * b.c) AS BIGINT) AS dot,
        |    CAST(sum(a.c * a.c) AS BIGINT) AS na,
        |    CAST(sum(b.c * b.c) AS BIGINT) AS nb
        |  FROM cen a JOIN cen b ON a.i = b.i AND a.lc < b.lc
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |  round(CAST(dot AS DOUBLE)
        |    / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cos_sim
        |FROM d""".stripMargin),

    "q131_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |gs AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(toks[i : i + 7], ' ') for i in range(1, len(toks) - 6)])) AS g
        |  FROM t WHERE len(toks) >= 8),
        |f AS (SELECT g, min(doc_id) AS first_id FROM gs GROUP BY 1)
        |SELECT gs.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_id = gs.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(CAST(sum(CASE WHEN f.first_id = gs.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty_frac
        |FROM gs JOIN f USING (g) GROUP BY 1""".stripMargin,

    "q132_event_burst" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS mm,
        |    sum(n) AS s, sum(n * n) AS ss
        |  FROM h GROUP BY 1),
        |z AS (
        |  SELECT h.event_type, h.bucket, h.n,
        |    round((CAST(h.n AS DOUBLE) - CAST(m.s AS DOUBLE) / CAST(m.mm AS DOUBLE))
        |      / sqrt(CAST(m.ss AS DOUBLE) / CAST(m.mm AS DOUBLE)
        |        - (CAST(m.s AS DOUBLE) / CAST(m.mm AS DOUBLE))
        |          * (CAST(m.s AS DOUBLE) / CAST(m.mm AS DOUBLE))), 6) AS z
        |  FROM h JOIN m USING (event_type)
        |  WHERE m.mm > 1
        |    AND CAST(m.ss AS DOUBLE) / CAST(m.mm AS DOUBLE)
        |      - (CAST(m.s AS DOUBLE) / CAST(m.mm AS DOUBLE))
        |        * (CAST(m.s AS DOUBLE) / CAST(m.mm AS DOUBLE)) > CAST(0 AS DOUBLE)),
        |r AS (SELECT event_type, bucket, n, z,
        |    row_number() OVER (PARTITION BY event_type ORDER BY z DESC, bucket ASC)
        |      AS rank
        |  FROM z)
        |SELECT event_type, bucket, n, z, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3""".stripMargin,

    "q134_nucleus_coverage" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2),
        |t AS (SELECT source, sum(c) AS tt, CAST(count(*) AS BIGINT) AS vocab_size
        |  FROM cnt GROUP BY 1),
        |cum AS (
        |  SELECT source, c,
        |    COALESCE(CAST(sum(c) OVER (PARTITION BY source
        |      ORDER BY c DESC, tok ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
        |  FROM cnt)
        |SELECT t.source, t.vocab_size, CAST(t.tt AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN CAST(cum.cb AS DOUBLE)
        |    < CAST(0.9 AS DOUBLE) * CAST(t.tt AS DOUBLE) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_top_p
        |FROM cum JOIN t USING (source)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q135_eval_containment" ->
      s"""WITH ${OracleSql.evalShinglesCte},
        |en AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_eval_shingles
        |  FROM es GROUP BY 1),
        |p AS (
        |  SELECT cs.doc_id, es.eval_id, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM cs JOIN es USING (sh)
        |  WHERE cs.doc_id <> es.eval_id GROUP BY 1, 2)
        |SELECT p.doc_id, p.eval_id, p.n_shared, en.n_eval_shingles,
        |  CAST(p.n_shared AS DOUBLE) / CAST(en.n_eval_shingles AS DOUBLE)
        |    AS containment
        |FROM p JOIN en USING (eval_id)""".stripMargin,

    // Mirrors TextDedup.clusterGroupPurity over the shared cluster lineage:
    // micro-unit entropy sum, closed-form H = ln(n) - (sum c ln c)/n.
    "q136_cluster_purity" -> (clusterCte + """,
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |bg AS (SELECT cl.cluster_id, d.source, CAST(count(*) AS BIGINT) AS c
        |       FROM cl JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |ag AS (SELECT cluster_id, CAST(sum(c) AS BIGINT) AS n_docs,
        |         CAST(count(*) AS BIGINT) AS n_groups, max(c) AS cmax,
        |         CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))
        |           AS BIGINT) AS mu
        |       FROM bg GROUP BY 1)
        |SELECT cluster_id, n_docs, n_groups,
        |  CAST(cmax AS DOUBLE) / CAST(n_docs AS DOUBLE) AS majority_share,
        |  round(ln(CAST(n_docs AS DOUBLE))
        |    - (CAST(mu AS DOUBLE) / 1e6) / CAST(n_docs AS DOUBLE), 6)
        |    AS group_entropy
        |FROM ag""".stripMargin),

    // Mirrors CorpusStats.jsDivergence: identical top-200 cut (deterministic
    // total order), identical per-token contribution expression, micro-unit
    // exact sums.
    "q137_source_divergence" ->
      s"""WITH cnt AS (SELECT source AS g, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text,' ')) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |top AS (SELECT tok FROM (SELECT tok, sum(c) AS ct FROM cnt GROUP BY 1)
        |        ORDER BY ct DESC, tok ASC LIMIT 200),
        |r AS (SELECT cnt.* FROM cnt JOIN top USING (tok)),
        |tt AS (SELECT g, CAST(sum(c) AS BIGINT) AS t FROM r GROUP BY 1),
        |grid AS (SELECT tt.g, top.tok, tt.t, COALESCE(r.c, 0) AS c
        |         FROM top CROSS JOIN tt
        |         LEFT JOIN r ON r.g = tt.g AND r.tok = top.tok),
        |p AS (SELECT a.g AS group_a, b.g AS group_b,
        |        a.c AS ca, a.t AS ta, b.c AS cb, b.t AS tb
        |      FROM grid a JOIN grid b ON a.tok = b.tok AND a.g < b.g),
        |m AS (SELECT group_a, group_b,
        |  CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END AS common,
        |  $jsHalfMu
        |  FROM p)
        |SELECT group_a, group_b, CAST(sum(common) AS BIGINT) AS n_common,
        |  round(CAST(sum(mu) AS DOUBLE) / 1e6, 6) AS js_divergence
        |FROM m GROUP BY 1, 2""".stripMargin,

    // Mirrors CorpusStats.oovRate: same deterministic top-1000 cut, exact
    // BIGINT occurrence sums, one double division.
    "q138_oov_rate" ->
      """WITH cnt AS (SELECT source AS g, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text,' ')) AS tok FROM documents)
        |  GROUP BY 1, 2),
        |top AS (SELECT tok FROM (SELECT tok, sum(c) AS ct FROM cnt GROUP BY 1)
        |        ORDER BY ct DESC, tok ASC LIMIT 1000)
        |SELECT g AS source, CAST(sum(c) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN top.tok IS NULL THEN c ELSE 0 END) AS BIGINT)
        |    AS oov_occurrences,
        |  CAST(CAST(sum(CASE WHEN top.tok IS NULL THEN c ELSE 0 END) AS BIGINT)
        |      AS DOUBLE)
        |    / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS oov_rate
        |FROM cnt LEFT JOIN top ON cnt.tok = top.tok
        |GROUP BY 1""".stripMargin,

    // Mirrors CorpusStats.mixPlan(budgetFrac=0.5, maxEpochs=4.0): floor of
    // the same double quotient, flags over the ROUNDED epoch value.
    "q139_mix_plan" ->
      """WITH avail AS (SELECT source,
        |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS available_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(available_tokens) AS BIGINT) AS tt,
        |    CAST(count(*) AS BIGINT) AS ng FROM avail),
        |t AS (SELECT a.source, a.available_tokens,
        |    CAST(floor(0.5 * CAST(tot.tt AS DOUBLE) / CAST(tot.ng AS DOUBLE))
        |      AS BIGINT) AS target_tokens
        |  FROM avail a CROSS JOIN tot)
        |SELECT source, available_tokens, target_tokens,
        |  round(CAST(target_tokens AS DOUBLE) / CAST(available_tokens AS DOUBLE), 6)
        |    AS epochs,
        |  CAST(CASE WHEN target_tokens > available_tokens THEN 1 ELSE 0 END
        |    AS BIGINT) AS needs_upsampling,
        |  CAST(CASE WHEN round(CAST(target_tokens AS DOUBLE)
        |      / CAST(available_tokens AS DOUBLE), 6) > 4.0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS over_cap
        |FROM t""".stripMargin,

    // Mirrors TextLm.crossEntropyMix: the q101 model CTEs verbatim, then
    // integer order-statistic cutoffs on the micro-unit scale (cum*3 >= j*n)
    // and exact micro-unit bucket means — no percentile interpolation.
    "q140_ppl_mix" ->
      s"""WITH ${OracleSql.addOneLmCte},
        |$tercileMixSql""".stripMargin,

    // Mirrors TextDedup.winnowNearDupPairs(k=5, w=4, minShared=2, maxDf=20):
    // identical md5 gram hashes, per-doc min windows over full windows only
    // (Spark pos is 0-based, this range is 1-based — same window set).
    "q141_winnow_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents
        |           WHERE len(string_split(text,' ')) >= 8),
        |g AS (SELECT doc_id, len(toks) - 4 AS ng,
        |        unnest(range(1, len(toks) - 3)) AS pos,
        |        unnest([md5(array_to_string(toks[i:i+4], ' '))
        |                for i in range(1, len(toks) - 3)]) AS fp
        |      FROM t),
        |sel AS (SELECT doc_id, pos, ng,
        |    min(fp) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mfp
        |  FROM g),
        |f AS (SELECT DISTINCT doc_id, mfp AS fp FROM sel WHERE pos <= ng - 3),
        |d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
        |ff AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // Mirrors Similarity.semanticDedupFrom(threshold=0.3, nlist=8, lloydIters=2):
    // the q50 Lloyd chain verbatim (seed = first 8 vectors, 2 rounds,
    // micro-unit exact means, emptied centroids carried forward), then
    // within-cluster pairs against earlier ids at the same sequential-fold
    // cosine.
    "q142_semantic_dedup" -> ("WITH " + semAssignCte + """,
        |p AS (
        |  SELECT a.vec_id AS id_a
        |  FROM assign a JOIN assign b
        |    ON a.cid = b.cid AND a.vec_id > b.vec_id
        |  WHERE list_reduce(list_transform(range(1, len(a.emb)+1), i -> a.emb[i]*b.emb[i]), (x,y) -> x+y)
        |      / (a.nrm * b.nrm) >= 0.3),
        |dr AS (SELECT DISTINCT id_a FROM p)
        |SELECT a.vec_id, a.cid,
        |  CAST(CASE WHEN dr.id_a IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM assign a LEFT JOIN dr ON a.vec_id = dr.id_a""".stripMargin),

    // Mirrors Similarity.semanticDecontamFrom: the shared semAssignCte cells,
    // train x eval join confined to the cell, zero-norm rows excluded,
    // cosine micro-quantized ONCE (round(1e6*cos), the q142 fold order),
    // threshold on the integer image, left join back to all train rows.
    "q387_semantic_decontam" -> ("WITH " + semAssignCte + """,
        |tr AS (SELECT cid, vec_id, emb, nrm FROM assign
        |  WHERE vec_id % 10 <> 0),
        |ev AS (SELECT cid, emb AS c_emb, nrm AS c_nrm FROM assign
        |  WHERE vec_id % 10 = 0),
        |h AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
        |    max(cmu) AS mx
        |  FROM (
        |    SELECT tr.vec_id,
        |      CAST(round(1e6 * list_reduce(list_transform(
        |          range(1, len(tr.emb)+1), i -> tr.emb[i]*ev.c_emb[i]),
        |          (x,y) -> x+y) / (tr.nrm * ev.c_nrm)) AS BIGINT) AS cmu
        |    FROM tr JOIN ev USING (cid)
        |    WHERE tr.nrm > 0 AND ev.c_nrm > 0)
        |  WHERE cmu >= 300000 GROUP BY 1)
        |SELECT tr.vec_id, tr.cid,
        |  coalesce(h.n_eval_hits, 0) AS n_eval_hits,
        |  CAST(h.mx AS DOUBLE) / 1e6 AS max_eval_cos,
        |  CAST(CASE WHEN h.mx IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM tr LEFT JOIN h USING (vec_id)""".stripMargin),

    // Mirrors q143 over the shared cluster lineage: the q91 keep rule, then
    // one per-source rollup.
    "q143_dedup_attrition" -> (clusterCte + """,
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |w AS (SELECT d.source,
        |        CASE WHEN cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id
        |          THEN 1 ELSE 0 END AS keep
        |      FROM documents d LEFT JOIN cl USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(keep) AS BIGINT) AS n_kept,
        |  CAST(count(*) - sum(keep) AS BIGINT) AS n_dropped,
        |  round(CAST(count(*) - sum(keep) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS attrition_rate
        |FROM w GROUP BY 1""".stripMargin),

    // Mirrors CorpusStats.percentileCalibration: cumulative window over the
    // per-source distinct-value table, rows joined back by (group, value).
    "q144_score_calibration" ->
      """WITH base AS (SELECT doc_id, source AS g, CAST(n_chars AS BIGINT) AS v
        |              FROM documents),
        |vals AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
        |cum AS (SELECT g, v,
        |          CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cm
        |        FROM vals),
        |tt AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM vals GROUP BY 1)
        |SELECT b.doc_id, b.g AS source, b.v AS n_chars,
        |  round(CAST(cum.cm AS DOUBLE) / CAST(tt.n AS DOUBLE), 6) AS pct_rank
        |FROM base b
        |JOIN cum ON b.g = cum.g AND b.v = cum.v
        |JOIN tt ON b.g = tt.g""".stripMargin,

    // Mirrors Similarity.hardNegatives(k=5): the q33 brute-force cosine with
    // the cross-label filter; same (cos DESC, id ASC) total order.
    "q145_hard_negatives" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
        |             CAST(label AS BIGINT) AS lbl FROM embeddings),
        |n AS (SELECT vec_id, emb, lbl,
        |        sqrt(list_reduce(list_transform(emb, x -> x*x), (a,x) -> a+x)) AS nrm
        |      FROM e),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.lbl AS neighbor_label,
        |        list_reduce(list_transform(range(1, len(q.emb)+1), i -> q.emb[i]*c.emb[i]), (a,x) -> a+x)
        |          / (q.nrm * c.nrm) AS cos
        |      FROM n q, n c
        |      WHERE q.vec_id < 100 AND q.lbl <> c.lbl),
        |r AS (SELECT query_id, neighbor_id, neighbor_label, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
        |      FROM p)
        |SELECT query_id, rnk, neighbor_id, neighbor_label, round(cos, 6) AS cos_sim
        |FROM r WHERE rnk <= 5""".stripMargin,

    // Mirrors Similarity.embeddingHygiene: same sequential-fold norm, same
    // finiteness predicate text, micro-unit exact mean.
    "q147_embedding_hygiene" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label,
        |             embedding::DOUBLE[] AS emb FROM embeddings),
        |n AS (SELECT label,
        |        sqrt(list_reduce(list_transform(emb, x -> x*x), (a,x) -> a+x)) AS nrm,
        |        CASE WHEN len(list_filter(emb,
        |            x -> isnan(x) OR abs(x) > 1.7976931348623157e308)) > 0
        |          THEN 1 ELSE 0 END AS bad
        |      FROM e)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN nrm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
        |  CAST(sum(bad) AS BIGINT) AS n_nonfinite,
        |  round(min(nrm), 6) AS min_norm,
        |  round(max(nrm), 6) AS max_norm,
        |  round((CAST(sum(CASE WHEN bad = 0
        |        THEN CAST(round(nrm * 1e6) AS BIGINT) ELSE 0 END) AS DOUBLE) / 1e6)
        |    / CAST(count(*) - sum(bad) AS DOUBLE), 6) AS mean_norm
        |FROM n GROUP BY 1""".stripMargin,

    // Mirrors CorpusStats.consecutiveRepetition via the gaps-and-islands
    // window form — integer arithmetic, so the in-row fold and the window
    // formulation agree exactly.
    "q148_consecutive_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |x AS (SELECT doc_id, unnest(range(1, len(toks)+1)) AS pos,
        |        unnest(toks) AS tok FROM t),
        |c AS (SELECT doc_id, pos,
        |        CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) = tok
        |          THEN 0 ELSE 1 END AS brk
        |      FROM x),
        |i AS (SELECT doc_id, pos, brk,
        |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM c),
        |runs AS (SELECT doc_id, isl, CAST(count(*) AS BIGINT) AS rl
        |         FROM i GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(sum(rl) AS BIGINT) AS n_tokens,
        |          CAST(sum(rl) - count(*) AS BIGINT) AS n_stutter,
        |          CAST(max(rl) AS BIGINT) AS max_run
        |        FROM runs GROUP BY 1)
        |SELECT doc_id, n_tokens, n_stutter, max_run,
        |  round(CAST(n_stutter AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS stutter_frac
        |FROM agg""".stripMargin,

    // Mirrors CorpusStats.templateShapes: identical md5(shape) input text,
    // argmax tie-break to the larger shape hash (ORDER BY c DESC, shape DESC
    // = Spark's max(struct(c, shape))).
    "q149_template_shapes" ->
      """WITH s AS (SELECT source AS g,
        |             md5(array_to_string(list_transform(string_split(text,' '),
        |               x -> CAST(length(x) AS VARCHAR)), ',')) AS shape
        |           FROM documents),
        |cnt AS (SELECT g, shape, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
        |rk AS (SELECT g, shape, c,
        |         row_number() OVER (PARTITION BY g ORDER BY c DESC, shape DESC) AS rn
        |       FROM cnt),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_docs,
        |          CAST(count(*) AS BIGINT) AS n_shapes FROM cnt GROUP BY 1)
        |SELECT t.g AS source, t.n_docs, t.n_shapes, r.c AS top_shape_docs,
        |  round(CAST(r.c AS DOUBLE) / CAST(t.n_docs AS DOUBLE), 6)
        |    AS top_shape_share
        |FROM tot t JOIN rk r ON r.g = t.g AND r.rn = 1""".stripMargin,

    // Mirrors TextDedup.minhashCalibration (shingleK=3, bands=4): the q31
    // draw/band construction (mh[j] = min 4-hex slice j of each shingle's
    // md5), candidates from band-sig collisions, estimate = agreeing draws
    // / 8, exact Jaccard over distinct shingle sets.
    "q150_lsh_calibration" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
        |              WHERE len(string_split(text,' ')) >= 3),
        |${minhashShinglesCte("")},
        |mh AS (SELECT doc_id, j, min(substr(md5(sh), j*4+1, 4)) AS m
        |       FROM sh, (SELECT unnest([0,1,2,3,4,5,6,7]) AS j)
        |       GROUP BY doc_id, j),
        |sig AS (SELECT m1.doc_id, b.band, m1.m || m2.m AS sig
        |        FROM (SELECT unnest([0,1,2,3]) AS band) b
        |        JOIN mh m1 ON m1.j = 2*b.band
        |        JOIN mh m2 ON m2.j = 2*b.band + 1 AND m2.doc_id = m1.doc_id),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
        |    AND a.doc_id < b.doc_id),
        |ag AS (SELECT c.doc_a, c.doc_b,
        |         CAST(sum(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_agree
        |       FROM cand c
        |       JOIN mh ma ON ma.doc_id = c.doc_a
        |       JOIN mh mb ON mb.doc_id = c.doc_b AND mb.j = ma.j
        |       GROUP BY 1, 2),
        |inter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
        |          FROM cand c
        |          JOIN sh sa ON sa.doc_id = c.doc_a
        |          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
        |          GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1)
        |SELECT ag.doc_a, ag.doc_b, ag.n_agree,
        |  round(CAST(ag.n_agree AS DOUBLE) / 8.0, 6) AS est_jaccard,
        |  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        |    / CAST(na.n + nb.n - coalesce(i.n_inter, 0) AS DOUBLE), 6) AS jaccard
        |FROM ag
        |LEFT JOIN inter i ON i.doc_a = ag.doc_a AND i.doc_b = ag.doc_b
        |JOIN sizes na ON na.doc_id = ag.doc_a
        |JOIN sizes nb ON nb.doc_id = ag.doc_b""".stripMargin,

    // Mirrors TextLm.importanceWeights: same add-one smoothing, same
    // per-TYPE micro-unit quantization of BOTH log-probs, exact integer
    // occ-weighted sums, one division + 6 dp round per group.
    "q151_importance_weights" ->
      s"""WITH $sourceDocBigramsCte,
        |$importanceCountsCte,
        |scored AS (
        |  SELECT d.source, d.occ,
        |    $importanceLogRatioMu AS lr_mu
        |  $importanceJoinSql)
        |$avgLogRatioSql""".stripMargin,

    // Mirrors TextDedup.blockedEditDistance: identical block key, prefix
    // lengths, block-size cap, and distance threshold.
    "q152_edit_near_dup" ->
      """WITH b AS (SELECT doc_id, substr(text, 1, 16) AS blk,
        |    substr(text, 1, 64) AS pfx FROM documents),
        |ok AS (SELECT b.* FROM b JOIN (
        |    SELECT blk FROM b GROUP BY 1 HAVING count(*) BETWEEN 2 AND 50) g
        |  USING (blk))
        |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |  CAST(levenshtein(a.pfx, c.pfx) AS BIGINT) AS dist
        |FROM ok a JOIN ok c ON a.blk = c.blk AND a.doc_id < c.doc_id
        |WHERE levenshtein(a.pfx, c.pfx) <= 20""".stripMargin,

    // Mirrors q153: the q61 cluster walk supplies the group key
    // (representative id, singletons by their own id); the hash carve is
    // the q113 oracle's formula applied to that key.
    "q153_cluster_split" -> (clusterCte + s""",
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |g AS (SELECT coalesce(cl.cluster_id, d.doc_id) AS gid
        |      FROM documents d LEFT JOIN cl USING (doc_id)),
        |a AS (SELECT gid, CASE
        |    WHEN CAST(${ScaleQueries.duckHash60("gid")} AS DOUBLE)
        |      / CAST(1152921504606846976 AS DOUBLE)
        |      < CAST(0.9 AS DOUBLE) THEN 'train'
        |    WHEN CAST(${ScaleQueries.duckHash60("gid")} AS DOUBLE)
        |      / CAST(1152921504606846976 AS DOUBLE)
        |      < CAST(0.95 AS DOUBLE) THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM g)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT gid) AS BIGINT) AS n_groups
        |FROM a GROUP BY 1""".stripMargin),

    // Mirrors Temporal.adjacentDrift: identical full grid (categories x
    // bucket totals), identical per-category JS contribution expression,
    // micro-unit exact sums.
    "q154_ingest_drift" ->
      s"""WITH cnt AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS b,
        |    event_type AS cat, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |tt AS (SELECT b, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
        |cats AS (SELECT DISTINCT cat FROM cnt),
        |grid AS (SELECT tt.b, cats.cat, tt.t, coalesce(cnt.c, 0) AS c
        |  FROM cats CROSS JOIN tt
        |  LEFT JOIN cnt ON cnt.b = tt.b AND cnt.cat = cats.cat),
        |j AS (SELECT p.b + INTERVAL 1 DAY AS b, p.cat,
        |    p.c AS ca, p.t AS ta, q.c AS cb, q.t AS tb
        |  FROM grid p JOIN grid q
        |    ON q.b = p.b + INTERVAL 1 DAY AND q.cat = p.cat),
        |m AS (SELECT b, cat, ca, cb,
        |  $jsHalfMu
        |  FROM j)
        |SELECT b AS bucket,
        |  CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_common,
        |  round(CAST(sum(mu) AS DOUBLE) / 1e6, 6) AS js_divergence
        |FROM m GROUP BY 1""".stripMargin,

    // Mirrors CorpusStats.bpeMergeCandidates: vocabulary-weighted adjacent
    // char pairs, same top-20 cut with the pair-ascending tie-break.
    "q156_bpe_merges" ->
      """WITH v AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY 1),
        |p AS (SELECT substr(w, i, 2) AS pair, c
        |  FROM v, LATERAL (SELECT unnest(range(1, len(w))) AS i)
        |  WHERE len(w) >= 2)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS occurrences
        |FROM p GROUP BY 1
        |ORDER BY occurrences DESC, pair ASC LIMIT 20""".stripMargin,

    // Mirrors q157: q72's classifier CASE, aggregated.
    "q157_langid_confusion" ->
      """SELECT lang, CASE
        |    WHEN en_bigrams >= de_bigrams AND en_bigrams >= fr_bigrams
        |     AND en_bigrams > 0 THEN 'en'
        |    WHEN de_bigrams >= fr_bigrams AND de_bigrams > 0 THEN 'de'
        |    WHEN fr_bigrams > 0 THEN 'fr'
        |    ELSE 'unk' END AS guessed_lang,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM (
        |  SELECT lang,
        |    len(list_filter(['th','he','an','in','er'], g -> strpos(text, g) > 0)) AS en_bigrams,
        |    len(list_filter(['ch','ei','de','en','un'], g -> strpos(text, g) > 0)) AS de_bigrams,
        |    len(list_filter(['le','es','on','ou','qu'], g -> strpos(text, g) > 0)) AS fr_bigrams
        |  FROM documents)
        |GROUP BY 1, 2""".stripMargin,

    // Mirrors CorpusStats.ksDrift: CDFs on the distinct-value grid,
    // exact-integer supremum of |cum_g * n_rest - cum_rest * n_g|, one
    // division + 6 dp round at the end.
    "q158_length_ks" ->
      """WITH gv AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |av AS (SELECT v, CAST(sum(c) AS BIGINT) AS ca FROM gv GROUP BY 1),
        |grid AS (SELECT g.g, av.v, av.ca, coalesce(gv.c, 0) AS cg
        |  FROM (SELECT DISTINCT g FROM gv) g CROSS JOIN av
        |  LEFT JOIN gv ON gv.g = g.g AND gv.v = av.v),
        |cum AS (SELECT g, v, ca, cg,
        |    sum(cg) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum_g,
        |    sum(ca) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum_a
        |  FROM grid),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM gv) - CAST(sum(c) AS BIGINT)
        |      AS n_r
        |  FROM gv GROUP BY 1)
        |SELECT cum.g AS source, tot.n_g AS n_group, tot.n_r AS n_rest,
        |  round(CAST(max(abs(cum_g * n_r - (cum_a - cum_g) * n_g)) AS DOUBLE)
        |    / CAST(n_g * n_r AS DOUBLE), 6) AS ks
        |FROM cum JOIN tot ON tot.g = cum.g
        |WHERE tot.n_r > 0
        |GROUP BY 1, 2, 3""".stripMargin,

    // Mirrors CorpusStats.rankEnsembleQuality: same micro-unit metric
    // quantization (integer floor division), same upper-cumulative
    // percentiles on distinct-value grids, ensemble = the single rational
    // (cum1+cum2+cum3)/(3n).
    "q159_quality_ensemble" ->
      s"""WITH base AS (SELECT doc_id,
        |    CAST(len(text) AS BIGINT) AS m_len,
        |    CAST(len(list_distinct(string_split(text,' '))) * 1000000
        |      // len(string_split(text,' ')) AS BIGINT) AS m_ttr,
        |    CAST(len(list_filter(string_split(text,' '),
        |        t -> t IN $stopFunnel)) * 1000000
        |      // len(string_split(text,' ')) AS BIGINT) AS m_stop
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |c1 AS (SELECT m_len, sum(c) OVER (ORDER BY m_len
        |    ROWS UNBOUNDED PRECEDING) AS cum1
        |  FROM (SELECT m_len, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1)),
        |c2 AS (SELECT m_ttr, sum(c) OVER (ORDER BY m_ttr
        |    ROWS UNBOUNDED PRECEDING) AS cum2
        |  FROM (SELECT m_ttr, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1)),
        |c3 AS (SELECT m_stop, sum(c) OVER (ORDER BY m_stop
        |    ROWS UNBOUNDED PRECEDING) AS cum3
        |  FROM (SELECT m_stop, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1))
        |SELECT doc_id,
        |  round(CAST(cum1 AS DOUBLE) / CAST(n.n AS DOUBLE), 6) AS pct_len,
        |  round(CAST(cum2 AS DOUBLE) / CAST(n.n AS DOUBLE), 6) AS pct_ttr,
        |  round(CAST(cum3 AS DOUBLE) / CAST(n.n AS DOUBLE), 6) AS pct_stop,
        |  round(CAST(cum1 + cum2 + cum3 AS DOUBLE)
        |    / CAST(n.n * 3 AS DOUBLE), 6) AS quality
        |FROM base JOIN c1 USING (m_len) JOIN c2 USING (m_ttr)
        |JOIN c3 USING (m_stop) CROSS JOIN n""".stripMargin,

    // Mirrors q160: same integer ceil-to-256 padding arithmetic.
    "q160_padding_waste" ->
      """WITH a AS (SELECT source,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS t
        |  FROM documents),
        |b AS (SELECT source, t, ((t + 255) // 256) * 256 - t AS pad FROM a)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(t) AS BIGINT) AS n_tokens,
        |  CAST(sum(pad) AS BIGINT) AS pad_tokens,
        |  round(CAST(sum(pad) AS DOUBLE)
        |    / CAST(sum(t) + sum(pad) AS DOUBLE), 6) AS waste_frac
        |FROM b GROUP BY 1""".stripMargin,

    // Mirrors q161 over the q61 oracle's verified pair graph: per-doc
    // degree from the bidirectional edge table, then the size histogram.
    "q161_dedup_degree" -> (clusterCte + """
        |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
        |FROM (SELECT src, CAST(count(*) AS BIGINT) AS degree
        |      FROM edges GROUP BY 1)
        |GROUP BY 1""".stripMargin),

    // Mirrors Similarity.pqKnn: per-subspace blocks are GENERATED (same
    // seed/Lloyd/coalesce replay as the q50 oracle, on 16-dim slices),
    // ADC sums exact BIGINT micro-units, identical candidate and re-rank
    // total orders.
    "q165_pq_ann" -> {
      val blocks = (0 until 4).map { s =>
        val lo = s * 16 + 1; val hi = s * 16 + 16
        s"""sub$s AS (SELECT vec_id,
           |    (list_transform(emb, x -> x / greatest(nrm, 1e-30)))[$lo:$hi] AS semb
           |  FROM n),
           |c0_$s AS (SELECT vec_id AS cid, semb AS c_emb FROM sub$s WHERE vec_id < 16),
           |a1_$s AS (
           |  SELECT vec_id, semb, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS crn
           |  FROM (
           |    SELECT t.vec_id, t.semb, c.cid,
           |      ${d2("t.semb", "c.c_emb")} AS d2
           |    FROM sub$s t, c0_$s c)),
           |m1_$s AS (
           |  SELECT cid, i,
           |    CAST(sum(CAST(round(x * 1e7) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e7 AS m
           |  FROM (SELECT cid, unnest(range(1, len(semb)+1)) AS i, unnest(semb) AS x
           |        FROM a1_$s WHERE crn = 1)
           |  GROUP BY cid, i),
           |c1_$s AS (SELECT c.cid, coalesce(nc.c_emb, c.c_emb) AS c_emb
           |       FROM c0_$s c LEFT JOIN
           |         (SELECT cid, list(m ORDER BY i) AS c_emb FROM m1_$s GROUP BY cid) nc
           |       ON c.cid = nc.cid),
           |sc$s AS (
           |  SELECT t.vec_id, c.cid,
           |    ${d2("t.semb", "c.c_emb")} AS d2
           |  FROM sub$s t, c1_$s c),
           |code$s AS (SELECT vec_id AS neighbor_id, cid FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS crn
           |    FROM sc$s) WHERE crn = 1),
           |dq$s AS (SELECT vec_id AS query_id, cid,
           |    CAST(round(d2 * 1e6) AS BIGINT) AS dmu
           |  FROM sc$s WHERE vec_id >= 100 AND vec_id < 120)""".stripMargin
      }.mkString(",\n")
      val codeUnion = (0 until 4)
        .map(s => s"SELECT $s AS sp, neighbor_id, cid FROM code$s")
        .mkString("\n        UNION ALL ")
      val dqUnion = (0 until 4)
        .map(s => s"SELECT $s AS sp, query_id, cid, dmu FROM dq$s")
        .mkString("\n        UNION ALL ")
      s"""WITH ${embNormsCte()},
         |$blocks,
         |codes AS ($codeUnion),
         |dqa AS ($dqUnion),
         |adc AS (
         |  SELECT d.query_id, c.neighbor_id, CAST(sum(d.dmu) AS BIGINT) AS adc_mu
         |  FROM codes c JOIN dqa d ON d.sp = c.sp AND d.cid = c.cid
         |  WHERE d.query_id <> c.neighbor_id
         |  GROUP BY 1, 2),
         |$adcRerankCte,
         |r AS (SELECT query_id, neighbor_id, cos,
         |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |      FROM scored)
         |SELECT query_id, rnk, neighbor_id, round(cos, 6) AS cos_sim
         |FROM r WHERE rnk <= 5""".stripMargin
    },

    // Mirrors Temporal.cohortRetention: week-truncated buckets, exact
    // integer day-diff DIV 7 offsets, one division per cell.
    "q166_cohort_retention" ->
      """WITH active AS (SELECT DISTINCT user_id AS u,
        |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS b FROM events),
        |coh AS (SELECT u, min(b) AS c FROM active GROUP BY 1),
        |sz AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM coh GROUP BY 1),
        |cell AS (SELECT coh.c,
        |    CAST(date_diff('day', coh.c, a.b) // 7 AS BIGINT) AS off,
        |    CAST(count(DISTINCT a.u) AS BIGINT) AS nu
        |  FROM active a JOIN coh ON coh.u = a.u GROUP BY 1, 2)
        |SELECT cell.c AS cohort, off AS bucket_offset, nu AS n_users,
        |  round(CAST(nu AS DOUBLE) / CAST(sz.n AS DOUBLE), 6) AS retention
        |FROM cell JOIN sz ON sz.c = cell.c""".stripMargin,

    // Mirrors Temporal.rollingActive: same bounded 7-day expansion of the
    // distinct (user, day) table, end days restricted to observed days.
    "q167_rolling_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events),
        |days AS (SELECT DISTINCT d FROM ud),
        |x AS (SELECT u, d + i * INTERVAL 1 DAY AS w
        |  FROM ud, (SELECT unnest(range(0, 7)) AS i))
        |SELECT w AS day, CAST(count(DISTINCT u) AS BIGINT) AS n_active
        |FROM x JOIN days ON days.d = x.w GROUP BY 1""".stripMargin,

    // Mirrors Similarity.ivfpqKnn: generated coarse-Lloyd + residual +
    // per-subspace residual-Lloyd + per-(query, list) ADC + exact re-rank
    // replay, all on the same deterministic seeds and total orders.
    "q168_ivfpq_ann" -> {
      val pqBlocks = (0 until 4).map { s =>
        val lo = s * 16 + 1; val hi = s * 16 + 16
        s"""sub$s AS (SELECT vec_id, r[$lo:$hi] AS semb FROM resid),
           |pc0_$s AS (SELECT vec_id AS cid, semb AS c_emb FROM sub$s WHERE vec_id < 16),
           |pa1_$s AS (
           |  SELECT vec_id, semb, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS crn
           |  FROM (
           |    SELECT t.vec_id, t.semb, c.cid,
           |      ${d2("t.semb", "c.c_emb")} AS d2
           |    FROM sub$s t, pc0_$s c)),
           |pm1_$s AS (
           |  SELECT cid, i,
           |    CAST(sum(CAST(round(x * 1e7) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e7 AS m
           |  FROM (SELECT cid, unnest(range(1, len(semb)+1)) AS i, unnest(semb) AS x
           |        FROM pa1_$s WHERE crn = 1)
           |  GROUP BY cid, i),
           |pc1_$s AS (SELECT c.cid, coalesce(nc.c_emb, c.c_emb) AS c_emb
           |       FROM pc0_$s c LEFT JOIN
           |         (SELECT cid, list(m ORDER BY i) AS c_emb FROM pm1_$s GROUP BY cid) nc
           |       ON c.cid = nc.cid),
           |code$s AS (SELECT vec_id AS neighbor_id, cid FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS crn
           |    FROM (
           |      SELECT t.vec_id, c.cid,
           |        ${d2("t.semb", "c.c_emb")} AS d2
           |      FROM sub$s t, pc1_$s c)) WHERE crn = 1),
           |dq$s AS (
           |  SELECT r.query_id, r.lcid, c.cid,
           |    CAST(round((${d2("r.semb", "c.c_emb")}) * 1e6) AS BIGINT) AS dmu
           |  FROM (SELECT query_id, lcid, rq[$lo:$hi] AS semb FROM rq) r, pc1_$s c)""".stripMargin
      }.mkString(",\n")
      val codeUnion = (0 until 4)
        .map(s => s"SELECT $s AS sp, neighbor_id, cid FROM code$s")
        .mkString("\n        UNION ALL ")
      val dqUnion = (0 until 4)
        .map(s => s"SELECT $s AS sp, query_id, lcid, cid, dmu FROM dq$s")
        .mkString("\n        UNION ALL ")
      s"""WITH ${embNormsCte()},
         |u AS (SELECT vec_id,
         |        list_transform(emb, x -> x / greatest(nrm, 1e-30)) AS emb
         |      FROM n),
         |cc0 AS (SELECT vec_id AS cid, emb AS c_emb FROM u WHERE vec_id < 8),
         |ca1 AS (
         |  SELECT vec_id, emb, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS crn
         |  FROM (
         |    SELECT t.vec_id, t.emb, c.cid,
         |      ${d2("t.emb", "c.c_emb")} AS d2
         |    FROM u t, cc0 c)),
         |cm1 AS (
         |  SELECT cid, i,
         |    CAST(sum(CAST(round(x * 1e7) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e7 AS m
         |  FROM (SELECT cid, unnest(range(1, len(emb)+1)) AS i, unnest(emb) AS x
         |        FROM ca1 WHERE crn = 1)
         |  GROUP BY cid, i),
         |cc1 AS (SELECT c.cid, coalesce(nc.c_emb, c.c_emb) AS c_emb
         |       FROM cc0 c LEFT JOIN
         |         (SELECT cid, list(m ORDER BY i) AS c_emb FROM cm1 GROUP BY cid) nc
         |       ON c.cid = nc.cid),
         |csc AS (
         |  SELECT t.vec_id, t.emb, c.cid, c.c_emb,
         |    ${d2("t.emb", "c.c_emb")} AS d2
         |  FROM u t, cc1 c),
         |cass AS (SELECT vec_id, cid AS lcid, emb, c_emb FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS crn
         |    FROM csc) WHERE crn = 1),
         |resid AS (SELECT vec_id, lcid,
         |    list_transform(range(1, len(emb)+1), i -> emb[i] - c_emb[i]) AS r
         |  FROM cass),
         |prb AS (SELECT vec_id AS query_id, cid AS lcid, emb, c_emb FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS crn
         |    FROM csc WHERE vec_id >= 100 AND vec_id < 120) WHERE crn <= 2),
         |rq AS (SELECT query_id, lcid,
         |    list_transform(range(1, len(emb)+1), i -> emb[i] - c_emb[i]) AS rq
         |  FROM prb),
         |$pqBlocks,
         |codes AS (
         |  SELECT cu.sp, cu.neighbor_id, cu.cid, ra.lcid
         |  FROM ($codeUnion) cu
         |  JOIN resid ra ON ra.vec_id = cu.neighbor_id),
         |dqa AS ($dqUnion),
         |adc AS (
         |  SELECT d.query_id, c.neighbor_id, CAST(sum(d.dmu) AS BIGINT) AS adc_mu
         |  FROM codes c
         |  JOIN dqa d ON d.lcid = c.lcid AND d.sp = c.sp AND d.cid = c.cid
         |  WHERE d.query_id <> c.neighbor_id
         |  GROUP BY 1, 2),
         |$adcRerankCte,
         |rr AS (SELECT query_id, neighbor_id, cos,
         |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |      FROM scored)
         |SELECT query_id, rnk, neighbor_id, round(cos, 6) AS cos_sim
         |FROM rr WHERE rnk <= 5""".stripMargin
    },

    // Mirrors TextLm.knCrossEntropyFrom: model counts all derived from the
    // observed-bigram TYPE table (c1 = history sums, n1p/nc = distinct
    // continuation/history type counts, T = types, V = distinct tokens),
    // the exact D = 3/4 rational [(4c2-3)(T+V) + 3*n1p*(nc+1)] /
    // [4*c1*(T+V)], per-TYPE micro-nat quantization, and the house
    // exact-integer half-up 6 dp division.
    "q342_kn_xent" ->
      s"""$knModelCte
        |${OracleSql.bigramXentSql}""".stripMargin,

    // Mirrors TextLm.softDedupWeights: the shared doc-bigram chain's
    // db/big tables, unsmoothed corpus log-frequency per TYPE
    // (round(ln(c2/T)*1e6)), exact half-up per-doc rarity and the
    // mean-normalized HUGEINT loss weight (uniform 1.0 when the corpus
    // rarity degenerates to 0).
    "q388_softdedup_weights" ->
      s"""$knModelCte,
        |$freqModelCte,
        |pd AS MATERIALIZED (
        |  SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_grams,
        |    CAST((2 * (-sum(occ * flp)) + sum(occ))
        |      // (2 * sum(occ)) AS BIGINT) AS rmu
        |  FROM db JOIN fmodel USING (w1, w2) GROUP BY 1),
        |mm AS (SELECT CAST((2 * sum(rmu) + count(*))
        |    // (2 * count(*)) AS BIGINT) AS mmu FROM pd)
        |SELECT doc_id, n_grams, CAST(rmu AS DOUBLE) / 1e6 AS rarity,
        |  CASE WHEN mmu = 0 THEN 1.0 ELSE
        |    CAST(CAST((CAST(2 AS HUGEINT) * rmu * 1000000 + mmu)
        |      // (2 * mmu) AS BIGINT) AS DOUBLE) / 1e6 END AS loss_weight
        |FROM pd CROSS JOIN mm""".stripMargin,

    // Mirrors TextLm.tercileMix: the q342 scores through the q140 tercile
    // stage (integer micro-unit order statistics, ties to the lower
    // bucket).
    "q343_kn_ppl_mix" ->
      s"""$knModelCte,
        |$tercileMixSql""".stripMargin,

    // Mirrors TextLm.knImportanceWeightsFrom: both models KN-smoothed from
    // the shared doc-level bigram counts; the target side replays the
    // interpolation ladder (observed bigram / history-only via the
    // clamped discount / continuation-only when the history is
    // target-unseen) with the identical BIGINT rationals.
    "q344_kn_importance_weights" ->
      s"""WITH $sourceDocBigramsCte,
        |gbig AS MATERIALIZED (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS gc2
        |  FROM docbig GROUP BY 1, 2),
        |ghist AS (SELECT w1, CAST(sum(gc2) AS BIGINT) AS gc1,
        |    CAST(count(*) AS BIGINT) AS gn1p FROM gbig GROUP BY 1),
        |gcont AS (SELECT w2, CAST(count(*) AS BIGINT) AS gnc FROM gbig GROUP BY 1),
        |tbig AS MATERIALIZED (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS tc2
        |  FROM docbig WHERE tgt GROUP BY 1, 2),
        |thist AS (SELECT w1, CAST(sum(tc2) AS BIGINT) AS tc1,
        |    CAST(count(*) AS BIGINT) AS tn1p FROM tbig GROUP BY 1),
        |tcont AS (SELECT w2, CAST(count(*) AS BIGINT) AS tnc FROM tbig GROUP BY 1),
        |sizes AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM gbig) AS gt,
        |    (SELECT CAST(count(DISTINCT w1) AS BIGINT)
        |       FROM (SELECT unnest(t) AS w1 FROM base)) AS gv,
        |    (SELECT CAST(count(*) AS BIGINT) FROM tbig) AS tt,
        |    (SELECT CAST(count(DISTINCT w1) AS BIGINT)
        |       FROM (SELECT unnest(t) AS w1 FROM base WHERE tgt)) AS tv),
        |scored AS (
        |  SELECT d.source, d.occ,
        |    CAST(round(ln(CASE WHEN sizes.tt + sizes.tv = 0 THEN NULL
        |        WHEN th.tc1 IS NULL
        |        THEN CAST(coalesce(tc.tnc, 0) + 1 AS DOUBLE)
        |          / CAST(sizes.tt + sizes.tv AS DOUBLE)
        |        ELSE CAST(greatest(4 * coalesce(tb.tc2, 0) - 3, 0)
        |              * (sizes.tt + sizes.tv)
        |            + 3 * th.tn1p * (coalesce(tc.tnc, 0) + 1) AS DOUBLE)
        |          / CAST(4 * th.tc1 * (sizes.tt + sizes.tv) AS DOUBLE)
        |      END) * 1e6) AS BIGINT)
        |    - CAST(round(ln(
        |        CAST((4 * gb.gc2 - 3) * (sizes.gt + sizes.gv)
        |            + 3 * gh.gn1p * (gc.gnc + 1) AS DOUBLE)
        |        / CAST(4 * gh.gc1 * (sizes.gt + sizes.gv) AS DOUBLE))
        |      * 1e6) AS BIGINT) AS lr_mu
        |  FROM docbig d
        |  JOIN gbig gb ON gb.w1 = d.w1 AND gb.w2 = d.w2
        |  JOIN ghist gh ON gh.w1 = d.w1
        |  JOIN gcont gc ON gc.w2 = d.w2
        |  LEFT JOIN tbig tb ON tb.w1 = d.w1 AND tb.w2 = d.w2
        |  LEFT JOIN thist th ON th.w1 = d.w1
        |  LEFT JOIN tcont tc ON tc.w2 = d.w2
        |  CROSS JOIN sizes)
        |$avgLogRatioSql""".stripMargin,

    // Mirrors TextDedup.dedupPipeline over the composed lineage (minhash
    // pairs + semantic cells + the exact/near/semantic worklist chain).
    "q345_dedup_pipeline" -> (dedupPipelineCte + """
        |SELECT doc_id, stage, survivor_id FROM wl""".stripMargin),

    // Mirrors TextDedup.dedupFunnel: one 1-row aggregate over the same
    // worklist, stacked to stage-ordered funnel rows.
    "q346_dedup_funnel" -> (dedupPipelineCte + """,
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS total,
        |    CAST(coalesce(sum(CASE WHEN stage = 'exact' THEN 1 END), 0) AS BIGINT) AS r1,
        |    CAST(coalesce(sum(CASE WHEN stage = 'near_dup' THEN 1 END), 0) AS BIGINT) AS r2,
        |    CAST(coalesce(sum(CASE WHEN stage = 'semantic' THEN 1 END), 0) AS BIGINT) AS r3
        |  FROM wl)
        |SELECT CAST(1 AS BIGINT) AS stage_order, 'exact' AS stage,
        |  total AS docs_in, r1 AS docs_removed, total - r1 AS docs_out FROM agg
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'near_dup', total - r1, r2,
        |  total - r1 - r2 FROM agg
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'semantic', total - r1 - r2, r3,
        |  total - r1 - r2 - r3 FROM agg""".stripMargin),

    // Mirrors TextLm.kn3CrossEntropyFrom: trigram/bigram TYPE tables and
    // their marginals, the identical fixed-order double formula per
    // trigram type (operand-for-operand — IEEE ops at fixed order are
    // engine-deterministic), micro-nat quantization, exact per-doc sums.
    "q347_kn3_xent" ->
      s"""WITH toks AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |dt AS MATERIALIZED (
        |  SELECT doc_id, w1, w2, w3, count(*) AS occ FROM (
        |    SELECT doc_id, unnest(t[1:len(t)-2]) AS w1,
        |      unnest(t[2:len(t)-1]) AS w2, unnest(t[3:len(t)]) AS w3
        |    FROM toks WHERE len(t) >= 3)
        |  GROUP BY 1, 2, 3, 4),
        |tri AS MATERIALIZED (
        |  SELECT w1, w2, w3, CAST(sum(occ) AS BIGINT) AS c3
        |  FROM dt GROUP BY 1, 2, 3),
        |h12 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c12,
        |    CAST(count(*) AS BIGINT) AS npt FROM tri GROUP BY 1, 2),
        |s23 AS MATERIALIZED (SELECT w2, w3,
        |    CAST(count(*) AS BIGINT) AS ns FROM tri GROUP BY 1, 2),
        |m2 AS (SELECT w2, CAST(sum(ns) AS BIGINT) AS nm,
        |       CAST(count(*) AS BIGINT) AS npb FROM s23 GROUP BY 1),
        |big AS MATERIALIZED (SELECT DISTINCT b1, b2 FROM (
        |    SELECT unnest(t[1:len(t)-1]) AS b1, unnest(t[2:len(t)]) AS b2
        |    FROM toks)),
        |cont AS (SELECT b2 AS w3, CAST(count(*) AS BIGINT) AS nc
        |         FROM big GROUP BY 1),
        |tv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM big) AS t2,
        |    (SELECT CAST(count(DISTINCT w) AS BIGINT)
        |       FROM (SELECT unnest(t) AS w FROM toks)) AS v),
        |model AS (
        |  SELECT tri.w1, tri.w2, tri.w3,
        |    CAST(round(ln(
        |      CAST(greatest(4 * c3 - 3, 0) AS DOUBLE) / CAST(4 * c12 AS DOUBLE)
        |      + CAST(3 * npt AS DOUBLE) / CAST(4 * c12 AS DOUBLE)
        |        * (CAST(greatest(4 * ns - 3, 0) AS DOUBLE) / CAST(4 * nm AS DOUBLE)
        |           + CAST(3 * npb AS DOUBLE) / CAST(4 * nm AS DOUBLE)
        |             * (CAST(nc + 1 AS DOUBLE) / CAST(t2 + v AS DOUBLE)))
        |    ) * 1e6) AS BIGINT) AS lp_mu
        |  FROM tri JOIN h12 USING (w1, w2) JOIN s23 USING (w2, w3)
        |  JOIN m2 USING (w2) JOIN cont USING (w3)
        |  CROSS JOIN tv)
        |${OracleSql.docXentSql("n_trigrams", "dt JOIN model USING (w1, w2, w3)")}""".stripMargin,

    // Mirrors TextLm.excessLossSelectFrom: the shared knModelCte reference
    // model + the q101 add-one model from the SAME type counts, per-doc
    // integer half-up xent images for both, excess = xa - xk, top-quarter
    // cut per source by ascending cumulative counts (cum*4 >= n*3; ties
    // at the cut fall to the unselected side).
    "q348_excess_loss_select" ->
      s"""$knAddOneCte,
        |sc AS (SELECT db.doc_id,
        |    CAST((2 * (-sum(occ * a.lpa)) + sum(occ))
        |      // (2 * sum(occ)) AS BIGINT)
        |    - CAST((2 * (-sum(occ * m.lp_mu)) + sum(occ))
        |      // (2 * sum(occ)) AS BIGINT) AS e
        |  FROM db JOIN model m USING (w1, w2) JOIN amodel a USING (w1, w2)
        |  GROUP BY 1),
        |ex AS MATERIALIZED (SELECT sc.doc_id, d.source AS g, sc.e
        |  FROM sc JOIN documents d USING (doc_id)),
        |vals AS MATERIALIZED (
        |  SELECT g, e, CAST(count(*) AS BIGINT) AS c FROM ex GROUP BY 1, 2),
        |cum AS (SELECT g, e, c,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY e) AS BIGINT) AS cm
        |  FROM vals),
        |tt AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM vals GROUP BY 1),
        |cuts AS (SELECT cum.g,
        |    min(CASE WHEN cm * 4 >= n * 3 THEN e END) AS cut
        |  FROM cum JOIN tt USING (g) GROUP BY 1)
        |SELECT ex.g AS source, ex.e > cuts.cut AS selected,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round((CAST(sum(ex.e) AS DOUBLE) / 1e6) / CAST(count(*) AS DOUBLE), 6)
        |    AS mean_excess
        |FROM ex JOIN cuts USING (g)
        |GROUP BY 1, 2""".stripMargin,

    // Mirrors TextLm.doremiWeightsFrom: q348's excess chain clamped at 0,
    // bigram-weighted per-source lambda, one quantized exp boost, then
    // four materialized normalize-and-smooth rounds (HUGEINT products),
    // stacked to the (rnd, source, ...) trajectory.
    "q356_doremi_weights" -> doremiOracle(4, 1, 5),

    // Mirrors TextLm.mknCrossEntropyFrom: same db/big lineage as knModelCte,
    // history aggregate widened with exact-count-1/2/>=3 continuation
    // type counts, the global count-of-counts row, and the per-TYPE
    // probability evaluated from TextLm.mknProbSql — the IDENTICAL
    // character string Spark's expr parses, so the fixed-order double
    // arithmetic cannot diverge.
    "q349_mkn_xent" ->
      s"""WITH $knBigramsCte,
        |hist AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
        |    CAST(count(CASE WHEN c2 = 1 THEN 1 END) AS BIGINT) AS m1,
        |    CAST(count(CASE WHEN c2 = 2 THEN 1 END) AS BIGINT) AS m2c,
        |    CAST(count(CASE WHEN c2 >= 3 THEN 1 END) AS BIGINT) AS m3p
        |  FROM big GROUP BY 1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc FROM big GROUP BY 1),
        |sizes AS (SELECT CAST(count(*) AS BIGINT) AS t_types,
        |    CAST(count(CASE WHEN c2 = 1 THEN 1 END) AS BIGINT) AS n1,
        |    CAST(count(CASE WHEN c2 = 2 THEN 1 END) AS BIGINT) AS n2,
        |    CAST(count(CASE WHEN c2 = 3 THEN 1 END) AS BIGINT) AS n3,
        |    CAST(count(CASE WHEN c2 = 4 THEN 1 END) AS BIGINT) AS n4
        |  FROM big),
        |vv AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v
        |       FROM (SELECT unnest(t) AS w1 FROM toks)),
        |model AS (
        |  SELECT big.w1, big.w2,
        |    CAST(round(ln(${graft.operators.TextLm.mknProbSql}) * 1e6) AS BIGINT)
        |      AS lp_mu
        |  FROM big JOIN hist USING (w1) JOIN cont USING (w2)
        |  CROSS JOIN sizes CROSS JOIN vv)
        |${OracleSql.bigramXentSql}""".stripMargin,

    // Mirrors TextLm.minKProbFrom: the shared KN model, occurrence-expanded
    // per-doc instances (generate_series), bottom ceil(m/5) by lp rank
    // (instances sharing an lp are interchangeable, so rank tie order is
    // value-free), house half-up mean.
    "q354_mink_prob" ->
      s"""$knModelCte,
        |ex AS MATERIALIZED (
        |  SELECT doc_id, lp_mu FROM (
        |    SELECT db.doc_id, m.lp_mu,
        |      unnest(generate_series(1, db.occ)) AS i
        |    FROM db JOIN model m USING (w1, w2))),
        |mm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m
        |       FROM ex GROUP BY 1),
        |rk AS (SELECT doc_id, lp_mu,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY lp_mu) AS rn
        |  FROM ex)
        |SELECT rk.doc_id, mm.m AS n_bigrams,
        |  CAST(CAST((2 * (-sum(lp_mu)) + count(*))
        |    // (2 * count(*)) AS BIGINT) AS DOUBLE) / 1e6 AS mink_xent
        |FROM rk JOIN mm USING (doc_id)
        |WHERE rn <= (m * 1 + 4) // 5
        |GROUP BY 1, 2""".stripMargin,

    // Mirrors TextPrep.unigramLmTrainStepFrom — see unigramLmOracle.
    "q350_unigram_lm_em" -> unigramLmOracle(4, 16),

    // Mirrors TextPrep.unigramLmFertilityFrom over the SAME unrolled-DP
    // chain — see unigramLmFertilityOracle.
    "q352_unigram_fertility" -> unigramLmFertilityOracle(4, 16),

    // Mirrors TextPrep.unigramLmPruneFrom: seed DP pass + order-statistic
    // prune + SECOND unrolled DP pass over the restricted vocabulary.
    "q353_unigram_prune" -> unigramLmPruneOracle(4, 16, 1, 2),

    // Mirrors TextDedup.lineDedup: 3-token non-overlapping tiles as
    // lines, distinct-doc frequency per line text, drop at >= 3 docs,
    // per-doc rebuild via ORDER BY line position (string_agg skips the
    // dropped NULLs; coalesce('') matches Spark's empty-array join).
    "q351_line_dedup" ->
      ("WITH " + lineTilesCte + """,
        |df AS (
        |  SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS ldf
        |  FROM lns GROUP BY 1)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN ldf >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lines_dropped,
        |  CAST(sum(CASE WHEN ldf < 3 THEN ntoks ELSE 0 END) AS BIGINT)
        |    AS n_tokens_kept,
        |  md5(coalesce(
        |    string_agg(CASE WHEN ldf < 3 THEN line END, ' ' ORDER BY lpos),
        |    '')) AS clean_md5
        |FROM lns JOIN df USING (line)
        |GROUP BY doc_id""".stripMargin),

    "q359_paragraph_minhash" -> paragraphMinhashSql,

    // Mirrors TextLm.dsirResampleFrom: q151's per-doc chain summed (not
    // meaned), the q286 uniform (h+0.5)/2^60 salted 'rs', one quantized
    // Gumbel, exact-integer perturbed score, top-100 by (score, doc_id).
    "q360_dsir_resample" -> {
      val h = ScaleQueries.duckHash60(
        "concat_ws('#', 'rs', CAST(d2.doc_id AS VARCHAR))")
      s"""WITH base AS (SELECT doc_id, lang = 'en' AS tgt,
         |    string_split(text,' ') AS t FROM documents),
         |pairs AS (
         |  SELECT doc_id, tgt, t[i] AS w1, t[i+1] AS w2
         |  FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
         |docbig AS (SELECT doc_id, tgt, w1, w2,
         |    CAST(count(*) AS BIGINT) AS occ
         |  FROM pairs GROUP BY 1, 2, 3, 4),
         |$importanceCountsCte,
         |lwt AS MATERIALIZED (
         |  SELECT d.doc_id, CAST(sum(d.occ *
         |    ($importanceLogRatioMu)) AS BIGINT)
         |    AS lw_mu
         |  $importanceJoinSql
         |  GROUP BY 1),
         |g AS (SELECT d2.doc_id, d2.lw_mu,
         |    CAST(round(1e6 * (-ln(-ln((CAST($h AS DOUBLE) + 0.5)
         |      / CAST(1152921504606846976 AS DOUBLE))))) AS BIGINT) AS g_mu
         |  FROM lwt d2),
         |s AS (SELECT doc_id, lw_mu, g_mu, lw_mu + g_mu AS score_mu,
         |    row_number() OVER (ORDER BY lw_mu + g_mu DESC, doc_id) AS rnk
         |  FROM g)
         |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id,
         |  CAST(lw_mu AS DOUBLE) / 1e6 AS log_weight,
         |  CAST(g_mu AS DOUBLE) / 1e6 AS gumbel,
         |  CAST(score_mu AS DOUBLE) / 1e6 AS score
         |FROM s WHERE rnk <= 100""".stripMargin
    },

    // Mirrors TextDedup.decontaminateSpans: the shared 4-token tile rule
    // (q329's comprehension form with the q351 ntoks/ordering), eval
    // membership = house md5 carve h < 2^60/16 (exact integer compare),
    // tile-keyed LEFT JOIN drop + ordered string_agg rebuild.
    "q361_decontam_rebuild" -> {
      val h = ScaleQueries.duckHash60(
        "concat_ws('#', 'ev', CAST(doc_id AS VARCHAR))")
      s"""WITH t0 AS (
         |  SELECT doc_id, split(coalesce(text, ''), ' ') AS ts
         |  FROM documents),
         |tiles AS MATERIALIZED (
         |  SELECT doc_id, i AS tpos,
         |    array_to_string(ts[i*4+1 : i*4+4], ' ') AS tile,
         |    CAST(len(ts[i*4+1 : i*4+4]) AS BIGINT) AS ntoks
         |  FROM (SELECT doc_id, ts,
         |      unnest(generate_series(0,
         |        greatest((len(ts) + 3) // 4, 1) - 1)) AS i
         |    FROM t0)),
         |ev AS MATERIALIZED (
         |  SELECT DISTINCT tile FROM tiles
         |  WHERE ($h) < 72057594037927936),
         |tr AS (SELECT * FROM tiles
         |  WHERE NOT (($h) < 72057594037927936))
         |SELECT tr.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_tiles,
         |  CAST(sum(CASE WHEN ev.tile IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_tiles_dropped,
         |  CAST(sum(CASE WHEN ev.tile IS NULL THEN ntoks ELSE 0 END)
         |    AS BIGINT) AS n_tokens_kept,
         |  md5(coalesce(
         |    string_agg(CASE WHEN ev.tile IS NULL THEN tr.tile END,
         |      ' ' ORDER BY tpos), '')) AS clean_md5
         |FROM tr LEFT JOIN ev ON ev.tile = tr.tile
         |GROUP BY tr.doc_id""".stripMargin
    },

    // Mirrors TextDedup.intraDocLineDedup: the q351 line inventory, a
    // (doc, line)-keyed min(lpos), keep-first flag, ordered rebuild.
    "q363_intradoc_line_dedup" ->
      ("WITH " + lineTilesCte + """,
        |k AS (SELECT doc_id, line, CAST(min(lpos) AS BIGINT) AS kpos
        |  FROM lns GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN lpos = kpos THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_lines_dropped,
        |  CAST(sum(CASE WHEN lpos = kpos THEN ntoks ELSE 0 END) AS BIGINT)
        |    AS n_tokens_kept,
        |  md5(coalesce(
        |    string_agg(CASE WHEN lpos = kpos THEN line END, ' ' ORDER BY lpos),
        |    '')) AS clean_md5
        |FROM lns JOIN k USING (doc_id, line)
        |GROUP BY doc_id""".stripMargin),

    // Mirrors TextLm.heldoutKnXentFrom: db split by the 'ho' md5 carve
    // (h < 2^60/8 exact integer compare), KN model from the train side
    // only, the q344 target-side ladder over held-out bigrams, pooled
    // per-source half-up xent.
    "q364_heldout_kn_xent" -> {
      val h = ScaleQueries.duckHash60(
        "concat_ws('#', 'ho', CAST(doc_id AS VARCHAR))")
      s"""WITH base AS (SELECT doc_id, source,
         |    ($h) < 144115188075855872 AS ho,
         |    string_split(text,' ') AS t FROM documents),
         |pairs AS (
         |  SELECT doc_id, source, ho, t[i] AS w1, t[i+1] AS w2
         |  FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
         |db AS MATERIALIZED (SELECT doc_id, source, ho, w1, w2,
         |    CAST(count(*) AS BIGINT) AS occ
         |  FROM pairs GROUP BY 1, 2, 3, 4, 5),
         |big AS MATERIALIZED (
         |  SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c2
         |  FROM db WHERE NOT ho GROUP BY 1, 2),
         |hist AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS n1p FROM big GROUP BY 1),
         |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc
         |  FROM big GROUP BY 1),
         |tv AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM big) AS t_types,
         |    (SELECT CAST(count(DISTINCT w1) AS BIGINT)
         |       FROM (SELECT unnest(t) AS w1 FROM base WHERE NOT ho)) AS v),
         |sc AS (
         |  SELECT d.doc_id, d.source, d.occ,
         |    $heldoutKnLpMu
         |  FROM db d
         |  LEFT JOIN big b ON b.w1 = d.w1 AND b.w2 = d.w2
         |  LEFT JOIN hist h1 ON h1.w1 = d.w1
         |  LEFT JOIN cont cn ON cn.w2 = d.w2
         |  CROSS JOIN tv
         |  WHERE d.ho)
         |SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(sum(occ) AS BIGINT) AS n_bigrams,
         |  CAST(CAST((2 * (-sum(occ * lp_mu)) + sum(occ))
         |    // (2 * sum(occ)) AS BIGINT) AS DOUBLE) / 1e6 AS xent
         |FROM sc GROUP BY 1""".stripMargin
    },

    // Mirrors TextPrep.charCoverage: char-frequency grid, cumulative
    // ranking (count desc, char asc), minimal-prefix keep rule
    // (cum − cnt)·100 < total·99, per-source OOV census with the
    // HUGEINT-widened half-up 6-dp rate.
    "q365_char_coverage" ->
      """WITH ch AS (
        |  SELECT source, unnest(string_split(coalesce(text, ''), '')) AS c
        |  FROM documents),
        |chf AS MATERIALIZED (
        |  SELECT source, c, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ch WHERE c <> '' GROUP BY 1, 2),
        |grid AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS gcnt
        |  FROM chf GROUP BY 1),
        |tot AS (SELECT CAST(sum(gcnt) AS BIGINT) AS gtotal FROM grid),
        |rk AS (SELECT c, gcnt,
        |    CAST(sum(gcnt) OVER (ORDER BY gcnt DESC, c ASC) AS BIGINT) AS cum
        |  FROM grid),
        |kp AS (SELECT c, (cum - gcnt) * 100 < gtotal * 99 AS kept
        |  FROM rk, tot),
        |al AS (SELECT CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
        |    AS alphabet_size FROM kp)
        |SELECT source,
        |  CAST(sum(cnt) AS BIGINT) AS n_char_occ,
        |  CAST(sum(CASE WHEN kept THEN 0 ELSE cnt END) AS BIGINT) AS n_oov_occ,
        |  CAST(CAST((CAST(2 AS HUGEINT) * sum(CASE WHEN kept THEN 0 ELSE cnt END)
        |      * 1000000 + sum(cnt)) // (2 * sum(cnt)) AS BIGINT) AS DOUBLE)
        |    / 1e6 AS oov_rate,
        |  (SELECT alphabet_size FROM al) AS alphabet_size
        |FROM chf JOIN kp USING (c)
        |GROUP BY source""".stripMargin,

    // Mirrors TextDedup.bloomDedupCensus: the q363 line-tile inventory
    // collapsed to line TYPES, md5 canonical order key + 3 probe-bit
    // hashes, per-(bit, slot) first-setter minima, per-k strict-< flags.
    "q366_bloom_dedup" -> {
      val o = ScaleQueries.duckHash60("'bfford#' || line")
      def bit(i: Int) = ScaleQueries.duckHash60(s"'bffbit$i#' || line")
      val perK = (1 to 3).map { k =>
        s"""f$k AS (
           |  SELECT s.o, min(CASE WHEN bm.mo < s.o THEN 1 ELSE 0 END) AS fp
           |  FROM sl s JOIN (SELECT b, min(mo) AS mo FROM bsm
           |                  WHERE slot <= $k GROUP BY 1) bm USING (b)
           |  WHERE s.slot <= $k GROUP BY 1),
           |r$k AS (
           |  SELECT CAST($k AS BIGINT) AS k,
           |    CAST(count(*) AS BIGINT) AS n_types,
           |    CAST(sum(fp) AS BIGINT) AS n_fp_types,
           |    (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM sl
           |     WHERE slot <= $k) AS n_bits_set
           |  FROM f$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
         |  FROM documents),
         |lns AS (
         |  SELECT doc_id, array_to_string(ts[i*3+1 : i*3+3], ' ') AS line
         |  FROM (SELECT doc_id, ts,
         |      unnest(generate_series(0,
         |        greatest((len(ts) + 2) // 3, 1) - 1)) AS i
         |    FROM toks)),
         |ty AS MATERIALIZED (
         |  SELECT line, CAST(count(*) AS BIGINT) AS occ, ($o) AS o
         |  FROM lns GROUP BY 1),
         |sl AS MATERIALIZED (
         |  SELECT o, i AS slot,
         |    (CASE i WHEN 1 THEN (${bit(1)}) WHEN 2 THEN (${bit(2)})
         |      ELSE (${bit(3)}) END) % 65536 AS b
         |  FROM ty, (SELECT unnest([1, 2, 3]) AS i)),
         |bsm AS MATERIALIZED (
         |  SELECT b, slot, min(o) AS mo FROM sl GROUP BY 1, 2),
         |dup AS (SELECT CAST(sum(occ) - count(*) AS BIGINT) AS n_dup_occ
         |  FROM ty),
         |$perK
         |SELECT k, n_types, n_fp_types,
         |  CAST(CAST((CAST(2 AS HUGEINT) * n_fp_types * 1000000 + n_types)
         |    // (2 * n_types) AS BIGINT) AS DOUBLE) / 1e6 AS fp_rate,
         |  n_bits_set, (SELECT n_dup_occ FROM dup) AS n_dup_occ
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
         |      UNION ALL SELECT * FROM r3)""".stripMargin
    },

    // Mirrors TextDedup.pairBleu: the SHARED q31 MinHash chain feeds the
    // pair set; clipped uni/bigram counts over pair docs only; the
    // single-quantized log-BLEU2 with brevity penalty, NULL at zero
    // overlap.
    "q367_pair_bleu" ->
      s"""WITH ${minhashChainSql("documents")},
         |prs AS MATERIALIZED (
         |$minhashFinalSelect),
         |ids AS (SELECT DISTINCT doc_id FROM (
         |  SELECT doc_a AS doc_id FROM prs
         |  UNION ALL SELECT doc_b FROM prs)),
         |t2 AS MATERIALIZED (
         |  SELECT d.doc_id, string_split(d.text, ' ') AS t
         |  FROM documents d JOIN ids USING (doc_id)),
         |lenz AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM t2),
         |u AS MATERIALIZED (
         |  SELECT doc_id, w AS g, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest(t) AS w FROM t2) GROUP BY 1, 2),
         |bg AS MATERIALIZED (
         |  SELECT doc_id, gm AS g, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id,
         |      unnest([array_to_string(t[i:i+1], ' ')
         |              for i in range(1, len(t))]) AS gm
         |    FROM t2) GROUP BY 1, 2),
         |m1 AS (SELECT p.doc_a, p.doc_b,
         |    CAST(sum(least(ua.c, coalesce(ub.c, 0))) AS BIGINT) AS m
         |  FROM prs p JOIN u ua ON ua.doc_id = p.doc_a
         |  LEFT JOIN u ub ON ub.doc_id = p.doc_b AND ub.g = ua.g
         |  GROUP BY 1, 2),
         |m2 AS (SELECT p.doc_a, p.doc_b,
         |    CAST(sum(least(ba.c, coalesce(bb.c, 0))) AS BIGINT) AS m
         |  FROM prs p JOIN bg ba ON ba.doc_id = p.doc_a
         |  LEFT JOIN bg bb ON bb.doc_id = p.doc_b AND bb.g = ba.g
         |  GROUP BY 1, 2),
         |sc AS (SELECT p.doc_a, p.doc_b, la.n AS n_a, lb.n AS n_b,
         |    CAST(coalesce(m1.m, 0) AS DOUBLE) / CAST(la.n AS DOUBLE) AS p1,
         |    CASE WHEN la.n >= 2 THEN CAST(coalesce(m2.m, 0) AS DOUBLE)
         |      / CAST(la.n - 1 AS DOUBLE) END AS p2
         |  FROM prs p
         |  JOIN lenz la ON la.doc_id = p.doc_a
         |  JOIN lenz lb ON lb.doc_id = p.doc_b
         |  LEFT JOIN m1 ON m1.doc_a = p.doc_a AND m1.doc_b = p.doc_b
         |  LEFT JOIN m2 ON m2.doc_a = p.doc_a AND m2.doc_b = p.doc_b)
         |SELECT doc_a, doc_b, p1, p2,
         |  CAST(CAST(round((least(0.0,
         |      1.0 - CAST(n_b AS DOUBLE) / CAST(n_a AS DOUBLE))
         |    + 0.5 * (ln(CASE WHEN p1 > 0 THEN p1 END)
         |           + ln(CASE WHEN p2 > 0 THEN p2 END))) * 1e6) AS BIGINT)
         |    AS DOUBLE) / 1e6 AS log_bleu2
         |FROM sc""".stripMargin,

    // Mirrors TextLm.dataScalingFitFrom: q364's 'ho' carve, per-k nested
    // train models as filtered re-aggregates of the ONE db/uni pair, the
    // full ladder over the fixed held-out eighth, integer-hardened OLS
    // slope over the non-NULL points.
    "q368_scaling_fit" -> {
      val h = ScaleQueries.duckHash60(
        "concat_ws('#', 'ho', CAST(doc_id AS VARCHAR))")
      val eighth = 144115188075855872L // 2^57 = 2^60/8
      val ks = Seq(1, 2, 4, 7)
      val perK = ks.map { k =>
        val lo = (8L - k) * eighth
        s"""big$k AS MATERIALIZED (
           |  SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c2
           |  FROM db WHERE h >= $lo GROUP BY 1, 2),
           |hist$k AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
           |    CAST(count(*) AS BIGINT) AS n1p FROM big$k GROUP BY 1),
           |cont$k AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc
           |  FROM big$k GROUP BY 1),
           |tv$k AS (SELECT
           |    (SELECT CAST(count(*) AS BIGINT) FROM big$k) AS t_types,
           |    (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM uni
           |     WHERE h >= $lo) AS v,
           |    (SELECT CAST(coalesce(sum(uocc), 0) AS BIGINT) FROM uni
           |     WHERE h >= $lo) AS n_train_tokens),
           |sc$k AS (SELECT d.occ, tv.n_train_tokens,
           |    $heldoutKnLpMu
           |  FROM db d
           |  LEFT JOIN big$k b ON b.w1 = d.w1 AND b.w2 = d.w2
           |  LEFT JOIN hist$k h1 ON h1.w1 = d.w1
           |  LEFT JOIN cont$k cn ON cn.w2 = d.w2
           |  CROSS JOIN tv$k tv
           |  WHERE d.h < $eighth),
           |pt$k AS (SELECT CAST($k AS BIGINT) AS train_eighths,
           |    CAST(max(n_train_tokens) AS BIGINT) AS n_train_tokens,
           |    CAST(sum(occ) AS BIGINT) AS n_bigrams,
           |    CAST(CASE WHEN sum(occ * lp_mu) IS NOT NULL THEN
           |      (2 * (-sum(occ * lp_mu)) + sum(occ)) // (2 * sum(occ))
           |      END AS BIGINT) AS y_mu
           |  FROM sc$k)""".stripMargin
      }.mkString(",\n")
      val unions = ks.map(k => s"SELECT * FROM pt$k")
        .mkString("\n      UNION ALL ")
      s"""WITH base AS (SELECT doc_id, ($h) AS h,
         |    string_split(text, ' ') AS t FROM documents),
         |pairs AS (
         |  SELECT doc_id, h, t[i] AS w1, t[i+1] AS w2
         |  FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
         |db AS MATERIALIZED (SELECT doc_id, h, w1, w2,
         |    CAST(count(*) AS BIGINT) AS occ
         |  FROM pairs GROUP BY 1, 2, 3, 4),
         |uni AS MATERIALIZED (SELECT doc_id, h, w,
         |    CAST(count(*) AS BIGINT) AS uocc
         |  FROM (SELECT doc_id, h, unnest(t) AS w FROM base)
         |  GROUP BY 1, 2, 3),
         |$perK,
         |curve AS ($unions),
         |fpts AS (SELECT
         |    CAST(round(ln(CAST(n_train_tokens AS DOUBLE)) * 1e6) AS BIGINT)
         |      AS x_mu, y_mu
         |  FROM curve WHERE y_mu IS NOT NULL AND n_train_tokens > 0),
         |fit AS (SELECT CASE WHEN count(*) >= 2
         |      AND count(*) * sum(x_mu * x_mu) - sum(x_mu) * sum(x_mu) <> 0
         |    THEN round(CAST(count(*) * sum(x_mu * y_mu)
         |          - sum(x_mu) * sum(y_mu) AS DOUBLE)
         |      / CAST(count(*) * sum(x_mu * x_mu)
         |          - sum(x_mu) * sum(x_mu) AS DOUBLE), 6)
         |    END AS slope FROM fpts)
         |SELECT train_eighths, n_train_tokens, n_bigrams,
         |  CAST(y_mu AS DOUBLE) / 1e6 AS xent, slope
         |FROM curve, fit""".stripMargin
    },

    // Mirrors TextLm.groupedKnXentFrom: the knModelCte chain with the lang
    // key prepended to every model table; self-scoring per group, so
    // every scored bigram is observed in its own group's model (no
    // ladder). Shares langKnScoredCte with q374.
    "q369_lang_kn_xent" ->
      s"""WITH $langKnScoredCte
         |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(sum(occ) AS BIGINT) AS n_bigrams,
         |  CAST(CAST((2 * (-sum(occ * lp_mu)) + sum(occ))
         |    // (2 * sum(occ)) AS BIGINT) AS DOUBLE) / 1e6 AS xent
         |FROM sc GROUP BY 1""".stripMargin,

    // Mirrors TextLm.groupedKnXentPerDocFrom |> tercileMix: the SAME
    // per-lang scored chain collapsed per doc, then the q343 tercile
    // stage partitioned by lang.
    "q374_lang_kn_mix" ->
      s"""WITH $langKnScoredCte,
         |sd AS (SELECT doc_id, lang AS g,
         |    CAST((2 * (-sum(occ * lp_mu)) + sum(occ))
         |      // (2 * sum(occ)) AS BIGINT) AS xmu
         |  FROM sc GROUP BY 1, 2),
         |vals AS (SELECT g, xmu, CAST(count(*) AS BIGINT) AS c
         |  FROM sd GROUP BY 1, 2),
         |cum AS (SELECT g, xmu, c,
         |    CAST(sum(c) OVER (PARTITION BY g ORDER BY xmu) AS BIGINT) AS cm
         |  FROM vals),
         |tt2 AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM vals GROUP BY 1),
         |cuts AS (SELECT cum.g,
         |    min(CASE WHEN cm * 3 >= n THEN xmu END) AS cut1,
         |    min(CASE WHEN cm * 3 >= n * 2 THEN xmu END) AS cut2
         |  FROM cum JOIN tt2 USING (g) GROUP BY 1),
         |bk AS (SELECT sd.g, sd.xmu,
         |    CASE WHEN sd.xmu <= cuts.cut1 THEN 'head'
         |         WHEN sd.xmu <= cuts.cut2 THEN 'middle'
         |         ELSE 'tail' END AS bucket
         |  FROM sd JOIN cuts USING (g))
         |SELECT g AS lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  round((CAST(sum(xmu) AS DOUBLE) / 1e6)
         |    / CAST(count(*) AS DOUBLE), 6) AS mean_xent
         |FROM bk GROUP BY 1, 2""".stripMargin,

    // Mirrors TextDedup.gopherRepetitionFrom: the shared census chain's
    // micro columns divided out to 6-dp doubles, pass decided on the
    // micro integers at the Rae et al. Table A1 thresholds.
    "q375_gopher_repetition" ->
      s"""WITH $gopherCensusCte
         |SELECT doc_id, l_n AS n_lines,
         |  CAST(r1 AS DOUBLE) / 1e6 AS dup_line_frac,
         |  CAST(r2 AS DOUBLE) / 1e6 AS dup_line_char_frac,
         |  CAST(r3 AS DOUBLE) / 1e6 AS dup_para_frac,
         |  CAST(r4 AS DOUBLE) / 1e6 AS dup_para_char_frac,
         |  CAST(r5 AS DOUBLE) / 1e6 AS top2_char_frac,
         |  CAST(r6 AS DOUBLE) / 1e6 AS top3_char_frac,
         |  CAST(r7 AS DOUBLE) / 1e6 AS top4_char_frac,
         |  CAST(r8 AS DOUBLE) / 1e6 AS dup5gram_char_frac,
         |  CAST(r9 AS DOUBLE) / 1e6 AS dup6gram_char_frac,
         |  CAST(r10 AS DOUBLE) / 1e6 AS dup7gram_char_frac,
         |  CAST(r11 AS DOUBLE) / 1e6 AS dup8gram_char_frac,
         |  CAST(r12 AS DOUBLE) / 1e6 AS dup9gram_char_frac,
         |  CAST(r13 AS DOUBLE) / 1e6 AS dup10gram_char_frac,
         |  CAST(CASE WHEN $gopherPassSql THEN 1 ELSE 0 END AS BIGINT) AS pass
         |FROM mc""".stripMargin,

    // Mirrors TextDedup.gopherPassReportFrom: per-(source, rule) failure
    // counts off the same census chain, stacked by 8-way UNION ALL,
    // fail_rate as the HUGEINT half-up rational.
    "q376_gopher_report" -> {
      val aggs = gopherRuleFailSql.map { case (i, _, p) =>
        s"CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS f$i"
      }.mkString(",\n    ")
      val stack = gopherRuleFailSql.map { case (i, n, _) =>
        s"SELECT source, n_docs, CAST($i AS BIGINT) AS rule_order, " +
          s"'$n' AS rule, f$i AS n_fail FROM a"
      }.mkString("\n  UNION ALL ")
      s"""WITH $gopherCensusCte,
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    $aggs
         |  FROM mc JOIN documents USING (doc_id) GROUP BY 1),
         |s AS (
         |  $stack)
         |SELECT source, n_docs, rule_order, rule, n_fail,
         |  CAST(CAST((CAST(2 AS HUGEINT) * n_fail * 1000000 + n_docs)
         |    // (2 * n_docs) AS BIGINT) AS DOUBLE) / 1e6 AS fail_rate
         |FROM s""".stripMargin
    },

    // Mirrors TextLm.langUnimaxFromScored: per-doc xmu off the shared
    // per-lang scored chain, per-lang tercile cut2, head+middle keep,
    // kept token sums per lang, then the q355 waterfill chain (segment
    // candidates nonneg-guarded, k=0 row always survives).
    "q378_lang_unimax" ->
      s"""WITH $langKnScoredCte,
         |sd AS (SELECT doc_id, lang,
         |    CAST((2 * (-sum(occ * lp_mu)) + sum(occ))
         |      // (2 * sum(occ)) AS BIGINT) AS xmu
         |  FROM sc GROUP BY 1, 2),
         |vals AS (SELECT lang, xmu, CAST(count(*) AS BIGINT) AS c
         |  FROM sd GROUP BY 1, 2),
         |cum AS (SELECT lang, xmu, c,
         |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY xmu) AS BIGINT) AS cm
         |  FROM vals),
         |tt2 AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n
         |  FROM vals GROUP BY 1),
         |cuts AS (SELECT cum.lang,
         |    min(CASE WHEN cm * 3 >= n * 2 THEN xmu END) AS cut2
         |  FROM cum JOIN tt2 USING (lang) GROUP BY 1),
         |kept AS (SELECT sd.doc_id FROM sd JOIN cuts USING (lang)
         |  WHERE sd.xmu <= cuts.cut2),
         |caps AS MATERIALIZED (
         |  SELECT d.lang,
         |    CAST(sum(len(string_split(coalesce(d.text, ''), ' ')))
         |      AS BIGINT) AS s,
         |    CAST(sum(len(string_split(coalesce(d.text, ''), ' '))) * 2
         |      AS BIGINT) AS cap
         |  FROM kept JOIN documents d USING (doc_id) GROUP BY 1),
         |tot AS (SELECT CAST(sum(s) AS BIGINT) AS ts,
         |    CAST(count(*) AS BIGINT) AS n FROM caps),
         |grid AS (SELECT cap, CAST(count(*) AS BIGINT) AS c,
         |    CAST(sum(cap) AS BIGINT) AS sc2 FROM caps GROUP BY 1),
         |segs AS (
         |  SELECT CAST(sum(c) OVER (ORDER BY cap) AS BIGINT) AS k,
         |    CAST(sum(sc2) OVER (ORDER BY cap) AS BIGINT) AS p FROM grid
         |  UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
         |lvl AS (
         |  SELECT CAST(max((ts * 1 // 2 - p) // (n - k)) AS BIGINT) AS lvl
         |  FROM segs CROSS JOIN tot
         |  WHERE k < n AND ts * 1 // 2 >= p)
         |SELECT lang, s AS n_tokens, CAST(cap AS BIGINT) AS cap,
         |  CAST(least(cap, lvl) AS BIGINT) AS allocation,
         |  CAST(CAST((CAST(2 AS HUGEINT) * least(cap, lvl) * 1000000 + s)
         |    // (2 * s) AS BIGINT) AS DOUBLE) / 1e6 AS epochs
         |FROM caps CROSS JOIN lvl""".stripMargin,

    // Mirrors TextLm.knQuantAudit: the shared model chain's lp_mu value
    // grid, equal-frequency bins from strictly-smaller prefix counts,
    // HUGEINT half-up codebook means and corpus xent images, one row
    // per bit width.
    "q379_kn_quant_audit" ->
      s"""$knModelCte,
         |gv AS MATERIALIZED (
         |  SELECT lp_mu, CAST(count(*) AS BIGINT) AS tc,
         |    CAST(sum(c2) AS BIGINT) AS socc
         |  FROM model JOIN big USING (w1, w2) GROUP BY 1),
         |rk AS (SELECT lp_mu, tc, socc,
         |    CAST(sum(tc) OVER (ORDER BY lp_mu) - tc AS BIGINT) AS cb,
         |    -lp_mu AS m
         |  FROM gv),
         |tots AS (SELECT CAST(sum(tc) AS BIGINT) AS n_types,
         |    CAST(sum(socc) AS BIGINT) AS n_occ,
         |    CAST((2 * sum(CAST(socc AS HUGEINT) * (-lp_mu)) + sum(socc))
         |      // (2 * sum(socc)) AS BIGINT) AS xmu
         |  FROM gv),
         |bb AS (SELECT unnest([4, 8, 16]) AS bits),
         |bn AS (SELECT bits, cb * (1 << bits) // n_types AS bin,
         |    tc, socc, m
         |  FROM rk CROSS JOIN tots CROSS JOIN bb),
         |cd AS (SELECT bits, bin,
         |    CAST((2 * sum(CAST(tc AS HUGEINT) * m) + sum(tc))
         |      // (2 * sum(tc)) AS BIGINT) AS mq,
         |    CAST(sum(socc) AS BIGINT) AS bocc
         |  FROM bn GROUP BY 1, 2),
         |fin AS (SELECT bits, CAST(count(*) AS BIGINT) AS n_bins_used,
         |    CAST((2 * sum(CAST(bocc AS HUGEINT) * mq)
         |        + (SELECT n_occ FROM tots))
         |      // (2 * (SELECT n_occ FROM tots)) AS BIGINT) AS xqmu
         |  FROM cd GROUP BY 1)
         |SELECT CAST(bits AS BIGINT) AS bits, n_types, n_bins_used,
         |  CAST((n_types * bits + 7) // 8 AS BIGINT) AS prob_bytes,
         |  CAST(n_bins_used * 8 AS BIGINT) AS codebook_bytes,
         |  CAST(xmu AS DOUBLE) / 1e6 AS xent,
         |  CAST(xqmu AS DOUBLE) / 1e6 AS xent_q,
         |  CAST(xqmu - xmu AS DOUBLE) / 1e6 AS xent_delta
         |FROM fin CROSS JOIN tots""".stripMargin,

    // Mirrors TextDedup.gopherQualityRules: per-doc word aggregates,
    // symbol counts, bullet/ellipsis line flags on the 3-token tiles,
    // HUGEINT half-up ratios, pass decided on micro integers. Chain
    // shared with the q385 full-gate oracle.
    "q380_gopher_quality" ->
      s"""WITH $gopherQualityCte
         |SELECT doc_id, n_words,
         |  CAST(mwl AS DOUBLE) / 1e6 AS mean_word_len,
         |  CAST(sym AS DOUBLE) / 1e6 AS symbol_ratio,
         |  CAST(bul AS DOUBLE) / 1e6 AS bullet_line_frac,
         |  CAST(ell AS DOUBLE) / 1e6 AS ellipsis_line_frac,
         |  CAST(alf AS DOUBLE) / 1e6 AS alpha_word_frac,
         |  n_stopwords,
         |  CAST(CASE WHEN $gopherQualityPassSql THEN 1 ELSE 0 END AS BIGINT)
         |    AS pass
         |FROM r""".stripMargin,

    // Mirrors TextDedup.gopherFullGateFrom: the two shared census chains
    // joined per doc (gtoks/toks never clash), conjunction + per-source
    // roll-up with the HUGEINT half-up retention rate.
    "q385_gopher_full_gate" ->
      s"""WITH $gopherCensusCte,
         |$gopherQualityCte,
         |j AS (SELECT d.source,
         |    CASE WHEN $gopherPassSql THEN 1 ELSE 0 END AS rp,
         |    CASE WHEN $gopherQualityPassSql THEN 1 ELSE 0 END AS qp
         |  FROM mc JOIN r USING (doc_id)
         |  JOIN documents d USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(rp) AS BIGINT) AS n_pass_repetition,
         |  CAST(sum(qp) AS BIGINT) AS n_pass_quality,
         |  CAST(sum(rp * qp) AS BIGINT) AS n_pass_all,
         |  CAST(CAST((CAST(2 AS HUGEINT) * sum(rp * qp) * 1000000
         |    + count(*)) // (2 * count(*)) AS BIGINT) AS DOUBLE) / 1e6
         |    AS retention_rate
         |FROM j GROUP BY 1""".stripMargin,

    // Mirrors TextDedup.extractableMemorizationFrom: per k the md5(window)
    // prefix identity (the same window partition as Spark's native
    // fingerprints — the q300 hashed-identity precedent), following
    // token from the 1-based slice, fingerprint-keyed aggregate, one
    // census row per k, HUGEINT half-up extractable fraction.
    "q389_extractable_memorization" -> {
      val ks = Seq(5, 10, 20)
      val ctes = ks.map { k =>
        s"""bp$k AS (
           |  SELECT fp, CAST(count(*) AS BIGINT) AS occ,
           |    CAST(count(DISTINCT nxt) AS BIGINT) AS ncont
           |  FROM (SELECT md5(array_to_string(ts[i+1 : i+$k], ' ')) AS fp,
           |      ts[i+${k + 1}] AS nxt
           |    FROM toks, LATERAL (SELECT unnest(range(0, len(ts) - $k))
           |      AS i))
           |  GROUP BY 1),
           |c$k AS (SELECT CAST($k AS BIGINT) AS k,
           |    CAST(count(*) AS BIGINT) AS n_prefix_types,
           |    CAST(coalesce(sum(CASE WHEN ncont = 1 THEN 1 ELSE 0 END), 0)
           |      AS BIGINT) AS n_det_types,
           |    CAST(coalesce(sum(occ), 0) AS BIGINT) AS n_occ,
           |    CAST(coalesce(sum(CASE WHEN ncont = 1 THEN occ ELSE 0 END), 0)
           |      AS BIGINT) AS n_det_occ,
           |    CAST(coalesce(sum(CASE WHEN occ >= 2 THEN 1 ELSE 0 END), 0)
           |      AS BIGINT) AS n_rep_types,
           |    CAST(coalesce(sum(CASE WHEN occ >= 2 AND ncont = 1 THEN 1
           |      ELSE 0 END), 0) AS BIGINT) AS n_rep_det_types
           |  FROM bp$k)""".stripMargin
      }.mkString(",\n")
      val stack = ks.map(k => s"SELECT * FROM c$k").mkString(" UNION ALL ")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts
         |  FROM documents),
         |$ctes
         |SELECT k, n_prefix_types, n_det_types, n_occ, n_det_occ,
         |  n_rep_types, n_rep_det_types,
         |  CASE WHEN n_occ = 0 THEN 0.0 ELSE
         |    CAST(CAST((CAST(2 AS HUGEINT) * n_det_occ * 1000000 + n_occ)
         |      // (2 * n_occ) AS BIGINT) AS DOUBLE) / 1e6 END
         |    AS extractable_frac
         |FROM ($stack)""".stripMargin
    },

    // Mirrors TextDedup.dedupQualityInteractionFrom: the full pipeline
    // worklist chain (wl) + BOTH gopher census chains composed in one
    // WITH (gtoks/qtoks/toks and gm2/m2 disjoint by design — the
    // composition contract), conjunction per doc, per-(stage, pass)
    // counts and the HUGEINT half-up stage share.
    "q392_dedup_quality_interaction" ->
      (dedupPipelineCte + ",\n" + gopherCensusCte + ",\n" +
        gopherQualityCte + s""",
        |gp AS (SELECT mc.doc_id,
        |    CASE WHEN ($gopherPassSql) AND ($gopherQualityPassSql)
        |      THEN 1 ELSE 0 END AS gate_pass
        |  FROM mc JOIN r USING (doc_id)),
        |cells AS (SELECT wl.stage, gp.gate_pass,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM wl JOIN gp USING (doc_id) GROUP BY 1, 2),
        |tots AS (SELECT stage, CAST(sum(n_docs) AS BIGINT) AS tot
        |  FROM cells GROUP BY 1)
        |SELECT CAST(CASE stage WHEN 'exact' THEN 1 WHEN 'near_dup' THEN 2
        |    WHEN 'semantic' THEN 3 ELSE 4 END AS BIGINT) AS stage_order,
        |  stage, CAST(gate_pass AS BIGINT) AS gate_pass, n_docs,
        |  CAST(CAST((CAST(2 AS HUGEINT) * n_docs * 1000000 + tot)
        |    // (2 * tot) AS BIGINT) AS DOUBLE) / 1e6 AS stage_frac
        |FROM cells JOIN tots USING (stage)""".stripMargin),

    // Mirrors TextDedup.gopherXentAblationFrom: the shared census chain's
    // micro columns joined to the per-doc KN xmu off the SHARED
    // knModelCte (gopherCensusCte's tokenizer is named gtoks exactly so
    // the two chains compose in one WITH), one aggregate row, the
    // per-rule + 'all' stack, NULL-guarded means.
    "q381_gopher_xent_ablation" -> {
      val aggs = gopherRuleFailSql.map { case (i, _, fail) =>
        s"""CAST(sum(CASE WHEN NOT ($fail) THEN 1 ELSE 0 END) AS BIGINT)
           |      AS p$i,
           |    CAST(sum(CASE WHEN NOT ($fail) THEN xmu ELSE 0 END) AS BIGINT)
           |      AS sp$i,
           |    CAST(sum(CASE WHEN $fail THEN 1 ELSE 0 END) AS BIGINT) AS f$i,
           |    CAST(sum(CASE WHEN $fail THEN xmu ELSE 0 END) AS BIGINT)
           |      AS sf$i""".stripMargin
      }.mkString(",\n    ")
      val stack = gopherRuleFailSql.map { case (i, n, _) =>
        s"SELECT CAST($i AS BIGINT) AS rule_order, '$n' AS rule, " +
          s"p$i AS n_pass, f$i AS n_fail, sp$i AS sp, sf$i AS sf FROM a"
      }.mkString("\n  UNION ALL ")
      s"""$knModelCte,
         |$gopherCensusCte,
         |sdx AS (SELECT doc_id,
         |    CAST((2 * (-sum(occ * lp_mu)) + sum(occ))
         |      // (2 * sum(occ)) AS BIGINT) AS xmu
         |  FROM db JOIN model USING (w1, w2) GROUP BY 1),
         |jj AS (SELECT mc.*, sdx.xmu FROM mc JOIN sdx USING (doc_id)),
         |a AS (SELECT
         |    $aggs
         |  FROM jj),
         |s AS (
         |  $stack)
         |SELECT rule_order, rule, n_pass, n_fail,
         |  CASE WHEN n_pass = 0 THEN NULL ELSE
         |    round((CAST(sp AS DOUBLE) / 1e6) / CAST(n_pass AS DOUBLE), 6)
         |    END AS mean_xent_pass,
         |  CASE WHEN n_fail = 0 THEN NULL ELSE
         |    round((CAST(sf AS DOUBLE) / 1e6) / CAST(n_fail AS DOUBLE), 6)
         |    END AS mean_xent_fail
         |FROM s""".stripMargin
    },

    // Mirrors TextDedup.selfBleu: per-(doc, order 1..4) gram counts
    // joined to corpus gram totals, clipped by min(c, C - c), identical
    // fixed-order double precisions and the micro-rounded log (the q367
    // rounding convention; BP = 0 in log space against the pool).
    "q383_self_bleu" -> {
      val orders = (1 to 4).map { k =>
        val gramExpr =
          if (k == 1) "unnest(t) AS g"
          else s"array_to_string(t[i:i+${k - 1}], ' ') AS g"
        val from =
          if (k == 1) s"(SELECT doc_id, $gramExpr FROM toks)"
          else s"(SELECT doc_id, $gramExpr FROM toks, LATERAL " +
            s"(SELECT unnest(range(1, len(t) - ${k - 2})) AS i) " +
            s"WHERE len(t) >= $k)"
        s"""g$k AS MATERIALIZED (
           |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
           |  FROM $from GROUP BY 1, 2),
           |t$k AS (SELECT g, CAST(sum(c) AS BIGINT) AS cg
           |  FROM g$k GROUP BY 1),
           |m$k AS (SELECT doc_id,
           |    CAST(sum(least(c, cg - c)) AS BIGINT) AS m$k
           |  FROM g$k JOIN t$k USING (g) GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val ps = (1 to 4).map { k =>
        s"""CASE WHEN n >= $k THEN
           |      CAST(coalesce(m$k.m$k, 0) AS DOUBLE)
           |        / CAST(n - ${k - 1} AS DOUBLE) END AS p$k""".stripMargin
      }.mkString(",\n    ")
      val joins = (1 to 4).map(k => s"LEFT JOIN m$k USING (doc_id)")
        .mkString(" ")
      val lns = (1 to 4).map(k => s"ln(CASE WHEN p$k > 0 THEN p$k END)")
        .mkString("\n    + ")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
         |  FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM toks),
         |$orders,
         |p AS (SELECT lens.doc_id,
         |    $ps
         |  FROM lens $joins)
         |SELECT doc_id, p1, p2, p3, p4,
         |  CAST(CAST(round((0.25 * ($lns)) * 1e6) AS BIGINT)
         |    AS DOUBLE) / 1e6 AS log_selfbleu4
         |FROM p""".stripMargin
    },

    // Mirrors TextDedup.dupClusterCensus: the shared cluster lineage
    // grouped by component size + the singleton row (components are
    // always >= 2 docs, so size 1 never collides).
    "q382_dup_cluster_census" -> (clusterCte + """,
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id),
        |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM cl GROUP BY 1),
        |hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |  FROM cs GROUP BY 1),
        |sing AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
        |  CAST((SELECT count(*) FROM documents)
        |    - (SELECT count(*) FROM cl) AS BIGINT) AS n_clusters)
        |SELECT cluster_size, n_clusters,
        |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
        |FROM (SELECT * FROM hist UNION ALL SELECT * FROM sing)"""
      .stripMargin),

    // Mirrors TextLm.jmDeletedInterpolationFrom: train-side ML bigram +
    // add-one unigram components computed once per held-out TYPE, three
    // unrolled EM rounds, each a 1-row lambda CTE feeding a
    // micro-quantized posterior aggregate, xent under each round's
    // lambda.
    "q370_jm_lambda_em" -> {
      val h = ScaleQueries.duckHash60(
        "concat_ws('#', 'ho', CAST(doc_id AS VARCHAR))")
      val mix = "(CAST(lmu AS DOUBLE) / 1e6) * pb " +
        "+ (1.0 - CAST(lmu AS DOUBLE) / 1e6) * pu"
      val rounds = (1 to 3).map { r =>
        s"""l$r AS (SELECT CAST((2 * sum(occ * q_mu) + sum(occ))
           |    // (2 * sum(occ)) AS BIGINT) AS lmu
           |  FROM (SELECT occ,
           |      CAST(round(CASE WHEN pb = 0 THEN CAST(0 AS DOUBLE)
           |        ELSE ((CAST(lmu AS DOUBLE) / 1e6) * pb) / ($mix)
           |        END * 1e6) AS BIGINT) AS q_mu
           |    FROM sc, l${r - 1})),
           |r$r AS (SELECT CAST($r AS BIGINT) AS round,
           |    CAST(max(lmu) AS DOUBLE) / 1e6 AS lambda,
           |    CAST(sum(occ) AS BIGINT) AS n_bigrams,
           |    CAST(CAST(CASE WHEN sum(occ * lp_mu) IS NOT NULL THEN
           |      (2 * (-sum(occ * lp_mu)) + sum(occ)) // (2 * sum(occ))
           |      END AS BIGINT) AS DOUBLE) / 1e6 AS heldout_xent
           |  FROM (SELECT occ, lmu,
           |      CAST(round(ln(CASE WHEN ($mix) > 0 THEN ($mix) END)
           |       * 1e6) AS BIGINT) AS lp_mu
           |    FROM sc, l$r))""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (SELECT doc_id, ($h) < 144115188075855872 AS ho,
         |    string_split(text, ' ') AS t FROM documents),
         |pairs AS (
         |  SELECT doc_id, ho, t[i] AS w1, t[i+1] AS w2
         |  FROM base, LATERAL (SELECT unnest(range(1, len(t))) AS i)),
         |db AS MATERIALIZED (SELECT doc_id, ho, w1, w2,
         |    CAST(count(*) AS BIGINT) AS occ
         |  FROM pairs GROUP BY 1, 2, 3, 4),
         |big AS MATERIALIZED (
         |  SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c2
         |  FROM db WHERE NOT ho GROUP BY 1, 2),
         |hist AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1
         |  FROM big GROUP BY 1),
         |uni AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS cu
         |  FROM (SELECT unnest(t) AS w FROM base WHERE NOT ho) GROUP BY 1),
         |nvv AS (SELECT CAST(coalesce(sum(cu), 0) + count(*) AS BIGINT)
         |    AS nv FROM uni),
         |sc AS MATERIALIZED (SELECT hb.occ,
         |    CASE WHEN h1.c1 IS NULL THEN CAST(0 AS DOUBLE)
         |      ELSE CAST(coalesce(b.c2, 0) AS DOUBLE) / CAST(h1.c1 AS DOUBLE)
         |      END AS pb,
         |    CASE WHEN nvv.nv = 0 THEN NULL
         |      ELSE CAST(coalesce(u.cu, 0) + 1 AS DOUBLE)
         |        / CAST(nvv.nv AS DOUBLE)
         |      END AS pu
         |  FROM (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS occ
         |        FROM db WHERE ho GROUP BY 1, 2) hb
         |  LEFT JOIN big b ON b.w1 = hb.w1 AND b.w2 = hb.w2
         |  LEFT JOIN hist h1 ON h1.w1 = hb.w1
         |  LEFT JOIN uni u ON u.w = hb.w2
         |  CROSS JOIN nvv),
         |l0 AS (SELECT CAST(500000 AS BIGINT) AS lmu),
         |$rounds
         |SELECT * FROM r1 UNION ALL SELECT * FROM r2
         |UNION ALL SELECT * FROM r3""".stripMargin
    },

    // Mirrors Similarity.jlRecall: same md5-parity sign matrix, same
    // ascending-index projection folds, both exact top-5 rankings, the
    // q112 recall compare.
    "q373_jl_recall" -> {
      // grid columns are gi/gj, NOT i/j: duckHash60's fold lambda uses
      // i/a/x internally and would shadow same-named outer columns
      val sg = ScaleQueries.duckHash60(
        "'jl#' || CAST(gi AS VARCHAR) || '#' || CAST(gj AS VARCHAR)")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
         |  -- zero-length embeddings are excluded from BOTH rankings,
         |  -- mirroring Similarity.jlRecall's zero-norm guard
         |  FROM embeddings WHERE len(embedding) >= 1),
         |dd AS (SELECT max(len(emb)) AS d FROM e),
         |-- sign grid built RELATIONALLY (one hash per (i, j) row), not in
         |-- a nested lambda: duckHash60's own fold variable is also 'i'
         |-- and would shadow a comprehension's 'i' (it silently built a
         |-- constant matrix when first written that way)
         |sg0 AS (SELECT gi, gj,
         |    CASE WHEN ($sg) % 2 = 0 THEN CAST(1 AS DOUBLE)
         |      ELSE CAST(-1 AS DOUBLE) END AS s
         |  FROM (SELECT unnest(range(0, d)) AS gi FROM dd),
         |       (SELECT unnest(range(0, 16)) AS gj)),
         |smr AS (SELECT gj, list(s ORDER BY gi) AS srow
         |  FROM sg0 GROUP BY gj),
         |smx AS (SELECT list(srow ORDER BY gj) AS sm FROM smr),
         |n AS (SELECT vec_id, emb,
         |    sqrt(list_reduce(list_transform(emb, x -> x*x),
         |      (a,x) -> a+x)) AS nrm FROM e),
         |p AS (SELECT vec_id,
         |    [list_reduce(list_transform(range(1, len(emb)+1),
         |        i -> emb[i] * sm[j+1][i]), (a,x) -> a+x)
         |     for j in range(0, 16)] AS emb
         |  FROM e, smx),
         |pn AS (SELECT vec_id, emb,
         |    sqrt(list_reduce(list_transform(emb, x -> x*x),
         |      (a,x) -> a+x)) AS nrm FROM p),
         |xp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_reduce(list_transform(range(1, len(q.emb)+1),
         |      i -> q.emb[i]*c.emb[i]), (a,x) -> a+x) / (q.nrm * c.nrm)
         |      AS cos
         |  FROM n q, n c WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |      AS rnk FROM xp) WHERE rnk <= 5),
         |ap AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_reduce(list_transform(range(1, len(q.emb)+1),
         |      i -> q.emb[i]*c.emb[i]), (a,x) -> a+x) / (q.nrm * c.nrm)
         |      AS cos
         |  FROM pn q, pn c WHERE q.vec_id < 100 AND q.vec_id <> c.vec_id),
         |approx AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)
         |      AS rnk FROM ap) WHERE rnk <= 5),
         |hits AS (SELECT e2.query_id, CAST(count(*) AS BIGINT) AS n_hit
         |  FROM exact e2 JOIN approx a ON a.query_id = e2.query_id
         |    AND a.neighbor_id = e2.neighbor_id
         |  GROUP BY 1),
         |base AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM exact GROUP BY 1)
         |SELECT base.query_id, n_exact,
         |  CAST(coalesce(n_hit, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE)
         |    AS recall
         |FROM base LEFT JOIN hits ON hits.query_id = base.query_id"""
        .stripMargin
    },

    // Mirrors TextLm.minKppProbFrom: pico-quantized per-row moment terms
    // summed as BIGINTs, per-history mu/sigma from the grid-minus-
    // observed closed form, z-scored types, the q354 bottom-k take.
    "q371_minkpp_prob" -> {
      val pc = "CAST(nc + 1 AS DOUBLE) / CAST(t_types + v AS DOUBLE)"
      val pf = "CAST((4 * c2 - 3) * (t_types + v) + 3 * n1p * (nc + 1)" +
        " AS DOUBLE) / CAST(4 * c1 * (t_types + v) AS DOUBLE)"
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |db AS MATERIALIZED (
         |  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS occ FROM (
         |    SELECT doc_id, unnest(t[1:len(t)-1]) AS w1,
         |      unnest(t[2:len(t)]) AS w2 FROM toks)
         |  GROUP BY 1, 2, 3),
         |big AS MATERIALIZED (
         |  SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c2
         |  FROM db GROUP BY 1, 2),
         |hist AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS n1p FROM big GROUP BY 1),
         |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nc
         |  FROM big GROUP BY 1),
         |vocab AS MATERIALIZED (
         |  SELECT w, CAST(coalesce(nc, 0) AS BIGINT) AS nc
         |  FROM (SELECT DISTINCT unnest(t) AS w FROM toks) vs
         |  LEFT JOIN cont ON cont.w2 = vs.w),
         |tv AS (SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM big) AS t_types,
         |    (SELECT CAST(count(*) AS BIGINT) FROM vocab) AS v),
         |gmom AS (SELECT CAST(sum(g0r) AS BIGINT) AS g0,
         |    CAST(sum(g1r) AS BIGINT) AS g1,
         |    CAST(sum(g2r) AS BIGINT) AS g2
         |  FROM (SELECT
         |      CAST(round(CAST(gcnt AS DOUBLE) * ($pc) * 1e12) AS BIGINT)
         |        AS g0r,
         |      CAST(round(CAST(gcnt AS DOUBLE) * ($pc) * ln($pc) * 1e12)
         |        AS BIGINT) AS g1r,
         |      CAST(round(CAST(gcnt AS DOUBLE) * ($pc) * ln($pc) * ln($pc)
         |        * 1e12) AS BIGINT) AS g2r
         |    FROM (SELECT nc, CAST(count(*) AS BIGINT) AS gcnt
         |          FROM vocab GROUP BY 1), tv)),
         |obs AS (SELECT w1, CAST(sum(a1r) AS BIGINT) AS a1,
         |    CAST(sum(a2r) AS BIGINT) AS a2,
         |    CAST(sum(b0r) AS BIGINT) AS b0,
         |    CAST(sum(b1r) AS BIGINT) AS b1,
         |    CAST(sum(b2r) AS BIGINT) AS b2
         |  FROM (SELECT w1,
         |      CAST(round(($pf) * ln($pf) * 1e12) AS BIGINT) AS a1r,
         |      CAST(round(($pf) * ln($pf) * ln($pf) * 1e12) AS BIGINT)
         |        AS a2r,
         |      CAST(round(($pc) * 1e12) AS BIGINT) AS b0r,
         |      CAST(round(($pc) * ln($pc) * 1e12) AS BIGINT) AS b1r,
         |      CAST(round(($pc) * ln($pc) * ln($pc) * 1e12) AS BIGINT)
         |        AS b2r
         |    FROM big JOIN hist USING (w1) JOIN cont USING (w2), tv)
         |  GROUP BY 1),
         |hstats AS (
         |  SELECT w1, mu_h,
         |    sqrt(greatest(CAST(a2 AS DOUBLE) / 1e12 + lam * (ln(lam) * ln(lam)
         |     * (CAST(g0 - b0 AS DOUBLE) / 1e12)
         |     + 2 * ln(lam) * (CAST(g1 - b1 AS DOUBLE) / 1e12)
         |     + CAST(g2 - b2 AS DOUBLE) / 1e12) - mu_h * mu_h, 0)) AS sg_h
         |  FROM (
         |    SELECT w1, a2, b0, b1, b2, g0, g1, g2, lam,
         |      CAST(a1 AS DOUBLE) / 1e12 + lam * (ln(lam)
         |       * (CAST(g0 - b0 AS DOUBLE) / 1e12)
         |       + CAST(g1 - b1 AS DOUBLE) / 1e12) AS mu_h
         |    FROM (SELECT h.w1, o.a1, o.a2, o.b0, o.b1, o.b2,
         |        g.g0, g.g1, g.g2,
         |        CAST(3 * h.n1p AS DOUBLE) / CAST(4 * h.c1 AS DOUBLE) AS lam
         |      FROM hist h JOIN obs o USING (w1), gmom g))),
         |sc AS MATERIALIZED (
         |  SELECT b.w1, b.w2,
         |    CASE WHEN hs.sg_h > 0 THEN
         |      CAST(round((ln($pf) - hs.mu_h) / hs.sg_h * 1e6) AS BIGINT)
         |      END AS z_mu
         |  FROM big b JOIN hist USING (w1) JOIN cont USING (w2)
         |  CROSS JOIN tv JOIN hstats hs ON hs.w1 = b.w1),
         |ex AS (SELECT doc_id, z_mu FROM (
         |    SELECT db.doc_id, s.z_mu, unnest(generate_series(1, db.occ)) AS i
         |    FROM db JOIN sc s USING (w1, w2) WHERE s.z_mu IS NOT NULL)),
         |mm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS m
         |  FROM ex GROUP BY 1),
         |rk AS (SELECT doc_id, z_mu,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY z_mu) AS rn
         |  FROM ex)
         |SELECT rk.doc_id, mm.m AS n_bigrams,
         |  CAST(CAST(CASE WHEN sum(z_mu) >= 0
         |    THEN (2 * sum(z_mu) + count(*)) // (2 * count(*))
         |    ELSE -((2 * (-sum(z_mu)) + count(*)) // (2 * count(*)))
         |    END AS BIGINT) AS DOUBLE) / 1e6 AS minkpp
         |FROM rk JOIN mm USING (doc_id)
         |WHERE rn <= (m * 1 + 4) // 5
         |GROUP BY 1, 2""".stripMargin
    },

    // Mirrors Similarity.prototypicalityBandFrom: the shared semAssignCte
    // (assignment + final centroids c2), cos-to-own-centroid quantized
    // once, per-cluster quartile cuts over the (cid, cmu) grid, band
    // aggregate.
    "q362_proto_band" ->
      s"""WITH $semAssignCte,
         |sc AS MATERIALIZED (
         |  SELECT cid, vec_id,
         |    CAST(round(1e6 * dp / (nrm * cnrm)) AS BIGINT) AS cmu
         |  FROM (
         |    SELECT a.cid, a.vec_id, a.nrm,
         |      list_reduce(list_transform(range(1, len(a.emb)+1),
         |        i -> a.emb[i] * c.c_emb[i]), (s0, x0) -> s0 + x0) AS dp,
         |      sqrt(list_reduce(list_transform(c.c_emb, x -> x*x),
         |        (s0, x0) -> s0 + x0)) AS cnrm
         |    FROM assign a JOIN c2 c USING (cid))
         |  WHERE nrm > 0 AND cnrm > 0),
         |vals AS MATERIALIZED (
         |  SELECT cid, cmu, CAST(count(*) AS BIGINT) AS c
         |  FROM sc GROUP BY 1, 2),
         |cum AS (SELECT cid, cmu, c,
         |    CAST(sum(c) OVER (PARTITION BY cid ORDER BY cmu) AS BIGINT) AS cm
         |  FROM vals),
         |tt AS (SELECT cid, CAST(sum(c) AS BIGINT) AS n FROM vals GROUP BY 1),
         |cuts AS (SELECT cum.cid,
         |    min(CASE WHEN cm * 4 >= n * 1 THEN cmu END) AS cut1,
         |    min(CASE WHEN cm * 4 >= n * 3 THEN cmu END) AS cut2
         |  FROM cum JOIN tt USING (cid) GROUP BY 1),
         |b AS (SELECT sc.cid, sc.cmu,
         |    CASE WHEN sc.cmu <= cuts.cut1 THEN 'outlier_drop'
         |         WHEN sc.cmu <= cuts.cut2 THEN 'kept'
         |         ELSE 'proto_drop' END AS band
         |  FROM sc JOIN cuts USING (cid))
         |SELECT cid, band, CAST(count(*) AS BIGINT) AS n_vecs,
         |  round((CAST(sum(cmu) AS DOUBLE) / 1e6)
         |    / CAST(count(*) AS DOUBLE), 6) AS mean_cos
         |FROM b GROUP BY 1, 2""".stripMargin
  )
}
