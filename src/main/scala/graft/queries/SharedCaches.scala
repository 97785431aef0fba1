package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry of the SESSION-SHARED persisted intermediates — the
  * [[SharedCache]]s that deliberately survive
  * [[graft.operators.CacheScope.drain]] because several queries consume one
  * expensive build (the production shape: one candidate graph feeds every
  * dedup consumer).
  *
  * Why a registry: per-query bench times must not depend on RUN ORDER.
  * Before this existed, whichever consumer ran first paid the whole build
  * (q221 17.4 s vs 0.12 s warmed; q213, q291 likewise across rounds) and
  * the round bench minted a false "spike" that cost an adjudication cycle
  * each time. `graft.Bench` now pre-materializes every entry here before
  * the timed pass and reports the build cost as its own summary line, so
  * consumers always measure steady-state cost. Queries stay standalone in
  * SEMANTICS: each cache memoizes per (session, sf dir), and specs
  * (SharedFormsSpec and its siblings) compare each consumer's cached
  * frame against the same `*From` operator run on a fresh build of its
  * input.
  *
  * Adding a shared cache without registering it here re-opens the
  * order-attribution hole — BenchCacheSpec asserts the registry covers
  * every SharedCache of the query modules.
  */
object SharedCaches {

  /** name -> builder returning the session-shared persisted frame, in
    * Bench's build order: each cache comes after the caches it DECLARES
    * as deps ([[SharedCache.dependencyOrder]], stable over the list
    * below), so each breakdown line prices exactly its own build. A twin
    * contributes both names, first then second: the first's line prices
    * the one build, the second's only materializing its own frame. A
    * cache whose build reads another must declare it — BenchCacheSpec
    * builds each cache alone and checks that it installs exactly its
    * declared dependency closure. */
  val builders: Seq[(String, (SparkSession, String) => DataFrame)] =
    SharedCache.dependencyOrder(Seq(
      LlmQueries.nearDupPairs,
      LlmQueries.ngramPairs,
      LlmQueries.winnowPairs,
      MlQueries.ppjoinPairsShared,
      InferQueries.brandLift,
      // the q142 Lloyd pair: sem_cents prices the Lloyd training,
      // sem_assign the broadcast assignment on top
      LlmQueries.semFrames,
      LlmQueries.dedupWorklist,
      LlmQueries.knDocBigrams,
      LlmQueries.knModelShared,
      LlmQueries.langKnScored,
      LlmQueries.softDedupWeightsShared,
      // exact-substring shelf: the l=20 run inventory (q300/q377/q384/
      // q391/q398), then the per-doc dedup frame built from it
      ScaleQueries.exactRunsShared,
      ScaleQueries.exactSubstrDocShared,
      // per-k memorization window inventories (q389/q393/q397 + q395's
      // leg): ONE corpus pass mints the multi-k parent; the per-k children
      // filter+persist it, so their lines price the cheap copy
      LlmQueries.memWindowsAllShared,
      LlmQueries.memWindows5Shared,
      LlmQueries.memWindows10Shared,
      LlmQueries.memWindows20Shared,
      LlmQueries.gopherMicroShared,
      LlmQueries.gopherQualityShared,
      // the tokenizer shelf: one corpus word scan (tok_word_seed), then
      // the three trainer families
      LlmQueries.tokSeedShared,
      LlmQueries.bpeTrained,
      LlmQueries.wpTrained,
      LlmQueries.unigramDpShared)).flatMap(_.entries)
}
