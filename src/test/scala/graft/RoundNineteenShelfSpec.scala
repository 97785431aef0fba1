package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 shelf: per-document memorization risk, soft-weighted
  * data-constrained allocation (q388 × q386), the corpus data card v2,
  * the tokenizer shared caches (shared == standalone pins), and the
  * cross-snapshot incremental exact-substring dedup.
  */
class RoundNineteenShelfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("memorizationRisk: hand-computed fractions; planted copy outranks") {
    // doc1/doc2 share a 3-token prefix window with the SAME continuation
    // (risky) and a 3-token window with DIVERGING continuations (not);
    // doc3/doc4 are verbatim copies — every window repeated-and-
    // deterministic; doc5 is unique (risk 0); doc6 too short for any
    // window+continuation (no row).
    val docs = Seq(
      (1L, "x1 x2 x3 x4 x5"),
      (2L, "x1 x2 x3 x4 y5"),
      (3L, "z1 z2 z3 z4 z5"),
      (4L, "z1 z2 z3 z4 z5"),
      (5L, "u1 u2 u3 u4 u5"),
      (6L, "v1 v2 v3")).toDF("doc_id", "text")
    val td = graft.operators.TextDedup
    val out = td.memorizationRiskFrom(
        td.memWindowInventory(docs, "doc_id", "text", k = 3))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    graft.operators.CacheScope.drain()
    assert(out(1L) == ((2L, 1L, 0.5)), "prefix det, suffix diverges")
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 2L, 1.0)), "verbatim copy: all windows risky")
    assert(out(4L) == ((2L, 2L, 1.0)))
    assert(out(5L) == ((2L, 0L, 0.0)), "unique doc: nothing repeated")
    assert(!out.contains(6L), "no k+1-token window -> no row")
    // the drill-down's point: the planted memorized docs OUTRANK the
    // partially-shared and unique ones
    assert(out(3L)._3 > out(1L)._3 && out(1L)._3 > out(5L)._3)
  }

  test("memorizationRiskBySource: per-source roll-up, exact majority high-risk rule") {
    // source A: a verbatim pair (risk 1.0 each, high) + a unique doc
    // (risk 0, not high); source B: the q393 prefix-shared pair (risk
    // 0.5 each — exactly half IS high under the >= majority rule, the
    // boundary this fixture pins) + a sub-k doc (no row, excluded from
    // n_docs).
    val docs = Seq(
      (1L, "A", "z1 z2 z3 z4 z5"),
      (2L, "A", "z1 z2 z3 z4 z5"),
      (3L, "A", "u1 u2 u3 u4 u5"),
      (4L, "B", "x1 x2 x3 x4 x5"),
      (5L, "B", "x1 x2 x3 x4 y5"),
      (6L, "B", "v1 v2 v3")).toDF("doc_id", "src", "text")
    val td = graft.operators.TextDedup
    val out = td.memorizationRiskBySourceFrom(
        Seq(3 -> td.memWindowInventory(docs, "doc_id", "text", 3)),
        docs.select(col("doc_id"), col("src").as("source")))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getLong(6)))).toMap
    graft.operators.CacheScope.drain()
    // A: docs 1/2 fully risky (2 windows each), doc 3 clean ->
    // pooled 4/6 = half-up 0.666667, 2 high-risk docs
    assert(out((3L, "A")) == ((3L, 6L, 4L, 0.666667, 2L)))
    // B: each of docs 4/5 has 1 risky of 2 windows -> pooled 0.5 and
    // BOTH high under >= (2*1 >= 2*1); doc 6 carries no window
    assert(out((3L, "B")) == ((2L, 4L, 2L, 0.5, 2L)))
  }

  test("softWeightedMix: weights shift the allocation vs the raw q386 mix") {
    def toks(p: String, k: Int) = (1 to k).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, "A", toks("a", 10)),
      (2L, "B", toks("b", 10)),
      (3L, "C", toks("c", 10))).toDF("doc_id", "src", "text")
    // injected weights (the q388 contract): A upweighted 2x, B down to
    // 0.5, C zeroed -> soft masses 20 / 5 / 0 (C excluded, q391 guard)
    val w = Seq((1L, 2.0), (2L, 0.5), (3L, 0.0))
      .toDF("doc_id", "loss_weight")
    val out = graft.operators.Scale.softWeightedMix(
        docs, "doc_id", "src", "text", w)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getLong(6)))).toMap
    graft.operators.CacheScope.drain()
    assert(!out.contains("C"), "zero soft mass excluded (q391 guard)")
    // waterfill on (20, 5): budget 2x25 = 50, caps 80/20 -> level 30
    // (k=1 segment (50-20)/1) -> A 30, B capped 20
    assert(out("A")._1 == 10L && out("A")._2 == 20L, "raw vs soft mass")
    assert(out("B")._1 == 10L && out("B")._2 == 5L)
    assert(out("A")._4 == 30L && out("B")._4 == 20L, "allocations")
    assert(out("A")._5 == 1.5 && out("B")._5 == 4.0, "epochs on soft mass")
    // effective tokens from the shared grid: A = 20 full + 10 at δ2;
    // B = 4 full epochs of 5
    val g = graft.operators.Scale.muennighoffGrid
    val dmuA = 20L * g(1)._2 + 10L * g(1)._3
    val dmuB = 5L * g(4)._2
    assert(out("A")._6 == (2 * dmuA + 1000000L) / 2000000L)
    assert(out("B")._6 == (2 * dmuB + 1000000L) / 2000000L)
    // the contrast with the UNWEIGHTED mix: raw masses are equal, so
    // q386 splits evenly — the weights are what moved the allocation
    val raw = graft.operators.Scale.dataConstrainedMix(
        docs, "src", "text")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    graft.operators.CacheScope.drain()
    assert(raw("A") == raw("B") && raw("B") == raw("C"))
    assert(out("A")._4 != out("B")._4, "weights shifted the allocation")
  }

  test("corpus card v2: column-by-column replay of the constituent queries") {
    val q = SparkEntry.queries
    val card = q("q395_corpus_card_v2")(spark, sf).collect()
    assert(card.length == 1)
    val r = card(0)
    def hu(num: Long, den: Long): Double =
      ((2 * num * 1000000L + den) / (2 * den)).toDouble / 1e6
    // gopher retention == the q385 per-source gate rolled corpus-level
    val gate = q("q385_gopher_full_gate")(spark, sf)
      .agg(sum(col("n_docs")), sum(col("n_pass_all"))).collect()(0)
    assert(r.getLong(0) == gate.getLong(0), "n_docs")
    assert(r.getDouble(1) == hu(gate.getLong(1), gate.getLong(0)),
      "gopher_retention")
    // dedup attrition == the q346 funnel's total removals
    val fun = q("q346_dedup_funnel")(spark, sf)
      .agg(sum(col("docs_removed")), max(col("docs_in"))).collect()(0)
    assert(r.getDouble(2) == hu(fun.getLong(0), gate.getLong(0)),
      "dedup_removed_frac")
    assert(fun.getLong(1) == gate.getLong(0),
      "funnel docs_in == corpus size")
    // extractable fraction == the q389 census row at k = 10
    val ex = q("q389_extractable_memorization")(spark, sf)
      .where(col("k") === 10L).select(col("extractable_frac"))
      .collect()(0).getDouble(0)
    assert(r.getDouble(3) == ex, "extractable_frac_k10")
    // effective epochs == q386's eff_tokens / n_tokens corpus roll-up
    val eff = q("q386_data_constrained_mix")(spark, sf)
      .agg(sum(col("eff_tokens")), sum(col("n_tokens"))).collect()(0)
    assert(r.getDouble(4) == hu(eff.getLong(0), eff.getLong(1)),
      "eff_epochs")
    // bpe fertility == q390's bpe rows rolled corpus-level
    val f = q("q390_tokenizer_census")(spark, sf)
      .where(col("tokenizer") === "bpe")
      .agg(sum(col("n_pieces")), sum(col("n_words"))).collect()(0)
    assert(r.getDouble(5) == hu(f.getLong(0), f.getLong(1)),
      "bpe_fertility")
    graft.operators.CacheScope.drain()
  }

  test("allocationAblation: column-by-column replay of the three constituent mixes") {
    val q = SparkEntry.queries
    def bySrc(df: org.apache.spark.sql.DataFrame,
              cols: Seq[String]): Map[String, Seq[Any]] =
      df.collect().map(r => r.getString(r.fieldIndex("source")) ->
        cols.map(c => r.get(r.fieldIndex(c)))).toMap
    val abl = bySrc(q("q398_allocation_ablation")(spark, sf),
      Seq("n_tokens", "alloc_raw", "eff_epochs_raw", "unique_tokens",
        "alloc_dedup", "eff_epochs_dedup", "soft_tokens", "alloc_soft",
        "eff_epochs_soft"))
    val raw = bySrc(q("q386_data_constrained_mix")(spark, sf),
      Seq("n_tokens", "allocation", "eff_epochs"))
    val ded = bySrc(q("q391_dedup_aware_mix")(spark, sf),
      Seq("n_tokens", "allocation", "eff_epochs"))
    val soft = bySrc(q("q394_soft_weighted_mix")(spark, sf),
      Seq("n_tokens", "allocation", "eff_epochs"))
    graft.operators.CacheScope.drain()
    assert(abl.keySet == raw.keySet, "raw path is the spine")
    raw.foreach { case (s, v) => assert(abl(s).take(3) == v, s"raw $s") }
    ded.foreach { case (s, v) =>
      assert(abl(s).slice(3, 6) == v, s"dedup $s") }
    soft.foreach { case (s, v) =>
      assert(abl(s).slice(6, 9) == v, s"soft $s") }
    // a source excluded by a discount path carries NULLs there
    (abl.keySet -- ded.keySet).foreach(s =>
      assert(abl(s).slice(3, 6).forall(_ == null)))
    (abl.keySet -- soft.keySet).foreach(s =>
      assert(abl(s).slice(6, 9).forall(_ == null)))
  }

  test("tokenizer shared caches == standalone operators (the fixed recipe)") {
    val docs = Graft.table(spark, sf, "documents")
    val q = SparkEntry.queries
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    // the fixed recipe trained fresh: BPE and WordPiece at 10 merges over
    // a word-type seed, the unigram DP over a direct (w, freq) count of
    // the 1..16-char words
    val tp = graft.operators.TextPrep
    val seed = tp.seedWordTypesPlan(docs, "text")
    val (bpeMerges, bpeDict) = tp.bpeMergeLoopFrom(seed, merges = 10)
    val (wpMerges, wpDict) = tp.wordpieceMergeLoopFrom(seed, merges = 10)
    val ugDp = tp.unigramDpFrom(
      docs.select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0 && length(col("w")) <= 16)
        .groupBy(col("w")).agg(count(lit(1)).as("freq")),
      maxPieceLen = 4, maxWordLen = 16)
    // q331/q357: shared merge tables == freshly trained merge tables
    assert(rows(q("q331_bpe_train")(spark, sf)) == rows(bpeMerges))
    assert(rows(q("q357_wordpiece_train")(spark, sf)) == rows(wpMerges))
    // q334/q358: shared-dict encodes == fresh train->apply
    assert(rows(q("q334_bpe_encode")(spark, sf)) ==
      rows(tp.encodeFromDict(docs, "doc_id", "text", bpeDict)))
    assert(rows(q("q358_wordpiece_encode")(spark, sf)) ==
      rows(tp.encodeFromDict(docs, "doc_id", "text", wpDict)))
    // q350/q352/q353: shared-DP forms == fresh unigram chain
    assert(rows(q("q350_unigram_lm_em")(spark, sf)) ==
      rows(tp.unigramLmTrainStepFrom(ugDp)))
    assert(rows(q("q352_unigram_fertility")(spark, sf)) ==
      rows(tp.unigramLmFertilityFrom(ugDp, docs, "text", "source",
        maxWordLen = 16)))
    assert(rows(q("q353_unigram_prune")(spark, sf)) ==
      rows(tp.unigramLmPruneFrom(ugDp, keepNum = 1, keepDen = 2)))
    // q390: shared-dict census == fresh-dict census
    assert(rows(q("q390_tokenizer_census")(spark, sf)) ==
      rows(tp.tokenizerCompressionCensusFrom(docs, "text", "source",
        bpeDict, wpDict, ugDp)))
    graft.operators.CacheScope.drain()
  }

  test("snapshotSubstrDedup (batch form): store hit removed, intra-snapshot later doc removed") {
    def toks(p: String, k: Int) = (1 to k).map(i => s"$p$i").mkString(" ")
    def md5(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val old = Seq((2L, toks("a", 25))).toDF("doc_id", "text")
    val nw = Seq(
      (1L, toks("a", 25)),      // re-crawl of the old doc -> removed
      (3L, toks("c", 25)),      // novel -> kept
      (5L, toks("d", 25)),      // intra-snapshot pair: min id keeps...
      (7L, toks("d", 25)),      // ...later id removed
      (9L, "short doc")).toDF("doc_id", "text")
    val out = graft.operators.TextDedup
      .snapshotSubstrDedup(nw, old, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    graft.operators.CacheScope.drain()
    assert(out(1L) == ((25L, 25L, md5(""))), "store hit fully removed")
    assert(out(3L) == ((25L, 0L, md5(toks("c", 25)))), "novel kept")
    assert(out(5L) == ((25L, 0L, md5(toks("d", 25)))), "anchor keeps")
    assert(out(7L) == ((25L, 25L, md5(""))), "later intra copy removed")
    assert(out(9L) == ((2L, 0L, md5("short doc"))), "sub-l doc verbatim")
  }

  test("crossSnapshotSubstrDedup: novel kept, re-crawl rejected, replay appends nothing") {
    import graft.streaming.CrossSnapshotSubstrDedup
    val dir = java.nio.file.Files
      .createTempDirectory("xsnap").toString
    val store = s"$dir/store"
    def toks(p: String, k: Int) = (1 to k).map(i => s"$p$i").mkString(" ")
    // snapshot 1: two novel 25-token docs + an intra-batch verbatim pair
    // (doc 12 copies doc 11 -> later doc loses its tokens)
    val b1 = Seq(
      (10L, toks("a", 25)),
      (11L, toks("b", 25)),
      (12L, toks("b", 25)),
      (13L, "tiny doc under l")).toDF("doc_id", "text")
    val o1 = CrossSnapshotSubstrDedup.processBatch(b1, store)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(o1(10L) == ((25L, 0L, toks("a", 25))), "novel doc kept verbatim")
    assert(o1(11L)._2 == 0L, "intra-batch anchor (min id) keeps its copy")
    assert(o1(12L) == ((25L, 25L, "")), "intra-batch later copy removed")
    assert(o1(13L)._2 == 0L, "short doc carries no window: kept")
    val stored1 = spark.read.parquet(store).count()
    assert(stored1 == 6L + 6L, "25-token docs mint 6 windows each; " +
      "doc 12's fingerprints are doc 11's — deduped in the store")
    // snapshot 2: a re-crawl of doc 10's text + one novel doc
    val b2 = Seq(
      (20L, toks("a", 25)),
      (21L, toks("c", 25))).toDF("doc_id", "text")
    val o2 = CrossSnapshotSubstrDedup.processBatch(b2, store)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(o2(20L) == ((25L, 25L, "")), "re-crawl fully rejected")
    assert(o2(21L) == ((25L, 0L, toks("c", 25))), "novel doc kept")
    val stored2 = spark.read.parquet(store).count()
    assert(stored2 == stored1 + 6L, "store grew by the novel doc only")
    // replay snapshot 2 (failure between append and checkpoint commit):
    // the store's content is the guard — nothing appended
    val o3 = CrossSnapshotSubstrDedup.processBatch(b2, store)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(spark.read.parquet(store).count() == stored2,
      "replay appends nothing")
    assert(o3(20L) == 25L && o3(21L) == 25L,
      "replayed batch is fully covered by the store")
  }
}
