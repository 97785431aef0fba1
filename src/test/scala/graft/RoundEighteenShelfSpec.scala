package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 shelf: data-constrained scaling allocation (Muennighoff
  * value decay over the UniMax waterfill), semantic decontamination,
  * SoftDeDup commonness weights, the extractable-memorization census
  * and the per-source tokenizer compression report — each pinned on
  * hand-computed or formula-replay fixtures.
  */
class RoundEighteenShelfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("muennighoffGrid: paper formula replay, monotone decay, telescoping") {
    val g = graft.operators.Scale.muennighoffGrid
    assert(g.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(g(0) == ((0L, 0L, 1000000L)), "epoch 1 = fresh tokens at value 1")
    // independent replay of the paper's D'(R) = U·(1 + R*(1 − e^{−R/R*}))
    def d(e: Int): Long =
      if (e <= 1) 1000000L
      else math.round(1e6 * 15.4 *
        (math.exp(-(e - 2) / 15.4) - math.exp(-(e - 1) / 15.4)))
    assert(g.map(_._3) == (1 to 5).map(d))
    assert(g.map(_._2) == (0 to 4).map(j => (1 to j).map(d).sum))
    // decay is strictly monotone and the 2nd epoch is worth ~96.8%
    val deltas = g.map(_._3)
    assert(deltas.zip(deltas.tail).forall { case (a, b) => a > b })
    assert(deltas(1) > 967000L && deltas(1) < 969000L)
  }

  test("dataConstrainedMix: hand-checked waterfill + decayed effective tokens") {
    // A = 10 tokens, B = 30; budget = 2x40 = 80, caps 40/120 ->
    // L* = 40 (k=0 candidate 80/2; k=1 candidate (80-40)/1) ->
    // allocations 40/40, epochs 4.0 and 1.333333
    def toks(p: String, k: Int) = (1 to k).map(i => s"$p$i").mkString(" ")
    val docs = Seq((1L, "A", toks("a", 10)), (2L, "B", toks("b", 30)))
      .toDF("doc_id", "src", "text")
    val out = graft.operators.Scale.dataConstrainedMix(
        docs, "src", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getLong(5), r.getDouble(6), r.getDouble(7)))).toMap
    graft.operators.CacheScope.drain()
    val g = graft.operators.Scale.muennighoffGrid.map(_._3)
    // A: m = 4 full epochs, no fraction -> D'mu = 10 * (δ1+δ2+δ3+δ4)
    val dmuA = 10L * g.take(4).sum
    val effTokA = (2 * dmuA + 1000000L) / 2000000L
    val effEpA = ((2 * dmuA + 10L) / 20L).toDouble / 1e6
    val effcA = ((2 * dmuA + 40L) / 80L).toDouble / 1e6
    assert(out("A") == ((10L, 40L, 40L, 4.0, effTokA, effEpA, effcA)))
    // B: m = 1 (30 fresh) + 10 tokens of epoch 2 at δ2
    val dmuB = 30L * 1000000L + 10L * g(1)
    val effTokB = (2 * dmuB + 1000000L) / 2000000L
    val effEpB = ((2 * dmuB + 30L) / 60L).toDouble / 1e6
    val effcB = ((2 * dmuB + 40L) / 80L).toDouble / 1e6
    assert(out("B") == ((30L, 120L, 40L, 1.333333, effTokB, effEpB, effcB)))
    // sanity: repeats strictly discount (A repeated 4x, B only 1.33x)
    assert(out("A")._7 < out("B")._7 && out("B")._7 < 1.0)
  }

  test("semanticDecontam: planted near-eval train vector dropped, zero-norm kept") {
    // one cell (nlist = 1 -> seed = vec_id 0, the q50/q142 seed rule);
    // eval = {100: [1,0], 101: [-1,-1]}.
    // train 0 [3,4]: cos to eval 100 = 3/5 = 0.6 >= 0.5 -> dropped,
    // (cos to eval 101 negative); train 1 [0,1]: cos 0 / -0.707 -> kept;
    // train 2 [0,0]: zero norm, excluded from every compare -> kept.
    val emb = Seq(
      (0L, Seq(3.0, 4.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(0.0, 0.0)),
      (100L, Seq(1.0, 0.0)), (101L, Seq(-1.0, -1.0)))
      .toDF("vec_id", "embedding")
    val sim = graft.operators.Similarity
    val out = sim.semanticDecontamFrom(
        sim.semAssignmentFrames(emb, "vec_id", "embedding", nlist = 1,
          lloydIters = 1)._1,
        "vec_id", col("vec_id") >= 100L, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getLong(4)))).toMap
    graft.operators.CacheScope.drain()
    assert(out.keySet == Set(0L, 1L, 2L), "eval rows are not train output")
    assert(out(0L) == ((1L, Some(0.6), 0L)), "planted paraphrase caught")
    assert(out(1L) == ((0L, None, 1L)))
    assert(out(2L) == ((0L, None, 1L)), "zero-norm excluded, kept")
  }

  private def halfUp(num: Long, den: Long): Long = (2 * num + den) / (2 * den)

  test("softDedupWeights: rarity replay, mean-normalized weights") {
    // corpus bigram types: (a,b) x3, (c,d) x1 -> T = 4.
    // lp(a b) = ln(3/4), lp(c d) = ln(1/4) in micro-nats.
    val docBig = Seq((1L, "a", "b", 2L), (2L, "a", "b", 1L), (2L, "c", "d", 1L))
      .toDF("doc_id", "w1", "w2", "occ")
    val out = graft.operators.TextLm.softDedupWeights(docBig, "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val lpAB = math.round(math.log(3.0 / 4.0) * 1e6)
    val lpCD = math.round(math.log(1.0 / 4.0) * 1e6)
    val r1 = halfUp(2 * -lpAB, 2)                 // doc 1: both occ on (a,b)
    val r2 = halfUp(-lpAB - lpCD, 2)              // doc 2: one of each
    val mmu = halfUp(r1 + r2, 2)
    assert(out(1L) == ((2L, r1.toDouble / 1e6,
      halfUp(r1 * 1000000L, mmu).toDouble / 1e6)))
    assert(out(2L) == ((2L, r2.toDouble / 1e6,
      halfUp(r2 * 1000000L, mmu).toDouble / 1e6)))
    // the duplicated doc is more common -> weight below 1, rare above
    assert(out(1L)._3 < 1.0 && out(2L)._3 > 1.0)
  }

  test("extractableMemorization: deterministic vs ambiguous continuations per k") {
    // k=2: 'a b' -> c everywhere (det, occ 3); 'b c' -> X, Y, X (ambiguous).
    // k=3: 'a b c' -> X, Y, X (one repeated ambiguous prefix).
    // k=10: no 11-token window -> all-zero row with frac 0 (the guard).
    val docs = Seq((1L, "a b c X"), (2L, "a b c Y"), (3L, "a b c X"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextDedup.extractableMemorizationFrom(
        Seq(2, 3, 10).map(k => k -> graft.operators.TextDedup
          .memWindowInventory(docs, "doc_id", "text", k)))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getDouble(7)))).toMap
    assert(out(2L) == ((2L, 1L, 6L, 3L, 2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 0L, 3L, 0L, 1L, 0L, 0.0)))
    assert(out(10L) == ((0L, 0L, 0L, 0L, 0L, 0L, 0.0)))
  }

  test("tokenizerCompressionCensus: three families, hand-computed per-source rows") {
    // corpus 'ab ab cd' (one source): words ab x2, cd x1 -> 3 words, 6 chars.
    // BPE merge 1: pairs ('a b', 2) ties ('b </w>', 2) -> lexicographic
    //   'a b' merges -> ab = [ab, </w>] (2 syms), cd = [c, d, </w>] (3)
    //   -> pieces 2+2+3 = 7.
    // WordPiece merge 1: score('c d') = 1/(1*1) = 1 wins over
    //   'a b' = 2/4 -> cd = [cd, </w>] (2), ab = [a, b, </w>] (3) -> 8.
    // Unigram (maxPiece 4): whole-word pieces win (ln p vs 2 ln p) ->
    //   1 piece per word -> 3.
    val docs = Seq((1L, "ab ab cd", "s")).toDF("doc_id", "text", "source")
    val tp = graft.operators.TextPrep
    val seed = tp.seedWordTypesPlan(docs, "text")
    val out = tp.tokenizerCompressionCensusFrom(docs, "text", "source",
        tp.bpeMergeLoopFrom(seed, merges = 1)._2,
        tp.wordpieceMergeLoopFrom(seed, merges = 1)._2,
        tp.unigramDpFrom(seed.where(length(col("w")) <= 16)
            .select(col("w"), col("freq")),
          maxPieceLen = 4, maxWordLen = 16))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    graft.operators.CacheScope.drain()
    assert(out("bpe") == (("s", 3L, 6L, 7L, 2.333333, 0.857143)))
    assert(out("wordpiece") == (("s", 3L, 6L, 8L, 2.666667, 0.75)))
    assert(out("unigram") == (("s", 3L, 6L, 3L, 1.0, 2.0)))
  }

  test("dedupAwareMix: epochs allocated on the post-dedup unique mass") {
    // source A docs 1/2 share b1..b6 (l=4 -> doc 2 loses 6 tokens):
    // U_A = 20-6 = 14 (raw 20, dup 6); source B doc 3 disjoint: U_B = 10.
    // budget = 2*24 = 48, caps 56/40 -> L* = 24 (k=0: 48/2; k=1: 8) ->
    // allocations 24/24: A spans 1 epoch + 10 tokens of epoch 2,
    // B spans 2 epochs + 4 tokens of epoch 3.
    val docs = Seq(
      (1L, "a1 a2 b1 b2 b3 b4 b5 b6 a3 a4", "A"),
      (2L, "c1 c2 b1 b2 b3 b4 b5 b6 c3 c4", "A"),
      (3L, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10", "B"))
      .toDF("doc_id", "text", "src")
    val td = graft.operators.TextDedup
    val out = graft.operators.Scale.dedupAwareMixFrom(docs, "doc_id", "src",
        td.exactSubstringDedupFrom(docs, "doc_id", "text",
          td.exactSubstringRuns(docs, "doc_id", "text", l = 4, maxDf = 10)))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5),
          r.getDouble(6), r.getLong(7), r.getDouble(8), r.getDouble(9))))
      .toMap
    graft.operators.CacheScope.drain()
    val g = graft.operators.Scale.muennighoffGrid.map(_._3)
    val dmuA = 14L * g.head + 10L * g(1)
    val dmuB = 10L * (g.head + g(1)) + 4L * g(2)
    assert(out("A") == ((20L, 6L, 14L, 24L, 1.714286,
      halfUp(dmuA, 1000000L), halfUp(2 * dmuA, 2 * 14L).toDouble / 1e6,
      halfUp(dmuA * 1000000L, 24L * 1000000L).toDouble / 1e6)))
    assert(out("B") == ((10L, 0L, 10L, 24L, 2.4,
      halfUp(dmuB, 1000000L), halfUp(2 * dmuB, 2 * 10L).toDouble / 1e6,
      halfUp(dmuB * 1000000L, 24L * 1000000L).toDouble / 1e6)))
    // B spans more epochs of its (smaller) unique mass than A, so its
    // repeats discount harder: efficiency(B) < efficiency(A) < 1
    assert(out("B")._8 < out("A")._8 && out("A")._8 < 1.0)
  }

  test("dedupQualityInteraction: stage x gate-pass matrix on an injected worklist") {
    // docs 1/4 pass the full Gopher gate (the q385 fixture: 50 words,
    // 2 stop words, mean length 3); docs 2/3 fail (word-count floor).
    // Worklist: docs 2 AND 4 removed at 'exact' (one fail, one pass),
    // doc 3 at 'near_dup' (fail), doc 1 retained (pass).
    val dPass = "the and " + (1 to 48).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq((1L, dPass), (2L, "only four words here"),
      (3L, "x1 x2 x3"), (4L, dPass)).toDF("doc_id", "text")
    val wl = Seq((1L, "retained"), (2L, "exact"), (3L, "near_dup"),
      (4L, "exact")).toDF("doc_id", "stage")
    val td = graft.operators.TextDedup
    val out = td.dedupQualityInteractionFrom(
        td.gopherMicro(docs, "doc_id", "text", lineTokens = 3, paraTokens = 10),
        td.gopherQualityRules(docs, "doc_id", "text"), wl)
      .collect().map(r => (r.getString(1), r.getLong(2)) ->
        ((r.getLong(0), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("exact", 0L)) == ((1L, 1L, 0.5)))
    assert(out(("exact", 1L)) == ((1L, 1L, 0.5)))
    assert(out(("near_dup", 0L)) == ((2L, 1L, 1.0)))
    assert(out(("retained", 1L)) == ((4L, 1L, 1.0)))
    assert(out.size == 4)
  }

  test("gopher shared-cache forms == standalone operators (the SharedCaches rule)") {
    // the r18 gopher_micro / gopher_quality session caches must be pure
    // cost optimizations — every consumer returns exactly its standalone
    // operator's rows (the SharedFormsSpec discipline)
    val sf = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val cols = df.columns.sorted
      df.selectExpr(cols.map(c => s"CAST(`$c` AS STRING)"): _*)
        .collect().map(_.mkString("|")).toSet
    }
    val docs = graft.Graft.table(spark, sf, "documents")
    val td = graft.operators.TextDedup
    val shared = graft.queries.LlmQueries.queries
    def micro = td.gopherMicro(docs, "doc_id", "text", lineTokens = 3,
      paraTokens = 10)
    val standalone = Map(
      "q375_gopher_repetition" -> td.gopherRepetitionFrom(micro),
      "q376_gopher_report" ->
        td.gopherPassReportFrom(micro, docs, "doc_id", "source"),
      "q380_gopher_quality" ->
        td.gopherQualityRules(docs, "doc_id", "text"),
      "q385_gopher_full_gate" -> td.gopherFullGateFrom(micro,
        td.gopherQualityRules(docs, "doc_id", "text"), docs, "doc_id",
        "source"))
    standalone.foreach { case (name, solo) =>
      val viaCache = shared(name)(spark, sf)
      assert(viaCache.columns.toSeq == solo.columns.toSeq,
        s"$name column drift between shared and standalone forms")
      assert(rows(viaCache) == rows(solo),
        s"$name shared-cache rows != standalone rows")
      graft.operators.CacheScope.drain()
    }
  }
}
