package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 shelf: the Gopher repetition-rule census + per-source report,
  * exact-substring removal with reconstruction, per-language UniMax and
  * the KN quantization audit — each pinned on hand-computed fixtures.
  */
class RoundSeventeenShelfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The Gopher micro census at the house (3, 10) tile sizes — the input
    * the `TextDedup.gopher*From` forms take. */
  private def micro(docs: org.apache.spark.sql.DataFrame) =
    graft.operators.TextDedup.gopherMicro(docs, "doc_id", "text",
      lineTokens = 3, paraTokens = 10)

  test("gopherRepetition: hand-computed fractions, tie-breaks, pass flag") {
    // doc 1: "a b c a b c d e f" — 3-token lines (a b c)x2 + (d e f);
    //   dup_line_frac = 1/3 = .333333, dup chars 5/15 = .333333;
    //   one 9-token paragraph tile -> para fracs 0; n_chars = 17;
    //   top2 tie (a b / b c, both x2) -> 'a b', mass 6/17 = .352941;
    //   top3 'a b c' x2, mass 10/17 = .588235; top4 all x1 -> smallest
    //   'a b c a', mass 7/17 = .411765. r1 > .30 -> pass 0.
    // doc 2: 30 distinct 3-char tokens -> all dup fracs 0; n_chars 119;
    //   top masses 7/11/15 over 119 = .058824/.092437/.126050 -> pass 1.
    // doc 3: empty text -> one "" line, every denominator guard -> all 0,
    //   pass 1.
    // doc 4: "p q r s t" x2 then u1..u10 — the 5-gram repeats (starts 0
    //   and 5, NO longer dup gram: the blocks are followed by 'p' vs
    //   'u1'), covering token positions 0..9 = 10 chars of n_chars 50 ->
    //   dup5gram_char_frac = 0.2 > 0.15, dup6..10 = 0, pass 0.
    val d2 = (1 to 30).map(i => f"t$i%02d").mkString(" ")
    val d4 = "p q r s t p q r s t " + (1 to 10).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, "a b c a b c d e f"), (2L, d2), (3L, ""), (4L, d4))
      .toDF("doc_id", "text")
    val out = graft.operators.TextDedup.gopherRepetitionFrom(micro(docs))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 3L)
    assert((2 to 8).map(out(1L).getDouble) ==
      Seq(0.333333, 0.333333, 0.0, 0.0, 0.352941, 0.588235, 0.411765))
    assert((9 to 14).map(out(1L).getDouble).forall(_ == 0.0),
      "doc 1 has no repeated 5..10-gram")
    assert(out(1L).getLong(15) == 0L)
    assert((2 to 8).map(out(2L).getDouble) ==
      Seq(0.0, 0.0, 0.0, 0.0, 0.058824, 0.092437, 0.12605))
    assert((9 to 14).map(out(2L).getDouble).forall(_ == 0.0))
    assert(out(2L).getLong(15) == 1L)
    assert((2 to 14).map(out(3L).getDouble).forall(_ == 0.0))
    assert(out(3L).getLong(15) == 1L)
    assert(out(4L).getDouble(9) == 0.2, "dup 5-gram coverage = 10/50")
    assert((10 to 14).map(out(4L).getDouble).forall(_ == 0.0),
      "no 6..10-gram repeats across the block boundary")
    assert(out(4L).getLong(15) == 0L)
  }

  test("gopherPassReport: per-rule failure counts and half-up rates") {
    val d2 = (1 to 30).map(i => f"t$i%02d").mkString(" ")
    val docs = Seq((1L, "a b c a b c d e f", "s"), (2L, d2, "s"))
      .toDF("doc_id", "text", "src")
    val out = graft.operators.TextDedup.gopherPassReportFrom(
        micro(docs), docs, "doc_id", "src")
      .collect().map(r => r.getString(3) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4), r.getDouble(5)))).toMap
    // doc 1 fails rules 1, 2, 5, 6, 7 and 'all' (no 5..10-gram repeats
    // in 9 tokens); doc 2 passes everything
    assert(out("dup_line_frac") == ((2L, 1L, 1L, 0.5)))
    assert(out("dup_line_char_frac") == ((2L, 2L, 1L, 0.5)))
    assert(out("dup_para_frac") == ((2L, 3L, 0L, 0.0)))
    assert(out("dup_para_char_frac") == ((2L, 4L, 0L, 0.0)))
    assert(out("top2_char_frac") == ((2L, 5L, 1L, 0.5)))
    assert(out("top3_char_frac") == ((2L, 6L, 1L, 0.5)))
    assert(out("top4_char_frac") == ((2L, 7L, 1L, 0.5)))
    (5 to 10).zipWithIndex.foreach { case (n, i) =>
      assert(out(s"dup${n}gram_char_frac") == ((2L, i + 8L, 0L, 0.0)))
    }
    assert(out("all") == ((2L, 14L, 1L, 0.5)))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("exactSubstringDedup: removal from the later doc, overlap union, md5 rebuild") {
    // docs 1 and 2 share s1..s5 (l=4 -> one 5-token run, removed from
    // doc 2); doc 3 shares s1..s4 with docs 1 AND 2 plus t1..t4 with
    // doc 4 — overlapping coverage unions by position, doc 4 (largest
    // id of its pair... doc 3 < doc 4) loses its t-range
    val docs = Seq(
      (1L, "w1 w2 s1 s2 s3 s4 s5 w3"),
      (2L, "x1 s1 s2 s3 s4 s5 x2 x3"),
      (3L, "s1 s2 s3 s4 t1 t2 t3 t4"),
      (4L, "y1 t1 t2 t3 t4 y2 y3 y4")).toDF("doc_id", "text")
    val out = graft.operators.TextDedup.exactSubstringDedupFrom(
        docs, "doc_id", "text", graft.operators.TextDedup.exactSubstringRuns(
          docs, "doc_id", "text", l = 4, maxDf = 10))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 is the smallest id everywhere -> untouched
    assert(out(1L) == ((8L, 0L, md5hex("w1 w2 s1 s2 s3 s4 s5 w3"))))
    // doc 2: s1..s5 removed (pair 1<2); s1..s4 also in pair 2<3? no —
    // doc_b is the LARGER id, so 2<3 removes from 3, not 2
    assert(out(2L) == ((8L, 5L, md5hex("x1 x2 x3"))))
    // doc 3: s1..s4 covered by pairs (1,3) and (2,3) -> 4 tokens once
    assert(out(3L) == ((8L, 4L, md5hex("t1 t2 t3 t4"))))
    // doc 4: t1..t4 covered by pair (3,4)
    assert(out(4L) == ((8L, 4L, md5hex("y1 y2 y3 y4"))))
  }

  test("exactSubstringDedup: re-run on the rebuilt corpus is a no-op") {
    val docs = Seq(
      (1L, "a1 a2 b1 b2 b3 b4 b5 b6 a3 a4"),
      (2L, "c1 c2 b1 b2 b3 b4 b5 b6 c3 c4"),
      (3L, "d1 b1 b2 b3 b4 b5 b6 d2 d3 d4")).toDF("doc_id", "text")
    val clean = graft.operators.TextDedup.exactSubstringRebuild(
      docs, "doc_id", "text", l = 4)
    val texts = clean.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(1L) == "a1 a2 b1 b2 b3 b4 b5 b6 a3 a4")
    assert(texts(2L) == "c1 c2 c3 c4" && texts(3L) == "d1 d2 d3 d4")
    val again = graft.operators.TextDedup.exactSubstringRebuild(
        clean, "doc_id", "clean_text", l = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == texts, "second pass must remove nothing")
  }

  test("langUnimaxFromScored: per-lang tercile keep, hand-checked waterfill") {
    // injected per-doc scores (the operator's scored-cache contract):
    // lang A docs 1/2/3 at xent .1/.2/.3 -> cut2 = .2, doc 3 dropped;
    // lang B docs 4/5/6 likewise -> doc 6 dropped.
    val scored = Seq((1L, 4L, 0.1), (2L, 4L, 0.2), (3L, 4L, 0.3),
        (4L, 4L, 0.1), (5L, 4L, 0.2), (6L, 4L, 0.3))
      .toDF("doc_id", "n_bigrams", "xent")
    def toks(k: Int) = (1 to k).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "A", toks(10)), (2L, "A", toks(20)), (3L, "A", toks(99)),
      (4L, "B", toks(4)), (5L, "B", toks(6)), (6L, "B", toks(50)))
      .toDF("doc_id", "lang", "text")
    // kept: A = 30 tokens (cap 60), B = 10 (cap 20); budget = 40/2 = 20;
    // waterfill level L = 10 (10+10 = 20; 11 would need 22) ->
    // allocations 10/10, epochs 10/30 = .333333 and 10/10 = 1.0
    val out = graft.operators.TextLm.langUnimaxFromScored(
        scored, docs, "doc_id", "text", "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("A") == ((30L, 60L, 10L, 0.333333)))
    assert(out("B") == ((10L, 20L, 10L, 1.0)))
  }

  test("knQuantAudit: hand-computed bins, codebooks, xent images; saturation row") {
    // 17 bigram types at lp_mu -1e6..-17e6, occ 1 except occ 4 on the
    // -17e6 type (20 occurrences); exact xent = (1+..+16 + 4*17)e6 / 20
    // = 10.2. bits=4 (16 bins): cumBefore counts the more negative
    // values, bin = cb*16 div 17 -> only cb 0,1 (-17e6, -16e6) share a
    // bin; its codebook is 16.5e6, xent_q = (204 - 4*17 - 16 + 5*16.5)
    // / 20 = 10.125 -> delta -0.075. bits=8 and 16: singleton bins ->
    // delta exactly 0 (the saturation rows).
    val occ = (1 to 17).map(k => if (k == 17) 4L else 1L)
    val model = (1 to 17).map(k => (s"t$k", s"t${k + 1}", -1000000L * k))
      .toDF("w1", "w2", "lp_mu")
    val docBig = (1 to 17).map(k => ((k % 2).toLong, s"t$k", s"t${k + 1}", occ(k - 1)))
      .toDF("doc_id", "w1", "w2", "occ")
    val out = graft.operators.TextLm.knQuantAudit(model, docBig)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7)))).toMap
    graft.operators.CacheScope.drain()
    // prob_bytes: (17*4+7) div 8 = 9; (17*8+7) div 8 = 17; (17*16+7) div 8 = 34
    assert(out(4L) == ((17L, 16L, 9L, 128L, 10.2, 10.125, -0.075)))
    assert(out(8L) == ((17L, 17L, 17L, 136L, 10.2, 10.2, 0.0)))
    assert(out(16L) == ((17L, 17L, 34L, 136L, 10.2, 10.2, 0.0)))
  }

  test("gopherQualityRules: hand-computed ratios and the paper's thresholds") {
    // doc 1: all 8 stop words + 52x 'word' = 60 words, 232 chars ->
    //   mean 232/60 = 3.866667, all alpha, 8 stopwords -> pass
    // doc 2: 4 words -> fails the word-count floor
    // doc 3: 'that have' + 42 wd-words (4 chars) + 6 '#' = 50 words,
    //   mean (4*44+6)/50 = 3.64, symbols 6/50 = .12 > .1 -> fail,
    //   alpha 44/50 = .88 passes
    val d1 = "the be to of and that have with " + Seq.fill(52)("word").mkString(" ")
    val d3 = "that have " + (3 to 44).map(i => f"wd$i%02d").mkString(" ") +
      " # # # # # #"
    val docs = Seq((1L, d1), (2L, "only four words here"), (3L, d3))
      .toDF("doc_id", "text")
    val out = graft.operators.TextDedup.gopherQualityRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 60L)
    assert(out(1L).getDouble(2) == 3.866667)
    assert(out(1L).getDouble(6) == 1.0 && out(1L).getLong(7) == 8L)
    assert(out(1L).getLong(8) == 1L, "doc 1 must pass every rule")
    assert(out(2L).getLong(1) == 4L && out(2L).getDouble(2) == 4.25)
    assert(out(2L).getLong(8) == 0L, "doc 2 fails the word-count floor")
    assert(out(3L).getLong(1) == 50L && out(3L).getDouble(2) == 3.64)
    assert(out(3L).getDouble(3) == 0.12 && out(3L).getDouble(6) == 0.88)
    assert(out(3L).getLong(8) == 0L, "doc 3 fails the symbol ratio")
  }

  test("gopherQualityRules: bullet and ellipsis line fractions on the tile proxy") {
    // doc 1 tokens: '- aa bb' tile (bullet start) + 'cc dd ee...' tile
    // (ellipsis end); 1/2 each. doc 2 ends "...\n" — the trailing
    // newline must DEFEAT the ellipsis rule on both engines (\z anchors
    // at true end-of-text; Java's $ would have matched before the \n,
    // RE2's would not — the ADVICE divergence fixture)
    val docs = Seq((1L, "- aa bb cc dd ee..."), (2L, "- aa bb cc dd ee...\n"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextDedup.gopherQualityRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r = out(1L)
    assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 0.5)
    assert(r.getLong(8) == 0L)
    assert(out(2L).getDouble(5) == 0.0,
      "a line ending with a newline after ... is NOT an ellipsis line")
  }

  test("gopherXentAblation: pass/fail means per rule, NULL on empty sides") {
    // doc 1 fails dup_line rules (the q375 fixture), doc 2 passes all,
    // doc 3 has no score (absent from scoredDocs) -> excluded
    val d2 = (1 to 30).map(i => f"t$i%02d").mkString(" ")
    val docs = Seq((1L, "a b c a b c d e f"), (2L, d2), (3L, ""))
      .toDF("doc_id", "text")
    val scored = Seq((1L, 8L, 1.0), (2L, 29L, 3.0))
      .toDF("doc_id", "n_bigrams", "xent")
    val out = graft.operators.TextDedup.gopherXentAblationFrom(
        micro(docs), scored, "doc_id")
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(out("dup_line_frac") == ((1L, 1L, Some(3.0), Some(1.0))))
    assert(out("dup_para_frac") == ((2L, 0L, Some(2.0), None)))
    assert(out("dup5gram_char_frac") == ((2L, 0L, Some(2.0), None)),
      "new dup-gram rules stack with NULL-guarded empty fail side")
    assert(out("all") == ((1L, 1L, Some(3.0), Some(1.0))))
  }

  test("dupClusterCensus: histogram + singleton row conserves the corpus") {
    val docs = (1L to 8L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = graft.operators.TextDedup.dupClusterCensus(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(3L -> ((1L, 3L)), 2L -> ((1L, 2L)), 1L -> ((3L, 3L))))
    assert(out.values.map(_._2).sum == 8L, "sum(n_docs) must equal |corpus|")
  }

  test("selfBleu: rest-of-corpus clipping per order, hand-computed, NULL at OOV") {
    // docs 1/2 are twins -> every gram clips to 1 -> p1..p4 = 1, log 0.
    // doc 3 shares nothing -> p's 0 -> NULL. doc 4 shares the 'a b c d'
    // prefix: p1 = 4/5, p2 = 3/4, p3 = 2/3, p4 = 1/2 ->
    // log = .25(ln .8 + ln .75 + ln 2/3 + ln .5) = -0.402359.
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"),
        (3L, "v w x y z"), (4L, "a b c d q1"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextDedup.selfBleu(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (((1 to 4).map(i => Option(r.get(i)).map(_.asInstanceOf[Double])),
          Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    graft.operators.CacheScope.drain()
    assert(out(1L)._1.flatten == Seq(1.0, 1.0, 1.0, 1.0))
    assert(out(1L)._2.contains(0.0) && out(2L)._2.contains(0.0))
    assert(out(3L)._1.flatten == Seq(0.0, 0.0, 0.0, 0.0))
    assert(out(3L)._2.isEmpty)
    assert(out(4L)._1.flatten == Seq(0.8, 0.75, 2.0 / 3.0, 0.5))
    assert(out(4L)._2.contains(-0.402359))
  }

  test("exactSubstringSweep: run/removal mass per window length, zero row kept") {
    // docs 1/2 share the 20-token run b1..b20; doc 3 is disjoint.
    // l=10: one stitched run of 20 tokens; l=20: the run exactly; l=40:
    // none. 30 + 30 + 40 = 100 tokens.
    def toks(p: String, r: Range) = r.map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, Seq(toks("a", 1 to 2), toks("b", 1 to 20), toks("a", 3 to 10)).mkString(" ")),
      (2L, Seq(toks("c", 1 to 2), toks("b", 1 to 20), toks("c", 3 to 10)).mkString(" ")),
      (3L, toks("d", 1 to 40))).toDF("doc_id", "text")
    val out = graft.operators.TextDedup.exactSubstringSweep(docs, "doc_id", "text",
        graft.operators.TextDedup.exactSubstringRuns(docs, "doc_id", "text", l = 20, maxDf = 10))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    graft.operators.CacheScope.drain()
    assert(out(10L) == ((1L, 20L, 100L, 0.2)))
    assert(out(20L) == ((1L, 20L, 100L, 0.2)))
    assert(out(40L) == ((0L, 0L, 100L, 0.0)))
  }

  test("gopherFullGate: repetition AND quality conjunction, per-source roll-up") {
    // d1: 60 words with 52x 'word' -> passes every QUALITY rule (8 stop
    // words, all alpha, mean 3.87) but FAILS repetition (dup lines, top
    // grams). d3: 50 distinct words incl 2 stopwords at mean length
    // exactly 3.0 -> passes BOTH. Retention = 1/2.
    val d1 = "the be to of and that have with " + Seq.fill(52)("word").mkString(" ")
    val d3 = "the and " + (1 to 48).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq((1L, d1, "s"), (3L, d3, "s")).toDF("doc_id", "text", "src")
    val r = graft.operators.TextDedup.gopherFullGateFrom(micro(docs),
        graft.operators.TextDedup.gopherQualityRules(docs, "doc_id", "text"),
        docs, "doc_id", "src")
      .collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)) == (("s", 2L, 1L, 2L, 1L, 0.5)))
  }
}
