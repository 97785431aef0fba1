package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextPrep

class TextPrepSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def chunksOf(nTokens: Int, size: Int, stride: Int): Seq[(Long, Int)] = {
    import spark.implicits._
    val text = (1 to nTokens).map(i => s"t$i").mkString(" ")
    TextPrep.chunk(Seq((1, text)).toDF("id", "text"), "id", "text", size, stride)
      .select(col("chunk_id"),
        org.apache.spark.sql.functions.size(split(col("chunk"), " ")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
  }

  test("chunking: short doc yields one whole-doc chunk") {
    assert(chunksOf(10, 32, 24) == Seq((0L, 10)))
    assert(chunksOf(24, 32, 24) == Seq((0L, 24)))
  }

  test("chunking: stride boundary produces a trailing short chunk with overlap") {
    // 40 tokens, windows start at 0 and 24: [1..32] and [25..40]
    assert(chunksOf(40, 32, 24) == Seq((0L, 32), (1L, 16)))
    // consecutive chunks overlap by size - stride = 8 tokens
    import spark.implicits._
    val text = (1 to 40).map(i => s"t$i").mkString(" ")
    val rows = TextPrep.chunk(Seq((1, text)).toDF("id", "text"), "id", "text", 32, 24)
      .orderBy("chunk_id").collect().map(_.getString(2).split(" ").toSeq)
    assert(rows(0).takeRight(8) == rows(1).take(8))
  }

  test("packing: offsets are the contiguous token stream cut every ctxLen, per bucket") {
    import spark.implicits._
    // 6 docs of 100 tokens each in 2 buckets -> per bucket a 300-token
    // stream cut every 128: starts at 0,100,200 -> windows 0,0,1
    val docs = (0 until 6)
      .map(i => (i.toLong, (1 to 100).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = TextPrep.packSequences(docs, "doc_id", "text", ctxLen = 128, nBuckets = 2)
      .orderBy("bucket", "doc_id").collect()
    assert(packed.length == 6)
    for (b <- 0 to 1) {
      val rows = packed.filter(_.getLong(1) == b)
      assert(rows.map(_.getLong(2)).toSeq == Seq(0L, 0L, 1L), "seq ids")
      assert(rows.map(_.getLong(3)).toSeq == Seq(0L, 100L, 72L), "offsets")
    }
    // every offset is inside the window and token counts survive
    assert(packed.forall(r => r.getLong(3) >= 0 && r.getLong(3) < 128))
    assert(packed.map(_.getLong(4)).sum == 600)
  }

  test("packing: window is partitioned by bucket — never a global sort") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, "a b c")).toDF("doc_id", "text")
    val p = TextPrep.packSequences(docs, "doc_id", "text", 64, 4)
      .queryExecution.executedPlan.toString
    // physical Window prints [functions], [partitionSpec], [orderSpec] —
    // the partition spec bracket must carry the bucket key
    val winLine = p.linesIterator.find(_.contains("Window "))
    assert(winLine.isDefined, p.linesIterator.take(8).mkString("\n"))
    assert(winLine.get.contains("], [bucket#"),
      s"packing must shard the cumsum window by bucket: ${winLine.get}")
  }

  test("chunking: every token of the source appears in some chunk") {
    import spark.implicits._
    val text = (1 to 100).map(i => s"t$i").mkString(" ")
    val covered = TextPrep.chunk(Seq((1, text)).toDF("id", "text"), "id", "text", 32, 24)
      .select(explode(split(col("chunk"), " "))).distinct().count()
    assert(covered == 100)
  }

  test("normalize collapses mixed whitespace and case") {
    import spark.implicits._
    val out = Seq(("  A  B\t\tC\nd  ")).toDF("t")
      .select(TextPrep.normalize(col("t"))).collect().head.getString(0)
    assert(out == "a b c d")
  }

  test("redact replaces emails and long digit runs, leaves short numbers") {
    import spark.implicits._
    val out = Seq(("mail a.b+c@x-y.org num 1234567 keep 123 end")).toDF("t")
      .select(TextPrep.redact(col("t"))).collect().head.getString(0)
    assert(out == "mail <EMAIL> num <NUM> keep 123 end")
  }

  test("piiCensus: per-detector counts on hand fixtures; zero cells present; half-up rate") {
    import spark.implicits._
    val docs = Seq(
      ("a", "contact a@b.co and c.d@e-f.org now"),          // 2 emails
      ("a", "run 123456789 and 9999999 short"),             // 1 digit run
      ("a", "ip 10.0.0.1 hex deadbeefdeadbeefdeadbeefdeadbeef go https://x.y/z"),
      ("b", "nothing suspicious here at all")
    ).toDF("source", "t")
    val r = TextPrep.piiCensus(docs, "t", "source").collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getDouble(5))).toMap
    assert(r.size == 10, "every (source, type) cell present, zeros included")
    assert(r(("a", "email")) == (3L, 1L, 2L, 0.333333))       // 1/3 half-up micro
    assert(r(("a", "digit_run")) == (3L, 1L, 1L, 0.333333))
    assert(r(("a", "ipv4")) == (3L, 1L, 1L, 0.333333))
    assert(r(("a", "hex_secret")) == (3L, 1L, 1L, 0.333333))
    assert(r(("a", "url")) == (3L, 1L, 1L, 0.333333))
    assert(r(("b", "email")) == (1L, 0L, 0L, 0.0))
    assert(r(("b", "url")) == (1L, 0L, 0L, 0.0))
    // an exact .5 rate survives the integer half-up form
    val half = TextPrep.piiCensus(Seq(
      ("c", "x a@b.co y"), ("c", "clean")).toDF("source", "t"), "t", "source")
      .where(col("pii_type") === "email").collect().head
    assert(half.getDouble(5) == 0.5)
    // detectors count independently on shared text: a 36-char hex token
    // is one hex_secret AND one embedded 10-digit run
    val both = TextPrep.piiCensus(Seq(
      ("d", "token deadbeefcafebabe0123456789abcdef0123")).toDF("source", "t"),
      "t", "source").collect()
      .map(x => x.getString(1) -> x.getLong(4)).toMap
    assert(both("hex_secret") == 1L && both("digit_run") == 1L)
  }

  /** The unigram-LM Viterbi DP of a corpus: the (w, freq) counts of its
    * 1..maxWord-char words through [[TextPrep.unigramDpFrom]] — the input
    * the `unigramLm*From` forms take. */
  private def unigramDp(docs: org.apache.spark.sql.DataFrame, maxPiece: Int,
                        maxWord: Int = 16) =
    TextPrep.unigramDpFrom(
      docs.select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0 && length(col("w")) <= maxWord)
        .groupBy(col("w")).agg(count(lit(1)).as("freq")),
      maxPiece, maxWord)

  private def unigramRows(texts: Seq[String], maxPiece: Int = 4,
                          maxWord: Int = 16): List[(String, Long, Double, Double)] = {
    import spark.implicits._
    val out = TextPrep.unigramLmTrainStepFrom(unigramDp(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
        maxPiece, maxWord))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1).toList
    graft.operators.CacheScope.drain()
    out
  }

  test("unigramLmTrainStep: hand-computed seed, Viterbi segmentation, and M-step") {
    // words ab:3, b:3 -> seed a:3, ab:3, b:6, T0=12
    // lp0: a/ab -> ln(1/4) = -1386294 mu; b -> ln(1/2) = -693147
    // Viterbi "ab": [ab] (-1386294) beats [a][b] (-2079441); "b": [b]
    // em: ab:3, b:3, T1=6 -> lp1 both ln(1/2); piece "a" unused -> absent
    assert(unigramRows(Seq("ab ab b", "ab b b")) == List(
      ("ab", 3L, -1.386294, -0.693147), ("b", 3L, -0.693147, -0.693147)))
  }

  test("unigramLmTrainStep: exact integer tie breaks to the longest piece (min start)") {
    // words ab:2, a:2, b:4 -> seed a:4, ab:2, b:6, T0=12 — engineered so
    // 2/12 = (4/12)*(6/12) EXACTLY: mu(ab) = -1791759 = mu(a) + mu(b)
    // = -1098612 - 693147. Viterbi "ab" ties [ab] vs [a][b]; the
    // backtrace must take min start s=0 => piece "ab" (em ab:2, a:2, b:4,
    // T1=8). A max-start tiebreak would yield em a:4, b:6, ab absent.
    assert(unigramRows(Seq("ab ab a a b b b b")) == List(
      ("a", 2L, -1.098612, -1.386294),
      ("ab", 2L, -1.791759, -1.386294),
      ("b", 4L, -0.693147, -0.693147)))
  }

  test("unigramLmTrainStep: multi-use pieces count with multiplicity; long words excluded") {
    // maxPieceLen=2: seed a:4, aa:3, c:2, cc:1 (T0=10); Viterbi
    // "aaaa" = [aa][aa] (two uses of "aa" in ONE word), "cc" = [cc];
    // T1 = 3. The 17-char word is over maxWordLen=16 and contributes
    // nothing (neither seed nor em).
    assert(unigramRows(Seq("aaaa cc abcdefghijklmnopq"), maxPiece = 2) == List(
      ("aa", 2L, -1.203973, -0.405465), ("cc", 1L, -2.302585, -1.098612)))
  }

  test("unigramLmFertility: occurrence-weighted pieces per word, per source") {
    import spark.implicits._
    // model from the FULL corpus: aaaa freq 2, cc freq 1 (the 17-char
    // word is over maxWordLen and excluded from model AND counts) ->
    // seed a:8, aa:6, c:2, cc:1, T0=17; Viterbi "aaaa"=[aa][aa] (2),
    // "cc"=[cc] (1). s1: 2 words, 3 pieces -> 1.5; s2: 1 word (the long
    // one dropped), 2 pieces -> 2.0
    val docs = Seq((1L, "aaaa cc", "s1"), (2L, "aaaa abcdefghijklmnopq", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TextPrep.unigramLmFertilityFrom(unigramDp(docs, maxPiece = 2),
        docs, "text", "source", maxWordLen = 16).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toList
    graft.operators.CacheScope.drain()
    assert(out == List(("s1", 2L, 3L, 1.5), ("s2", 1L, 2L, 2.0)))
  }

  private def pruneRow(texts: Seq[String], maxPiece: Int = 4)
  : (Long, Long, Long, Long, Long, Long, Double, Double) = {
    import spark.implicits._
    val out = TextPrep.unigramLmPruneFrom(unigramDp(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text"),
        maxPiece), keepNum = 1, keepDen = 2).collect().head
    graft.operators.CacheScope.drain()
    (out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3),
      out.getLong(4), out.getLong(5), out.getDouble(6), out.getDouble(7))
  }

  test("unigramLmPrune: order-statistic cut over multi-char pieces, singles always kept") {
    // tie corpus (see train-step spec): em ab:2, a:2, b:4. The only
    // multi-char piece "ab" sits AT the keep-1/2 cut -> dropped (ties
    // drop). kept = {a em 2, b em 4}; lp2 = add-one over T2=6, K=2.
    // Re-segmentation forces "ab" -> [a][b]: pieces 8 -> 10 over 8 word
    // occurrences, fertility 1.0 -> 1.25. seed vocab {a, b, ab} = 3,
    // active = 3, kept = 2.
    assert(pruneRow(Seq("ab ab a a b b b b")) ==
      (3L, 3L, 2L, 8L, 8L, 10L, 1.0, 1.25))
    // "aaaa cc": multi pieces aa em 2, cc em 1 -> cut=1 keeps only aa;
    // kept = {a 0, c 0, aa 2}. "cc" re-segments as [c][c]: pieces 3 -> 4
    // over 2 words (1.5 -> 2.0). seed vocab {a, aa, c, cc} = 4,
    // active = 2 (aa, cc), kept = 3.
    assert(pruneRow(Seq("aaaa cc"), maxPiece = 2) ==
      (4L, 2L, 3L, 2L, 3L, 4L, 1.5, 2.0))
  }
}
