package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextHashes
import graft.operators.{Similarity, TextDedup, TextLm}

/** Pins the operators the DuckDB oracle cannot express (SimHash/RollingHash
  * use unsigned 64-bit wraparound arithmetic) and the dedup/similarity
  * invariants. */
class LlmOperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def docs = Graft.table(spark, sf, "documents")

  /** The (docBig, KN model) inputs the `TextLm.*From` LM forms take. */
  private def knInputs(corpus: DataFrame): (DataFrame, DataFrame) = {
    val docBig = TextLm.docBigrams(corpus, "doc_id", "text")
    (docBig, TextLm.knBigramModel(docBig, corpus, "text"))
  }

  test("simhash64: codegen and interpreted modes agree") {
    val df = docs.select(col("doc_id"),
      TextHashes.simhash64(split(col("text"), " ")).as("h"),
      TextHashes.rolling_hash(col("text")).as("rh"))
    val modes = Seq("CODEGEN_ONLY", "NO_CODEGEN").map { m =>
      spark.conf.set("spark.sql.codegen.factoryMode", m)
      try df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(modes(0).sameElements(modes(1)))
  }

  test("ngram_distinct_count: native == HOF formulation; codegen == interpreted; unicode-safe") {
    import spark.implicits._
    val tricky = Seq(
      (900L, "aaaa"), (901L, "ab"), (902L, "日本語のテキストです日本語"),
      (903L, "abcabcabc"), (904L, "x y z x y"), (905L, "ééaéé"))
      .toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(tricky)
    val df = corpus.where(length(col("text")) >= 3).select(col("doc_id"),
      TextHashes.ngram_distinct_count(col("text"), 3).as("native"),
      expr("CAST(size(array_distinct(transform(sequence(1, length(text)-2), " +
        "i -> substring(text, i, 3)))) AS BIGINT)").as("hof"))
    val modes = Seq("CODEGEN_ONLY", "NO_CODEGEN").map { m =>
      spark.conf.set("spark.sql.codegen.factoryMode", m)
      try df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(modes(0).sameElements(modes(1)))
    modes(0).foreach { case (id, nat, hof) => assert(nat == hof, s"doc $id: $nat != $hof") }
    // sub-n strings count 0, not error
    assert(Seq((1L, "ab")).toDF("doc_id", "text")
      .select(TextHashes.ngram_distinct_count(col("text"), 3)).head().getLong(0) == 0L)
  }

  test("ngram_distinct_hashes: size == distinct count; values = FNV of the grams; unicode-safe") {
    import spark.implicits._
    val tricky = Seq(
      (900L, "aaaa"), (901L, "abcabcabc"), (902L, "日本語のテキストです日本語"),
      (903L, "ééaéé"))
      .toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(tricky)
    val df = corpus.where(length(col("text")) >= 3).select(col("doc_id"),
      org.apache.spark.sql.functions.size(
        TextHashes.ngram_distinct_hashes(col("text"), 3)).cast("bigint").as("n_hashes"),
      TextHashes.ngram_distinct_count(col("text"), 3).as("n_count"))
    // byte-exact distinctness: array length always equals the exact count
    df.collect().foreach(r =>
      assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}"))
    // identities are FNV-1a of the gram bytes, first-seen order
    def fnv(s: String): Long = graft.functions.SimHash64.fnv1a(s.getBytes("UTF-8"))
    val got = Seq((1L, "abcab")).toDF("doc_id", "text")
      .select(TextHashes.ngram_distinct_hashes(col("text"), 2)).head().getSeq[Long](0)
    assert(got == Seq(fnv("ab"), fnv("bc"), fnv("ca")), "abcab bigrams = ab bc ca")
    // codegen and interpreted agree
    val modes = Seq("CODEGEN_ONLY", "NO_CODEGEN").map { m =>
      spark.conf.set("spark.sql.codegen.factoryMode", m)
      try corpus.select(TextHashes.ngram_distinct_hashes(col("text"), 8))
        .collect().map(_.getSeq[Long](0)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(modes(0) == modes(1))
  }

  test("token ngram stats: native == HOF shingle formulations on corpus + edge cases") {
    import spark.implicits._
    import graft.functions.TokenNgrams
    val tricky = Seq(
      (900L, "a b a b a b a"),        // heavy bigram repetition
      (901L, "x"), (902L, "x y"),     // fewer tokens than window
      (903L, "a  b   c"),             // empty tokens from double spaces
      (904L, "日本 語 の 日本 語"),    // multi-byte tokens
      (905L, "t t t t t t"))          // one repeated token
      .toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(tricky)
    val viaHof = corpus.select(col("doc_id"),
      expr("CAST(size(array_distinct(transform(sequence(1, greatest(size(split(text,' '))-2, 1)), " +
        "i -> concat_ws(' ', slice(split(text,' '), i, 3))))) AS BIGINT)").as("tri"),
      expr("aggregate(array_sort(transform(sequence(1, greatest(size(split(text,' '))-1, 1)), " +
        "i -> concat_ws(' ', slice(split(text,' '), i, 2)))), " +
        "struct(CAST('' AS STRING) AS prev, CAST(0 AS BIGINT) AS run, CAST(0 AS BIGINT) AS best), " +
        "(acc, x) -> IF(x = acc.prev, " +
        "named_struct('prev', x, 'run', acc.run + 1, 'best', greatest(acc.best, acc.run + 1)), " +
        "named_struct('prev', x, 'run', CAST(1 AS BIGINT), 'best', greatest(acc.best, CAST(1 AS BIGINT)))), " +
        "acc -> acc.best)").as("top"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaNative = corpus.select(col("doc_id"),
      TokenNgrams.token_ngram_distinct_count(col("text"), 3).as("tri"),
      TokenNgrams.token_top_ngram_count(col("text"), 2).as("top"),
      size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    viaNative.foreach { case (id, tri, top, nTok) =>
      val (hofTri, hofTop) = viaHof(id)
      // HOF guards short docs with greatest(.., 1) (truncated window);
      // native returns 0 windows — both are filtered upstream by
      // n_tokens >= 3, so compare only where the guard is inert
      if (nTok >= 3) assert((tri, top) == (hofTri, hofTop), s"doc $id")
      else assert(tri == 0L && top <= nTok, s"doc $id short-doc contract")
    }
    // hash form: array length == distinct count, values = FNV of shingles
    def fnv(s: String): Long = graft.functions.SimHash64.fnv1a(s.getBytes("UTF-8"))
    val hs = Seq((1L, "a b a b c")).toDF("doc_id", "text")
      .select(TokenNgrams.token_ngram_distinct_hashes(col("text"), 2))
      .head().getSeq[Long](0)
    assert(hs == Seq(fnv("a b"), fnv("b a"), fnv("b c")))
  }

  test("char_entropy_stats: native == explode/groupBy formulation, codegen == interpreted") {
    import spark.implicits._
    import graft.functions.CharEntropyStats
    val tricky = Seq((900L, "aaaa"), (901L, "abab"), (902L, "日本語日本"), (903L, "x"))
      .toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(tricky)
    val viaExplode = corpus
      .select(col("doc_id"), length(col("text")).cast("bigint").as("len"),
        explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("len"), col("ch"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("mu", expr(
        "CAST(round(-(CAST(cnt AS DOUBLE) / CAST(len AS DOUBLE)) * " +
          "ln(CAST(cnt AS DOUBLE) / CAST(len AS DOUBLE)) * 1e9) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("mu")).as("mu_sum"), countDistinct(col("ch")).as("nd"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val native = Seq("CODEGEN_ONLY", "NO_CODEGEN").map { m =>
      spark.conf.set("spark.sql.codegen.factoryMode", m)
      try corpus.select(col("doc_id"),
          CharEntropyStats.char_entropy_stats(col("text")).as("st"))
        .collect().map(r => (r.getLong(0),
          r.getStruct(1).getLong(0), r.getStruct(1).getLong(1))).sortBy(_._1).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(native(0) == native(1), "codegen vs interpreted")
    native(0).foreach { case (id, mu, nd) =>
      assert((mu, nd) == viaExplode(id), s"doc $id") }
  }

  test("packed_pairs: all unordered pairs once, min in the high word, any input order") {
    import spark.implicits._
    import graft.functions.PackedPairs
    val got = Seq(Tuple1(Seq(3L, 1L, 2L))).toDF("ids")
      .select(PackedPairs.packed_pairs(col("ids"))).head().getSeq[Long](0).toSet
    def pk(a: Long, b: Long) = (a << 32) | b
    assert(got == Set(pk(1L, 3L), pk(1L, 2L), pk(2L, 3L)))
    assert(Seq(Tuple1(Seq(7L))).toDF("ids")
      .select(PackedPairs.packed_pairs(col("ids"))).head().getSeq[Long](0).isEmpty)
  }

  test("native expressions propagate null input to null output") {
    import spark.implicits._
    import graft.functions.{CharEntropyStats, TextHashes, TokenNgrams}
    val df = Seq((1L, Option.empty[String]), (2L, Some("a b c")))
      .toDF("id", "text")
    val r = df.select(col("id"),
      TextHashes.ngram_distinct_count(col("text"), 3).as("a"),
      TextHashes.ngram_distinct_hashes(col("text"), 3).as("b"),
      TokenNgrams.token_ngram_distinct_count(col("text"), 2).as("c"),
      TokenNgrams.token_top_ngram_count(col("text"), 2).as("d"),
      CharEntropyStats.char_entropy_stats(col("text")).as("e"))
      .orderBy("id").collect()
    (1 to 5).foreach(i => assert(r(0).isNullAt(i), s"null text -> null col $i"))
    (1 to 5).foreach(i => assert(!r(1).isNullAt(i), s"non-null text -> value col $i"))
  }

  test("simhash64 is stable across partition counts") {
    val one = docs.coalesce(1)
    val many = docs.repartition(7)
    def hashes(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), TextHashes.simhash64(split(col("text"), " ")).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(hashes(one).sameElements(hashes(many)))
  }

  test("simhash banding: planted pairs are hamming-close; banding finds all pairs with hamming < nBands") {
    val planted = TextDedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty, "expected planted near-dup pairs at sf0.001")
    val h = docs.select(col("doc_id"),
        TextHashes.simhash64(split(col("text"), " ")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hamming = planted.map { case (a, b) =>
      (a, b, java.lang.Long.bitCount(h(a) ^ h(b)))
    }
    // near-identical token multisets => very close simhashes
    assert(hamming.forall(_._3 <= 12), s"unexpectedly distant: $hamming")
    // banded candidate generation is guaranteed complete below nBands bits
    val simhash = TextDedup.simhashNearDupPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mustFind = hamming.filter(_._3 < 4).map(t => (t._1, t._2))
    assert(mustFind.subsetOf(simhash), s"missed guaranteed pairs: ${mustFind -- simhash}")
  }

  test("dot_d: codegen and interpreted agree; matches the HOF fold bit-for-bit") {
    import graft.functions.VectorFunctions.dot_d
    val emb = Graft.table(spark, sf, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    val df = emb.select(col("vec_id"),
      dot_d(col("e"), col("e")).as("native"),
      expr("aggregate(zip_with(e, e, (x,y) -> x*y), CAST(0 AS DOUBLE), (a,x) -> a+x)").as("hof"))
    val modes = Seq("CODEGEN_ONLY", "NO_CODEGEN").map { m =>
      spark.conf.set("spark.sql.codegen.factoryMode", m)
      try df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1)
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(modes(0).sameElements(modes(1)))
    assert(modes(0).forall { case (_, native, hof) => native == hof })
  }

  test("exact dedup collapses a doubled corpus back to its distinct size") {
    val n = docs.count()
    val deduped = TextDedup.exactDedup(docs.unionByName(docs), "doc_id", "text")
    assert(deduped.count() == n)
    // idempotence: dedup of the deduped output is a no-op
    assert(TextDedup.exactDedup(deduped.drop("fingerprint"), "doc_id", "text").count() == n)
  }

  test("connected components: chains merge transitively to the min id") {
    import spark.implicits._
    // two clusters: {1,2,3,7} connected as a chain through 7, and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = TextDedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("ngram jaccard: oversized-bucket join fallback emits the same pairs as in-row expansion") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tonight"
    val c = "completely unrelated text about spark query planning and shuffles"
    val corpus = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    def run(maxInRow: Int) = TextDedup.ngramJaccardPairs(corpus, "doc_id", "text",
        maxDfFrac = 0.7, threshold = 0.3, maxInRow = maxInRow)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // maxInRow = 1 forces EVERY bucket down the self-join fallback path
    val viaFallback = run(1)
    val viaInRow = run(1024)
    assert(viaFallback == viaInRow && viaInRow.nonEmpty)
    graft.operators.CacheScope.drain()
  }

  test("exact substring runs: a shifted duplicate q98's fixed chunks provably miss") {
    import spark.implicits._
    // doc 2 = 5-token preamble + doc 1's 40 tokens verbatim: every fixed
    // non-overlapping 32-token chunk boundary misaligns, so chunk-level
    // dedup (q98's shape) sees ZERO shared fingerprints — the sliding
    // window cannot be misaligned and must report one maximal 40-token run
    val shared = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, shared),
      (2L, "intro preamble tokens go here " + shared),
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    // q98's exact shape on this corpus: no chunk fingerprint is shared
    val chunks = graft.operators.TextPrep.chunk(docs, "doc_id", "text",
        size = 32, stride = 32)
      .select(col("doc_id"), md5(col("chunk")).as("fp"))
    val sharedChunks = chunks.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd")).where(col("nd") > 1)
    assert(sharedChunks.count() == 0L,
      "misaligned chunks must share nothing — else the plant is invalid")
    val runs = TextDedup.exactSubstringRuns(docs, "doc_id", "text",
        l = 20, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // one maximal run: doc 1 tokens 1..40 == doc 2 tokens 6..45
    assert(runs == Seq((1L, 2L, 1L, 6L, 40L)),
      s"expected the single stitched 40-token run, got $runs")
  }

  test("exact substring runs: df cap suppresses boilerplate fingerprints") {
    import spark.implicits._
    // the same 20-token banner in 4 docs with maxDf = 3 -> every window
    // fingerprint crosses 4 docs and is dropped; raising the cap emits
    // all 6 pairs
    val banner = (1 to 20).map(i => s"b$i").mkString(" ")
    val docs = (1L to 4L).map(id => (id, banner)).toDF("doc_id", "text")
    assert(TextDedup.exactSubstringRuns(docs, "doc_id", "text",
      l = 20, maxDf = 3).count() == 0L)
    assert(TextDedup.exactSubstringRuns(docs, "doc_id", "text",
      l = 20, maxDf = 4).count() == 6L)
  }

  test("ngram jaccard: planted near-dup found with exact score; unrelated docs absent") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tonight"
    val c = "completely unrelated text about spark query planning and shuffles"
    val corpus = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    // tiny corpus: every gram is rare (df <= 2% * 3 never holds... cap =
    // 0.06 docs, so NO gram is rare and no candidates form) — use a
    // fraction that makes df=2 grams rare but df=3 common
    val got = TextDedup.ngramJaccardPairs(corpus, "doc_id", "text",
        maxDfFrac = 0.7, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 1 && got.head._1 == 1L && got.head._2 == 2L)
    // exact Jaccard of the two char-8-gram sets, computed independently
    def grams(s: String) = s.sliding(8).toSet
    val (ga, gb) = (grams(a), grams(b))
    val expected = (ga & gb).size.toDouble / (ga | gb).size
    assert(math.abs(got.head._3 - expected) < 1e-12)
    graft.operators.CacheScope.drain()
  }

  test("ngram jaccard: all-rare corpus (empty common vocab) still verifies exactly") {
    import spark.implicits._
    // every doc pair shares grams, but each gram appears in at most 2 of
    // the 4 docs; with maxDfFrac = 0.6 the cap is 2.4 docs => every gram
    // is rare, the common vocabulary is EMPTY, and the bitmask path must
    // degrade to pure rare-count intersection
    val corpus = Seq(
      (1L, "aaaabbbbccccdddd"), (2L, "aaaabbbbcccceeee"),
      (3L, "ffffgggghhhhiiii"), (4L, "ffffgggghhhhjjjj")).toDF("doc_id", "text")
    val got = TextDedup.ngramJaccardPairs(corpus, "doc_id", "text",
        maxDfFrac = 0.6, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    def grams(s: String) = s.sliding(8).toSet
    def jac(x: String, y: String) =
      (grams(x) & grams(y)).size.toDouble / (grams(x) | grams(y)).size
    assert(got.map(p => (p._1, p._2)).sameElements(Array((1L, 2L), (3L, 4L))))
    assert(math.abs(got(0)._3 - jac("aaaabbbbccccdddd", "aaaabbbbcccceeee")) < 1e-12)
    graft.operators.CacheScope.drain()
  }

  test("tfidf retrieval: rare-term doc outranks common-term doc; no-match docs absent") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark spark spark common"), // tf=3 on a rare term
      (2L, "common filler words here"), // only the everywhere-term
      (3L, "common words spark extra"), // tf=1 on the rare term
      (4L, "nothing relevant at all")   // no query terms
    ).toDF("doc_id", "text")
    val terms = Seq("spark", "common").toDF("term")
    val got = graft.operators.TextRank.tfidfTopK(corpus, "doc_id", "text", terms, "term", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // df(spark)=2, df(common)=3, N=4: idf(spark)=ln2, idf(common)=ln(4/3)
    def mu(tf: Int, idf: Double) = math.round(tf * idf * 1e6)
    val exp = Map(
      1L -> (mu(3, math.log(2)) + mu(1, math.log(4.0 / 3))) / 1e6,
      3L -> (mu(1, math.log(2)) + mu(1, math.log(4.0 / 3))) / 1e6,
      2L -> mu(1, math.log(4.0 / 3)) / 1e6)
    assert(got.map(_._1).sameElements(Array(1L, 3L, 2L)), got.mkString(","))
    got.foreach { case (id, s) => assert(s == exp(id), s"doc $id") }
  }

  test("bm25: saturating tf and length normalization match the closed form") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spark spark spark spark"),            // tf=4, len 4
      (2L, "spark and many other filler words padding the document longer"), // tf=1, len 10
      (3L, "no match at all here")                // len 5
    ).toDF("doc_id", "text")
    val terms = Seq("spark").toDF("term")
    val got = graft.operators.TextRank.bm25TopK(corpus, "doc_id", "text", terms, "term", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // N=3, df=2, avgLen=(4+10+5)/3; idf = ln((3-2+0.5)/(2+0.5)+1)
    val avg = 19.0 / 3
    val idf = math.log((3.0 - 2 + 0.5) / (2 + 0.5) + 1)
    def s(tf: Double, dlen: Double) =
      math.round(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dlen / avg)) * 1e6) / 1e6
    assert(got.map(_._1).sameElements(Array(1L, 2L)), got.mkString(","))
    assert(got(0)._2 == s(4, 4) && got(1)._2 == s(1, 10), got.mkString(","))
    // the high-tf short doc must outrank but NOT by 4x: tf saturates
    assert(got(0)._2 < 4 * got(1)._2)
  }

  test("decontamination: planted 13-token overlap flagged, clean doc not, short doc safe") {
    import spark.implicits._
    val leak = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val corpus = Seq(
      (100L, s"prefix words here $leak and a suffix"),
      (101L, "totally clean document with enough tokens to shingle but no overlap at all today ok"),
      (102L, "short doc")). // < 13 tokens: must not error, just absent
      toDF("doc_id", "text")
    val evalSet = Seq((1L, s"$leak trailing benchmark tokens")).toDF("eval_id", "text")
    val got = TextDedup.contaminationPairs(corpus, "doc_id", "text",
        evalSet, "eval_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sameElements(Array((100L, 1L))), got.mkString(","))
  }

  test("minhash jaccard output is within [threshold, 1]") {
    val js = TextDedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(js.forall(j => j >= 0.5 && j <= 1.0))
  }

  test("brute-force knn: self excluded, k respected, cosine in [-1,1], ranks contiguous") {
    val emb = Graft.table(spark, sf, "embeddings")
    val out = Similarity.bruteForceKnn(emb, "vec_id", "embedding", col("vec_id") < 10, k = 5)
      .collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 5)
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to 5L))
      assert(rows.forall(_.getLong(2) != q))
      assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    }
  }

  test("ivf knn: k-means training lifts recall vs the untrained seed; centroids are partition-count independent") {
    val emb = Graft.table(spark, sf, "embeddings")
    val qp = col("vec_id") < 30
    val truth = Similarity.bruteForceKnn(emb, "vec_id", "embedding", qp, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(iters: Int, df: org.apache.spark.sql.DataFrame = emb): Double = {
      val got = Similarity.ivfKnn(df, "vec_id", "embedding", qp, k = 3,
          lloydIters = iters)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      (truth intersect got).size.toDouble / truth.size
    }
    val untrained = recall(0)
    val trained = recall(2)
    info(s"recall@3 nprobe=2: untrained=$untrained trained=$trained")
    assert(trained >= untrained,
      s"k-means training must not hurt recall: trained=$trained untrained=$untrained")
    // trained quantizer is bit-deterministic: same result on 1 or 7 partitions
    val one = Similarity.ivfKnn(emb.coalesce(1), "vec_id", "embedding", qp, k = 3, lloydIters = 2)
      .collect().map(_.toString).sorted
    val many = Similarity.ivfKnn(emb.repartition(7), "vec_id", "embedding", qp, k = 3, lloydIters = 2)
      .collect().map(_.toString).sorted
    assert(one.sameElements(many))
  }

  test("kmeans: a centroid that loses all members carries forward (classic Lloyd, nlist constant)") {
    import spark.implicits._
    // seeds are vec 0 and vec 1; they are IDENTICAL, so every point
    // tie-breaks to cid 0 in round 1 and centroid 1 is emptied.
    val pts = Seq(
      0L -> Array(0.0, 0.0), 1L -> Array(0.0, 0.0),
      2L -> Array(1.0, 0.0), 3L -> Array(3.0, 0.0)
    ).toDF("vec_id", "emb")
    val r1 = Similarity.kmeansCentroids(pts, "vec_id", nlist = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(r1.keySet == Set(0L, 1L), "emptied centroid must survive the round")
    assert(r1(0L) == Seq(1.0, 0.0), "cid 0 = mean of all four members")
    assert(r1(1L) == Seq(0.0, 0.0), "cid 1 carries its previous position")
    // round 2: vec0/vec1 snap back to the carried centroid at the origin
    val r2 = Similarity.kmeansCentroids(pts, "vec_id", nlist = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(r2.keySet == Set(0L, 1L))
    assert(r2(0L) == Seq(2.0, 0.0) && r2(1L) == Seq(0.0, 0.0))
  }

  test("bigram LM cross-entropy: hand-computed tiny corpus") {
    import spark.implicits._
    // uni: a=3, b=3; V=2; bigrams: (a,b)=2, (b,a)=2 globally
    // p(b|a) = p(a|b) = (2+1)/(3+2) = 0.6 -> lp_mu = round(ln(0.6)*1e6) = -510826
    val tiny = Seq(1L -> "a b a b", 2L -> "b a").toDF("doc_id", "text")
    val out = graft.operators.TextLm.bigramCrossEntropy(tiny, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 0.510826), (2L, 1L, 0.510826)))
    // a one-token doc has no bigrams and is omitted
    val single = Seq(1L -> "a b", 2L -> "x").toDF("doc_id", "text")
    assert(graft.operators.TextLm.bigramCrossEntropy(single, "doc_id", "text")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("knCrossEntropy: hand-computed interpolated Kneser-Ney on a tiny corpus") {
    import spark.implicits._
    // bigram types: (a,b)=2, (b,a)=1, (b,c)=1 -> T=3; vocab {a,b,c} -> V=3;
    // hist: c1(a)=2 n1p(a)=1, c1(b)=2 n1p(b)=2; cont: nc(a)=nc(b)=nc(c)=1
    // p(b|a) = [(4*2-3)*6 + 3*1*2] / [4*2*6] = 36/48 = 0.75  -> -287682
    // p(a|b) = p(c|b) = [(4*1-3)*6 + 3*2*2] / 48 = 18/48 = 0.375 -> -980829
    // d1 "a b a b": (2*287682 + 980829)/3 = 1556193/3 = 518731 exactly
    // d2 "b c": 980829
    val tiny = Seq(1L -> "a b a b", 2L -> "b c").toDF("doc_id", "text")
    val (docBig, model) = knInputs(tiny)
    val out = TextLm.knCrossEntropyFrom(docBig, model, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 0.518731), (2L, 1L, 0.980829)))
  }

  test("knImportanceWeights: hand-computed ladder — observed / history-only / unseen-history") {
    import spark.implicits._
    // target = d1 "a b"; general adds d2 "a c b"
    // general: types (a,b),(a,c),(c,b) -> gt=3, gv=3 -> gt+gv=6
    //   p_g(b|a) = [1*6 + 3*2*(2+1)]/48 = 24/48 = 0.5        -> -693147
    //   p_g(c|a) = [6 + 3*2*2]/48      = 18/48 = 0.375       -> -980829
    //   p_g(b|c) = [6 + 3*1*3]/24      = 15/24 = 0.625       -> -470004
    // target: type (a,b) only -> tt=1, tv=2 -> tt+tv=3
    //   observed      (a,b): [1*3 + 3*1*2]/12 = 9/12 = 0.75  -> -287682
    //   history-only  (a,c): [0 + 3*1*(0+1)]/12 = 3/12 = 0.25 -> -1386294
    //   unseen-history(c,b): (tnc(b)+1)/3 = 2/3               -> -405465
    // s1: (405465)/1e6 = 0.405465 ; s2: (-405465 + 64539)/2e6 = -0.170463
    val df = Seq((1L, "s1", "en", "a b"), (2L, "s2", "de", "a c b"))
      .toDF("doc_id", "source", "lang", "text")
    val (docBig, model) = knInputs(df)
    val out = TextLm.knImportanceWeightsFrom(docBig, model,
        df, "doc_id", "text", "source", col("lang") === "en")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.toSeq == Seq(("s1", 1L, 0.405465), ("s2", 2L, -0.170463)))
  }

  test("knImportanceWeights: empty target -> NULL avg_logratio, not Inf-cast garbage") {
    import spark.implicits._
    // tt + tv = 0: no target model exists. The ratio must surface as NULL
    // (DuckDB would error on CAST(Inf AS BIGINT); Spark would silently
    // yield Long.MaxValue) — n_bigrams still counts the scored bigrams.
    val df = Seq((1L, "s1", "en", "a b"), (2L, "s2", "de", "a c b"))
      .toDF("doc_id", "source", "lang", "text")
    val (docBig, model) = knInputs(df)
    val out = TextLm.knImportanceWeightsFrom(docBig, model,
        df, "doc_id", "text", "source", col("lang") === "zz")
      .collect().map(r => (r.getString(0), r.getLong(1), r.isNullAt(2))).sortBy(_._1)
    assert(out.toSeq == Seq(("s1", 1L, true), ("s2", 2L, true)))
  }

  test("kn3CrossEntropy: hand-computed three-level KN recursion on a tiny corpus") {
    import spark.implicits._
    // trigram types (a,b,a):1, (b,a,b):1; bigram types (a,b),(b,a),(b,c)
    // -> T2=3, V=3 -> T2+V=6; nc(a)=nc(b)=1; s23 rows (b,a) and (a,b) so
    // npb(a)=npb(b)=1 (the exact C&G |{w3 : N1+(.w2w3)>0}| — NOT raw
    // bigram types per w2, which would give npb(b)=2 via (b,c))
    // (a,b,a): p1(a)=2/6, p2(a|b)=1/4 + (3*1/4)*(1/3) = 0.5,
    //          p3 = 1/4 + (3/4)*0.5 = 0.625              -> -470004
    // (b,a,b): p2(b|a)=1/4 + (3/4)*(1/3) = 0.5, p3 = 0.625 -> -470004
    // d1: (470004+470004)/2 = 470004; d2 "b c" has no trigrams
    val tiny = Seq(1L -> "a b a b", 2L -> "b c").toDF("doc_id", "text")
    val out = TextLm.kn3CrossEntropyFrom(
        TextLm.docBigrams(tiny, "doc_id", "text"), tiny, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toList == List((1L, 2L, 0.470004)))
    // 1-token docs must not reach slice with a negative length
    val one = Seq(1L -> "x", 2L -> "p q r").toDF("doc_id", "text")
    assert(TextLm.kn3CrossEntropyFrom(
        TextLm.docBigrams(one, "doc_id", "text"), one, "doc_id", "text")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("mknCrossEntropy: hand-computed count-of-counts discounts on a tiny corpus") {
    import spark.implicits._
    // bigram counts: (a,b)=3,(b,a)=2,(c,d)=4,(d,c)=4,(e,f)=1
    // -> n1=1,n2=1,n3=1,n4=2; Y=1/3; D1=1/3, D2=1, D3+=3-8/3=1/3
    // T=5, V=6, all nc=1 -> pcont=2/11
    //   p(b|a)=(3-1/3)/3 + (D3*1/3)*(2/11) = 10/11      -> -95310
    //   p(a|b)=(2-1)/2   + (D2*1/2)*(2/11) = 13/22      -> -526093
    //   p(d|c)=p(c|d)=(4-1/3)/4 + (D3*1/4)*(2/11)=41/44 -> -70618
    //   p(f|e)=(1-1/3)/1 + (D1*1/1)*(2/11) = 8/11       -> -318454
    // d1: (3*95310+2*526093)/5 -> 0.267623 (5 bigrams)
    // d2: 70618 (8); d3: 318454 (1)
    val tiny = Seq(1L -> "a b a b a b", 2L -> "c d c d c d c d c",
      3L -> "e f").toDF("doc_id", "text")
    val out = TextLm.mknCrossEntropyFrom(
        TextLm.docBigrams(tiny, "doc_id", "text"), tiny, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.toList == List((1L, 5L, 0.267623), (2L, 8L, 0.070618),
      (3L, 1L, 0.318454)))
    // degenerate count-of-counts (every bigram count = 1 -> n2 = 0):
    // discounts fall back to the fixed D = 3/4 => identical to the
    // interpolated-KN scorer on the same corpus
    val deg = Seq(1L -> "p q r", 2L -> "r p").toDF("doc_id", "text")
    val (docBig, model) = knInputs(deg)
    val mkn = TextLm.mknCrossEntropyFrom(docBig, deg, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    val kn = TextLm.knCrossEntropyFrom(docBig, model, "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    assert(mkn.toList == kn.toList)
  }

  test("minKProb: bottom-k% instance take splits the boundary type exactly") {
    import spark.implicits._
    // KN model on {(a,b) c2=2, (b,a) c2=2, (a,c) c2=1}: lp(a,b)=-538997,
    // lp(b,a)=-287682, lp(a,c)=-1386294. d1 m=4 -> kk=1: ONE instance of
    // the lowest type (a,b) even though its occ=2 (the least() split);
    // d2 m=1 -> its single bigram
    val docs = Seq(1L -> "a b a b a", 2L -> "a c").toDF("doc_id", "text")
    val (docBig, model) = knInputs(docs)
    val out = TextLm.minKProbFrom(docBig, model, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.toList == List((1L, 4L, 0.538997), (2L, 1L, 1.386294)))
    // cross-type take: m=6 -> kk=2 spans the occ-1 lowest type (c,a)
    // AND one instance of the next ((b,a)): (470004+207639)/2 -> 338822
    val d3 = Seq(1L -> "c a b a b a b").toDF("doc_id", "text")
    val (docBig3, model3) = knInputs(d3)
    val out3 = TextLm.minKProbFrom(docBig3, model3, "doc_id")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(out3.toList == List((6L, 0.338822)))
  }

  test("capPerKey: bit-identical to the row_number formulation, window-free plan, cap respected") {
    val d = docs.select(col("doc_id"), col("source"))
    val capped = graft.operators.Scale.capPerKey(d, "source", "doc_id", cap = 3)
    assert(!capped.queryExecution.executedPlan.toString.contains("Window"),
      "capPerKey must be a bounded aggregation, not a rank window")
    val got = capped.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("u"), col("doc_id"))
    val expected = d
      .withColumn("u", graft.operators.Sketches.hash60(col("doc_id")) /
        lit((1L << 60).toDouble))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("source"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected)
    val perKey = got.groupBy(_._1).map(_._2.size)
    assert(perKey.nonEmpty && perKey.forall(_ <= 3))
  }

  test("lsh knn neighbors are a subset of brute-force candidates' scores") {
    val emb = Graft.table(spark, sf, "embeddings")
    val bf = Similarity.bruteForceKnn(emb, "vec_id", "embedding", col("vec_id") < 10, k = 100)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshKnn(emb, "vec_id", "embedding", col("vec_id") < 10, k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every LSH hit is a genuine vector pair (not fabricated ids)
    assert(lsh.forall { case (q, n) => q != n })
    assert(lsh.nonEmpty)
    assert(bf.nonEmpty)
  }

  test("phraseSearch: overlapping matches, non-adjacency excluded, brute-force parity") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a a a"),              // "a a" overlaps: 2 matches
      (2L, "a b a b a"),          // "a b" twice, non-overlapping
      (3L, "b a x a b"),          // has both terms but never "a b" adjacent... b at 4 after a at 3 -> 1
      (4L, "c c c c"),            // no phrase terms at all
      (5L, "a"),                  // prefix only, no room for second term
      (6L, "x a b")               // single match at the end
    ).toDF("doc_id", "text")
    val got = graft.operators.TextSearch.phraseSearch(corpus, "doc_id", "text", Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute-force sliding window over the token arrays
    val expect = Seq(1L -> "a a a", 2L -> "a b a b a", 3L -> "b a x a b",
        4L -> "c c c c", 5L -> "a", 6L -> "x a b")
      .map { case (id, t) =>
        val ws = t.split(" ")
        id -> ws.indices.count(i => i + 1 < ws.length && ws(i) == "a" && ws(i + 1) == "b")
      }.filter(_._2 > 0).map { case (k, v) => k -> v.toLong }.toMap
    assert(got == expect)
    // the three-term phrase finds the corpus's known planted occurrences
    val three = graft.operators.TextSearch.phraseSearch(docs, "doc_id", "text",
      Seq("slow", "hash", "batch")).collect()
    assert(three.forall(_.getLong(1) >= 1L))
  }

  test("phraseSearch plan: exactly one exchange, postings filtered before it") {
    val q = graft.operators.TextSearch.phraseSearch(docs, "doc_id", "text",
      Seq("slow", "hash", "batch"))
    val plan = q.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"want one doc-keyed shuffle, got:\n$plan")
    // the term IN (...) filter must survive into the physical plan (postings
    // restricted before the shuffle, not inside the fold)
    assert(plan.contains("slow"), s"phrase-term filter missing from the plan:\n$plan")
  }

  test("labelCentroidConfusion: separable clusters give a diagonal matrix; counts conserved; partition-invariant") {
    import spark.implicits._
    // two tight clusters far apart: every vector must re-assign to its own label
    val emb = (0 until 20).map { i =>
      val l = i % 2
      val base = if (l == 0) 10.0f else -10.0f
      (i.toLong, Array.fill(8)(base + (i / 2) * 0.001f), l)
    }.toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity
      .labelCentroidConfusion(emb, "vec_id", "embedding", "label")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(got == Map((0, 0) -> 10L, (1, 1) -> 10L))
    // real corpus: counts conserved and invariant under repartitioning
    val real = Graft.table(spark, sf, "embeddings")
    def run(df: org.apache.spark.sql.DataFrame) = graft.operators.Similarity
      .labelCentroidConfusion(df, "vec_id", "embedding", "label")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val a = run(real)
    val b = run(real.repartition(7))
    assert(a == b, "confusion counts moved under a different partitioning")
    assert(a.values.sum == real.count())
  }

  test("crossGroupOverlap equals the brute-force shared-shingle count; no self/reversed pairs") {
    val got = TextDedup.crossGroupOverlap(docs, "source", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // brute force on the driver from the same shingle definition
    val sets = TextDedup.shingles(docs, "source", "text", k = 5)
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (g, rows) => g -> rows.map(_._2).toSet }
    val expect = (for {
      (ga, sa) <- sets; (gb, sb) <- sets if ga < gb
      n = (sa intersect sb).size if n > 0
    } yield (ga, gb) -> n.toLong).toMap
    assert(got == expect)
    assert(got.keys.forall { case (a, b) => a < b })
  }

  test("knnClassify: clear majority wins; vote ties go to the smaller label; k respected") {
    import spark.implicits._
    // queries: id 0 at (1,0), id 1 at (0,1). candidates: two label-2 and two
    // label-5 vectors all near (1,0) — a 2-2 tie for query 0 at k=4 — and
    // three label-3 vectors near (0,1) — a clear majority for query 1.
    val emb = Seq(
      (0L, Array(1f, 0f), 9), (1L, Array(0f, 1f), 9),
      (100L, Array(1f, 0.01f), 2), (101L, Array(1f, -0.01f), 2),
      (102L, Array(0.99f, 0.02f), 5), (103L, Array(0.99f, -0.02f), 5),
      (104L, Array(0.1f, 1f), 3), (105L, Array(-0.1f, 1f), 3),
      (106L, Array(0f, 0.9f), 3))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(emb, "vec_id", "embedding", "label",
        col("vec_id") < 2, col("vec_id") >= 100, k = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got(0L) == ((2, 2L)), "tie 2-2 must resolve to the smaller label")
    assert(got(1L) == ((3, 3L)), "clear majority")
    // real corpus invariants: one row per query, votes in [1, k]
    val real = Similarity.knnClassify(Graft.table(spark, sf, "embeddings"),
      "vec_id", "embedding", "label", col("vec_id") < 20, col("vec_id") >= 20, k = 5)
      .collect()
    assert(real.length == 20)
    assert(real.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 5L))
  }

  test("rrf: hand-computed fusion of two lists; micro-unit exactness; id tie-break") {
    import spark.implicits._
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "r")
    val b = Seq((3L, 1), (1L, 2)).toDF("id", "r")
    val got = graft.operators.RankFusion.rrf(
        Seq((a, "id", "r"), (b, "id", "r")), outId = "id", topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // round(1e6/61)=16393, /62=16129, /63=15873
    val expect = Seq(
      (1L, (16393 + 16129) / 1e6),  // 0.032522
      (3L, (15873 + 16393) / 1e6),  // 0.032266
      (2L, 16129 / 1e6))
    assert(got.toSeq == expect)
  }

  test("annRecall: recall 1.0 when LSH buckets are uniform; zero-hit queries appear as 0; bounds") {
    import spark.implicits._
    // all vectors positive in the first 4 dims -> one LSH bucket -> the ANN
    // sees every candidate and must reproduce the exact top-k: recall == 1
    val one = (0L until 12L).map(i =>
        (i, Array(1f, 1f, 1f, 1f, (i % 5).toFloat / 4f, ((i * 3) % 7).toFloat / 6f)))
      .toDF("vec_id", "embedding")
    val perfect = graft.operators.Similarity
      .annRecall(one, "vec_id", "embedding", col("vec_id") < 6, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(perfect.length == 6)
    assert(perfect.forall { case (_, n, rec) => n == 3L && rec == 1.0 })
    // query 0 alone in its orthant: its bucket has no other member, the ANN
    // returns nothing for it, and it must still appear with recall 0
    val split = Seq(
      (0L, Array(-1f, -1f, -1f, -1f, 1f, 0f)),
      (1L, Array(1f, 1f, 1f, 1f, 1f, 0f)),
      (2L, Array(1f, 1f, 1f, 1f, 0.9f, 0.1f)),
      (3L, Array(1f, 1f, 1f, 1f, 0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity
      .annRecall(split, "vec_id", "embedding", col("vec_id") < 2, k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(0L) == 0.0, "isolated-bucket query surfaces with recall 0")
    assert(got(1L) == 1.0)
    // real corpus: recall within [0,1], one row per query with >=1 exact neighbor
    val real = graft.operators.Similarity.annRecall(
        Graft.table(spark, sf, "embeddings"), "vec_id", "embedding",
        col("vec_id") < 20, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(real.length == 20)
    assert(real.forall { case (_, rec) => rec >= 0.0 && rec <= 1.0 })
  }

  test("keywordsPerDoc: planted rare term outranks ubiquitous terms; ranks contiguous") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "common common common zebrafish common"),
      (2L, "common common common common common"),
      (3L, "common common unicorns common common")).toDF("doc_id", "text")
    val got = graft.operators.TextRank
      .keywordsPerDoc(corpus, "doc_id", "text", k = 2, minTermLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val byDoc = got.groupBy(_._1)
    // df(common)=3 of 3 docs -> idf 0; the doc-unique term must rank first
    assert(byDoc(1L).minBy(_._2)._3 == "zebrafish")
    assert(byDoc(3L).minBy(_._2)._3 == "unicorns")
    assert(byDoc(2L).map(_._3).toSeq == Seq("common"), "only term available")
    got.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).sorted.sameElements(1L to rows.length))
    }
  }

  test("quality-aware retention keeps exactly the longest member per cluster") {
    val rows = SparkEntry.queries("q121_retention_longest")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byCluster = rows.groupBy(_._1)
    assert(byCluster.nonEmpty)
    byCluster.foreach { case (c, ms) =>
      assert(ms.count(_._4 == 1L) == 1, s"cluster $c keeps exactly one")
      val kept = ms.find(_._4 == 1L).get
      val best = ms.maxBy(m => (m._3, -m._2))
      assert(kept._2 == best._2, s"cluster $c must keep longest, tie smaller id")
    }
  }

  test("cluster histogram conserves clustered docs and excludes singletons by construction") {
    val clusters = TextDedup.connectedComponents(
      TextDedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5))
    val hist = SparkEntry.queries("q116_cluster_histogram")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // histogram mass = number of clustered docs; every cluster has >= 2 members
    assert(hist.map { case (size, n) => size * n }.sum == clusters.count())
    assert(hist.forall(_._1 >= 2), "a connected component has at least 2 members")
  }

  test("split leakage matches a string-shingle brute force; corpus card counts conserved") {
    import org.apache.spark.sql.functions.{count_distinct, when, lit}
    val u = graft.operators.Sketches.hash60(col("doc_id")) / lit((1L << 60).toDouble)
    val assigned = docs.select(col("doc_id"), col("text"),
      when(u < 0.9, "train").when(u < 0.95, "val").otherwise("test").as("split"))
    // brute force with raw string shingles instead of the query's FNV hashes
    val sh = TextDedup.shingles(assigned, "doc_id", "text", k = 13)
      .join(assigned.select(col("doc_id"), col("split")), "doc_id")
      .select(col("split"), col("doc_id"), col("sh")).distinct()
    val tr = sh.where(col("split") === "train").select(col("sh")).distinct()
    val te = sh.where(col("split") === "test").select(col("doc_id"), col("sh"))
    val expect = te.join(tr, Seq("sh"), "leftsemi")
      .agg(count_distinct(col("sh")), count_distinct(col("doc_id")))
      .collect().head
    val got = SparkEntry.queries("q118_split_leakage")(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1)) == ((expect.getLong(0), expect.getLong(1))))
    val card = SparkEntry.queries("q119_corpus_card")(spark, sf).collect().head
    assert(card.getLong(0) == docs.count())
    assert(card.getLong(5) <= card.getLong(0), "unique texts <= docs")
    val dupFrac = card.getDouble(6)
    assert(dupFrac >= 0.0 && dupFrac < 1.0)
  }

  test("quality funnel partitions the corpus; fertility >= 1 for every language") {
    val funnel = SparkEntry.queries("q114_quality_funnel")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel.keySet.subsetOf(Set("too_short", "token_len", "low_stopword", "pass")))
    assert(funnel.values.sum == docs.count(), "every doc hits exactly one gate")
    val fert = SparkEntry.queries("q115_tokenizer_fertility")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(4)))
    // each whitespace word yields >= 1 subword token, so fertility >= 1
    assert(fert.nonEmpty && fert.forall(_._3 >= 1.0))
    assert(fert.map(_._2).sum == docs.count())
  }

  test("madOutliers: hand-computed medians/MAD; strict cutoff; clean group flags nothing") {
    import spark.implicits._
    val df = ((1 to 9).map(v => ("a", v.toLong * 10, v.toLong)) :+ (("a", 990L, 100L)))
      .++((1 to 4).map(v => ("b", v.toLong, v.toLong)))
      .toDF("grp", "id", "v")
    // group a: median 5.5, adevs [4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,94.5],
    // MAD 2.5 -> cutoff 7.5 flags only the 100. group b: MAD 1.0, none.
    try {
      val got = graft.operators.Robust.madOutliers(df, "grp", "id", "v", cutoff = 3.0)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      assert(got.toSeq == Seq(("a", 990L, 100L, 5.5, 2.5)))
      // MAD = 0 degeneracy: > half identical values => MAD 0 => the strict
      // test flags every nonzero deviation
      val flat = (Seq.fill(6)(100L) ++ Seq(101L, 99L, 400L)).zipWithIndex
        .map { case (v, i) => ("g", i.toLong, v) }.toDF("grp", "id", "v")
      val flood = graft.operators.Robust.madOutliers(flat, "grp", "id", "v", cutoff = 3.0)
        .select("v").collect().map(_.getLong(0)).toSet
      assert(flood == Set(101L, 99L, 400L), s"MAD=0 floods every deviation: $flood")
    } finally graft.operators.CacheScope.drain() // madOutliers persists its dev table
  }

  test("tokenPmi: hand-computed document co-occurrence PMI, threshold respected") {
    import spark.implicits._
    // doc-level counts: a in 4 docs, b in 4, c in 3; pairs (a,b)=3,
    // (a,c)=2, (b,c)=2; N=5. Repeats within d1 must NOT inflate counts.
    val df = Seq(
      (1L, "a b a b"), (2L, "a b"), (3L, "a c"), (4L, "b c"), (5L, "a b c"))
      .toDF("doc_id", "text")
    val got = graft.operators.CorpusStats
      .tokenPmi(df, "doc_id", "text", minPairCount = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(got(("a", "b")) == (3L, BigDecimal(math.log(5.0 * 3 / 16))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(got(("a", "c")) == (2L, BigDecimal(math.log(10.0 / 12))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(got(("b", "c")) == got(("a", "c")))
    // raising the threshold drops the 2-count pairs
    assert(graft.operators.CorpusStats.tokenPmi(df, "doc_id", "text", 3)
      .count() == 1)
  }

  test("dupNgramFraction: cross-doc duplicated bigrams, short docs omitted") {
    import spark.implicits._
    val df = Seq((1L, "x y z"), (2L, "x y q"), (3L, "z q"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextDedup
      .dupNgramFraction(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // only "x y" (docs 1,2) repeats across documents
    assert(got == Map(
      1L -> ((2L, 1L, 0.5)), 2L -> ((2L, 1L, 0.5)), 3L -> ((1L, 0L, 0.0))),
      s"doc 4 has no bigram and must be absent: $got")
  }

  test("zipfSlope: matches the micro-unit least-squares formula on a known vocab") {
    import spark.implicits._
    // one source, freqs 8/4/2/1 -> ranks 1..4; replicate the exact integer
    // arithmetic the operator commits to
    val df = Seq((1L, "a a a a a a a a b b b b c c d"))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    val got = graft.operators.CorpusStats.zipfSlope(df, "source", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val xy = Seq((1, 8), (2, 4), (3, 2), (4, 1)).map { case (r, c) =>
      (math.round(math.log(r.toDouble) * 1e6), math.round(math.log(c.toDouble) * 1e6))
    }
    val (n, sx, sy) = (xy.size.toLong, xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val want = BigDecimal((n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(("s", 4L, want)))
    // freqs 8/4/2/1 over ranks 1..4 fit steeper than pure Zipf (halving per
    // rank, not per doubling): least squares lands near -1.46
    assert(want < -1.3 && want > -1.6, s"halving vocab fits near -1.46: $want")
  }

  test("ngramNovelty: first-occurrence by id order, short docs omitted") {
    import spark.implicits._
    val df = Seq((1L, "x y z"), (2L, "x y q"), (3L, "z q"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextDedup.ngramNovelty(df, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // d1 brings both its bigrams; d2 re-delivers "x y" (first seen in d1);
    // d3's "z q" is new; d4 has no bigram
    assert(got == Map(
      1L -> ((2L, 2L, 1.0)), 2L -> ((2L, 1L, 0.5)), 3L -> ((1L, 1L, 1.0))),
      s"got $got")
  }

  test("nucleusCoverage: head-first prefix count against the exact threshold") {
    import spark.implicits._
    // counts 8/4/2/1, total 15, p=0.9 -> target 13.5: cum-before values
    // 0/8/12/14 -> a,b,c are in the nucleus, d is not
    val df = Seq((1L, "a a a a a a a a b b b b c c d"))
      .toDF("doc_id", "text").withColumn("source", lit("s"))
    val got = graft.operators.CorpusStats.nucleusCoverage(df, "source", "text", 0.9)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("s", 4L, 15L, 3L)))
  }

  test("sourceKeyness: hand-computed G2, only over-represented tokens ranked") {
    import spark.implicits._
    // A: x*10 y*5  B: y*10 z*5 — x is A-exclusive (b=0 term vanishes),
    // y is over-represented in B only, z is B-exclusive
    val df = Seq(
      ("A", ("x " * 10) + ("y " * 4) + "y"),
      ("B", ("y " * 10) + ("z " * 4) + "z"))
      .toDF("source", "text")
    def g2(a: Long, ts: Long, ct: Long, n: Long): Double = {
      val t1 = a.toDouble * math.log(a.toDouble * n / (ts.toDouble * ct))
      val t2 = if (ct > a) (ct - a).toDouble *
        math.log((ct - a).toDouble * n / ((n - ts).toDouble * ct)) else 0.0
      BigDecimal(2.0 * (t1 + t2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = graft.operators.CorpusStats
      .sourceKeyness(df, "source", "text", k = 2, minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
    // y in A (5/15 < 15/30) is under-represented and must NOT appear
    assert(got == Set(
      ("A", "x", 10L, g2(10, 15, 10, 30), 1L),
      ("B", "z", 5L, g2(5, 15, 5, 30), 1L),
      ("B", "y", 10L, g2(10, 15, 15, 30), 2L)), s"got $got")
  }

  test("labelCentroidDistances: exact micro-unit centroids, known cosines") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(1f, 0f), 0), // centroid (1e6, 0)
      (3L, Array(0f, 1f), 1),                          // centroid (0, 1e6)
      (4L, Array(1f, 1f), 2))                          // centroid (1e6, 1e6)
      .toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity
      .labelCentroidDistances(df, "vec_id", "embedding", "label")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val invSqrt2 = BigDecimal(1.0 / math.sqrt(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map((0, 1) -> 0.0, (0, 2) -> invSqrt2, (1, 2) -> invSqrt2),
      s"got $got")
  }

  test("clusterGroupPurity: hand-computed entropy, mirrors vs reposts") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "C"), (5L, "C"))
      .toDF("doc_id", "source")
    val got = graft.operators.TextDedup
      .clusterGroupPurity(clusters, docs, "doc_id", "source")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // cluster 1: counts {A:2, B:1} -> H = ln3 - (2*round(ln2*1e6)/1e6)/3
    val mirrorH = BigDecimal(math.log(3.0) -
        2 * math.round(math.log(2.0) * 1e6) / 1e6 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((3L, 2L, 2.0 / 3.0, mirrorH)), s"got $got")
    // cluster 4: within-source repost -> zero entropy, full majority
    assert(got(4L) == ((2L, 1L, 1.0, 0.0)), s"got $got")
  }

  test("jsDivergence: identical groups diverge 0, disjoint groups ln 2") {
    import spark.implicits._
    val df = Seq(
      ("A", "x x y z"), ("B", "x x y z"),  // identical distributions
      ("C", "p q r s"))                    // disjoint from both
      .toDF("source", "text")
    val got = graft.operators.CorpusStats
      .jsDivergence(df, "source", "text", topV = 100)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(got(("A", "B"))._2 == 0.0, s"identical groups: $got")
    assert(got(("A", "B"))._1 == 3L)
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // disjoint: every token contributes p*ln2 on its side only (7 grid
    // tokens, each quantized to +-0.5 micro-units => within 4e-6)
    assert(math.abs(got(("A", "C"))._2 - ln2) < 4e-6, s"disjoint: $got")
    assert(got(("A", "C"))._1 == 0L)
  }

  test("oovRate: occurrences outside the deterministic top-V are counted") {
    import spark.implicits._
    // global counts: a=4, b=3, rare1=1, rare2=1 -> top-2 = {a, b}
    val df = Seq(("S1", "a a b rare1"), ("S2", "a a b b rare2"))
      .toDF("source", "text")
    val got = graft.operators.CorpusStats.oovRate(df, "source", "text", topV = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map("S1" -> ((4L, 1L, 0.25)), "S2" -> ((5L, 1L, 0.2))),
      s"got $got")
  }

  test("mixPlan: uniform budget split, epoch math, upsampling flags") {
    import spark.implicits._
    // available: S1 = 50 tokens, S2 = 350 -> total 400, budget 200, 100 each
    val df = Seq.tabulate(10)(i => ("S1", Seq.fill(5)("t").mkString(" "))) ++
      Seq.tabulate(10)(i => ("S2", Seq.fill(35)("t").mkString(" ")))
    val got = graft.operators.CorpusStats
      .mixPlan(df.toDF("source", "text"), "source", "text",
        maxEpochs = 1.5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5))))
      .toMap
    // S1 must repeat 2x (over the 1.5 cap); S2 subsamples
    assert(got == Map(
      "S1" -> ((50L, 100L, 2.0, 1L, 1L)),
      "S2" -> ((350L, 100L, BigDecimal(100.0 / 350.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, 0L, 0L))),
      s"got $got")
  }

  test("crossEntropyMix: buckets partition each source, means are ordered, cuts are order statistics") {
    val docs = Graft.table(spark, sf, "documents")
    val scored = graft.operators.TextLm
      .bigramCrossEntropy(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val perSource = scored.groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mix = graft.operators.TextLm
      .crossEntropyMix(docs, "doc_id", "text", "source")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    perSource.foreach { case (src, n) =>
      val Seq(h, m, t) = Seq("head", "middle", "tail")
        .map(b => mix.getOrElse((src, b), (0L, Double.NaN)))
      assert(h._1 + m._1 + t._1 == n, s"$src: buckets must partition the source")
      // means ascend across the buckets that exist (tiny sources can
      // leave middle/tail empty — ties at a cut land in the lower bucket)
      val means = Seq(h, m, t).filter(_._1 > 0).map(_._2)
      assert(means == means.sorted, s"$src: bucket means must ascend: $means")
      // cutoffs are ceil-style order statistics: head covers >= n/3,
      // head+middle >= 2n/3 (ties at the cut land low, so >= not ==)
      assert(3 * h._1 >= n && 3 * (h._1 + m._1) >= 2 * n, s"$src: $h $m $t / $n")
    }
  }

  test("winnowing: shifted text still shares fingerprints; unrelated text shares none") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, "zz yy xx " + base),               // same content, shifted 3 tokens
      (3L, (1 to 30).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val fps = graft.operators.TextDedup
      .winnowedFingerprints(df, "doc_id", "text", k = 5, w = 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // winnowing guarantee: a shared run >= k+w-1 tokens shares a fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shifted copy must share fingerprints")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "unrelated docs must not")
    // each doc selects at most one fingerprint per window position
    assert(byDoc(1L).size <= 30 - 5 + 1 - 4 + 1)
    val pairs = graft.operators.TextDedup
      .winnowNearDupPairs(df, "doc_id", "text", k = 5, w = 4,
        minShared = 1, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("winnowNearDupPairs: an id that cannot pack into 32 bits fails the query") {
    import spark.implicits._
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val bad = Seq(
      "non-numeric" -> Seq(("1", text), ("x7", text)).toDF("doc_id", "text"),
      "negative" -> Seq((1L, text), (-3L, text)).toDF("doc_id", "text"),
      "2^32" -> Seq((1L, text), (1L << 32, text)).toDF("doc_id", "text"))
    bad.foreach { case (kind, df) =>
      val e = intercept[Exception](graft.operators.TextDedup
        .winnowNearDupPairs(df, "doc_id", "text", k = 5, w = 4,
          minShared = 1, maxDf = 10).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("must be an integer in [0, 2^32)")),
        s"$kind id: unexpected failure $e")
    }
  }

  test("semanticDedup: within-cluster near-dups drop against the earliest member") {
    import spark.implicits._
    // iters=0 keeps the seed centroids (= vectors 0 and 1): cluster A ~ [1,0],
    // cluster B ~ [0,1]. Vectors 2 and 3 land in A and are cosine-close to
    // vector 0, so both drop (anchor-greedy); 4 lands in B below threshold.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(1.0f, 0.01f), 0),
      (4L, Array(0.5f, 0.9f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity
      .semanticDedupFrom(Similarity.semAssignmentFrames(emb, "vec_id",
        "embedding", nlist = 2, lloydIters = 0)._1, "vec_id", threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      0L -> ((0L, 1L)), 2L -> ((0L, 0L)), 3L -> ((0L, 0L)),
      1L -> ((1L, 1L)), 4L -> ((1L, 1L))), s"got $got")
  }

  test("hardNegatives: only cross-label neighbors, ranked by cosine") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f), 1),
      (2L, Array(0.8f, 0.6f), 0),
      (3L, Array(0.6f, 0.8f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity
      .hardNegatives(emb, "vec_id", "embedding", "label", col("vec_id") < 2, k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // query 0 (label 0): negatives are 1 and 3 — cos 0.0 and 0.6
    assert(got((0L, 1L)) == ((3L, 1L, 0.6)), s"got $got")
    assert(got((0L, 2L)) == ((1L, 1L, 0.0)), s"got $got")
    // query 1 (label 1): negatives are 0 and 2 — cos 0.0 and 0.6
    assert(got((1L, 1L)) == ((2L, 0L, 0.6)), s"got $got")
    assert(got((1L, 2L)) == ((0L, 0L, 0.0)), s"got $got")
    assert(got.size == 4)
  }

  test("attritionByGroup: rates from a hand-built worklist") {
    import spark.implicits._
    val worklist = Seq(
      ("A", 1L), ("A", 0L), ("A", 0L), ("A", 1L),  // half of A dropped
      ("B", 1L), ("B", 1L))                        // B untouched
      .toDF("source", "keep")
    val got = graft.operators.TextDedup.attritionByGroup(worklist, "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map(
      "A" -> ((4L, 2L, 2L, 0.5)),
      "B" -> ((2L, 2L, 0L, 0.0))), s"got $got")
  }

  test("embeddingHygiene: zero-norm and NaN vectors counted, norm envelope exact") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(3.0f, 4.0f), 0),            // norm 5
      (1L, Array(0.0f, 0.0f), 0),            // zero norm
      (2L, Array(Float.NaN, 1.0f), 0),       // non-finite
      (3L, Array(0.0f, 2.0f), 1))            // norm 2
      .toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity
      .embeddingHygiene(emb, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(6)))).toMap
    // label 0 mean covers FINITE vectors only: (5e6 + 0)/2/1e6 = 2.5
    assert(got(0L) == ((3L, 1L, 1L, 2.5)), s"got $got")
    assert(got(1L) == ((1L, 0L, 0L, 2.0)), s"got $got")
  }

  test("consecutiveRepetition: runs and stutter fraction, single-token doc") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a b b c"),
      (2L, "x"),
      (3L, "p q p q"))
      .toDF("doc_id", "text")
    val got = graft.operators.CorpusStats
      .consecutiveRepetition(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map(
      1L -> ((6L, 3L, 3L, 0.5)),
      2L -> ((1L, 0L, 1L, 0.0)),
      3L -> ((4L, 0L, 1L, 0.0))), s"got $got")
  }

  test("templateShapes: same length-sequence collapses to one shape; top share exact") {
    import spark.implicits._
    val df = Seq(
      ("A", "aa bbb c"), ("A", "xx yyy z"), ("A", "q"),  // two share shape 2,3,1
      ("B", "one"))
      .toDF("source", "text")
    val got = graft.operators.CorpusStats.templateShapes(df, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val twoThirds = BigDecimal(2.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(
      "A" -> ((3L, 2L, 2L, twoThirds)),
      "B" -> ((1L, 1L, 1L, 1.0))), s"got $got")
  }

  test("minhashCalibration: identical docs estimate and verify at 1.0") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, base), (2L, base),
      (3L, (1 to 20).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.operators.TextDedup
      .minhashCalibration(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got((1L, 2L)) == ((8L, 1.0, 1.0)), s"got $got")
    // unrelated doc 3 must not agree on all draws with either twin
    got.filterKeys(k => k._1 == 3L || k._2 == 3L).foreach { case (k, v) =>
      assert(v._1 < 8L, s"$k unexpectedly fully agrees: $v")
    }
  }

  test("percentileCalibration: ties share the upper cumulative fraction, groups independent") {
    import spark.implicits._
    val df = Seq(
      (1L, "A", 10L), (2L, "A", 10L), (3L, "A", 20L),
      (4L, "B", 5L))
      .toDF("doc_id", "source", "n_chars")
    val got = graft.operators.CorpusStats
      .percentileCalibration(df, "doc_id", "source", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val twoThirds = BigDecimal(2.0 / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(1L -> twoThirds, 2L -> twoThirds, 3L -> 1.0, 4L -> 1.0),
      s"got $got")
  }

  test("importanceWeights: hand-computed DSIR log-ratios on a 2-doc corpus") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b", "s1", "en"),
      (2L, "a b c", "s2", "de"))
      .toDF("doc_id", "text", "source", "lang")
    val got = graft.operators.TextLm
      .importanceWeights(df, "doc_id", "text", "source", col("lang") === "en")
      .collect().map(r => r.getString(0) -> ((r.getString(0), r.getLong(1), r.getDouble(2))))
      .toMap

    // target = doc 1: tUni a:2 b:2 (tv=2), tBig (a,b):2 (b,a):1
    // general:        gUni a:3 b:3 c:1 (gv=3), gBig (a,b):3 (b,a):1 (b,c):1
    def mu(p: Double): Long =
      BigDecimal(math.log(p) * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lrAB = mu(3.0 / 4.0) - mu(4.0 / 6.0) // (a,b): t (2+1)/(2+2), g (3+1)/(3+3)
    val lrBA = mu(2.0 / 4.0) - mu(2.0 / 6.0) // (b,a): t (1+1)/(2+2), g (1+1)/(3+3)
    val lrBC = mu(1.0 / 4.0) - mu(2.0 / 6.0) // (b,c): target-unseen -> (0+1)/(2+2)
    val expS1 = r6((2.0 * lrAB + 1.0 * lrBA) / 1e6 / 3.0)
    val expS2 = r6((1.0 * lrAB + 1.0 * lrBC) / 1e6 / 2.0)
    assert(got == Map("s1" -> ("s1", 3L, expS1), "s2" -> ("s2", 2L, expS2)),
      s"got $got expected s1=(3,$expS1) s2=(2,$expS2)")
    assert(got("s1")._3 > got("s2")._3,
      "the all-target source must score more target-like than the non-target one")
  }

  test("blockedEditDistance: in-block pair found, cross-block ignored, oversized block dropped") {
    import spark.implicits._
    val blkA = "A" * 16
    val blkB = "B" * 16
    val blkC = "C" * 16
    val df = Seq(
      (1L, blkA + " hello world xx"),
      (2L, blkA + " hello worlb xx"), // 1 edit inside the 64-char prefix
      (3L, blkB + " hello world xx"), // similar text, different block
      (4L, blkC + " p1"), (5L, blkC + " p2"), (6L, blkC + " p3")) // block of 3
      .toDF("doc_id", "text")
    val got = TextDedup
      .blockedEditDistance(df, "doc_id", "text", maxBlock = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L)),
      s"expected exactly the in-block 1-edit pair, got $got")
  }

  test("bpeMergeCandidates: vocabulary-weighted pair counts, lexicographic tie-break") {
    import spark.implicits._
    // vocab: ab x3, abc x1 -> pair 'ab' = 3+1, 'bc' = 1
    val df = Seq((1L, "ab ab abc"), (2L, "ab")).toDF("doc_id", "text")
    val got = graft.operators.CorpusStats.bpeMergeCandidates(df, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.toSet == Set(("ab", 4L), ("bc", 1L)), s"got $got")
    // equal counts -> the lexicographically smaller pair wins the cut
    val tie = Seq((1L, "xy za xy za")).toDF("doc_id", "text")
    val top1 = graft.operators.CorpusStats.bpeMergeCandidates(tie, "text", k = 1)
      .collect().map(_.getString(0)).toSeq
    assert(top1 == Seq("xy"), s"got $top1")
  }

  test("rankEnsembleQuality: hand-computed percentiles and ensemble mean") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a"),    // len 3, ttr .5, stop 0
      (2L, "the a"),  // len 5, ttr 1,  stop .5
      (3L, "a b c"))  // len 5, ttr 1,  stop 0
      .toDF("doc_id", "text")
    val got = graft.operators.CorpusStats
      .rankEnsembleQuality(df, "doc_id", "text", "('the')")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val third = r6(1.0 / 3); val twoThirds = r6(2.0 / 3)
    assert(got(1L) == ((third, third, twoThirds, r6(4.0 / 9))), s"got ${got(1L)}")
    assert(got(2L) == ((1.0, 1.0, 1.0, 1.0)), s"got ${got(2L)}")
    assert(got(3L) == ((1.0, 1.0, twoThirds, r6(8.0 / 9))), s"got ${got(3L)}")
  }

  test("ksDrift: 1.0 on disjoint supports, 0.0 on identical distributions") {
    import spark.implicits._
    val disjoint = Seq(("A", 1L), ("A", 1L), ("B", 2L), ("B", 2L))
      .toDF("source", "n_chars")
    val d = graft.operators.CorpusStats.ksDrift(disjoint, "source", "n_chars")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(d == Map("A" -> ((2L, 2L, 1.0)), "B" -> ((2L, 2L, 1.0))), s"got $d")
    val same = Seq(("A", 1L), ("A", 2L), ("B", 1L), ("B", 2L))
      .toDF("source", "n_chars")
    val z = graft.operators.CorpusStats.ksDrift(same, "source", "n_chars")
      .collect().map(r => r.getDouble(3)).toSeq
    assert(z == Seq(0.0, 0.0), s"got $z")
  }

  test("pqKnn: exact match with brute force on clustered data; repartition-invariant") {
    import spark.implicits._
    // 64 vectors in 4 well-separated groups (group signature = one hot dim
    // per subspace); ids interleave groups so the first-16 seed covers all
    // groups. A small directional perturbation in subspace 0 makes
    // within-group neighbors distinct. On data WITH structure the ADC
    // candidate stage must capture the true top-k (corpus recall on the
    // isotropic test embeddings is data-bounded — that is what the q112
    // recall gate measures); the exact re-rank then reproduces brute force
    // bit-for-bit.
    val rows = (0 until 64).map { i =>
      val g = i % 4
      val v = Array.fill(64)(0.0)
      (0 until 4).foreach(s => v(s * 16 + g) = 1.0)
      v((i / 4) % 16) = v((i / 4) % 16) + 0.05
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val pred = col("vec_id") < 8
    val pq = Similarity.pqKnn(df, "vec_id", "embedding", pred, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val bf = Similarity.bruteForceKnn(df, "vec_id", "embedding", pred, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(pq.nonEmpty && pq.sameElements(bf),
      s"PQ must equal brute force on separable clusters:\npq=${pq.take(6).toSeq}\nbf=${bf.take(6).toSeq}")
    val re = Similarity.pqKnn(df.repartition(7), "vec_id", "embedding", pred, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(re.sameElements(pq), "physical layout must not change the result")
  }

  test("ivfpqKnn: residual-encoded IVFADC equals brute force on clustered data") {
    import spark.implicits._
    val rows = (0 until 64).map { i =>
      val g = i % 4
      val v = Array.fill(64)(0.0)
      (0 until 4).foreach(s => v(s * 16 + g) = 1.0)
      v((i / 4) % 16) = v((i / 4) % 16) + 0.05
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val pred = col("vec_id") < 8
    val got = Similarity.ivfpqKnn(df, "vec_id", "embedding", pred, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val bf = Similarity.bruteForceKnn(df, "vec_id", "embedding", pred, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.nonEmpty && got.sameElements(bf),
      s"IVFADC must equal brute force on separable clusters:\ngot=${got.take(6).toSeq}\nbf=${bf.take(6).toSeq}")
  }

  test("clusterSplit carve: a near-dup cluster never straddles splits") {
    val pairs = TextDedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
    val clusters = TextDedup.connectedComponents(pairs)
    val carved = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("gid"))
      .select(col("gid"), graft.operators.Scale.splitAssign(
        col("gid"), Seq(("train", 0.9), ("val", 0.95)), "test").as("split"))
    val straddlers = carved.groupBy(col("gid"))
      .agg(countDistinct(col("split")).as("ns"))
      .where(col("ns") > 1).count()
    assert(straddlers == 0L, "every group key must land in exactly one split")
    val nClusters = clusters.select(col("cluster_id")).distinct().count()
    assert(nClusters > 0L, "fixture must actually contain near-dup clusters")
    val total = carved.count()
    assert(total == docs.count(), "carve must cover every document exactly once")
  }

  test("ppjoinPairs: equals brute-force exactly, including the df-cap blind spot") {
    import spark.implicits._
    // 30 docs share ONE template (every shared gram is corpus-common), and
    // doc 100/101 are that same template verbatim: the df-capped candidate
    // scheme drops the (100, 101) pair once the cap excludes all template
    // grams — the prefix filter must keep it.
    val template = "the quick brown fox jumps over the lazy dog again and again"
    val docs = ((0 until 30).map(i => (i.toLong, template + s" tail$i word$i")) ++
      Seq((100L, template), (101L, template))).toDF("doc_id", "text")
    val pp = TextDedup.ppjoinPairs(docs, "doc_id", "text", n = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over hashed sets — the ground truth
    val sets = TextDedup.charNgramHashSets(docs, "doc_id", "text", 8)
    val brute = sets.toDF("doc_a", "ga").crossJoin(sets.toDF("doc_b", "gb"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("double"))
      .withColumn("j", col("inter") /
        (size(col("ga")) + size(col("gb")) - col("inter")))
      .where(col("j") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pp == brute, s"ppjoin ${pp.size} pairs vs brute ${brute.size}")
    assert(pp.contains((100L, 101L)), "the all-common-gram duplicate pair must survive")
    // and the harsh-capped q75 scheme really does drop it on this fixture —
    // the documented blind spot ppjoin exists to close
    val capped = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
      maxDfFrac = 0.02, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((100L, 101L)),
      "fixture sanity: the df cap must exhibit its blind spot here")
  }

  test("blocklistMatches: overlaps count, single tokens match, no leakage") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b c"),        // "a a" overlaps twice; "b c" once
      (2L, "x b c y b c"),      // "b c" twice
      (3L, "nothing here")
    ).toDF("doc_id", "text")
    val dict = Seq(("d1", "a a"), ("d2", "b c"), ("d3", "x"),
      ("d4", "absent phrase")).toDF("pid", "phrase")
    val got = graft.operators.TextSearch
      .blocklistMatches(docs, "doc_id", "text", dict, "pid", "phrase")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == Map((1L, "d1") -> 2L, (1L, "d2") -> 1L,
      (2L, "d2") -> 2L, (2L, "d3") -> 1L),
      s"got $got")
  }

  test("categoryEntropy: uniform mix reads ln(2), monoculture reads 0") {
    import spark.implicits._
    val df = Seq(("s1", "en"), ("s1", "fr"), ("s2", "en"), ("s2", "en"))
      .toDF("source", "lang")
    val m = graft.operators.CorpusStats.categoryEntropy(df, "source", "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(math.abs(m("s1")._2 - math.log(2)) < 1e-5)
    assert(math.abs(m("s1")._3 - 2.0) < 1e-5, "effective cats ~ 2")
    assert(m("s1")._4 == 0.5)
    assert(m("s2") == ((1L, -0.0, 1.0, 1.0)) || m("s2") == ((1L, 0.0, 1.0, 1.0)))
  }

  test("dimTruncationRecall: full dims give 1.0; a lossy prefix loses hits") {
    import spark.implicits._
    // first dim identical everywhere: a 1-dim prefix ties all cosines and
    // the id tie-break picks vec 1, while the full vector picks vec 3
    val emb = Seq((0L, Seq(1.0f, 10.0f)), (1L, Seq(1.0f, -10.0f)),
      (2L, Seq(1.0f, -9.0f)), (3L, Seq(1.0f, 10.1f)))
      .toDF("vec_id", "embedding")
    def run(dims: Int) = graft.operators.Similarity
      .dimTruncationRecall(emb, "vec_id", "embedding",
        org.apache.spark.sql.functions.col("vec_id") === 0L, k = 1,
        dims = dims)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    assert(run(2) == ((1L, 1.0)), "identical dims -> identical neighbors")
    assert(run(1) == ((0L, 0.0)), "1-dim prefix ties break to vec 1, not 3")
  }

  test("excessLossSelect: excess = addone-xent - kn-xent; top-half cut, ties below") {
    import spark.implicits._
    // Expected excess per doc is derived from the two component operators
    // (each pinned by its own hand fixture): exc_mu = xmu_a - xmu_k.
    val docs = Seq((1L, "s1", "a b a b"), (2L, "s1", "b c"),
        (3L, "s1", "a c b"), (4L, "s1", "c c"), (5L, "s1", "b a c a"),
        (6L, "s1", "c a b c b"), (7L, "s1", "a a b"), (8L, "s1", "c b a"))
      .toDF("doc_id", "source", "text")
    def xmu(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) ->
        math.round(r.getDouble(2) * 1e6)).toMap
    val (docBig, model) = knInputs(docs)
    val xa = xmu(TextLm.bigramCrossEntropy(docs, "doc_id", "text"))
    val xk = xmu(TextLm.knCrossEntropyFrom(docBig, model, "doc_id"))
    val exc = xa.keys.map(k => k -> (xa(k) - xk(k))).toMap
    // top-quarter (1/4): ascending cut = min e with cum*4 >= n*3;
    // selected are the docs with e strictly above the cut.
    val sortedE = exc.values.toSeq.sorted
    val cut = sortedE((3 * sortedE.size + 3) / 4 - 1)
    val expSel = exc.filter(_._2 > cut)
    assert(expSel.nonEmpty && expSel.size < exc.size, s"fixture must split: $exc")
    val out = TextLm.excessLossSelectFrom(docBig, model,
        docs, "doc_id", "text", "source")
      .collect().map(r => r.getBoolean(1) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(true)._1 == expSel.size)
    assert(out(false)._1 == exc.size - expSel.size)
    def mean6(vs: Iterable[Long]) =
      BigDecimal(vs.sum.toDouble / 1e6 / vs.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(out(true)._2 - mean6(expSel.values)) < 2e-6)
    assert(math.abs(out(false)._2 -
      mean6(exc.filter(_._2 <= cut).values)) < 2e-6)
    // plan: models are type-table equi-joins, the only nested loops are
    // the broadcast 1-row (vocab / T,V) and |groups|-row cut frames, and
    // the cut window runs over the (group, excess) value GRID, never data
    // rows — a cartesian here is the all-pairs degeneration.
    val p = TextLm.excessLossSelectFrom(docBig, model,
        docs, "doc_id", "text", "source")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "excess-loss must not go cartesian")
  }

  test("doremiWeights: hand-computed symmetric fixture — constant uniform trajectory") {
    import spark.implicits._
    // X "a b", Y "c d": types (a,b),(c,d) -> T=2, V=4, T+V=6.
    // KN p = (1*6 + 3*1*2)/24 = 0.5 -> xk = 693147; add-one p = 2/5
    // -> xa = 916291; e = 223144 BOTH sources -> lambda = 223144,
    // boost = round(exp(0.223144)*1e6) = 1250001 (exp(ln 1.25 + 4.5e-7)
    // = 1250000.56 — far from the .5 boundary). k = 2: w0 = 500000 and
    // every normalize-and-smooth round maps 500000 -> 500000 exactly, so
    // the whole 5-round trajectory is uniform at weight 0.5.
    val docs = Seq((1L, "X", "a b"), (2L, "Y", "c d"))
      .toDF("doc_id", "source", "text")
    val (docBig, model) = knInputs(docs)
    val out = TextLm.doremiWeightsFrom(docBig, model,
        docs, "doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(x => (x._1, x._2)).toList
    graft.operators.CacheScope.drain()
    assert(out == (0 to 4).flatMap(t => Seq(
      (t.toLong, "X", 1L, 0.223144, 0.5),
      (t.toLong, "Y", 1L, 0.223144, 0.5))).toList)
  }

  test("doremiWeights: asymmetric trajectory == independent integer-ladder replay") {
    import spark.implicits._
    // The per-source lambdas are derived from the two component operators
    // (each pinned by its own hand fixture); the 4 normalize-and-smooth
    // rounds are replayed in driver-side BigInt arithmetic — a third,
    // independent implementation of the ladder.
    val docs = Seq((1L, "s1", "a b a b"), (2L, "s1", "b c"),
        (3L, "s2", "a c b"), (4L, "s2", "c c"))
      .toDF("doc_id", "source", "text")
    val src = Map(1L -> "s1", 2L -> "s1", 3L -> "s2", 4L -> "s2")
    def comp(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), math.round(r.getDouble(2) * 1e6)))).toMap
    val (docBig, model) = knInputs(docs)
    val xa = comp(TextLm.bigramCrossEntropy(docs, "doc_id", "text"))
    val xk = comp(TextLm.knCrossEntropyFrom(docBig, model, "doc_id"))
    def halfUp(a: BigInt, b: BigInt): Long = ((2 * a + b) / (2 * b)).toLong
    val lam = src.values.toSeq.distinct.sorted.map { g =>
      val ds = src.filter(_._2 == g).keys
      val se = ds.map(d => math.max(0L, xa(d)._2 - xk(d)._2) * xa(d)._1).sum
      val sm = ds.map(d => xa(d)._1).sum
      g -> halfUp(se, sm)
    }
    val boost = lam.map { case (g, l) =>
      g -> math.round(math.exp(math.min(l, 10000000L) / 1e6) * 1e6) }.toMap
    val k = lam.size
    var w = lam.map { case (g, _) => g -> halfUp(1000000, k) }.toMap
    val expTraj = scala.collection.mutable.ArrayBuffer[(Long, String, Double)]()
    lam.foreach { case (g, _) => expTraj += ((0L, g, w(g) / 1e6)) }
    (1 to 4).foreach { t =>
      val s = lam.map { case (g, _) => BigInt(w(g)) * boost(g) }.sum
      w = lam.map { case (g, _) =>
        val a = halfUp(BigInt(w(g)) * boost(g) * 1000000, s)
        g -> halfUp(BigInt(4) * a * k + 1000000, BigInt(5) * k)
      }.toMap
      lam.foreach { case (g, _) => expTraj += ((t.toLong, g, w(g) / 1e6)) }
    }
    // the fixture must actually be asymmetric, or the test proves nothing
    assert(lam.map(_._2).distinct.size > 1, "fixture lambdas must differ")
    val out = TextLm.doremiWeightsFrom(docBig, model,
        docs, "doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(4)))
      .sortBy(x => (x._1, x._2)).toList
    graft.operators.CacheScope.drain()
    assert(out == expTraj.sortBy(x => (x._1, x._2)).toList)
    // higher-excess source must never lose weight round over round, and
    // each round's weights stay a 6-dp distribution up to quantization
    val hi = lam.maxBy(_._2)._1
    val hiW = out.filter(_._2 == hi).map(_._3)
    assert(hiW.zip(hiW.tail).forall { case (p, n) => n >= p })
    (0 to 4).foreach { t =>
      val sumW = out.filter(_._1 == t).map(_._3).sum
      assert(math.abs(sumW - 1.0) <= k * 1e-6 + 1e-9)
    }
    val p = TextLm.doremiWeightsFrom(docBig, model,
        docs, "doc_id", "text", "source")
      .queryExecution.executedPlan.toString
    graft.operators.CacheScope.drain()
    assert(!p.contains("CartesianProduct"), "doremi must not go cartesian")
  }

  test("dsirResample: Gumbel-top-k is deterministic, exactly additive, and weight-dominant") {
    import spark.implicits._
    // 6 target-like docs repeat target bigrams 40x (log-weight sums grow
    // with length; the Gumbel perturbation does not), 6 off-target docs
    // likewise — the amplified weight gap must dominate every Gumbel
    // draw, so the top-6 draw is exactly the target-like set.
    val en = (("alpha beta ") * 40).trim
    val de = (("zeta eta ") * 40).trim
    val docs = ((1L to 6L).map(i => (i, "en", en)) ++
      (7L to 12L).map(i => (i, "de", de))).toDF("doc_id", "lang", "text")
    val docBig = TextLm.docBigrams(docs, "doc_id", "text")
    val out = TextLm.dsirResampleFrom(
        docBig, docs, "doc_id", "text", col("lang") === "en", k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toList
    assert(out.map(_._2).toSet == (1L to 6L).toSet,
      s"amplified target weights must dominate the Gumbel noise: $out")
    // rnk is 1..k in strictly non-increasing score order
    assert(out.map(_._1) == (1L to 6L).toList)
    assert(out.map(_._5).zip(out.map(_._5).tail).forall { case (a, b) => a >= b })
    // score is the EXACT micro-nat sum of log_weight and gumbel
    out.foreach { case (_, _, lw, g, s) =>
      assert(math.round(s * 1e6) == math.round(lw * 1e6) + math.round(g * 1e6))
    }
    // the draw is a pure function of the corpus: bit-identical on re-run
    val again = TextLm.dsirResampleFrom(
        docBig, docs, "doc_id", "text", col("lang") === "en", k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toList
    assert(again == out, "resample must be deterministic")
    // identical docs differ ONLY by their id-salted Gumbel draws
    val lws = out.map(_._3).distinct
    assert(lws.size == 1 && out.map(_._4).distinct.size == 6)
  }
}
