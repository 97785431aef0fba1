package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 rework guarantees: the native char_ngram_counts expression
  * against its HOF-and-window reference formulation (including
  * multi-byte code points the ASCII corpus never exercises), and full
  * output parity of the shuffle-free ctLangIdConfusion against the r12
  * window-based formulation on the real sf0.001 corpus. */
class RoundThirteenOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("char_ngram_counts: matches explode+count+sort reference, code-point slicing") {
    // includes 2- and 3-byte UTF-8 code points: grams must be cut at
    // code-point boundaries exactly like substr(text, i, 3)
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "aaaa"),
      (3L, "ab"), // shorter than n -> empty profile
      (4L, "café café déjà €€€"))
      .toDF("doc_id", "text")
    val native = docs.select(col("doc_id"),
        graft.functions.CharNgramCounts.char_ngram_counts(col("text"), 3)
          .as("gc"))
      .select(col("doc_id"), posexplode(col("gc")))
      .select(col("doc_id"), col("pos"), col("col.g").as("g"),
        col("col.c").as("c"))
    val reference = docs.where(length(col("text")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("c").desc, col("g").asc)) - 1)
      .select(col("doc_id"), col("pos").cast("int"), col("g"), col("c"))
    assert(native.exceptAll(reference).isEmpty &&
      reference.exceptAll(native).isEmpty,
      "native profile must equal the explode/count/rank reference " +
        s"native=${native.collect().toSeq} ref=${reference.collect().toSeq}")
    assert(native.where(col("doc_id") === 3L).count() == 0,
      "sub-n rows carry an empty profile")
  }

  test("ctLangIdConfusion: shuffle-free rework is row-identical to the r12 window formulation on sf0.001") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val k = 20
    // the r12 formulation, verbatim shape: per-occurrence explode,
    // (doc, gram) counts, two rank windows, k x |langs| scoring join
    def r12(docs: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val dc = docs.where(length(col("text")) >= 3)
        .select(col("doc_id").as("__id"), col("lang").as("__lang"),
          explode(expr("transform(sequence(1, length(text) - 2), " +
            "i -> substr(text, i, 3))")).as("g"))
        .groupBy(col("__id"), col("__lang"), col("g"))
        .agg(count(lit(1)).as("__c"))
      val lp = dc.groupBy(col("__lang"), col("g"))
        .agg(sum(col("__c")).as("__lc"))
        .withColumn("__lr", row_number().over(Window.partitionBy(col("__lang"))
          .orderBy(col("__lc").desc, col("g").asc)).cast("bigint"))
        .where(col("__lr") <= k)
        .select(col("__lang").as("__pl"), col("g").as("__lg"), col("__lr"))
      val dp = dc
        .withColumn("__dr", row_number().over(Window.partitionBy(col("__id"))
          .orderBy(col("__c").desc, col("g").asc)).cast("bigint"))
        .where(col("__dr") <= k)
        .select(col("__id"), col("g"), col("__dr"))
      val langs = docs.select(col("lang").as("__cand")).distinct()
      val dist = dp.crossJoin(broadcast(langs))
        .join(broadcast(lp),
          col("__pl") === col("__cand") && col("__lg") === col("g"), "left")
        .groupBy(col("__id"), col("__cand"))
        .agg(sum(coalesce(abs(col("__dr") - col("__lr")), lit(k.toLong)))
          .as("__dist"))
      val pred = dist
        .withColumn("__rn", row_number().over(Window.partitionBy(col("__id"))
          .orderBy(col("__dist").asc, col("__cand").asc)))
        .where(col("__rn") === 1)
        .select(col("__id"), col("__cand").as("predicted"))
      docs.select(col("doc_id").as("__id"), col("lang"))
        .join(pred, "__id")
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
    }
    val now = graft.operators.MlOps
      .ctLangIdConfusion(docs, "doc_id", "text", "lang", k)
    val old = r12(docs)
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty,
      s"confusion matrices diverge: now=${now.collect().toSeq} " +
        s"old=${old.collect().toSeq}")
  }

  test("GramProfileAgg: partition-shape invariant, equals per-gram total rank profile") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .where(length(col("text")) >= 3)
    val agg = udaf(new graft.functions.GramProfileAgg(3, 20),
      org.apache.spark.sql.Encoders.STRING)
    def profile(df: DataFrame) = df.groupBy(col("lang"))
      .agg(agg(col("text")).as("p"))
      .select(col("lang"), posexplode(col("p")))
      .select(col("lang"), col("pos"), col("col._1").as("g"),
        col("col._2").as("c"))
    val p1 = profile(docs.repartition(1))
    val p32 = profile(docs.repartition(32, col("doc_id")))
    assert(p1.exceptAll(p32).isEmpty && p32.exceptAll(p1).isEmpty,
      "profile must not depend on partitioning / merge shape")
    // reference: explode per-doc counts, total per (lang, gram), rank
    val ref = docs.select(col("lang"),
        explode(graft.functions.CharNgramCounts
          .char_ngram_counts(col("text"), 3)).as("e"))
      .groupBy(col("lang"), col("e.g").as("g"))
      .agg(sum(col("e.c")).as("c"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(col("c").desc, col("g").asc)) - 1)
      .where(col("pos") < 20)
      .select(col("lang"), col("pos").cast("int"), col("g"), col("c"))
    assert(p32.exceptAll(ref).isEmpty && ref.exceptAll(p32).isEmpty,
      "aggregator profile must equal the explode/total/rank reference")
  }

  test("q141/q213 session caches: cached result identical to a cold direct build, keyed per sf dir") {
    val d1 = "/root/testdata/sf0.001"
    val d2 = "/root/testdata/sf0.01"
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // first access populates the cache; the cold rebuild is a direct
    // operator call bypassing the cache entirely
    val winCached = SparkEntry.queries("q141_winnow_pairs")(spark, d1)
    val winCold = graft.operators.TextDedup.winnowNearDupPairs(
      spark.read.parquet(s"$d1/documents.parquet"), "doc_id", "text",
      k = 5, w = 4, minShared = 2, maxDf = 20)
    assert(same(winCached, winCold), "winnow cache must not change results")
    val ppCached = SparkEntry.queries("q213_ppjoin_pairs")(spark, d1)
    val ppCold = graft.operators.TextDedup.ppjoinPairs(
      spark.read.parquet(s"$d1/documents.parquet"), "doc_id", "text",
      n = 12, threshold = 0.7)
    assert(same(ppCached, ppCold), "ppjoin cache must not change results")
    // a different sf dir must NOT read the d1 entry
    val winD2 = SparkEntry.queries("q141_winnow_pairs")(spark, d2)
    assert(winD2.count() != winCached.count() || !same(winD2, winCached),
      "cache key must include the sf dir")
    graft.operators.CacheScope.drain()
  }

  test("rankSketchQuantiles: repartition/merge-shape invariant, exact when n <= k, band audit") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("event_type"), col("value"))
    def run(df: DataFrame, k: Int) = graft.operators.Sketches
      .rankSketchQuantiles(df, "event_type", "event_id", "value", k = k)
    // merge invariance: the bottom-k sample is a pure function of the
    // row multiset, so every partitioning must give identical output
    val r1 = run(ev.repartition(1), 64)
    val r32 = run(ev.repartition(32, col("event_id")), 64)
    val r7 = run(ev.repartition(7), 64)
    assert(r1.exceptAll(r32).isEmpty && r32.exceptAll(r1).isEmpty &&
      r1.exceptAll(r7).isEmpty && r7.exceptAll(r1).isEmpty,
      "sketch must not depend on partitioning / merge shape")
    // n <= k degenerates to the exact percentile (sample = everything)
    val big = run(ev, k = 1000000).select(col("event_type"),
      col("est_p50"), col("est_p90"), col("est_p99"))
    val exact = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, array(CAST(0.5 AS DOUBLE), " +
        "CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)))").as("q"))
      .select(col("event_type"), col("q").getItem(0).as("est_p50"),
        col("q").getItem(1).as("est_p90"), col("q").getItem(2).as("est_p99"))
    assert(big.exceptAll(exact).isEmpty && exact.exceptAll(big).isEmpty,
      "k >= n sample must reproduce the exact percentile")
    // the DKW audit holds at the shipped k on real data
    val out = run(ev, 1024).collect()
    assert(out.nonEmpty && out.forall(_.getAs[Boolean]("within_band")),
      s"every group inside the rank band: ${out.toSeq}")
  }

  test("crossRunVerdicts: store/batch/novel verdicts; equals the streaming gate on a shared store") {
    val base = "the quick brown fox jumps over the lazy dog today " * 3
    val prior = Seq((3L, base + "alpha beta gamma"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + "alpha beta delta"), // near-dup of stored 3 -> store hit
      (11L, "an entirely different novel document about spark physical plans and shuffle exchanges in query execution"),
      (12L, "an entirely different novel document about spark physical plans and shuffle exchanges in query execution"), // dup of 11 in-batch
      (13L, "xy")) // short: sentinel only, novel
      .toDF("doc_id", "text")
    val v = graft.operators.TextDedup.crossRunVerdicts(
        graft.operators.TextDedup.bandSignatureRows(prior, "doc_id", "text"),
        batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(v(10L)._1 > 0 && !v(10L)._3, s"10 rejected via store: $v")
    assert(v(11L) == ((0L, 0L, true)), s"11 accepted: $v")
    assert(v(12L)._1 == 0 && v(12L)._2 > 0 && !v(12L)._3,
      s"12 rejected via smaller batch id only: $v")
    assert(v(13L) == ((0L, 0L, true)), s"13 short-doc accepted: $v")
    // one semantics, two consumption modes: the streaming gate over the
    // same store accepts exactly the batch-twin's accepted set
    val dir = java.nio.file.Files.createTempDirectory("xrun").toString + "/store"
    graft.streaming.IncrementalNearDup.processBatch(prior, dir)
    // pin the pre-batch store: the second processBatch appends to dir and
    // a lazy read would otherwise list the new files at action time
    val storeSigs = spark.read.parquet(dir).localCheckpoint()
    val accepted = graft.streaming.IncrementalNearDup.processBatch(batch, dir)
    val streamAccepted = spark.read.parquet(dir)
      .where(col("member") && col("doc_id") > 9L)
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val batchAccepted = graft.operators.TextDedup.crossRunVerdicts(
        storeSigs, batch, "doc_id", "text")
      .where(col("accepted")).collect().map(_.getLong(0)).toSet
    assert(accepted == batchAccepted.size.toLong &&
      streamAccepted == batchAccepted,
      s"stream=$streamAccepted batch=$batchAccepted n=$accepted")
  }

  test("classifierEnsembleGate: each vote flips on a separable fixture; majority decides") {
    // two token families with disjoint vocab; evens train the NB model,
    // odds are gated. 7 = X text mislabeled srcY (source vote fails),
    // 9 = X text mislabeled lang ly (LID vote fails), 11 = degenerate
    // repetition with wrong source (LM + source votes fail -> drop).
    // The families use disjoint letters (a-m vs n-z), so no word, bigram
    // or char trigram is shared; 100 distinct words each put every
    // natural doc's bigram cross-entropy inside the gate's [3.0, 3.6] band
    def words(letters: String) = for (a <- letters; b <- letters; c <- letters) yield s"$a$b$c"
    val xText = ("alpha" +: words("abcdefghijklm").take(99)).mkString(" ")
    val yText = Seq.fill(2)(words("nopqrstuvwxyz").take(100)).flatten.mkString(" ")
    val docs = Seq(
      (1L, xText, "lx", "srcX"), (3L, xText, "lx", "srcX"),
      (5L, yText, "ly", "srcY"),
      (7L, xText, "lx", "srcY"),
      (9L, xText, "ly", "srcX"),
      (11L, "alpha alpha alpha", "lx", "srcY"),
      (2L, xText, "lx", "srcX"), (4L, xText, "lx", "srcX"),
      (6L, xText, "lx", "srcX"), (8L, yText, "ly", "srcY"),
      (10L, yText, "ly", "srcY"), (12L, yText, "ly", "srcY"))
      .toDF("doc_id", "text", "lang", "source")
    // doc 11's "alpha alpha" bigram is corpus-RARE, so it scores far
    // ABOVE every natural doc — the gibberish end of the band
    val xents = graft.operators.TextLm
      .bigramCrossEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val normals = (xents - 11L).values
    assert(xents(11L) > normals.max,
      s"rare-bigram doc must score highest: $xents")
    assert(normals.min >= 3.0 && normals.max <= 3.6 && xents(11L) > 3.6,
      s"fixture must straddle the gate's band: $xents")
    val got = graft.operators.MlOps.classifierEnsembleGate(
        docs, "doc_id", "text", "lang", "source")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Boolean]("source_ok"), r.getAs[Boolean]("lang_ok"),
          r.getAs[Boolean]("lm_ok"), r.getAs[Boolean]("keep")))).toMap
    assert(got(1L) == ((true, true, true, true)), s"clean doc: $got")
    assert(got(7L) == ((false, true, true, true)),
      s"source vote alone must not drop: $got")
    assert(got(9L) == ((true, false, true, true)),
      s"lang vote alone must not drop: $got")
    assert(got(11L)._1 == false && got(11L)._3 == false &&
      got(11L)._4 == false, s"two failed votes drop the doc: $got")
    assert(got.keySet == Set(1L, 3L, 5L, 7L, 9L, 11L),
      s"only the NB test half is gated: $got")
  }

  test("columnProfileSketch: partition-invariant, exact-at-small-cardinality, nulls keyed to 0") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val a = graft.operators.Relational.columnProfileSketch(li.repartition(1))
    val b = graft.operators.Relational.columnProfileSketch(
      li.repartition(16, col("l_orderkey")))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "sketch profile must not depend on partitioning / merge shape")
    // calibration vs the exact profiler: small cardinalities exact
    // (linear counting), everything within the HLL band
    val est = a.collect().map(r =>
      r.getString(0) -> r.getLong(3)).toMap
    val exact = graft.operators.Relational.columnProfile(li)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    for ((c, ex) <- exact) {
      val e = est(c)
      if (ex <= 100) assert(e == ex, s"$c: small cardinality must be exact ($e vs $ex)")
      else assert(math.abs(e - ex).toDouble / ex <= 0.05,
        s"$c: $e vs $ex outside the 5% band")
    }
    // nulls: exact n_null beside a sketch that charges ONE key-0 slot
    val withNulls = Seq((1L, Some("a")), (2L, None), (3L, None), (4L, Some("b")))
      .toDF("id", "s")
    val p = graft.operators.Relational.columnProfileSketch(withNulls)
      .collect().map(r => (r.getString(0), (r.getLong(2), r.getLong(3)))).toMap
    assert(p("s") == ((2L, 3L)),
      s"2 exact nulls, distinct = {a, b, null-key}: $p")
    assert(p("id") == ((0L, 4L)), s"id column clean: $p")
  }

  test("native hash60 is bit-identical to the composed conv/substring/md5 form") {
    // every hash60 consumer (splits, captures, KMV, samples, the q320
    // profiler) and every DuckDB oracle assumes EXACTLY the first-15-hex-
    // digit value of the md5 digest — pin the native fold against the
    // composed form on real ids, tokens, and edge strings
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("string").as("s"))
      .unionByName(spark.read.parquet(s"$sf/documents.parquet")
        .select(explode(split(col("text"), " ")).as("s")))
      .unionByName(Seq("", " ", "0", "café €", "a\nb").toDF("s"))
    val cmp = docs.select(
      graft.functions.Hash60.hash60(col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")
        .as("composed"))
    assert(cmp.where(col("native") =!= col("composed")).count() == 0,
      cmp.where(col("native") =!= col("composed")).take(3).mkString(","))
    // interpreted path (no codegen) agrees too
    import org.apache.spark.sql.catalyst.expressions.Literal
    val lit0 = graft.functions.Hash60(Literal("spark")).eval(null)
    val ref = cmp.sparkSession.sql(
      "SELECT CAST(conv(substring(md5('spark'), 1, 15), 16, 10) AS BIGINT)")
      .head().getLong(0)
    assert(lit0 == ref, s"interpreted eval: $lit0 vs $ref")
  }

  test("HllBankAgg: bank j equals a standalone HllAgg over the same column") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val single = udaf(new graft.functions.HllAgg(12),
      org.apache.spark.sql.Encoders.scalaLong)
    val sk = graft.operators.Sketches
    val lone = li.agg(
        single(sk.hash60(col("l_orderkey"))).as("a"),
        single(sk.hash60(col("l_returnflag"))).as("b"))
      .head()
    val banked = li.agg(graft.functions.HllBankAgg.columnAgg(12, 2)(
        array(sk.hash60(col("l_orderkey")), sk.hash60(col("l_returnflag"))))
        .as("v"))
      .head().getSeq[Long](0)
    assert(banked == Seq(lone.getLong(0), lone.getLong(1)),
      s"bank must equal standalone sketches: $banked vs $lone")
  }

  test("ctLangIdConfusion: profile-less candidate lang still competes with max penalty") {
    // lang "qq" appears only in a 2-char doc: it builds no profile, but
    // the oracle's candidate set includes it — its null map must charge
    // k per probe, never win against a real profile, and the short doc
    // itself is excluded from scoring
    val docs = (
      (1L to 4L).map(i => (i, "aab aab aba baa aab", "aa")) ++
      Seq((9L, "zz", "qq")))
      .toDF("doc_id", "text", "lang")
    val r = graft.operators.MlOps
      .ctLangIdConfusion(docs, "doc_id", "text", "lang", k = 10)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2))
      .toMap
    assert(r == Map(("aa", "aa") -> 4L),
      s"only the real-profile lang classifies, short doc drops: $r")
  }
}
