package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the session-shared query forms against their standalone operator
  * forms: every query routed through a `SharedCache` builder returns
  * EXACTLY the rows its self-building operator form returns — the sharing
  * is a cost optimization, never a semantics change (the SharedCaches
  * "standalone in SEMANTICS" rule).
  */
class SharedFormsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  // MULTISET equality (sorted row strings), not Set: a divergence that
  // only changes duplicate-row multiplicity must fail too (r19 ADVICE)
  private def rows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.selectExpr(cols.map(c => s"CAST(`$c` AS STRING)"): _*)
      .collect().map(_.mkString("|")).toSeq.sorted
  }

  private def docs = Graft.table(spark, sf, "documents")

  /** Each named query's shared form against its standalone frame: same
    * columns in the same order, same row multiset. */
  private def assertSharedEqualsStandalone(standalone: Map[String, DataFrame]): Unit =
    standalone.foreach { case (name, solo) =>
      val viaCache = SparkEntry.queries(name)(spark, sf)
      assert(viaCache.columns.toSeq == solo.columns.toSeq,
        s"$name column drift between shared and standalone forms")
      val (a, b) = (rows(viaCache), rows(solo))
      assert(a == b, s"$name shared-cache rows != standalone rows " +
        s"(only-shared: ${a.diff(b).take(3)}, only-solo: ${b.diff(a).take(3)})")
      graft.operators.CacheScope.drain()
    }

  test("q342/q343/q344/q347/q348/q349/q354 shared-cache forms == standalone operators") {
    import graft.operators.TextLm
    import org.apache.spark.sql.functions.col
    assertSharedEqualsStandalone(Map(
      "q342_kn_xent" -> TextLm.knCrossEntropy(docs, "doc_id", "text"),
      "q343_kn_ppl_mix" -> TextLm.knMix(docs, "doc_id", "text", "source"),
      "q344_kn_importance_weights" -> TextLm.knImportanceWeights(
        docs, "doc_id", "text", "source", col("lang") === "en"),
      "q347_kn3_xent" -> TextLm.kn3CrossEntropy(docs, "doc_id", "text"),
      "q348_excess_loss_select" -> TextLm.excessLossSelect(
        docs, "doc_id", "text", "source"),
      "q349_mkn_xent" -> TextLm.mknCrossEntropy(docs, "doc_id", "text"),
      "q354_mink_prob" -> TextLm.minKProb(docs, "doc_id", "text"),
      "q369_lang_kn_xent" -> TextLm.groupedKnXent(
        docs, "doc_id", "text", "lang"),
      "q374_lang_kn_mix" -> TextLm.knMixFrom(
        TextLm.groupedKnXentPerDocFrom(
          TextLm.docBigrams(docs, "doc_id", "text"), docs,
          "doc_id", "text", "lang"),
        docs, "doc_id", "lang")))
  }

  test("exact-substring / memorization / soft-weight shared forms == standalone operators") {
    import graft.operators.{Scale, TextDedup, TextLm}
    def softWeights = TextLm.softDedupWeights(
      TextLm.docBigrams(docs, "doc_id", "text"), "doc_id")
    assertSharedEqualsStandalone(Map(
      "q300_exact_substring" -> TextDedup.exactSubstringRuns(
        docs, "doc_id", "text", l = 20, maxDf = 10),
      "q377_exact_substr_dedup" -> TextDedup.exactSubstringDedup(
        docs, "doc_id", "text", l = 20, maxDf = 10),
      "q384_exact_substr_sweep" -> TextDedup.exactSubstringSweep(
        docs, "doc_id", "text"),
      "q391_dedup_aware_mix" -> Scale.dedupAwareMix(
        docs, "doc_id", "text", "source"),
      "q388_softdedup_weights" -> softWeights,
      "q394_soft_weighted_mix" -> Scale.softWeightedMix(
        docs, "doc_id", "source", "text", softWeights),
      "q398_allocation_ablation" -> Scale.allocationAblation(
        docs, "doc_id", "text", "source", softWeights),
      "q389_extractable_memorization" -> TextDedup.extractableMemorization(
        docs, "doc_id", "text"),
      "q393_memorization_risk" -> TextDedup.memorizationRisk(
        docs, "doc_id", "text", k = 10),
      "q397_memorization_by_source" -> TextDedup.memorizationRiskBySource(
        docs, "doc_id", "text", "source")))
  }

  test("q395 corpus card via the shared k=10 inventory == the self-building census leg") {
    import graft.operators.TextDedup
    // the card's extractable_frac_k10 column must equal the standalone
    // census's k=10 row — the one leg the r19 rewire changed
    val card = SparkEntry.queries("q395_corpus_card_v2")(spark, sf)
    val solo = TextDedup.extractableMemorization(docs, "doc_id", "text",
        ks = Seq(10))
      .select(org.apache.spark.sql.functions.col("extractable_frac"))
      .collect().head.getDouble(0)
    val viaCard = card.select("extractable_frac_k10").collect().head.getDouble(0)
    assert(viaCard == solo,
      s"card extractable_frac_k10 $viaCard != standalone census $solo")
    graft.operators.CacheScope.drain()
  }

  test("shared Lloyd assignment consumers == standalone operator forms") {
    import graft.operators.{Similarity, TextDedup}
    import org.apache.spark.sql.functions.col
    val emb = Graft.table(spark, sf, "embeddings")
    assertSharedEqualsStandalone(Map(
      "q142_semantic_dedup" -> Similarity.semanticDedup(
        emb, "vec_id", "embedding", threshold = 0.3, nlist = 8,
        lloydIters = 2),
      "q362_proto_band" -> Similarity.prototypicalityBand(
        emb, "vec_id", "embedding"),
      "q387_semantic_decontam" -> Similarity.semanticDecontam(
        emb, "vec_id", "embedding", col("vec_id") % 10 === 0,
        threshold = 0.3, nlist = 8, lloydIters = 2)))
    // the worklist consumer (q345) against a fully self-building pipeline
    // (fresh minhash pairs + fresh semantic pairs — nothing shared)
    val soloWorklist = TextDedup.dedupPipeline(
      docs, "doc_id", "text",
      TextDedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5),
      Similarity.semanticDupPairs(
        emb, "vec_id", "embedding", threshold = 0.3, nlist = 8,
        lloydIters = 2))
    val viaWorklist = SparkEntry.queries("q345_dedup_pipeline")(spark, sf)
    assert(rows(viaWorklist) == rows(soloWorklist),
      "worklist rows drift under the shared semantic assignment")
    graft.operators.CacheScope.drain()
  }
}
