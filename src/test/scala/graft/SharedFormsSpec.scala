package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins the session-shared query forms against fresh builds: every query
  * routed through a `SharedCache` builder returns EXACTLY the rows of the
  * same `*From` operator run on its input built fresh (`xFrom(input,
  * builder(input))`, nothing shared) — the sharing is a cost
  * optimization, never a semantics change (the SharedCaches "standalone
  * in SEMANTICS" rule). Also guards the one-form-per-operator rule: no
  * operator module keeps a self-building `x` beside its `xFrom`.
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
    // fresh inputs, built without any SharedCache
    val docBig = TextLm.docBigrams(docs, "doc_id", "text")
    val model = TextLm.knBigramModel(docBig, docs, "text")
    assertSharedEqualsStandalone(Map(
      "q342_kn_xent" -> TextLm.knCrossEntropyFrom(docBig, model, "doc_id"),
      "q343_kn_ppl_mix" -> TextLm.tercileMix(
        TextLm.knCrossEntropyFrom(docBig, model, "doc_id"), docs,
        "doc_id", "source"),
      "q344_kn_importance_weights" -> TextLm.knImportanceWeightsFrom(
        docBig, model, docs, "doc_id", "text", "source",
        col("lang") === "en"),
      "q347_kn3_xent" -> TextLm.kn3CrossEntropyFrom(
        docBig, docs, "doc_id", "text"),
      "q348_excess_loss_select" -> TextLm.excessLossSelectFrom(
        docBig, model, docs, "doc_id", "text", "source"),
      "q349_mkn_xent" -> TextLm.mknCrossEntropyFrom(
        docBig, docs, "doc_id", "text"),
      "q354_mink_prob" -> TextLm.minKProbFrom(docBig, model, "doc_id"),
      "q369_lang_kn_xent" -> TextLm.groupedKnXentFrom(
        docBig, docs, "doc_id", "text", "lang"),
      "q374_lang_kn_mix" -> TextLm.tercileMix(
        TextLm.groupedKnXentPerDocFrom(docBig, docs,
          "doc_id", "text", "lang"),
        docs, "doc_id", "lang")))
  }

  test("exact-substring / memorization / soft-weight shared forms == standalone operators") {
    import graft.operators.{Scale, TextDedup, TextLm}
    import org.apache.spark.sql.functions.col
    def softWeights = TextLm.softDedupWeights(
      TextLm.docBigrams(docs, "doc_id", "text"), "doc_id")
    def perDoc = TextDedup.exactSubstringDedupFrom(docs, "doc_id", "text",
      TextDedup.exactSubstringRuns(docs, "doc_id", "text", l = 20, maxDf = 10))
    def windows(ks: Seq[Int]) =
      ks.map(k => k -> TextDedup.memWindowInventory(docs, "doc_id", "text", k))
    assertSharedEqualsStandalone(Map(
      "q300_exact_substring" -> TextDedup.exactSubstringRuns(
        docs, "doc_id", "text", l = 20, maxDf = 10),
      "q377_exact_substr_dedup" -> perDoc,
      "q384_exact_substr_sweep" -> TextDedup.exactSubstringSweep(
        docs, "doc_id", "text",
        TextDedup.exactSubstringRuns(docs, "doc_id", "text", l = 20, maxDf = 10)),
      "q391_dedup_aware_mix" -> Scale.dedupAwareMixFrom(
        docs, "doc_id", "source", perDoc),
      "q388_softdedup_weights" -> softWeights,
      "q394_soft_weighted_mix" -> Scale.softWeightedMix(
        docs, "doc_id", "source", "text", softWeights),
      "q398_allocation_ablation" -> Scale.allocationAblationFrom(
        docs, "doc_id", "text", "source", softWeights, perDoc),
      "q389_extractable_memorization" ->
        TextDedup.extractableMemorizationFrom(windows(Seq(5, 10, 20))),
      "q393_memorization_risk" ->
        TextDedup.memorizationRiskFrom(windows(Seq(10)).head._2),
      "q397_memorization_by_source" -> TextDedup.memorizationRiskBySourceFrom(
        windows(Seq(5, 10, 20)),
        docs.select(col("doc_id").cast("long").as("doc_id"),
          col("source")))))
  }

  test("q395 corpus card via the shared k=10 inventory == the self-building census leg") {
    import graft.operators.TextDedup
    // the card's extractable_frac_k10 column must equal the standalone
    // census's k=10 row — the one leg the r19 rewire changed
    val card = SparkEntry.queries("q395_corpus_card_v2")(spark, sf)
    val solo = TextDedup.extractableMemorizationFrom(
        Seq(10 -> TextDedup.memWindowInventory(docs, "doc_id", "text", 10)))
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
    // a fresh Lloyd build — nothing shared with the caches
    val (assign, cents) = Similarity.semAssignmentFrames(emb, "vec_id",
      "embedding", nlist = 8, lloydIters = 2)
    assertSharedEqualsStandalone(Map(
      "q142_semantic_dedup" -> Similarity.semanticDedupFrom(
        assign, "vec_id", threshold = 0.3),
      "q362_proto_band" -> Similarity.prototypicalityBandFrom(
        assign, cents, "vec_id"),
      "q387_semantic_decontam" -> Similarity.semanticDecontamFrom(
        assign, "vec_id", col("vec_id") % 10 === 0, threshold = 0.3)))
    // the worklist consumer (q345) against a fully self-building pipeline
    // (fresh minhash pairs + fresh semantic pairs — nothing shared)
    val soloWorklist = TextDedup.dedupPipeline(
      docs, "doc_id", "text",
      TextDedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5),
      Similarity.semanticDupPairsFrom(assign, "vec_id", threshold = 0.3))
    val viaWorklist = SparkEntry.queries("q345_dedup_pipeline")(spark, sf)
    assert(rows(viaWorklist) == rows(soloWorklist),
      "worklist rows drift under the shared semantic assignment")
    graft.operators.CacheScope.drain()
  }

  test("one form per operator: no graft.operators module has a public x beside xFrom") {
    // every operator module object compiled into the classes directory
    val root = new java.io.File(getClass.getClassLoader
      .getResource("graft/operators").toURI)
    val modules = root.listFiles().map(_.getName).toSeq
      .filter(n => n.endsWith("$.class") && n.count(_ == '$') == 1)
      .map(n => Class.forName("graft.operators." + n.stripSuffix(".class")))
    assert(modules.exists(_.getSimpleName == "TextLm$"), "module scan found no operators")
    val pairs = modules.flatMap { m =>
      val names = m.getDeclaredMethods.toSeq
        .filter(x => java.lang.reflect.Modifier.isPublic(x.getModifiers) &&
          !x.isSynthetic && !x.getName.contains('$'))
        .map(_.getName).toSet
      names.filter(x => names(x + "From"))
        .map(x => m.getSimpleName.stripSuffix("$") + "." + x)
    }.sorted
    assert(pairs.isEmpty, s"${pairs.size} self-building overloads beside " +
      s"their *From form: ${pairs.mkString(", ")}")
  }

  test("every default argument is taken by one caller and overridden by another") {
    // the program's compiled classes, called from them and from the tests
    val Seq(main, test) = Seq("graft/Graft.class", "graft/SharedFormsSpec.class").map { r =>
      new java.io.File(getClass.getClassLoader.getResource(r).toURI).getParentFile.getParentFile
    }
    // tests are not callers: a slot whose method the program calls is
    // counted over the program's call sites alone; a slot of a method only
    // tests call is counted over both
    val inMain = DefaultCensus.slots(main, Nil).map(s => s.id -> s).toMap
    val slots = DefaultCensus.slots(main, Seq(test)).map(s =>
      inMain.get(s.id).filter(_.calls > 0).getOrElse(s))
    assert(slots.exists(_.method == "withRetry"), "census found no default arguments")
    // one-valued slots kept on purpose, each for a reason a constant cannot serve
    val allowed = Map(
      "pipeline.HttpSource.withRetry#3(sleep)" -> "lets a test substitute a fake",
      "pipeline.Pipeline.runStageRange#6(fetch)" -> "lets a test substitute a fake",
      "operators.TextDedup.ngramJaccardPairs#6(maxInRow)" ->
        "forces a fallback that production picks from bucket size",
      "pipeline.AppConfig.<init>#5(hadoop)" -> "perfbench takes it, and perfbench must not change",
      "operators.Temporal.intervalOverlapJoin#8(maxLenSec)" -> "a cap on bad outside input")
    // a default no caller takes is dead; one every caller takes is a constant
    val knobs = slots.filter(s => (s.taken == 0 || s.taken == s.calls) && !allowed.contains(s.id))
    if (knobs.nonEmpty) fail(s"${knobs.size} of ${slots.size} default-argument slots " +
      s"have one value in use:\n${knobs.map(_.label).mkString("\n")}")
    val stale = allowed.keySet -- slots.map(_.id)
    assert(stale.isEmpty, s"allowlisted slots that no longer exist: $stale")
  }
}
