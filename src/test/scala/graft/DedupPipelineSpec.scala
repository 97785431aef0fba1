package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Similarity, TextDedup}

/** The q345/q346 end-to-end dedup composition: hand-constructed fate
  * attribution, the stage-order invariants (each stage sees only prior
  * survivors; exactly one fate per doc), idempotence on the retained set,
  * and the funnel arithmetic. */
class DedupPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  import org.apache.spark.sql.DataFrame

  private def wl(docs: DataFrame, near: DataFrame, sem: DataFrame) =
    TextDedup.dedupPipeline(docs, "doc_id", "text", near, sem)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toList

  test("hand-constructed pipeline: per-stage fates and survivor attribution") {
    import spark.implicits._
    // 1,2 share text (2 removed by exact). nearPairs: (1,3) clusters 3 under
    // 1; (2,4) is DEAD because 2 fell at the exact stage — 4 must survive
    // near-dup. semPairs: (4,1) removes 4 under 1; (5,2) is dead (2 gone);
    // (6,5) removes 6 under the retained 5.
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "three"),
      (4L, "four"), (5L, "five"), (6L, "six")).toDF("doc_id", "text")
    val near = Seq((1L, 3L), (2L, 4L)).toDF("doc_a", "doc_b")
    val sem = Seq((4L, 1L), (5L, 2L), (6L, 5L)).toDF("id_a", "id_b")
    assert(wl(docs, near, sem) == List(
      (1L, "retained", 1L), (2L, "exact", 1L), (3L, "near_dup", 1L),
      (4L, "semantic", 1L), (5L, "retained", 5L), (6L, "semantic", 5L)))
  }

  test("NULL text keeps its row: fingerprints as '' (one fate per doc)") {
    import spark.implicits._
    // md5(NULL) is NULL and NULL keys never equi-join — before the
    // coalesce, doc 1 vanished from the worklist entirely. NULL groups
    // with the empty string: {1 (null), 2 ("")} -> survivor 1, 2 exact.
    val docs = Seq((1L, null), (2L, ""), (3L, "x"))
      .toDF("doc_id", "text")
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val sem = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(wl(docs, none, sem) == List(
      (1L, "retained", 1L), (2L, "exact", 1L), (3L, "retained", 3L)))
  }

  test("near-dup stage is transitive over exact survivors only") {
    import spark.implicits._
    // chain 1-2-3 collapses to component min 1; pair (4,5) with 4 removed
    // by exact (dup of 1's text? no — give 4 a twin 0) drops out entirely
    val docs = Seq((0L, "twin"), (4L, "twin"), (1L, "a"), (2L, "b"),
      (3L, "c"), (5L, "d")).toDF("doc_id", "text")
    val near = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val sem = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(wl(docs, near, sem) == List(
      (0L, "retained", 0L), (1L, "retained", 1L), (2L, "near_dup", 1L),
      (3L, "near_dup", 1L), (4L, "exact", 0L), (5L, "retained", 5L)))
  }

  test("real corpus: one fate per doc, funnel arithmetic, idempotence on the retained set") {
    val docs = Graft.table(spark, sf, "documents")
    val near = TextDedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    val sem = Similarity.semanticDupPairsFrom(
      Similarity.semAssignmentFrames(Graft.table(spark, sf, "embeddings"),
        "vec_id", "embedding", nlist = 8, lloydIters = 2)._1,
      "vec_id", threshold = 0.3)
    val w = TextDedup.dedupPipeline(docs, "doc_id", "text", near, sem)
      .persist()
    val rows = w.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // exactly one row per input doc, fates partition the corpus
    assert(rows.length == docs.count())
    assert(rows.map(_._1).distinct.length == rows.length)
    val byStage = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byStage.keySet.subsetOf(Set("exact", "near_dup", "semantic", "retained")))
    // attribution: every survivor_id of a removed doc is smaller than the doc
    rows.filter(_._2 != "retained").foreach { case (id, st, sv) =>
      assert(sv < id, s"$st removal of $id must attribute to a smaller id, got $sv")
    }
    // funnel consistency with the worklist
    val f = TextDedup.dedupFunnel(w).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toList
    val total = rows.length.toLong
    val r1 = byStage.getOrElse("exact", 0).toLong
    val r2 = byStage.getOrElse("near_dup", 0).toLong
    val r3 = byStage.getOrElse("semantic", 0).toLong
    assert(f == List(
      (1L, "exact", total, r1, total - r1),
      (2L, "near_dup", total - r1, r2, total - r1 - r2),
      (3L, "semantic", total - r1 - r2, r3, total - r1 - r2 - r3)))
    assert(f.last._5 == byStage.getOrElse("retained", 0).toLong)
    // idempotence: the pipeline over its own survivors removes nothing
    val retainedIds = rows.filter(_._2 == "retained").map(_._1).toSet
    val again = TextDedup.dedupPipeline(
      docs.where(col("doc_id").isin(retainedIds.toSeq: _*)),
      "doc_id", "text", near, sem)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.forall(_._2 == "retained"),
      s"re-run must retain all: ${again.filter(_._2 != "retained").take(5).toList}")
    assert(again.map(_._1).toSet == retainedIds)
    w.unpersist()
  }

  test("plan: each stage's survivor set is persisted (shared lineage computed once)") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val near = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val sem = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val p = TextDedup.dedupPipeline(docs, "doc_id", "text", near, sem)
      .queryExecution.executedPlan.toString
    graft.operators.CacheScope.drain()
    // the s1/s2/nd/sem worklists feed multiple consumers through
    // InMemoryRelation scans, not recomputed lineage
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      p.linesIterator.take(10).mkString("\n"))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("lineDedup: cross-doc boilerplate dropped everywhere, order-preserving rebuild") {
    import spark.implicits._
    // "x y z" occurs in docs 1,2,3,5 (>= 3) -> dropped from ALL of them
    // (no keeper); every other 3-token line is unique -> kept. Doc 4's
    // last line is short (1 token). Doc 5 has the boilerplate in the
    // MIDDLE — rebuild must stitch "m n o" + "p q r" in order.
    val docs = Seq(
      (1L, "x y z a b c"), (2L, "x y z d e f"), (3L, "x y z g h i"),
      (4L, "q r s t"), (5L, "m n o x y z p q r")).toDF("doc_id", "text")
    val out = TextDedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).sortBy(_._1).toList
    assert(out == List(
      (1L, 2L, 1L, 3L, md5hex("a b c")),
      (2L, 2L, 1L, 3L, md5hex("d e f")),
      (3L, 2L, 1L, 3L, md5hex("g h i")),
      (4L, 2L, 0L, 4L, md5hex("q r s t")),
      (5L, 3L, 1L, 6L, md5hex("m n o p q r"))))
  }

  test("lineDedup: fully-boilerplate doc keeps its row with md5('') and zero tokens") {
    import spark.implicits._
    val docs = Seq((1L, "x y z"), (2L, "x y z"), (3L, "x y z"),
      (4L, "u v w")).toDF("doc_id", "text")
    val out = TextDedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getString(4))).sortBy(_._1).toList
    assert(out == List(
      (1L, 1L, 0L, md5hex("")), (2L, 1L, 0L, md5hex("")),
      (3L, 1L, 0L, md5hex("")), (4L, 0L, 3L, md5hex("u v w"))))
    // in-doc repetition is not cross-doc boilerplate: 2 distinct docs < 3
    val rep = Seq((1L, "a b c a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val kept = TextDedup.lineDedup(rep, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toList
    assert(kept == List((1L, 0L), (2L, 0L)))
  }
}
