package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def media = Multimodal.fromText(
    spark, Graft.table(spark, sf, "documents"), "doc_id", "text", "image")

  test("binary payloads roundtrip: n_bytes equals source text length (ascii corpus)") {
    val feats = Multimodal.extractFeatures(media).toDF()
    val joined = feats.join(Graft.table(spark, sf, "documents"),
      col("media_id") === col("doc_id"))
    assert(joined.where(col("n_bytes") =!= length(col("text"))).count() == 0)
  }

  test("stub decode is deterministic and partition-independent") {
    val a = Multimodal.extractFeatures(media.repartition(7)).toDF()
      .select("media_id", "width", "height", "n_frames").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).sortBy(_._1)
    val b = Multimodal.extractFeatures(media.coalesce(1)).toDF()
      .select("media_id", "width", "height", "n_frames").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("feature vectors have the requested width and are in [-1, 1]") {
    val rows = Multimodal.extractFeatures(media)
      .collect()
    assert(rows.forall(_.features.length == 4))
    assert(rows.forall(_.features.forall(f => f >= -1.0f && f <= 1.0f)))
  }

  test("resize stub: target dims recorded, sketch deterministic across partitionings") {
    val a = Multimodal.resize(media.repartition(5), 224, 224).collect()
      .map(f => (f.media_id, f.width, f.height, f.features.toSeq)).sortBy(_._1)
    val b = Multimodal.resize(media.coalesce(1), 224, 224).collect()
      .map(f => (f.media_id, f.width, f.height, f.features.toSeq)).sortBy(_._1)
    assert(a.sameElements(b))
    assert(a.forall(r => r._2 == 224 && r._3 == 224))
  }

  test("video kind gets multi-frame metadata; frame sampling emits n windows per payload") {
    val video = Multimodal.fromText(
      spark, Graft.table(spark, sf, "documents"), "doc_id", "text", "video")
    val feats = Multimodal.extractFeatures(video).collect()
    assert(feats.forall(_.n_frames >= 1))
    val frames = Multimodal.sampleFrames(video, n = 5, frameBytes = 8)
    val counts = frames.groupBy("media_id").count().collect()
    assert(counts.forall(_.getLong(1) == 5))
    // sampled windows are genuine slices of the payload
    val one = frames.where(col("media_id") === counts.head.getLong(0))
      .orderBy("frame_idx").collect()
    assert(one.forall(_.getAs[Array[Byte]]("frame").length <= 8))
  }

  test("ahash near-dup: exact copies at hamming 0, perturbed copy close, short payloads dropped") {
    import spark.implicits._
    val base = ("x" * 40 + "y" * 40 + "z" * 48) // 128 bytes, strong profile
    // mean-PRESERVING two-cell swap (+2 twice in cell 2, -2 twice in
    // cell 60): only those two cells' bits can flip — a perturbation
    // that shifts the global mean would flip every borderline cell
    val perturbed = base.updated(4, 'z').updated(5, 'z')
      .updated(120, 'x').updated(121, 'x').toString
    val df = Seq((1L, base), (2L, base), (3L, perturbed),
      (4L, "short payload"), // < 64 bytes -> dropped before hashing
      (5L, ("q" * 64) + ("m" * 64))) // different profile entirely
      .toDF("doc_id", "text")
    val m = Multimodal.fromText(spark, df, "doc_id", "text", "image")
    val sigs = Multimodal.ahashSigs(m)
    assert(sigs.where(col("media_id") === 4L).count() == 0,
      "sub-64-byte payloads carry no grid signal")
    assert(sigs.groupBy("media_id").count().collect()
      .forall(_.getLong(1) == 4L), "four bands per surviving payload")
    val pairs = Multimodal.ahashNearDup(m)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L, s"exact copies must be hamming 0: $pairs")
    assert(pairs.get((1L, 3L)).exists(h => h > 0L && h <= 12L),
      s"two flipped bytes stay within the band+verify gate: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 5L || p._2 == 5L),
      s"the disjoint profile must not pair: $pairs")
    graft.operators.CacheScope.drain()
  }

  test("oracle byte/char equivalence holds: corpus is ASCII") {
    // The q309 DuckDB mirror reads code points (ord/substr/length) while
    // ahashSigs hashes raw UTF-8 bytes; they agree only on pure-ASCII
    // text. Guard the assumption the oracle documents: every generated
    // document must have octet_length == char length.
    val nonAscii = spark.read.parquet(s"$sf/documents.parquet")
      .where(octet_length(col("text")) =!= length(col("text")))
      .count()
    assert(nonAscii == 0L,
      s"$nonAscii non-ASCII documents — rewrite the q309 oracle over " +
        "blob bytes before trusting the char-based mirror")
  }
}
