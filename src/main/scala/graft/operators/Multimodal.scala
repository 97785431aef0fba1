package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads travel as opaque `binary`
  * columns with typed metadata, processed in partition-sized batches.
  *
  * The Spark-side plumbing here is real — schemas, encoders, mapPartitions
  * batching, deterministic outputs — while the codec math is a clearly-marked
  * STUB (`stubDecode`): this environment has no image/audio libraries, so the
  * "decoder" derives deterministic pseudo-metadata from the bytes. Swapping in
  * a real decoder changes only the body of `stubDecode`; every schema,
  * partition shape and operator contract stays.
  *
  * Scale design: decode/feature-extract runs inside `mapPartitions` — one
  * JVM-side pass per partition, no per-row closure setup, no driver
  * involvement, no shuffle. At 100 TB the operator is embarrassingly parallel
  * and bounded by scan bandwidth.
  */
object Multimodal {

  /** A media object: id + modality tag + raw payload. */
  final case class Media(media_id: Long, kind: String, content: Array[Byte])

  /** Decoded metadata + a fixed-width feature vector. */
  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int, n_frames: Int,
      features: Array[Float])

  /** STUB decoder — deterministic pseudo-decode standing in for an actual
    * image/audio codec (none available in this container). Derives stable
    * "dimensions" and a feature sketch from ONE pass over the payload bytes
    * (no per-feature copies of the content). */
  private[operators] def stubDecode(m: Media): MediaFeatures = {
    val h = graft.functions.SimHash64.fnv1a(m.content)
    val width = 16 + (java.lang.Long.remainderUnsigned(h, 1024L)).toInt
    val height = 16 + (java.lang.Long.remainderUnsigned(h >>> 10, 1024L)).toInt
    val frames = m.kind match {
      case "video" => 1 + (java.lang.Long.remainderUnsigned(h >>> 20, 240L)).toInt
      case _ => 1
    }
    val feats = Array.tabulate(4) { i =>
      // continue the FNV chain per feature index instead of re-hashing content
      val hi = (h ^ (i + 1).toLong) * 1099511628211L
      (hi.toDouble / Long.MaxValue).toFloat
    }
    MediaFeatures(m.media_id, m.kind, m.content.length.toLong, width, height, frames, feats)
  }

  /** Batch decode + feature extraction (4 features per record) over a
    * typed media dataset. */
  def extractFeatures(media: Dataset[Media]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(stubDecode))
  }

  /** STUB resize: maps each payload to a target-dimension record plus a
    * deterministic downsampled byte sketch (every len/targetBytes-th byte) —
    * a real codec would decode + interpolate; the partition-parallel shape,
    * schema, and determinism contract are what this pins. */
  def resize(media: Dataset[Media], targetW: Int, targetH: Int): Dataset[MediaFeatures] = {
    val targetBytes = 64
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val len = m.content.length
      val sketch =
        if (len == 0) Array.empty[Byte]
        else Array.tabulate(math.min(targetBytes, len)) { i =>
          m.content(((len.toLong * i) / math.min(targetBytes, len)).toInt)
        }
      val h = graft.functions.SimHash64.fnv1a(sketch) // one hash per record
      val feats = Array.tabulate(4) { i =>
        (((h ^ (i + 1).toLong) * 1099511628211L).toDouble / Long.MaxValue).toFloat
      }
      MediaFeatures(m.media_id, m.kind, len.toLong, targetW, targetH, 1, feats)
    })
  }

  /** Frame sampling for video-like payloads: n evenly-spaced fixed-size byte
    * windows per payload (a real implementation would seek keyframes; the
    * batching/explode plumbing is identical). */
  def sampleFrames(media: Dataset[Media], n: Int, frameBytes: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val len = m.content.length
      if (len == 0) Iterator.empty
      else (0 until n).iterator.map { i =>
        val off = ((len.toLong * i) / n).toInt.min(math.max(0, len - frameBytes))
        (m.media_id, i, m.content.slice(off, math.min(len, off + frameBytes)))
      }
    }.toDF("media_id", "frame_idx", "frame")
  }

  /** Wrap any (id, string) table as opaque media payloads — how tests and the
    * correctness gate mint binary columns from the driver's documents table. */
  def fromText(spark: SparkSession, df: DataFrame, idCol: String,
               textCol: String, kind: String): Dataset[Media] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"), lit(kind).as("kind"),
        col(textCol).cast("binary").as("content"))
      .as[Media]
  }

  /** Average-hash (aHash — the classic perceptual-hash family's simplest
    * member) banded signatures over raw payload BYTES: the payload is cut
    * into `cells` contiguous byte ranges, each cell's bit is "cell mean >
    * payload mean" (compared CROSS-MULTIPLIED in exact integers — no
    * division), and the `cells` bits split into `bands` LSH bands of
    * cells/bands bits each. A real image aHash downsamples pixels to an
    * 8×8 grid first; here the byte grid IS the stub decode (the
    * [[stubDecode]] contract: swap in a real codec, the banding/join
    * shape stays). Payloads shorter than `cells` bytes are dropped —
    * under one byte per cell the grid carries no signal.
    *
    * One `mapPartitions` pass per payload (the module's batching shape) —
    * no shuffle, no per-row closure setup. Output: (media_id, band, sig). */
  def ahashSigs(media: Dataset[Media]): DataFrame = {
    val cells = 64
    val bands = 4
    import media.sparkSession.implicits._
    val perBand = cells / bands
    media.mapPartitions { it =>
      it.flatMap { m =>
        val bs = m.content
        val ln = bs.length
        if (ln < cells) Iterator.empty
        else {
          val cellSum = new Array[Long](cells)
          val cellCnt = new Array[Long](cells)
          var tot = 0L
          var p = 0
          while (p < ln) {
            val c = ((p.toLong * cells) / ln).toInt
            val v = (bs(p) & 0xFF).toLong
            cellSum(c) += v; cellCnt(c) += 1; tot += v
            p += 1
          }
          (0 until bands).iterator.map { b =>
            var sig = 0L
            var j = 0
            while (j < perBand) {
              val c = b * perBand + j
              if (cellSum(c) * ln > tot * cellCnt(c)) sig |= (1L << j)
              j += 1
            }
            (m.media_id, b, sig)
          }
        }
      }
    }.toDF("media_id", "band", "sig")
  }

  /** Perceptual near-duplicate pairs over media payloads: band-bucket
    * LSH candidates (a pair collides iff SOME band's 16 bits agree
    * exactly — never all-pairs), verified by the full Hamming distance
    * over all bands' signatures. The multimodal member of the dedup
    * family (MinHash q31 / SimHash q32 / n-gram q75 / exact-substring
    * q300), with the same bucketed-join scale posture. Output:
    * (media_a, media_b, hamming ≤ maxHamming). */
  def ahashNearDup(media: Dataset[Media]): DataFrame = {
    val maxHamming = 12
    val sigs = CacheScope.persist(ahashSigs(media))
    val cand = sigs.toDF("media_a", "band", "sig")
      .join(sigs.toDF("media_b", "band", "sig"), Seq("band", "sig"))
      .where(col("media_a") < col("media_b"))
      .select("media_a", "media_b").distinct()
    cand
      .join(sigs.toDF("media_a", "band", "sig_a"), "media_a")
      .join(sigs.toDF("media_b", "band", "sig_b"), Seq("media_b", "band"))
      .groupBy(col("media_a"), col("media_b"))
      .agg(sum(bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
        .cast("bigint")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .select(col("media_a"), col("media_b"), col("hamming"))
  }
}
