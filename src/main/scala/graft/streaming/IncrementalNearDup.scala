package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous corpus ingest with NEAR-duplicate rejection against a
  * persistent MinHash band-signature store — the streaming twin of the
  * batch LSH dedup (q31) the way [[IncrementalDedup]] is the streaming twin
  * of exact fingerprint dedup (q80): a new crawl snapshot should not
  * re-admit a lightly-edited copy of a document accepted last month.
  *
  * Store rows are (band, sig, doc_id, member): the signatures of EVERY
  * ingested document — banded MinHash rows (bands 0..n-1) plus one
  * exact-md5 SENTINEL row per doc (band = -1) so short documents that
  * yield no shingle signatures are still replay-guarded. `member` records
  * the verdict: true for accepted corpus members, false for rejected
  * near-dups. Rejected docs' signatures are stored precisely so the
  * transitive policy survives batch boundaries: if M (a near-dup of stored
  * S) is rejected today, a later batch's A that near-dups only M still
  * collides with M's stored rows and is rejected — the same
  * connected-components family the batch dedup (q61) builds globally.
  * Without those rows, A re-sent alone in a later batch would collide with
  * nothing and slip in. A batch doc is rejected when ANY of its rows —
  * banded or sentinel — collides with ANY stored signature (member or
  * not); within the batch, the smallest doc_id in each collision bucket
  * survives and the rest are rejected (transitively, as above).
  *
  * Idempotency is content-based, exactly as in [[IncrementalDedup]]: every
  * processed doc — accepted or rejected — leaves its sentinel in the
  * store, so a replayed batch recognizes all its docs as already-processed
  * and appends nothing — no batch-id ledger. The store grows with total
  * ingest (not just the accepted corpus); the accepted corpus is the
  * `member` slice.
  *
  * Scale: signature generation is the one-pass native [[graft.functions
  * .MinHashSigs]] expression; the store probe is a (band, sig)-keyed semi
  * join — the batch side is small and the store side would be bucketed on
  * (band, sig) at warehouse scale; nothing is ever all-pairs. */
object IncrementalNearDup {

  /** One ingest step: reject near-dups of the store and of smaller-id batch
    * docs, append the survivors' signatures, return the number of ACCEPTED
    * documents. Safe to call with the same batch twice.
    *
    * ORDER MATTERS for idempotency: the within-batch minima are computed
    * over ALL batch docs FIRST, and the store filter is applied after. The
    * reverse order breaks replay: store-filtering first removes the batch's
    * already-stored docs from the bucket-minimum computation, so a doc that
    * was transitively rejected on the first call (through a chain whose
    * middle doc was itself rejected) would see different minima on replay
    * and slip in. With batch-first minima, the in-batch verdict is a pure
    * function of batch CONTENT; the sentinel guard alone decides replay —
    * every processed doc (either verdict) leaves its sentinel in the store,
    * so a replayed batch always appends nothing. */
  def processBatch(batch: DataFrame, storeDir: String): Long = {
    val spark = batch.sparkSession
    // one signature scheme for the store, shared with the batch twin
    // (TextDedup.crossRunVerdicts)
    val sigs = graft.operators.TextDedup.bandSignatureRows(batch, "doc_id", "text")
    // within-batch rejection over the FULL batch: smallest doc_id per
    // collision bucket survives (transitive by design — see class doc)
    val minPerBucket = sigs.groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("min_id"))
    val inBatchRejected = sigs.join(minPerBucket, Seq("band", "sig"))
      .where(col("doc_id") > col("min_id"))
      .select(col("doc_id")).distinct()
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val storeExists = storePath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(storePath)
    val store = if (storeExists)
      Some(spark.read.parquet(storeDir).select(col("band"), col("sig")))
    else None
    // replay guard: a doc whose md5 sentinel is already stored was fully
    // processed (either verdict) by an earlier call — drop it entirely
    val novel = store.fold(sigs) { st =>
      val seen = sigs.where(col("band") === lit(-1))
        .join(st.where(col("band") === lit(-1)), Seq("band", "sig"), "left_semi")
        .select(col("doc_id")).distinct()
      sigs.join(seen, Seq("doc_id"), "left_anti")
    }
    // cross-batch rejection: any signature collision with the store —
    // member AND non-member rows alike (transitive family, see class doc)
    val storeRejected = store.map { st =>
      novel.join(st, Seq("band", "sig"), "left_semi")
        .select(col("doc_id")).distinct()
    }
    val rejected = storeRejected
      .fold(inBatchRejected)(inBatchRejected.unionByName(_)).distinct()
    val verdicts = novel
      .join(rejected.withColumn("__rej", lit(true)), Seq("doc_id"), "left")
      .withColumn("member", col("__rej").isNull).drop("__rej")
    // pin before the append: counting after the write must not recompute
    // the store probe against the store the write just grew
    val pinned = verdicts.localCheckpoint()
    pinned.write.mode("append").parquet(storeDir)
    pinned.where(col("member")).select(col("doc_id")).distinct().count()
  }

  /** Wire [[processBatch]] into a foreachBatch sink. */
  def start(docs: DataFrame, storeDir: String, checkpointDir: String): StreamingQuery =
    IncrementalDedup.sink(docs, checkpointDir)(processBatch(_, storeDir))
}
