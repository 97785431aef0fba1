package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous corpus ingest with exact dedup against a persistent
  * fingerprint store — the streaming form of the batch incremental dedup
  * (q80): each micro-batch is fingerprinted, deduped within itself
  * (deterministic min-id per fingerprint), anti-joined against the store,
  * and the survivors appended.
  *
  * Idempotency needs no batch-id ledger: the store's CONTENT is the guard.
  * A replayed batch (failure between append and checkpoint commit) re-reads
  * a store that already holds its fingerprints, so the anti-join drops every
  * row — replay appends nothing. [[processBatch]] is the pure batch step so
  * the replay property is directly testable without a streaming harness.
  *
  * Scale: the anti-join is fingerprint-keyed (one shuffle of the BATCH —
  * small — against the store scan; at warehouse scale the store side would
  * be bucketed by fingerprint or fronted by [[graft.operators.Sketches
  * .bloomSemiJoin]]'s bit array to prune the probe before the shuffle). */
object IncrementalDedup {

  /** One ingest step: dedupe `batch` (needs `doc_id`, `text`, `source`)
    * within itself and against the store, append survivors, return the
    * number of rows appended. Safe to call with the same batch twice. */
  def processBatch(batch: DataFrame, storeDir: String): Long = {
    val spark = batch.sparkSession
    val withFp = batch.select(col("doc_id"), col("source"),
      md5(col("text")).as("fingerprint"))
    val batchDedup = graft.operators.Relational.dedupeByKey(
      withFp, Seq(col("fingerprint")), Seq(col("doc_id").asc))
    // existence via the Hadoop FileSystem of the store's URI — java.io.File
    // is only correct for local paths and would silently skip the anti-join
    // on hdfs:// / s3a:// stores
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val storeExists = storePath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(storePath)
    val survivors =
      if (storeExists)
        batchDedup.join(
          spark.read.parquet(storeDir).select(col("fingerprint")),
          Seq("fingerprint"), "left_anti")
      else batchDedup
    // localCheckpoint pins the survivor set before the append: counting
    // after the write must not recompute the anti-join against the store
    // the write just grew (self-invalidating lineage)
    val pinned = survivors.localCheckpoint()
    pinned.write.mode("append").parquet(storeDir)
    pinned.count()
  }

  /** Wire [[processBatch]] into a foreachBatch sink. */
  def start(docs: DataFrame, storeDir: String, checkpointDir: String): StreamingQuery =
    sink(docs, checkpointDir)(processBatch(_, storeDir))

  /** Run `step` on every micro-batch of `docs` in a foreachBatch sink
    * checkpointed at `checkpointDir` — the wiring of [[start]] and
    * [[IncrementalNearDup.start]]. */
  private[streaming] def sink(docs: DataFrame, checkpointDir: String)(
      step: DataFrame => Long): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        step(batch.toDF()): Unit
      }
      .start()
}
