package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-snapshot INCREMENTAL exact-substring dedup — the batch-vs-store
  * form of the q300/q377 ExactSubstr machinery (Lee et al. 2022, public
  * paper): dedup a NEW crawl snapshot against the accumulated
  * window-fingerprint store WITHOUT recomputing the corpus inventory.
  * Completes the incremental shelf: [[IncrementalDedup]] is the exact
  * whole-doc twin, [[IncrementalNearDup]] the MinHash twin — this is the
  * sub-document verbatim-passage twin. The BATCH form
  * ([[graft.operators.TextDedup.snapshotSubstrDedup]], q396) is the
  * DuckDB-oracled unit; both ride one shared `snapshotCovered` core so
  * the two can never drift.
  *
  * Semantics per batch (the q300 anchor-keep rule, store-extended):
  * every sliding `l`-token window (l = 20) of a batch doc is fingerprinted
  * ([[graft.functions.TokenNgrams.token_window_hashes]] — the q300
  * join-identity precedent); a token position is REMOVED iff it is
  * covered by a window whose fingerprint is already IN THE STORE
  * (shared with any previous snapshot) or shared with a SMALLER doc_id
  * in the same batch (the doc_a < doc_b removal-from-later policy of
  * [[graft.operators.TextDedup.exactSubstringDedupFrom]], applied
  * intra-batch). The cleaned doc is rebuilt from its surviving tokens
  * in order; docs shorter than `l` tokens carry no window and pass
  * through verbatim.
  *
  * The store accumulates the RAW snapshot fingerprints (dedup is always
  * against everything previously SEEN, not against what previous passes
  * kept — the Lee et al. corpus-order contract); only fingerprints not
  * already present are appended, so the store's CONTENT is the replay
  * guard exactly as in [[IncrementalDedup]]: a replayed batch finds its
  * own fingerprints in the store and appends NOTHING. [[processBatch]]
  * is the batch step a caller's foreachBatch sink runs (with the sink's
  * at-least-once contract: a failure between the store append and the
  * checkpoint commit replays the batch), so the replay property is
  * directly testable.
  *
  * Scale: the batch inventory is ~batch-tokens rows (small) shuffled
  * once on the fingerprint against the store scan (at warehouse scale
  * the store side is bucketed by fingerprint or fronted by
  * [[graft.operators.Sketches.bloomSemiJoin]]'s bit array — the
  * IncrementalDedup note); the intra-batch rule is one batch-local
  * fingerprint aggregate; covered positions explode one row per REMOVED
  * token (linear in the duplicated mass, the q377 envelope); the
  * rebuild is one doc-keyed aggregate. No pair join anywhere — the
  * store holds fingerprints, not positions, so cross-snapshot removal
  * needs no run stitching.
  */
object CrossSnapshotSubstrDedup {

  /** One snapshot-ingest step: dedup `batch` (needs `doc_id`, `text`)
    * against the store and within itself, grow the store by the batch's
    * novel fingerprints, and return the cleaned per-doc frame (doc_id,
    * n_tokens, n_tokens_removed, clean_text — the exactSubstringRebuild
    * contract). Safe to call with the same batch twice: the second call
    * appends nothing to the store. */
  def processBatch(batch: DataFrame, storeDir: String): DataFrame = {
    val spark = batch.sparkSession
    val inv = graft.operators.TextDedup
      .windowFpInventory(batch, "doc_id", "text")
      .localCheckpoint()
    // Hadoop FileSystem existence (not java.io.File) — the
    // IncrementalDedup hdfs://-correctness note
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val storeExists = storePath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(storePath)
    val stored =
      if (storeExists) spark.read.parquet(storeDir).select(col("fp"))
      else spark.range(0).select(col("id").as("fp"))
    // covered positions: fingerprint already in the store, OR shared
    // with a smaller doc in THIS batch (anchor-keep, removal from the
    // later) — the shared snapshotCovered core, so the streaming twin
    // and the oracled batch form (q396) can never drift
    val covered = graft.operators.TextDedup.snapshotCovered(inv, stored)
    val cleaned = graft.operators.TextDedup
      .rebuildUncovered(batch, "doc_id", "text", covered)(_.as("clean_text"))
      // pin BEFORE the store append: the cleaned frame's lineage reads
      // the store the append is about to grow (self-invalidating
      // lineage — the IncrementalDedup localCheckpoint rule)
      .localCheckpoint()
    val novel = inv.select(col("fp")).distinct()
      .join(stored, Seq("fp"), "left_anti")
      .localCheckpoint()
    novel.write.mode("append").parquet(storeDir)
    cleaned
  }
}
