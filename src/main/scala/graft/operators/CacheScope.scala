package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Query-scoped registry for intra-operator persists.
  *
  * Operators that feed one intermediate to several consumers (a shingle/gram
  * table read by both sides of a self-join, a signature table probed twice)
  * persist it through [[persist]] instead of calling `DataFrame.persist`
  * directly; the HARNESS (Bench / Verify / a spec) calls [[drain]] after
  * materializing each query, releasing every block the query pinned.
  * Without this discipline the 80+-query bench accumulates cached blocks for
  * the whole session — r5 measured an unrelated query (q47 cube) regressing
  * 2.5× purely from that cache pressure.
  *
  * Deliberately NOT for cross-query shared intermediates (the LSH candidate
  * graph feeding q31/q60/q61 persists directly and lives for the session —
  * that sharing is the point); this is for persists whose last consumer is
  * inside the same query plan.
  */
object CacheScope {

  private val reg = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val pinned = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Mark `df`'s PLAN as session-pinned: [[drain]] will never unpersist a
    * registered frame whose canonicalized plan matches a pinned one.
    * Every [[graft.queries.SharedCache]] pins its frames so a
    * standalone operator that happens to [[persist]] the IDENTICAL plan
    * (Spark's CacheManager keys entries by canonicalized plan, so the two
    * frames share ONE cache entry) cannot evict the shared cache out from
    * under every cross-query consumer at its drain. */
  def pin(df: DataFrame): DataFrame = {
    // evict pins of stopped sessions, as SharedCache evicts their entries:
    // a stale pin retains its session's plan graph forever and could
    // sameResult-match — and so suppress the drain of — a LIVE session's
    // frame over the same data
    pinned.removeIf(p => p.sparkSession.sparkContext.isStopped)
    pinned.add(df)
    df
  }

  /** How many frames are pinned (a stopped session's pins go at the next
    * [[pin]]). */
  private[graft] def pinnedCount: Int = pinned.size

  /** Persist `df` (MEMORY_AND_DISK) and register it for the next [[drain]].
    *
    * No-op when the PLAN is already cached: Spark's CacheManager keys
    * cache entries by canonicalized plan, so "persisting" a frame whose
    * plan equals an existing entry (typically a SESSION-SHARED builder's
    * — e.g. a standalone operator building the exact frame SharedCaches
    * already holds) adopts someone else's cache — and the next [[drain]]
    * would EVICT it out from under every cross-query consumer. Skipping
    * registration keeps drain scoped to blocks this query actually
    * created. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      reg.add(df)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    } else df
  }

  /** Materialize `df` and truncate its lineage, so an iterative
    * operator's round N does not re-plan rounds 1..N-1: a reliable
    * `checkpoint` when the session's SparkContext has a checkpoint dir
    * (`sc.setCheckpointDir`; survives executor loss on a cluster), else
    * `localCheckpoint` (executor-local blocks, lost with the executor). */
  private[graft] def checkpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Unpersist (non-blocking) everything registered since the last drain —
    * except frames whose plan is [[pin]]ned (their cache entry belongs to
    * a session-shared builder). */
  def drain(): Unit = {
    import scala.jdk.CollectionConverters._
    var d = reg.poll()
    while (d != null) {
      val shared = pinned.iterator().asScala.exists(
        _.queryExecution.analyzed.sameResult(d.queryExecution.analyzed))
      if (!shared) d.unpersist(blocking = false)
      d = reg.poll()
    }
  }
}
