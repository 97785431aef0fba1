package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: the continuous counterparts of the batch
  * operators (the reference is batch-only — schedule-driven daily micro-batch,
  * SURVEY.md §1.1 — so this is the engine's additive streaming capability).
  *
  * Scale design: watermark + tumbling window keeps state bounded (old windows
  * are evicted once the watermark passes); the stateful session operator uses
  * `mapGroupsWithState` with processing-time timeout so per-key state cannot
  * grow unboundedly.
  */
object StreamingAgg {

  /** Hourly event-time aggregate with late-data eviction — the streaming twin
    * of batch q25 (tumbling window). Input needs `ts: timestamp`,
    * `event_type: string`, `value: double`. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, sum_value: Double)

  /** Custom keyed state: running per-user totals via mapGroupsWithState.
    * Emits the updated running aggregate for every key touched in a batch. */
  def userRunningTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          val (n, s) = batch.foldLeft((prev.n_events, prev.sum_value)) {
            case ((cn, cs), e) => (cn + 1, cs + e.value)
          }
          val next = UserRunning(user, n, s)
          state.update(next)
          next
      }
  }

  /** Streaming exact dedup: drops events whose key was already seen within
    * the watermark horizon — the streaming counterpart of the batch
    * fingerprint dedup (state is evicted as the watermark advances, so memory
    * stays bounded no matter how long the stream runs). */
  def dedupStream(events: DataFrame, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-stream click attribution: each click pairs with the same
    * user's purchases in the following `withinSec` seconds, under a
    * watermark on both sides — rows older than the horizon are evicted, so
    * join state stays finite on an unbounded stream. Inputs need
    * (user_id, ts) plus a distinguishing id column each. `joinType`
    * `"inner"` emits matched pairs only; `"left_outer"` also
    * emits clicks that never matched a purchase — but only once the
    * watermark proves no in-window purchase can still arrive (Spark holds
    * the click in state until `ts + withinSec` passes the watermark, then
    * emits it null-padded). The unmatched-click stream is the conversion-
    * funnel denominator an attribution pipeline actually needs. */
  def clickAttributionJoin(clicks: DataFrame, purchases: DataFrame,
                           withinSec: Long, watermark: String,
                           joinType: String): DataFrame = {
    val c = clicks.withWatermark("ts", watermark).alias("c")
    val p = purchases.withWatermark("ts", watermark).alias("p")
    c.join(p, expr(
      s"""c.user_id = p.user_id AND
         |p.ts >= c.ts AND
         |p.ts <= c.ts + INTERVAL $withinSec SECONDS""".stripMargin), joinType)
  }

  /** Stream-static enrichment: join a stream against a (small) dimension
    * table. The static side is broadcast — re-read per micro-batch, never
    * shuffled with the stream — which is the per-batch map-side join a
    * 1000-executor stream enrich needs. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  final case class OpenSession(start_sec: Long, end_sec: Long, n: Long)
  final case class ClosedSession(user_id: Long, session_start_sec: Long,
                                 session_end_sec: Long, n_events: Long)

  /** Custom-state sessionization: 30-minute-gap sessions per user via
    * flatMapGroupsWithState + event-time timeout — the streaming twin of
    * batch q51 (`session_window`), with identical session arithmetic
    * (end = last event + gap).
    *
    * A session closes two ways: a later event from the same user beyond the
    * gap (emitted inline, state rolls to the new session) or the watermark
    * passing `last event + gap` (the timeout path — emitted with no new
    * input). State per key is one fixed-size OpenSession and every key's
    * timeout is armed, so state size is O(active users) regardless of
    * stream length.
    *
    * Out-of-order events within the watermark horizon: an event inside
    * `[start - gap, end + gap]` of the open session MERGES, extending either
    * end (so a late event can pull `start_sec` back, exactly like
    * session_window). An event older than `start - gap` cannot merge; with
    * one bounded OpenSession per key it is emitted immediately as its own
    * closed singleton session — a documented approximation for
    * pathologically late data (batch q51 would merge chains of such events;
    * holding them would make per-key state unbounded). */
  def sessionizeStream(events: Dataset[Event],
                       watermark: String = "0 seconds"): Dataset[ClosedSession] = {
    val gapSec: Long = 1800L
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          // batch iterators are single-pass and unordered: drain + sort first
          val evs = batch.map(e => e.ts.getTime / 1000L).toArray.sorted
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.start_sec, s.end_sec + gapSec, s.n))
          } else {
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            evs.foreach { t =>
              cur = cur match {
                case Some(s) if t >= s.start_sec - gapSec && t <= s.end_sec + gapSec =>
                  Some(OpenSession(math.min(s.start_sec, t), math.max(s.end_sec, t), s.n + 1))
                case Some(s) if t > s.end_sec + gapSec =>
                  closed ::= ClosedSession(user, s.start_sec, s.end_sec + gapSec, s.n)
                  Some(OpenSession(t, t, 1))
                case Some(s) => // t < start - gap: too late to merge
                  closed ::= ClosedSession(user, t, t + gapSec, 1L)
                  Some(s)
                case None => Some(OpenSession(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.end_sec + gapSec) * 1000L)
            }
            closed.reverse.iterator
          }
      }
  }

  /** Windowed trending terms: per event-time window, the k most frequent
    * tokens of a text stream — the live "what is the crawl ingesting right
    * now" monitor. Two chained stateful aggregations in APPEND mode (legal
    * since Spark 3.4's multi-stateful-operator support): the first counts
    * (window, term) with watermark-bounded state and emits each pair
    * exactly once, when the watermark passes the window's end; the second
    * folds those finalized counts into a k-bounded [[TopKStrAgg]] buffer
    * per window — O(k) state, no sort-shuffle of the full vocabulary,
    * ranked (count DESC, term ASC) deterministically. Input needs
    * `ts: timestamp`, `text: string`. */
  def trendingTerms(docs: DataFrame, k: Int): DataFrame = {
    val windowLen = "1 hour"
    val watermark = "2 hours"
    val topk = graft.functions.TopKStrAgg.columnAgg(k)
    docs.withWatermark("ts", watermark)
      .select(col("ts"), explode(split(col("text"), " ")).as("term"))
      .groupBy(window(col("ts"), windowLen).as("w"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("w"))
      .agg(topk(col("cnt").cast("double"), col("term")).as("tk"))
      .select(col("w.start").as("window_start"),
        posexplode(col("tk")).as(Seq("rank", "e")))
      .select(col("window_start"), (col("rank") + 1).cast("bigint").as("rank"),
        col("e._2").as("term"), col("e._1").cast("long").as("cnt"))
  }

  /** Standard sink wiring for the hourly aggregate (update mode — windows
    * re-emit as they refine, final values once the watermark passes). */
  def startToMemory(agg: DataFrame, queryName: String) =
    agg.writeStream.format("memory").queryName(queryName)
      .outputMode(OutputMode.Update()).start()
}
