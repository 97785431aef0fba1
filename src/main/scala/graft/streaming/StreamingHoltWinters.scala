package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}
import graft.streaming.StreamingAgg.Event

/** Streaming twin of `Temporal.holtWinters` (q328): per-key additive
  * Holt-Winters state (level, trend, `period` calendar seasonal slots)
  * advanced day by day across micro-batches on `transformWithState`.
  *
  * Day-close semantics: a day's value accumulates in a pending (day,
  * exact-cents) register — across batch boundaries too — and is FOLDED
  * into the smoother (emitting its smoothed row) when the first event
  * of a LATER day arrives. Events for days before the pending day are
  * late data: counted and dropped (a declared contract — the batch
  * operator sees a sorted series; the stream's substitute is day-close
  * on progression). The trailing day stays pending until its successor
  * shows up, exactly like a watermark that never fires.
  *
  * Bit-parity contract with the batch operator (StreamingSpec): same
  * per-event DECIMAL(12,2) cents quantization (BigDecimal HALF_UP — the
  * JVM op behind Spark's double→decimal cast), same IEEE recurrence
  * order, same calendar day-of-week slots, so any in-day-order feed
  * split at ANY batch boundary reproduces the batch rows for every
  * closed day.
  *
  * Scale: state is (2 + period) doubles + one pending register per key
  * in RocksDB; per-batch work is one sort of each key's slice. */
object StreamingHoltWinters {

  final case class HwState(pendingDay: Long, cents: Long, hasModel: Boolean,
                           l: Double, b: Double, s: Seq[Double], late: Long)
  final case class HwRow(event_type: String, day_idx: Long, v: Double,
                         level: Double, trend: Double, season: Double,
                         forecast_next: Double)

  /** Event-time day in the SESSION time zone — the batch twin buckets
    * days via `cast(ts AS DATE)`, which follows
    * spark.sql.session.timeZone, NOT the JVM default; deriving the day
    * from the JVM zone would silently break the bit-parity contract in
    * any deployment where the two differ. */
  private def epochDay(ts: java.sql.Timestamp, zone: String): Long =
    ts.toInstant.atZone(java.time.ZoneId.of(zone)).toLocalDate.toEpochDay

  /** Exact DECIMAL(12,2) cents of one event value — the same HALF_UP
    * rounding Spark's cast(value AS DECIMAL(12,2)) performs. */
  private def eventCents(value: Double): Long =
    java.math.BigDecimal.valueOf(value)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  class Processor(alpha: Double, beta: Double, gamma: Double, period: Int,
                  zone: String)
      extends StatefulProcessor[String, Event, HwRow] {
    private val (na, nb, ng) = (1.0 - alpha, 1.0 - beta, 1.0 - gamma)
    @transient private var st: ValueState[HwState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("hw", Encoders.product[HwState],
        TTLConfig.NONE)

    /** Fold the closed pending day into the smoother — the identical
      * operation order as the batch fold (proven bit-equal to the SQL
      * expression by RoundThirteenShelfSpec's Scala replay). */
    private def fold(key: String, s: HwState): (HwState, HwRow) = {
      val v = s.cents / 100.0
      val i = java.lang.Math.floorMod(s.pendingDay, period.toLong).toInt
      val prevS = s.s(i)
      val nl = if (!s.hasModel) v
        else alpha * (v - prevS) + na * (s.l + s.b)
      val nbv = if (!s.hasModel) 0.0
        else beta * (nl - s.l) + nb * s.b
      val se = gamma * (v - nl) + ng * prevS
      val fc = nl + nbv +
        s.s(java.lang.Math.floorMod(s.pendingDay + 1, period.toLong).toInt)
      (s.copy(hasModel = true, l = nl, b = nbv, s = s.s.updated(i, se)),
        HwRow(key, s.pendingDay, v, nl, nbv, se, fc))
    }

    override def handleInputRows(key: String, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[HwRow] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[HwRow]
      var s = if (st.exists()) st.get()
        else HwState(-1L, 0L, hasModel = false, 0.0, 0.0,
          Seq.fill(period)(0.0), 0L)
      // within-batch determinism: day, then event time, then id — the
      // StatefulFirstSeen buffering argument (one key's batch slice)
      val ordered = rows.toArray
        .sortBy(e => (epochDay(e.ts, zone), e.ts.getTime, e.event_id))
      ordered.foreach { e =>
        val d = epochDay(e.ts, zone)
        if (s.pendingDay < 0L)
          s = s.copy(pendingDay = d, cents = eventCents(e.value))
        else if (d == s.pendingDay)
          s = s.copy(cents = s.cents + eventCents(e.value))
        else if (d > s.pendingDay) {
          val (ns, row) = fold(key, s)
          out += row
          s = ns.copy(pendingDay = d, cents = eventCents(e.value))
        } else s = s.copy(late = s.late + 1L)
      }
      st.update(s)
      out.iterator
    }
  }

  /** The smoothed stream: one HwRow per (key, closed day). */
  def smoothed(events: Dataset[Event]): Dataset[HwRow] = {
    val alpha = 0.4
    val beta = 0.2
    val gamma = 0.3
    val period = 7
    import events.sparkSession.implicits._
    val zone = events.sparkSession.sessionState.conf.sessionLocalTimeZone
    events.groupByKey(_.event_type)
      .transformWithState(new Processor(alpha, beta, gamma, period, zone),
        TimeMode.None(), OutputMode.Append())
  }
}
