package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import CacheScope.checkpoint

/** Temporal join operators Spark has no built-in for — composed from
  * window/equi-join primitives (SURVEY.md §2.9 "range/as-of" row), per the
  * preference order: compose existing ops before custom plans.
  *
  * Scale design: both operators are single-shuffle. The as-of join is a
  * union + one window sort on (key, ts) — never a per-row range scan. The
  * range join buckets time so candidates meet through an equi-join on
  * (key, bucket) — never an O(n^2) theta join; each qualifying pair meets in
  * exactly one bucket, so no dedup pass is needed.
  */
object Temporal {

  /** Days since 1970-01-01 of a timestamp/date column, as BIGINT — the day
    * index every daily operator here and in Survival groups by. */
  private[operators] def dayIdx(c: Column): Column =
    datediff(c.cast("date"), lit("1970-01-01").cast("date")).cast("bigint")

  /** Per-(key, day_idx) exact decimal sum of `valueCol`, cast to double
    * once as `v`: the calendar-bounded daily series the smoothing folds
    * and detectors read. */
  private def dailySums(events: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String): DataFrame =
    events.groupBy(col(keyCol), dayIdx(col(tsCol)).as("day_idx"))
      .agg(sum(col(valueCol).cast(DecimalType(12, 2))).cast("double").as("v"))

  /** Each key's daily series as one day-sorted array `__arr` of (day, v),
    * the input of the in-row `aggregate` folds. */
  private def daySeries(daily: DataFrame, keyCol: String): DataFrame =
    daily.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("day_idx").as("day"),
        col("v").as("v")))).as("__arr"))

  /** As-of join: for every left row, the LATEST right row with
    * `right.ts <= left.ts` in the same key group (ties at equal ts match,
    * i.e. `>=` semantics — DuckDB's `ASOF JOIN ... ON l.ts >= r.ts`).
    * Right-side payload columns come back as a nullable struct `__match`.
    *
    * Plan: tagged union, then `last(payload, ignoreNulls)` over a
    * (key, ts, tag)-ordered running window — one shuffle, one sort, state
    * O(1) per row. If multiple right rows share an exact (key, ts), which one
    * wins is undefined (same as native ASOF implementations). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               payload: Seq[String]): DataFrame =
    asofJoinDirected(left, right, key, ts, payload, forward = false)

  /** As-of join with a direction: `forward = false` matches the LATEST right
    * row with `right.ts <= left.ts` (see [[asofJoin]]); `forward = true` the
    * EARLIEST right row with `right.ts >= left.ts` — the "next event after"
    * lookup (next maintenance after a failure, next quote after an order).
    *
    * Same single-shuffle plan in both directions: the forward walk just
    * reverses the window's time order, so "last right payload seen so far"
    * becomes the smallest right ts at-or-after the left row. */
  def asofJoinDirected(left: DataFrame, right: DataFrame, key: String, ts: String,
                       payload: Seq[String], forward: Boolean): DataFrame = {
    val l = left.withColumn("__tag", lit(1))
    val r = right.select(col(key), col(ts), lit(0).as("__tag"),
      struct(payload.map(col): _*).as("__p"))
    // right rows (tag 0) sort before left rows at equal ts => inclusive match
    val order = if (forward) col(ts).desc else col(ts).asc
    val w = Window.partitionBy(col(key)).orderBy(order, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("__match", last(col("__p"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
      .drop("__tag", "__p")
  }

  /** Nearest-in-time as-of join: for each left row, the right row in the
    * same key group MINIMIZING |right.ts − left.ts| in either direction —
    * the sensor-fusion / nearest-quote lookup that backward ([[asofJoin]])
    * and forward (q97) each get wrong half the time. Equidistant matches
    * resolve BACKWARD (the past is known; the future is lookahead).
    *
    * The right `ts` is prepended to the payload struct internally so the
    * distance compare needs no second scan of the right side. Output:
    * left columns + `__match` (nullable payload struct, ts first) +
    * `__dir` ("backward" / "forward", null when unmatched).
    *
    * Plan: two directed passes of the SAME single-shuffle tagged-union
    * window (each O(1) state per row, key-partitioned), then an in-row
    * CASE on the microsecond distances — no join between the passes: the
    * second pass runs over the first's output and carries its match
    * column through the union untouched. */
  def asofNearest(left: DataFrame, right: DataFrame, key: String,
                  ts: String, payload: Seq[String]): DataFrame = {
    val full = ts +: payload.filterNot(_ == ts)
    val back = asofJoinDirected(left, right, key, ts, full, forward = false)
      .withColumnRenamed("__match", "__mb")
    val both = asofJoinDirected(back, right, key, ts, full, forward = true)
      .withColumnRenamed("__match", "__mf")
    val db = unix_micros(col(ts)) - unix_micros(col("__mb").getField(ts))
    val df = unix_micros(col("__mf").getField(ts)) - unix_micros(col(ts))
    both.withColumn("__dir",
        when(col("__mb").isNull && col("__mf").isNull, lit(null))
          .when(col("__mf").isNull, lit("backward"))
          .when(col("__mb").isNull, lit("forward"))
          .when(db <= df, lit("backward"))
          .otherwise(lit("forward")))
      .withColumn("__match",
        when(col("__dir") === "backward", col("__mb"))
          .when(col("__dir") === "forward", col("__mf")))
      .drop("__mb", "__mf")
  }

  /** Interval-overlap join at second granularity: all pairs (a, b) with
    * `a.start <= b.end AND b.start <= a.end` (closed intervals). Inputs carry
    * (id, startSec, endSec) columns as epoch-second longs.
    *
    * Plan: each interval explodes to the `bucketSec`-sized time buckets it
    * covers, candidates meet through an equi-join on the bucket — never a
    * theta join — and each overlapping pair is emitted EXACTLY once: only in
    * the bucket of the later start (overlap guarantees `max(starts)` lies in
    * both intervals, and `floor(max(starts)/g) = max(floor(starts/g))`), so
    * no distinct pass is needed. Bucket fan-out per row is
    * `len/bucketSec + 1`; size `bucketSec` near the typical interval length
    * to keep the explode bounded.
    *
    * `maxLenSec` ENFORCES the fan-out bound: intervals longer than it are
    * dropped before bucketing (a declared data contract, not a silent
    * truncation — pathological intervals would otherwise explode to
    * unbounded bucket rows and a single hot partition). `None` keeps every
    * interval; callers at scale should set it to the longest legitimate
    * interval so one corrupt row cannot melt the stage. */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame,
                          aId: String, bId: String,
                          startCol: String, endCol: String,
                          bucketSec: Long,
                          maxLenSec: Option[Long] = None): DataFrame = {
    def buckets(df: DataFrame, id: String, side: String): DataFrame = {
      val capped = maxLenSec match {
        case Some(cap) => df.where(col(endCol) - col(startCol) <= cap)
        case None      => df
      }
      capped.select(col(id), col(startCol).as(s"${side}_start"), col(endCol).as(s"${side}_end"),
        explode(expr(s"sequence(CAST(floor($startCol / $bucketSec) AS BIGINT), " +
          s"CAST(floor($endCol / $bucketSec) AS BIGINT))")).as("__bucket"))
    }
    buckets(a, aId, "a").join(buckets(b, bId, "b"), Seq("__bucket"))
      .where(col("a_start") <= col("b_end") && col("b_start") <= col("a_end") &&
        col("__bucket") === floor(greatest(col("a_start"), col("b_start")) / bucketSec).cast("long"))
      .select(col(aId), col(bId),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("overlap_sec"))
  }

  /** Range self-join at second granularity: all pairs (a, b) in the same key
    * group with `0 <= ts_b - ts_a <= maxGapSec` (ordered by (ts, id) so each
    * unordered pair appears exactly once). `idCol` must be unique per row. */
  def rangeJoinPairs(df: DataFrame, key: String, ts: String, idCol: String,
                     maxGapSec: Long): DataFrame = {
    val base = df.select(col(key), col(idCol), unix_timestamp(col(ts)).as("__sec"))
      .withColumn("__b", (col("__sec") / maxGapSec).cast("long"))
    // a-side probes its own bucket and the next: the unique bucket of any
    // in-range b is floor(sec_b/gap) ∈ {floor(sec_a/gap), floor(sec_a/gap)+1}
    val a = base.select(col(key), col(idCol).as("a_id"), col("__sec").as("a_sec"),
      explode(array(col("__b"), col("__b") + 1)).as("__probe"))
    val b = base.select(col(key), col(idCol).as("b_id"), col("__sec").as("b_sec"),
      col("__b").as("__probe"))
    a.join(b, Seq(key, "__probe"))
      .where((col("a_sec") < col("b_sec") ||
        (col("a_sec") === col("b_sec") && col("a_id") < col("b_id"))) &&
        col("b_sec") - col("a_sec") <= maxGapSec)
      .select(col(key), col("a_id"), col("b_id"),
        (col("b_sec") - col("a_sec")).as("gap_sec"))
  }

  /** Conversion-funnel step counts with the greedy-earliest chain
    * semantics: a user reaches step i when an event of type `steps(i)`
    * occurs STRICTLY after their step-(i-1) time and within
    * `stepWithinSec` of it; that earliest qualifying event becomes the
    * user's step-i time. Step 0 is the user's earliest `steps(0)` event.
    * Output: (step_idx, step, n_users) — the funnel report.
    *
    * Scale: each stage is a type-filtered scan (predicate pushed to the
    * source) joined user-keyed against the previous stage's frontier —
    * which only ever SHRINKS, so AQE broadcasts it as soon as it fits —
    * then a user-keyed min aggregate. No windows, no per-user sorted
    * scans; state per stage is one (user, ts) row. The final report is
    * |steps| single-row aggregates unioned. */
  def funnelSteps(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, steps: Seq[String],
                  stepWithinSec: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val frontiers = steps.tail.scanLeft(
      events.where(col(typeCol) === steps.head)
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))) {
      case (prev, st) =>
        events.where(col(typeCol) === st)
          .join(prev.select(col(userCol).as("__u"), col("t").as("__tp")),
            col(userCol) === col("__u"))
          .where(col(tsCol) > col("__tp") &&
            col(tsCol) <= col("__tp") + expr(s"INTERVAL $stepWithinSec SECONDS"))
          .groupBy(col(userCol)).agg(min(col(tsCol)).as("t"))
    }
    steps.zip(frontiers).zipWithIndex.map { case ((st, df), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i).as("step_idx"), lit(st).as("step"), col("n_users"))
    }.reduce(_ unionByName _)
  }

  /** First-order Markov transition matrix over each key's time-ordered
    * event stream: for every observed (state -> next state) pair, its count
    * and conditional probability — the user-journey / session-path summary
    * a funnel (see [[funnelSteps]]) is a special case of. Output:
    * typeCol, next_type, n, p_next.
    *
    * Plan: one `lead` window partitioned BY KEY (state = one key's events,
    * bounded by per-key activity — never a global sort), then a keyed count
    * on the (state, next) pair — |states|²-bounded output regardless of
    * corpus size. p_next divides two exact BIGINTs (count over the
    * per-state total via a second tiny keyed agg joined back — a broadcast
    * at any scale since it is |states| rows).
    *
    * Determinism: within-key order is (ts, tieCol) — equal timestamps are
    * broken by the unique event id, so the successor relation is a pure
    * function of the data. */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .select(col(typeCol), lead(col(typeCol), 1).over(w).as("next_type"))
      .where(col("next_type").isNotNull)
      .groupBy(col(typeCol), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col(typeCol)).agg(sum(col("n")).as("__t"))
    pairs.join(broadcast(totals), typeCol) // |states| rows — always tiny
      .select(col(typeCol), col("next_type"), col("n"),
        (col("n").cast("double") / col("__t").cast("double")).as("p_next"))
  }

  /** Stationary distribution of the per-key event-type Markov chain —
    * "where does a user journey spend its time in the long run", the
    * steady-state companion to [[transitionMatrix]]'s one-step view.
    *
    * Chain: transition counts from consecutive (ts, tie)-ordered events
    * per key (same successor relation as [[transitionMatrix]]), then
    * `iters` synchronous power-iteration steps in EXACT integer
    * micro-probability arithmetic — the q181 PageRank discipline: a state
    * starts with 1e9 DIV |states| µ of mass and each edge forwards
    * (pi_mu · w) DIV out_w per round, floor division per edge, so any
    * engine replays the trajectory bit-for-bit (the oracle unrolls the
    * rounds as CTEs). No damping: flooring leaks ≤ |edges| µ of mass per
    * round (deterministically), and a sink state (no outgoing edges)
    * absorbs permanently — both documented properties of the exact
    * replayable scheme, not numerical accidents.
    *
    * Scale: the chain itself is a |states|²-bounded model artifact; each
    * round is one keyed join + one keyed agg over that constant-size edge
    * table, checkpointed so round N's plan never embeds rounds 1..N−1.
    * The data-sized work is the single lead-window pass building the
    * counts (per-key partitions, never a global sort).
    * Output: (state, pi_mu BIGINT, pi DOUBLE). */
  def markovStationary(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, tieCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val counts = events
      .select(col(typeCol).as("src"), lead(col(typeCol), 1).over(w).as("dst"))
      .where(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val outw = counts.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
      .toDF("__s", "out_w")
    val e = checkpoint(counts.join(broadcast(outw), col("src") === col("__s"))
      .select(col("src"), col("dst"), col("w"), col("out_w")))
    val states = checkpoint(e.select(col("src").as("state"))
      .unionByName(e.select(col("dst").as("state"))).distinct())
    val n1 = states.agg(count(lit(1)).as("__n"))
    var pi = checkpoint(states.crossJoin(broadcast(n1))
      .select(col("state"),
        expr("CAST(1000000000 AS BIGINT) DIV __n").as("pi_mu")))
    for (_ <- 1 to iters) {
      val in = pi.toDF("__src", "__pi")
        .join(e, col("__src") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(expr("(__pi * w) DIV out_w")).as("in_mu"))
        .toDF("__dst", "in_mu")
      pi = checkpoint(states.join(in, col("state") === col("__dst"), "left")
        .select(col("state"), coalesce(col("in_mu"), lit(0L)).as("pi_mu")))
    }
    pi.select(col("state"), col("pi_mu"),
      (col("pi_mu").cast("double") / lit(1e9)).as("pi"))
  }

  /** Burst detection: per key, the `topK` time buckets whose event count
    * most exceeds that key's own baseline, scored as a population z-score
    * over the key's bucket counts — the anomaly screen behind "which hour
    * did this error type spike" / crawl-rate alarms. Output: keyCol,
    * bucket (truncated timestamp), n, z (6 dp), rank.
    *
    * Plan: one (key, bucket)-keyed count (map-side combined), one
    * |keys|-row moment aggregate (count/sum/sum-of-squares — all exact
    * BIGINTs) broadcast back, then a closed-form per-row z — no double
    * ever aggregated. The rank window partitions by key over its own
    * bucket table (|buckets| rows per key — calendar-bounded, not
    * data-bounded). Keys with a single bucket (zero variance) are dropped
    * rather than emitted as infinities. */
  def bucketBurst(events: DataFrame, keyCol: String, tsCol: String,
                  bucket: String, topK: Int): DataFrame = {
    val cnt = events
      .groupBy(col(keyCol), date_trunc(bucket, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n"))
    val moments = cnt.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__m"), sum(col("n")).as("__s"),
        sum(col("n") * col("n")).as("__ss"))
    val mean = col("__s").cast("double") / col("__m").cast("double")
    val varp = col("__ss").cast("double") / col("__m").cast("double") - mean * mean
    cnt.join(broadcast(moments), keyCol)
      .where(col("__m") > 1 && varp > 0.0)
      .withColumn("z", round((col("n").cast("double") - mean) / sqrt(varp), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("z").desc, col("bucket").asc))
        .cast("bigint"))
      .where(col("rank") <= topK)
      .select(col(keyCol), col("bucket"), col("n"), col("z"), col("rank"))
  }

  /** Adjacent-bucket distribution drift — the data-drift monitor a
    * continuously-fed training pipeline runs on its intake: per time
    * bucket, the Jensen-Shannon divergence between the categorical
    * distribution of `catCol` in that bucket and in the PREVIOUS bucket.
    * A spike says the mix of incoming data changed (a source went down, a
    * crawler went rogue) before any model metric would show it. Output:
    * bucket (the later one), n_common (categories present in both),
    * js_divergence (nats, 6 dp).
    *
    * Plan: one (bucket, category) count; the grid join that scores a
    * bucket against its predecessor is keyed on (category, bucket) after a
    * calendar-arithmetic shift — |buckets| x |categories| rows total,
    * calendar- and category-bounded, never data-sized. Empty-in-one-side
    * categories score with p=0 via the full grid (distinct categories x
    * bucket totals), mirroring [[CorpusStats.jsDivergence]]'s top-V grid.
    *
    * Determinism: per-(bucket, category) JS contribution shares its
    * expression text with the SQL oracle (identical IEEE sequence), is
    * quantized to micro-units, and summed exactly — the TextLm discipline. */
  /** Cohort retention matrix — the product-analytics classic: users are
    * grouped by the bucket of their FIRST event (their cohort); each cell
    * (cohort, offset) counts how many of them were active `offset` buckets
    * later, with the retention rate against the cohort's size. Output:
    * cohort, bucket_offset, n_users, retention (6 dp).
    *
    * Plan: one user-keyed min (the cohort), one distinct (user, bucket)
    * projection, an equi-join back on the user key, and a
    * (cohort, offset)-keyed count-distinct — every shuffle is keyed, and
    * the output is |buckets|² cells (calendar-bounded). The offset is
    * exact integer day arithmetic (datediff DIV bucket length), never
    * float date math. */
  def cohortRetention(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val active = events
      .select(col(userCol).as("__u"), date_trunc("week", col(tsCol)).as("__b"))
      .distinct()
    val cohorts = active.groupBy(col("__u")).agg(min(col("__b")).as("__c"))
    val sizes = cohorts.groupBy(col("__c")).agg(count(lit(1)).as("__n"))
    active.join(cohorts, "__u")
      .select(col("__c"),
        expr("CAST(datediff(__b, __c) DIV 7 AS BIGINT)").as("bucket_offset"),
        col("__u"))
      .groupBy(col("__c"), col("bucket_offset"))
      .agg(count_distinct(col("__u")).as("n_users"))
      .join(broadcast(sizes), "__c")
      .select(col("__c").as("cohort"), col("bucket_offset"), col("n_users"),
        round(col("n_users").cast("double") / col("__n").cast("double"), 6)
          .as("retention"))
  }

  /** Markov removal-effect attribution (Anderl et al. 2016, the
    * data-driven alternative to q279's first/last/linear heuristics):
    * journeys are per-user event sequences truncated at the FIRST
    * conversion; a first-order chain over (start, channels, conv, null)
    * absorbs mass into conv/null, and each channel's credit is its
    * REMOVAL EFFECT — how much conversion probability disappears when
    * the channel's node is removed (its outgoing edges dropped, inbound
    * mass redirected to null) — normalized across channels.
    *
    * Scale + determinism: the chain lives on a |channels|+3 state grid;
    * per (scenario = baseline ∪ one-per-channel) the whole transition
    * structure is ONE collected entries array per row, and the `iters`
    * absorption steps run as in-row integer matvecs (masses in 1e-9
    * units, per-edge `mass·w DIV out_w` then an order-free integer sum)
    * with a localCheckpoint per step so no plan nesting compounds —
    * the q285/PPR iteration discipline. Truncation bias of the integer
    * div leaks ≤ out_w−1 micro-mass per (state, step) — identical in
    * any engine. Output per channel: (channel, p_conv, p_conv_removed,
    * removal_effect, attribution). */
  def markovRemovalAttribution(events: DataFrame, userCol: String,
                               tsCol: String, typeCol: String,
                               tieCol: String, convType: String,
                               iters: Int): DataFrame = {
    require(iters >= 1, "need at least one absorption step")
    val w = Window.partitionBy(col("__u")).orderBy(col("__ts"), col("__tie"))
    val ev0 = events.select(col(userCol).as("__u"), col(tsCol).as("__ts"),
      col(tieCol).as("__tie"), col(typeCol).as("__t"))
    val cut = ev0
      .withColumn("__isc", when(col("__t") === convType, 1L).otherwise(0L))
      .withColumn("__ccum", sum(col("__isc")).over(w))
      .where(col("__ccum") === 0 ||
        (col("__ccum") === 1 && col("__isc") === 1))
    val s2 = cut
      .withColumn("__nxt", lead(col("__t"), 1).over(w))
      .withColumn("__rn", row_number().over(w))
    def conv(c: Column) = when(c === convType, "conv").otherwise(c)
    val edges = s2.where(col("__rn") === 1)
      .select(lit("start").as("src"), conv(col("__t")).as("dst"))
      .unionByName(s2.where(col("__nxt").isNotNull)
        .select(col("__t").as("src"), conv(col("__nxt")).as("dst")))
      .unionByName(s2.where(col("__nxt").isNull && col("__t") =!= convType)
        .select(col("__t").as("src"), lit("null").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val scen = edges.select(col("src").as("scenario"))
      .where(col("scenario") =!= "start").distinct()
      .unionByName(edges.sparkSession.range(1)
        .select(lit("__baseline").as("scenario")))
    val se = edges.crossJoin(broadcast(scen))
      .where(col("src") =!= col("scenario"))
      .select(col("scenario"), col("src"),
        when(col("dst") === col("scenario"), lit("null"))
          .otherwise(col("dst")).as("dst"), col("w"))
      .groupBy(col("scenario"), col("src"), col("dst"))
      .agg(sum(col("w")).as("w"))
      .unionByName(scen
        .select(col("scenario"),
          explode(array(lit("conv"), lit("null"))).as("src"))
        .select(col("scenario"), col("src"), col("src").as("dst"),
          lit(1L).as("w")))
    val withO = se.join(
      se.groupBy(col("scenario"), col("src")).agg(sum(col("w")).as("out_w")),
      Seq("scenario", "src"))
    val idx = edges.select(col("src").as("n"))
      .unionByName(edges.select(col("dst").as("n")))
      .unionByName(edges.sparkSession.range(1).select(lit("null").as("n")))
      .unionByName(edges.sparkSession.range(1).select(lit("conv").as("n")))
      .unionByName(edges.sparkSession.range(1).select(lit("start").as("n")))
      .distinct()
      // ≤ |channels|+3 rows: the one global window is grid-bounded
      .withColumn("idx",
        (row_number().over(Window.orderBy(col("n"))) - 1).cast("int"))
    val meta = idx.agg(count(lit(1)).cast("int").as("n_states"),
      max(when(col("n") === "start", col("idx"))).as("start_idx"),
      max(when(col("n") === "conv", col("idx"))).as("conv_idx"))
    val rows = withO
      .join(broadcast(idx.toDF("__sn", "si")), col("src") === col("__sn"))
      .join(broadcast(idx.toDF("__dn", "di")), col("dst") === col("__dn"))
      .groupBy(col("scenario"))
      .agg(collect_list(struct(col("si"), col("di"), col("w"),
        col("out_w"))).as("M"))
      .crossJoin(broadcast(meta))
    var cur = rows.withColumn("dist", expr(
      "transform(sequence(0, n_states - 1), " +
        "j -> CAST(IF(j = start_idx, 1000000000, 0) AS BIGINT))"))
    // one checkpoint per step: an un-checkpointed chain lets Catalyst inline
    // each dist into the next lambda, and the nested HOF re-evaluates
    // the whole prior level per (state, edge) — measured 2x SLOWER at
    // a 4-step checkpoint stride than per-step materialization
    for (_ <- 1 to iters)
      cur = checkpoint(cur).withColumn("dist", expr(
        "transform(sequence(0, n_states - 1), " +
          "j -> aggregate(filter(M, e -> e.di = j), CAST(0 AS BIGINT), " +
          "(s, e) -> s + (element_at(dist, e.si + 1) * e.w) DIV e.out_w))"))
    val p = cur.select(col("scenario"),
      expr("element_at(dist, conv_idx + 1)").as("__p"))
    val base = p.where(col("scenario") === "__baseline")
      .select(col("__p").as("__pb"))
    val rem = p.where(col("scenario") =!= "__baseline")
      .crossJoin(broadcast(base))
    val tot = rem.agg(sum(col("__pb") - col("__p")).as("__te"))
    rem.crossJoin(broadcast(tot))
      .select(col("scenario").as("channel"),
        (col("__pb").cast("double") / lit(1e9)).as("p_conv"),
        (col("__p").cast("double") / lit(1e9)).as("p_conv_removed"),
        ((col("__pb") - col("__p")).cast("double") / lit(1e9))
          .as("removal_effect"),
        when(col("__te") === 0, lit(null).cast("double"))
          .otherwise((col("__pb") - col("__p")).cast("double") /
            col("__te").cast("double")).as("attribution"))
  }

  /** Cohort LTV curve — the revenue companion to [[cohortRetention]]:
    * users grouped by first-activity week, each (cohort, weeks-since)
    * cell accumulating the cohort's revenue so far per original member
    * (denominator = cohort SIZE, not survivors — the LTV convention).
    * Output: (cohort_week, week_k, n_users, cum_value_per_user).
    *
    * Scale: one user-keyed min, a (cohort, week)-keyed cents sum, a
    * cumulative window per cohort over the calendar-bounded week grid,
    * and a broadcast size join. Exactness: revenue rides integer cents
    * to the single terminal division. */
  def cohortLtv(events: DataFrame, userCol: String, tsCol: String,
                value: Column): DataFrame = {
    val base = events.select(col(userCol).as("__u"),
      expr(s"CAST(datediff(CAST($tsCol AS DATE), DATE '1970-01-01') DIV 7 AS BIGINT)")
        .as("__w"),
      (value.cast(DecimalType(12, 2)) * lit(100)).cast("bigint").as("__c"))
    val cohorts = base.groupBy(col("__u")).agg(min(col("__w")).as("__cw"))
    val sizes = cohorts.groupBy(col("__cw")).agg(count(lit(1)).as("n_users"))
    val win = Window.partitionBy(col("__cw")).orderBy(col("week_k"))
      .rowsBetween(Window.unboundedPreceding, 0)
    base.join(cohorts, "__u")
      .groupBy(col("__cw"), (col("__w") - col("__cw")).as("week_k"))
      .agg(sum(col("__c")).as("__cents"))
      .withColumn("__cum", sum(col("__cents")).over(win))
      .join(broadcast(sizes), "__cw")
      .select(col("__cw").as("cohort_week"), col("week_k"), col("n_users"),
        (col("__cum").cast("double") / lit(100.0) /
          col("n_users").cast("double")).as("cum_value_per_user"))
  }

  /** RFM segmentation (Hughes 1994) — the retail-analytics classic: per
    * user, Recency (days since last event, against the data horizon),
    * Frequency (event count) and Monetary (exact purchase cents), each
    * scored 1–5 against the population's quintile cutoffs, concatenated
    * into the familiar "555"-style segment label.
    *
    * Scale + determinism: cutoffs are ONE broadcast 1-row aggregate of
    * interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont` on the same exact integers — the q282 grid
    * precedent); scores are per-row comparisons against those four
    * doubles — no rank window over the user table (an `ntile` would
    * single-partition it). Recency scores INVERTED (most recent = 5).
    * Output: (userCol, recency_days, frequency, monetary_cents,
    * r_score, f_score, m_score, segment). */
  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
                  monetary: Column): DataFrame = {
    val day = dayIdx(col(tsCol))
    val per = events.groupBy(col(userCol))
      .agg(max(day).as("__last"), count(lit(1)).as("frequency"),
        (sum(monetary.cast(DecimalType(12, 2))) * lit(100)).cast("bigint")
          .as("monetary_cents"))
    val horizon = per.agg(max(col("__last")).as("__h"))
    val pu = per.crossJoin(broadcast(horizon))
      .select(col(userCol), (col("__h") - col("__last")).as("recency_days"),
        col("frequency"), col("monetary_cents"))
    val cuts = pu.agg(
      expr("percentile(CAST(recency_days AS DOUBLE), array(0.2D, 0.4D, 0.6D, 0.8D))").as("__rc"),
      expr("percentile(CAST(frequency AS DOUBLE), array(0.2D, 0.4D, 0.6D, 0.8D))").as("__fc"),
      expr("percentile(CAST(monetary_cents AS DOUBLE), array(0.2D, 0.4D, 0.6D, 0.8D))").as("__mc"))
    pu.crossJoin(broadcast(cuts))
      .withColumn("r_score",
        (lit(1) + expr("size(filter(__rc, c -> CAST(recency_days AS DOUBLE) < c))"))
          .cast("bigint"))
      .withColumn("f_score",
        (lit(1) + expr("size(filter(__fc, c -> CAST(frequency AS DOUBLE) > c))"))
          .cast("bigint"))
      .withColumn("m_score",
        (lit(1) + expr("size(filter(__mc, c -> CAST(monetary_cents AS DOUBLE) > c))"))
          .cast("bigint"))
      .select(col(userCol), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"),
        col("m_score"),
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")).as("segment"))
  }

  /** Rolling N-day active users (DAU→WAU family): for each calendar day,
    * the distinct users active in the trailing `windowDays` window. The
    * naive formulation is a distinct-count over a RANGE window (a
    * re-scan of N days per day); this one explodes each (user, day) into
    * the ≤ N window-end days it contributes to — a bounded generator, the
    * q95 sliding-window discipline — and counts distinct per end day. Days
    * with no window activity simply don't appear; end days are restricted
    * to days that exist in the data (a trailing window wholly past the
    * data would report ghosts). Output: day, n_active.
    *
    * Scale: the expansion is a constant factor N on the DISTINCT
    * (user, day) table (already collapsed from raw events), every shuffle
    * keyed on the day or (day, user). */
  def rollingActive(events: DataFrame, userCol: String, tsCol: String,
                    windowDays: Int): DataFrame = {
    val ud = events
      .select(col(userCol).as("__u"), date_trunc("day", col(tsCol)).as("__d"))
      .distinct()
    val days = ud.select(col("__d")).distinct()
    ud.select(col("__u"), explode(expr(
        s"transform(sequence(0, ${windowDays - 1}), " +
          "i -> __d + make_interval(0, 0, 0, i, 0, 0, 0))")).as("__w"))
      .join(days.select(col("__d").as("__w")), "__w")
      .groupBy(col("__w"))
      .agg(count_distinct(col("__u")).as("n_active"))
      .select(col("__w").as("day"), col("n_active"))
  }

  def adjacentDrift(events: DataFrame, catCol: String, tsCol: String,
                    bucket: String): DataFrame = {
    val cnt = events
      .groupBy(date_trunc(bucket, col(tsCol)).as("__b"), col(catCol).as("__cat"))
      .agg(count(lit(1)).as("c"))
    val totals = cnt.groupBy(col("__b")).agg(sum(col("c")).as("t"))
    val cats = cnt.select(col("__cat")).distinct()
    val grid = cats.crossJoin(broadcast(totals)) // |cats| x |buckets|, tiny
      .join(cnt, Seq("__b", "__cat"), "left")
      .select(col("__b"), col("__cat"), col("t"), coalesce(col("c"), lit(0L)).as("c"))
    val prev = grid.select(
      (col("__b") + expr(s"INTERVAL 1 $bucket")).as("__b"),
      col("__cat"), col("c").as("ca"), col("t").as("ta"))
    val cur = grid.select(col("__b"), col("__cat"),
      col("c").as("cb"), col("t").as("tb"))
    prev.join(cur, Seq("__b", "__cat"))
      // identical expression text to the oracle => identical IEEE sequence
      .withColumn("mu", expr(
        """CAST(round((
          |  CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)) *
          |    ln((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)) /
          |      ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) +
          |        CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) / 2)) ELSE 0.0 END +
          |  CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) *
          |    ln((CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) /
          |      ((CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) +
          |        CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE)) / 2)) ELSE 0.0 END
          |) * 5e5) AS BIGINT)""".stripMargin))
      .groupBy(col("__b"))
      .agg(sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L)).as("n_common"),
        sum(col("mu")).as("__mu"))
      .select(col("__b").as("bucket"), col("n_common"),
        round(col("__mu").cast("double") / lit(1e6), 6).as("js_divergence"))
  }

  /** Inter-event gap census: the time between each user's consecutive
    * events, bucketed into human-scale bands — the engagement-cadence
    * profile (sub-minute = bursts/bots, multi-hour = sessions apart) and
    * the input a session-timeout choice is justified from.
    *
    * Plan: one lag window PARTITIONED by user (per-user frames, never
    * global — ordered by (ts, idCol) so timestamp ties can't flap the
    * lag), gap in exact integer microseconds, bucket by CASE, one small
    * keyed aggregate. share is the one double, computed against the 1-row
    * total. */
  def interEventGaps(events: DataFrame, userCol: String, tsCol: String,
                     idCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val gapUs = (unix_micros(col(tsCol)) -
      unix_micros(lag(col(tsCol), 1).over(w)))
    val m = 60L * 1000000L
    val bucket = when(gapUs < m, "a_lt1m")
      .when(gapUs < 10L * m, "b_1to10m")
      .when(gapUs < 60L * m, "c_10to60m")
      .when(gapUs < 360L * m, "d_1to6h")
      .otherwise("e_gt6h")
    val counts = events
      .select(bucket.as("gap_bucket"), gapUs.as("__gap"))
      .where(col("__gap").isNotNull)
      .groupBy(col("gap_bucket")).agg(count(lit(1)).as("n"))
    counts.crossJoin(broadcast(counts.agg(sum(col("n")).as("__t"))))
      .select(col("gap_bucket"), col("n"),
        (col("n").cast("double") / col("__t").cast("double")).as("share"))
  }

  /** Linearly-weighted k-period moving average of a per-key daily count
    * series: wma_t = Σ_{j=0..k−1} (k−j)·c_{t−j} / (k(k+1)/2), emitted only
    * for days with a full k-day history — the smoothed trend line a volume
    * dashboard plots (recent days weigh more than a flat window, without
    * EWMA's infinite tail).
    *
    * "Previous" means previous OBSERVED day for the key (lag over the
    * per-key day series), which coincides with calendar days on a dense
    * series and is stated behavior on a sparse one.
    *
    * Determinism: the numerator Σ(k−j)·count is an exact BIGINT (integer
    * weights on integer counts); ONE final division. Days are epoch-day
    * BIGINTs (every engine agrees on integer day arithmetic; truncated
    * timestamps would re-open timezone/precision questions). The lag
    * windows run over the per-key DAILY table (≤ days×keys rows), not
    * events. */
  def wmaTrend(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val k = 7
    val daily = events
      .groupBy(col(keyCol), dayIdx(col(tsCol)).as("day_idx"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day_idx"))
    val terms = (0 until k).map { j =>
      lit((k - j).toLong) * lag(col("n"), j).over(w)
    }.reduce(_ + _)
    daily.withColumn("__num", terms)
      .where(col("__num").isNotNull) // any missing lag nulls the whole sum
      .select(col(keyCol), col("day_idx"), col("n"),
        (col("__num").cast("double") / lit((k * (k + 1) / 2).toDouble))
          .as(s"wma$k"))
  }

  /** Calendar gap fill with LOCF and linear interpolation: densify each
    * key's daily value series onto the corpus's full [min, max] day range,
    * then fill holes two ways — last-observation-carried-forward, and the
    * linear interpolation between the surrounding observed days — the
    * regularization step before any rolling/seasonal computation trusts
    * "one row per day".
    *
    * Plan: the observed daily table (keys × observed days) left-joins a
    * generated key × full-day-range grid (sequence over the 1-row global
    * bounds — CALENDAR-bounded, never row-bounded); the carried
    * previous/next observations come from 4 ignore-null running windows
    * PARTITIONED by key over that grid. Values are exact decimal daily
    * sums; the interpolation formula is the single double expression. */
  def gapFill(events: DataFrame, keyCol: String, tsCol: String,
              valueCol: String): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), dayIdx(col(tsCol)).as("day_idx"))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast(DecimalType(12, 2)))
          .as("__sv"))
    val bounds = events.agg(min(dayIdx(col(tsCol))).as("__mn"),
      max(dayIdx(col(tsCol))).as("__mx"))
    val grid = daily.select(col(keyCol)).distinct()
      .crossJoin(broadcast(bounds))
      .select(col(keyCol), explode(sequence(col("__mn"), col("__mx")))
        .as("day_idx"))
    val j = grid.join(daily, Seq(keyCol, "day_idx"), "left")
    val wPrev = Window.partitionBy(col(keyCol)).orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col(keyCol)).orderBy(col("day_idx"))
      .rowsBetween(0, Window.unboundedFollowing)
    val v = col("__sv").cast("double")
    val filled = j
      .withColumn("__pv", last(v, ignoreNulls = true).over(wPrev))
      .withColumn("__pd", last(when(col("__sv").isNotNull, col("day_idx")),
        ignoreNulls = true).over(wPrev))
      .withColumn("__nv", first(v, ignoreNulls = true).over(wNext))
      .withColumn("__nd", first(when(col("__sv").isNotNull, col("day_idx")),
        ignoreNulls = true).over(wNext))
    filled.select(col(keyCol), col("day_idx"),
      coalesce(col("n"), lit(0L)).as("n"),
      col("__pv").as("v_locf"),
      when(col("__sv").isNotNull, v)
        .when(col("__pv").isNotNull && col("__nv").isNotNull,
          col("__pv") + (col("__nv") - col("__pv")) *
            (col("day_idx").cast("double") - col("__pd").cast("double")) /
            (col("__nd").cast("double") - col("__pd").cast("double")))
        .otherwise(coalesce(col("__pv"), col("__nv"))).as("v_interp"))
  }

  /** First-view → first-purchase conversion latency, summarized as exact
    * minute-grid percentiles: per user the time from their first `fromEv`
    * to their first `toEv` (counted only when the latter is strictly
    * later), floored to whole minutes; output one row — converts, p50/p90
    * minutes (smallest grid value reaching the cumulative share — the
    * weightedMedian all-integer rule) and the exact mean.
    *
    * Plan: one conditional per-user aggregate (two min timestamps), then
    * a minute-GRID cumulative (bounded by the corpus time range, the q158
    * discipline) — never a sort of per-user latencies. */
  def conversionLatency(events: DataFrame, userCol: String, tsCol: String,
                        typeCol: String, fromEv: String, toEv: String): DataFrame = {
    val us = unix_micros(col(tsCol))
    val per = events.where(col(typeCol) === fromEv || col(typeCol) === toEv)
      .groupBy(col(userCol))
      .agg(min(when(col(typeCol) === fromEv, us)).as("__vu"),
        min(when(col(typeCol) === toEv, us)).as("__pu"))
      .where(col("__vu").isNotNull && col("__pu").isNotNull &&
        col("__pu") > col("__vu"))
    val lat = per.select(
      expr("(__pu - __vu) div 60000000").as("lat_min"))
      .groupBy(col("lat_min")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("lat_min"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = lat.withColumn("__cum", sum(col("c")).over(w))
      .crossJoin(broadcast(lat.agg(sum(col("c")).as("__n"),
        sum(col("lat_min") * col("c")).as("__s"))))
    cum.agg(
      max(col("__n")).as("n_converted"),
      min(when(col("__cum") * 2 >= col("__n"), col("lat_min"))).as("p50_min"),
      min(when(col("__cum") * 10 >= col("__n") * 9, col("lat_min"))).as("p90_min"),
      max(col("__s").cast("double") / col("__n").cast("double")).as("mean_min"))
  }

  /** Cumulative-uniques curve: per day, how many users were seen for the
    * FIRST time, and the running total — audience growth. Per-user min day
    * (one keyed aggregate over events), counts re-aggregated onto the
    * full day grid, cumulative over that CALENDAR-bounded grid. */
  def cumulativeUniques(events: DataFrame, userCol: String,
                        tsCol: String): DataFrame = {
    val firstDay = events.groupBy(col(userCol))
      .agg(min(dayIdx(col(tsCol))).as("day_idx"))
      .groupBy(col("day_idx")).agg(count(lit(1)).as("n_new"))
    val bounds = events.agg(min(dayIdx(col(tsCol))).as("__mn"),
      max(dayIdx(col(tsCol))).as("__mx"))
    val grid = bounds.select(explode(sequence(col("__mn"), col("__mx")))
      .as("day_idx"))
    val w = Window.orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(firstDay, Seq("day_idx"), "left")
      .select(col("day_idx"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_users", sum(col("n_new")).over(w))
  }

  /** Daily active users split into NEW (first ever seen that day) vs
    * RETURNING — the growth-vs-retention product metric next to
    * [[cumulativeUniques]]' total curve. Two keyed aggregates (per-user
    * first day; distinct per-day actives) joined on the day — never a
    * day × history rescan; new_share is the one double.
    * Output: (day_idx, n_active, n_new, n_returning, new_share). */
  def newVsReturning(events: DataFrame, userCol: String,
                     tsCol: String): DataFrame = {
    val firstDay = events.groupBy(col(userCol))
      .agg(min(dayIdx(col(tsCol))).as("day_idx"))
      .groupBy(col("day_idx")).agg(count(lit(1)).as("n_new"))
    val actives = events
      .select(dayIdx(col(tsCol)).as("day_idx"), col(userCol).as("__u"))
      .distinct()
      .groupBy(col("day_idx")).agg(count(lit(1)).as("n_active"))
    actives.join(firstDay, Seq("day_idx"), "left")
      .select(col("day_idx"), col("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (col("n_active") - coalesce(col("n_new"), lit(0L)))
          .as("n_returning"),
        (coalesce(col("n_new"), lit(0L)).cast("double") / col("n_active"))
          .as("new_share"))
  }

  /** Multiplicative day-of-week seasonality index per key: (that
    * weekday's average daily volume) / (the overall average daily
    * volume), with exact integer numerators — a lag-7 ACF (q173) says
    * "weekly rhythm exists", this says which days carry it. Weekday
    * slot = epoch-day mod 7 (a stable 7-bucket labeling, not tied to a
    * locale's week start). Day counts come from the calendar grid, so
    * weekdays absent from the data still divide correctly. */
  def dowSeasonality(events: DataFrame, keyCol: String,
                     tsCol: String): DataFrame = {
    val cnt = events.groupBy(col(keyCol),
        pmod(dayIdx(col(tsCol)), lit(7L)).as("dow"))
      .agg(count(lit(1)).as("n_events"))
    val bounds = events.agg(min(dayIdx(col(tsCol))).as("__mn"),
      max(dayIdx(col(tsCol))).as("__mx"))
    val dowDays = bounds
      .select(explode(sequence(col("__mn"), col("__mx"))).as("d"))
      .groupBy(pmod(col("d"), lit(7L)).as("dow"))
      .agg(count(lit(1)).as("n_days"))
    val tot = cnt.groupBy(col(keyCol))
      .agg(sum(col("n_events")).as("__te"))
      .crossJoin(broadcast(bounds
        .select((col("__mx") - col("__mn") + 1).as("__td"))))
    cnt.join(broadcast(dowDays), "dow").join(tot, keyCol)
      .select(col(keyCol), col("dow"), col("n_events"), col("n_days"),
        ((col("n_events").cast("double") / col("n_days").cast("double")) /
          (col("__te").cast("double") / col("__td").cast("double")))
          .as("season_idx"))
  }

  /** CUSUM changepoint screen per key on the daily-count series: the day
    * where the cumulative deviation from the series mean peaks in
    * magnitude — the classic "did the level shift, and when" alarm for a
    * volume monitor (a ramp peaks mid-series; a step change peaks at the
    * step). Output per key: the argmax day (earliest on ties), the peak
    * |CUSUM| (in counts), and the observed-day count.
    *
    * All-integer core: with S the key's total and D its day count,
    * D·CUSUM_t = D·cum_t − rank_t·S needs no division — exact BIGINTs
    * end to end, one division for display. Windows run over the per-key
    * DAILY table (calendar-bounded), never events. */
  def cusumChangepoint(events: DataFrame, keyCol: String,
                       tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), dayIdx(col(tsCol)).as("day_idx"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day_idx"))
    val cum = daily
      .withColumn("__cc", sum(col("c")).over(
        Window.partitionBy(col(keyCol)).orderBy(col("day_idx"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__rk", row_number().over(w).cast("bigint"))
    val tot = daily.groupBy(col(keyCol))
      .agg(sum(col("c")).as("__s"), count(lit(1)).as("n_days"))
    val scored = cum.join(tot, keyCol)
      .select(col(keyCol), col("day_idx"), col("n_days"), col("__s"),
        abs(col("n_days") * col("__cc") - col("__rk") * col("__s"))
          .as("__dcu"))
    val peak = scored.groupBy(col(keyCol))
      .agg(max(col("__dcu")).as("__mx"))
    scored.join(peak, keyCol).where(col("__dcu") === col("__mx"))
      .groupBy(col(keyCol))
      .agg(min(col("day_idx")).as("change_day"), max(col("n_days")).as("n_days"),
        (max(col("__dcu")).cast("double") / max(col("n_days")).cast("double"))
          .as("cusum_peak"))
  }

  /** Exit census: each user's LAST event (latest ts, id tie-break) and the
    * distribution of its type — where journeys end, the batch sibling of
    * the q126 transition matrix's absorbing column. Per-user descending
    * row_number window (user-partitioned frames), then one small keyed
    * aggregate; share against the 1-row user total. */
  def lastEventCensus(events: DataFrame, userCol: String, tsCol: String,
                      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).desc, col(idCol).desc)
    val last = events
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .groupBy(col(typeCol).as("last_event_type"))
      .agg(count(lit(1)).as("n_users"))
    last.crossJoin(broadcast(last.agg(sum(col("n_users")).as("__t"))))
      .select(col("last_event_type"), col("n_users"),
        (col("n_users").cast("double") / col("__t").cast("double")).as("share"))
  }

  /** Per-key daily EWMA smoothing: e_1 = v_1, e_t = α·v_t + (1-α)·e_{t-1}
    * over each key's OBSERVED days in day order — the recursive smoother a
    * monitoring pipeline runs over its daily series.
    *
    * A linear recurrence has no associative reformulation, so it cannot be
    * a partial-aggregable tree — but it doesn't need one: the state is one
    * double per key, and each key's series is CALENDAR-bounded (≤ #days
    * rows regardless of corpus size, the q173/q231 argument). The fold
    * runs in-row over the day-sorted collected series (`aggregate` HOF),
    * one shuffle total, no windows.
    *
    * Determinism: daily values are exact decimal sums cast to double once;
    * the fold visits days in sorted order with the literal-double α
    * formula written exactly as the oracle's recursive CTE — identical
    * IEEE operation order, identical bits. */
  def ewmaDaily(events: DataFrame, keyCol: String, tsCol: String,
                valueCol: String, alpha: Double): DataFrame = {
    val daily = dailySums(events, keyCol, tsCol, valueCol)
    val a = alpha
    val b = 1.0 - alpha
    daySeries(daily, keyCol)
      .select(col(keyCol), explode(expr(
        s"""aggregate(
           |  __arr,
           |  named_struct('e', CAST(0.0 AS DOUBLE),
           |    'out', CAST(array() AS ARRAY<STRUCT<day: BIGINT,
           |      v: DOUBLE, ew: DOUBLE>>)),
           |  (acc, x) -> named_struct(
           |    'e', CASE WHEN size(acc.out) = 0 THEN x.v
           |      ELSE ${a}D * x.v + ${b}D * acc.e END,
           |    'out', concat(acc.out, array(named_struct('day', x.day,
           |      'v', x.v,
           |      'ew', CASE WHEN size(acc.out) = 0 THEN x.v
           |        ELSE ${a}D * x.v + ${b}D * acc.e END)))),
           |  acc -> acc.out)""".stripMargin)).as("__r"))
      .select(col(keyCol), col("__r.day").as("day_idx"), col("__r.v").as("v"),
        col("__r.ew").as("ewma"))
  }

  /** Holt linear (double-exponential) smoothing per key: level + trend
    * state, l_1 = v_1 and b_1 = 0, then
    * l_t = α·v_t + (1−α)·(l_{t−1} + b_{t−1}) and
    * b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}, with the one-step-ahead
    * forecast l_t + b_t — [[ewmaDaily]]'s trend-aware sibling, same
    * in-row fold over the calendar-bounded day series (two doubles of
    * state per key), same bit-identical-order oracle contract. */
  def holtLinear(events: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, alpha: Double, beta: Double): DataFrame = {
    val daily = dailySums(events, keyCol, tsCol, valueCol)
    val (a, b) = (alpha, beta)
    val (na, nb) = (1.0 - alpha, 1.0 - beta)
    // newL appears twice (in 'l' and inside 'b') — written out identically
    // both times, exactly as the oracle's recursive CTE recomputes it
    val newL = s"${a}D * x.v + ${na}D * (acc.l + acc.b)"
    daySeries(daily, keyCol)
      .select(col(keyCol), explode(expr(
        s"""aggregate(
           |  __arr,
           |  named_struct('l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
           |    'out', CAST(array() AS ARRAY<STRUCT<day: BIGINT, v: DOUBLE,
           |      l: DOUBLE, b: DOUBLE>>)),
           |  (acc, x) -> named_struct(
           |    'l', CASE WHEN size(acc.out) = 0 THEN x.v ELSE $newL END,
           |    'b', CASE WHEN size(acc.out) = 0 THEN CAST(0.0 AS DOUBLE)
           |      ELSE ${b}D * (($newL) - acc.l) + ${nb}D * acc.b END,
           |    'out', concat(acc.out, array(named_struct('day', x.day,
           |      'v', x.v,
           |      'l', CASE WHEN size(acc.out) = 0 THEN x.v ELSE $newL END,
           |      'b', CASE WHEN size(acc.out) = 0 THEN CAST(0.0 AS DOUBLE)
           |        ELSE ${b}D * (($newL) - acc.l) + ${nb}D * acc.b END)))),
           |  acc -> acc.out)""".stripMargin)).as("__r"))
      .select(col(keyCol), col("__r.day").as("day_idx"), col("__r.v").as("v"),
        col("__r.l").as("level"), col("__r.b").as("trend"),
        (col("__r.l") + col("__r.b")).as("forecast_next"))
  }

  /** Holt-Winters ADDITIVE seasonal smoothing (online form): level,
    * trend and a `period`-slot seasonal vector updated per observed day
    * — [[holtLinear]] plus the seasonality q235 proves the data has.
    * Seasonal slots are CALENDAR (day_idx mod period, day-of-week for
    * period 7), so gaps never shift the alignment; seasonals start at 0
    * and are learned online (γ-updates from the first row — the
    * deterministic alternative to the classic first-cycle
    * initialization, scaladoc'd so the contract is explicit). The
    * smoothing constants are α = 0.4, β = 0.2, γ = 0.3 and period = 7
    * (forecast_next reads the NEXT day's slot from the pre-update
    * vector, which only differs from the just-updated slot when
    * period > 1).
    *
    * Same scale/determinism posture as [[holtLinear]]: one in-row fold
    * per key over the calendar-bounded day series (state: 2 doubles +
    * `period` doubles), every recurrence written textually once per
    * appearance so the oracle's recursive CTE replays the identical
    * IEEE sequence. Output: (key, day_idx, v, level, trend, season,
    * forecast_next). */
  def holtWinters(events: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String): DataFrame = {
    val (a, b, g, m) = (0.4, 0.2, 0.3, 7)
    val daily = dailySums(events, keyCol, tsCol, valueCol)
    val (na, nb, ng) = (1.0 - a, 1.0 - b, 1.0 - g)
    // floor-mod: a pre-1970 timestamp makes day negative, and % would
    // hand element_at a non-positive index (index 0 errors; negatives
    // silently read from the END of the seasonal vector)
    val idx = s"CAST(pmod(x.day, $m) AS INT)"
    val prevS = s"element_at(acc.s, $idx + 1)"
    // the recurrences appear multiple times each — written out
    // identically every time, exactly as the oracle's recursive CTE
    // recomputes them
    val newL = s"CASE WHEN size(acc.out) = 0 THEN x.v " +
      s"ELSE ${a}D * (x.v - $prevS) + ${na}D * (acc.l + acc.b) END"
    val newB = s"CASE WHEN size(acc.out) = 0 THEN CAST(0.0 AS DOUBLE) " +
      s"ELSE ${b}D * (($newL) - acc.l) + ${nb}D * acc.b END"
    val newSe = s"${g}D * (x.v - ($newL)) + ${ng}D * $prevS"
    val fcNext = s"($newL) + ($newB) + " +
      s"element_at(acc.s, CAST(pmod(x.day + 1, $m) AS INT) + 1)"
    daySeries(daily, keyCol)
      .select(col(keyCol), explode(expr(
        s"""aggregate(
           |  __arr,
           |  named_struct('l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
           |    's', transform(sequence(0, ${m - 1}), i -> CAST(0.0 AS DOUBLE)),
           |    'out', CAST(array() AS ARRAY<STRUCT<day: BIGINT, v: DOUBLE,
           |      l: DOUBLE, b: DOUBLE, se: DOUBLE, fc: DOUBLE>>)),
           |  (acc, x) -> named_struct(
           |    'l', $newL,
           |    'b', $newB,
           |    's', transform(sequence(0, ${m - 1}), i ->
           |      CASE WHEN i = $idx THEN $newSe
           |        ELSE element_at(acc.s, i + 1) END),
           |    'out', concat(acc.out, array(named_struct('day', x.day,
           |      'v', x.v, 'l', $newL, 'b', $newB, 'se', $newSe,
           |      'fc', $fcNext)))),
           |  acc -> acc.out)""".stripMargin)).as("__r"))
      .select(col(keyCol), col("__r.day").as("day_idx"), col("__r.v").as("v"),
        col("__r.l").as("level"), col("__r.b").as("trend"),
        col("__r.se").as("season"), col("__r.fc").as("forecast_next"))
  }

  /** Multi-touch attribution: credit each conversion's preceding touches
    * within a lookback window under three models at once — last-touch
    * (1.0 to the latest touch), first-touch (1.0 to the earliest), and
    * linear (1/n to each) — reported as per-(channel, model) credit
    * totals. The marketing-attribution report every events warehouse
    * ships; the three models share ONE touch-expansion pass.
    *
    * Scale: the (conversion, touch) expansion joins user-keyed and is
    * bounded by touches-per-user-window (a hot-user cap upstream is the
    * q264 recipe if a user can touch unboundedly); rank windows
    * partition per CONVERSION (frames = that conversion's touches).
    * Determinism: linear credit quantizes 1/n to integer micro-units per
    * touch row, with the rounding remainder 1e6 − (n−1)·round(1e6/n)
    * assigned to the LAST touch (rl = 1) so each conversion's credit sums
    * to EXACTLY 1.0 — round(1e6/n) alone leaves ±(n/2) µ per conversion
    * for n = 3, 6, 7, … (ADVICE r10); ties on touch ts break by touch id,
    * matching the oracle's ORDER BY. Output:
    * (channel, model, credit, n_touches). */
  def attribution(events: DataFrame, userCol: String, tsCol: String,
                  idCol: String, typeCol: String, channelCol: Column,
                  convType: String, touchTypes: Seq[String],
                  lookbackSec: Long): DataFrame = {
    val conv = events.where(col(typeCol) === convType)
      .select(col(userCol).as("__u"), col(tsCol).as("__ct"),
        col(idCol).as("__cid"))
    val touch = events.where(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("__u"), col(tsCol).as("__tt"),
        col(idCol).as("__tid"), channelCol.as("channel"))
    val pairs = conv.join(touch, Seq("__u"))
      .where(col("__tt") <= col("__ct") &&
        col("__tt") >= col("__ct") - expr(s"INTERVAL $lookbackSec SECONDS"))
    val wLast = Window.partitionBy(col("__cid"))
      .orderBy(col("__tt").desc, col("__tid").desc)
    val wFirst = Window.partitionBy(col("__cid"))
      .orderBy(col("__tt").asc, col("__tid").asc)
    val wN = Window.partitionBy(col("__cid"))
    val credited = pairs
      .withColumn("__rl", row_number().over(wLast))
      .withColumn("__rf", row_number().over(wFirst))
      .withColumn("__n", count(lit(1)).over(wN))
    def model(name: String, creditMu: Column) = credited
      .groupBy(col("channel"))
      .agg(sum(creditMu).as("__mu"), count(lit(1)).as("n_touches"))
      .select(col("channel"), lit(name).as("model"),
        (col("__mu").cast("double") / lit(1e6)).as("credit"),
        col("n_touches"))
    model("last", when(col("__rl") === 1, 1000000L).otherwise(0L))
      .unionByName(model("first",
        when(col("__rf") === 1, 1000000L).otherwise(0L)))
      .unionByName(model("linear",
        // floor-div (not round) so the last-touch remainder
        // 1e6 − (n−1)·⌊1e6/n⌋ is non-negative for every n; totals
        // still sum to exactly 1e6 micro-units per conversion.
        when(col("__rl") === 1, lit(1000000L) -
            (col("__n") - 1) * expr("1000000L div __n"))
          .otherwise(expr("1000000L div __n"))))
  }

  /** STL-lite seasonal decomposition of the per-key daily COUNT series:
    * trend = centered 7-day moving average (full-window gate), weekday
    * effect = per-(key, dow) mean of the detrended series, residual =
    * count − trend − weekday effect, flagged when |residual| exceeds
    * `madK`× the key's median absolute residual — "unusual for a Tuesday
    * in a slow week", the anomaly q120's plain z-score and q236's CUSUM
    * both miss when trend and weekly rhythm coexist.
    *
    * Scale + determinism: the trend window is a 7-row frame inside
    * calendar-bounded per-key partitions; every fractional quantity is
    * quantized to integer micro-units at its FIRST appearance (trend_mu
    * from an integer 7-day sum, dow effect from an exact BIGINT sum of
    * r1_mu, residual as BIGINT subtraction), so cross-row aggregation is
    * exact integer arithmetic; the MAD is an exact interpolated
    * percentile of BIGINTs per key (day-grid bounded, the q49 posture).
    * Output: (key, day_idx, n, trend, resid, is_anomaly). */
  def seasonalResiduals(events: DataFrame, keyCol: String, tsCol: String,
                        madK: Double): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), dayIdx(col(tsCol)).as("day_idx"))
      .agg(count(lit(1)).as("n"))
    val w7 = Window.partitionBy(col(keyCol)).orderBy(col("day_idx"))
      .rowsBetween(-3, 3)
    val trended = daily
      .withColumn("__s7", sum(col("n")).over(w7))
      .withColumn("__c7", count(col("n")).over(w7))
      .where(col("__c7") === 7)
      .withColumn("trend_mu",
        round(col("__s7").cast("double") * lit(1e6) / lit(7.0))
          .cast("bigint"))
      .withColumn("r1_mu", col("n") * lit(1000000L) - col("trend_mu"))
      .withColumn("dow", pmod(col("day_idx") + 4, lit(7)))
    // fresh names on the aggregated side: dow/key derive from `trended`,
    // so joining on the same attribute would be trivially true
    val dowEff = trended.groupBy(col(keyCol).as("__k"), col("dow").as("__dw"))
      .agg(round(sum(col("r1_mu")).cast("double") / count(lit(1)))
        .cast("bigint").as("dow_mu"))
      .toDF("__k", "__dw", "dow_mu")
    val resid = trended
      .join(dowEff, col(keyCol) === col("__k") && col("dow") === col("__dw"))
      .select(col(keyCol), col("day_idx"), col("n"), col("trend_mu"),
        (col("r1_mu") - col("dow_mu")).as("resid_mu"))
    val mad = resid.groupBy(col(keyCol).as("__k2"))
      .agg(expr("percentile(abs(resid_mu), 0.5D)").as("__mad"))
    resid.join(broadcast(mad), resid(keyCol) === col("__k2"))
      .select(resid(keyCol), col("day_idx"), col("n"),
        (col("trend_mu").cast("double") / lit(1e6)).as("trend"),
        (col("resid_mu").cast("double") / lit(1e6)).as("resid"),
        (abs(col("resid_mu")).cast("double") > lit(madK) * col("__mad"))
          .as("is_anomaly"))
  }

  /** New-extreme detector: per (key, day), the daily value against the
    * min/max of the PREVIOUS `win` observed days (full-history gate —
    * the first `win` days emit no verdict). Frames are row-bounded at
    * `win` within calendar-bounded per-key partitions — the q224 WMA
    * window discipline. Output: (key, day_idx, v, lo, hi,
    * is_new_high, is_new_low). */
  def rollingExtremes(events: DataFrame, keyCol: String, tsCol: String,
                      valueCol: String, win: Int): DataFrame = {
    val daily = dailySums(events, keyCol, tsCol, valueCol)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day_idx"))
      .rowsBetween(-win, -1)
    daily
      .withColumn("__lo", min(col("v")).over(w))
      .withColumn("__hi", max(col("v")).over(w))
      .withColumn("__n", count(col("v")).over(w))
      .where(col("__n") === win)
      .select(col(keyCol), col("day_idx"), col("v"),
        col("__lo").as("lo"), col("__hi").as("hi"),
        (col("v") > col("__hi")).as("is_new_high"),
        (col("v") < col("__lo")).as("is_new_low"))
  }

  /** Forecast backtest: score a seasonal-naive forecast (day d predicted
    * by day d−`season`) of the daily revenue series on the holdout days
    * at/after `cutoffDay`, with the error metrics a forecast review
    * actually reads — MAE, pinball loss at τ = .1/.5/.9, MASE (scaled by
    * the in-sample naive lag-1 MAE, Hyndman & Koehler 2006), and sMAPE.
    *
    * Determinism is the all-integer-core discipline: daily revenue is
    * exact BIGINT cents, forecast errors stay BIGINT, and each pinball
    * term is computed ×10 in integers (τ=k/10 ⇒ max(k·e, (k−10)·e)), so
    * every metric numerator is an exact BIGINT sum — no fold order. The
    * only per-day double (the sMAPE ratio) is micro-quantized at first
    * appearance. Scale: one keyed daily aggregate, two self-joins on the
    * CALENDAR-bounded day grid, two 1-row reduces. */
  def forecastBacktest(orders: DataFrame, dateCol: String,
                       amountCol: String, cutoffDay: Long): DataFrame = {
    val season = 7
    val daily = orders
      .groupBy(dayIdx(col(dateCol)).as("day"))
      .agg(sum((col(amountCol).cast(DecimalType(12, 2)) * 100)
          .cast(DecimalType(18, 0))).cast("long").as("cents"))
    val a = daily.toDF("day", "ac").where(col("day") >= cutoffDay)
    val f = daily.toDF("fday", "fc")
    val terms = a.join(f, col("fday") === col("day") - season)
      .withColumn("e", col("ac") - col("fc"))
      .select(abs(col("e")).as("ae"),
        greatest(col("e"), col("e") * -9).as("p10"),
        greatest(col("e") * 5, col("e") * -5).as("p50"),
        greatest(col("e") * 9, col("e") * -1).as("p90"),
        when(col("ac") + col("fc") === 0, 0L)
          .otherwise(round(lit(2.0) * abs(col("e")).cast("double") /
            (col("ac") + col("fc")).cast("double") * lit(1e6))
            .cast("long")).as("sm"))
    val te = terms.agg(count(lit(1)).as("n_test"), sum("ae").as("sae"),
      sum("p10").as("p10s"), sum("p50").as("p50s"), sum("p90").as("p90s"),
      sum("sm").as("ssm"))
    val t0 = daily.toDF("d0", "c0").where(col("d0") < cutoffDay)
    val t1 = daily.toDF("d1", "c1").where(col("d1") < cutoffDay)
    val tr = t0.join(t1, col("d1") === col("d0") + 1)
      .agg(count(lit(1)).as("n_train_pairs"),
        sum(abs(col("c1") - col("c0"))).as("scale_sum"))
    te.crossJoin(broadcast(tr)).select(
      col("n_test").cast("long").as("n_test"),
      col("n_train_pairs").cast("long").as("n_train_pairs"),
      (col("sae").cast("double") / col("n_test").cast("double") /
        lit(100.0)).as("mae"),
      (col("p10s").cast("double") / col("n_test").cast("double") /
        lit(1000.0)).as("pinball_p10"),
      (col("p50s").cast("double") / col("n_test").cast("double") /
        lit(1000.0)).as("pinball_p50"),
      (col("p90s").cast("double") / col("n_test").cast("double") /
        lit(1000.0)).as("pinball_p90"),
      ((col("sae").cast("double") * col("n_train_pairs").cast("double")) /
        (col("n_test").cast("double") * col("scale_sum").cast("double")))
        .as("mase"),
      (col("ssm").cast("double") / lit(1e6) / col("n_test").cast("double"))
        .as("smape"))
  }

  /** 0!..16! — shared with the q333 oracle as the same literal list. */
  private[graft] val Factorials: Seq[Long] =
    Seq.iterate((0, 1L), 17) { case (k, f) => (k + 1, f * (k + 1)) }
      .map(_._2)

  /** EXACT Shapley-value channel attribution (Shapley 1953; the marketing
    * form of Zhao et al. 2018) — the game-theoretic companion to
    * [[markovRemovalAttribution]]: the coalition game's characteristic
    * function is v(S) = # converted users whose pre-conversion channel
    * set is non-empty and ⊆ S, and each channel's credit is the exact
    * Shapley sum φ_i = Σ_{S∌i} |S|!(n−1−|S|)!(v(S∪i) − v(S)) / n!.
    * Σφ_i = v(full set) — the built-in checksum (attributed conversions;
    * direct conversions with no prior touch carry no channel evidence and
    * are excluded, scaladoc'd contract).
    *
    * Exactness: coalition values and the weighted sum are ALL-integer
    * (factorial weights from the shared 0!..16! literal list); the only
    * doubles are the two fixed-order terminal divisions (φ and share).
    * Overflow envelope (phi_num is a BIGINT sum, mirrored by the q333
    * oracle): Σ_{S∌i} |S|!(n−1−|S|)! = n! exactly, and every Δv is in
    * [0, v(full)], so |phi_num| ≤ n!·attributed_conversions. At the
    * n = 16 cap (16! ≈ 2.09e13) Long overflows once attributed
    * conversions exceed ~4.4e5; at n ≤ 12 (12! ≈ 4.8e8) the envelope
    * is ~1.9e10 conversions and at n ≤ 8 effectively unbounded. A
    * >12-channel run at warehouse conversion volume must widen the
    * weighted sum to DECIMAL(38,0) in BOTH engines (the MMD/gradient
    * precedent); kept BIGINT here because the oracle's hash gate
    * compares the integer column verbatim.
    *
    * Scale: the per-user journey cut is the q315 window (per-entity,
    * partitioned); everything after collapses to the channel-set MASK
    * table (≤ 2^n rows) and the 2^n coalition grid — n is the EVENT-TYPE
    * vocabulary (capped at `maxChannels` ≤ 16), so the subset-sum join
    * and the φ join are constant-bounded regardless of corpus size. The
    * sorted channel list is a driver-side model artifact (1-row-stats
    * pattern).
    *
    * On replicated users the coalition algebra never grows; only the
    * journey cut scans more.
    */
  def shapleyAttribution(events: DataFrame, userCol: String, tsCol: String,
                         typeCol: String, tieCol: String, convType: String): DataFrame = {
    val maxChannels = 16
    val spark = events.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("__u")).orderBy(col("__ts"), col("__tie"))
    val cut = events.select(col(userCol).as("__u"), col(tsCol).as("__ts"),
        col(tieCol).as("__tie"), col(typeCol).as("__t"))
      .withColumn("__isc", when(col("__t") === convType, 1L).otherwise(0L))
      .withColumn("__ccum", sum(col("__isc")).over(w))
      .where(col("__ccum") === 0 ||
        (col("__ccum") === 1 && col("__isc") === 1))
    val cutC = CacheScope.persist(cut)
    val channels = cutC.where(col("__t") =!= convType)
      .select(col("__t")).distinct().collect().map(_.getString(0)).sorted
    val n = channels.length
    require(n >= 1 && n <= maxChannels,
      s"channel vocabulary $n outside [1, $maxChannels]")
    val idx = typedlit(channels.zipWithIndex.map { case (c, i) =>
      c -> i.toLong }.toMap)
    val convUsers = cutC.where(col("__t") === convType)
      .select(col("__u")).distinct()
    val masks = cutC.where(col("__t") =!= convType)
      .join(convUsers, "__u")
      .select(col("__u"), element_at(idx, col("__t")).as("__i")).distinct()
      .groupBy(col("__u"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(__i AS INT))"))
        .as("mask"))
    val maskCnt = masks.groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val grid = spark.range(0, 1L << n).toDF("s")
    val v = grid.join(broadcast(maskCnt), expr("(mask & s) = mask"), "left")
      .groupBy(col("s")).agg(coalesce(sum(col("cnt")), lit(0L)).as("v"))
      .localCheckpoint()
    val fact = typedlit(Factorials)
    val chan = channels.zipWithIndex
      .map { case (c, i) => (c, i.toLong) }.toSeq.toDF("channel", "idx")
    val touched = maskCnt.crossJoin(broadcast(chan))
      .where(expr("(mask & shiftleft(CAST(1 AS BIGINT), CAST(idx AS INT)))"
        + " <> 0"))
      .groupBy(col("channel")).agg(sum(col("cnt")).as("touched"))
    val vTot = v.where(col("s") === ((1L << n) - 1))
      .select(col("v").as("__vtot"))
    val phi = chan
      .join(v.toDF("s", "v0"),
        expr("(s & shiftleft(CAST(1 AS BIGINT), CAST(idx AS INT))) = 0"))
      .join(v.toDF("s1", "v1"),
        expr("s1 = s + shiftleft(CAST(1 AS BIGINT), CAST(idx AS INT))"))
      .withColumn("__wn",
        element_at(fact, bit_count(col("s")) + 1) *
          element_at(fact, lit(n) - bit_count(col("s"))))
      .groupBy(col("channel"))
      .agg(sum(col("__wn") * (col("v1") - col("v0"))).as("phi_num"))
    phi.join(touched, Seq("channel"), "left")
      .crossJoin(broadcast(vTot))
      .select(col("channel"), coalesce(col("touched"), lit(0L)).as("touched"),
        col("phi_num"),
        (col("phi_num").cast("double") / lit(Factorials(n).toDouble))
          .as("phi"),
        (col("phi_num").cast("double") / lit(Factorials(n).toDouble)
          / col("__vtot").cast("double")).as("share"))
  }
}
