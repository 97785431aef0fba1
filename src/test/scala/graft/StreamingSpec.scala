package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, explode, expr}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingAgg
import graft.streaming.StreamingAgg.Event

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming hourly aggregate matches the batch tumbling-window result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val events = Seq(
      Event(1, ts("2025-01-01 10:05:00"), 1, "click", 1.0),
      Event(2, ts("2025-01-01 10:45:00"), 2, "click", 2.0),
      Event(3, ts("2025-01-01 11:05:00"), 1, "view", 4.0),
      Event(4, ts("2025-01-01 11:59:00"), 3, "click", 8.0))
    val q = StreamingAgg.startToMemory(
      StreamingAgg.hourlyCounts(input.toDF()), "hourly_test")
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT window_start, event_type, n, sum_value FROM hourly_test")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val expected = events.toDF()
        .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"), $"event_type")
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum($"value").as("sum_value"))
        .select($"window.start", $"event_type", $"n", $"sum_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming HLL distinct: windowed sketch equals the batch sketch exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // the same mergeable Aggregator runs as streaming state: register max
    // is associative/commutative/idempotent, so micro-batch partials give
    // the IDENTICAL registers (and estimate) as one batch pass
    val hll = udaf(new graft.functions.HllAgg(12),
      org.apache.spark.sql.Encoders.scalaLong)
    val input = MemoryStream[Event]
    val events = (1 to 500).map(i =>
      Event(i.toLong, ts("2025-01-01 10:05:00"), (i % 137).toLong, "click", 1.0)) ++
      (1 to 300).map(i =>
        Event(500L + i, ts("2025-01-01 11:05:00"), (i % 211).toLong, "view", 1.0))
    def sketch(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(hll(graft.operators.Sketches.hash60($"user_id")).as("est"))
        .select($"window.start".as("ws"), $"event_type", $"est")
    val q = StreamingAgg.startToMemory(sketch(input.toDF()), "hll_test")
    try {
      // two separate micro-batches -> state merge path exercised
      input.addData(events.take(400): _*)
      q.processAllAvailable()
      input.addData(events.drop(400): _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT ws, event_type, est FROM hll_test")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val expected = sketch(events.toDF())
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got == expected)
      // and the estimates are in the linear-counting accuracy band
      val m = got.map(t => t._2 -> t._3).toMap
      assert(math.abs(m("click") - 137L) <= 7 && math.abs(m("view") - 211L) <= 11,
        s"estimates off: $m")
    } finally q.stop()
  }

  test("trending terms: per-window top-k finalizes once the watermark passes; ranks deterministic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    // window 10:00: a x3, b x2, c x1 → top-2 = a, b
    // window 11:00: c x2, b x1      → top-2 = c, b
    val docs = Seq(
      (ts("2025-01-01 10:05:00"), "a a b"),
      (ts("2025-01-01 10:45:00"), "a b c"),
      (ts("2025-01-01 11:05:00"), "c c b"))
    val q = StreamingAgg.trendingTerms(
        input.toDF().toDF("ts", "text"), k = 2)
      .writeStream.format("memory").queryName("trending_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      // append mode: nothing may emit until the watermark proves windows closed
      val early = spark.sql("SELECT * FROM trending_test").count()
      // push the watermark (2 h) past both windows' ends
      input.addData((ts("2025-01-01 14:30:00"), "z"))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT window_start, rank, term, cnt FROM trending_test")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSet
      val expected = Set(
        (ts("2025-01-01 10:00:00"), 1L, "a", 3L),
        (ts("2025-01-01 10:00:00"), 2L, "b", 2L),
        // 11:00 window: c=2 wins, b=1 — tie-free; term ASC would break ties
        (ts("2025-01-01 11:00:00"), 1L, "c", 2L),
        (ts("2025-01-01 11:00:00"), 2L, "b", 1L))
      assert(got == expected, s"early=$early got=$got")
      assert(early == 0L, "append mode emitted before the watermark closed the window")
    } finally q.stop()
  }

  test("stream-stream join attributes purchases to prior clicks within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = StreamingAgg.clickAttributionJoin(
      clicks.toDF().select($"event_id".as("click_id"), $"user_id", $"ts"),
      purchases.toDF().select($"event_id".as("purchase_id"), $"user_id", $"ts", $"value"),
      withinSec = 1800L, watermark = "1 hour", joinType = "inner")
      .select($"click_id", $"purchase_id", $"value")
    val q = joined.writeStream.format("memory").queryName("attr_test")
      .outputMode("append").start()
    try {
      clicks.addData(
        Event(1, ts("2025-01-01 10:00:00"), 7, "click", 0.0),
        Event(2, ts("2025-01-01 10:00:00"), 8, "click", 0.0))
      purchases.addData(
        Event(10, ts("2025-01-01 10:20:00"), 7, "purchase", 9.99), // within 30 min of click 1
        Event(11, ts("2025-01-01 11:30:00"), 7, "purchase", 5.00), // too late for click 1
        Event(12, ts("2025-01-01 10:10:00"), 9, "purchase", 1.00)) // no click for user 9
      q.processAllAvailable()
      val got = spark.sql("SELECT click_id, purchase_id, value FROM attr_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == Set((1L, 10L, 9.99)), s"got $got")
    } finally q.stop()
  }

  test("outer stream-stream join emits unmatched clicks once the watermark proves no match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = StreamingAgg.clickAttributionJoin(
      clicks.toDF().select($"event_id".as("click_id"), $"user_id", $"ts"),
      purchases.toDF().select($"event_id".as("purchase_id"), $"user_id", $"ts", $"value"),
      withinSec = 1800L, watermark = "10 minutes", joinType = "left_outer")
      .select($"click_id",
        $"purchase_id".as("pid"), $"value")
    val q = joined.writeStream.format("memory").queryName("attr_outer_test")
      .outputMode("append").start()
    try {
      clicks.addData(
        Event(1, ts("2025-01-01 10:00:00"), 7, "click", 0.0),  // will match
        Event(2, ts("2025-01-01 10:00:00"), 8, "click", 0.0))  // never matches
      purchases.addData(
        Event(10, ts("2025-01-01 10:20:00"), 7, "purchase", 9.99))
      q.processAllAvailable()
      // push both watermarks past click 2's ts + withinSec so the engine can
      // prove no purchase will ever land in its window
      clicks.addData(Event(3, ts("2025-01-01 12:00:00"), 9, "click", 0.0))
      purchases.addData(Event(11, ts("2025-01-01 12:00:00"), 6, "purchase", 1.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT click_id, pid, value FROM attr_outer_test")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(got.contains((1L, Some(10L))), s"matched click missing: $got")
      assert(got.contains((2L, None)), s"null-padded unmatched click missing: $got")
    } finally q.stop()
  }

  test("file-source streaming silver: new bronze docs land as partitioned parquet, no reprocessing") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_ssilver")
    val vars = Seq("temperature_2m", "relative_humidity_2m", "precipitation")
    val hc = spark.sparkContext.hadoopConfiguration
    def doc(day: String, temp: Double) =
      s"""{"latitude": 1.0, "longitude": 2.0, "timezone": "x",
         | "hourly": {"time": ["${day}T00:00", "${day}T01:00"],
         |  "temperature_2m": [$temp, $temp],
         |  "relative_humidity_2m": [50.0, 51.0], "precipitation": [0.0, 0.1]}}""".stripMargin
    graft.pipeline.ObjectStore.put(hc, s"file:$root/bronze",
      "openmeteo/y=2025/m=09/d=15/a.json", doc("2025-09-15", 10.0))
    def runOnce(): Unit = {
      val q = graft.streaming.StreamingSilver.start(spark,
        s"file:$root/bronze/openmeteo/*/*/*/", s"$root/silver",
        s"$root/ckpt", vars)
      q.awaitTermination()
    }
    runOnce()
    val silver1 = spark.read.parquet(s"$root/silver")
    assert(silver1.count() == 2)
    assert(silver1.columns.contains("temperature_c"))
    // second doc arrives; restart processes ONLY the new file (checkpointed)
    graft.pipeline.ObjectStore.put(hc, s"file:$root/bronze",
      "openmeteo/y=2025/m=09/d=16/b.json", doc("2025-09-16", 20.0))
    runOnce()
    val silver2 = spark.read.parquet(s"$root/silver")
    assert(silver2.count() == 4, "exactly the new doc's rows appended, old not reprocessed")
    assert(silver2.select("y", "m", "d").distinct().count() == 2)
  }

  test("mapGroupsWithState accumulates per-user running totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingAgg.userRunningTotals(input.toDS())
      .writeStream.format("memory").queryName("running_test")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Event(1, ts("2025-01-01 10:00:00"), 7, "click", 1.5))
      q.processAllAvailable()
      input.addData(
        Event(2, ts("2025-01-01 10:01:00"), 7, "click", 2.5),
        Event(3, ts("2025-01-01 10:02:00"), 8, "view", 10.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, n_events, sum_value FROM running_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // latest state per user: user 7 saw 2 events totalling 4.0 (state kept
      // across batches), user 8 one event of 10.0
      val latest = rows.groupBy(_._1).map { case (u, rs) => rs.maxBy(_._2) }
      assert(latest.toSet == Set((7L, 2L, 4.0), (8L, 1L, 10.0)))
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the broadcast dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = StreamingAgg.enrichStream(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts("2025-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, ts("2025-01-01 10:01:00"), 2, "view", 2.0),
        Event(3, ts("2025-01-01 10:02:00"), 9, "click", 3.0)) // no dim row
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, tier FROM enrich_test")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(rows == Set((1L, Some("gold")), (2L, Some("basic")), (3L, None)),
        "left join: unmatched stream rows survive with null tier")
    } finally q.stop()
  }

  test("incremental dedup stream: store accrues unique fingerprints; replayed batch appends nothing") {
    import spark.implicits._
    import graft.streaming.IncrementalDedup
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("inc_dedup").toString
    val store = s"$root/store"
    def doc(id: Long, text: String) = (id, text, "web")
    // batch step directly: replay idempotence (the store content is the guard)
    val b1 = Seq(doc(1, "alpha"), doc(2, "beta"), doc(3, "alpha")).toDF("doc_id", "text", "source")
    assert(IncrementalDedup.processBatch(b1, store) == 2, "within-batch dup collapsed")
    assert(IncrementalDedup.processBatch(b1, store) == 0, "full replay appends nothing")
    // streaming wiring: a later batch with one re-crawl and one new doc
    val input = MemoryStream[(Long, String, String)]
    val q = IncrementalDedup.start(
      input.toDF().toDF("doc_id", "text", "source"), store, s"$root/ckpt")
    try {
      input.addData((10L, "beta", "crawl2"), (11L, "gamma", "crawl2"))
      q.processAllAvailable()
      val rows = spark.read.parquet(store)
      assert(rows.count() == 3, "store = alpha, beta, gamma")
      assert(rows.select("fingerprint").distinct().count() == 3)
      assert(rows.where($"doc_id" === 10).count() == 0, "re-crawl of beta dropped")
    } finally q.stop()
  }

  test("incremental NEAR-dup stream: edited re-crawl rejected, novel kept, replay appends nothing") {
    import spark.implicits._
    import graft.streaming.IncrementalNearDup
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("inc_neardup").toString
    val store = s"$root/store"
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val edited = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val novel = (1 to 30).map(i => s"other$i").mkString(" ")
    // sanity: the edit keeps the pair inside the LSH candidate radius, so
    // the incremental semantics below test what the batch operator finds
    val pairs = graft.operators.TextDedup.minhashNearDupPairs(
      Seq((1L, base), (2L, edited)).toDF("doc_id", "text"), "doc_id", "text",
      threshold = 0.5).count()
    assert(pairs == 1, "planted edit must be an LSH near-dup pair")
    val b1 = Seq((10L, base, "crawl1"), (11L, base, "crawl1"))
      .toDF("doc_id", "text", "source")
    assert(IncrementalNearDup.processBatch(b1, store) == 1,
      "exact in-batch dup collapses to the min id")
    assert(IncrementalNearDup.processBatch(b1, store) == 0, "replay appends nothing")
    // near-dup of the STORED base rejected; novel doc accepted
    val b2 = Seq((20L, edited, "crawl2"), (21L, novel, "crawl2"))
      .toDF("doc_id", "text", "source")
    assert(IncrementalNearDup.processBatch(b2, store) == 1)
    // shingle-less short doc: accepted once, replay-guarded by its sentinel
    val b3 = Seq((30L, "ab", "crawl3")).toDF("doc_id", "text", "source")
    assert(IncrementalNearDup.processBatch(b3, store) == 1)
    assert(IncrementalNearDup.processBatch(b3, store) == 0)
    // streaming wiring: one more near-dup (token appended) + one fresh doc
    val input = MemoryStream[(Long, String, String)]
    val q = IncrementalNearDup.start(
      input.toDF().toDF("doc_id", "text", "source"), store, s"$root/ckpt")
    try {
      input.addData(
        (40L, base + " extra", "crawl4"),
        (41L, (1 to 30).map(i => s"fresh$i").mkString(" "), "crawl4"))
      q.processAllAvailable()
      val accepted = spark.read.parquet(store).where($"band" === -1 && $"member")
        .select("doc_id").as[Long].collect().toSet
      assert(accepted == Set(10L, 21L, 30L, 41L),
        s"member sentinels are exactly the accepted corpus, got $accepted")
      // rejected docs leave NON-member sentinels (the cross-batch
      // transitive-family record); in-batch dup 11 and store near-dups 20, 40
      val nonMember = spark.read.parquet(store).where($"band" === -1 && !$"member")
        .select("doc_id").as[Long].collect().toSet
      assert(nonMember == Set(11L, 20L, 40L),
        s"rejected docs' sentinels recorded as non-member, got $nonMember")
    } finally q.stop()
  }

  test("transformWithState first-seen: emits each (user, type) once across batches; cap bounds state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingAgg.Event]
    val q = StreamingAgg.startToMemory(
      graft.streaming.StatefulFirstSeen.firstSeenTypes(input.toDS(), maxTypes = 2).toDF(),
      "first_seen_test")
    try {
      // user 1 registers both cap slots in batch 1 (set-compare keeps this
      // independent of within-key row order); user 2 registers one
      input.addData(
        StreamingAgg.Event(1, ts("2025-01-01 10:00:00"), 1, "click", 1.0),
        StreamingAgg.Event(2, ts("2025-01-01 10:01:00"), 1, "view", 1.0),
        StreamingAgg.Event(3, ts("2025-01-01 10:02:00"), 2, "view", 1.0))
      q.processAllAvailable()
      // batch 2: repeat type (dropped), third type for the full user 1
      // (cap-dropped deterministically — n already 2), new type for user 2
      input.addData(
        StreamingAgg.Event(4, ts("2025-01-01 11:00:00"), 1, "click", 1.0),
        StreamingAgg.Event(5, ts("2025-01-01 11:01:00"), 1, "purchase", 1.0),
        StreamingAgg.Event(6, ts("2025-01-01 11:02:00"), 2, "click", 1.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, event_type FROM first_seen_test")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "click"), (1L, "view"), (2L, "view"), (2L, "click")),
        s"each type once per user, cap at 2: $got")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState TTL: idle key's registry expires and re-emits on return") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingAgg.Event]
    // CAUTION: with TimeMode.ProcessingTime (what TTL requires) the operator
    // reports shouldRunAnotherBatch=true on every batch, so the engine never
    // sets noNewData and processAllAvailable() NEVER RETURNS — the sink must
    // be polled for expected rows instead, with sentinel users proving a
    // batch landed when the interesting row is a suppression (no output).
    // The 1 s trigger throttles the resulting free-running empty batches.
    // TTL is a generous 8 s so the within-TTL batch can't race expiry on a
    // loaded box; the post-sleep batch is safely past it.
    val q = graft.streaming.StatefulFirstSeen
      .firstSeenTypes(input.toDS(), maxTypes = 2,
        ttl = Some(java.time.Duration.ofSeconds(8))).toDF()
      .writeStream.format("memory").queryName("first_seen_ttl_test")
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    def awaitRows(n: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (spark.sql("SELECT * FROM first_seen_ttl_test").count() < n) {
        if (System.nanoTime() > deadline) fail(s"sink never reached $n rows")
        if (!q.isActive) throw q.exception.getOrElse(fail("query died"))
        Thread.sleep(200)
      }
    }
    try {
      input.addData(StreamingAgg.Event(1, ts("2025-01-01 10:00:00"), 1, "click", 1.0))
      awaitRows(1)
      // still inside the TTL window: user 1's duplicate type stays
      // suppressed; sentinel user 99's first-seen emit proves the batch ran
      input.addData(
        StreamingAgg.Event(2, ts("2025-01-01 10:00:30"), 1, "click", 1.0),
        StreamingAgg.Event(3, ts("2025-01-01 10:00:31"), 99, "view", 1.0))
      awaitRows(2)
      Thread.sleep(10000) // let the processing-time TTL lapse (8 s + margin)
      input.addData(StreamingAgg.Event(4, ts("2025-01-01 11:00:00"), 1, "click", 1.0))
      awaitRows(3)
      val got = spark.sql("SELECT user_id, event_type FROM first_seen_ttl_test")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got.count(_ == (1L, "click")) == 2 && got.contains((99L, "view")),
        s"one emit per TTL window — suppressed inside, re-emitted after: $got")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("dropDuplicatesWithinWatermark: dup inside the window dropped, state evicted after") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingAgg.Event]
    // the built-in bounded-state streaming dedup: duplicate event_ids are
    // suppressed while their state lives; once the watermark passes
    // ts + delay the id's state is EVICTED, so a later re-send is emitted
    // again — the deliberate contrast with IncrementalDedup's persistent
    // store (which q80-style dedups forever at the cost of its own store)
    val q = input.toDS()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("dropdup_wm_test")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        StreamingAgg.Event(1, ts("2025-01-01 10:00:00"), 1, "click", 1.0),
        StreamingAgg.Event(2, ts("2025-01-01 10:00:30"), 2, "view", 1.0))
      q.processAllAvailable()
      // same ids inside the watermark window: suppressed; id 3 is new
      input.addData(
        StreamingAgg.Event(1, ts("2025-01-01 10:01:00"), 9, "click", 1.0),
        StreamingAgg.Event(3, ts("2025-01-01 10:02:00"), 3, "view", 1.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dropdup_wm_test").head.getLong(0) == 3,
        "in-window duplicate must be suppressed")
      // advance the watermark far past 10:00 + 10 min -> id 1's state is
      // evicted; the re-sent id 1 (with an in-window ts) emits again
      input.addData(StreamingAgg.Event(99, ts("2025-01-01 12:00:00"), 9, "view", 1.0))
      q.processAllAvailable()
      input.addData(StreamingAgg.Event(1, ts("2025-01-01 11:59:00"), 9, "click", 1.0))
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dropdup_wm_test")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(1L, 1L, 2L, 3L, 99L),
        s"evicted id re-admitted exactly once: $ids")
    } finally q.stop()
  }

  test("transformWithState event-time timers: rate drift emits on watermark with prev-window linkage") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingAgg.Event]
    val q = StreamingAgg.startToMemory(
      graft.streaming.StreamingDrift.rateDrift(
        input.toDS().withWatermark("ts", "0 seconds"),
        java.time.Duration.ofMinutes(1)).toDF(),
      "rate_drift_test")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    try {
      // window [10:00, 10:01): A x2, B x1 — nothing finalizes yet
      input.addData(
        StreamingAgg.Event(1, ts("2025-01-01 10:00:10"), 1, "A", 1.0),
        StreamingAgg.Event(2, ts("2025-01-01 10:00:20"), 1, "A", 1.0),
        StreamingAgg.Event(3, ts("2025-01-01 10:00:30"), 1, "B", 1.0))
      q.processAllAvailable()
      // watermark jumps to 10:02:10 -> the 10:00 window fires for A and B;
      // A starts window [10:02, 10:03)
      input.addData(StreamingAgg.Event(4, ts("2025-01-01 10:02:10"), 1, "A", 1.0))
      q.processAllAvailable()
      val afterW0 = spark.sql("SELECT * FROM rate_drift_test")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      assert(afterW0 == Set(
        ("A", "2025-01-01 10:00:00.0", 2L, 0L, r6(math.log(3.0))),
        ("B", "2025-01-01 10:00:00.0", 1L, 0L, r6(math.log(2.0)))), s"got $afterW0")
      // fires A's [10:02, 10:03) window: the 10:01 window was EMPTY, so
      // prev must read 0 (gap semantics), not the stale 10:00 count
      input.addData(
        StreamingAgg.Event(5, ts("2025-01-01 10:03:05"), 1, "A", 1.0),
        StreamingAgg.Event(6, ts("2025-01-01 10:03:06"), 1, "B", 1.0))
      q.processAllAvailable()
      // fires the [10:03, 10:04) windows: A's prev is now the adjacent
      // 10:02 window (count 1 -> ratio 0); B's prev is a gap again
      input.addData(StreamingAgg.Event(7, ts("2025-01-01 10:05:10"), 1, "A", 1.0))
      q.processAllAvailable()
      val all = spark.sql("SELECT * FROM rate_drift_test")
        .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      assert(all == afterW0 ++ Set(
        ("A", "2025-01-01 10:02:00.0", 1L, 0L, r6(math.log(2.0))),
        ("A", "2025-01-01 10:03:00.0", 1L, 1L, 0.0),
        ("B", "2025-01-01 10:03:00.0", 1L, 0L, r6(math.log(2.0)))), s"got $all")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("incremental near-dup replay: transitive in-batch rejection chain stays rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, split}
    import graft.streaming.IncrementalNearDup
    // band signatures of a text, via the operator's own signature scheme
    def bandSet(t: String): Set[String] =
      Seq((1L, t)).toDF("doc_id", "text")
        .select(graft.functions.MinHashSigs
          .minhash_sigs(split(col("text"), " "), 3, 8).as("mh"))
        .select(expr("stack(4, 0, concat(mh[0],mh[1]), 1, concat(mh[2],mh[3]), " +
          "2, concat(mh[4],mh[5]), 3, concat(mh[6],mh[7])) AS (band, sig)"))
        .collect().map(r => r.getInt(0) + ":" + r.getString(1)).toSet
    // deterministically search for a chain S~M, M~A, S!~A (band overlap):
    // the exact shape whose replay re-admitted A before the batch-first
    // minima fix (store-filter-first hid M from the bucket minimum)
    val s = (1 to 30).map(i => s"tok$i").mkString(" ")
    val sb = bandSet(s)
    val chain = (for {
      i <- (1 to 24).iterator
      m = ((1 to 30).map(j => if (j <= i) s"mid$j" else s"tok$j")).mkString(" ")
      mb = bandSet(m)
      if (mb intersect sb).nonEmpty
      as = (1 to 24).flatMap { k =>
        val a = ((1 to 30).map(j => if (j > 30 - k) s"end$j" else if (j <= i) s"mid$j" else s"tok$j")).mkString(" ")
        val ab = bandSet(a)
        if ((ab intersect mb).nonEmpty && (ab intersect sb).isEmpty) Some(a) else None
      }
      if as.size >= 2
    } yield (m, as(0), as(1))).buffered.headOption
    assert(chain.isDefined, "no S~M~{A,A2} chain found in the search space")
    val (m, a, a2) = chain.get
    val root = java.nio.file.Files.createTempDirectory("inc_neardup_chain").toString
    val store = s"$root/store"
    val batch = Seq((1L, s, "c"), (2L, m, "c"), (3L, a, "c"))
      .toDF("doc_id", "text", "source")
    assert(IncrementalNearDup.processBatch(batch, store) == 1,
      "chain collapses to its minimum on first ingest")
    assert(IncrementalNearDup.processBatch(batch, store) == 0,
      "replay of the chain batch must append nothing (A stays rejected)")
    // cross-batch transitivity (r8 advisor gap): rejected docs' signatures
    // are stored non-member, so a LATER batch's near-dup of the rejected M
    // family — A2 collides with M/A bands but NOT with the member S — still
    // goes out; and the rejected content itself, re-sent alone under a new
    // id, is sentinel-guarded
    val laterNearDup = Seq((9L, a2, "c2")).toDF("doc_id", "text", "source")
    assert(IncrementalNearDup.processBatch(laterNearDup, store) == 0,
      "near-dup of a rejected doc must stay rejected across batches")
    val resent = Seq((99L, a, "c3")).toDF("doc_id", "text", "source")
    assert(IncrementalNearDup.processBatch(resent, store) == 0,
      "transitively-rejected content re-sent alone stays rejected")
  }

  test("sessionization closes sessions by gap (inline) and by watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingAgg.sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("session_test")
      .outputMode(OutputMode.Append()).start()
    def closed() = spark.sql(
      "SELECT user_id, session_start_sec, session_end_sec, n_events FROM session_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def sec(s: String) = ts(s).getTime / 1000L
    try {
      // user 7: two events 10 min apart -> one open session
      input.addData(
        Event(1, ts("2025-01-01 10:00:00"), 7, "click", 1.0),
        Event(2, ts("2025-01-01 10:10:00"), 7, "click", 1.0))
      q.processAllAvailable()
      assert(closed().isEmpty, "session still open")
      // a 12:00 event is > 30 min past 10:10 -> closes the first session
      // inline (end = last event + gap) and opens a new one
      input.addData(Event(3, ts("2025-01-01 12:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      assert(closed() == Set((7L, sec("2025-01-01 10:00:00"), sec("2025-01-01 10:40:00"), 2L)))
      // another user's 14:00 event advances the watermark past 12:30 ->
      // user 7's open session closes through the event-time timeout path
      input.addData(Event(4, ts("2025-01-01 14:00:00"), 8, "view", 1.0))
      q.processAllAvailable()
      assert(closed().contains(
        (7L, sec("2025-01-01 12:00:00"), sec("2025-01-01 12:30:00"), 1L)),
        s"timeout-closed session missing: ${closed()}")
    } finally q.stop()
  }

  test("sessionization out-of-order: in-gap late event pulls start back; too-late event closes alone") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // 2h watermark admits late events; they must not corrupt the open session
    val q = StreamingAgg.sessionizeStream(input.toDS(), watermark = "2 hours")
      .writeStream.format("memory").queryName("session_ooo_test")
      .outputMode(OutputMode.Append()).start()
    def closed() = spark.sql(
      "SELECT user_id, session_start_sec, session_end_sec, n_events FROM session_ooo_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def sec(s: String) = ts(s).getTime / 1000L
    try {
      input.addData(Event(1, ts("2025-01-01 12:00:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // late but within the gap of session start: merges, start moves back
      input.addData(Event(2, ts("2025-01-01 11:50:00"), 7, "click", 1.0))
      q.processAllAvailable()
      // late beyond start - gap: cannot merge -> immediate singleton session
      input.addData(Event(3, ts("2025-01-01 10:30:00"), 7, "click", 1.0))
      q.processAllAvailable()
      assert(closed() == Set(
        (7L, sec("2025-01-01 10:30:00"), sec("2025-01-01 11:00:00"), 1L)))
      // advance the watermark past end + gap -> the merged session closes
      // with the pulled-back start and both events counted
      input.addData(Event(4, ts("2025-01-01 15:00:00"), 8, "view", 1.0))
      q.processAllAvailable()
      assert(closed().contains(
        (7L, sec("2025-01-01 11:50:00"), sec("2025-01-01 12:30:00"), 2L)),
        s"merged session wrong: ${closed()}")
    } finally q.stop()
  }

  test("streaming binned quantiles: per-window p50 from O(bins) state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // window A: values 1..8; window B: one 9 plus out-of-range clamps
    val a = (1 to 8).map(i =>
      Event(i.toLong, ts("2025-01-01 10:0" + (i % 10) + ":00"), 1, "click",
        i.toDouble))
    val b = Seq(Event(9, ts("2025-01-01 11:05:00"), 1, "click", 9.0),
      Event(10, ts("2025-01-01 11:06:00"), 1, "click", 42.0),
      Event(11, ts("2025-01-01 11:07:00"), 1, "click", -3.0))
    val binned = graft.streaming.StreamingQuantiles.binnedCounts(
      input.toDF(), "ts", "event_type", "value",
      lo = 0.0, hi = 10.0, bins = 5, windowDur = "1 hour",
      watermark = "10 minutes")
    val q = binned.writeStream.format("memory").queryName("binq")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
    try {
      input.addData(a ++ b: _*)
      q.processAllAvailable()
      val sink = spark.sql(
        "SELECT window_start, event_type, bin, max(cnt) AS cnt FROM binq " +
        "GROUP BY 1, 2, 3") // update mode: latest emit per group wins
      val got = graft.streaming.StreamingQuantiles.quantilesFromBins(
          sink, "event_type", lo = 0.0, hi = 10.0, bins = 5, ps = Seq(0.5))
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getDouble(3))).toMap
      // A: bins (1,2,2,2,1), n=8, target 4 -> bin2 -> 2*(2 + 1/2) = 5.0
      assert(got("2025-01-01 10:00:00.0") == 5.0, s"window A p50: $got")
      // B: 9 -> bin4, 42 clamps to bin4, -3 clamps to bin0: n=3,
      // target 1.5 -> bin4 (cum_before=1): 2*(4 + 0.5/2) = 8.5
      assert(got("2025-01-01 11:00:00.0") == 8.5, s"window B p50: $got")
    } finally q.stop()
  }

  test("streaming rank-sketch quantiles: micro-batch split invariant, matches batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // one window, values 1..40 — fed across TWO micro-batches so the
    // emitted sample must come from a cross-batch state merge
    val evs = (1 to 40).map(i =>
      Event(i.toLong, ts(f"2025-01-01 10:${i % 60}%02d:00"), 1, "click",
        i.toDouble))
    val sk = graft.streaming.StreamingQuantiles.sketchSamples(
      input.toDF(), "ts", "event_type", "event_id", "value", k = 16,
      windowDur = "1 hour", watermark = "10 minutes")
    val q = sk.writeStream.format("memory").queryName("sketchq")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
    try {
      input.addData(evs.take(13): _*)
      q.processAllAvailable()
      input.addData(evs.drop(13): _*)
      q.processAllAvailable()
      // update mode: keep each group's LAST emit (max n)
      val sink = spark.sql(
        """SELECT window_start, event_type, sample, n FROM (
          |  SELECT *, row_number() OVER (PARTITION BY window_start,
          |    event_type ORDER BY n DESC) AS rn FROM sketchq)
          |WHERE rn = 1""".stripMargin)
      val streamed = graft.streaming.StreamingQuantiles
        .quantilesFromSamples(sink, "event_type", Seq(0.5, 0.9))
        .collect().map(r => (r.getDouble(3), r.getDouble(4))).toMap
      // batch reference: identical aggregator over the same 40 rows
      val batch = evs.toDF()
        .groupBy(col("event_type"))
        .agg(org.apache.spark.sql.functions.udaf(
          new graft.functions.BottomKSampleAgg(16),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaDouble))(
          graft.operators.Sketches.hash60(col("event_id")),
          col("value")).as("sample"))
        .select(explode(col("sample")).as("e"))
        .agg(expr("percentile(e._2, array(CAST(0.5 AS DOUBLE), " +
          "CAST(0.9 AS DOUBLE)))").as("q"))
        .collect().head.getSeq[Double](0)
      assert(streamed(0.5) == batch(0), s"p50: $streamed vs $batch")
      assert(streamed(0.9) == batch(1), s"p90: $streamed vs $batch")
      assert(streamed.size == 2)
    } finally q.stop()
  }

  test("streaming Holt-Winters: closed days are bit-equal to the batch fold across any batch split; late events drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // 10 days with 2 events each (days 0-9 of 1970), values exercising
    // the cents quantization; the batch boundary lands MID-day-5
    val evs = (0 until 10).flatMap { d =>
      Seq(
        StreamingAgg.Event(d * 2L, ts(s"1970-01-${"%02d".format(d + 1)} 08:00:00"),
          1L, "click", 10.0 + d + 0.005),
        StreamingAgg.Event(d * 2L + 1, ts(s"1970-01-${"%02d".format(d + 1)} 18:00:00"),
          1L, "click", 5.0 + (d % 3)))
    }
    val input = MemoryStream[StreamingAgg.Event]
    val q = StreamingAgg.startToMemory(
      graft.streaming.StreamingHoltWinters.smoothed(input.toDS()).toDF(),
      "hw_stream_test")
    try {
      input.addData(evs.take(11): _*)  // through the FIRST event of day 5
      q.processAllAvailable()
      // a late event (day 2 arriving after day 5 opened) must be dropped
      input.addData(StreamingAgg.Event(99L, ts("1970-01-03 23:00:00"),
        1L, "click", 1000.0))
      input.addData(evs.drop(11): _*)
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT day_idx, v, level, trend, season, forecast_next " +
          "FROM hw_stream_test").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
      // batch reference over the SAME events (late row excluded by the
      // drop contract); the trailing day 9 is still pending in the stream
      val batch = graft.operators.Temporal.holtWinters(
        evs.toDF(), "event_type", "ts", "value")
        .where(col("day_idx") < 9).collect()
        .map(r => r.getAs[Long]("day_idx") -> (r.getAs[Double]("v"),
          r.getAs[Double]("level"), r.getAs[Double]("trend"),
          r.getAs[Double]("season"), r.getAs[Double]("forecast_next")))
        .toMap
      assert(streamed.keySet == (0L to 8L).toSet,
        s"closed days 0-8 emitted, 9 pending: ${streamed.keySet}")
      assert(streamed == batch,
        s"streamed fold must be bit-equal to batch: $streamed vs $batch")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming line dedup: boilerplate emitted once at the distinct-doc threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingLineDedup
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingLineDedup.Doc]
    val q = StreamingAgg.startToMemory(
      StreamingLineDedup.boilerplateLines(input.toDS()).toDF(), "line_dedup_test")
    def emitted() = spark.sql("SELECT line, n_docs FROM line_dedup_test")
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    try {
      // two docs share "x y z": below threshold, nothing emits; doc 5's
      // WITHIN-doc repeat of "m m m" counts as ONE doc
      input.addData(
        StreamingLineDedup.Doc(1L, "x y z a b c"),
        StreamingLineDedup.Doc(2L, "x y z d e f"),
        StreamingLineDedup.Doc(5L, "m m m m m m"))
      q.processAllAvailable()
      assert(emitted().isEmpty, s"below threshold: ${emitted()}")
      // doc 3 crosses "x y z" to 3 distinct docs -> exactly one emission
      input.addData(StreamingLineDedup.Doc(3L, "x y z g h i"))
      q.processAllAvailable()
      assert(emitted() == List(("x y z", 3L)))
      // doc 4 re-delivers the already-emitted line (no re-emission),
      // docs 6/7 push "m m m" to 3 distinct docs, and NULL-text doc 8
      // must tile as "" (the batch coalesce semantics), not NPE the query
      input.addData(
        StreamingLineDedup.Doc(4L, "x y z t u v"),
        StreamingLineDedup.Doc(6L, "m m m p q r"),
        StreamingLineDedup.Doc(7L, "m m m s t u"),
        StreamingLineDedup.Doc(8L, null))
      q.processAllAvailable()
      assert(emitted().toSet == Set(("x y z", 3L), ("m m m", 3L)),
        s"once per line: ${emitted()}")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming line dedup: emitted set is micro-batch-split invariant (matches batch census)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingLineDedup
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val docs = Seq(
      StreamingLineDedup.Doc(1L, "x y z a b c"),
      StreamingLineDedup.Doc(2L, "x y z d e f"),
      StreamingLineDedup.Doc(3L, "x y z g h i"),
      StreamingLineDedup.Doc(4L, "q r s t"),
      StreamingLineDedup.Doc(5L, "m n o x y z p q r"))
    // all five docs in ONE batch: the emitted set must equal the
    // three-batch run's set AND the batch operator's drop set (the lines
    // lineDedup drops are exactly the census lines)
    val input = MemoryStream[StreamingLineDedup.Doc]
    val q = StreamingAgg.startToMemory(
      StreamingLineDedup.boilerplateLines(input.toDS()).toDF(),
      "line_dedup_split_test")
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.sql("SELECT line FROM line_dedup_split_test")
        .collect().map(_.getString(0)).toSet
      assert(got == Set("x y z"), s"one-batch run: $got")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming bloom dedup: one keep per type on a roomy filter; cross-batch dups flagged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingBloomDedup
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingBloomDedup.Doc]
    // 2^16 bits for ~8 line types: FP probability ~0, so decisions must
    // equal exact first-occurrence dedup whatever the arrival order
    val q = StreamingAgg.startToMemory(
      StreamingBloomDedup.dedupDecisions(input.toDS(),
        mBits = 1 << 16, nShards = 8).toDF(), "bloom_dedup_test")
    def decisions() = spark.sql("SELECT line, dup FROM bloom_dedup_test")
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    try {
      input.addData(
        StreamingBloomDedup.Doc(1L, "x y z a b c"),
        StreamingBloomDedup.Doc(2L, "x y z d e f"),
        StreamingBloomDedup.Doc(3L, "g h i g h i")) // within-doc repeat
      q.processAllAvailable()
      val d1 = decisions()
      val occ1 = d1.groupBy(_._1).view.mapValues(_.size).toMap
      val keeps1 = d1.filter(!_._2).groupBy(_._1).view.mapValues(_.size).toMap
      assert(occ1.keySet.forall(l => keeps1.getOrElse(l, 0) == 1),
        s"exactly one keep per type: $d1")
      assert(d1.count(p => p._1 == "x y z" && p._2) == 1 &&
        d1.count(p => p._1 == "g h i" && p._2) == 1,
        s"cross-doc and within-doc repeats flagged: $d1")
      // a later batch re-delivering an old line must flag it (bits persist)
      input.addData(StreamingBloomDedup.Doc(4L, "x y z p q r"))
      q.processAllAvailable()
      val d2 = decisions()
      assert(d2.count(p => p._1 == "x y z" && p._2) == 2,
        s"cross-batch dup flagged: $d2")
      assert(d2.count(p => p._1 == "p q r" && !p._2) == 1)
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming bloom dedup: past saturation keeps are pigeonhole-bounded by mBits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingBloomDedup
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingBloomDedup.Doc]
    // 16 bits total for 100 distinct lines: every keep sets >= 1 new bit,
    // so keeps <= 16 REGARDLESS of arrival order — the order-free
    // saturation invariant (the q366 census's saturation regime, live)
    val q = StreamingAgg.startToMemory(
      StreamingBloomDedup.dedupDecisions(input.toDS(),
        mBits = 16, nShards = 2).toDF(), "bloom_sat_test")
    try {
      input.addData((0L until 100L).map(i =>
        StreamingBloomDedup.Doc(i, s"u$i v$i w$i")): _*)
      q.processAllAvailable()
      val d = spark.sql("SELECT dup FROM bloom_sat_test")
        .collect().map(_.getBoolean(0))
      assert(d.length == 100)
      val keeps = d.count(!_)
      assert(keeps <= 16, s"pigeonhole: $keeps keeps > 16 bits")
      assert(keeps >= 1 && d.count(identity) >= 84)
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
