package graft

import java.nio.file.{Files, Path}
import java.sql.DriverManager
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._

/** End-to-end tests of the weather pipeline (SURVEY.md §5.2): fixture bronze
  * JSON on file:/, Derby standing in for Postgres, replay/idempotency
  * contract (O6) pinned. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def payload(times: Seq[String], temps: Seq[Any], hums: Seq[Any],
                      precs: Seq[Any]): String = {
    def arr(xs: Seq[Any]) = xs.map {
      case null => "null"
      case s: String => "\"" + s + "\""
      case x => x.toString
    }.mkString("[", ",", "]")
    s"""{"latitude": 39.68, "longitude": -75.75, "timezone": "America/New_York",
       | "elevation": 27.0,
       | "hourly": {"time": ${arr(times)}, "temperature_2m": ${arr(temps)},
       |   "relative_humidity_2m": ${arr(hums)}, "precipitation": ${arr(precs)}}}""".stripMargin
  }

  private def fixture24h(day: String): String = {
    val times = (0 until 24).map(h => f"${day}T$h%02d:00")
    payload(times,
      (0 until 24).map(h => 10.0 + h * 0.5),
      (0 until 24).map(h => 60.0 + h),
      (0 until 24).map(h => if (h % 6 == 0) 1.5 else 0.0))
  }

  private def mkCfg(root: Path): AppConfig = AppConfig(
    SourceCfg("http://example.test/v1/forecast", 39.68, -75.75, "auto",
      Seq("temperature_2m", "relative_humidity_2m", "precipitation")),
    StorageCfg(s"file:$root/bronze", s"file:$root/silver", s"file:$root/gold"),
    SparkCfg(shufflePartitions = 4),
    PgCfg(s"jdbc:derby:$root/db;create=true", "app", "app",
      "org.apache.derby.jdbc.EmbeddedDriver", "weather_daily_stage", "weather_daily"))

  private def finalRows(cfg: AppConfig): Seq[(Int, Int, Int, Double, Double, Double, Double, Double)] = {
    val conn = DriverManager.getConnection(cfg.postgres.url)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT "y","m","d","min_temp_c","max_temp_c","avg_temp_c","precip_mm_sum","avg_humidity_pct" """ +
          """FROM weather_daily ORDER BY "y","m","d"""")
      val buf = scala.collection.mutable.Buffer.empty[(Int, Int, Int, Double, Double, Double, Double, Double)]
      while (rs.next()) buf += ((rs.getInt(1), rs.getInt(2), rs.getInt(3), rs.getDouble(4),
        rs.getDouble(5), rs.getDouble(6), rs.getDouble(7), rs.getDouble(8)))
      buf.toSeq
    } finally conn.close()
  }

  private def stageCount(cfg: AppConfig): Long = {
    val conn = DriverManager.getConnection(cfg.postgres.url)
    try {
      val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM weather_daily_stage")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  test("full day-run: bronze -> silver -> gold -> stage -> upsert, then replay converges") {
    val root = Files.createTempDirectory("graft_e2e")
    val cfg = mkCfg(root)
    val date = LocalDate.parse("2025-09-15")
    val fetch = (_: AppConfig) => fixture24h("2025-09-15")

    val staged1 = Pipeline.runDay(spark, cfg, date, fetch)
    assert(staged1 == 1, "gold emits one row per day")

    // silver shape: 24 hourly rows, correct casts and timestamps
    val silver = spark.read.parquet(s"${cfg.storage.silver}/openmeteo/")
    assert(silver.count() == 24)
    val cols = silver.columns.toSet
    assert(Set("lat", "lon", "tz", "temperature_c", "humidity_pct", "precip_mm",
      "event_ts", "y", "m", "d").subsetOf(cols))

    // final table: exactly one row with hand-computed aggregates
    val rows1 = finalRows(cfg)
    assert(rows1.size == 1)
    val (y, m, d, mn, mx, av, ps, ah) = rows1.head
    assert((y, m, d) == (2025, 9, 15))
    assert(mn == 10.0 && mx == 10.0 + 23 * 0.5)
    assert(math.abs(av - (10.0 + 11.5 / 2 * 23 / 23.0 * 2 / 2)) < 10) // sanity bound; exact below
    assert(av == (0 until 24).map(h => 10.0 + h * 0.5).sum / 24)
    assert(ps == 4 * 1.5)
    assert(ah == (0 until 24).map(h => 60.0 + h).sum / 24)
    assert(stageCount(cfg) == 0, "stage rows deleted after merge (K7)")

    // bronze lands where silver reads it: the key putBronze writes lies
    // under SilverJob.dayPath (the replay below rewrites the same bytes)
    val bronzeFile = ObjectStore.putBronze(spark.sparkContext.hadoopConfiguration,
      cfg.storage.bronze, date, fetch(cfg))
    assert(bronzeFile.startsWith(SilverJob.dayPath(cfg.storage.bronze, date)), bronzeFile)

    // replay the same day: converges, no duplicates (O6)
    Pipeline.runDay(spark, cfg, date, fetch)
    assert(finalRows(cfg) == rows1)
    assert(stageCount(cfg) == 0)
  }

  test("dynamic partition overwrite: re-running day 1 leaves day 2 intact") {
    val root = Files.createTempDirectory("graft_dyn")
    val cfg = mkCfg(root)
    val d1 = LocalDate.parse("2025-09-15")
    val d2 = LocalDate.parse("2025-09-16")
    Pipeline.runDay(spark, cfg, d1, _ => fixture24h("2025-09-15"))
    Pipeline.runDay(spark, cfg, d2, _ => fixture24h("2025-09-16"))
    Pipeline.runDay(spark, cfg, d1, _ => fixture24h("2025-09-15")) // re-run day 1
    val silver = spark.read.parquet(s"${cfg.storage.silver}/openmeteo/")
    assert(silver.count() == 48, "both days survive a day-1 re-run (dynamic overwrite, not root clobber)")
    assert(finalRows(cfg).size == 2)
  }

  test("replay contract lives in the write: a static-overwrite session keeps day 1 and stays static") {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val cfg = mkCfg(Files.createTempDirectory("graft_static"))
    for (day <- Seq("2025-09-15", "2025-09-16"); st <- Seq("bronze", "silver", "gold"))
      Pipeline.runStage(s, cfg, st, LocalDate.parse(day), _ => fixture24h(day))
    def perDay(layer: String) = s.read.parquet(s"$layer/openmeteo/")
      .groupBy("d").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perDay(cfg.storage.silver) == Map(15 -> 24L, 16 -> 24L), "silver day 1 lost to day 2's write")
    assert(perDay(cfg.storage.gold) == Map(15 -> 1L, 16 -> 1L), "gold day 1 lost to day 2's write")
    assert(s.conf.get("spark.sql.sources.partitionOverwriteMode") == "static",
      "silver/gold rewrote the caller's session conf")
  }

  test("job budget per day: silver <= 2, gold <= 2, stage = 1 Spark jobs, no schema-inference job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val cfg = mkCfg(Files.createTempDirectory("graft_jobs"))
    Pipeline.runDay(spark, cfg, LocalDate.parse("2025-09-15"), _ => fixture24h("2025-09-15"))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    val sc = spark.sparkContext
    val perStage = try {
      sc.addSparkListener(listener)
      Pipeline.stages.map { st =>
        org.apache.spark.ListenerBusDrain(sc)
        jobs.clear()
        Pipeline.runStage(spark, cfg, st, LocalDate.parse("2025-09-16"), _ => fixture24h("2025-09-16"))
        org.apache.spark.ListenerBusDrain(sc)
        import scala.jdk.CollectionConverters._
        st -> jobs.asScala.toSeq
      }.toMap
    } finally sc.removeSparkListener(listener)
    def names(st: String) = perStage(st).map(_.stageInfos.map(_.name).mkString(","))
    val counts = perStage.map { case (st, js) => st -> js.size }
    assert(counts("silver") <= 2, s"silver jobs: ${names("silver")}")
    assert(counts("gold") <= 2, s"gold jobs: ${names("gold")}")
    assert(counts("stage") == 1, s"stage jobs: ${names("stage")}")
    assert(counts("bronze") == 0 && counts("upsert") == 0, counts.toString)
    // A schema-inference (footer merge) or parallel-listing job runs outside
    // any SQL execution; every job of the day must belong to one.
    val orphans = perStage.values.flatten
      .filter(_.properties.getProperty("spark.sql.execution.id") == null)
    assert(orphans.isEmpty, s"jobs outside a query: ${orphans.map(_.stageInfos.map(_.name))}")
    // Every job, the AQE-submitted ones included, names its stage and day.
    for ((st, js) <- perStage; j <- js)
      assert(j.properties.getProperty("spark.job.description") == s"$st 2025-09-16",
        s"$st job ${j.stageInfos.map(_.name)} has description " +
          j.properties.getProperty("spark.job.description"))
    assert(sc.getLocalProperty("spark.job.description") == null,
      "runStage left its description on the calling thread")
  }

  test("gold fails loudly on a missing silver day; the stale gold row is not published") {
    val cfg = mkCfg(Files.createTempDirectory("graft_missing_silver"))
    val date = LocalDate.parse("2025-09-16")
    for (day <- Seq("2025-09-15", "2025-09-16"))
      Pipeline.runDay(spark, cfg, LocalDate.parse(day), _ => fixture24h(day))
    val rows1 = finalRows(cfg)
    val silverDay = StageLoadJob.partitionPath(cfg.storage.silver, date)
    val hc = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(silverDay)
    assert(p.getFileSystem(hc).delete(p, true))
    // Replay from gold: gold must stop the day before the stage load can
    // publish the surviving gold partition.
    val err = intercept[Exception] {
      Seq("gold", "stage", "upsert").foreach(
        Pipeline.runStage(spark, cfg, _, date, HttpSource.fetchForecast(_)))
    }
    assert(err.getMessage.contains(silverDay.stripPrefix("file:")), err.getMessage)
    assert(stageCount(cfg) == 0, "stale gold reached the stage table")
    assert(finalRows(cfg) == rows1)
    // The full-day replay rebuilds silver from bronze and converges again.
    assert(Pipeline.runDay(spark, cfg, date, _ => fixture24h("2025-09-16")) == 1)
    assert(finalRows(cfg) == rows1)
  }

  test("a replay with no valid bronze doc fails at silver; no layer republishes the old day") {
    val cfg = mkCfg(Files.createTempDirectory("graft_corrupt_replay"))
    val date = LocalDate.parse("2025-09-15")
    assert(Pipeline.runDay(spark, cfg, date, _ => fixture24h("2025-09-15")) == 1)
    def layer(root: String) = spark.read.parquet(s"$root/openmeteo/")
      .collect().map(_.toString).sorted.toSeq
    val (silver1, gold1, rows1) = (layer(cfg.storage.silver), layer(cfg.storage.gold), finalRows(cfg))
    // The corrupt payload overwrites the day's only bronze key.
    val err = intercept[IllegalStateException] {
      Pipeline.runDay(spark, cfg, date, _ => "{truncated")
    }
    assert(err.getMessage.contains(SilverJob.dayPath(cfg.storage.bronze, date)), err.getMessage)
    assert(layer(cfg.storage.silver) == silver1)
    assert(layer(cfg.storage.gold) == gold1)
    assert(stageCount(cfg) == 0, "the old day reached the stage table")
    assert(finalRows(cfg) == rows1)
    // A valid replay converges again.
    assert(Pipeline.runDay(spark, cfg, date, _ => fixture24h("2025-09-15")) == 1)
    assert(layer(cfg.storage.silver) == silver1)
    assert(finalRows(cfg) == rows1)
  }

  test("dedup-AVG replay semantics: duplicate stage rows collapse by average") {
    val root = Files.createTempDirectory("graft_avg")
    val cfg = mkCfg(root)
    val conn = DriverManager.getConnection(cfg.postgres.url)
    try {
      Upsert.Derby.ensureTables(conn, cfg.postgres.tableStage, cfg.postgres.tableFinal)
      val st = conn.createStatement()
      // two duplicate stage rows for one day (a partial-failure residue)
      st.execute("INSERT INTO weather_daily_stage VALUES (2025, 1, 2, 1.0, 10.0, 5.0, 2.0, 50.0)")
      st.execute("INSERT INTO weather_daily_stage VALUES (2025, 1, 2, 3.0, 20.0, 7.0, 4.0, 70.0)")
      st.close()
    } finally conn.close()
    val staged = Upsert.runDay(cfg.postgres, 2025, 1, 2)
    assert(staged == 2)
    val rows = finalRows(cfg)
    assert(rows == Seq((2025, 1, 2, 2.0, 15.0, 6.0, 3.0, 60.0)), s"got $rows")
    assert(stageCount(cfg) == 0)
  }

  test("multi-doc bronze partition: deterministic latest-file selection (vs reference limit(1))") {
    val root = Files.createTempDirectory("graft_multi")
    val cfg = mkCfg(root)
    val date = LocalDate.parse("2025-09-15")
    val hc = spark.sparkContext.hadoopConfiguration
    // two docs in the same partition; the lexicographically last must win
    ObjectStore.put(hc, cfg.storage.bronze,
      "openmeteo/y=2025/m=09/d=15/openmeteo_2025-09-15_a.json",
      payload(Seq("2025-09-15T00:00"), Seq(1.0), Seq(50.0), Seq(0.0)))
    ObjectStore.put(hc, cfg.storage.bronze,
      "openmeteo/y=2025/m=09/d=15/openmeteo_2025-09-15_b.json",
      payload(Seq("2025-09-15T00:00", "2025-09-15T01:00"), Seq(2.0, 3.0),
        Seq(60.0, 61.0), Seq(0.1, 0.2)))
    val silver = SilverJob.transform(spark, cfg.storage.bronze, date, cfg.source.hourlyVars)
    // Scale regression guard: latest-file selection is one scan and one
    // max_by aggregate — never an unpartitioned window (which funnels the
    // whole day-partition through one task), and no second scan broadcast
    // back into a join. Read off the initial plan, before execution.
    val p = silver.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"Silver plan must not contain a window:\n$p")
    assert("FileScan json".r.findAllIn(p).size == 1, s"Silver must scan bronze once:\n$p")
    assert(!p.contains("BroadcastExchange"), s"Silver plan must not broadcast:\n$p")
    val temps = silver.select("temperature_c").collect().map(_.getDouble(0)).sorted
    assert(temps.sameElements(Array(2.0, 3.0)), "doc _b (latest name) must be selected")
    assert(silver.schema.map(f => f.name -> f.dataType) ==
      Schemas.silver(cfg.source.hourlyVars).map(f => f.name -> f.dataType),
      "silver output must match Schemas.silver")
  }

  test("latest-file rule skips corrupt docs: an older valid doc wins; an all-corrupt day writes nothing") {
    val cfg = mkCfg(Files.createTempDirectory("graft_corrupt_latest"))
    val hc = spark.sparkContext.hadoopConfiguration
    def put(day: String, name: String, body: String): Unit =
      ObjectStore.put(hc, cfg.storage.bronze, s"openmeteo/y=2025/m=09/d=$day/$name.json", body)
    put("15", "openmeteo_2025-09-15_a", payload(Seq("2025-09-15T00:00"), Seq(7.0), Seq(50.0), Seq(0.0)))
    put("15", "openmeteo_2025-09-15_b", "{not json at all")
    val d15 = LocalDate.parse("2025-09-15")
    val temps = SilverJob.transform(spark, cfg.storage.bronze, d15, cfg.source.hourlyVars)
      .select("temperature_c").collect().map(_.getDouble(0))
    assert(temps.sameElements(Array(7.0)), "the corrupt latest doc must not hide the valid one")
    Pipeline.runStage(spark, cfg, "silver", d15, HttpSource.fetchForecast(_))
    put("16", "openmeteo_2025-09-16_a", "{\"latitude\": ")
    put("16", "openmeteo_2025-09-16_b", "[1, 2")
    intercept[IllegalStateException] {
      Pipeline.runStage(spark, cfg, "silver", LocalDate.parse("2025-09-16"),
        HttpSource.fetchForecast(_))
    }
    val perDay = spark.read.parquet(s"${cfg.storage.silver}/openmeteo/")
      .groupBy("d").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perDay == Map(15 -> 1L), s"an all-corrupt day must add no silver rows: $perDay")
  }

  test("null values in hourly arrays pass through casts (API emits nulls)") {
    val root = Files.createTempDirectory("graft_nulls")
    val cfg = mkCfg(root)
    val date = LocalDate.parse("2025-09-15")
    ObjectStore.putBronze(spark.sparkContext.hadoopConfiguration, cfg.storage.bronze, date,
      payload(Seq("2025-09-15T00:00", "2025-09-15T01:00"), Seq(18.4, null),
        Seq(82.0, 85.0), Seq(0.0, 0.2)))
    val silver = SilverJob.transform(spark, cfg.storage.bronze, date, cfg.source.hourlyVars)
    val rows = silver.orderBy("event_ts").collect()
    assert(rows.length == 2)
    assert(!rows(0).isNullAt(rows(0).fieldIndex("temperature_c")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("temperature_c")))
  }

  test("corrupt bronze doc is filtered, not fatal") {
    val root = Files.createTempDirectory("graft_corrupt")
    val cfg = mkCfg(root)
    val date = LocalDate.parse("2025-09-15")
    val hc = spark.sparkContext.hadoopConfiguration
    ObjectStore.put(hc, cfg.storage.bronze,
      "openmeteo/y=2025/m=09/d=15/openmeteo_2025-09-15_a.json", "{not json at all")
    ObjectStore.put(hc, cfg.storage.bronze,
      "openmeteo/y=2025/m=09/d=15/openmeteo_2025-09-15_b.json",
      payload(Seq("2025-09-15T00:00"), Seq(5.0), Seq(55.0), Seq(0.0)))
    val silver = SilverJob.transform(spark, cfg.storage.bronze, date, cfg.source.hourlyVars)
    assert(silver.count() == 1)
  }

  test("per-stage backfill: 3-day bronze-only range writes 3 keys, touches no other layer") {
    val root = Files.createTempDirectory("graft_stage_range")
    val cfg = mkCfg(root)
    val out = Pipeline.runStageRange(spark, cfg, "bronze",
      LocalDate.parse("2025-09-15"), LocalDate.parse("2025-09-17"),
      _ => fixture24h("2025-09-15"))
    assert(out.map(_._1.toString) == Seq("2025-09-15", "2025-09-16", "2025-09-17"),
      "sequential date order (max_active_runs=1 parity)")
    val hc = spark.sparkContext.hadoopConfiguration
    val bronzeFs = new org.apache.hadoop.fs.Path(cfg.storage.bronze).getFileSystem(hc)
    (15 to 17).foreach { d =>
      assert(bronzeFs.exists(new org.apache.hadoop.fs.Path(
        s"${cfg.storage.bronze}/openmeteo/y=2025/m=09/d=$d/openmeteo_2025-09-$d.json")))
    }
    // bronze-only: silver/gold layers and the Derby db must be untouched
    assert(!bronzeFs.exists(new org.apache.hadoop.fs.Path(s"${cfg.storage.silver}/openmeteo")))
    assert(!bronzeFs.exists(new org.apache.hadoop.fs.Path(s"${cfg.storage.gold}/openmeteo")))
    assert(!Files.exists(root.resolve("db")), "upsert layer (Derby) never created")
  }

  test("CLI fails loudly on a reversed range, an unknown flag or a flag without a value") {
    // the config path does not exist: each rejection must come from the
    // argument check, before any config is read or session built
    val cfg = Seq("--config", "/nonexistent/pipeline.yaml")
    Seq(
      cfg ++ Seq("--date", "2024-01-09", "--end", "2024-01-08"),
      cfg ++ Seq("--date", "2024-01-08", "--ned", "2024-01-09"),
      cfg ++ Seq("--date", "2024-01-08", "--end"),
      Seq("silver", "--date", "2024-01-08", "--end") ++ cfg,
      cfg ++ Seq("--date", "2024-01-08", "--date", "2024-01-09"),
      cfg ++ Seq("--date", "2024-01-08", "--end", "2024-01-32"),
      cfg ++ Seq("--date", "yesterday")
    ).foreach { args =>
      val err = intercept[IllegalArgumentException](Pipeline.main(args.toArray))
      assert(err.getMessage.contains("usage: Pipeline"), args.mkString(" "))
    }
    val root = Files.createTempDirectory("graft_stage_reversed")
    intercept[IllegalArgumentException](Pipeline.runStageRange(spark, mkCfg(root), "bronze",
      LocalDate.parse("2024-01-09"), LocalDate.parse("2024-01-08"), _ => fixture24h("2024-01-09")))
  }

  test("runStage: 'day' delegates to the full stage sequence; unknown stage names all valid ones") {
    val root = Files.createTempDirectory("graft_stage_day")
    val cfg = mkCfg(root)
    val staged = Pipeline.runStage(spark, cfg, "day", LocalDate.parse("2025-09-15"),
      _ => fixture24h("2025-09-15"))
    assert(staged == 1, "full DAG via runStage(\"day\")")
    val err = intercept[IllegalArgumentException](
      Pipeline.runStage(spark, cfg, "nope", LocalDate.parse("2025-09-15"),
        HttpSource.fetchForecast(_)))
    assert(err.getMessage.contains("bronze, silver, gold, stage, upsert, day"))
  }

  test("config: empty hadoop section behaves like an absent one; populated one parses") {
    val base =
      """source:
        |  base_url: http://x/v1
        |  latitude: 1.0
        |  longitude: 2.0
        |  timezone: auto
        |  hourly: "temperature_2m"
        |storage: {bronze: /b, silver: /s, gold: /g}
        |spark: {shuffle_partitions: 4}
        |postgres:
        |  url: jdbc:postgresql://h/db
        |  user: u
        |  password: p
        |  driver: org.postgresql.Driver
        |  table_stage: st
        |  table_final: fi
        |""".stripMargin
    assert(AppConfig.fromYaml(base + "hadoop:\n").hadoop.isEmpty,
      "key-present-null-value section must not NPE")
    assert(AppConfig.fromYaml(base).hadoop.isEmpty)
    val cfg = AppConfig.fromYaml(base +
      "hadoop:\n  fs.s3a.endpoint: http://minio:9000\n  fs.s3a.path.style.access: true\n")
    assert(cfg.hadoop == Map(
      "fs.s3a.endpoint" -> "http://minio:9000", "fs.s3a.path.style.access" -> "true"))
  }

  test("config: reference-shaped yaml parses; url template matches reference params") {
    val cfg = AppConfig.fromYaml(
      """source:
        |  base_url: https://api.open-meteo.com/v1/forecast
        |  latitude: 39.68
        |  longitude: -75.75
        |  timezone: auto
        |  hourly: "temperature_2m,relative_humidity_2m,precipitation"
        |storage:
        |  bronze: s3a://bronze
        |  silver: s3a://silver
        |  gold: s3a://gold
        |spark:
        |  shuffle_partitions: 8
        |postgres:
        |  url: jdbc:postgresql://postgres:5432/weather
        |  user: weather
        |  password: secret
        |  driver: org.postgresql.Driver
        |  table_stage: weather_daily_stage
        |  table_final: weather_daily
        |""".stripMargin)
    assert(cfg.source.hourlyVars == Seq("temperature_2m", "relative_humidity_2m", "precipitation"))
    assert(cfg.forecastUrl ==
      "https://api.open-meteo.com/v1/forecast?latitude=39.68&longitude=-75.75" +
        "&hourly=temperature_2m,relative_humidity_2m,precipitation&timezone=auto")
    assert(cfg.spark.shufflePartitions == 8)
    assert(Upsert.dialectFor(cfg.postgres) == Upsert.Postgres)
  }

  test("postgres upsert SQL text carries the reference's semantics verbatim") {
    val sql = Upsert.Postgres.upsertSql("weather_daily_stage", "weather_daily")
    assert(sql.contains("AVG(min_temp_c)"), "dedup is AVG-collapse, not last-write-wins")
    assert(sql.contains("ON CONFLICT (y,m,d) DO UPDATE"))
    assert(sql.contains("EXCLUDED.min_temp_c"))
    val ddl = Upsert.Postgres.ddl("weather_daily_stage", "weather_daily")
    assert(ddl.head.contains("PRIMARY KEY (y,m,d)"))
    assert(ddl.forall(_.startsWith("CREATE TABLE IF NOT EXISTS")))
  }

  test("http retry: succeeds after transient failures, no sleep in test") {
    var calls = 0
    var slept = 0L
    val out = HttpSource.withRetry(retries = 2, delayMs = 120000L, sleep = slept += _) {
      calls += 1
      if (calls < 3) throw new RuntimeException("boom")
      "ok"
    }
    assert(out == "ok" && calls == 3 && slept == 240000L)
    // exhausted retries rethrow the last error
    intercept[RuntimeException] {
      HttpSource.withRetry(retries = 1, delayMs = 0, sleep = _ => ())(throw new RuntimeException("always"))
    }
  }

  test("bronze key minting matches the reference's partitioned layout") {
    assert(ObjectStore.bronzeKey(LocalDate.parse("2025-09-05")) ==
      "openmeteo/y=2025/m=09/d=05/openmeteo_2025-09-05.json")
  }

  test("http source: real GET against a local stub server, fail on non-2xx") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var hits = 0
    server.createContext("/v1/forecast", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        hits += 1
        val (code, body) = if (hits < 2) (503, "err") else (200, """{"ok":true}""")
        ex.sendResponseHeaders(code, body.length)
        ex.getResponseBody.write(body.getBytes)
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/v1/forecast"
      intercept[HttpSource.HttpError](HttpSource.get(url))
      assert(HttpSource.get(url) == """{"ok":true}""")
    } finally server.stop(0)
  }

  test("incremental aggregate: day merges accumulate, replay is skipped, rollup == direct agg") {
    import spark.implicits._
    import graft.pipeline.IncrementalAgg
    val store = java.nio.file.Files.createTempDirectory("inc_agg").toString + "/store"
    val day1 = Seq(("click", 1.5), ("click", 2.5), ("view", 10.0)).toDF("k", "v")
    val day2 = Seq(("click", 4.0), ("scroll", 0.5)).toDF("k", "v")
    assert(IncrementalAgg.mergeDay(day1, "k", "v", "2025-01-01", store))
    assert(IncrementalAgg.mergeDay(day2, "k", "v", "2025-01-02", store))
    assert(!IncrementalAgg.mergeDay(day1, "k", "v", "2025-01-01", store),
      "ledger: replayed day must be skipped")
    val got = IncrementalAgg.current(spark, "k", store)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    // bit-identical to the direct aggregate over all raw rows
    import org.apache.spark.sql.functions.{count, lit}
    val direct = day1.unionByName(day2).groupBy($"k")
      .agg(graft.operators.Relational.sumExact($"v").as("s"), count(lit(1)).as("n"))
      .select($"k", $"s", $"n", ($"s" / $"n".cast("double")).as("a"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(got == direct)
  }
}
