package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.pipeline._

/** JVM side of the benchmark: runs one workload in one JVM from one calling
  * thread (closed loop), drives the program only through its public entry
  * points, and writes the raw measurements to `--out` as JSON. `run.py`
  * turns them into metrics and checks the outputs.
  *
  * Usage: Harness --workload pipeline_backfill|dedup_pairs|discover
  *   --seconds S --trace 0|1 --inputs DIR --data DIR --work DIR --out FILE
  *   [--pass-days N --warm-days N]
  *
  * A measured pass is repeated until `--seconds` have elapsed (the pass in
  * progress is finished, so every pass does the same work). With `--trace 1`
  * every measured pass records spans and attaches the engine and plan
  * listeners, which give the per-layer numbers.
  */
object Harness {

  final case class Op(kind: String, name: String, pass: Int, wall: Double, cpu: Double,
                      appCpu: Double, traced: Boolean, module: String = "")

  /** The near-duplicate pair builders of the shared-cache registry. */
  val DedupBuilders: Seq[String] =
    Seq("minhash_pair_graph", "ngram_jaccard_pairs", "winnow_pairs", "ppjoin_pairs")

  /** The whole family, as far as consumer discovery is concerned. */
  val DedupFamily: Seq[String] = DedupBuilders ++ Seq("sem_cents", "sem_assign", "dedup_worklist")

  /** Consumer queries run this many times per cycle, in the seeded order. */
  val ConsumerRounds = 5

  private def modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = {
    import graft.queries._
    Seq("CoreQueries" -> CoreQueries.queries, "LlmQueries" -> LlmQueries.queries,
      "ScaleQueries" -> ScaleQueries.queries, "StatQueries" -> StatQueries.queries,
      "RelQueries" -> RelQueries.queries, "RelQueries3" -> RelQueries3.queries,
      "MlQueries" -> MlQueries.queries, "InferQueries" -> InferQueries.queries,
      "WarehouseQueries" -> WarehouseQueries.queries, "SeriesQueries" -> SeriesQueries.queries,
      "ProfileQueries" -> ProfileQueries.queries, "EvalQueries" -> EvalQueries.queries,
      "ExperimentQueries" -> ExperimentQueries.queries,
      "FunctionQueries" -> FunctionQueries.queries, "FeatureQueries" -> FeatureQueries.queries,
      "AffinityQueries" -> AffinityQueries.queries,
      "EntityResQueries" -> EntityResQueries.queries)
  }

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(name) => m }.getOrElse("unknown")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM, in nanoseconds: every thread, the JIT
    * compiler and GC threads included. */
  def cpuNanos: Long = os.getProcessCpuTime

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of the live Java threads, in nanoseconds: the program's own
    * work, without the JIT compiler and GC threads of a young JVM. Unlike
    * wall time it does not grow while other tenants hold the CPUs. */
  def appCpuNanos: Long = threads.getThreadCpuTime(threads.getAllThreadIds).filter(_ > 0).sum

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (t0, c0) = (System.nanoTime(), appCpuNanos)
    val spark = graft.Graft.session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a, secs(t0), (appCpuNanos - c0) / 1e9)
    try {
      a("workload") match {
        case "pipeline_backfill" => run.pipeline()
        case "dedup_pairs" => run.dedup()
        case "discover" => run.discover()
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      run.writeResult()
    } finally spark.stop()
  }
}

/** One workload run: the loop, the measurements and the check data. */
final class Run(spark: SparkSession, a: Map[String, String], sessionS: Double,
                sessionCpuS: Double) {
  import Harness._

  private val sc = spark.sparkContext
  private val seconds = a("seconds").toDouble
  private val traceRun = a("trace") == "1"
  private val inputs = Paths.get(a("inputs"))
  private val data = a.getOrElse("data", "")
  private val work = Paths.get(a("work"))
  private val cores = sc.defaultParallelism

  private val spans = new Spans
  private val engine = new EngineListener
  private val plans = new PlanListener
  private var traced = false

  private var warmS = 0.0
  private var warmCpuS = 0.0
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val check = mutable.LinkedHashMap.empty[String, Any]

  // ---- the closed loop -------------------------------------------------

  /** Untimed warm-up, then measured passes until `seconds` have elapsed.
    * In a trace run every measured pass is traced. */
  private def loop(warm: => Unit)(pass: Int => Unit): Unit = {
    val (w0, c0) = (System.nanoTime(), appCpuNanos)
    warm
    warmS = secs(w0)
    warmCpuS = (appCpuNanos - c0) / 1e9
    setTraced(traceRun)
    val t0 = System.nanoTime()
    var p = 0
    while (p == 0 || secs(t0) < seconds) {
      p += 1
      pass(p)
    }
    setTraced(false)
  }

  private def setTraced(on: Boolean): Unit = if (on != traced) {
    traced = on
    spans.on = on
    plans.on = on
    if (on) sc.addSparkListener(engine) else { PerfbenchBus.drain(sc); sc.removeSparkListener(engine) }
  }

  /** Time one operation. In a traced pass its spans carry `id` and the bus
    * is drained afterwards (untimed) so listener counts land on it. */
  private def op[T](kind: String, name: String, pass: Int, module: String = "")
                   (body: => T): T = {
    val id = s"p$pass:$kind:$name"
    spans.traceId = id
    EngineListener.tag(sc, id)
    plans.op = id
    val (t0, c0, a0) = (System.nanoTime(), cpuNanos, appCpuNanos)
    val r = spans(kind, name)(body)
    ops += Op(kind, name, pass, secs(t0), (cpuNanos - c0) / 1e9, (appCpuNanos - a0) / 1e9,
      traced, module)
    if (traced) PerfbenchBus.drain(sc)
    EngineListener.tag(sc, null)
    r
  }

  private def register(s: SparkSession): Unit = s.listenerManager.register(plans)

  // ---- pipeline_backfill -----------------------------------------------

  private final case class Day(idx: Int, date: LocalDate, hasOld: Boolean, replay: Int)

  private def payload(d: Day, tag: String): String =
    new String(Files.readAllBytes(inputs.resolve(if (tag.isEmpty) s"${d.idx}.json"
      else s"${d.idx}.$tag.json")), UTF_8)

  private def pipelineCfg(root: Path): AppConfig = AppConfig(
    SourceCfg("http://forecast.invalid/v1/forecast", 39.68, -75.75, "GMT",
      Seq("temperature_2m", "relative_humidity_2m", "precipitation")),
    StorageCfg(s"file:$root/bronze", s"file:$root/silver", s"file:$root/gold"),
    SparkCfg(shufflePartitions = cores),
    PgCfg(s"jdbc:derby:$root/db;create=true", "app", "app",
      "org.apache.derby.jdbc.EmbeddedDriver", "weather_daily_stage", "weather_daily"))

  def pipeline(): Unit = {
    register(spark)
    val days = Files.readAllLines(inputs.resolve("days.tsv")).asScala.map(_.split('\t'))
      .map(f => Day(f(0).toInt, LocalDate.parse(f(1)), f(2) == "1", f(3).toInt)).toSeq
    val passDays = days.take(a("pass-days").toInt)
    val stageRows = mutable.ArrayBuffer.empty[Long]
    val stagedRows = mutable.ArrayBuffer.empty[Long]
    val passChecks = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runPass(root: Path, ds: Seq[Day], pass: Int): Unit = {
      val cfg = pipelineCfg(root)
      DriverManager.getConnection(cfg.postgres.url).close()   // create the DB, untimed
      def day(d: Day, kind: String, body: String): Unit = {
        if (kind == "day" && d.hasOld) {
          // a stale earlier fetch left in the day's bronze partition; its
          // name sorts first, so the latest-file rule must skip it
          val dir = Paths.get(SilverJob.dayPath(s"$root/bronze", d.date))
          Files.createDirectories(dir)
          Files.write(dir.resolve(s"openmeteo_${d.date.minusDays(1)}.json"),
            payload(d, "old").getBytes(UTF_8))
        }
        val staged = op(kind, d.date.toString, pass) {
          Pipeline.stages.map { st =>
            spans("pipeline", s"$kind.$st") {
              Pipeline.runStage(spark, cfg, st, d.date, _ => body)
            }
          }.last
        }
        stagedRows += staged
        stageRows += jdbcLong(cfg, s"SELECT COUNT(*) FROM ${cfg.postgres.tableStage}")
      }
      ds.foreach(d => day(d, "day", payload(d, "")))
      ds.filter(_.replay >= 0).sortBy(_.replay).foreach(d => day(d, "replay", payload(d, "rev")))
      passChecks += pipelineState(root, cfg, pass) + ("dates" -> ds.map(_.date.toString))
      try DriverManager.getConnection(s"jdbc:derby:$root/db;shutdown=true").close()
      catch { case _: java.sql.SQLException => () }   // Derby reports shutdown as an exception
      deleteTree(root)
    }

    loop(runPass(work.resolve("warm"), days.take(a("warm-days").toInt), 0)) { p =>
      runPass(work.resolve(s"pass$p"), passDays, p)
    }
    check("days") = passDays.map(d => Map("idx" -> d.idx, "date" -> d.date.toString,
      "replay" -> d.replay))
    check("stage_rows_after_upsert") = stageRows.toSeq
    check("staged_rows") = stagedRows.toSeq
    check("passes") = passChecks.toSeq
    pipelineLayers(stagedRows.toSeq)
  }

  private def jdbcLong(cfg: AppConfig, sql: String): Long = {
    val c = DriverManager.getConnection(cfg.postgres.url)
    try { val rs = c.createStatement().executeQuery(sql); rs.next(); rs.getLong(1) }
    finally c.close()
  }

  /** What a pass left behind: the final table, per-day silver and gold row
    * counts, and file counts and bytes per layer. Untimed. */
  private def pipelineState(root: Path, cfg: AppConfig, pass: Int): Map[String, Any] = {
    val c = DriverManager.getConnection(cfg.postgres.url)
    val rows = try {
      val rs = c.createStatement().executeQuery(
        """SELECT "y","m","d","min_temp_c","max_temp_c","avg_temp_c","precip_mm_sum",""" +
          s""""avg_humidity_pct" FROM ${cfg.postgres.tableFinal}""")
      val b = mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) b += (1 to 8).map { i =>
        val v = rs.getObject(i)
        if (v == null) null else if (i <= 3) rs.getInt(i) else rs.getDouble(i)
      }
      b.toSeq
    } finally c.close()
    def perDay(layer: String): Map[String, Long] =
      spark.read.parquet(s"file:$root/$layer/openmeteo/").groupBy("y", "m", "d").count()
        .collect().map(r => f"${r.getInt(0)}%04d-${r.getInt(1)}%02d-${r.getInt(2)}%02d" -> r.getLong(3))
        .toMap
    def files(layer: String, suffix: String): Seq[Long] =
      Files.walk(root.resolve(layer)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix)
          && !p.getFileName.toString.startsWith("."))
        .map(Files.size).toSeq
    Map("pass" -> pass, "final" -> rows, "silver_rows" -> perDay("silver"),
      "gold_rows" -> perDay("gold"),
      "silver_files" -> files("silver", ".parquet").size,
      "gold_files" -> files("gold", ".parquet").size,
      "bronze_bytes" -> files("bronze", ".json").sum,
      "silver_bytes" -> files("silver", ".parquet").sum,
      "gold_bytes" -> files("gold", ".parquet").sum)
  }

  private def pipelineLayers(staged: Seq[Long]): Unit = {
    val t = spans.done.filter(_.layer == "pipeline")
    for (kind <- Seq("day", "replay"); st <- Pipeline.stages) {
      val name = if (kind == "day") s"pipeline.${st}_s" else s"pipeline.replay_${st}_s"
      layers(name) = Stats.median(t.filter(_.name == s"$kind.$st").map(_.dur / 1e9).toSeq)
    }
    val last = check("passes").asInstanceOf[Seq[Map[String, Any]]].last
    val nDays = check("days").asInstanceOf[Seq[_]].size.toDouble
    def num(k: String) = last(k).toString.toDouble
    layers("pipeline.silver_rows") =
      last("silver_rows").asInstanceOf[Map[String, Long]].values.sum / nDays
    layers("pipeline.gold_rows") =
      last("gold_rows").asInstanceOf[Map[String, Long]].values.sum / nDays
    layers("pipeline.staged_rows") = Stats.median(staged.map(_.toDouble))
    layers("pipeline.silver_files") = num("silver_files") / nDays
    layers("pipeline.gold_files") = num("gold_files") / nDays
    layers("pipeline.bytes_per_bronze_byte") =
      (num("silver_bytes") + num("gold_bytes")) / num("bronze_bytes")
    engineLayers(Set("day"))
  }

  // ---- dedup_pairs -----------------------------------------------------

  private def lines(name: String): Seq[String] =
    Files.readAllLines(inputs.resolve(name)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  private val dump = work.resolve("dump")

  /** Run a query once more and write its output for the oracle compare. */
  private def dumpQuery(s: SparkSession, name: String): Unit =
    try graft.SparkEntry.queries(name)(s, data).coalesce(1).write.mode("overwrite")
      .parquet(dump.resolve(name).toString)
    catch { case e: Throwable => errors(s"check:$name") = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    finally graft.operators.CacheScope.drain()

  /** One timed query: the query call (planning plus any eager sub-jobs),
    * a `noop` write of every row, then the drain of its own caches. */
  private def timedQuery(s: SparkSession, name: String, pass: Int): Unit = {
    val fn = graft.SparkEntry.queries(name)
    try op("query", name, pass, moduleOf(name)) {
      val df = spans("queries", "build")(fn(s, data))
      spans("queries", "exec")(df.write.format("noop").mode("overwrite").save())
      spans("queries", "drain")(graft.operators.CacheScope.drain())
    } catch {
      case e: Throwable =>
        graft.operators.CacheScope.drain()
        errors(s"p$pass:$name") = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  private def writeOracles(s: SparkSession, names: Seq[String]): Unit = {
    val static = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    val dynamic = graft.SparkEntry.oracleDynamic.collect {
      case (k, f) if names.contains(k) => k -> f(s, data) }
    Files.write(dump.resolve("oracle_sql.json"), Json.value(static ++ dynamic).getBytes(UTF_8))
    check("without_oracle") = names.filterNot((static ++ dynamic).contains)
  }

  private def cacheOf(df: DataFrame): Option[SparkPlan] =
    df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r.cachedPlan }

  /** A cycle drops every cache and starts a fresh session, so the four
    * builders rebuild (the registry memoizes per session and data dir),
    * builds them in registry order, then runs the consumer queries
    * `ConsumerRounds` times. The first cycle of the JVM is the measured one:
    * nothing is warmed beforehand, as in a one-shot job. Afterwards each
    * consumer runs once more, untimed, to dump its output. */
  def dedup(): Unit = {
    val consumers = lines("consumers.tsv").map(_.split('\t')).map(f => f(0) -> f(1))
    val builders = graft.queries.SharedCaches.builders.filter(b => DedupBuilders.contains(b._1))
    val hits = mutable.ArrayBuffer.empty[Boolean]
    val buildS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val resident = mutable.ArrayBuffer.empty[Double]
    var last = spark

    def cycle(pass: Int): Unit = {
      spark.catalog.clearCache()
      val s = spark.newSession()
      register(s)
      last = s
      val frames = builders.map { case (name, build) =>
        val df = op("build", name, pass) {
          val df = build(s, data)
          df.write.format("noop").mode("overwrite").save()
          df
        }
        if (traced) {
          buildS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ops.last.wall
          // the build's shuffles ran inside the cached plan, which the write's
          // executed plan only scans
          plans.exchanges(s"p$pass:build:$name") += cacheOf(df).toSeq
            .flatMap(PlanListener.nodes).count(_.isInstanceOf[ShuffleExchangeExec])
        }
        name -> df
      }
      if (traced) resident += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      val relation = frames.flatMap { case (n, df) => cacheOf(df).map(n -> _) }.toMap
      for (_ <- 1 to ConsumerRounds; (name, builder) <- consumers) {
        timedQuery(s, name, pass)
        if (traced) hits += builder.split(',').forall(b => relation.get(b).exists(r =>
          plans.reads(s"p$pass:query:$name").exists(_ eq r)))
      }
    }

    loop(())(cycle)
    consumers.foreach { case (name, _) => dumpQuery(last, name) }
    writeOracles(last, consumers.map(_._1))
    DedupBuilders.foreach(n => layers(s"shared_caches.${n}_s") =
      Stats.median(buildS.getOrElse(n, mutable.ArrayBuffer.empty[Double]).toSeq))
    layers("shared_caches.build_s") = Stats.median(ops.filter(o => o.traced && o.kind == "build")
      .groupBy(_.pass).values.map(_.map(_.wall).sum).toSeq)
    layers("shared_caches.resident_mb") = Stats.median(resident.toSeq)
    layers("shared_caches.hit_frac") = hits.count(identity).toDouble / math.max(1, hits.size)
    val t = spans.done.filter(_.layer == "queries")
    Seq("build", "exec", "drain").foreach { k =>
      layers(s"queries.${k}_s") = Stats.median(t.filter(_.name == k).map(_.dur / 1e9).toSeq)
    }
    val tracedQueries = ops.filter(o => o.traced && o.kind == "query")
    val nPasses = tracedQueries.map(_.pass).distinct.size.max(1)
    tracedQueries.groupBy(_.module).foreach { case (m, os) =>
      layers(s"queries.${m}_s") = os.map(_.wall).sum / nPasses
    }
    engineLayers(Set("query", "build"))
  }

  /** Engine and plan counts per traced operation of the given kinds. */
  private def engineLayers(kinds: Set[String]): Unit = {
    PerfbenchBus.drain(sc)
    val keyed = ops.filter(o => o.traced && kinds.contains(o.kind))
    val ids = keyed.map(o => s"p${o.pass}:${o.kind}:${o.name}").distinct
    val n = keyed.size.max(1)
    val acc = ids.flatMap(engine.byOp.get)
    def total(f: engine.Acc => Long) = acc.map(f).sum.toDouble
    layers("spark.jobs") = total(_.jobs) / n
    layers("spark.stages") = total(_.stages) / n
    layers("spark.tasks") = total(_.tasks) / n
    layers("spark.task_s") = total(_.runMs) / 1e3 / n
    layers("spark.cpu_s") = total(_.cpuNs) / 1e9 / n
    layers("spark.gc_s") = total(_.gcMs) / 1e3 / n
    layers("spark.busy_frac") = total(_.runMs) / 1e3 / (keyed.map(_.wall).sum * cores).max(1e-9)
    layers("spark.shuffle_read_mb") = total(_.shuffleRead) / 1e6 / n
    layers("spark.shuffle_write_mb") = total(_.shuffleWrite) / 1e6 / n
    layers("spark.spill_mb") = total(_.spill) / 1e6 / n
    layers("plan.exchanges") = ids.map(plans.exchanges).sum.toDouble / n
  }

  // ---- consumer discovery ----------------------------------------------

  /** Build the seven frames of the dedup family, run every query of the
    * suite and list each query whose executed plan reads one of them, with
    * the builder. */
  def discover(): Unit = {
    register(spark)
    setTraced(true)
    val relation = graft.queries.SharedCaches.builders
      .filter(b => DedupFamily.contains(b._1)).flatMap { case (name, build) =>
        val df = build(spark, data)
        df.write.format("noop").mode("overwrite").save()
        cacheOf(df).map(name -> _)
      }
    val found = graft.SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      try op("query", name, 0) {
        graft.SparkEntry.queries(name)(spark, data).write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable => errors(name) = e.getClass.getSimpleName }
      graft.operators.CacheScope.drain()
      val read = plans.reads(s"p0:query:$name")
      relation.collect { case (b, r) if read.exists(_ eq r) => name -> b }
    }
    check("consumers") = found.map { case (q, b) => Seq(q, b) }
  }

  // ---- output ----------------------------------------------------------

  def writeResult(): Unit = {
    if (traceRun) {
      layers("setup.session_s") = sessionS
      layers("setup.warm_s") = warmS
      spans.write(work.resolve("spans.jsonl"))
      val tracedOps = ops.filter(_.traced)
      layers("trace.listener_frac") =
        (engine.busyNs + plans.busyNs) / 1e9 / tracedOps.map(_.wall).sum.max(1e-9)
    }
    val out = Json.obj(
      "setup" -> Map("session_s" -> sessionS, "warm_s" -> warmS,
        "session_cpu_s" -> sessionCpuS, "warm_cpu_s" -> warmCpuS),
      "cores" -> cores,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "pass" -> o.pass,
        "wall_s" -> o.wall, "cpu_s" -> o.cpu, "app_cpu_s" -> o.appCpu, "traced" -> o.traced,
        "module" -> o.module)),
      "errors" -> errors,
      "layers" -> layers,
      "check" -> check)
    Files.write(Paths.get(a("out")), out.getBytes(UTF_8))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq
    all.reverse.foreach(Files.delete)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
