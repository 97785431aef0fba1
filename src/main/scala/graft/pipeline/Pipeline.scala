package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

/** The reference's five-stage daily DAG as a plain driver program
  * (reference: dags/weather_daily_etl.py:217 —
  * `bronze >> silver >> gold >> load_pg_stage >> pg_upsert`), fail-fast and
  * sequential, with the same idempotency contract (O6): partition overwrite +
  * stage delete + ON-CONFLICT upsert + dedup-AVG mean a re-run of any day
  * converges to the same final row.
  */
object Pipeline {

  /** The five stages in DAG order. */
  val stages: Seq[String] = Seq("bronze", "silver", "gold", "stage", "upsert")

  /** One named stage in isolation — parity with the reference's standalone
    * single-stage DAGs (reference: dags/weather_extract_bronze.py:19-49,
    * dags/weather_transform_silver.py:21-47), which re-run one layer without
    * replaying the whole day. Stage idempotency (partition overwrite, keyed
    * bronze put, stage-table delete-before-read, ON-CONFLICT upsert) is what
    * makes single-stage re-runs safe. Returns a row count: `"stage"` the rows
    * it appended to the stage table, `"upsert"` (and so `"day"`) the staged
    * rows the merge consumed (the reference's diagnostic K8); bronze, silver
    * and gold return 0. */
  def runStage(spark: SparkSession, cfg: AppConfig, stage: String, date: LocalDate,
               fetch: AppConfig => String): Long = {
    // Y3: actually apply the configured shuffle width (the reference declares
    // shuffle_partitions in yaml but never passes it, config/settings.yaml:23
    // vs dags/weather_daily_etl.py:83-88) — and the hadoop: object-store conf
    // (reference ships it as spark-defaults, docker/spark/spark-defaults.conf:1-5).
    spark.conf.set("spark.sql.shuffle.partitions", cfg.spark.shufflePartitions.toString)
    cfg.applyHadoop(spark)
    // Every Spark job of the stage carries "<stage> <date>" as its job
    // description (AQE's query-stage jobs copy the caller's local properties),
    // so a listener record or the UI ties each job to its stage and day.
    val sc = spark.sparkContext
    val outerDescription = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$stage $date")
    try stage match {
      case "bronze" => ObjectStore.putBronze(                      // O1 stage 1: bronze extract
        spark.sparkContext.hadoopConfiguration, cfg.storage.bronze, date, fetch(cfg)); 0L
      case "silver" => SilverJob.run(spark, cfg, date); 0L         // stage 2: silver
      case "gold"   => GoldJob.run(spark, cfg, date); 0L           // stage 3: gold
      case "stage"  => StageLoadJob.run(spark, cfg, date)          // stage 4: JDBC stage
      case "upsert" => Upsert.runDay(cfg.postgres,                 // stage 5: upsert
        date.getYear, date.getMonthValue, date.getDayOfMonth)
      case "day"    => stages.map(runStage(spark, cfg, _, date, fetch)).last
      case other => throw new IllegalArgumentException(
        s"unknown stage '$other' (expected one of: ${stages.mkString(", ")}, day)")
    } finally sc.setJobDescription(outerDescription)
  }

  /** One day end-to-end. `fetch` is injectable (tests use a fixture payload;
    * production uses [[HttpSource.fetchForecast]]). Returns the staged-row
    * count the upsert consumed (the reference's diagnostic K8). */
  def runDay(spark: SparkSession, cfg: AppConfig, date: LocalDate,
             fetch: AppConfig => String): Long =
    runStage(spark, cfg, "day", date, fetch)

  /** One stage (or the full `"day"` sequence) over an inclusive date range,
    * sequentially in date order — the reference's standalone per-layer DAGs
    * support schedule-driven multi-day catch-up via Airflow `catchup`
    * (reference: dags/weather_extract_bronze.py:51-58), so a single layer
    * can be re-run over a window without replaying the other layers.
    * Date-order sequencing = max_active_runs=1 parity. */
  def runStageRange(spark: SparkSession, cfg: AppConfig, stage: String,
                    start: LocalDate, endInclusive: LocalDate,
                    fetch: AppConfig => String = HttpSource.fetchForecast(_)): Seq[(LocalDate, Long)] = {
    require(!endInclusive.isBefore(start), s"range end $endInclusive is before its start $start")
    Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(endInclusive))
      .map(d => d -> runStage(spark, cfg, stage, d, fetch))
      .toSeq
  }

  private val usage =
    "usage: Pipeline [day|bronze|silver|gold|stage|upsert] --config path" +
      " --date YYYY-MM-DD [--end YYYY-MM-DD]"

  /** The CLI's (stage, config path, first day, last day). Rejects, with the
    * usage message, an unknown stage or flag, a flag without a value or
    * given twice, a missing `--config`/`--date`, a date that is not
    * YYYY-MM-DD and an `--end` before `--date` — before any config is read
    * or session built. */
  private def parseArgs(args: Array[String]): (String, String, LocalDate, LocalDate) = {
    def fail(why: String) = throw new IllegalArgumentException(s"$why\n$usage")
    val (cmd, rest) =
      if (args.nonEmpty && !args(0).startsWith("--")) (args(0), args.drop(1))
      else ("day", args)
    if (!(stages :+ "day").contains(cmd)) fail(s"unknown stage '$cmd'")
    val pairs = rest.grouped(2).map {
      case Array(k, v) if !v.startsWith("--") => k -> v
      case kv => fail(s"flag ${kv(0)} has no value")
    }.toSeq
    val repeated = pairs.groupBy(_._1).collect { case (k, kvs) if kvs.size > 1 => k }
    if (repeated.nonEmpty) fail(s"flag ${repeated.toSeq.sorted.mkString(", ")} given twice")
    val opts = pairs.toMap
    val unknown = opts.keySet -- Set("--config", "--date", "--end")
    if (unknown.nonEmpty) fail(s"unknown flag ${unknown.toSeq.sorted.mkString(", ")}")
    def required(k: String) = opts.getOrElse(k, fail(s"missing $k"))
    def date(k: String, v: String) =
      try LocalDate.parse(v)
      catch { case _: java.time.format.DateTimeParseException => fail(s"$k $v is not YYYY-MM-DD") }
    val start = date("--date", required("--date"))
    val end = opts.get("--end").map(date("--end", _)).getOrElse(start)
    if (end.isBefore(start)) fail(s"--end $end is before --date $start")
    (cmd, required("--config"), start, end)
  }

  /** CLI: `[day|bronze|silver|gold|stage|upsert] --config path
    * --date YYYY-MM-DD [--end YYYY-MM-DD]` (reference: O2 — Jinja `{{ ds }}`
    * → argv; subcommands mirror the standalone per-stage DAGs). `day` (the
    * default) runs the full five-stage DAG; a stage name runs that stage
    * alone. `--end` extends either form to an inclusive multi-day backfill
    * (per-layer catch-up parity, dags/weather_extract_bronze.py:51-58). */
  def main(args: Array[String]): Unit = {
    val (cmd, configPath, start, end) = parseArgs(args)
    val cfg = AppConfig.load(configPath)
    val spark = graft.Graft.session("graft-pipeline")
    try runStageRange(spark, cfg, cmd, start, end)
      .foreach { case (d, n) => println(s"[pipeline] $d $cmd staged=$n ok") }
    finally spark.stop()
  }
}
