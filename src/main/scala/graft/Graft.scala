package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table plumbing shared by every entry point.
  *
  * Design notes (100 TB readiness):
  *  - AQE on: runtime shuffle-partition coalescing + skew-join splitting, so the
  *    same plan survives a 1000-executor deployment without retuning.
  *  - `spark.sql.shuffle.partitions` defaults to the local core count here; on a
  *    real cluster it is expected to be set to 2-3x total cores by the launcher.
  *  - Session timezone pinned to UTC — the reference's `to_timestamp` semantics
  *    (reference: spark_jobs/silver_openmeteo.py:47) depend on session TZ, and the
  *    DuckDB oracle compares timestamps assuming UTC.
  */
object Graft {

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The runtime SQL confs of every graft engine: applied at build time by
    * [[session]] and to an already-running session by [[tune]]. */
  def sqlConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> defaultCores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def session(appName: String): SparkSession =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$defaultCores]")
      .appName(appName)
      .config(sqlConfs.toMap)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Configure the driver-owned session passed to `SparkEntry.entry` the
    * same way: apply [[sqlConfs]], then register the native SQL functions
    * post-hoc (that session is built without `withExtensions`; idempotent). */
  def tune(spark: SparkSession): SparkSession = {
    sqlConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Load one of the driver-provided tables from an sf directory.
    * Plain parquet scan — Catalyst handles column pruning + predicate pushdown,
    * so callers should express date/key selection as `.where` and let the scan
    * prune (SURVEY.md §4.1).
    *
    * `events.ts` has shipped in two physical forms across testdata
    * generations: parquet TIMESTAMP(NANOS) (unrepresentable in Spark 4, read
    * as a nanos-since-epoch long under legacy.parquet.nanosAsLong) and plain
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Both normalize here to the
    * session-zoned microsecond TIMESTAMP every downstream query assumes:
    * longs via integer division (doubles cannot hold epoch-nanos exactly, so
    * no float math on the raw value), NTZ via a cast that is value-identical
    * under the pinned UTC session timezone. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
        case TimestampNTZType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }
}
