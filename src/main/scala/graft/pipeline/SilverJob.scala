package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Silver transform: one day's raw bronze JSON → flattened hourly Parquet
  * (reference: spark_jobs/silver_openmeteo.py:12-71).
  *
  * Deliberate divergences from the reference (SURVEY.md §3.5):
  *  - explicit schema instead of inference (corrupt docs → filtered, not fatal);
  *  - deterministic document selection (latest file name) instead of limit(1);
  *  - int partition columns instead of zero-padded strings;
  *  - dynamic partition overwrite, so a re-run replaces only its own day.
  *
  * Scale: one day-partition is one small payload, so coalesce(1) matches the
  * reference's file-count control (spark_jobs/silver_openmeteo.py:60). For a
  * 100 TB multi-tenant variant the same plan holds with coalesce removed —
  * the write is already partitioned by (y,m,d) and shuffle-free.
  */
object SilverJob {

  /** The Silver pivot shared by the batch and streaming paths: filter corrupt
    * docs, arrays_zip + explode the parallel hourly arrays, cast + rename the
    * values, parse event_ts. Output: lat, lon, tz, <renamed vars>, event_ts. */
  def flattenHourly(raw: DataFrame, hourlyVars: Seq[String]): DataFrame = {
    val zipped = raw
      .where(col("_corrupt_record").isNull && col("hourly").isNotNull)
      .select(
        col("latitude").cast("double").as("lat"),
        col("longitude").cast("double").as("lon"),
        col("timezone").as("tz"),
        explode(arrays_zip(
          (col("hourly.time") +: hourlyVars.map(v => col(s"hourly.$v"))): _*)).as("h"))
    val valueCols = hourlyVars.map { v =>
      col(s"h.$v").cast("double").as(Schemas.silverNames(v))
    }
    zipped.select(
      (Seq(col("lat"), col("lon"), col("tz")) ++ valueCols :+
        to_timestamp(col("h.time")).as("event_ts")): _*)
  }

  /** The day's bronze directory under `root` ([[ObjectStore.bronzeDayPrefix]]). */
  def dayPath(root: String, date: LocalDate): String =
    s"${root.stripSuffix("/")}/${ObjectStore.bronzeDayPrefix(date)}"

  /** Flatten the day's bronze doc to hourly rows (no write). */
  def transform(spark: SparkSession, bronzeRoot: String, date: LocalDate,
                hourlyVars: Seq[String]): DataFrame = {
    // multiLine: one bronze object = ONE JSON document (stored verbatim, so it
    // may be pretty-printed) — unlike the reference's line-mode read
    // (spark_jobs/silver_openmeteo.py:24), which silently corrupts any
    // payload that spans lines.
    val raw = spark.read
      .schema(Schemas.bronze(hourlyVars))
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dayPath(bronzeRoot, date))

    // Deterministic single-doc selection: the lexicographically last file in
    // the partition wins (vs the reference's arbitrary limit(1),
    // spark_jobs/silver_openmeteo.py:28). One scan and a global max_by, never
    // an unpartitioned window (which funnels every row through one partition
    // — the shape that dies on a fat day-partition at scale). Corrupt docs
    // are dropped first; an all-corrupt day leaves one null doc, filtered out.
    val doc = raw
      .where(col("_corrupt_record").isNull && col("hourly").isNotNull)
      .select(struct(raw.columns.map(col): _*).as("doc"),
        input_file_name().as("_src_file"))
      .agg(max_by(col("doc"), col("_src_file")).as("doc"))
      .select("doc.*")

    flattenHourly(doc, hourlyVars)
      .withColumn("y", lit(date.getYear))
      .withColumn("m", lit(date.getMonthValue))
      .withColumn("d", lit(date.getDayOfMonth))
  }

  /** Transform + partitioned write (reference: spark_jobs/silver_openmeteo.py:63-69).
    * Fails when the day has no valid bronze doc: the write then adds no rows,
    * dynamic overwrite keeps the day's old silver partition, and gold, stage
    * and upsert would republish the old day as if the replay had succeeded.
    * The row count is observed on the write itself (no extra job). */
  def run(spark: SparkSession, cfg: AppConfig, date: LocalDate): DataFrame = {
    val written = Observation("silver")
    val out = transform(spark, cfg.storage.bronze, date, cfg.source.hourlyVars)
    out.observe(written, count(lit(1)).as("rows")).coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("y", "m", "d")
      .parquet(s"${cfg.storage.silver.stripSuffix("/")}/openmeteo/")
    if (written.get("rows").asInstanceOf[Long] == 0L)
      throw new IllegalStateException(
        s"silver: no valid bronze doc in ${dayPath(cfg.storage.bronze, date)}; " +
          "the day's silver partition is left as it was")
    out
  }
}
