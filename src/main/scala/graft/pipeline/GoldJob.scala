package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Gold aggregate: the day's Silver rows → one row of daily metrics
  * (reference: spark_jobs/gold_openmeteo.py:12-36).
  *
  * Two deliberate upgrades (SURVEY.md §2.5, §4.1):
  *  - read only the day's Silver partition with its schema: no root listing,
  *    no inference job, and a missing day fails instead of writing nothing,
  *    which would leave a stale Gold partition for the stage load to publish;
  *  - groupBy(y,m,d) instead of a global agg — identical output for one day,
  *    correct (not accidentally global) for multi-day input.
  */
object GoldJob {

  def aggregate(silver: DataFrame): DataFrame =
    silver.groupBy(col("y"), col("m"), col("d"))
      .agg(
        min(col("temperature_c")).as("min_temp_c"),
        max(col("temperature_c")).as("max_temp_c"),
        avg(col("temperature_c")).as("avg_temp_c"),
        sum(col("precip_mm")).as("precip_mm_sum"),
        avg(col("humidity_pct")).as("avg_humidity_pct"))

  def run(spark: SparkSession, cfg: AppConfig, date: LocalDate): DataFrame = {
    val out = aggregate(StageLoadJob.read(spark, cfg.storage.silver,
      Schemas.silver(cfg.source.hourlyVars), date))
    out.coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("y", "m", "d")
      .parquet(s"${cfg.storage.gold.stripSuffix("/")}/openmeteo/")
    out
  }
}
