package graft.pipeline

import org.apache.spark.sql.types._

/** Explicit schemas for the medallion layers (SURVEY.md §1).
  *
  * The reference infers the bronze schema from untrusted JSON
  * (reference: spark_jobs/silver_openmeteo.py:24) — an extra eager pass plus
  * an injection surface. The rebuild pins it: unknown fields are dropped,
  * malformed docs land in `_corrupt_record` instead of failing the job.
  */
object Schemas {

  /** Open-Meteo payload: struct of equal-length parallel arrays
    * (reference: dags/weather_daily_etl.py:45-50, consumed at
    * spark_jobs/silver_openmeteo.py:26-32). */
  def bronze(hourlyVars: Seq[String]): StructType =
    StructType(Seq(
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType),
      StructField("timezone", StringType),
      StructField("hourly", StructType(
        StructField("time", ArrayType(StringType)) +:
          hourlyVars.map(v => StructField(v, ArrayType(DoubleType))))),
      StructField("_corrupt_record", StringType)))

  /** Silver's names for the standard hourly variables
    * (reference: spark_jobs/silver_openmeteo.py:43-45); unknown vars keep theirs. */
  val silverNames: Map[String, String] = Map(
    "temperature_2m" -> "temperature_c",
    "relative_humidity_2m" -> "humidity_pct",
    "precipitation" -> "precip_mm").withDefault(identity)

  /** One row per hour (reference: spark_jobs/silver_openmeteo.py:38-57). */
  def silver(hourlyVars: Seq[String]): StructType = StructType(
    Seq(StructField("lat", DoubleType), StructField("lon", DoubleType),
      StructField("tz", StringType)) ++
      hourlyVars.map(v => StructField(silverNames(v), DoubleType)) ++
      (StructField("event_ts", TimestampType) +: dayKey))

  /** One row per day, in stage-table column order
    * (reference: spark_jobs/gold_openmeteo.py:20-29). */
  val gold: StructType = StructType(dayKey ++ Seq("min_temp_c", "max_temp_c",
    "avg_temp_c", "precip_mm_sum", "avg_humidity_pct").map(StructField(_, DoubleType)))

  private def dayKey = Seq("y", "m", "d").map(StructField(_, IntegerType))
}
