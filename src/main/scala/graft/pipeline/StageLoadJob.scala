package graft.pipeline

import java.time.LocalDate
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stage load: the day's Gold partition → JDBC append into the stage table
  * (reference: spark_jobs/load_gold_to_pg.py:13-45).
  *
  * Uses the reference's basePath trick (load_gold_to_pg.py:20-22): reading the
  * partition directory with `basePath` = layer root keeps y/m/d as columns
  * (typed int by the explicit schema, so no re-cast dance — the reference
  * forces int at :26-28 because its partition values were strings).
  */
object StageLoadJob {

  def partitionPath(root: String, date: LocalDate): String =
    f"${root.stripSuffix("/")}/openmeteo/y=${date.getYear}/" +
      f"m=${date.getMonthValue}/d=${date.getDayOfMonth}"

  /** One day's partition of a Parquet layer, read with its schema (no
    * inference job). A missing partition fails with PATH_NOT_FOUND, naming it. */
  def read(spark: SparkSession, root: String, schema: StructType, date: LocalDate): DataFrame =
    spark.read.schema(schema)
      .option("basePath", s"${root.stripSuffix("/")}/openmeteo/")
      .parquet(partitionPath(root, date))
      .select(schema.fieldNames.map(col).toSeq: _*)

  /** Append into the stage table (reference: load_gold_to_pg.py:36-43). The
    * row count is observed on the write itself, so the load is one job. */
  def run(spark: SparkSession, cfg: AppConfig, date: LocalDate): Long = {
    val staged = Observation("staged")
    val df = read(spark, cfg.storage.gold, Schemas.gold, date)
      .observe(staged, count(lit(1)).as("rows"))
    val props = new Properties()
    props.setProperty("user", cfg.postgres.user)
    props.setProperty("password", cfg.postgres.password)
    props.setProperty("driver", cfg.postgres.driver)
    df.write.mode(SaveMode.Append).jdbc(cfg.postgres.url, cfg.postgres.tableStage, props)
    staged.get("rows").asInstanceOf[Long]
  }
}
