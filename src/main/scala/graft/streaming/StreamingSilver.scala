package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.pipeline.Schemas

/** Continuous Silver: the batch SilverJob pivot as a file-source stream —
  * new bronze JSON documents are discovered, flattened and appended to
  * partitioned Parquet as they arrive (the reference's daily micro-batch,
  * made continuous; SURVEY.md §2.9 notes streaming would subsume the
  * schedule-driven design).
  *
  * Scale notes: the file source tracks processed files in the checkpoint (no
  * reprocessing on restart — the streaming analogue of the batch pipeline's
  * idempotency contract); `maxFilesPerTrigger` bounds per-batch work so one
  * large backfill drop cannot OOM a micro-batch.
  */
object StreamingSilver {

  /** SilverJob's shared flatten, minus day selection: every arriving doc
    * carries its own event times, so partition columns derive from the data,
    * not the run date. */
  def transform(raw: DataFrame, hourlyVars: Seq[String]): DataFrame =
    graft.pipeline.SilverJob.flattenHourly(raw, hourlyVars)
      .withColumn("y", year(col("event_ts")))
      .withColumn("m", month(col("event_ts")))
      .withColumn("d", dayofmonth(col("event_ts")))

  /** Start the continuous bronze→silver flow. */
  def start(spark: SparkSession, bronzeGlob: String, silverRoot: String,
            checkpoint: String, hourlyVars: Seq[String]): StreamingQuery = {
    val maxFilesPerTrigger = 100
    val raw = spark.readStream
      .schema(Schemas.bronze(hourlyVars))
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(bronzeGlob)
    transform(raw, hourlyVars)
      .writeStream
      .format("parquet")
      .option("path", silverRoot)
      .option("checkpointLocation", checkpoint)
      .partitionBy("y", "m", "d")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
