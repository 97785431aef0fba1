package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Interchange-format sinks/sources beyond Parquet — the formats an
  * analytics library must speak to exist in a real estate: CSV (the
  * interchange floor), ORC (the other columnar), and JSON-lines (the
  * LLM-data default). Thin by design — Spark's native readers/writers do
  * the work — but the CONTRACTS are pinned by FormatsSpec: round-trips
  * are lossless under adversarial content (embedded delimiters, quotes,
  * newlines, nulls vs empty strings), and reads take EXPLICIT schemas
  * (inference is a correctness hazard the q06/S2 discipline already
  * bans for JSON).
  *
  * Scale notes: all three write one file per partition — size partitions
  * upstream (`Scale.compact`'s bytes-derived count) rather than
  * coalescing here; `maxRecordsPerFile` is exposed for row-capped
  * shards. CSV multiLine reads are NOT splittable (a quoted newline can
  * cross any byte boundary) — the scaladoc'd trade for losslessness;
  * prefer ORC/Parquet for anything that round-trips machine-to-machine.
  */
object Formats {

  /** Lossless CSV write: quoted + escaped so delimiters, quotes, and
    * newlines inside values survive; nulls write as the conventional
    * backslash-N sentinel so null and empty string stay distinguishable
    * on read (with the sentinel claimed for null, an empty field means
    * ""). Spark's CSV WRITER trims cell whitespace by default — switched
    * off here, or `"x "` silently becomes `"x"`. The sentinel collides
    * with a literal two-char backslash-N value — the unavoidable CSV
    * trade, stated; machine-to-machine data belongs in ORC/Parquet. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("quote", "\"").option("escape", "\"")
      .option("nullValue", "\\N")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("maxRecordsPerFile", 0L)
      .csv(path)

  /** Schema-enforced CSV read matching [[writeCsv]]'s conventions.
    * `multiLine` makes quoted embedded newlines parse correctly (at the
    * cost of per-file splittability — documented above). FAILFAST: a
    * malformed row is an error, never a silent null row. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("quote", "\"").option("escape", "\"")
      .option("nullValue", "\\N")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("multiLine", "true")
      .option("mode", "FAILFAST")
      .csv(path)

  /** ORC write/read — columnar interchange with engines that speak ORC
    * rather than Parquet; zstd for parity with the lake's parquet
    * codec. Schema is carried by the format (self-describing). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JSON-lines write/read — the LLM-corpus interchange default. Writes
    * one object per line (sharded by partition); reads enforce the
    * explicit schema with a corrupt-record column, the S2 contract. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "gzip")
      .json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val corruptCol = "_corrupt_record"
    spark.read
      .schema(schema.add(corruptCol, "string"))
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
  }
}
