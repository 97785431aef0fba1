package graft.pipeline

import java.nio.charset.StandardCharsets
import java.time.LocalDate

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Bronze object-store sink via the Hadoop FileSystem API — reuses whatever
  * filesystem Spark is configured for (file:/ in tests, s3a:// in deploy), so
  * there is no second S3 client with its own creds
  * (reference: dags/weather_daily_etl.py:35-50 uses boto3).
  */
object ObjectStore {

  /** Hive-partitioned bronze prefix of a run date, `openmeteo/y=/m=/d=/` —
    * the one spelling of the bronze layout (silver reads this directory). */
  def bronzeDayPrefix(date: LocalDate): String =
    f"openmeteo/y=${date.getYear}%04d/m=${date.getMonthValue}%02d/d=${date.getDayOfMonth}%02d/"

  /** Bronze key for a run date
    * (reference: dags/weather_daily_etl.py:35-36). */
  def bronzeKey(date: LocalDate): String =
    bronzeDayPrefix(date) + s"openmeteo_$date.json"

  /** Store the payload VERBATIM (the reference re-serializes with json.dumps,
    * dags/weather_daily_etl.py:48; storing the raw body is lossless and keeps
    * bronze a true record of what the API returned). */
  def put(hadoopConf: Configuration, root: String, key: String, body: String): String = {
    val path = new Path(s"${root.stripSuffix("/")}/$key")
    val fs = FileSystem.get(path.toUri, hadoopConf)
    val out = fs.create(path, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    path.toString
  }

  def putBronze(hadoopConf: Configuration, bronzeRoot: String,
                date: LocalDate, body: String): String =
    put(hadoopConf, bronzeRoot, bronzeKey(date), body)
}
