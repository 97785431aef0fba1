package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Driver-side HTTP source with bounded retry — the bronze extract's fetch
  * (reference: dags/weather_daily_etl.py:27-32 — requests.get with 30 s
  * timeout + raise_for_status; retries at :53-57, 1 retry / 2 min delay).
  *
  * NOT a distributed read: one small payload per day, fetched on the driver
  * exactly like the reference's Airflow worker does.
  */
object HttpSource {

  final case class HttpError(status: Int, url: String)
    extends RuntimeException(s"HTTP $status from $url")

  private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()

  /** GET `url`, failing on non-2xx (raise_for_status parity). */
  def get(url: String): String = {
    val timeoutSec = 30
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSec)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2) throw HttpError(resp.statusCode(), url)
    resp.body()
  }

  /** Retry wrapper: `retries` re-attempts after the first failure, sleeping
    * `delayMs` between attempts (reference default: 1 retry, 2 min). The
    * sleeper is injectable so tests don't wait. */
  def withRetry[T](retries: Int, delayMs: Long,
                   sleep: Long => Unit = Thread.sleep)(body: => T): T = {
    var attempt = 0
    var out: Option[T] = None
    var last: Throwable = null
    while (out.isEmpty && attempt <= retries) {
      try out = Some(body)
      catch {
        // NonFatal only: OOME/interrupt must propagate, not sleep-and-retry
        case scala.util.control.NonFatal(e) =>
          last = e
          attempt += 1
          if (attempt <= retries) sleep(delayMs)
      }
    }
    out.getOrElse(throw last)
  }

  /** Fetch the day's forecast payload with the reference's retry posture:
    * 1 retry after a 2 min delay. */
  def fetchForecast(cfg: AppConfig): String =
    withRetry(retries = 1, delayMs = 120000L)(get(cfg.forecastUrl))
}
