package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ais._
import graft.streaming.JdbcSink
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** The `ais_live` workload, composed only from the engine's public
  * functions, the way a deployment composes them:
  *
  *   NMEA lines → AisIngest.decode → positions / shipInfo
  *     → AvroCodec.*ToWire → *FromWire → Enrich.withWeather (positions)
  *     → JdbcSink.positionsWriter / infoWriter → Derby landing tables
  *   landing tables → spark.read.jdbc → Dashboard panels
  *
  * Open loop: a generator thread offers one chunk every 100 ms at a fixed
  * rate, both sinks run a 1 s `ProcessingTime` trigger, and a poller
  * refreshes the dashboard every 5 s. Each sink's streaming query reads its
  * own MemoryStream; both sources get the same chunk at the same due time
  * (two queries on one MemoryStream fail with "Offsets committed out of
  * order"). */
final class LiveBench(spark: SparkSession, run: RunContext) {
  import spark.implicits._

  private val PosSchemaId = 1
  private val InfoSchemaId = 2

  val ships = 500
  val rate = 5000 // messages per second
  val chunkMs = 100
  val perChunk: Int = rate * chunkMs / 1000
  val historyChunks = 2
  val warmupChunks = 20
  val pollEveryMs = 5000L
  val IsolationRuns = 3

  private val fleet = new Fleet(run.seed, ships)
  private val weather: () => WeatherClient =
    if (run.traced) () => new CountingWeather(new FixtureWeatherClient)
    else () => new FixtureWeatherClient

  // ---------------------------------------------------------------- paths

  def positionsPath(raw: Dataset[String]): Dataset[PositionWithWeather] =
    Enrich.withWeather(AvroCodec.positionsFromWire(AvroCodec.positionsToWire(
      AisIngest.positions(AisIngest.decode(raw)), PosSchemaId)), weather)

  def infoPath(raw: Dataset[String]): Dataset[ShipInfoEvent] =
    AvroCodec.shipInfoFromWire(AvroCodec.shipInfoToWire(
      AisIngest.shipInfo(AisIngest.decode(raw)), InfoSchemaId))

  /** The chunks as a batch Dataset, one partition per chunk (fragment pairs
    * stay adjacent, as they do in a MemoryStream block). */
  def batchOf(chunks: Seq[Chunk]): Dataset[String] =
    spark.createDataset(spark.sparkContext
      .parallelize(chunks.map(_.lines.toSeq), chunks.size).flatMap(identity))

  private def endpoint(db: String, table: String) =
    JdbcSink.Endpoint(Landing.url(db), table)

  private def land(db: String, raw: Dataset[String], batchId: Long): Unit = {
    val cf = Landing.DerbyFactory(db, run.traced)
    JdbcSink.upsertBatch(JdbcSink.positionsLanding(positionsPath(raw)), batchId,
      endpoint(db, Landing.PosTable), cf)
    JdbcSink.upsertBatch(JdbcSink.infoLanding(infoPath(raw)), batchId,
      endpoint(db, Landing.InfoTable), cf)
  }

  // -------------------------------------------------------------- progress

  /** One micro-batch as reported by StreamingQueryProgress. */
  final case class Batch(query: String, batchId: Long, startOffset: Long,
      endOffset: Long, triggerStartMs: Long, durations: Map[String, Long],
      rows: Long)

  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val src = p.sources.head
      if (src.endOffset != src.startOffset) {
        def off(s: String): Long = if (s == null || s == "null") -1L else s.trim.toLong
        batches.add(Batch(p.name, p.batchId, off(src.startOffset), off(src.endOffset),
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows))
      }
    }
  }

  // ------------------------------------------------------------- dashboard

  final case class Refresh(index: Int, ms: Double, rowsRead: Long)

  /** The landing read splits on the sink's partition-id lineage column, one
    * slice per core. */
  private val readSlices: Array[String] = (0 until run.cores).map(k =>
    s"""MOD("${JdbcSink.PartCol}", ${run.cores}) = $k""").toArray

  /** One dashboard refresh: snapshot-read both landing tables (one sliced
    * JDBC read each, cached so every panel sees the same snapshot), then
    * the panels: D1, D2, the details panel (D3 join + D4 limit + D7 labels
    * + D8 icon colour), D5 and D6. */
  def refresh(db: String, i: Int): Refresh = {
    val req = s"refresh:$i"
    spark.sparkContext.setJobDescription(req)
    val t0 = System.nanoTime()
    val rows = Trace.span("dashboard.refresh", req) { id =>
      val (pos, info, rows) = Trace.span("landing.read", req, id) { _ =>
        val p = spark.read.jdbc(Landing.url(db), Landing.PosTable, readSlices, Landing.sparkProps).cache()
        val f = spark.read.jdbc(Landing.url(db), Landing.InfoTable, readSlices, Landing.sparkProps).cache()
        (p, f, p.count() + f.count())
      }
      try {
        Trace.span("dashboard.ship_count", req, id)(_ => Dashboard.shipCount(pos).head())
        Trace.span("dashboard.fast_ship_count", req, id)(_ => Dashboard.fastShipCount(pos).head())
        Trace.span("dashboard.details", req, id)(_ =>
          Dashboard.annotated(Dashboard.limited(Dashboard.shipDetails(pos, info)))
            .withColumn("icon", Dashboard.iconColor(col("shiptype"))).collect())
        Trace.span("dashboard.map_center", req, id)(_ => Dashboard.mapCenter(pos).head())
        Trace.span("dashboard.map_bounds", req, id)(_ => Dashboard.mapBounds(pos).head())
      } finally { pos.unpersist(); info.unpersist() }
      rows
    }
    spark.sparkContext.setJobDescription(null)
    val ms = (System.nanoTime() - t0) / 1e6
    Trace.log(f"refresh $i: $ms%.0f ms")
    Refresh(i, ms, rows)
  }

  // ----------------------------------------------------------------- setup

  /** Set-up, repeated by the caller: a fresh landing database with its DDL
    * and lineage index, the history landed through the batch path, and a
    * first dashboard render over it. */
  def setUp(db: String, history: Seq[Chunk]): Unit = {
    Landing.create(db)
    land(db, batchOf(history), -1L)
    refresh(db, -1)
  }

  private def startQuery(name: String, db: String, src: MemoryStream[String],
      positions: Boolean, ckpt: String): StreamingQuery = {
    val cf = Landing.DerbyFactory(db, run.traced)
    val raw = src.toDS()
    val w =
      if (positions) JdbcSink.positionsWriter(positionsPath(raw),
        endpoint(db, Landing.PosTable), ckpt, cf)
      else JdbcSink.infoWriter(infoPath(raw), endpoint(db, Landing.InfoTable), ckpt, cf)
    w.queryName(name).trigger(Trigger.ProcessingTime("1 second")).start()
  }

  // ------------------------------------------------------------------- run

  def execute(): Map[String, Any] = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = mutable.LinkedHashMap.empty[String, Any]
    val history = fleet.chunks(0, historyChunks, perChunk)
    val warm = fleet.chunks(historyChunks, warmupChunks, perChunk)
    val measured = fleet.chunks(historyChunks + warmupChunks,
      run.seconds * 1000 / chunkMs, perChunk)

    // set-up, three times on fresh databases; the last one is used
    val setups = (0 until 3).map { rep =>
      val db = s"landing_${rep}_${System.nanoTime()}"
      val t0 = System.nanoTime()
      setUp(db, history)
      val s = (System.nanoTime() - t0) / 1e9
      Trace.log(f"set-up $rep: $s%.2f s")
      (db, s)
    }
    setups.init.foreach { case (db, _) => Landing.drop(db) }
    val db = setups.last._1
    out("setup_runs_s") = setups.map(_._2)

    spark.streams.addListener(listener)
    val srcPos = MemoryStream[String]
    val srcInfo = MemoryStream[String]
    def offer(c: Chunk): Long = {
      srcPos.addData(c.lines.toSeq)
      srcInfo.addData(c.lines.toSeq).asInstanceOf[LongOffset].offset
    }
    val ckpt = s"${run.workDir}/ckpt_${System.nanoTime()}"
    val chunkLog = mutable.ArrayBuffer.empty[Seq[Any]]
    val refreshes = new java.util.concurrent.ConcurrentLinkedQueue[Refresh]()
    var t0Wall = 0L
    val queries = Seq(
      startQuery("positions", db, srcPos, positions = true, s"$ckpt/positions"),
      startQuery("info", db, srcInfo, positions = false, s"$ckpt/info"))
    def drain(): Unit = queries.foreach(_.processAllAvailable())
    try {
      // warm-up at the offered rate, untimed, then drain
      warm.foreach { c => offer(c); Thread.sleep(chunkMs.toLong) }
      drain()
      run.beginMeasurement()
      t0Wall = System.currentTimeMillis()
      @volatile var stop = false
      val poller = new Thread(() => {
        var i = 0
        while (!stop) {
          val wait = t0Wall + (i + 1) * pollEveryMs - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          if (!stop) { refreshes.add(refresh(db, i)); i += 1 }
        }
      }, "dashboard-poller")
      poller.setDaemon(true)
      poller.start()
      measured.zipWithIndex.foreach { case (c, k) =>
        // a chunk is sent when its last line is due
        val wait = t0Wall + (k + 1L) * chunkMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val added = System.currentTimeMillis()
        val off = offer(c)
        // offset, first line due, slot length, lines, added (ms since t0)
        chunkLog += Seq[Any](off, (k * chunkMs).toDouble, chunkMs.toDouble,
          c.lines.length, (added - t0Wall).toDouble)
      }
      stop = true
      drain()
      poller.join()
    } finally {
      queries.foreach(_.stop())
      spark.streams.removeListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    run.endMeasurement()
    out("t0_trace_ms") = Trace.wallToRel(t0Wall) / 1e6

    // ------------------------------------------------------------- checks
    val exp = Expected.of(history ++ warm ++ measured)
    def count(sql: String) = Landing.scalar(db, sql)
    def dupes(t: String) = count(s"SELECT COUNT(*) FROM (SELECT mmsi, timestamp FROM $t " +
      "GROUP BY mmsi, timestamp HAVING COUNT(*) > 1) d")
    val checks = mutable.LinkedHashMap[String, (Long, Long)](
      "positions_landed" -> (exp.positions, count(s"SELECT COUNT(*) FROM ${Landing.PosTable}")),
      "info_landed" -> (exp.infos, count(s"SELECT COUNT(*) FROM ${Landing.InfoTable}")),
      "positions_duplicates" -> (0L, dupes(Landing.PosTable)),
      "info_duplicates" -> (0L, dupes(Landing.InfoTable)),
      "ship_count" -> (exp.ships, count(s"SELECT COUNT(DISTINCT mmsi) FROM ${Landing.PosTable}")),
      "fast_ship_count" -> (exp.fastShips,
        count(s"SELECT COUNT(DISTINCT mmsi) FROM ${Landing.PosTable} WHERE speed > 10")))
    out("checks") = checks.map { case (k, (e, g)) => k -> Map("expected" -> e, "got" -> g) }
    out("expected") = Map("lines" -> exp.lines, "positions" -> exp.positions,
      "infos" -> exp.infos, "malformed" -> exp.malformed, "filtered" -> exp.filtered,
      "ships" -> exp.ships, "fast_ships" -> exp.fastShips)
    // attempted: every line offered in the window plus every refresh
    out("attempted") = measured.map(_.lines.length.toLong).sum + refreshes.size
    out("failed") = checks.count { case (_, (e, g)) => e != g }

    out("first_measured_offset") = warm.size.toLong
    out("chunks") = chunkLog
    out("batches") = batches.asScala.toSeq.sortBy(b => (b.query, b.batchId)).map(b =>
      Map("query" -> b.query, "batch" -> b.batchId, "start_offset" -> b.startOffset,
        "end_offset" -> b.endOffset, "trigger_start_ms" -> (b.triggerStartMs - t0Wall).toDouble,
        "durations" -> b.durations, "rows" -> b.rows))
    out("refreshes") = refreshes.asScala.toSeq.sortBy(_.index).map(r =>
      Map("index" -> r.index, "ms" -> r.ms, "rows_read" -> r.rowsRead))
    out("config") = Map("ships" -> ships, "offered_lines" -> measured.map(_.lines.length).sum,
      "rate_messages_per_s" -> rate, "chunk_messages" -> perChunk, "chunk_ms" -> chunkMs,
      "trigger" -> "ProcessingTime(1 second)", "history_chunks" -> historyChunks,
      "warmup_chunks" -> warmupChunks, "measured_chunks" -> measured.size,
      "poll_every_ms" -> pollEveryMs, "weather_cache_size" -> 4096,
      "landing" -> "embedded in-memory Derby with the lineage-quoting shim")

    if (run.traced) out("isolation") = isolation(measured)
    Landing.drop(db)
    out.toMap
  }

  /** Isolation pass (traced runs): the same lines as a batch, timed through
    * cumulative prefixes of the public calls, so decode, routing, Avro and
    * enrichment each get their own time. Both branches run per prefix, as
    * the two streaming queries each decode their own source. Each prefix
    * runs to the `noop` sink, which computes every output column (a count
    * could prune a typed map away), and counts are taken untimed. */
  private def isolation(chunks: Seq[Chunk]): Map[String, Any] = {
    val raw = batchOf(chunks).cache()
    val lines = raw.count()
    def dec = AisIngest.decode(raw)
    def pos = AisIngest.positions(dec)
    def info = AisIngest.shipInfo(dec)
    def posWire = AvroCodec.positionsToWire(pos, PosSchemaId)
    def infoWire = AvroCodec.shipInfoToWire(info, InfoSchemaId)
    def infoBack = AvroCodec.shipInfoFromWire(infoWire)
    // best of three: the later layers cost less than the run-to-run noise
    // of the decode they ride on, so a single run can read negative
    def timed(name: String)(branches: Dataset[_]*): Double = {
      spark.sparkContext.setJobDescription(s"isolation:$name")
      (0 until IsolationRuns).map { _ =>
        val t0 = System.nanoTime()
        Trace.span(s"isolation.$name", "isolation")(_ =>
          branches.foreach(_.write.format("noop").mode("overwrite").save()))
        (System.nanoTime() - t0) / 1e6
      }.min
    }
    val lookups0 = Trace.get("enrich.lookups")
    val lookupNs0 = Trace.get("enrich.lookup_ns")
    val prefixMs = Map(
      "decode" -> timed("decode")(dec, dec),
      "route" -> timed("route")(pos, info),
      "avro_encode" -> timed("avro_encode")(posWire, infoWire),
      "avro_decode" -> timed("avro_decode")(AvroCodec.positionsFromWire(posWire), infoBack),
      "enrich" -> timed("enrich")(positionsPath(raw), infoBack))
    val lookups = (Trace.get("enrich.lookups") - lookups0) / IsolationRuns
    val lookupMs = (Trace.get("enrich.lookup_ns") - lookupNs0) / 1e6 / IsolationRuns
    val isoDb = s"isolation_${System.nanoTime()}"
    Landing.create(isoDb)
    // each run after the first replaces the previous rows, as a redelivery would
    spark.sparkContext.setJobDescription("isolation:sink")
    val sinkMs = (0 until IsolationRuns).map { _ =>
      val t0 = System.nanoTime()
      Trace.span("isolation.sink", "isolation")(_ => land(isoDb, raw, 0L))
      (System.nanoTime() - t0) / 1e6
    }.min
    Landing.drop(isoDb)
    spark.sparkContext.setJobDescription(null)

    val decoded = dec.count()
    val positionsOut = pos.count()
    val infoOut = info.count()
    val frames = posWire.count() + infoWire.count()
    def frameBytes(wire: org.apache.spark.sql.DataFrame) =
      wire.agg(sum(length(col("value")))).head().getLong(0)
    val result = Map(
      "lines_in" -> lines, "records_out" -> decoded,
      // a type 5 record is two lines
      "dropped_lines" -> (lines - decoded - infoOut),
      "positions_out" -> positionsOut, "info_out" -> infoOut,
      "filtered_out" -> (decoded - positionsOut - infoOut),
      "frames" -> frames,
      "frame_bytes" -> (frameBytes(posWire) + frameBytes(infoWire)),
      "bad_frames" -> (frames - AvroCodec.positionsFromWire(posWire).count() - infoBack.count()),
      "enrich_rows" -> positionsPath(raw).count(), "enrich_lookups" -> lookups,
      "enrich_lookup_ms" -> lookupMs,
      "prefix_ms" -> (prefixMs + ("sink" -> sinkMs)))
    raw.unpersist()
    result
  }
}
