package graft.streaming

import graft.ais._
import graft.operators.Geo
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

/** The streaming pipeline (SURVEY.md §3.1-3.2): raw NMEA lines → decode →
  * router → two append sinks, plus the stateful latest-per-key view and
  * windowed fleet metrics.
  *
  * Source binding: any streaming DataFrame with a string `value` column —
  * `spark.readStream.text(dir)` (replay), `format("socket")` (the live feed's
  * shape, config-template.ini:5-6), `MemoryStream[String]` (tests), or a
  * Kafka topic (deploy-time jar; same code — the decode stage reads `value`).
  * Delivery: checkpointed micro-batches into append sinks = at-least-once,
  * strictly stronger than the reference's at-most-once commit-then-produce
  * window (consumer:67,88; SURVEY.md §2.B6).
  *
  * The C3 "materialized views" are the two append sinks themselves: the
  * ClickHouse Kafka-engine + MV pair (clickhouse-ddl.sql:20-38) collapses to
  * `writeStream.outputMode("append")` per topic.
  */
object AisPipeline {

  case class RunningQueries(positions: StreamingQuery, info: StreamingQuery)

  private def decoded(raw: DataFrame): Dataset[DecodedAis] = {
    import raw.sparkSession.implicits._
    AisIngest.decode(raw.select(col("value").cast("string")).as[String])
  }

  /** Start both branches into parquet append sinks (durable MV analog). */
  def start(raw: DataFrame, checkpointRoot: String, posPath: String,
      infoPath: String,
      trigger: Trigger = Trigger.AvailableNow()): RunningQueries = {
    val d = decoded(raw)
    val pos = AisIngest.positions(d).writeStream
      .outputMode("append").format("parquet")
      .option("path", posPath)
      .option("checkpointLocation", s"$checkpointRoot/positions")
      .trigger(trigger).start()
    val info = AisIngest.shipInfo(d).writeStream
      .outputMode("append").format("parquet")
      .option("path", infoPath)
      .option("checkpointLocation", s"$checkpointRoot/info")
      .trigger(trigger).start()
    RunningQueries(pos, info)
  }

  /** Start both branches into in-memory tables (tests/dev — C4's
    * direct-select debugging analog, clickhouse-ddl.sql:37-38). */
  def startMemory(raw: DataFrame, posTable: String,
      infoTable: String): RunningQueries = {
    val d = decoded(raw)
    val pos = AisIngest.positions(d).writeStream
      .outputMode("append").format("memory").queryName(posTable).start()
    val info = AisIngest.shipInfo(d).writeStream
      .outputMode("append").format("memory").queryName(infoTable).start()
    RunningQueries(pos, info)
  }

  /** Compacted-topic semantics as explicit state (README.md:199-200;
    * SURVEY.md §2.E): keep the max-timestamp info record per mmsi, emit only
    * on change. Use with OutputMode.Update sinks. */
  def latestInfo(info: Dataset[ShipInfoEvent]): Dataset[ShipInfoEvent] = {
    import info.sparkSession.implicits._
    info.groupByKey(_.mmsi).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (_: String, events: Iterator[ShipInfoEvent], state: GroupState[ShipInfoEvent]) =>
        val all = state.getOption.iterator ++ events
        val latest = all.maxBy(e => (e.timestamp, e.shipname))
        if (state.getOption.contains(latest)) Iterator.empty
        else { state.update(latest); Iterator.single(latest) }
    }
  }

  /** Event-time fleet metrics (the idiomatic-Spark upgrade, SURVEY.md §7.6):
    * per-status counts and average speed over tumbling windows with a
    * watermark bounding state. */
  def fleetMetrics(pos: Dataset[PositionEvent], watermark: String = "10 minutes",
      windowLen: String = "5 minutes"): DataFrame =
    pos.toDF()
      .withColumn("ts", to_timestamp(from_unixtime(col("timestamp"))))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("status"))
      .agg(count(lit(1)).as("n"), avg(col("speed")).as("avg_speed"))
      .select(col("window.start").as("window_start"), col("status"),
        col("n"), col("avg_speed"))

  /** Stream-stream join: live positions against the live info stream on
    * mmsi, with an event-time range (info at-or-before the position, at most
    * `range` older) and watermarks on BOTH sides so join state is bounded —
    * the streaming form of the D3 dashboard join. */
  def positionsWithInfoStream(pos: Dataset[PositionEvent],
      info: Dataset[ShipInfoEvent], watermark: String = "1 hour",
      range: String = "24 hours"): DataFrame = {
    val p = pos.toDF()
      .withColumn("pos_ts", to_timestamp(from_unixtime(col("timestamp"))))
      .withWatermark("pos_ts", watermark)
    val i = info.toDF()
      .select(col("mmsi").as("info_mmsi"), col("shipname"), col("shiptype"),
        to_timestamp(from_unixtime(col("timestamp"))).as("info_ts"))
      .withWatermark("info_ts", watermark)
    p.join(i,
      col("mmsi") === col("info_mmsi") &&
        col("info_ts") <= col("pos_ts") &&
        col("info_ts") >= col("pos_ts") - expr(s"INTERVAL $range"))
  }

  /** Event-time session windows in streaming: per-ship voyage segments close
    * after `gap` of silence; the watermark bounds session state and lets
    * windows finalize. The streaming form of the batch `session_windows`
    * operator (Advanced.sessionQ). Append-mode capable: a session emits once
    * its close is older than the watermark. */
  def voyageSessions(pos: Dataset[PositionEvent], watermark: String = "30 minutes",
      gap: String = "15 minutes"): DataFrame =
    pos.toDF()
      .withColumn("ts", to_timestamp(from_unixtime(col("timestamp"))))
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("mmsi"))
      .agg(count(lit(1)).as("n_reports"), avg(col("speed")).as("avg_speed"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("mmsi"), col("n_reports"), col("avg_speed"))

  /** Streaming dedup within the watermark: collapses at-least-once replays of
    * the same (mmsi, timestamp) report into one row — the training-pipeline
    * dedup primitive in streaming form, with bounded state. */
  def dedupedPositions(pos: Dataset[PositionEvent],
      watermark: String = "10 minutes"): DataFrame =
    pos.toDF()
      .withColumn("event_ts", to_timestamp(from_unixtime(col("timestamp"))))
      .withWatermark("event_ts", watermark)
      .dropDuplicatesWithinWatermark("mmsi", "timestamp")
      .drop("event_ts")

  /** Per-ship lifetime activity snapshot. */
  case class ShipActivity(mmsi: String, n_reports: Long, last_ts: Long)

  /** Spark 4 arbitrary-state v2 (`transformWithState` + [[StatefulProcessor]],
    * RocksDB-backed): a per-ship report counter and last-seen timestamp in
    * typed [[ValueState]], re-emitted whenever the key updates — the modern
    * API for the compaction-intent state that [[latestInfo]] keeps under the
    * older flatMapGroupsWithState. Requires
    * `spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider`. */
  class ShipStatsProcessor
      extends StatefulProcessor[String, PositionEvent, ShipActivity] {
    @transient private var nState: ValueState[Long] = _
    @transient private var lastState: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      lastState = getHandle.getValueState[Long]("last", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[PositionEvent],
        timers: TimerValues): Iterator[ShipActivity] = {
      var n = if (nState.exists()) nState.get() else 0L
      var last = if (lastState.exists()) lastState.get() else 0L
      rows.foreach { p => n += 1; if (p.timestamp > last) last = p.timestamp }
      nState.update(n)
      lastState.update(last)
      Iterator.single(ShipActivity(key, n, last))
    }
  }

  /** [[ShipStatsProcessor]] wired onto a position stream. Update-mode. */
  def shipActivity(pos: Dataset[PositionEvent]): Dataset[ShipActivity] = {
    import pos.sparkSession.implicits._
    pos.groupByKey(_.mmsi)
      .transformWithState(new ShipStatsProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Real-time ship-to-ship proximity alerts: the STREAMING twin of the
    * batch `geo_encounters` operator (operators/Geo.scala) — pairs of
    * positions from different ships within `radiusKm` and `timeRange` of
    * each other, emitted as the reports arrive.
    *
    * Spark's stream-stream inner join needs an equi-key plus an event-time
    * range before the optimizer runs, so the key is built here, from the
    * batch blocking scheme: the left side keeps its 1-degree cell
    * (Geo.pointCell); the right side expands to the cells of its
    * `radiusKm` disk (Geo.diskCover, the one cover the BlockHaversineJoins
    * rule also uses). For any qualifying pair exactly ONE expansion row
    * matches, so the join emits each encounter once with no post-dedup —
    * the property the batch operator proves against its quadratic oracle
    * carries over unchanged.
    *
    * State is bounded twice over: watermarks on BOTH sides let Spark drop
    * join state older than `watermark` + `timeRange`, and the |lat| <= 70
    * domain bound caps the lon expansion (shipping-lane band, as in batch).
    * At deploy scale the join shuffles on the cell key, so hot cells
    * partition the work and a quiet ocean costs nothing. Append-mode sink.
    */
  def encounterAlerts(pos: Dataset[PositionEvent], radiusKm: Double = 50.0,
      timeRange: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val base = pos.toDF()
      .filter(abs(col("location.lat")) <= 70)
      .select(col("mmsi"), col("location.lat").as("lat"),
        col("location.lon").as("lon"), col("speed"),
        to_timestamp(from_unixtime(col("timestamp"))).as("ts"))
    val a = Geo.withPointCell(base, col("lat"), col("lon"))
      .select(col("mmsi").as("mmsi_a"), col("lat").as("lat_a"),
        col("lon").as("lon_a"), col("speed").as("speed_a"),
        col("ts").as("ts_a"), col("cy"), col("cx"))
      .withWatermark("ts_a", watermark)
    val b = Geo.withDiskCells(base, col("lat"), col("lon"), radiusKm)
      .select(col("mmsi").as("mmsi_b"), col("lat").as("lat_b"),
        col("lon").as("lon_b"), col("ts").as("ts_b"), col("cy"), col("cx"))
      .withWatermark("ts_b", watermark)
    // the pair-ordering/distance checks are post-join filters, though the
    // optimizer folds them back into the join condition; the state manager
    // scans every `<` conjunct as a potential state-watermark source, logs
    // and SKIPS the non-time ones (mmsi_a < mmsi_b surfaces as a benign
    // "Cannot evaluate" log line), and derives cleanup from the ts-range
    // conjuncts — EncounterAlertsSpec proves eviction actually happens
    a.as("a").join(b.as("b"),
        col("a.cy") === col("b.cy") && col("a.cx") === col("b.cx") &&
          col("b.ts_b") >= col("a.ts_a") - expr(s"INTERVAL $timeRange") &&
          col("b.ts_b") <= col("a.ts_a") + expr(s"INTERVAL $timeRange"))
      .filter(col("mmsi_a") < col("mmsi_b"))
      .withColumn("dist_km", Geo.haversineKm(
        col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b")))
      .filter(col("dist_km") <= radiusKm)
      .select(col("mmsi_a"), col("mmsi_b"), col("ts_a"), col("ts_b"),
        col("dist_km"), col("lat_a"), col("lon_a"))
  }
}
