package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming encounter alerts: the stream-stream self-join twin of batch
  * geo_encounters — near pairs alert exactly once, far ships never, and the
  * cell-expansion blocking emits no duplicates across cell boundaries. */
class EncounterAlertsSpec extends graft.SparkSpec {
  import graft.ais._
  import org.apache.spark.sql.functions.col

  test("close pairs alert exactly once (including across a cell boundary); far ships do not") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PositionEvent]
    def pos(mmsi: String, lat: Double, lon: Double, ts: Long) =
      PositionEvent(mmsi, "under way using engine", ts, Gps(lat, lon), 10.0, 90)

    val q = AisPipeline.encounterAlerts(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("enc_alerts_t").start()
    try {
      input.addData(
        pos("A1", 10.2, 20.2, 1000L),   // same cell as B1, ~15.6 km
        pos("B1", 10.3, 20.3, 2000L),
        pos("C1", -5.0, 100.0, 1500L),  // alone in its ocean
        pos("D1", 10.95, 20.05, 3000L), // cell (10,20)...
        pos("E1", 11.05, 20.10, 3100L)) // ...cell (11,20), ~11.6 km apart
      q.processAllAvailable()
      val alerts = spark.table("enc_alerts_t")
        .select(col("mmsi_a"), col("mmsi_b"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      // each qualifying pair exactly ONCE — the one-matching-expansion-row
      // property carries over from the batch operator — and C1 nowhere
      assert(alerts.sorted == Seq(("A1", "B1"), ("D1", "E1")), alerts)
    } finally q.stop()
  }

  test("a 150 km radius alerts a pair two lat cells apart exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PositionEvent]
    def pos(mmsi: String, lat: Double, lon: Double, ts: Long) =
      PositionEvent(mmsi, "under way using engine", ts, Gps(lat, lon), 10.0, 90)
    val q = AisPipeline.encounterAlerts(input.toDS(), radiusKm = 150.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("enc_alerts_150_t").start()
    try {
      // cells 59 and 61, ~133.4 km apart: the disk spans three lat cells
      input.addData(pos("X", 59.9, 5.0, 1000L), pos("Y", 61.1, 5.0, 1060L))
      q.processAllAvailable()
      val alerts = spark.table("enc_alerts_150_t")
        .select(col("mmsi_a"), col("mmsi_b"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(alerts == Seq(("X", "Y")), alerts)
    } finally q.stop()
  }

  test("join state is evicted once the watermark passes (bounded-state proof)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PositionEvent]
    def pos(mmsi: String, ts: Long) = PositionEvent(mmsi,
      "under way using engine", ts, Gps(10.2, 20.2), 10.0, 90)
    val q = AisPipeline.encounterAlerts(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("enc_alerts_state_t").start()
    try {
      input.addData((1 to 20).map(i => pos(s"S$i", 1000L + i)): _*)
      q.processAllAvailable()
      val before = q.lastProgress.stateOperators.head.numRowsTotal
      // an event far past watermark(2h) + range(1h): old state evictable;
      // two batches so the advanced watermark is applied to the state store
      input.addData(pos("Z1", 1000L + 5 * 3600L))
      q.processAllAvailable()
      input.addData(pos("Z2", 1000L + 5 * 3600L + 10))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators.head.numRowsTotal
      assert(before >= 20, s"expected the 20-ship batch in state, got $before")
      assert(after < before,
        s"watermark did not evict join state: before=$before after=$after")
    } finally q.stop()
  }

  test("withinRadius runs on a streaming feed unchanged (stateless broadcast side)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the static candidate side: one port at (10.5, 20.5)
    val ports = Seq((1L, 10.5, 20.5)).toDF("port_id", "plat", "plon")
    val input = MemoryStream[PositionEvent]
    val pos = input.toDF()
      .select(col("mmsi").as("ship"), col("location.lat").as("lat"),
        col("location.lon").as("lon"))
    val q = graft.operators.Geo.withinRadius(pos, ports, r = 100.0)
      .select(col("ship"), col("port_id"), col("dist_km"))
      .writeStream.outputMode("append")
      .format("memory").queryName("port_radius_t").start()
    try {
      input.addData(
        PositionEvent("NEAR1", "at anchor", 1000L, Gps(10.6, 20.6), 1.0, 0),
        PositionEvent("FAR1", "at anchor", 1001L, Gps(-40.0, 120.0), 1.0, 0))
      q.processAllAvailable()
      val got = spark.table("port_radius_t").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("NEAR1", 1L)), got)
      // the port-approach stream holds NO state: the candidate side is a
      // static broadcast, so the plan has no stateful operator at all
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("pairs outside the time range do not alert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PositionEvent]
    def pos(mmsi: String, ts: Long) = PositionEvent(mmsi,
      "under way using engine", ts, Gps(10.2, 20.2), 10.0, 90)
    val q = AisPipeline.encounterAlerts(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("enc_alerts_t2").start()
    try {
      // co-located but 2h apart > the 1h range
      input.addData(pos("A2", 1000L), pos("B2", 1000L + 7200L))
      q.processAllAvailable()
      assert(spark.table("enc_alerts_t2").isEmpty)
    } finally q.stop()
  }
}

/** Late-data golden test for the event-time windowed aggregation: pins
  * exactly which windows finalize and that an event arriving behind the
  * watermark is DROPPED — the contract that bounds state at 100 TB (an
  * unwatermarked aggregation would hold every window forever). */
class FleetMetricsLateDataSpec extends graft.SparkSpec {
  import graft.ais._
  import org.apache.spark.sql.functions.{col, unix_timestamp}

  test("event older than the watermark is dropped; on-time windows finalize with exact contents") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PositionEvent]
    def pos(ts: Long, speed: Double) = PositionEvent("244660180",
      "under way using engine", ts, Gps(52.0, 4.0), speed, 90)

    // watermark 10 min, tumbling 5 min (the production defaults)
    val q = AisPipeline.fleetMetrics(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("fleet_late_t").start()
    try {
      // batch 1: window [900,1200) gets one event; ts=3600 advances the
      // watermark to 3600-600 = 3000 once the batch commits
      input.addData(pos(1000L, 10.0), pos(3600L, 20.0))
      q.processAllAvailable()
      // batch 2: ts=1000 is LATE (its window ends 1200 <= watermark 3000) —
      // must not resurrect the window or change its aggregate; ts=3650 joins
      // the open [3600,3900) window
      input.addData(pos(1000L, 99.0), pos(3650L, 30.0))
      q.processAllAvailable()
      // batch 3: ts=8000 pushes the watermark to 7400, finalizing [900,1200)
      // and [3600,3900); its own window [7800,8100) stays open (unemitted)
      input.addData(pos(8000L, 40.0))
      q.processAllAvailable()

      val rows = spark.table("fleet_late_t")
        .select(unix_timestamp(col("window_start")).as("ws"), col("n"),
          col("avg_speed"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      // golden contents: the late speed=99 event appears NOWHERE — [900,1200)
      // finalizes with only its on-time event; [3600,3900) merged both
      // on-time events across batches
      assert(rows.toSeq == Seq((900L, 1L, 10.0), (3600L, 2L, 25.0)),
        rows.mkString(", "))
    } finally q.stop()
  }
}
