package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.AisPipeline

/** Streaming throughput/latency benchmark (VERDICT r9 item 4): the streaming
  * operators had correctness and state-eviction specs but no measured
  * events/s or state-growth artifact. Drives each operator with a
  * MemoryStream feeder for `Batches` micro-batches of `rows` deterministic
  * synthetic rows, sinks to `noop` (no driver-side result accumulation), and
  * reads the numbers Spark itself reports per micro-batch
  * (StreamingQueryProgress): input rows, batch duration, and the state
  * store's row count + memory. Per operator it emits rows/s (steady-state:
  * the first `Warm` batches are excluded), mean/max batch latency, and
  * first->last state growth — the artifact lands in BENCH_STREAMING.json
  * with a load1m field like the batch bench.
  *
  * MemoryStream (not the rate source) so every operator sees its REAL input
  * shape — NMEA sentences for the decode pipeline, typed PositionEvents for
  * the AIS state machines — and so batch boundaries are explicit
  * (`processAllAvailable` per feed = one batch).
  */
object StreamBench {

  private val Warm = 2
  private val Batches = 10

  case class Res(name: String, rowsPerSec: Double, meanBatchMs: Double,
      maxBatchMs: Long, inRows: Long, stateRowsFirst: Long,
      stateRowsLast: Long, stateMB: Double, droppedByWatermark: Long = -1L)

  /** Deterministic position stream: `nShips` ships over a `boxDeg`-degree
    * square, timestamps advancing `batchSpanSec` per batch (so watermarks
    * move and session windows close). */
  private def position(b: Int, i: Int, rows: Int, nShips: Int,
      boxDeg: Int, batchSpanSec: Long): ais.PositionEvent = {
    val ship = i % nShips
    val h = ship * 2654435761L + 12345
    ais.PositionEvent(s"S$ship", if (ship % 7 == 0) "moored" else "under way using engine",
      1700000000L + b * batchSpanSec + (i.toLong * batchSpanSec / rows),
      ais.Gps(10.0 + math.floorMod(h, boxDeg * 10L) / 10.0,
        20.0 + math.floorMod(h >> 8, boxDeg * 10L) / 10.0),
      5.0 + (ship % 20), (ship * 37) % 360)
  }

  /** One measured run: feed -> processAllAvailable per batch, then read the
    * per-batch progress Spark recorded. `feed` returns the rows it added:
    * those, not the progress's `numInputRows`, are the measured rows, since
    * a query that reads its source twice (a self-join) counts each row
    * twice there. */
  private def run(name: String, out: DataFrame, mode: String,
      feed: Int => Int): Res = {
    val q = out.writeStream.outputMode(mode).format("noop").start()
    try {
      val fed = (0 until Batches).map { b =>
        val n = feed(b); q.processAllAvailable(); n
      }
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val meas = prog.drop(Warm)
      val inRows = fed.drop(Warm).map(_.toLong).sum
      val ms = meas.map(_.batchDuration)
      val st = meas.flatMap(_.stateOperators.headOption)
      Res(name,
        if (ms.sum > 0) inRows * 1000.0 / ms.sum else 0.0,
        if (ms.nonEmpty) ms.sum.toDouble / ms.length else 0.0,
        if (ms.nonEmpty) ms.max else 0L,
        inRows,
        st.headOption.map(_.numRowsTotal).getOrElse(-1L),
        st.lastOption.map(_.numRowsTotal).getOrElse(-1L),
        st.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
        // beyond-watermark arrivals are DROPPED before the state function
        // runs (the documented batch-vs-streaming divergence for every
        // stateful op here; EncounterEpisodesSpec pins it for episodes) —
        // surface the count so a lossy replay is visible in the artifact,
        // not silent (ADVICE r15)
        if (st.isEmpty) -1L else st.map(_.numRowsDroppedByWatermark).sum)
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    // Ambient host load BEFORE this JVM contributes its own (the batch
    // Bench's r11 discipline): the end-of-run load1m mostly measures the
    // bench itself, so the START value is what adjudicates whether the host
    // was idle; the steal share since here is stamped into the emitted line
    // so a co-tenant discount is visible (r16; HostStat scaladoc).
    val load1mStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val cpuStart = HostStat.cpuJiffies()
    val spark = Graft.session()
    // a runtime SQL conf: read when each streaming query starts
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val results = scala.collection.mutable.ArrayBuffer.empty[Res]

    // --- AIS decode pipeline: NMEA sentences -> typed positions -----------
    {
      val in = MemoryStream[String]
      def lines(b: Int): Seq[String] = (0 until 10000).flatMap { i =>
        val mmsi = 257000001L + (i % 500)
        val ts = 1700000000L + b * 600L + i / 20
        if (i % 5 == 4)
          ais.NmeaEncoder.staticVoyage(mmsi, s"LA${i % 97}X", s"SHIP${i % 500}",
            70 + (i % 5), "BERGEN", ts)
        else Seq(ais.NmeaEncoder.position(if (i % 2 == 0) 1 else 3, mmsi,
          status = i % 9, speedKnots = 5.0 + (i % 40), lon = 4.5 + (i % 100) * 0.01,
          lat = 58.0 + (i % 100) * 0.01, heading = (i * 37) % 360, ts = ts))
      }
      results += run("ais_decode_positions",
        ais.AisIngest.positions(ais.AisIngest.decode(in.toDS())).toDF(),
        "append", b => { val ls = lines(b); in.addData(ls); ls.size })
    }

    // --- AIS state machines ----------------------------------------------
    val posRows = 10000
    def posBatch(in: MemoryStream[ais.PositionEvent], nShips: Int = 500,
        boxDeg: Int = 20)(b: Int): Int = {
      in.addData((0 until posRows).map(i =>
        position(b, i, posRows, nShips, boxDeg, 600L)))
      posRows
    }
    {
      val in = MemoryStream[ais.PositionEvent]
      results += run("fleet_metrics",
        AisPipeline.fleetMetrics(in.toDS()), "update", posBatch(in))
    }
    {
      val in = MemoryStream[ais.PositionEvent]
      results += run("voyage_sessions",
        AisPipeline.voyageSessions(in.toDS()), "append", posBatch(in))
    }
    {
      val in = MemoryStream[ais.PositionEvent]
      results += run("deduped_positions",
        AisPipeline.dedupedPositions(in.toDS()), "append", posBatch(in))
    }
    {
      val in = MemoryStream[ais.ShipInfoEvent]
      results += run("latest_info",
        AisPipeline.latestInfo(in.toDS()).toDF(), "update", b => {
          in.addData((0 until posRows).map { i =>
            val ship = i % 500
            ais.ShipInfoEvent(s"S$ship", 1700000000L + b * 600L + i / 20,
              s"SHIP$ship", s"LA${ship % 97}X", "Cargo",
              if (b % 3 == 0) "BERGEN" else "OSLO")
          })
          posRows
        })
    }
    {
      val in = MemoryStream[ais.PositionEvent]
      results += run("ship_activity_tws",
        AisPipeline.shipActivity(in.toDS()).toDF(), "update", posBatch(in))
    }
    {
      val in = MemoryStream[ais.PositionEvent]
      results += run("encounter_alerts",
        AisPipeline.encounterAlerts(in.toDS()), "append",
        posBatch(in, nShips = 200, boxDeg = 20))
    }
    {
      // episode sessionization over a detection stream: 500 live pairs,
      // every third batch-hour silent so gaps close episodes in-band
      val in = MemoryStream[streaming.EncounterEpisodes.Detection]
      results += run("encounter_episodes",
        streaming.EncounterEpisodes.episodes(in.toDS()).toDF(), "append", b => {
          in.addData((0 until posRows).map { i =>
            val pair = (i % 500).toLong
            val hour = b * 3L + (i % 3) // skips hour b*3+2 for pair%3==2 mix
            val t = new java.sql.Timestamp(
              hour * streaming.EncounterEpisodes.binMs + (i / 500) * 60000L)
            streaming.EncounterEpisodes.Detection(pair, pair + 100000L, t,
              1.0 + (i % 50))
          })
          posRows
        })
    }

    val load1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def fmt(v: Double): String =
      BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
    val ops = results.map { r =>
      s""""${r.name}":{"rows_per_sec":${fmt(r.rowsPerSec)},""" +
        s""""mean_batch_ms":${fmt(r.meanBatchMs)},"max_batch_ms":${r.maxBatchMs},""" +
        s""""measured_rows":${r.inRows},"state_rows_first":${r.stateRowsFirst},""" +
        s""""state_rows_last":${r.stateRowsLast},"state_mb":${fmt(r.stateMB)},""" +
        s""""dropped_by_watermark":${r.droppedByWatermark}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"stream_bench","unit":"rows_per_sec",""" +
      s""""load1m_start":${fmt(load1mStart)},"load1m":${fmt(load1m)},""" +
      s""""steal_pct":${fmt(HostStat.stealPct(cpuStart, HostStat.cpuJiffies()))},""" +
      s""""canary_ms_end":${fmt(HostStat.canaryMs())},""" +
      s""""batches":$Batches,"warm":$Warm,"ops":$ops}"""
    println(line)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
