package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{AisPipeline, CorpusDedup, CorpusIngest}

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
  * shape — NMEA sentences for the decode pipeline, StreamDoc for the corpus
  * gates, typed PositionEvents for the AIS state machines — and so batch
  * boundaries are explicit (`processAllAvailable` per feed = one batch).
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

  private def doc(b: Int, i: Int, rows: Int): CorpusDedup.StreamDoc = {
    val id = b.toLong * rows + i
    CorpusDedup.StreamDoc(id, ScaleRehearsal.docText(id))
  }

  /** One measured run: feed -> processAllAvailable per batch, then read the
    * per-batch progress Spark recorded. */
  private def run(name: String, out: DataFrame, mode: String,
      feed: Int => Unit): Res = {
    val q = out.writeStream.outputMode(mode).format("noop").start()
    try {
      (0 until Batches).foreach { b => feed(b); q.processAllAvailable() }
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val meas = prog.drop(Warm)
      val inRows = meas.map(_.numInputRows).sum
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

  /** `--plateau`: long-horizon state evolution of the stream-stream
    * encounter join — the throughput run's 10 batches never cross the 2 h
    * watermark + 1 h range horizon, so its state only ever FILLS; this mode
    * drives enough 10-minute batches to cross it and prints per-batch state
    * rows/bytes, turning "growth is pre-plateau fill" into a measured
    * plateau (BENCH_NOTES round-10 streaming section). */
  private def plateauRun(spark: SparkSession): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rows = 4000
    val in = MemoryStream[ais.PositionEvent]
    val q = AisPipeline.encounterAlerts(in.toDS()).writeStream
      .outputMode("append").format("noop").start()
    try {
      (0 until 30).foreach { b =>
        in.addData((0 until rows).map(i =>
          position(b, i, rows, nShips = 200, boxDeg = 20, batchSpanSec = 600L)))
        q.processAllAvailable()
        val st = q.lastProgress.stateOperators.headOption
        // provider evidence, once: customMetrics keys are provider-specific
        // (rocksdb* vs loadedMapCache*), which is what adjudicates whether a
        // memoryUsedBytes creep is live state or provider bookkeeping
        if (b == 0) st.foreach(s => println(
          s"PLATEAU provider_metrics=${s.customMetrics.keySet()}"))
        println(s"PLATEAU batch=$b event_min=${b * 10} " +
          s"state_rows=${st.map(_.numRowsTotal).getOrElse(-1L)} " +
          s"state_mb=${st.map(_.memoryUsedBytes / 1048576).getOrElse(-1L)} " +
          s"evicted=${st.map(_.numRowsRemoved).getOrElse(-1L)}")
      }
    } finally q.stop()
  }

  /** `--soak`: long-horizon state evolution of EVERY stateful operator, not
    * just the encounter join (r10's `--plateau`). 55 batches per op — well
    * past encounterAlerts' predicted ~18-batch watermark-fill horizon — with
    * per-batch state rows/bytes, then one summary row per op classifying the
    * regime the numbers show:
    *
    *  - watermark-bounded ops (encounter join, session windows, within-
    *    watermark dedup) must PLATEAU: state rows flat (±2%) over the last
    *    10 batches once eviction starts;
    *  - corpus-memory ops (incremental MinHash dedup, paragraph dedup) are
    *    linear BY DESIGN — state remembers every distinct doc/paragraph —
    *    so the contract row is the measured slope (rows and bytes per 1k
    *    docs), which is what sizes executors for a given corpus, plus the
    *    observation that the slope is CONSTANT (no superlinear bookkeeping
    *    creep: the r10 `ce5eee2` RocksDB-creep re-attribution, now measured
    *    over 5.5× the horizon).
    *
    * Emits one `stream_soak` JSON line (appended next to the throughput line
    * in BENCH_STREAMING.json by the caller). */
  private def soakRun(spark: SparkSession): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val batches = 55

    case class Obs(rows: Long, mb: Double, removed: Long)
    case class Soak(name: String, kind: String, obs: Seq[Obs]) {
      // plateau batch: first batch after which rows never exceed 1.02x the
      // final value (eviction balancing arrivals)
      def plateauBatch: Int = {
        val last = obs.last.rows.toDouble
        val i = obs.indexWhere(_.rows >= last * 0.98)
        i
      }
      def isFlat: Boolean = {
        val tail = obs.takeRight(10).map(_.rows)
        tail.max <= (tail.min * 1.02).toLong + 2
      }
      // least-squares slope of state rows per batch over the run
      def slopePerBatch: Double = {
        val n = obs.length
        val xs = (0 until n).map(_.toDouble)
        val ys = obs.map(_.rows.toDouble)
        val xm = xs.sum / n; val ym = ys.sum / n
        val cov = xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum
        cov / xs.map(x => (x - xm) * (x - xm)).sum
      }
    }

    def drive(name: String, kind: String, out: DataFrame, mode: String,
        feed: Int => Unit): Soak = {
      val q = out.writeStream.outputMode(mode).format("noop").start()
      try {
        val obs = (0 until batches).map { b =>
          feed(b); q.processAllAvailable()
          val st = q.lastProgress.stateOperators.headOption
          val o = Obs(st.map(_.numRowsTotal).getOrElse(-1L),
            st.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
            st.map(_.numRowsRemoved).getOrElse(-1L))
          println(s"SOAK op=$name batch=$b rows=${o.rows} " +
            f"mb=${o.mb}%.1f removed=${o.removed}")
          o
        }
        Soak(name, kind, obs)
      } finally q.stop()
    }

    val res = scala.collection.mutable.ArrayBuffer.empty[Soak]

    // watermark-bounded: encounter join (2h wm + 1h range = 3h = 18 batches
    // of 10 min to fill), dedup-within-watermark, session windows
    {
      val in = MemoryStream[ais.PositionEvent]
      res += drive("encounter_alerts", "watermark_bounded",
        AisPipeline.encounterAlerts(in.toDS()), "append", b => {
          in.addData((0 until 4000).map(i =>
            position(b, i, 4000, nShips = 200, boxDeg = 20, batchSpanSec = 600L))); ()
        })
    }
    {
      val in = MemoryStream[ais.PositionEvent]
      res += drive("deduped_positions", "watermark_bounded",
        AisPipeline.dedupedPositions(in.toDS()), "append", b => {
          in.addData((0 until 4000).map(i =>
            position(b, i, 4000, nShips = 500, boxDeg = 20, batchSpanSec = 600L))); ()
        })
    }
    {
      val in = MemoryStream[ais.PositionEvent]
      res += drive("voyage_sessions", "watermark_bounded",
        AisPipeline.voyageSessions(in.toDS()), "append", b => {
          in.addData((0 until 4000).map(i =>
            position(b, i, 4000, nShips = 500, boxDeg = 20, batchSpanSec = 600L))); ()
        })
    }
    // corpus-memory (linear by design): slope is the contract
    val docsRows = 2000;
    {
      val in = MemoryStream[CorpusDedup.StreamDoc]
      res += drive("incremental_dedup", "corpus_linear",
        CorpusDedup.incrementalDedup(in.toDS()), "update", b => {
          in.addData((0 until docsRows).map(i => doc(b, i, docsRows))); ()
        })
    }
    {
      val in = MemoryStream[CorpusDedup.StreamDoc]
      res += drive("paragraph_dedup", "corpus_linear",
        CorpusDedup.paragraphDedupStream(in.toDS()), "update", b => {
          in.addData((0 until docsRows).map(i => doc(b, i, docsRows))); ()
        })
    }

    def fmt(v: Double): String =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val ops = res.map { s =>
      val base = s""""${s.name}":{"kind":"${s.kind}","batches":$batches,""" +
        s""""state_rows_last":${s.obs.last.rows},"state_mb_last":${fmt(s.obs.last.mb)}"""
      val extra =
        if (s.kind == "watermark_bounded")
          s""","plateau":${s.isFlat},"plateau_batch":${s.plateauBatch},""" +
            s""""rows_removed_last":${s.obs.last.removed}"""
        else {
          val mbPerBatch = (s.obs.last.mb - s.obs.head.mb) / (batches - 1)
          s""","rows_slope_per_batch":${fmt(s.slopePerBatch)},""" +
            s""""mb_per_batch":${fmt(mbPerBatch)}"""
        }
      base + extra + "}"
    }.mkString("{", ",", "}")
    val load1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val line = s"""{"metric":"stream_soak","batches":$batches,""" +
      s""""load1m_start":${fmt(load1mStart)},""" +
      s""""load1m":${fmt(load1m)},"steal_pct":${fmt(stealPct())},"canary_ms_end":${fmt(HostStat.canaryMs())},"ops":$ops}"""
    println(line)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  /** `--statescale`: the incremental-dedup state contract driven FAR past
    * the 55-batch soak horizon (r12 verdict item 7) — default 550 batches x
    * 2,000 docs = 1.1M distinct docs, 10x the soak corpus. Two claims under
    * test, both of which only a long horizon can falsify:
    *
    *  - the corpus-linear slope is CONSTANT into the next decade — state
    *    bytes/rows per batch in the last tenth of the run must match the
    *    first tenth (superlinear creep in RocksDB bookkeeping, compaction
    *    debt, or the signature lists themselves would bend it);
    *  - batch latency stays flat while state grows 10x — RocksDB keeps the
    *    working set on disk, so per-batch work is probe-sized, not
    *    state-sized (the property that makes terabyte state tractable on a
    *    cluster: each executor pays memory for its block cache, not its
    *    key count).
    *
    * Emits one `stream_statescale` JSON line. Batch count tunable via
    * SPARK_GRAFT_STATESCALE_BATCHES. */
  private def stateScaleRun(spark: SparkSession): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val batches = sys.env.getOrElse("SPARK_GRAFT_STATESCALE_BATCHES", "550").toInt
    val rows = 2000
    val in = MemoryStream[CorpusDedup.StreamDoc]
    val q = CorpusDedup.incrementalDedup(in.toDS())
      .writeStream.outputMode("update").format("noop").start()
    case class Obs(batch: Int, rowsTotal: Long, mb: Double, batchMs: Long)
    val obs = scala.collection.mutable.ArrayBuffer.empty[Obs]
    try {
      (0 until batches).foreach { b =>
        in.addData((0 until rows).map(i => doc(b, i, rows)))
        q.processAllAvailable()
        if (b % 25 == 0 || b == batches - 1) {
          val st = q.lastProgress.stateOperators.headOption
          val o = Obs(b, st.map(_.numRowsTotal).getOrElse(-1L),
            st.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
            q.lastProgress.batchDuration)
          obs += o
          println(f"STATESCALE batch=$b rows=${o.rowsTotal} mb=${o.mb}%.1f " +
            s"batchMs=${o.batchMs}")
        }
      }
    } finally q.stop()
    def slope(a: Obs, z: Obs): Double =
      (z.rowsTotal - a.rowsTotal).toDouble / math.max(1, z.batch - a.batch)
    val headSlope = slope(obs.head, obs(obs.length / 10))
    val tailSlope = slope(obs(obs.length - 1 - obs.length / 10), obs.last)
    def fmt(v: Double): String =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val load1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val line = s"""{"metric":"stream_statescale","batches":$batches,""" +
      s""""docs":${batches.toLong * rows},""" +
      s""""load1m_start":${fmt(load1mStart)},"load1m":${fmt(load1m)},""" +
      s""""steal_pct":${fmt(stealPct())},""" +
      s""""canary_ms_end":${fmt(HostStat.canaryMs())},""" +
      s""""state_rows_last":${obs.last.rowsTotal},""" +
      s""""state_mb_last":${fmt(obs.last.mb)},""" +
      s""""rows_slope_first_decile":${fmt(headSlope)},""" +
      s""""rows_slope_last_decile":${fmt(tailSlope)},""" +
      s""""batch_ms_first":${obs.head.batchMs},""" +
      s""""batch_ms_last":${obs.last.batchMs}}"""
    println(line)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  /** `--ttlrecall`: the MEASURED cost curve of [[CorpusDedup.incrementalDedupTtl]]'s
    * state/recall trade (r13 verdict item 7). The TTL contract trades state
    * for duplicate LEAKAGE: a re-arrival of known content past the horizon
    * is re-kept as a fresh keeper. This run quantifies it on a synthetic
    * stream with PLANTED re-arrival gaps, so the SCALE.md contract row
    * carries a curve, not a qualitative trade.
    *
    * Corpus: `rows` docs per batch, all stamped the same event time
    * t0 + b*batchMs. Per batch, 25 docs each are exact copies of content
    * ORIGINATED `g` batches earlier for g in {1, 5, 20, 50} (each original
    * is copied exactly once, so no refresh chains confound the gap), 5 docs
    * are copies of one batch-0 "hot" content (re-arriving EVERY batch — the
    * LRU-refresh path: each match refreshes the keeper's last-seen, so hot
    * content stays deduped under any horizon wider than one batch), and the
    * rest are unique filler. Content uniqueness rides on docText ids that
    * are multiples of 20 (docText only plants dups at ids 19/99 mod 20/100).
    *
    * The mechanism under test (predictable, then verified by measurement):
    * a gap-g copy finds its keeper iff the keeper entry survived BOTH
    * eviction mechanisms at probe time. The entry filter drops it when
    * last_ms + horizon <= watermark, and the watermark itself lags max
    * event time by the SAME horizon (withWatermark(ts, horizon)), so the
    * EFFECTIVE retention is ~2x horizon: dedup iff (g-1)*batchMs <
    * 2*horizonMs. The run emits per-(horizon, gap) dedup rates + final
    * state rows, which should show exactly that step curve — and the
    * state-rows column falling with the horizon is the other side of the
    * trade. */
  private def ttlRecallRun(spark: SparkSession): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val batchMs = 60000L
    val t0 = 1704067200000L
    val rows = 500
    val batches = sys.env.getOrElse("SPARK_GRAFT_TTLRECALL_BATCHES", "120").toInt
    val gaps = Seq(1, 5, 20, 50)
    val perGap = 25
    val hotN = 5
    // slots [0, 100): gap copies; [100, 200): originals later copied;
    // [200, 205): hot copies; rest unique filler. Content key k -> docText(20k).
    def contentKey(b: Int, slot: Int): Long = b.toLong * rows + slot
    def text(b: Int, slot: Int): String = {
      val gi = slot / perGap
      if (slot < 100 && b - gaps(gi) >= 0)
        ScaleRehearsal.docText(20L * contentKey(b - gaps(gi), 100 + slot))
      else if (slot >= 200 && slot < 200 + hotN && b > 0)
        ScaleRehearsal.docText(20L * contentKey(0, 200))
      else ScaleRehearsal.docText(20L * contentKey(b, slot))
    }
    def docId(b: Int, slot: Int): Long = b.toLong * 1000 + slot
    def isGapCopy(b: Int, slot: Int): Boolean =
      slot < 100 && b - gaps(slot / perGap) >= 0
    def isHotCopy(b: Int, slot: Int): Boolean =
      slot >= 200 && slot < 200 + hotN && b > 0
    val horizonsMin = sys.env.getOrElse("SPARK_GRAFT_TTLRECALL_HORIZONS", "2,12,60")
      .split(',').map(_.trim.toInt).toSeq
    val perHorizon = horizonsMin.map { hMin =>
      val horizonMs = hMin * 60000L
      val in = MemoryStream[CorpusDedup.TimedDoc]
      val name = s"ttlrecall_$hMin"
      val q = CorpusDedup.incrementalDedupTtl(in.toDS(), horizonMs)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      val stateRows = try {
        (0 until batches).foreach { b =>
          val ts = new java.sql.Timestamp(t0 + b * batchMs)
          in.addData((0 until rows).map(slot =>
            CorpusDedup.TimedDoc(docId(b, slot), text(b, slot), ts)))
          q.processAllAvailable()
        }
        q.lastProgress.stateOperators.headOption
          .map(_.numRowsTotal).getOrElse(-1L)
      } finally q.stop()
      val verdicts = CorpusDedup.reducePerDoc(spark.table(name))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // per-gap and hot dedup rates + keeper-identity sanity
      val gapStats = gaps.zipWithIndex.map { case (g, gi) =>
        val copies = for {
          b <- 0 until batches; slot <- gi * perGap until (gi + 1) * perGap
          if isGapCopy(b, slot)
        } yield (b, slot)
        val n = copies.size
        val dedup = copies.count { case (b, slot) =>
          verdicts.getOrElse(docId(b, slot), -1L) >= 0 }
        val wrongKeeper = copies.count { case (b, slot) =>
          val v = verdicts.getOrElse(docId(b, slot), -1L)
          v >= 0 && v != docId(b - gaps(gi), 100 + slot) }
        (g, n, dedup, wrongKeeper)
      }
      val hotCopies = for {
        b <- 1 until batches; slot <- 200 until 200 + hotN
      } yield (b, slot)
      val hotDedup = hotCopies.count { case (b, slot) =>
        verdicts.getOrElse(docId(b, slot), -1L) >= 0 }
      (hMin, stateRows, gapStats, hotCopies.size, hotDedup)
    }
    def fmt(v: Double): String =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val load1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val hJson = perHorizon.map { case (hMin, st, gapStats, hotN2, hotD) =>
      val gapsJson = gapStats.map { case (g, n, d, wrong) =>
        s""""$g":{"n":$n,"dedup":$d,"rate":${fmt(d.toDouble / math.max(1, n))},"wrong_keeper":$wrong}"""
      }.mkString("{", ",", "}")
      s"""{"horizon_min":$hMin,"state_rows_final":$st,"gap_dedup":$gapsJson,""" +
        s""""hot_n":$hotN2,"hot_dedup":$hotD,""" +
        s""""hot_rate":${fmt(hotD.toDouble / math.max(1, hotN2))}}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"stream_ttlrecall","batches":$batches,""" +
      s""""batch_ms":$batchMs,"rows_per_batch":$rows,""" +
      s""""load1m_start":${fmt(load1mStart)},"load1m":${fmt(load1m)},""" +
      s""""steal_pct":${fmt(stealPct())},""" +
      s""""canary_ms_end":${fmt(HostStat.canaryMs())},""" +
      s""""horizons":$hJson}"""
    println(line)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  /** `--ttlstate`: the TTL horizon's STATE CEILING vs arrival rate (r14
    * verdict item 8). The recall curve fixed leakage; the remaining open
    * number was state ROWS at corpus-scale arrival rates — the 394k-row
    * 60-min ttlrecall cell was measured at a synthetic 500 docs/batch.
    * This soak ladders the per-batch row rate 10x and 50x (all-UNIQUE
    * content — every doc is kept, the worst case for state) at a fixed
    * horizon and measures the plateau: state rows and bytes at mid-run and
    * end, plus throughput. The expected (then verified) law: retention is
    * ~2x horizon (entry filter at last_ms + horizon <= watermark, and the
    * watermark itself lags by horizon), so
    *   state_rows_plateau ~= rows_per_minute * 2 * horizon_min * bands
    * with bands = the LSH band count (state lives per band bucket). The
    * measured rows-per-(doc/min·horizon-min) slope is the GB-per-horizon
    * sizing rule for SCALE.md. */
  private def ttlStateRun(spark: SparkSession): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val batchMs = 60000L
    val t0 = 1704067200000L
    val horizonMin = sys.env.getOrElse("SPARK_GRAFT_TTLSTATE_HORIZON", "12").toInt
    val rates = sys.env.getOrElse("SPARK_GRAFT_TTLSTATE_RATES", "500,5000,25000")
      .split(',').map(_.trim.toInt).toSeq
    val batches = sys.env.getOrElse("SPARK_GRAFT_TTLSTATE_BATCHES", "40").toInt
    val cells = rates.zipWithIndex.map { case (rate, ci) =>
      val in = MemoryStream[CorpusDedup.TimedDoc]
      val name = s"ttlstate_$rate"
      val q = CorpusDedup.incrementalDedupTtl(in.toDS(), horizonMin * 60000L)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        val cellBase = (ci + 1).toLong * 1000000000L
        var midRows = -1L
        val tStart = System.nanoTime()
        (0 until batches).foreach { b =>
          val ts = new java.sql.Timestamp(t0 + b * batchMs)
          in.addData((0 until rate).map { i =>
            val k = cellBase + b.toLong * rate + i
            CorpusDedup.TimedDoc(k, ScaleRehearsal.docText(20L * k), ts)
          })
          q.processAllAvailable()
          if (b == batches / 2)
            midRows = q.lastProgress.stateOperators.headOption
              .map(_.numRowsTotal).getOrElse(-1L)
        }
        val wall = (System.nanoTime() - tStart) / 1e9
        val so = q.lastProgress.stateOperators.headOption
        (rate, midRows, so.map(_.numRowsTotal).getOrElse(-1L),
          so.map(_.memoryUsedBytes).getOrElse(-1L), wall)
      } finally q.stop()
    }
    def fmt(v: Double): String =
      BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
    val load1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val cellsJson = cells.map { case (rate, mid, fin, mem, wall) =>
      s"""{"rows_per_batch":$rate,"state_rows_mid":$mid,""" +
        s""""state_rows_final":$fin,"state_bytes":$mem,""" +
        s""""wall_sec":${fmt(wall)},""" +
        s""""rows_per_sec":${fmt(batches.toLong * rate / wall)}}"""
    }.mkString("[", ",", "]")
    val line = s"""{"metric":"stream_ttlstate","horizon_min":$horizonMin,""" +
      s""""batches":$batches,"batch_ms":$batchMs,""" +
      s""""load1m_start":${fmt(load1mStart)},"load1m":${fmt(load1m)},""" +
      s""""steal_pct":${fmt(stealPct())},""" +
      s""""canary_ms_end":${fmt(HostStat.canaryMs())},""" +
      s""""cells":$cellsJson}"""
    println(line)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
  }

  /** Ambient host load BEFORE this JVM contributes its own — captured at
    * main() entry, exactly the batch Bench's r11 discipline: the end-of-run
    * load1m mostly measures the bench itself on local[32], so the START
    * value is what adjudicates whether the host was idle (the r11 verdict's
    * "What's wrong" #1: BENCH_STREAMING carried load1m 27.7 with no way to
    * tell contention discount from self-load). */
  private var load1mStart: Double = -1.0
  private var cpuStart: (Long, Long) = (-1L, -1L)

  /** Steal share since main() started — stamped into every emitted line
    * so a co-tenant discount is visible (r16; HostStat scaladoc). */
  private def stealPct(): Double =
    HostStat.stealPct(cpuStart, HostStat.cpuJiffies())

  def main(args: Array[String]): Unit = {
    load1mStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    cpuStart = HostStat.cpuJiffies()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Graft.session()
    // a runtime SQL conf: read when each streaming query starts
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.sparkContext.setLogLevel("WARN")
    if (args.contains("--plateau")) {
      plateauRun(spark)
      spark.stop()
      return
    }
    if (args.contains("--soak")) {
      soakRun(spark)
      spark.stop()
      return
    }
    if (args.contains("--statescale")) {
      stateScaleRun(spark)
      spark.stop()
      return
    }
    if (args.contains("--ttlrecall")) {
      ttlRecallRun(spark)
      spark.stop()
      return
    }
    if (args.contains("--ttlstate")) {
      ttlStateRun(spark)
      spark.stop()
      return
    }
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
        "append", b => { in.addData(lines(b)); () })
    }

    // --- corpus gates + dedup --------------------------------------------
    val docsRows = 2000
    def docBatch(in: MemoryStream[CorpusDedup.StreamDoc])(b: Int): Unit = {
      in.addData((0 until docsRows).map(i => doc(b, i, docsRows))); ()
    }
    {
      val in = MemoryStream[CorpusDedup.StreamDoc]
      results += run("incremental_dedup",
        CorpusDedup.incrementalDedup(in.toDS()), "update", docBatch(in))
    }
    {
      val in = MemoryStream[CorpusDedup.StreamDoc]
      results += run("exact_dedup",
        CorpusDedup.exactDedupStream(in.toDS()), "update", docBatch(in))
    }
    {
      val in = MemoryStream[CorpusDedup.StreamDoc]
      results += run("paragraph_dedup",
        CorpusDedup.paragraphDedupStream(in.toDS()), "update", docBatch(in))
    }
    {
      val in = MemoryStream[CorpusDedup.StreamDoc]
      val benchmark = graft.sources.Tables.documents(spark, sfDir).limit(500)
      results += run("decontamination_gate",
        CorpusIngest.decontaminationGate(in.toDS(), benchmark).toDF(),
        "append", docBatch(in))
    }
    {
      val in = MemoryStream[CorpusDedup.StreamDoc]
      val reference = graft.sources.Tables.documents(spark, sfDir)
      results += run("lm_quality_gate",
        CorpusIngest.lmQualityGate(in.toDS(), reference, minScore = 0.0).toDF(),
        "append", docBatch(in))
    }
    {
      val in = MemoryStream[CorpusDedup.StreamDoc]
      val benchmark = graft.sources.Tables.documents(spark, sfDir).limit(500)
      val profile = (0 until 256).map(i => f"$i%02x" -> (i * 37L)).toMap
      results += run("ingest_curated",
        CorpusIngest.ingestCurated(in.toDS(), benchmark, profile, 0L),
        "update", docBatch(in))
    }
    {
      val in = MemoryStream[(Long, Array[Float])]
      val watch = graft.sources.Tables.embeddings(spark, sfDir).limit(200)
      def vec(id: Long): Array[Float] = {
        var x = id * 6364136223846793005L + 1442695040888963407L
        Array.tabulate(64) { _ =>
          x = x * 6364136223846793005L + 1442695040888963407L
          (math.floorMod(x, 2001) - 1000) / 1000.0f
        }
      }
      results += run("semantic_gate",
        CorpusIngest.semanticDecontaminationGate(
          in.toDF().toDF("doc_id", "embedding"), watch, 0.9),
        "append", b => {
          in.addData((0 until docsRows).map(i =>
            (b.toLong * docsRows + i, vec(b.toLong * docsRows + i)))); ()
        })
    }

    // --- AIS state machines ----------------------------------------------
    val posRows = 10000
    def posBatch(in: MemoryStream[ais.PositionEvent], nShips: Int = 500,
        boxDeg: Int = 20)(b: Int): Unit = {
      in.addData((0 until posRows).map(i =>
        position(b, i, posRows, nShips, boxDeg, 600L))); ()
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
          }); ()
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
          }); ()
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
      s""""steal_pct":${fmt(stealPct())},""" +
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
