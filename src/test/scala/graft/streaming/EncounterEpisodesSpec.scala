package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.streaming.EncounterEpisodes.{Detection, Episode}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming episode state machine: gap-close semantics on a
  * hand-built sequence, then a batch-vs-stream DIFFERENTIAL — a
  * bounded time-ordered replay of the sf0.001 close-pair detections must
  * reproduce the batch `geo_encounter_episodes` rows exactly. */
class EncounterEpisodesSpec extends SparkSpec {

  private def ts(hours: Double): Timestamp =
    new Timestamp((hours * EncounterEpisodes.binMs).toLong)

  private def episodeSet(rows: Seq[Episode]): Set[(Long, Long, Long, Long, Long, Long, Double)] =
    rows.map(e => (e.ship_a, e.ship_b, e.hb_start, e.hb_end,
      e.n_hours, e.n_close, e.min_km)).toSet

  test("gap-close semantics: in-band gap closes an episode; event-time " +
      "timeout flushes the silent pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Detection]
    val q = EncounterEpisodes.episodes(in.toDS(), watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("ep_t1").start()
    try {
      // pair (1,2): bins 10,10,11 then a jump to 14 (gap) then silence
      in.addData(
        Detection(1, 2, ts(10.1), 5.0), Detection(1, 2, ts(10.6), 3.0),
        Detection(1, 2, ts(11.2), 9.0))
      q.processAllAvailable()
      in.addData(Detection(1, 2, ts(14.5), 2.5))
      q.processAllAvailable()
      // watermark advance on an unrelated pair, twice (timeout fires one
      // batch after the watermark passes bin hbEnd+2)
      in.addData(Detection(8, 9, ts(100), 1.0))
      q.processAllAvailable()
      in.addData(Detection(8, 9, ts(101), 1.0))
      q.processAllAvailable()
      val got = spark.table("ep_t1").as[Episode].collect().toSeq
        .filter(e => e.ship_a == 1L)
      assert(episodeSet(got) == Set(
        (1L, 2L, 10L, 11L, 2L, 3L, 3.0),  // closed in-band by the jump
        (1L, 2L, 14L, 14L, 1L, 1L, 2.5)), // closed by event-time timeout
        got.toString)
    } finally q.stop()
  }

  test("CONTRACT VIOLATION documented: a detection BEYOND the watermark " +
      "is dropped before the state function (batch would emit its episode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Detection]
    val q = EncounterEpisodes.episodes(in.toDS(), watermark = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("ep_drop").start()
    try {
      // a hot pair advances the GLOBAL watermark to ~bin 199
      in.addData(Detection(8, 9, ts(200), 1.0))
      q.processAllAvailable()
      // quiet pair (1,2)'s only detection is at bin 10 — far below the
      // watermark other pairs advanced. flatMapGroupsWithState with
      // EventTimeTimeout filters it BEFORE the state function runs; the
      // streaming answer legitimately diverges from batch here (batch
      // would emit a bin-10 episode). This is the watermark contract,
      // not a bug — the run records it in numRowsDroppedByWatermark,
      // which StreamBench surfaces as dropped_by_watermark (ADVICE r15).
      in.addData(Detection(1, 2, ts(10.5), 5.0))
      q.processAllAvailable()
      in.addData(Detection(8, 9, ts(203), 1.0))
      q.processAllAvailable()
      in.addData(Detection(8, 9, ts(206), 1.0))
      q.processAllAvailable()
      val got = spark.table("ep_drop").as[Episode].collect().toSeq
        .filter(_.ship_a == 1L)
      assert(got.isEmpty,
        s"beyond-watermark detection must be dropped, got $got")
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L,
        s"the drop must be visible in numRowsDroppedByWatermark: $dropped")
    } finally q.stop()
  }

  test("late earlier-bin detection within the watermark SPLITS the gap " +
      "(the r15 min(hbStart,dhb) bridge bug)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Detection]
    val q = EncounterEpisodes.episodes(in.toDS(), watermark = "3 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ep_t3").start()
    try {
      // bin 12 arrives FIRST; bin 10 arrives one batch later but inside
      // the 3h watermark (wm after batch1 = 12.2h - 3h = 9.2h < 10.5h).
      // Bin 11 is empty, so the batch query yields TWO episodes; folding
      // on arrival would bridge them into one (10..12).
      in.addData(Detection(1, 2, ts(12.2), 4.0))
      q.processAllAvailable()
      in.addData(Detection(1, 2, ts(10.5), 7.0))
      q.processAllAvailable()
      in.addData(Detection(8, 9, ts(50), 1.0))
      q.processAllAvailable()
      in.addData(Detection(8, 9, ts(51), 1.0))
      q.processAllAvailable()
      val got = spark.table("ep_t3").as[Episode].collect().toSeq
        .filter(_.ship_a == 1L)
      assert(episodeSet(got) == Set(
        (1L, 2L, 10L, 10L, 1L, 1L, 7.0),
        (1L, 2L, 12L, 12L, 1L, 1L, 4.0)), got.toString)
    } finally q.stop()
  }

  test("late interior bin within the watermark: one episode with the " +
      "full n_hours (the r15 undercount bug)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Detection]
    val q = EncounterEpisodes.episodes(in.toDS(), watermark = "3 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ep_t4").start()
    try {
      // bins 10 and 12 first (a would-be gap), then the bridging bin 11
      // arrives a batch late but in-watermark: batch semantics = ONE
      // episode spanning 10..12 with n_hours = 3
      in.addData(Detection(1, 2, ts(10.2), 5.0), Detection(1, 2, ts(12.4), 6.0))
      q.processAllAvailable()
      in.addData(Detection(1, 2, ts(11.5), 2.0))
      q.processAllAvailable()
      in.addData(Detection(8, 9, ts(50), 1.0))
      q.processAllAvailable()
      in.addData(Detection(8, 9, ts(51), 1.0))
      q.processAllAvailable()
      val got = spark.table("ep_t4").as[Episode].collect().toSeq
        .filter(_.ship_a == 1L)
      assert(episodeSet(got) == Set(
        (1L, 2L, 10L, 12L, 3L, 3L, 2.0)), got.toString)
    } finally q.stop()
  }

  test("differential vs batch on a fully SHUFFLED cross-batch replay " +
      "(sf0.001, watermark wider than the span)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val positions = graft.sources.Tables.events(spark, sf("sf0.001")).select(
      col("user_id").as("ship"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      ((col("event_id") % 1780) / 10.0 - 89.0).as("lat"),
      ((col("event_id") % 3580) / 10.0 - 179.0).as("lon"))
    val want = graft.operators.Geo.encounterEpisodes(positions)
      .select(col("ship_a"), col("ship_b"), col("hb_start"), col("hb_end"),
        col("n_hours"), col("n_close"), col("min_km"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    assert(want.nonEmpty)
    val dets = EncounterEpisodes.detectionsFromPositions(positions).collect()
    // watermark wider than the whole replay span: EVERY arrival order is
    // watermark-legal, so a seeded full shuffle across 5 batches is the
    // adversarial case (maximal cross-batch disorder, zero drops)
    val tsMin = dets.map(_.ts.getTime).min
    val tsMax = dets.map(_.ts.getTime).max
    val delayHours = (tsMax - tsMin) / EncounterEpisodes.binMs + 4
    val shuffled = new scala.util.Random(42).shuffle(dets.toSeq)
    val in = MemoryStream[Detection]
    val q = EncounterEpisodes.episodes(in.toDS(),
        watermark = s"$delayHours hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("ep_t5").start()
    try {
      shuffled.grouped(math.max(1, (shuffled.length + 4) / 5)).foreach { c =>
        in.addData(c)
        q.processAllAvailable()
      }
      // sentinels: push the watermark (= max event - delay) past every
      // pair's close instant, then trigger the timeout sweep
      val far = tsMax + delayHours * EncounterEpisodes.binMs +
        72L * EncounterEpisodes.binMs
      in.addData(Detection(999999998L, 999999999L, new Timestamp(far), 1.0))
      q.processAllAvailable()
      in.addData(Detection(999999998L, 999999999L,
        new Timestamp(far + 1000), 1.0))
      q.processAllAvailable()
      val got = spark.table("ep_t5").as[Episode].collect().toSeq
        .filter(_.ship_a != 999999998L)
      assert(episodeSet(got) == want,
        s"streaming=${got.size} batch=${want.size} " +
          s"missing=${(want -- episodeSet(got)).take(3)} " +
          s"extra=${(episodeSet(got) -- want).take(3)}")
    } finally q.stop()
  }

  test("differential vs batch geo_encounter_episodes on a bounded " +
      "time-ordered replay (sf0.001)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val positions = graft.sources.Tables.events(spark, sf("sf0.001")).select(
      col("user_id").as("ship"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      ((col("event_id") % 1780) / 10.0 - 89.0).as("lat"),
      ((col("event_id") % 3580) / 10.0 - 179.0).as("lon"))
    // the batch answer, minus the per-pair episode index
    val want = graft.operators.Geo.encounterEpisodes(positions)
      .select(col("ship_a"), col("ship_b"), col("hb_start"), col("hb_end"),
        col("n_hours"), col("n_close"), col("min_km"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    assert(want.nonEmpty)
    // the same detections, replayed in event-time order in 4 batches
    val dets = EncounterEpisodes.detectionsFromPositions(positions)
      .collect().sortBy(_.ts.getTime)
    val in = MemoryStream[Detection]
    val q = EncounterEpisodes.episodes(in.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("ep_t2").start()
    try {
      dets.grouped(math.max(1, (dets.length + 3) / 4)).foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // two sentinel batches on a dummy pair far in the future: the first
      // advances the watermark past every pair's close instant, the second
      // triggers the timeout sweep
      val far = dets.last.ts.getTime + 30L * 24 * EncounterEpisodes.binMs
      in.addData(Detection(999999998L, 999999999L, new Timestamp(far), 1.0))
      q.processAllAvailable()
      in.addData(Detection(999999998L, 999999999L, new Timestamp(far + 1000), 1.0))
      q.processAllAvailable()
      val got = spark.table("ep_t2").as[Episode].collect().toSeq
        .filter(_.ship_a != 999999998L)
      assert(episodeSet(got) == want,
        s"streaming=${got.size} batch=${want.size} " +
          s"missing=${(want -- episodeSet(got)).take(3)} " +
          s"extra=${(episodeSet(got) -- want).take(3)}")
    } finally q.stop()
  }
}
