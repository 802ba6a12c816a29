package graft.streaming

import graft.SparkSpec
import graft.streaming.CorpusDedup.StreamDoc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class CorpusDedupSpec extends SparkSpec {

  private def mkDoc(id: Long, seed: String): StreamDoc =
    StreamDoc(id, (1 to 40).map(i => s"$seed$i").mkString(" "))

  /** `base` with a few tokens perturbed — above the 0.8 Jaccard bar. */
  private def nearCopy(id: Long, seed: String): StreamDoc =
    StreamDoc(id, (1 to 40).map(i => if (i == 39) "x" else s"$seed$i").mkString(" "))

  test("signature/band geometry: near-dups collide, distinct docs do not") {
    val a = CorpusDedup.signature(mkDoc(1, "tok").text)
    val b = CorpusDedup.signature(nearCopy(2, "tok").text)
    val c = CorpusDedup.signature(mkDoc(3, "other").text)
    assert(CorpusDedup.estJaccard(a, b) >= CorpusDedup.Threshold)
    assert(CorpusDedup.estJaccard(a, c) < 0.2)
    assert(CorpusDedup.bandKeys(a).intersect(CorpusDedup.bandKeys(b)).nonEmpty)
    assert(CorpusDedup.bandKeys(a).intersect(CorpusDedup.bandKeys(c)).isEmpty)
  }

  test("incremental dedup flags near-dups against PRIOR batches via state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = CorpusDedup.incrementalDedup(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("corpus_dedup_t1").start()
    try {
      input.addData(mkDoc(10, "alpha"), mkDoc(20, "beta"))
      q.processAllAvailable()
      // batch 2: a near-copy of doc 10, an exact copy of doc 20, a fresh doc
      input.addData(nearCopy(11, "alpha"), mkDoc(21, "beta"), mkDoc(30, "gamma"))
      q.processAllAvailable()
      val out = spark.table("corpus_dedup_t1").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out(10L) == -1L && out(20L) == -1L && out(30L) == -1L)
      assert(out(11L) == 10L, s"near-copy must point at its keeper: $out")
      assert(out(21L) == 20L, s"exact copy must point at its keeper: $out")
    } finally q.stop()
  }

  test("rolling-horizon dedup: dup within the horizon points at its keeper; " +
      "the same content past the horizon is a FRESH keeper (state evicted)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def timed(d: StreamDoc, sec: Long) =
      CorpusDedup.TimedDoc(d.doc_id, d.text, at(sec))
    val input = MemoryStream[CorpusDedup.TimedDoc]
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = CorpusDedup.incrementalDedupTtl(input.toDS(), horizonMs = 10000L)
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        CorpusDedup.reducePerDoc(df).collect()
          .foreach(r => out.put(r.getLong(0), r.getLong(1)))
      }.start()
    try {
      input.addData(timed(mkDoc(10, "alpha"), 10))
      q.processAllAvailable()
      // within the 10 s horizon: the near-copy resolves to keeper 10 (and
      // refreshes 10's last-seen to t=15)
      input.addData(timed(nearCopy(11, "alpha"), 15))
      q.processAllAvailable()
      // an unrelated doc far in the future advances the watermark to 90 s —
      // 65 s past keeper 10's refreshed expiry (15 + 10)
      input.addData(timed(mkDoc(30, "gamma"), 100))
      q.processAllAvailable()
      // same alpha content at t = 110: the expired entry must NOT match —
      // the entry-level filter fires even though the bucket receives data
      // (group timeouts alone never fire for hot buckets)
      input.addData(timed(nearCopy(12, "alpha"), 110))
      q.processAllAvailable()
      assert(out.get(10L) == -1L && out.get(30L) == -1L, out.toString)
      assert(out.get(11L) == 10L, s"within-horizon dup must match: $out")
      assert(out.get(12L) == -1L,
        s"past-horizon content must be a fresh keeper: $out")
    } finally q.stop()
  }

  test("intra-batch duplicates resolve deterministically to the lowest id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = CorpusDedup.incrementalDedup(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("corpus_dedup_t2").start()
    try {
      input.addData(mkDoc(7, "delta"), nearCopy(5, "delta"), mkDoc(9, "delta"))
      q.processAllAvailable()
      val out = spark.table("corpus_dedup_t2").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out(5L) == -1L, s"lowest id is the keeper: $out")
      assert(out(7L) == 5L && out(9L) == 5L, out.toString)
    } finally q.stop()
  }

  test("band-bucket state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdedup").toString
    val input = MemoryStream[StreamDoc]
    // memory sinks can't recover a checkpoint; foreachBatch can
    val out = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    def start() = CorpusDedup.incrementalDedup(input.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => out.put(r.getLong(0), r.getLong(1)))
      }.start()
    val q1 = start()
    input.addData(mkDoc(100, "epsilon"))
    q1.processAllAvailable()
    q1.stop()
    // a new query from the SAME checkpoint must still know doc 100
    val q2 = start()
    try {
      input.addData(nearCopy(101, "epsilon"))
      q2.processAllAvailable()
      assert(out.get(101L) == 100L,
        s"restarted query lost pre-restart dedup state: $out")
    } finally q2.stop()
  }

  test("differential: streaming dedup agrees with the batch MinHash pair set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch truth: exact-verified near-dup pairs over the real corpus
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val pairs = graft.operators.Dedup.minHashDedup(
      docs, "doc_id", "text", n = 3, numHashes = 32, bands = 8, threshold = 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus must contain near-dup pairs")
    val input = MemoryStream[StreamDoc]
    val q = CorpusDedup.incrementalDedup(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("corpus_dedup_diff").start()
    try {
      val all = docs.select("doc_id", "text").collect()
        .map(r => StreamDoc(r.getLong(0), r.getString(1)))
        .sortBy(_.doc_id)
      input.addData(all.toIndexedSeq)
      q.processAllAvailable()
      val flags = spark.table("corpus_dedup_diff").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dupDocs = flags.filter(_._2 >= 0).keySet
      // completeness: the later doc of every true pair is flagged
      pairs.foreach { case (i, j) =>
        assert(dupDocs(math.max(i, j)),
          s"pair ($i,$j): later doc not flagged by the stream") }
      // soundness: every flagged doc appears in some true pair
      val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
      dupDocs.foreach { d =>
        assert(inPairs(d), s"stream flagged $d which is in no exact pair") }
    } finally q.stop()
  }

  test("composed ingest: junk never reaches dedup state, clean near-dups dedupe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = CorpusIngest.ingest(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("corpus_ingest_t1").start()
    try {
      // junk: under the token floor; clean: a real doc
      input.addData(StreamDoc(1, "too short"), mkDoc(2, "zeta"))
      q.processAllAvailable()
      // junk near-copy (still junk), clean near-copy, fresh clean doc
      input.addData(StreamDoc(3, "too short"), nearCopy(4, "zeta"), mkDoc(5, "eta"))
      q.processAllAvailable()
      val out = spark.table("corpus_ingest_t1").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // junk docs produce no verdicts at all — filtered before any state
      assert(!out.contains(1L) && !out.contains(3L), out.toString)
      assert(out(2L) == -1L && out(5L) == -1L, out.toString)
      assert(out(4L) == 2L, s"clean near-dup must point at its keeper: $out")
    } finally q.stop()
  }

  test("decontamination gate: docs sharing a benchmark span are dropped " +
    "before any state; clean docs still dedupe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // benchmark corpus: one doc whose 8-token spans must not leak through
    val benchText = (1 to 20).map(i => s"bench$i").mkString(" ")
    val benchmark = Seq((100L, benchText)).toDF("doc_id", "text")
    // contaminated: embeds benchmark tokens 5..12 (an 8-token span) in a
    // longer clean carrier
    val contaminated = StreamDoc(7,
      (1 to 10).map(i => s"pre$i").mkString(" ") + " " +
        (5 to 12).map(i => s"bench$i").mkString(" ") + " " +
        (1 to 10).map(i => s"post$i").mkString(" "))
    val input = MemoryStream[StreamDoc]
    val q = CorpusIngest.ingestDecontaminated(input.toDS(), benchmark)
      .writeStream.outputMode("update")
      .format("memory").queryName("corpus_ingest_decon").start()
    try {
      input.addData(contaminated, mkDoc(8, "iota"))
      q.processAllAvailable()
      input.addData(nearCopy(9, "iota"))
      q.processAllAvailable()
      val out = spark.table("corpus_ingest_decon").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(!out.contains(7L), s"contaminated doc leaked through: $out")
      assert(out(8L) == -1L, out.toString)
      assert(out(9L) == 8L, s"clean near-dup must still dedupe: $out")
    } finally q.stop()
  }

  test("maxBucket caps state growth; over-cap docs pass through as keepers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    // cap of 0: the store branch can never fire, so every doc passes as a
    // keeper across batches — bounded state trades RECALL (missed dups),
    // never soundness (false dup flags) and never a crash
    val q = CorpusDedup.incrementalDedup(input.toDS(), maxBucket = 0)
      .writeStream.outputMode("update")
      .format("memory").queryName("corpus_dedup_cap").start()
    try {
      input.addData(mkDoc(1, "theta"))
      q.processAllAvailable()
      input.addData(nearCopy(3, "theta")) // real near-dup, but nothing stored
      q.processAllAvailable()
      val out = spark.table("corpus_dedup_cap").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out(1L) == -1L)
      assert(out(3L) == -1L,
        s"with zero stored state nothing may be flagged: $out")
    } finally q.stop()
  }

  test("exact streaming dedup keeps first writer per content hash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = CorpusDedup.exactDedupStream(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("corpus_dedup_t3").start()
    try {
      input.addData(StreamDoc(1, "same text"), StreamDoc(2, "same text"))
      q.processAllAvailable()
      input.addData(StreamDoc(3, "same text"), StreamDoc(4, "new text"))
      q.processAllAvailable()
      val ids = spark.table("corpus_dedup_t3").collect().map(_.getLong(0)).sorted
      assert(ids.length == 2 && ids.contains(4L), ids.mkString(","))
    } finally q.stop()
  }

  test("lm quality gate: in-domain text passes, gibberish is dropped, " +
      "batch scorer agrees") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference corpus: a repetitive domain where trigram probs are high
    val domain = (1 to 20).map(i => s"the ship sails the sea route $i")
    val reference = domain.toDF("text")
    val input = MemoryStream[StreamDoc]
    val gated = CorpusIngest.lmQualityGate(input.toDS(), reference,
      minScore = 0.3)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("lm_gate_t").start()
    try {
      input.addData(
        StreamDoc(1, "the ship sails the sea route 3"),     // in-domain
        StreamDoc(2, "zz qq ww ee rr tt yy uu"),            // unseen trigrams
        StreamDoc(3, "the ship sails the sea route 7"))     // in-domain
      q.processAllAvailable()
      val kept = spark.table("lm_gate_t").collect().map(_.getLong(0)).sorted
      assert(kept.toSeq == Seq(1L, 3L), kept.mkString(","))
    } finally q.stop()
  }

  test("lm quality gate: driver model is bounded by maxModelSize on an " +
      "oversized reference, and common-language verdicts are unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // "web-scale" stand-in: a long tail of unique junk trigrams around a
    // small common core — uncapped, the model would hold every unique trigram
    val core = (1 to 50).map(i => s"the ship sails the sea route $i")
    val tail = (1 to 2000).map(i => s"tail$i unique$i junk$i")
    val reference = (core ++ tail).toDF("text")

    val cap = 400
    val model = CorpusIngest.trigramModel(reference, cap)
    assert(model.size == cap) // bounded however big the reference is
    val uncapped = CorpusIngest.trigramModel(reference, Int.MaxValue)
    assert(uncapped.size > 2000) // the tail really was unbounded
    // kept trigrams carry the EXACT uncapped probability (full-corpus c2)
    model.foreach { case (g, p) => assert(uncapped(g) == p, g) }
    // the cap keeps the most frequent trigrams — the core survives
    assert(model.contains("the ship sails"))

    val input = MemoryStream[StreamDoc]
    val gated = CorpusIngest.lmQualityGate(input.toDS(), reference,
      minScore = 0.3, maxModelSize = cap)
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("lm_gate_capped_t").start()
    try {
      input.addData(
        StreamDoc(1, "the ship sails the sea route 9"), // common language
        StreamDoc(2, "tail77 unique77 junk77"),         // rare: capped out -> 0
        StreamDoc(3, "zz qq ww ee rr tt yy uu"))        // never seen
      q.processAllAvailable()
      val kept = spark.table("lm_gate_capped_t").collect().map(_.getLong(0))
      // same verdict as the uncapped gate gave in-domain text; rare/unseen drop
      assert(kept.toSeq == Seq(1L), kept.mkString(","))
    } finally q.stop()
  }
}

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

  test("semantic decontamination gate: near-watchlist embeddings drop, " +
      "orthogonal ones pass, and the stream holds no state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = 8
    def vec(hot: Int, v: Float): Seq[Float] =
      Seq.tabulate(dim)(i => if (i == hot) v else 0.0f)
    val watchlist = Seq((100L, vec(0, 1.0f)))
      .toDF("vec_id", "embedding")
    val input = MemoryStream[(Long, Seq[Float])]
    val stream = input.toDF().toDF("doc_id", "embedding")
    val q = CorpusIngest
      .semanticDecontaminationGate(stream, watchlist, minCos = 0.95)
      .select(col("doc_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_decon_t").start()
    try {
      input.addData(
        (1L, vec(0, 7.0f)),                          // cos = 1.0 -> dropped
        (2L, vec(1, 3.0f)),                          // orthogonal -> passes
        (3L, Seq.tabulate(dim)(i =>                  // cos ~ 0.995 -> dropped
          if (i == 0) 1.0f else if (i == 1) 0.1f else 0.0f)),
        (4L, vec(2, 1.0f)))                          // orthogonal -> passes
      q.processAllAvailable()
      val got = spark.table("sem_decon_t").collect()
        .map(_.getLong(0)).toSet
      assert(got == Set(2L, 4L), got)
      // the gate is a stateless broadcast probe: no stateful operator
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("semantic decontamination gate: zero-norm/degenerate embeddings " +
      "pass through and zero-norm watchlist rows match nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = 4
    def vec(hot: Int, v: Float): Seq[Float] =
      Seq.tabulate(dim)(i => if (i == hot) v else 0.0f)
    // one real watch vector + one zero-norm row that must be inert
    // (ADVICE r9: an unfiltered zero-norm vector put NaN in the predicate)
    val watchlist = Seq((1L, vec(0, 1.0f)), (2L, Seq.fill(dim)(0.0f)))
      .toDF("vec_id", "embedding")
    val input = MemoryStream[(Long, Seq[Float])]
    val stream = input.toDF().toDF("doc_id", "embedding")
    val q = CorpusIngest
      .semanticDecontaminationGate(stream, watchlist, minCos = 0.95)
      .select(col("doc_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sem_decon_degen_t").start()
    try {
      input.addData(
        (1L, vec(0, 2.0f)),        // matches the real watch vector -> dropped
        (2L, Seq.fill(dim)(0.0f)), // zero norm: directionless -> passes
        (3L, vec(1, 1.0f)))        // orthogonal -> passes
      q.processAllAvailable()
      val got = spark.table("sem_decon_degen_t").collect()
        .map(_.getLong(0)).toSet
      assert(got == Set(2L, 3L), got)
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

class CorpusRewriteSpec extends graft.SparkSpec {
  import graft.streaming.CorpusDedup.StreamDoc
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import org.apache.spark.sql.functions.col

  test("paragraph stream: a paragraph kept in batch 1 suppresses its copy " +
      "in batch 2; the copy's doc rewrites to its unique remainder") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pA = (1 to 16).map(i => s"a$i").mkString(" ")
    val pB = (1 to 16).map(i => s"b$i").mkString(" ")
    val pC = (1 to 16).map(i => s"c$i").mkString(" ")
    val input = MemoryStream[StreamDoc]
    val q = CorpusDedup.paragraphDedupStream(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("para_dedup_t1").start()
    try {
      input.addData(StreamDoc(1, s"$pA $pB"))
      q.processAllAvailable()
      input.addData(StreamDoc(2, s"$pB $pC"), StreamDoc(3, pC))
      q.processAllAvailable()
      val out = spark.table("para_dedup_t1").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      assert(out(1L) == ((2L, 2L, s"$pA $pB")))
      // pB was kept by doc 1 in the PRIOR batch -> state suppresses it here
      assert(out(2L) == ((2L, 1L, pC)))
      // pC first occurred in doc 2 of the SAME batch -> intra-batch
      // first-writer (lowest doc_id) wins, doc 3 empties
      assert(out(3L) == ((1L, 0L, "")))
    } finally q.stop()
  }

  test("paragraph stream equals the batch rewrite on the real corpus, " +
      "under an arbitrary batch split (differential)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("text")).as[StreamDoc]
      .collect().sortBy(_.doc_id)
    val want = graft.operators.Dedup.paragraphDedup(
        graft.sources.Tables.documents(spark, sf("sf0.001")), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val input = MemoryStream[StreamDoc]
    val q = CorpusDedup.paragraphDedupStream(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("para_dedup_t2").start()
    try {
      // batches must respect doc_id order (the stream's arrival order IS the
      // batch window's (doc_id, idx) order); split sizes are arbitrary
      docs.grouped(180).foreach { batch =>
        input.addData(batch.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.table("para_dedup_t2").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(got == want)
      assert(want.values.map(_._2).sum < want.values.map(_._1).sum) // real dups
    } finally q.stop()
  }

  test("dsir gate: stream scores equal batch weight_micro exactly, the " +
      "threshold filters, and the gate holds no streaming state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docsDf = graft.sources.Tables.documents(spark, sf("sf0.001")).cache()
    val profile = graft.operators.Curation.dsirProfile(docsDf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(profile.size <= 256)
    val want = graft.operators.Curation.dsirWeights(docsDf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val median = want.values.toSeq.sorted.apply(want.size / 2)
    val sample = docsDf.select(col("doc_id"), col("text"))
      .as[StreamDoc].collect().take(60)
    val input = MemoryStream[StreamDoc]
    val q = CorpusIngest.dsirGate(input.toDS(), profile, median)
      .writeStream.outputMode("append")
      .format("memory").queryName("dsir_gate_t").start()
    try {
      input.addData(sample.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_gate_t")
        .select(col("doc_id"), col("weight_micro")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = sample.filter(d => want(d.doc_id) >= median)
      assert(got.keySet == expected.map(_.doc_id).toSet)
      expected.foreach(d => assert(got(d.doc_id) == want(d.doc_id), s"doc ${d.doc_id}"))
      assert(q.lastProgress.stateOperators.isEmpty) // stateless by design
    } finally { q.stop(); docsDf.unpersist() }
  }

  test("paragraph stream state survives a checkpointed restart: a pre-" +
      "restart paragraph still suppresses its post-restart copy") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pA = (1 to 16).map(i => s"ra$i").mkString(" ")
    val pB = (1 to 16).map(i => s"rb$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdedup").toString
    val input = MemoryStream[StreamDoc]
    val out = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, String)]()
    def start() = CorpusDedup.paragraphDedupStream(input.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$tmp/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => out.put(r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getString(3))))
      }.start()
    val q1 = start()
    input.addData(StreamDoc(10, s"$pA $pB"))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      input.addData(StreamDoc(11, s"$pB x1"))
      q2.processAllAvailable()
      assert(out.get(10L) == ((2L, 2L, s"$pA $pB")), out.toString)
      // pB was seen before the restart -> suppressed; only "x1" survives
      assert(out.get(11L) == ((2L, 1L, "x1")), out.toString)
    } finally q2.stop()
  }

  test("curated ingest: each gate drops its own failure mode before dedup " +
      "state; survivors still dedupe against prior batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def longDoc(seed: String) = (1 to 40).map(i => s"$seed$i").mkString(" ")
    // profile trained where 'en' == docs containing target-domain bigrams
    val reference = Seq(
      (100L, "en", longDoc("dom")),
      (101L, "xx", longDoc("off"))).toDF("doc_id", "lang", "text")
    val profile = graft.operators.Curation.dsirProfile(reference)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val benchmark = Seq((900L, longDoc("bench"))).toDF("doc_id", "text")
    val input = MemoryStream[StreamDoc]
    val q = CorpusIngest.ingestCurated(input.toDS(), benchmark, profile,
        minWeightMicro = 0L)
      .writeStream.outputMode("update")
      .format("memory").queryName("curated_ingest_t").start()
    try {
      input.addData(
        StreamDoc(1, longDoc("dom")),          // clean, on-target -> keeper
        StreamDoc(2, longDoc("bench")),        // contaminated -> dropped
        StreamDoc(3, "a b"),                   // too short -> quality gate
        StreamDoc(4, longDoc("off")))          // off-target -> dsir gate
      q.processAllAvailable()
      // batch 2: near-copy of the surviving keeper must still dedupe
      val toks = longDoc("dom").split(" "); toks(39) = "x"
      input.addData(StreamDoc(5, toks.mkString(" ")))
      q.processAllAvailable()
      val out = spark.table("curated_ingest_t").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.keySet == Set(1L, 5L), out.toString) // 2,3,4 left no row
      assert(out(1L) == -1L && out(5L) == 1L, out.toString)
    } finally q.stop()
  }
}
