package graft.streaming

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.Connection
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import graft.SparkSpec
import graft.ais._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, MicroBatchExecution}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import perfbench.Landing

/** Crash recovery mid-batch, on code the AIS deployment runs.
  *
  * The landing test drives the reference path — NMEA lines → decode →
  * Avro wire round trip → weather → `JdbcSink.positionsWriter` → Derby —
  * and kills one batch after some of its partitions have committed and
  * before the offset commit. The restart replays that batch from the
  * checkpoint under a different partition count, so the per-partition
  * deletes of the replay do not cover every slice the crashed attempt
  * committed: only the sink's whole-batch delete keeps the landed table
  * equal to an uninterrupted twin's. Replayable source + idempotent sink is
  * the exactly-once recipe of Structured Streaming (SIGMOD 2018).
  *
  * The ship-activity test crashes a `transformWithState` stream on RocksDB
  * after its state writes and half its output, and checks that the replay
  * reloads state at the last committed batch: no ship is counted twice. */
class CrashRecoverySpec extends SparkSpec {

  /** Feeds `batches` one micro-batch at a time through the query that
    * `start(restarted)` builds. When a batch kills the query, restarts it
    * once from its checkpoint, and the failed batch replays. Returns whether
    * the query was restarted. */
  private def feed[T](in: MemoryStream[T], batches: Seq[Seq[T]],
      start: Boolean => StreamingQuery): Boolean = {
    var q = start(false)
    var restarted = false
    try {
      batches.foreach { b =>
        in.addData(b)
        try q.processAllAvailable()
        catch {
          case _: StreamingQueryException =>
            assert(!restarted, "the query crashed twice")
            restarted = true
            q = start(true) // recover from the checkpoint; the failed batch replays
            q.processAllAvailable()
        }
      }
    } finally q.stop()
    restarted
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  // ------------------------------------------------------ AIS landing path

  private val Ships = 40
  private val LandingBatches = 4
  private val CrashBatch = 2L

  /** Batch `b`'s NMEA lines: five class-A reports per ship, moving north. */
  private def nmeaBatch(b: Int): Seq[String] =
    for (r <- 0 until 5; s <- 0 until Ships) yield {
      val t = b * 5 + r
      NmeaEncoder.position(if (s % 2 == 0) 1 else 3, 257000001L + s,
        status = s % 9, speedKnots = 5.0 + s % 30, lon = 4.5 + s * 0.05,
        lat = 58.0 + t * 0.01, heading = (s * 37) % 360,
        ts = 1700000000L + t * 60L)
    }

  /** The reference path from raw lines to the landing projection's input. */
  private def positionsPath(raw: Dataset[String]): Dataset[PositionWithWeather] =
    Enrich.withWeather(AvroCodec.positionsFromWire(AvroCodec.positionsToWire(
      AisIngest.positions(AisIngest.decode(raw)), PinnedRegistry.PositionId)),
      () => new FixtureWeatherClient)

  /** Lands every batch into a fresh Derby store through `cf` and returns the
    * landed rows without `_part_id`, as a sorted multiset. The first run
    * plans `parts` partitions per batch, a restart `restartParts`. */
  private def land(cf: String => JdbcSink.ConnectionFactory, parts: Int,
      restartParts: Int, expectCrash: Boolean): Seq[String] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val db = s"crash_${System.nanoTime()}"
    val ckpt = tempDir("graft-landing-crash")
    Landing.create(db)
    try {
      val in = MemoryStream[String]
      val ep = JdbcSink.Endpoint(Landing.url(db), Landing.PosTable)
      def start(restarted: Boolean) = JdbcSink.positionsWriter(
        positionsPath(in.toDS()).repartition(if (restarted) restartParts else parts),
        ep, s"$ckpt/q", cf(db)).start()
      val restarted = feed(in, (0 until LandingBatches).map(nmeaBatch), start)
      assert(restarted == expectCrash, s"restarted=$restarted, expected $expectCrash")
      spark.read.jdbc(Landing.url(db), Landing.PosTable, Landing.sparkProps)
        .drop(JdbcSink.PartCol).collect().map(_.toString).toSeq.sorted
    } finally {
      Landing.drop(db)
      deleteDir(ckpt)
    }
  }

  test("AIS landing: a batch that crashes after partial commits replays " +
      "under a different plan and lands exactly once") {
    LandingCrash.reset()
    val clean = land(db => Landing.DerbyFactory(db, traced = false),
      parts = 4, restartParts = 4, expectCrash = false)
    val crashed = land(db => CrashingFactory(Landing.DerbyFactory(db, traced = false),
      CrashBatch, parts = 4), parts = 4, restartParts = 2, expectCrash = true)

    // preconditions: the crash fired inside batch k after a partial delivery
    // that included a slice the 2-partition replay never writes
    val snap = LandingCrash.atCrash
    assert(snap != null, "the injected crash never fired")
    val batchRows = clean.count(_.endsWith(s",$CrashBatch]")) // _batch_id is last
    assert(batchRows > 0)
    assert(snap.batchRows > 0 && snap.batchRows < batchRows,
      s"at the crash the table held ${snap.batchRows} of batch $CrashBatch's " +
        s"$batchRows rows; expected some but not all")
    assert(snap.highSliceRows > 0, "no slice with a partition id >= 2 had committed")

    val extra = crashed.diff(clean)
    val lost = clean.diff(crashed)
    val exactlyOnce = extra.isEmpty && lost.isEmpty
    assert(exactlyOnce,
      s"landed ${crashed.size} rows, the twin ${clean.size}: ${extra.size} " +
        s"duplicated or stray, ${lost.size} lost; e.g. ${extra.take(2)}")
    assert(clean.size == LandingBatches * batchRows)
  }

  // ---------------------------------------------- ship activity (RocksDB)

  /** Last-write-wins `mmsi → (n_reports, last_ts)` map fed by an update-mode
    * foreachBatch sink. `crashAt` >= 0 injects ONE failure: that batch runs
    * its stateful computation, delivers half its rows, then throws — between
    * the state write and the offset commit. */
  private final class ActivitySink(crashAt: Long) extends Serializable {
    val seen = new ConcurrentHashMap[String, (Long, Long)]()
    @volatile private var crashed = false
    def apply(df: DataFrame, bid: Long): Unit = {
      val out = df.collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
      if (bid == crashAt && !crashed) {
        crashed = true
        out.take(out.length / 2).foreach { case (k, v) => seen.put(k, v) }
        throw new RuntimeException("injected crash: after state write + partial delivery")
      }
      out.foreach { case (k, v) => seen.put(k, v) }
    }
    def toMap: Map[String, (Long, Long)] = {
      val b = Map.newBuilder[String, (Long, Long)]
      seen.forEach((k, v) => b += (k -> v))
      b.result()
    }
  }

  private val ActivityBatches = 5

  /** Batch `b`'s reports: 300 over 25 ships, each ship silent in every
    * fourth batch (offset by ship), so counts differ across ships. */
  private def activityBatch(b: Int): Seq[PositionEvent] =
    (0 until 300).map(i => (i % 25, i)).filter { case (s, _) => (s + b) % 4 != 0 }
      .map { case (s, i) =>
        PositionEvent(s"S$s", "under way using engine", 1700000000L + b * 1000L + i,
          Gps(60.0, 5.0), 10.0, 90)
      }

  private def driveActivity(crashAt: Long): Map[String, (Long, Long)] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ckpt = tempDir("graft-crash")
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[PositionEvent]
      val sink = new ActivitySink(crashAt)
      def start(restarted: Boolean) = AisPipeline.shipActivity(in.toDS()).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$ckpt/q")
        .foreachBatch((df: DataFrame, bid: Long) => sink(df, bid)).start()
      val restarted = feed(in, (0 until ActivityBatches).map(activityBatch), start)
      assert(restarted == (crashAt >= 0), s"restarted=$restarted, crashAt=$crashAt")
      sink.toMap
    } finally {
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      deleteDir(ckpt)
    }
  }

  test("ship activity (transformWithState on RocksDB): crash mid-batch + " +
      "restart == uninterrupted run, and no report is counted twice") {
    val crashAt = 2
    val clean = driveActivity(crashAt = -1L)
    val crashed = driveActivity(crashAt = crashAt.toLong)
    assert(crashed == clean)
    val input = (0 until ActivityBatches).flatMap(activityBatch)
    val counts = input.groupBy(_.mmsi).map { case (k, ps) => k -> ps.size.toLong }
    assert(crashed.map { case (k, (n, _)) => k -> n } == counts)
    // state really spans the crash: some ship reported before and after it
    def ships(bs: Range) = bs.flatMap(activityBatch).map(_.mmsi).toSet
    assert(ships(0 until crashAt).intersect(ships(crashAt + 1 until ActivityBatches)).nonEmpty)
  }
}

/** What the landing table held when the injected crash fired. */
private final case class CrashSnapshot(batchRows: Long, highSliceRows: Long)

/** Crash bookkeeping shared by the driver and the tasks (local mode runs
  * them in one JVM): the partitions that committed per batch, whether the
  * crash fired, and the table at that moment. */
private object LandingCrash {
  val committed: java.util.Set[(Long, Int)] = ConcurrentHashMap.newKeySet[(Long, Int)]()
  val fired = new AtomicBoolean(false)
  @volatile var atCrash: CrashSnapshot = _

  def reset(): Unit = { committed.clear(); fired.set(false); atCrash = null }
}

/** Test-side landing factory: wraps the benchmark's Derby factory and fails
  * partition 0 of batch `crashBatch`, once, after every other partition of
  * that attempt has committed — and so before the offset commit. Every
  * commit is recorded per (batch, partition). The driver-side whole-batch
  * delete runs outside a task and passes straight through. */
private final case class CrashingFactory(inner: Landing.DerbyFactory,
    crashBatch: Long, parts: Int) extends JdbcSink.ConnectionFactory {

  def connect(): Connection = {
    val tc = TaskContext.get()
    if (tc == null) return inner.connect()
    val batch = tc.getLocalProperty(MicroBatchExecution.BATCH_ID_KEY).toLong
    val pid = tc.partitionId()
    if (batch == crashBatch && pid == 0 && LandingCrash.fired.compareAndSet(false, true)) {
      val deadline = System.nanoTime() + 60L * 1000000000L
      def othersDone = (1 until parts).forall(p => LandingCrash.committed.contains((batch, p)))
      while (!othersDone && System.nanoTime() < deadline) Thread.sleep(10)
      def count(where: String): Long = Landing.scalar(inner.db, Landing.quoteLineage(
        s"SELECT COUNT(*) FROM ${Landing.PosTable} WHERE ${JdbcSink.BatchCol} = $batch$where"))
      LandingCrash.atCrash = CrashSnapshot(count(""), count(s" AND ${JdbcSink.PartCol} >= 2"))
      throw new java.sql.SQLException(s"injected crash: partition 0 of batch $batch")
    }
    val c = inner.connect()
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val r = try m.invoke(c, (if (args == null) Array.empty[AnyRef] else args): _*)
            catch { case e: InvocationTargetException => throw e.getCause }
          if (m.getName == "commit") LandingCrash.committed.add((batch, pid))
          r
        }
      }).asInstanceOf[Connection]
  }
}
