package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import graft.SparkSpec
import graft.streaming.CorpusDedup.StreamDoc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException

/** Crash-recovery under REAL state at a real batch size (VERDICT r10 item 4):
  * the prior restart test was toy-sized (2 rows, stateless sink). Here each
  * stateful dedup stream processes 2,000-doc batches against RocksDB state,
  * the sink CRASHES MID-BATCH — after the batch's stateful computation has
  * run and per-task state has been written, after PART of the batch's output
  * has already been delivered, but before the offset-log commit — and the
  * restarted query must converge to EXACTLY the verdicts of an uninterrupted
  * twin run over the same five batches.
  *
  * What this proves, differentially rather than by appeal to the docs:
  *  - the failed batch's state-store version is discarded on restart (state
  *    reloads at the last committed batch, so the replay does not see the
  *    crashed attempt's writes — double-counting would flip keeper verdicts);
  *  - replay is deterministic: the re-executed batch emits the same rows, so
  *    an at-least-once sink that caught partial output converges by
  *    last-write-wins idempotence;
  *  - verdicts spanning the crash point (near-dups of docs kept two batches
  *    earlier) survive recovery — i.e. the RocksDB state the replay reads is
  *    the real accumulated corpus memory, not a fresh store.
  */
class CrashRecoverySpec extends SparkSpec {

  /** Last-write-wins verdict map fed by an update-mode foreachBatch sink.
    * `crashAt` >= 0 injects ONE failure: that batch runs its full
    * computation, delivers half its rows, then throws (a crash between the
    * state write and the offset commit — the worst window). */
  private final class VerdictSink(crashAt: Long) extends Serializable {
    val seen = new ConcurrentHashMap[Long, Long]()
    @volatile private var crashed = false
    def apply(df: DataFrame, bid: Long): Unit = {
      val rows = df.collect() // runs the stateful computation for this batch
      val out = rows.map(r => (r.getLong(0), r.getLong(1)))
      if (bid == crashAt && !crashed) {
        crashed = true
        out.take(out.length / 2).foreach { case (k, v) => seen.put(k, v) }
        throw new RuntimeException("injected crash: after state write + partial delivery")
      }
      out.foreach { case (k, v) => seen.put(k, v) }
    }
    def toMap: Map[Long, Long] = {
      val b = Map.newBuilder[Long, Long]
      seen.forEach((k, v) => b += (k -> v))
      b.result()
    }
  }

  private val DocsPerBatch = 2000
  private val Batches = 5

  /** Batch `b`'s docs under the rehearsal corpus law (~5% planted near-dups
    * — which under that law always pair ADJACENT ids, i.e. stay inside one
    * batch), plus ten explicit cross-crash-point plants: batches after the
    * crash (b >= 3) open with copies of batch-0 docs, so recovery must flag
    * them against state accumulated BEFORE the crash. */
  private def batchDocs(b: Int): Seq[StreamDoc] =
    (0 until DocsPerBatch).map { i =>
      val id = b.toLong * DocsPerBatch + i
      val srcId = if (b >= 3 && i < 10) i.toLong else id
      StreamDoc(id, graft.GenScale.docText(srcId))
    }

  /** Drive `pipeline` over the five batches with RocksDB state; if `crashAt`
    * >= 0, expect exactly one failure there and restart from the checkpoint.
    * Returns the final verdict map. */
  private def drive(pipeline: MemoryStream[StreamDoc] => DataFrame,
      crashAt: Long): Map[Long, Long] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[StreamDoc]
      val sink = new VerdictSink(crashAt)
      def start() = pipeline(in).writeStream.outputMode("update")
        .option("checkpointLocation", s"$ckpt/q")
        .foreachBatch((df: DataFrame, bid: Long) => sink(df, bid)).start()
      var q = start()
      var restarted = false
      (0 until Batches).foreach { b =>
        in.addData(batchDocs(b))
        try q.processAllAvailable()
        catch {
          case _: StreamingQueryException =>
            assert(crashAt >= 0 && !restarted, "unexpected crash")
            restarted = true
            q = start() // recover from checkpoint; failed batch replays
            q.processAllAvailable()
        }
      }
      q.processAllAvailable()
      q.stop()
      assert(crashAt < 0 || restarted, "injected crash never fired")
      sink.toMap
    } finally {
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("incremental MinHash dedup: crash mid-batch + restart == uninterrupted run") {
    val clean = drive(in => CorpusDedup.incrementalDedup(in.toDS()), crashAt = -1L)
    val crashed = drive(in => CorpusDedup.incrementalDedup(in.toDS()), crashAt = 2L)
    assert(clean.size == DocsPerBatch * Batches)
    assert(crashed == clean)
    // the run actually exercised state ACROSS the crash point: some doc in a
    // post-crash batch must be a dup of a keeper from a pre-crash batch
    assert(clean.exists { case (id, dupOf) =>
      id >= 3L * DocsPerBatch && dupOf >= 0 && dupOf < 2L * DocsPerBatch })
  }

  test("paragraph-rewrite dedup: crash mid-batch + restart == uninterrupted run") {
    // key the differential on (doc_id -> n_kept): the paragraph stream's
    // rewrite verdict; equality proves no paragraph hash was double-marked
    // seen by the crashed attempt's state
    def pipe(in: MemoryStream[StreamDoc]): DataFrame = {
      import org.apache.spark.sql.functions._
      CorpusDedup.paragraphDedupStream(in.toDS())
        .select(col("doc_id"), col("n_kept"))
    }
    val clean = drive(pipe, crashAt = -1L)
    val crashed = drive(pipe, crashAt = 2L)
    assert(clean.size == DocsPerBatch * Batches)
    assert(crashed == clean)
    // paragraphs actually deduped across batches (not all docs fully kept)
    assert(clean.values.exists(_ == 0L))
  }
}
