package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.ais.{WeatherClient, WeatherInfo}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are nanoseconds since the run's epoch;
  * `parent` is another span's id (0 = root); `req` is the request id: a
  * micro-batch, a dashboard refresh or a catalog query. */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, req: String)

/** In-memory spans and counters for the traced run. Everything stays in
  * memory and is written once, at the end of the run. Counters are
  * JVM-global: in local mode the tasks run in this JVM, so the seams below
  * count executor-side work without accumulators. */
object Trace {
  @volatile var on = false
  val nano0: Long = System.nanoTime()
  val wall0: Long = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  def now(): Long = System.nanoTime() - nano0

  /** Progress line on stderr, with seconds since the run's epoch. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${now() / 1e9}%7.2fs] $msg")
  def wallToRel(wallMs: Long): Long = (wallMs - wall0) * 1000000L
  def nextId(): Long = ids.incrementAndGet()

  def add(name: String, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new AtomicLong()).addAndGet(v)
  def get(name: String): Long =
    Option(counters.get(name)).map(_.get()).getOrElse(0L)
  def resetCounters(): Unit = counters.clear()
  def counterMap: Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.get() }.toMap

  def record(name: String, req: String, parent: Long, start: Long,
      end: Long, id: Long = 0L): Long = {
    val sid = if (id == 0L) nextId() else id
    if (on) spans.add(Span(sid, name, start, end, parent, req))
    sid
  }

  /** Time `body` as a span; the body receives the span id for its children. */
  def span[T](name: String, req: String, parent: Long = 0L)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = nextId()
      val t0 = now()
      try body(id) finally record(name, req, parent, t0, now(), id)
    }

  def spansJson: Seq[Seq[Any]] = spans.asScala.toSeq.sortBy(_.start).map(s =>
    Seq(s.id, s.name, s.start / 1e6, s.end / 1e6, s.parent, s.req))
}

/** Counting seam around the public `WeatherClient`: every lookup that misses
  * the per-partition cell cache reaches `current`. */
final class CountingWeather(inner: WeatherClient) extends WeatherClient {
  def current(lat: Double, lon: Double): Option[WeatherInfo] = {
    val t0 = System.nanoTime()
    try inner.current(lat, lon)
    finally {
      Trace.add("enrich.lookups", 1)
      Trace.add("enrich.lookup_ns", System.nanoTime() - t0)
    }
  }
}

/** Executor and job counters from the listener bus, and every job as a span
  * (request id = its job description), so the driver residual (wall minus
  * build, planning and job time) can be derived. */
final class ExecListener extends SparkListener {
  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
  @volatile var peakExecMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Trace.add("exec.jobs", 1)
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobStarts.put(e.jobId, (Trace.wallToRel(e.time), desc))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, desc) =>
      Trace.record("spark.job", desc, 0L, t0, Trace.wallToRel(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.add("exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("exec.tasks", 1)
    if (e.reason != org.apache.spark.Success) Trace.add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Trace.add("exec.run_ms", m.executorRunTime)
      Trace.add("exec.cpu_ns", m.executorCpuTime)
      Trace.add("exec.gc_ms", m.jvmGCTime)
      Trace.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      Trace.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      Trace.add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      synchronized {
        if (m.peakExecutionMemory > peakExecMem) peakExecMem = m.peakExecutionMemory
      }
    }
  }

  def reset(): Unit = peakExecMem = 0L
}

/** Catalyst phase times from `QueryExecution.tracker`, for every action the
  * session runs (catalog queries, plan-time probes, sink writes). */
final class PlanListener extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      Trace.add(s"plan.${phase}_ms", s.durationMs)
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)
}
