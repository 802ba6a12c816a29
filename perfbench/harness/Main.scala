package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Graft, HostStat}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** What one run is, and the measurement window every workload shares:
  * counters, codegen and heap are read between `beginMeasurement` and
  * `endMeasurement`. */
final class RunContext(val spark: SparkSession, val workload: String,
    val seed: Long, val seconds: Int, val traced: Boolean, val cores: Int,
    val workDir: String, val dataDir: String) {
  val exec = new ExecListener
  private var codegenNs0, compiles0 = 0L
  private var wall0 = 0L
  private var heapPeak = 0L
  val snapshot = mutable.LinkedHashMap.empty[String, Any]

  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
    .filter(p => Seq("Old", "Tenured").exists(p.getName.contains))

  private def oldGenAfterGc(): Long =
    oldGen.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum

  /** Full GC, then the live old generation: the heap the run retains. The
    * second GC collects what Spark's ContextCleaner released after the
    * first one (broadcasts and shuffles of collected plans). */
  def gcAndProbe(): Unit = {
    System.gc()
    Thread.sleep(20)
    System.gc()
    probeHeap()
  }

  /** Read the live old generation as of the last GC. */
  def probeHeap(): Unit = heapPeak = math.max(heapPeak, oldGenAfterGc())

  def beginMeasurement(): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    Trace.resetCounters()
    Trace.spans.clear()
    exec.reset()
    codegenNs0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    heapPeak = 0L
    wall0 = System.nanoTime()
  }

  def endMeasurement(): Unit = {
    val wall = (System.nanoTime() - wall0) / 1e9
    gcAndProbe()
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    snapshot("window_s") = wall
    snapshot("heap_peak_mb") = heapPeak / 1048576.0
    snapshot("counters") = Trace.counterMap
    snapshot("codegen_compile_ms") = (CodeGenerator.compileTime - codegenNs0) / 1e6
    snapshot("codegen_compiles") = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    snapshot("peak_exec_memory_mb") = exec.peakExecMem / 1048576.0
  }
}

/** Benchmark harness entry point. Run through `perfbench/run.py`, which
  * builds the classpath, passes these arguments and turns the raw record
  * written to `--out` into the result line:
  *
  *   --workload ais_live|catalog_sf01 --seed N --seconds S
  *   --trace 0|1 --work DIR --data DIR --out FILE
  *   --counts FILE [--pin 1]  (catalog: the pinned row counts; with --pin,
  *                             run every query once and write them)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = Runtime.getRuntime.availableProcessors
    val load1mStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val cpuStart = HostStat.cpuJiffies()

    val t0 = System.nanoTime()
    val spark = Graft.session(s"local[$cores]", cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")

    val run = new RunContext(spark, workload, opts("seed").toLong,
      opts("seconds").toInt, opts.get("trace").contains("1"), cores, opts("work"), opts("data"))
    Trace.on = run.traced
    if (run.traced) {
      spark.sparkContext.addSparkListener(run.exec)
      spark.listenerManager.register(new PlanListener)
    }

    val body: Map[String, Any] = workload match {
      case "ais_live" => new LiveBench(spark, run).execute()
      case "catalog_sf01" =>
        new CatalogBench(spark, run, opts("counts"), opts.get("pin").contains("1")).execute()
      case other => sys.error(s"unknown workload $other")
    }

    val stealPct = HostStat.stealPct(cpuStart, HostStat.cpuJiffies())
    // the canary allocates 128 MB for good, so it runs after the heap reading
    val canaryMs = HostStat.canaryMs()
    val confs = (spark.sparkContext.getConf.getAll.toMap ++ spark.conf.getAll)
      .toSeq.sortBy(_._1).toMap
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> run.seed, "seconds" -> run.seconds,
      "traced" -> run.traced, "nproc" -> cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "session_s" -> sessionS,
      "host" -> Map("load1m_start" -> load1mStart, "steal_pct" -> stealPct,
        "canary_ms" -> canaryMs),
      "confs" -> confs) ++ run.snapshot ++ body
    if (run.traced) record("spans") = Trace.spansJson
    val w = new java.io.PrintWriter(opts("out"), "UTF-8")
    try w.write(Json.write(record)) finally w.close()
    spark.stop()
  }
}
