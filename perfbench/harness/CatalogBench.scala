package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query-catalog workload: `SparkEntry.catalog` queries, closed loop,
  * one at a time, with `clearCache` and a GC hint (untimed) between queries.
  *
  * Data: the sf0.001 tables shipped in `perfbench/data` scaled 100x to sf0.1
  * size by key-shifted replication (every dense key of replica i shifts by
  * i x the referenced table's row count, so joins and per-key group sizes
  * keep their shape). `region`, `nation` and the text/vector corpus
  * (`documents`, `embeddings`) are copied unchanged: replicating a corpus
  * would plant exact duplicates of every document. */
final class CatalogBench(spark: SparkSession, run: RunContext,
    countsFile: String, pin: Boolean) {

  val Mult = 100
  /** Every `Stride`-th query in name order, less those that took longer
    * than `MaxPinnedMs` in the pinning pass, so one pass fits a run. */
  val Stride = 3
  val MaxPinnedMs = 600.0
  val WarmupQueries = 3

  private def prepare(): String = {
    val dir = s"${run.workDir}/catalog_sf01_data"
    val ready = new java.io.File(s"$dir/_READY")
    if (ready.exists()) return dir
    def read(t: String) = spark.read.parquet(s"${run.dataDir}/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    def replicate(t: String, shifts: Map[String, Long]): DataFrame = {
      val rep = read(t).withColumn("_rep", explode(sequence(lit(0L), lit(Mult - 1L))))
      shifts.foldLeft(rep) { case (d, (c, n)) =>
        d.withColumn(c, (col(c) + col("_rep") * n).cast(d.schema(c).dataType))
      }.drop("_rep")
    }
    val n = Seq("customer", "supplier", "part", "orders", "events")
      .map(t => t -> read(t).count()).toMap
    val users = read("events").agg(max(col("user_id"))).head().getLong(0) + 1
    Seq("region", "nation", "documents", "embeddings").foreach(t => write(read(t), t))
    write(replicate("customer", Map("c_custkey" -> n("customer")))
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey"))), "customer")
    write(replicate("supplier", Map("s_suppkey" -> n("supplier")))
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey"))), "supplier")
    write(replicate("part", Map("p_partkey" -> n("part"))), "part")
    write(replicate("orders", Map("o_orderkey" -> n("orders"), "o_custkey" -> n("customer"))),
      "orders")
    write(replicate("lineitem", Map("l_orderkey" -> n("orders"), "l_partkey" -> n("part"),
      "l_suppkey" -> n("supplier"))), "lineitem")
    write(replicate("events", Map("event_id" -> n("events"), "user_id" -> users)), "events")
    ready.createNewFile()
    dir
  }

  /** Pinned row counts and pinning-pass times, `name<TAB>rows<TAB>ms`. */
  private def readPinned(path: String): Map[String, (Long, Double)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.contains('\t')).map { l =>
      val Array(k, rows, ms) = l.split('\t'); k -> (rows.toLong, ms.toDouble)
    }.toMap finally src.close()
  }

  def execute(): Map[String, Any] = {
    val prepT0 = System.nanoTime()
    val dir = prepare()
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("prepare_s") = (System.nanoTime() - prepT0) / 1e9
    val byName = SparkEntry.catalog.map(q => q.name -> q).toMap
    val names = byName.keys.toSeq.sorted

    // set-up, three times: resolve every table's relation (file listing and
    // parquet footers), as registering the tables with a session does
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    out("setup_runs_s") = (0 until 3).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
      (System.nanoTime() - t0) / 1e9
    }

    val sc = spark.sparkContext
    def runOne(name: String): (Long, Double, Double, Double) = {
      spark.catalog.clearCache()
      System.gc()
      run.probeHeap()
      sc.setJobDescription(name)
      Trace.span("catalog.query", name) { id =>
        val t0 = System.nanoTime()
        val df = Trace.span("plan.build", name, id)(_ => byName(name).run(spark, dir))
        val t1 = System.nanoTime()
        var plan0 = 0L
        if (run.traced) {
          org.apache.spark.perfbench.BusDrain(sc)
          plan0 = Seq("analysis", "optimization", "planning").map(p => Trace.get(s"plan.${p}_ms")).sum
        }
        val t2 = System.nanoTime()
        val rows = Trace.span("catalog.exec", name, id)(_ => df.count())
        val t3 = System.nanoTime()
        if (run.traced) {
          org.apache.spark.perfbench.BusDrain(sc)
          val plan1 = Seq("analysis", "optimization", "planning").map(p => Trace.get(s"plan.${p}_ms")).sum
          Trace.add("plan.exec_phase_ms", plan1 - plan0)
        }
        sc.setJobDescription(null)
        (rows, (t1 - t0) / 1e6, (t3 - t2) / 1e6, (t1 - t0 + t3 - t2) / 1e6)
      }
    }

    if (pin) {
      val lines = names.map { n =>
        val (rows, _, _, ms) = runOne(n)
        System.err.println(f"pin $n%-40s $rows%10d ${ms}%9.1f ms")
        f"$n\t$rows\t$ms%.1f"
      }
      val w = new java.io.PrintWriter(countsFile, "UTF-8")
      try w.write(lines.mkString("", "\n", "\n")) finally w.close()
      return out.toMap
    }

    val pinned = readPinned(countsFile)
    val subset = names.zipWithIndex.collect {
      case (n, i) if i % Stride == 0 && pinned.get(n).forall(_._2 <= MaxPinnedMs) => n
    }
    // untimed warm-up on queries outside the subset, so the first timed ones
    // do not absorb the JVM's and the session's first-use costs
    names.zipWithIndex.collect { case (n, i) if i % Stride == Stride / 2 => n }
      .take(WarmupQueries).foreach(runOne)

    run.beginMeasurement()
    val t0 = System.nanoTime()
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var pass = 0
    var failed = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      val passT0 = System.nanoTime()
      subset.foreach { n =>
        val (rows, build, exec, ms) = try runOne(n) catch {
          case e: Throwable =>
            System.err.println(s"query $n failed: ${e.toString.linesIterator.next()}")
            (-1L, 0.0, 0.0, 0.0)
        }
        val ok = pinned.get(n).exists(_._1 == rows)
        if (!ok) failed += 1
        execs += Map("pass" -> pass, "query" -> n, "rows" -> rows,
          "expected_rows" -> pinned.get(n).map(_._1).getOrElse(-1L), "ok" -> ok,
          "build_ms" -> build, "exec_ms" -> exec, "ms" -> ms)
      }
      execs += Map("pass_s" -> (System.nanoTime() - passT0) / 1e9, "pass" -> pass)
      pass += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    run.endMeasurement()
    out("measure_s") = measureS
    out("executions") = execs.filter(_.contains("query"))
    out("passes") = execs.filter(_.contains("pass_s")).map(_("pass_s"))
    out("attempted") = execs.count(_.contains("query")).toLong
    out("failed") = failed
    out("config") = Map("data" -> s"sf0.001 x $Mult (key-shifted replication)",
      "queries_in_catalog" -> names.size, "subset" -> subset, "stride" -> Stride,
      "max_pinned_ms" -> MaxPinnedMs,
      "order" -> "name order", "warmup_queries" -> WarmupQueries)
    out.toMap
  }
}
