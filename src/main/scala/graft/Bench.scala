package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ambient host load BEFORE the bench contributes its own: the end-of-run
    // load1m mostly measures the bench itself on local[32] (r10's sf1
    // artifact recorded 21.5 and read as "measured under heavy load" when
    // the host was in fact busy AND the bench self-loads) — the start value
    // is the one that adjudicates whether the host was idle.
    val load1mStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val cpuStart = HostStat.cpuJiffies()
    val canaryStartMs = HostStat.canaryMs()
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JVM/codegen/session init + parquet footer reads, so the
    // first measured query doesn't absorb ~2s of one-time cost
    graft.sources.Tables.all.foreach { t =>
      try graft.sources.Tables.table(spark, sfDir, t).schema catch { case _: Throwable => }
    }
    try SparkEntry.queries("d9_scalar_count")(spark, sfDir).count()
    catch { case _: Throwable => }
    // optional comma-separated filter for targeted re-measures (e.g. load
    // adjudication of a few suspect queries) without paying the full catalog
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // mirror of Verify's SPARK_GRAFT_VERIFY_SKIP: hold out the API-gated
    // quadratic ground-truth twins at big SF (each use justified in
    // BENCH_NOTES) without spelling the other 200+ names into BENCH_ONLY
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    def selected = (only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }).filter(kv => !skip(kv._1))
    // A failed query must be LOUD: the Kryo add-opens incident (r13)
    // recorded a query's time-to-exception as if it were a success, and the
    // contaminated artifact read as a plausible 3 s. Track failures by name,
    // warn on stderr, and stamp them into the artifact so a bench of a
    // broken build can never pass as a measurement.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // stable alphabetical order so per-query timings compare across rounds.
    // A failed query yields None, NOT its time-to-exception: an exception
    // time is not a measurement, and letting it into the per-query map or
    // the total is exactly how the r13 add-opens artifact read as plausible.
    def onePass(): Seq[(String, Option[Double])] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case t: Throwable =>
            if (failed.add(name))
              System.err.println(s"BENCH_WARN query_failed $name: " +
                t.toString.linesIterator.next())
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // untimed: release per-query caches (shingle/band indexes) so later
        // queries aren't measured under accumulated executor storage pressure.
        // The GC hint matters as much as the cache drop: Spark frees
        // broadcasts/shuffles via ContextCleaner only after their driver-side
        // references are collected, so without it a long catalog run measures
        // later queries under the heap pressure of every earlier query's
        // leftovers (observed 9x inflation on queries run late in the pass).
        spark.catalog.clearCache()
        System.gc()
        name -> (if (ok) Some(dt) else None)
      }
    // best-of-N per query, min-of-2 UNCONDITIONALLY by default (r12 verdict
    // item 8): pass 2 is the post-C2-JIT steady state, and the C2-JIT
    // first-execution lottery the sf10 bench uncovered (same plan,
    // tier-4-compiled, 13.9 s vs 79-580 s on a generated class's FIRST run;
    // always ~12 s once C2-stable — proven by a TieredStopAtLevel=1 run
    // landing 56-59 s flat) hits hardest exactly where the old ">300 s
    // budget" guard used to skip the second pass. The guard is gone — a big
    // SF is the case that NEEDS min-of-2; SPARK_GRAFT_BENCH_RUNS=1 is the
    // explicit opt-out for quick iteration loops. (SPARK_GRAFT_BENCH_
    // FORCE_RUNS is accepted-and-ignored for older scripts.)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val pass1 = onePass()
    val later = if (runs <= 1) Seq.empty else Seq.fill(runs - 1)(onePass())
    // min over the SUCCESSFUL passes only; a query that failed on any pass
    // is contaminated and stays None (its row serializes as null, never
    // enters total, and downstream tools/bench_check.py refuses the artifact)
    val results: Seq[(String, Option[Double])] = pass1.map { case (name, t1) =>
      val all = (t1 +: later.flatMap(_.collect { case (`name`, t) => t })).flatten
      name -> (if (failed(name) || all.isEmpty) None else Some(all.min))
    }
    // loud lottery row: any query whose first pass exceeded its best later
    // pass by >2x is a C2-promotion suspect — single-pass artifacts of such
    // queries are NOT comparable numbers and must not be read as plans
    val suspects = if (later.isEmpty) Seq.empty
      else pass1.flatMap { case (name, t1o) =>
        val laterTs = later.flatMap(_.collect { case (`name`, Some(t)) => t })
        (t1o, laterTs) match {
          case (Some(t1), ts) if ts.nonEmpty && ts.min > 0.5 && t1 > 2 * ts.min =>
            Some(s"$name pass1=${"%.1f".format(t1)}s best=${"%.1f".format(ts.min)}s")
          case _ => None
        }
      }
    if (suspects.nonEmpty)
      System.err.println(
        s"BENCH_WARN c2_lottery (first-run JIT churn, ${suspects.size} queries): " +
          suspects.mkString("; "))
    // Self-adjudicating heavy tail (r14 verdict item 4): in-catalog sf30
    // rows above ~10 s carry ~2.5x pass variance (GC/cache pressure from
    // the 200+ queries before them), so a bare 161.8 s row misleads without
    // BENCH_NOTES alongside. Stamp every heavy row's ISOLATED min-of-N
    // companion (fresh back-to-back runs, C2-warm, cache cleared between)
    // into the same artifact; tools/bench_check.py refuses heavy rows that
    // lack one. ISOLATE_RUNS=0 is the explicit opt-out for quick loops.
    val isolateMin = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_ISOLATE_MIN", "10.0").toDouble
    val isolateRuns = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_ISOLATE_RUNS", "3").toInt
    val byNameFn = selected.toMap
    val isolated: Seq[(String, Double)] =
      if (isolateRuns <= 0) Seq.empty
      else results.collect { case (n, Some(t)) if t >= isolateMin => n }
        .flatMap { name =>
          val ts = (1 to isolateRuns).flatMap { _ =>
            val t0 = System.nanoTime()
            // a failed rerun must be LOUD: bench_check refuses heavy rows
            // without an isolated companion, and a silent drop here makes
            // that refusal undiagnosable (ADVICE r15)
            val ok = try { byNameFn(name)(spark, sfDir).count(); true }
            catch {
              case e: Throwable =>
                System.err.println(s"BENCH_WARN isolated rerun of $name " +
                  s"failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
                false
            }
            val dt = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            System.gc()
            if (ok) Some(dt) else None
          }
          if (ts.isEmpty) {
            System.err.println(s"BENCH_WARN heavy row $name has NO " +
              "isolated companion (all reruns failed) — bench_check will " +
              "refuse this artifact")
            None
          } else Some(name -> ts.min)
        }
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def fmtOpt(v: Option[Double]): String = v.map(fmt).getOrElse("null")
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + fmtOpt(v) }
      .mkString("{", ",", "}")
    // With any failure present the catalog total is NOT a measurement (it
    // silently excludes the failed queries' time while n_queries counts
    // them), so stamp it null — the headline line must be self-evidently
    // broken, not a smaller-looking total (ADVICE r14).
    val total0 = results.flatMap(_._2).sum
    val totalJson = if (failed.isEmpty) fmt(total0) else "null"
    // Full per-query map for humans / diffing (NOT the driver's line). The
    // driver keeps only a short stdout tail, which is how round-over-round
    // regressions in the alphabetical head went unseen — so ALSO persist the
    // complete artifact (with a host-load note for adjudicating noise) where
    // SPARK_GRAFT_BENCH_OUT points, e.g. BENCH_LOCAL_r9.json in the repo.
    val load1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val isoJson = isolated.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // steal over the whole run + the delivered-bandwidth canary before and
    // after: the two co-tenant axes load1m can't see (r16, HostStat
    // scaladoc) — bench_check refuses past --max-steal / --max-canary-ms
    val stealPct = HostStat.stealPct(cpuStart, HostStat.cpuJiffies())
    val canaryEndMs = HostStat.canaryMs()
    // Stamp the SPARK_GRAFT_CONF overrides (ADVICE r16), so a dev A/B run
    // cannot pass as a clean one: bench_check refuses a non-empty list.
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val overrides = Graft.confOverrides.map { case (k, v) => s"$k=$v" }
    val overridesJson = overrides.map(jstr).mkString("[", ",", "]")
    val detail = s"""{"metric":"total_detail","value":$totalJson,"unit":"sec","load1m_start":${fmt(load1mStart)},"load1m":${fmt(load1m)},"steal_pct":${fmt(stealPct)},"canary_ms_start":${fmt(canaryStartMs)},"canary_ms_end":${fmt(canaryEndMs)},"runs":$runs,"c2_suspects":${suspects.size},"cpus":${Graft.cpus},"conf_overrides":$overridesJson,"failed":$failedJson,"isolate_min":${fmt(isolateMin)},"isolate_runs":$isolateRuns,"isolated":$isoJson,"queries":$qsFull,"sf":"$sfDir"}"""
    println(detail)
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (detail + "\n").getBytes("UTF-8"))
    }
    // The driver keeps only a ~2000-char tail of stdout and parses the final
    // JSON line from it, so this line must stay well under that: report the
    // catalog total plus a fixed headline subset (one per operator family).
    val headline = Seq(
      "q1_pricing_summary", "q5_region_revenue", "q18_large_orders",
      "ais_pipeline_decode", "session_windows", "asof_join_signup",
      "dedup_minhash_lsh", "dedup_clusters", "ann_cosine_topk",
      "text_quality", "window_running_sum", "latest_per_key",
      "ann_pq_adc", "doc_features", "geo_radius_join")
    val byName = results.toMap
    val qsHead = headline.flatMap(n => byName.get(n).flatten.map(v => s"\"" + n + "\":" + fmt(v)))
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$totalJson,"unit":"sec","queries":$qsHead,"n_queries":${results.size},"n_failed":${failed.size},"sf":"$sfDir"}"""
    require(line.length < 1500, s"bench line too long for driver tail: ${line.length}")
    println(line)
    spark.stop()
  }
}
