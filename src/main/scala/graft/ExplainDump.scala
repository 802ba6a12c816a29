package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: write `.explain("formatted")` output for named catalog queries
  * to files — `runMain graft.ExplainDump <sfDir> <outDir> <query> [...]`
  * (or `--all` for the whole catalog). Produces the `plans/r16/<q>_<tag>.txt`
  * evidence files: the judge checks plan claims (Exchange counts, join
  * strategy, PushedFilters) against these instead of running Spark. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val rest = args.drop(2).toSeq
    val tag = rest.collectFirst { case s if s.startsWith("--tag=") =>
      s.stripPrefix("--tag=") }.getOrElse("plan")
    val names: Seq[String] =
      if (rest.contains("--all")) SparkEntry.catalog.map(_.name)
      else rest.filterNot(_.startsWith("--"))
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // --exec: execute the query first, so the dumped plan is the FINAL
    // adaptive plan (isFinalPlan=true) with runtime join strategies,
    // AQEShuffleReads and ReusedExchanges visible. r17 fix: this must run
    // the df's OWN QueryExecution — the r16 noop-write pattern planned a
    // SEPARATE write-command QueryExecution and left the dumped one
    // unexecuted, which is why every r16 "--exec" dump still says
    // isFinalPlan=false. toRdd.count() executes this QueryExecution's
    // physical plan distributed and discards the rows (noop-sink
    // semantics, same instance).
    val exec = rest.contains("--exec")
    for (n <- names) {
      if (exec) {
        // route Deferred-wrapped queries' INNER plans (otherwise opaque
        // 8-line stubs) to the same out dir — see DeferredExec
        spark.conf.set("spark.graft.debug.deferredPlanDir", outDir)
        spark.conf.set("spark.graft.debug.deferredPlanTag", s"${n}_$tag")
      }
      val df = SparkEntry.queries(n)(spark, dir)
      if (exec) df.queryExecution.toRdd.count()
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
        txt.getBytes("UTF-8"))
      spark.catalog.clearCache()
      println(s"wrote $outDir/${n}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
