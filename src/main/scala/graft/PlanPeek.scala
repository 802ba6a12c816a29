package graft

/** Dev tool: print exchange/broadcast counts and plan red flags
  * (CartesianProduct / Expand / SortAggregate / BNLJ) for a set of catalog
  * queries — the quick way to check a new operator's physical shape without
  * spelunking full explain output. */
object PlanPeek {
  /** Default peek set (newest catalog queries) — a constant so CatalogSpec
    * can assert every name still exists in the catalog (ADVICE r9: inline
    * names drifted unchecked when a query was renamed/removed). */
  val defaultNames: Seq[String] = Seq("range_agg_avg",
    "geo_encounter_episodes", "range_agg_prefix", "range_agg_auto",
    "dp_release_class_sizes", "t_closeness_report",
    "ts_stl_decompose", "ann_truncated_rerank", "dedup_keep_best",
    "hybrid_search_rrf", "dedup_recall_report")

  def main(args: Array[String]): Unit = {
    val spark = Graft.session("local[4]", 4)
    val dir = "/root/testdata/sf0.001"
    // default: the newest catalog queries; `--all` sweeps the whole catalog
    // (red-flag hunt); explicit names peek exactly those
    val full = args.contains("--full") // dump the whole executedPlan tree
    val names: Seq[String] =
      if (args.contains("--all")) SparkEntry.catalog.map(_.name)
      else if (args.nonEmpty) args.toSeq.filterNot(_.startsWith("--"))
      else defaultNames
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, dir)
      val s = df.queryExecution.executedPlan.toString
      println(s"=== $n")
      println("  exchanges: " + s.linesIterator.count(_.contains("Exchange")))
      println("  broadcasts: " + s.linesIterator.count(_.contains("BroadcastExchange")))
      println("  reused: " + s.linesIterator.count(_.contains("ReusedExchange")))
      Seq("CartesianProduct", "Expand", "BroadcastNestedLoop", "SortAggregate")
        .foreach(k => if (s.contains(k)) println(s"  HAS $k"))
      if (full) println(s)
    }
    spark.stop()
  }
}
