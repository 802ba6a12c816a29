package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audits: the scale properties the scaladocs promise must
  * actually appear in the plans — filters reach the parquet scan, dimension
  * joins broadcast, top-K avoids global sorts, aggregation is two-phase,
  * hot paths stay inside WholeStageCodegen. These assertions are what keeps
  * a refactor from silently trading a broadcast for a 100 TB shuffle.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("simple"))

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf("sf0.001"))

  test("a7_range_filter pushes every conjunct into the parquet scan") {
    // formatted mode: simple-mode truncates the PushedFilters list
    val p = run("a7_range_filter").queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThan(l_quantity,2.0)"), p)
    assert(p.contains("LessThan(l_quantity,75.0)"), p)
    assert(p.contains("LessThanOrEqual(l_discount,0.08)"), p)
  }

  test("q1 prunes the scan to the referenced columns only") {
    val p = plan(run("q1_pricing_summary"))
    val scan = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scan.contains("l_orderkey"), scan) // unused columns absent
    assert(scan.contains("l_quantity") && scan.contains("l_shipdate"), scan)
  }

  test("q1 aggregates in two phases (map-side partial before the shuffle)") {
    val p = plan(run("q1_pricing_summary"))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("hashpartitioning"), p)
  }

  test("d3 dashboard join broadcasts the dimension side — no fact shuffle") {
    val p = plan(run("d3_join_info"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q5 six-way join is all broadcast joins, zero sort-merge") {
    val p = plan(run("q5_region_revenue"))
    assert("BroadcastHashJoin".r.findAllIn(p).length == 5, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d4 ordered limit plans as TakeOrdered, not a global sort") {
    val p = plan(run("d4_join_limit"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("latest_per_key shuffles once and pushes the top-1 below the window") {
    val p = plan(run("latest_per_key"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    // Catalyst turns the rn=1 filter into WindowGroupLimit: per-partition
    // top-1 runs BEFORE the shuffle, so only candidate rows cross the wire
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("keyByMmsi repartitions on the key (A10's ordering guarantee)") {
    import spark.implicits._
    val df = Seq(("1", 1.0), ("2", 2.0)).toDF("mmsi", "speed")
    val p = plan(graft.ais.AisIngest.keyByMmsi(df, 8))
    assert(p.contains("hashpartitioning(mmsi"), p)
  }

  test("semi/anti joins never materialize right-side payload columns") {
    val ps = plan(run("semi_join_customers"))
    assert(ps.contains("LeftSemi"), ps)
    val pa = plan(run("anti_join_customers"))
    assert(pa.contains("LeftAnti"), pa)
  }

  test("ann_cosine_topk broadcasts the query side") {
    val p = plan(run("ann_cosine_topk"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("text analysis plans are shuffle-free single stages") {
    for (q <- Seq("text_token_stats", "text_quality", "text_langid",
        "text_fingerprint", "media_metadata", "split_train_val",
        "text_redact", "text_bpe_tokens", "media_resize")) {
      val p = plan(run(q))
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("range_join_binned hashes on the manufactured bin key, no nested loop") {
    val p = plan(run("range_join_binned"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("range_agg_prefix plans ZERO joins — the prefix scan replaces pair " +
      "materialization entirely") {
    // the catalog entry is a plain join + group-by; the optimizer must turn
    // it into the rule's deferred prefix scan with no join left
    val p = run("range_agg_prefix").queryExecution.optimizedPlan
    assert(p.collectFirst { case d: graft.plans.DeferredResultPlan => d }.isDefined, p)
    assert(p.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, p)
  }

  test("nearest-centroid assignment aggregates — no window over the product") {
    val p = plan(run("kmeans_update"))
    assert(!p.contains("Window"), p)
  }

  test("geo_cell_density prunes the events scan to referenced columns") {
    val p = plan(run("geo_cell_density"))
    val scan = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scan.contains("props") && !scan.contains("event_type"), scan)
  }

  test("q2 broadcasts every dimension side; only fact-scale rows shuffle") {
    val p = plan(run("q2_min_cost_supplier"))
    // nation, region, filtered part carry hints; supplier may stay a shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cms sketch aggregates two-phase and broadcasts the probe side") {
    val p = plan(run("cms_user_frequency"))
    // sketch build + probe: partial aggregates before each shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("scd2 runs both window passes over ONE exchange and one sort") {
    val p = plan(run("scd2_status_intervals"))
    // lag-mark + lead-close share (partition, order): Catalyst must plan a
    // single hashpartitioning exchange — a second one would double-shuffle
    // the full 100 TB log
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert("Sort ".r.findAllIn(p).length <= 2, p)
  }

  test("merge compactions push top-1 below their shuffles (WindowGroupLimit x2)") {
    val p = plan(run("merge_upsert_state"))
    // both latest-per-key arms must prune to per-partition candidates BEFORE
    // shuffling — at 100 TB that's "shuffle ~|keys| rows", not the full log
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q21 scans the fact table once — no per-branch re-join, no EXPAND") {
    val p = plan(run("q21_sole_late_supplier"))
    // the (order, supplier) pre-aggregate + window form reads lineitem once;
    // the two-countDistinct form re-joined the fact per branch and doubled
    // shuffle rows through an Expand
    assert("lineitem.parquet".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Expand"), p)
  }

  test("markov transition matrix aggregates map-side before its shuffle") {
    val p = plan(run("markov_transitions"))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("PQ encode argmin stays in HashAggregate (packed-long key, no sort)") {
    val p = plan(run("ann_pq_adc"))
    // the min_by(struct) form fell to SortAggregate over the
    // corpus x codebook product; the packed-long min must hash-aggregate
    assert(!p.contains("SortAggregate"), p)
    // codebook broadcasts for encode and reconstruction; queries broadcast
    assert("BroadcastExchange".r.findAllIn(p).length >= 3, p)
  }

  test("decontaminate joins shingle hashes — no doc x doc product, " +
    "text never shuffles") {
    val p = plan(run("decontaminate_benchmark"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // every exchange carries (doc_id, s[, source]) rows, never the text
    assert(!"Exchange [^\n]*text".r.findFirstIn(p).isDefined, p)
  }

  test("fuzzy blocking is one equi-join on hashed masked keys") {
    val p = plan(run("fuzzy_blocked_pairs"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("levenshtein"), p) // zero edit-distance evaluations
  }

  test("AQE re-plans sort-merge joins to broadcasts from runtime sizes") {
    // disable static broadcast estimation (the 100 TB situation: size
    // estimates are useless) but leave the adaptive threshold: the
    // de-hinted q5 fact joins must statically plan as shuffles and then
    // convert to broadcasts from actual runtime statistics
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
    try {
      val df = run("q5_region_revenue")
      assert(plan(df).contains("SortMergeJoin"), plan(df)) // static: shuffled
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      assert("BroadcastHashJoin".r.findAllIn(finalPlan).length >= 4, finalPlan)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    import spark.implicits._
    // one key carries ~all left rows — the power-law hot key that would pin
    // a 100 TB shuffle on one task; AQE must split it into subpartitions
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
    try {
      val left = (1 to 40000).map(i => (if (i % 100 == 0) i.toLong else 7L,
        s"payload-$i-${"x" * 30}")).toDF("k", "v")
      val right = (1L to 500L).map(k => (k, s"dim-$k")).toDF("k", "name")
      val joined = left.join(right, "k")
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan)
    } finally {
      Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .foreach(spark.conf.unset)
    }
  }

  test("partitioned MV layout prunes directories at planning time") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-mv").toString
    graft.sources.Mv.write(
      graft.sources.Tables.events(spark, sf("sf0.001")), tmp, "event_type")
    val df = graft.sources.Mv.read(spark, tmp)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the partition predicate must land in PartitionFilters (directory
    // pruning), not in PushedFilters (rowgroup statistics)
    assert(p.contains("PartitionFilters"), p)
    assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(p).nonEmpty, p)
    // and only the matching partition's files are scanned
    def filesScanned(d: org.apache.spark.sql.DataFrame): Long =
      d.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles }.sum
    val scanned = filesScanned(df)
    val allFiles = filesScanned(graft.sources.Mv.read(spark, tmp))
    assert(scanned < allFiles, s"$scanned vs $allFiles")
    assert(df.count() > 0)
  }

  test("feature_bucketize never shuffles the fact side") {
    val p = plan(run("feature_bucketize"))
    // the only exchanges allowed are for the 9-scalar boundary aggregate
    // (single partition) and its broadcast back; no hashpartitioning of the
    // event rows themselves
    assert(!p.contains("hashpartitioning(event_id"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("snapshot_diff pushes both latest-per-key top-1s below their windows") {
    val p = plan(run("snapshot_diff"))
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p)
  }

  test("session_overlap_join is an equi hash join on the bin key") {
    // the catalog entry is Deferred-wrapped since r13 (the corpus-derived
    // bin width runs a driver stat), so pin the operator form directly —
    // same move as the hamming-geometry pins
    val sess = graft.operators.Analytics.sessionize(
      graft.sources.Tables.events(spark, sf("sf0.001")))
    val p = plan(graft.operators.Analytics
      .sessionOverlapBinned(sess, 60000000L))
    assert(p.contains("hashpartitioning(bin") ||
      "(Broadcast|Shuffled)HashJoin|SortMergeJoin".r.findFirstIn(p).nonEmpty, p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // and the catalog entry resolves through the Deferred at execution time
    assert(run("session_overlap_join").queryExecution.executedPlan
      .toString.contains("Deferred"))
  }

  test("paragraph dedup is exactly two hash exchanges — hash window, " +
      "doc reassembly — with no join anywhere") {
    val p = plan(run("dedup_paragraphs"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p)
    assert(!p.contains("Join"), p)
  }

  test("dsir scoring joins the 256-row model by BROADCAST; the corpus " +
      "shuffles once into per-doc counts") {
    val p = plan(run("dsir_weights"))
    assert(p.contains("BroadcastHashJoin"), p)   // model side
    assert(!p.contains("SortMergeJoin"), p)      // corpus never sort-merges
  }

  test("temperature mix never shuffles the corpus: rates broadcast back") {
    val p = plan(run("corpus_mix_temperature"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only hash exchanges aggregate the 20-row source stats, and the
    // doc side reaches its filter without an exchange above the scan
    assert(!p.contains("CartesianProduct"), p)
  }

  test("semdedup's pair scan is an equi hash join on the cell id") {
    val p = plan(run("semdedup_verdicts"))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"), p) // equi-join, keyed by c_id
    // the quadratic product only ever appears corpus x CENTROIDS (broadcast)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hybrid rrf: query terms semi-join by broadcast, vector leg is the " +
      "conditioned broadcast product — the corpus never sort-merges") {
    val p = plan(run("hybrid_search_rrf"))
    assert(p.contains("BroadcastHashJoin"), p)        // term semi-join
    assert(p.contains("BroadcastNestedLoopJoin"), p)  // corpus x query vecs
  }

  test("kmeans_train_3: every assignment is a broadcast product against " +
      "the reshaped centroid array; the corpus never sort-merge joins") {
    val p = plan(run("kmeans_train_3"))
    // exact BNLJ count depends on whether the per-step caches substitute
    // (>= one per step either way); the invariant is broadcast assignment
    // and no shuffled corpus x centroid join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("graph_triangles closes triangles with pure equi-joins — no " +
      "nested-loop anywhere") {
    val p = plan(run("graph_triangles"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p)
  }

  test("hamming banding is pure bucket aggregation — no self-join in " +
      "either geometry") {
    // the r9 convergence: pairs expand from collect_list buckets, so the
    // plan must contain NO join operator at all (the old form self-joined
    // the banded table and leaned on cache residency); a Join reappearing
    // here means the single-fingerprint-evaluation guarantee regressed.
    // Peek the operator forms directly: the narrow catalog entry is now
    // Deferred-wrapped (r10 auto geometry switch runs a count), which makes
    // the catalog plan opaque — the geometries themselves are what's pinned
    val fp = graft.operators.Dedup.simHash(
      graft.sources.Tables.documents(spark, sf("sf0.001")), "doc_id", "text")
    val geoms = Seq(
      "narrow" -> graft.operators.Dedup.hammingPairs(fp, maxDist = 3),
      "wide" -> graft.operators.Dedup.hammingPairsWide(fp, maxDist = 3),
      "wide-catalog" -> run("simhash_hamming_pairs_wide"))
    for ((name, df) <- geoms) {
      val p = plan(df)
      assert(!p.contains("Join"), s"$name reacquired a join:\n$p")
      assert(p.contains("Generate"), p) // posexplode pair expansion
      // r11 escalation regression pin: the conditional re-keying must stay
      // a SINGLE-evaluation plan. The regressed shape was a cold/hot UNION
      // whose branches each re-ran the whole fingerprint pipeline
      // (tokenize -> 60-sum agg -> banding shuffle) — so the precise
      // detector is "no Union operator anywhere". (A raw Scan/Exchange
      // count is unusable here: in suite context the fingerprint table may
      // be cached, and InMemoryTableScan PRINTS its recovery plan — extra
      // FileScan lines that are never executed.) Standalone-measured
      // shape: 1 corpus scan, 3 exchanges (fingerprint agg, banding agg,
      // final distinct), escalated re-grouping exchange-free because its
      // key extends (band, bv).
      assert(!p.contains("Union"), s"$name re-evaluates the pipeline:\n$p")
    }
    // and the auto entry still resolves to one of them at execution time
    assert(run("simhash_hamming_pairs").queryExecution.executedPlan
      .toString.contains("Deferred"))
  }

  test("jaccard wedge enumeration closes with equi-joins only — the " +
      "degree-oriented form never falls back to a nested loop") {
    val p = plan(run("graph_jaccard_neighbors"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ts_stl_decompose: one cached corpus pass feeds both consumers; the " +
      "seasonal profile joins back by broadcast") {
    // suites share one session and run in parallel, so a concurrent
    // clearCache() can momentarily drop the builder's cache registration
    // between build and explain — retry instead of flaking
    val cached = (1 to 3).exists { _ =>
      plan(run("ts_stl_decompose")).contains("InMemoryTableScan")
    }
    assert(cached, "cached series table never appeared across 3 builds")
    val p = plan(run("ts_stl_decompose"))
    assert(p.contains("BroadcastHashJoin"), p) // |types|x7 profile join
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ts_holt_linear: the recursion folds in-plan — no join, no window, " +
      "sequential state inside aggregate()") {
    // NOTE: no scan-count assertion — in the shared test session the daily
    // series subplan can substitute another ts_* query's cached twin, whose
    // InMemoryRelation dump embeds its own scan lines
    val p = run("ts_holt_linear").queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(p.contains("ObjectHashAggregate"), p) // the packed-series build
    assert(p.contains("aggregate(slice("), p)    // the in-plan fold
  }

  test("l_diversity_report: the distinct runs as a (class, sensitive) " +
      "pre-aggregation — no Expand, and the dim side broadcasts") {
    val p = plan(run("l_diversity_report"))
    assert(!p.contains("Expand"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("negative_samples carries no broadcast hint on a customer-scale side") {
    // the ONLY broadcast hint allowed is the 1-row part-count cross join;
    // the (c,p)-keyed semi/anti joins' sides are O(|customers|) (7.5M rows
    // at sf10, past the 8 GB broadcast cap at 100x) and must stay free to
    // shuffle — a hint there was the catalog's one 100x-fatal plan (r12)
    val df = run("negative_samples")
    val lp = df.queryExecution.optimizedPlan.toString
    // every surviving broadcast hint must sit on the Cross join against the
    // 1-row part-count aggregate (the cand subtree appears twice, so the np
    // hint legitimately appears twice); the customer-scale semi/anti joins
    // must carry NO strategy hint at all
    lp.linesIterator.filter(_.contains("strategy=broadcast")).foreach { l =>
      assert(l.contains("Join Cross"), s"non-cross join carries a broadcast hint:\n$l\n$lp")
    }
    val semiAnti = lp.linesIterator.filter(l =>
      l.contains("Join LeftSemi") || l.contains("Join LeftAnti")).toSeq
    assert(semiAnti.size == 2 && semiAnti.forall(!_.contains("strategy=")), lp)
  }

  test("negative_samples at scale-like stats: customer joins shuffle, " +
      "(c,p) exchange is reused across semi/anti/group-by") {
    // autoBroadcastJoinThreshold=-1 simulates fact-scale size estimates:
    // the unhinted semi/anti must become shuffle joins (the hinted 1-row
    // np broadcast survives the threshold by design)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(run("negative_samples"))
      assert(!p.contains("BroadcastHashJoin"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("fixpoint edge cache: co-partitioned cache keeps the per-round join " +
      "exchange-free outside the one-time cache fill (r16)") {
    import spark.implicits._
    // replicate connectedComponents' loop shape: symmetrized edges cached
    // PRE-PARTITIONED by the join key, labels derived from the same cache.
    // InMemoryTableScan preserves the cached hash partitioning, so the only
    // Exchange anywhere in a round's plan is the REPARTITION_BY_COL inside
    // the cached relation — a per-round ENSURE_REQUIREMENTS exchange on the
    // edge side is exactly the regression this test pins against.
    val pr = (1L to 500L).map(i => (i, i + 1)).toDF("i", "j")
    val edges = pr.union(pr.select($"j".as("i"), $"i".as("j")))
      .repartition($"i").cache()
    try {
      edges.count() // fill, so the scan reports the cached partitioning
      val labels = edges.select($"i".as("id")).distinct()
        .withColumn("label", $"id")
      val round = labels.join(edges.hint("merge"), $"id" === $"i")
        .select($"j".as("id"), $"label")
      val p = plan(round)
      assert(!p.contains("ENSURE_REQUIREMENTS"),
        s"fixpoint round re-exchanges a co-partitioned side:\n$p")
      assert(p.contains("SortMergeJoin"), p)
    } finally edges.unpersist()
  }

  test("no catalog query degrades to a CartesianProduct") {
    // vector pair scans are deliberate *conditioned* nested-loop joins
    // (BroadcastNestedLoopJoin); a true CartesianProduct anywhere means a
    // join lost its condition — at 100 TB that is a dead query
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val p = plan(run(q))
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
    }
  }
}
