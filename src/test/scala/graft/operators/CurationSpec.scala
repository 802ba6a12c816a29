package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Differential/property pins for the round-5 curation operators beyond the
  * DuckDB oracle: the blocked fuzzy join against a brute-force edit-distance
  * sweep, the decontaminer against a direct cross-source shingle intersect,
  * and PQ-ADC against exact brute-force ANN (recall + no-fabrication). */
class CurationSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf("sf0.001")).cache()
  private lazy val emb = Tables.embeddings(spark, sf("sf0.001")).cache()
  private lazy val cust = Tables.customer(spark, sf("sf0.001")).cache()

  test("deletion-neighborhood blocking finds EXACTLY the hamming-1 pairs, " +
    "each once, with the right differing position") {
    val blocked = Curation.hamming1Pairs(cust, "c_custkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // each pair reported exactly once
    val pairs = blocked.map(t => (t._1, t._2))
    assert(pairs.length == pairs.distinct.length, "duplicate pair emitted")
    // brute force over the collected names (150 rows at sf0.001)
    val names = cust.select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val brute = for {
      (i, a) <- names; (j, b) <- names
      if i < j && a.length == b.length
      diffs = a.indices.filter(p => a(p) != b(p))
      if diffs.length == 1
    } yield (i, j, (diffs.head + 1).toLong)
    assert(blocked.toSet == brute.toSet)
    assert(brute.nonEmpty)
  }

  test("hamming1Pairs excludes IDENTICAL names (distance 0): the " +
      "exactly-one-key guard keeps the edit-distance-1 contract on corpora " +
      "with duplicate names") {
    import spark.implicits._
    // latent on TPC-H (c_name is unique); this is the r11-advice fixture:
    // a duplicate name pair, a true distance-1 pair, and an unrelated name
    val df = Seq(
      (1L, "Customer#42"), (2L, "Customer#42"), // identical -> excluded
      (3L, "Customer#43"), (4L, "Customer#4X"), // distance 1 at pos 11
      (5L, "Supplier#99")).toDF("id", "nm")
    val got = Curation.hamming1Pairs(df, "id", "nm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // #42/#43/#4X pairwise differ only at position 11 -> five distance-1
    // pairs (both copies of #42 against each); (1,2) distance 0 must NOT
    // appear; Supplier#99 is distance 7 from everything
    assert(got == Set((1L, 3L, 11L), (2L, 3L, 11L), (1L, 4L, 11L),
      (2L, 4L, 11L), (3L, 4L, 11L)), got)
  }

  test("decontaminate flags exactly the docs sharing a shingle with the " +
    "benchmark source — no false negatives, counts match a direct intersect") {
    val got = Curation.decontaminate(docs, "src0", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // direct form: raw-string shingles, intersect per doc
    val all = docs.select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")))
    def shingles(t: Array[String]): Set[String] =
      if (t.length < 8) Set.empty
      else t.sliding(8).map(_.mkString(" ")).toSet
    val benchSet = all.filter(_._2 == "src0").flatMap(d => shingles(d._3)).toSet
    val want = all.filter(_._2 != "src0")
      .map(d => d._1 -> shingles(d._3).count(benchSet.contains).toLong)
      .filter(_._2 > 0).toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("PQ-ADC neighbors have useful recall vs EXACT L2 top-10 (the metric " +
    "PQ approximates)") {
    // exact L2 top-10 per query, brute force with the same fold
    val v = emb.select(col("vec_id"),
      graft.functions.Vec.toDouble(col("embedding")).as("v"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("dist"), col("vec_id"))
    val exact = v.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.Vec.sumSqDiff(col("qv"), col("v")).as("dist"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Curation.pqAdc(emb, m = 16, subDim = 4, codebookK = 64, k = 10)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pq.length == 50) // 5 queries x k=10, no fabricated/missing rows
    val recall = pq.count(exact.contains).toDouble / exact.size
    // 16x4 codebook from a strided sample on near-random synthetic vectors:
    // measured 0.50 here; chance is 10/499 ~ 2%
    assert(recall >= 0.3, s"PQ recall collapsed: $recall")
  }

  test("IVF-PQ candidates come only from probed cells, ranks are dense, " +
    "and recall does not collapse below the pruning bound") {
    val full = Curation.pqAdc(emb, m = 16, subDim = 4, codebookK = 64, k = 10)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Curation.ivfPqSqrt(emb, nProbe = 3,
      m = 16, subDim = 4, codebookK = 64, k = 10).cache()
    try {
      val rows = pruned.select(col("q_id"), col("vec_id"), col("rank"))
        .collect()
      // per-query ranks are 1..n without gaps
      rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
        val ranks = rs.map(_.getInt(2)).sorted
        assert(ranks.toSeq == (1 to ranks.length).toSeq)
      }
      // cell pruning only REMOVES candidates relative to full-corpus ADC:
      // overlap with the full ADC top-10 stays substantial (measured ~0.6+)
      val ids = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val overlap = ids.count(full.contains).toDouble / full.size
      assert(overlap >= 0.3, s"IVF pruning destroyed the ADC ranking: $overlap")
    } finally pruned.unpersist()
  }

  test("ann_recall_report: all five ANN paths clear the structural floor, " +
    "and the gate output lists exactly them") {
    val methods = Seq("ivf_cells", "ivf_pq", "lsh_bucketed", "pq_adc",
      "truncated_rerank")
    val report = Curation.annRecallReport(emb).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(report.keySet == methods.toSet)
    // measured at sf0.001: lsh 0.26, ivf 0.44, ivf_pq 0.30, pq 0.48,
    // truncated_rerank ~0.9 (its candK is 20% of this corpus); chance
    // level is k/(n-1) ~ 10/499 = 2% — the floor separates "index works"
    // from "bucket assignment broken" with wide margin
    report.foreach { case (m, r) =>
      assert(r >= Curation.RecallFloor, s"$m recall collapsed: $r")
    }
    val gate = Curation.annRecallQ.run(spark, sf("sf0.001"))
      .collect().map(_.getString(0)).toSeq
    assert(gate == methods)
  }

  test("native SumSqDiff expression matches the higher-order reference bit-for-bit") {
    import graft.functions.Vec
    val v = emb.select(col("vec_id"), Vec.toDouble(col("embedding")).as("v"))
    val pairs = v.as("a").join(v.as("b"),
        col("a.vec_id") + 1 === col("b.vec_id"))
      .select(Vec.sumSqDiff(col("a.v"), col("b.v")).as("fast"),
        Vec.sumSqDiffHof(col("a.v"), col("b.v")).as("ref"))
    assert(pairs.filter(col("fast") =!= col("ref")).isEmpty)
  }

  test("vocab coverage + novelty are proper fractions and cover every doc") {
    val cov = Curation.coverageQ.run(spark, sf("sf0.001"))
    assert(cov.count() == docs.count())
    assert(cov.filter(col("coverage") < 0 || col("coverage") > 1).isEmpty)
    val nov = Curation.noveltyQ.run(spark, sf("sf0.001"))
    assert(nov.filter(col("novelty") < 0 || col("novelty") > 1).isEmpty)
    // novelty only covers docs with >= 2 tokens (bigrams exist)
    assert(nov.count() == docs.count())
  }

  test("curation scorecard: reasons decompose n_flags, keep == zero flags, " +
      "and each tail signal fires without dominating") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val rows = Curation.curationScorecard(docs, emb).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getInt(2), r.getString(3)))
    assert(rows.length == docs.count())
    rows.foreach { case (id, keep, n, reasons) =>
      val listed = if (reasons.isEmpty) 0 else reasons.split(",").length
      assert(listed == n, s"doc $id: '$reasons' vs $n")
      assert(keep == (n == 0), s"doc $id")
    }
    val dropped = rows.filter(!_._2)
    assert(dropped.nonEmpty)                    // the tails exist
    assert(dropped.length < rows.length / 2)    // ...and stay tails
    // the signals that fire on this corpus are the documented tail flags
    val fired = dropped.flatMap(_._4.split(",")).toSet
    assert(fired.subsetOf(Set("too_short", "repetitive", "exact_dup",
      "contaminated", "off_target", "embed_outlier")))
    assert(fired.contains("off_target") && fired.contains("embed_outlier"))
  }

  test("dsirWeights: zero when target == raw, and discriminates toward the " +
      "target domain on disjoint vocabularies") {
    import spark.implicits._
    // every doc is the target language -> p_target == p_raw -> weight 0
    val uniform = Seq((1L, "en", "a b a b a"), (2L, "en", "c d c d c"))
      .toDF("doc_id", "lang", "text")
    val u = Curation.dsirWeights(uniform).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(u == Map(1L -> 0L, 2L -> 0L))
    // disjoint vocab: the doc whose bigrams dominate the 'en' slice must
    // outscore the doc whose bigrams only appear in the raw distribution
    val mixed = Seq(
      (1L, "en", "a b a b a b a b"),
      (2L, "xx", "c d c d c d c d"),
      (3L, "xx", "a b a b c d c d"))   // half target-ish, half not
    val m = Curation.dsirWeights(mixed.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m(1L)._1 == 7 && m(2L)._1 == 7 && m(3L)._1 == 7) // bigram counts
    // ordering is the contract; absolute sign is not meaningful at this size
    // (add-one smoothing over 256 buckets dominates single-digit counts)
    assert(m(1L)._2 > m(3L)._2 && m(3L)._2 > m(2L)._2)
    // real corpus: weights exist for every doc and are not all equal
    val real = Curation.dsirWeights(docs).cache()
    try {
      assert(real.count() == docs.count())
      assert(real.select(col("weight_micro")).distinct().count() > 1)
      // en docs average above non-en docs: the score points at the target
      val byLang = real.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang") === "en").agg(avg(col("weight_micro")))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      assert(byLang(true) > byLang(false))
    } finally real.unpersist()
  }
}
