package graft.operators

import graft.SparkSpec

class RetrievalSpec extends SparkSpec {

  import spark.implicits._

  private def rank(docs: Seq[(Long, String)], terms: Seq[String], k: Int = 10) =
    Retrieval.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text", terms, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))

  test("bm25 matches a hand-computed single-term corpus") {
    // three docs, one query term; N=3, df=2, avgdl=(2+4+2)/3
    val docs = Seq(1L -> "cat dog", 2L -> "cat cat fish bird", 3L -> "fish bird")
    val got = rank(docs, Seq("cat")).toMap
    val n = 3.0; val df = 2.0; val avgdl = 8.0 / 3.0
    def bm25(tf: Double, dl: Double): Double = {
      val idf = (n - df + 0.5) / (df + 0.5)
      val s = idf * ((tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + (0.75 * dl) / avgdl)))
      math.floor(s * 1e4 + 0.5) / 1e4
    }
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == bm25(1, 2) && got(2L) == bm25(2, 4))
  }

  test("bm25 ranking properties: tf grows score, length normalizes it down") {
    val docs = Seq(
      1L -> "spark spark spark pad",   // tf=3, dl=4
      2L -> "spark other words here",  // tf=1, dl=4
      3L -> "spark other words here extra padding tokens making longer doc")
    val got = rank(docs, Seq("spark"))
    // higher tf at equal length wins; equal tf at longer length loses
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
  }

  test("multi-term scores are the sum of single-term scores") {
    val docs = Seq(
      1L -> "alpha beta gamma", 2L -> "alpha alpha delta", 3L -> "beta beta beta")
    val both = rank(docs, Seq("alpha", "beta")).toMap
    val a = rank(docs, Seq("alpha")).toMap
    val b = rank(docs, Seq("beta")).toMap
    // df of each term is identical in the joint and single-term runs (same
    // corpus), so the joint score decomposes exactly up to the final rounding
    docs.map(_._1).foreach { id =>
      val want = a.getOrElse(id, 0.0) + b.getOrElse(id, 0.0)
      assert(math.abs(both.getOrElse(id, 0.0) - want) <= 2e-4, s"doc $id")
    }
  }

  test("top-k truncates by score with doc_id tiebreak and is a TakeOrdered") {
    val docs = (1L to 30L).map(i => i -> (if (i % 2 == 0) "hit pad" else "miss pad"))
    val df = Retrieval.bm25TopK(docs.toDF("doc_id", "text"), "doc_id", "text",
      Seq("hit"), 5)
    // equal scores everywhere → the 5 smallest even ids
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L, 4L, 6L, 8L, 10L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("hybrid rrf: fused scores decompose into the two legs' ranks, " +
      "the query doc never retrieves itself, and both legs move the order") {
    val out = Retrieval.hybridQ.run(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.length == 30)                       // 3 queries x top-10
    assert(out.forall { case (q, d, _, _) => q != d })
    // every fused score must be expressible as 1/(60+rl) + 1/(60+rv) for
    // some integer rank pair — recover (rl, rv) by brute force
    val valid = (for (rl <- 1 to 500; rv <- 1 to 500)
      yield math.floor((1.0 / (60 + rl) + 1.0 / (60 + rv)) * 1e6 + 0.5) / 1e6).toSet
    out.foreach { case (_, d, rrf, _) =>
      assert(valid.contains(rrf), s"doc $d score $rrf") }
    // rank column is dense 1..10 per query
    out.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1 to 10))
    }
  }

  test("weighted bm25: half weight halves a term's contribution") {
    val docs = Seq(
      1L -> "alpha beta gamma", 2L -> "alpha alpha delta", 3L -> "beta beta beta")
    val full = rank(docs, Seq("alpha")).toMap
    val half = Retrieval.bm25TopKWeighted(docs.toDF("doc_id", "text"),
        "doc_id", "text", Seq("alpha" -> 0.5), 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    full.foreach { case (id, s) =>
      assert(math.abs(half(id) - 0.5 * s) <= 1e-4, s"doc $id")
    }
  }

  test("prf expansion surfaces a doc that shares no literal query term") {
    // feedback docs carry all three query terms plus the marker "assoc";
    // doc 100 contains ONLY the marker, so stage-1 BM25 scores it zero and
    // PRF must rank it through the learned expansion term
    // 8 feedback docs: they all fit in the final top-10 alongside the
    // marker-only doc (their literal-term scores dominate its expanded one)
    val docs =
      (0L until 8L).map(i => (i, "vector stream window assoc")) ++
        Seq(100L -> "assoc assoc assoc") ++
        (200L until 230L).map(i => (i, "noise filler text"))
    val tmp = java.nio.file.Files.createTempDirectory("prf_fixture").toString
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(tmp + "/documents.parquet")
    val res = Retrieval.prfQ.run(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // descending score, doc_id tiebreak, at most the configured top-k
    assert(res.length <= 10)
    res.sliding(2).foreach {
      case Array((i1, s1), (i2, s2)) =>
        assert(s1 > s2 || (s1 == s2 && i1 < i2), s"order at $i1/$i2")
      case _ =>
    }
    val ids = res.map(_._1).toSet
    assert(ids.contains(100L), s"expansion missed the marker-only doc: $ids")
    // pure-noise docs share no term with the expanded query: never ranked
    assert(ids.forall(_ < 200L), s"noise doc ranked: $ids")
  }

  test("phrase_search_positions matches a per-doc sequential scan and " +
      "plans as an equi-join (no nested-loop/cartesian)") {
    val df = Retrieval.phraseQ.run(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val got = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val t = r.getString(1).trim.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+")
        val hits = (0 until t.length - 1).filter(i =>
          t(i) == Retrieval.PhraseW1 && t(i + 1) == Retrieval.PhraseW2)
        if (hits.isEmpty) None
        else Some(r.getLong(0) -> ((hits.length.toLong, hits.min + 1L)))
      }.toMap
    assert(want.nonEmpty, "fixture corpus contains no phrase hits")
    assert(got == want)
  }
}
