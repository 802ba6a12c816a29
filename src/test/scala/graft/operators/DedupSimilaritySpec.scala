package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Pins the non-oracled (approximate) operators against their exact
  * counterparts on the real sf0.001 tables. */
class DedupSimilaritySpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sf("sf0.001")).cache()
  private lazy val emb = Tables.embeddings(spark, sf("sf0.001")).cache()

  test("native ShingleHashes equals the typed fnv64 reference, per-doc " +
      "distinct, on edge cases and the real corpus") {
    def fnv64(s: String): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
      h
    }
    def reference(t: String, n: Int): Set[Long] = {
      val toks = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      if (toks.length < n) Set.empty
      else toks.sliding(n).map(g => fnv64(g.mkString(" "))).toSet
    }
    val cases = Seq(
      ("a b c d e", 3), ("  Mixed CASE   spacing\ttabs  ", 2),
      ("short", 3), ("", 3), ("x x x x x", 2), // duplicate windows collapse
      ("Ünïcode ÅÄÖ tokens here", 2), ("one two", 2))
    cases.foreach { case (t, n) =>
      val got = graft.functions.ShingleHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), n)
        .toLongArray().toSet
      assert(got == reference(t, n), s"'$t' n=$n")
    }
    // full corpus, through the Spark pipeline (codegen path)
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val got = Dedup.shingleIndexHashed(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = docs.select(col("doc_id"), col("text")).collect()
      .flatMap(r => reference(r.getString(1), 3).map(h => (r.getLong(0), h)))
      .toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("minhash+LSH finds the exact-jaccard pair set on this corpus") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8,
        maxDf = Dedup.Uncapped)
      .select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashDedup(docs, "doc_id", "text", 3, 32, 8, 0.8)
      .select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // exact-verification guarantees no false positives
    assert(exact.nonEmpty)
    // 0.8^4=0.41 per band; miss prob (1-0.41)^8 ~ 1.5% per pair at the
    // threshold, ~0 at this corpus's observed 0.98 similarities
    assert(lsh == exact)
  }

  test("containment: a verbatim-subset doc scores 1.0 toward its container, " +
      "and pairs match a brute-force set computation") {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val corpus = Seq(
      1L -> base,                                   // subset of 2
      2L -> (base + " x1 x2 x3 x4 x5 x6 x7 x8"),    // container
      3L -> "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10")       // unrelated
    val got = Dedup.containmentPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", 8, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force over token-8-gram sets
    def sh(t: String) = t.split(" ").sliding(8).map(_.mkString(" ")).toSet
    val sets = corpus.toMap.view.mapValues(sh).toMap
    for (i <- sets.keys; j <- sets.keys if i != j) {
      val inter = (sets(i) & sets(j)).size
      val want = math.floor(inter.toDouble / sets(i).size * 1e4 + 0.5) / 1e4
      if (inter > 0) assert(got((i, j)) == want, s"($i,$j)")
      else assert(!got.contains((i, j)), s"($i,$j)")
    }
    assert(got((1L, 2L)) == 1.0) // full subset
    assert(got((2L, 1L)) < 1.0)  // asymmetric: container side is diluted
  }

  test("wide band-pair geometry returns exactly the single-band pair set") {
    val fp = Dedup.simHash(docs, "doc_id", "text").cache()
    try {
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("i"), col("j"), col("dist")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val narrow = pairs(Dedup.hammingPairs(fp, maxDist = 3))
      val wide = pairs(Dedup.hammingPairsWide(fp, maxDist = 3))
      assert(wide == narrow) // exact recall is structural in both geometries
      assert(narrow.nonEmpty) // the corpus actually exercises the join
      // recall guarantee needs bands >= maxDist + 2
      assertThrows[IllegalArgumentException](
        Dedup.hammingPairsWide(fp, maxDist = 3, bands = 4))
    } finally fp.unpersist()
  }

  test("tiered LSH geometry: 4 rows/band at every tier, bands monotone in " +
      "corpus size, measured tier assignments pinned") {
    // the r11 sf10 boundary law: lshGeometry keeps the t^4 threshold shape
    // (4 rows/band) and only ever ADDS bands as the corpus grows (more
    // bands = strictly lower per-pair escape, so recall never regresses
    // under growth); the tier assignments that were MEASURED exact are
    // pinned so a future re-tune can't silently shrink them
    var prevBands = 0
    for (n <- Seq(1L, 50000L, 100000L, 100001L, 2000000L, 2000001L, 20000000L)) {
      val (h, b) = Dedup.lshGeometry(n)
      assert(h == 4 * b, s"tier at $n docs broke the 4-rows/band law: $h/$b")
      assert(b >= prevBands, s"bands shrank at $n docs: $b < $prevBands")
      prevBands = b
    }
    assert(Dedup.lshGeometry(50000L) == ((48, 12)))   // sf1, measured 2066/2066
    assert(Dedup.lshGeometry(500000L) == ((80, 20)))  // sf10, measured 20657/20657
    assert(Dedup.lshGeometry(5000000L) == ((112, 28))) // pre-provisioned headroom
  }

  test("hot-bucket escalation keeps exact recall: maxBucket=2 forces every " +
      "bucket through the rest-sub-band path, pair set unchanged") {
    // r11 sf10 regression: the old cap DROPPED hot buckets (796 of 87,896
    // true pairs lost at 500k docs). With maxBucket=2 on the real corpus
    // nearly every bucket escalates, so the escalation path itself — the
    // packed-complement sub-banding — must reproduce the uncapped ground
    // truth exactly, in both geometries.
    val fp = Dedup.simHash(docs, "doc_id", "text").cache()
    try {
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("i"), col("j"), col("dist")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val truthN = pairs(Dedup.hammingPairs(fp, maxDist = 3, maxBucket = 0))
      assert(truthN.nonEmpty)
      assert(pairs(Dedup.hammingPairs(fp, maxDist = 3, maxBucket = 2))
        == truthN, "narrow escalation lost or invented pairs")
      assert(pairs(Dedup.hammingPairsWide(fp, maxDist = 3, maxBucket = 2))
        == truthN, "wide escalation lost or invented pairs")
    } finally fp.unpersist()
  }

  test("SECOND-level escalation: a level-1 sub-group still past maxBucket " +
      "re-keys by the remaining complement — recall survives when the " +
      "level-2 groups are a true pair's only meeting point") {
    import spark.implicits._
    // Discriminating fixture for the r12 level-2 re-key (maxDist=2, narrow
    // geometry: 3 bands of 20 bits; band-0's rest = orig bits 20..59 with
    // level-1 sub-bands of 13 — s0=20..32, s1=33..45, s2=46..58, leftover
    // 59). Every print shares band 0 (orig 0..19) AND s0, so with
    // maxBucket=2 the (band0, s0) group — size 6 — is hot after level 1
    // and MUST split again. Both true pairs break bands 1 and 2, so the
    // escalation chain is their only route:
    //   (x,y): bits 35 (s1) and 47 (s2) -> shares ONLY the hot s0 group;
    //          inside it rest2 = orig 33..59 splits 9/9/9, 35 and 47 break
    //          the first two -> found via the third alone;
    //   (x,v): bits 36 (s1) and 59 (the level-1 LEFTOVER bit) -> shares
    //          the hot s0 group AND a hot s2 group {x,v,d2}; in the latter
    //          rest2 repacks the leftover bit 59 next to orig 20..45, so a
    //          wrong per-row excision shift would misplace it.
    // A broken rest2 expr loses a pair; pre-level-2 code passes too (the
    // hot group expands whole), so this pins "level 2 never loses what
    // level 1 found" — the safety property — under fixtures that thread
    // every structural case (both broken sub-bands, leftover repacking).
    val base = 0x0123456789ABCDEL & ((1L << 60) - 1)
    val x = base
    val y = base ^ (1L << 35) ^ (1L << 47)
    val v = base ^ (1L << 36) ^ (1L << 59)
    val d1 = base ^ (7L << 52)
    val d2 = base ^ (7L << 42)
    val d3 = base ^ (0x15L << 49)
    val fps = Seq(1L -> x, 2L -> y, 3L -> v, 4L -> d1, 5L -> d2, 6L -> d3)
    def dist(p: Long, q: Long) = java.lang.Long.bitCount(p ^ q)
    val truth = (for {
      (i, p) <- fps; (j, q) <- fps
      if i < j && dist(p, q) <= 2
    } yield (i, j, dist(p, q))).toSet
    assert(truth == Set((1L, 2L, 2), (1L, 3L, 2)), s"fixture drifted: $truth")
    val fp = fps.toDF("doc_id", "simhash")
    val got = Dedup.hammingPairs(fp, maxDist = 2, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == truth, s"narrow level-2 escalation broke recall: $got")
    val gotW = Dedup.hammingPairsWide(fp, maxDist = 2, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotW == truth, s"wide level-2 escalation broke recall: $gotW")
  }

  test("dedup_recall_report: all three scale paths clear the floor; LSH and capped are complete") {
    val report = Dedup.dedupRecallReport(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(report.keySet == Set("minhash_lsh", "jaccard_capped", "simhash_d3"))
    report.foreach { case (m, r) =>
      assert(r >= Dedup.DedupRecallFloor, s"$m recall collapsed: $r")
    }
    // structural completeness, not just floor-clearing: banding and the df
    // cap provably drop nothing on this corpus (differential tests above)
    assert(report("minhash_lsh") == 1.0)
    assert(report("jaccard_capped") == 1.0)

    // the sampled (100 TB) form restricts ground truth and methods to the
    // SAME hash sample, so complete methods stay complete on the sample
    val sampled = Dedup.dedupRecallReport(docs, sampleMod = 2L).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    sampled.get("minhash_lsh").foreach(r => assert(r == 1.0, s"sampled lsh $r"))
    sampled.get("jaccard_capped").foreach(r => assert(r == 1.0))
  }

  test("simhash: near-dup pairs sit at small hamming distance, random pairs far") {
    val fp = Dedup.simHash(docs, "doc_id", "text").cache()
    val nearPairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8,
      maxDf = Dedup.Uncapped)
    val joined = nearPairs
      .join(fp.select(col("doc_id").as("i"), col("simhash").as("ha")), Seq("i"))
      .join(fp.select(col("doc_id").as("j"), col("simhash").as("hb")), Seq("j"))
      .select(Dedup.hamming(col("ha"), col("hb")).as("d"))
    val maxNear = joined.agg(max(col("d"))).head().getInt(0)
    assert(maxNear <= 16, s"near-dup hamming too large: $maxNear")
    val randomMean = fp.as("x").join(fp.as("y"),
        col("x.doc_id") + 1 === col("y.doc_id"))
      .select(Dedup.hamming(col("x.simhash"), col("y.simhash")).as("d"))
      .agg(avg(col("d"))).head().getDouble(0)
    assert(randomMean > 16, s"random-pair hamming too small: $randomMean")
  }

  test("multi-probe LSH ANN: every reported neighbor matches brute-force " +
    "cosine, with useful recall") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.annBruteForce(queries, emb, 10)
      .select(col("q_id"), col("vec_id"), col("cosine")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approx = Similarity.annLsh(queries, emb, 6, 10, 64)
      .select(col("q_id"), col("vec_id"), col("cosine")).collect()
    assert(approx.nonEmpty)
    // cosine values must agree exactly where both report the pair
    val full = Similarity.annBruteForce(queries, emb, Int.MaxValue)
      .select(col("q_id"), col("vec_id"), col("cosine")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    approx.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(full.contains(k) && math.abs(full(k) - r.getDouble(2)) < 1e-12)
    }
    val recall = approx.map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains).toDouble / exact.size
    assert(recall > 0.1, s"recall collapsed: $recall") // single-table LSH floor
  }

  test("IVF ANN: every reported neighbor matches brute-force cosine exactly") {
    val queries = emb.filter(col("vec_id") < 5)
    val full = Similarity.annBruteForce(queries, emb, Int.MaxValue)
      .select(col("q_id"), col("vec_id"), col("cosine")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.annIvfSqrt(queries, emb, nProbe = 3, k = 10)
      .select(col("q_id"), col("vec_id"), col("cosine")).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(full.contains(key) && math.abs(full(key) - r.getDouble(2)) < 1e-12)
    }
    // each query reports a full k from its probed cells
    assert(ivf.groupBy(_.getLong(0)).forall(_._2.length == 10))
  }

  test("native DotProduct expression matches the higher-order reference bit-for-bit") {
    import graft.functions.Vec
    val pairs = Similarity.withNorm(emb).as("a")
      .join(Similarity.withNorm(emb).as("b"),
        col("a.vec_id") + 1 === col("b.vec_id"))
      .select(Vec.dot(col("a.v"), col("b.v")).as("fast"),
        Vec.dotHof(col("a.v"), col("b.v")).as("ref"))
    assert(pairs.filter(col("fast") =!= col("ref")).isEmpty)
  }

  test("media decodeStub (typed mapPartitions) equals the column-expression query") {
    val viaStub = graft.multimodal.Media.decodeStub(
      graft.multimodal.Media.asMedia(spark, sf("sf0.001")))
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"))
    val viaColumns = graft.multimodal.Media.metadataQ.run(spark, sf("sf0.001"))
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"))
    assert(viaStub.exceptAll(viaColumns).isEmpty && viaColumns.exceptAll(viaStub).isEmpty)
  }

  test("pca power step: unit-norm loadings matching an in-memory reference") {
    val got = Similarity.pcaStepQ.run(spark, sf("sf0.001")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 64)
    assert(math.abs(got.values.map(v => v * v).sum - 1.0) < 1e-4, "unit norm")
    // in-memory reference: same two-pass power update from the same seed
    val vecs = emb.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val d = 64
    val s = vecs.map(v => v.sum / math.sqrt(d))
    val v1 = Array.tabulate(d)(j => vecs.indices.map(i => s(i) * vecs(i)(j)).sum)
    val nrm = math.sqrt(v1.map(x => x * x).sum)
    (0 until d).foreach { j =>
      assert(math.abs(got(j.toLong) - v1(j) / nrm) < 1e-5, s"component $j")
    }
    // the update moved mass off the uniform seed (a real spectral direction)
    val uniform = 1.0 / math.sqrt(d)
    assert(got.values.exists(v => math.abs(v - uniform) > 0.01))
  }

  test("pcm frame energy matches a direct per-doc reference computation") {
    import graft.multimodal.Media
    val got = Media.pcmFrameEnergy(Media.asMedia(spark, sf("sf0.001")), 256)
      .collect().map(f => (f.doc_id, f.frame_idx) -> f.energy).toMap
    val ref = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("text")).collect().flatMap { r =>
        val b = r.getString(1).getBytes("UTF-8")
        (0 until b.length / 256).map { f =>
          val sum = (0 until 128).map { j =>
            val s = (((b(256 * f + 2 * j) & 0xFF) << 8) |
              (b(256 * f + 2 * j + 1) & 0xFF)) - 32768
            s.toLong * s
          }.sum
          (r.getLong(0), f.toLong) -> sum.toDouble / 128
        }
      }.toMap
    assert(got == ref)          // bit-exact: integer sum / power-of-two
    assert(got.nonEmpty)
    // a frame of pure silence (payload of zero bytes) maxes the centered
    // energy; ASCII text sits far below it
    assert(got.values.forall(e => e > 0 && e < 32768.0 * 32768.0))
  }

  test("paragraphDedup: first global occurrence survives, later copies are " +
      "rewritten out, unique docs round-trip verbatim") {
    import spark.implicits._
    val pA = (1 to 16).map(i => s"a$i").mkString(" ")   // one full paragraph
    val pB = (1 to 16).map(i => s"b$i").mkString(" ")
    val pC = (1 to 16).map(i => s"c$i").mkString(" ")
    val corpus = Seq(
      1L -> s"$pA $pB",      // doc 1 owns A and B
      2L -> s"$pB $pC",      // B is a later copy -> rewritten to just C
      3L -> pC)              // C first occurs in doc 2 -> doc 3 empties
    val got = Dedup.paragraphDedup(corpus.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((2L, 2L, s"$pA $pB")))
    assert(got(2L) == ((2L, 1L, pC)))
    assert(got(3L) == ((1L, 0L, "")))
    // real corpus invariants: kept paragraphs == distinct paragraph count,
    // and a doc's rewrite is a subsequence of its own token stream
    val real = Dedup.paragraphDedup(docs, "doc_id", "text").cache()
    try {
      val kept = real.agg(sum(col("n_kept"))).head.getLong(0)
      val total = real.agg(sum(col("n_paras"))).head.getLong(0)
      assert(kept < total)                  // the corpus has repeated paragraphs
      val distinctParas = docs.select(col("doc_id"), col("text")).collect()
        .flatMap { r =>
          r.getString(1).trim.toLowerCase.split("\\s+").grouped(16)
            .map(_.mkString(" "))
        }.distinct.length
      assert(kept == distinctParas)         // exactly one survivor per paragraph
    } finally real.unpersist()
  }

  test("new-shard dedup returns EXACTLY the cross-side slice of the full " +
      "exact pair set — old x old pairs never appear") {
    val full = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8,
        maxDf = Dedup.Uncapped)
      .select(col("i"), col("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val isNew = docs.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> (r.getString(1) == Dedup.NewShardSource)).toMap
    val want = full.filter { case (i, j) => isNew(i) != isNew(j) }
    val got = Dedup.minHashDedupNewShard(docs, "doc_id", "text", 3, 32, 8,
        0.8, col("source") === Dedup.NewShardSource)
      .select(col("i"), col("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < full.size) // a strict, non-empty slice
  }

  test("the sizing laws pick stride 25 on sf0.001's 500 vectors: 20 IVF " +
      "cells and 20 k-means seeds, the codebook the index tests check") {
    assert(emb.count() == 500L)
    val every25th = (0L until 500L by 25L).toSeq
    val cells = Similarity.coarseCentroidsSqrt(Similarity.withNorm(emb))
      .select(col("c_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(cells == every25th)
    assert(Similarity.kmeansStride(emb).head().getLong(0) == 25L)
    val seeds = Similarity.kmeansUpdateFixedK(emb).select(col("c_id"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    assert(seeds == every25th)
  }

  test("kmeansIterateFixedK step 1 equals the array-form kmeansUpdateFixedK " +
      "means (long-format vs broadcast-array implementations cross-validate)") {
    val it = Similarity.kmeansIterateFixedK(emb, steps = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val up = Similarity.kmeansUpdateFixedK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(it == up)
    assert(it.nonEmpty)
  }

  test("embedding outliers: flags are exactly dist > mean + 1*stddev, " +
      "distances are valid cosine distances, and some vectors flag") {
    val rows = Similarity.embeddingOutliersSqrt(emb, zThresh = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(rows.length == emb.count())
    assert(rows.forall { case (_, _, d, _) => d >= 0.0 && d <= 2.0 })
    val dists = rows.map(_._3)
    val m = dists.sum / dists.length
    val sd = math.sqrt(dists.map(d => (d - m) * (d - m)).sum / (dists.length - 1))
    val thr = math.floor((m + sd) * 1e4 + 0.5) / 1e4
    rows.foreach { case (id, _, d, f) => assert(f == d > thr, s"vec $id") }
    assert(rows.count(_._4) > 0)            // the rule actually fires here
    assert(rows.count(_._4) < rows.length / 10) // ...and stays a tail flag
  }

  test("temperature mix: rates order INVERSELY to source token mass " +
      "(low-resource up-weighted) and kept docs respect each source's rate") {
    val out = graft.operators.TextAnalysis.corpusMixTemperature
      .run(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val mass = docs.select(col("source"), col("text")).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getString(1).trim.split("\\s+").length.toLong).sum)
      .toMap
    val rate = out.groupBy(_._2).view.mapValues(_.head._3).toMap
    // alpha < 1 => rate strictly decreasing in token mass
    for (a <- rate.keys; b <- rate.keys if mass(a) < mass(b))
      assert(rate(a) > rate(b), s"$a vs $b")
    // every source survives (that is the point of temperature sampling)
    assert(rate.keySet == mass.keySet)
    // kept fraction per source tracks its rate (binomial, wide tolerance)
    val keptBySrc = out.groupBy(_._2).view.mapValues(_.length).toMap
    val nDocs = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    keptBySrc.foreach { case (s, k) =>
      val expect = rate(s) * nDocs(s)
      assert(math.abs(k - expect) < 0.35 * nDocs(s), s"source $s: $k vs $expect")
    }
  }

  test("semDedupSqrt verdicts match a per-cell brute force; dup_of is the " +
      "earliest same-cell witness") {
    val verdicts = Similarity.semDedupSqrt(emb, tau = 0.35)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(verdicts.values.exists(!_._2))   // the corpus actually drops some
    // brute-force reference: same assignment rule (rounded argmax, id tie)
    val vecs = emb.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      r.getLong(0) -> v
    }.sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val c = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      math.floor(c * 1e6 + 0.5) / 1e6
    }
    // stride 25: the √n law's pick on these 500 vectors (pinned above)
    val cents = vecs.filter(_._1 % 25 == 0)
    val cellOf = vecs.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cos(v, cv), -cid) }.zip(cents.map(_._1))
        .maxBy(_._1)._2
    }.toMap
    val byId = vecs.toMap
    vecs.foreach { case (id, _) =>
      val (cell, kept, dupOf) = verdicts(id)
      assert(cell == cellOf(id), s"cell of $id")
      val witnesses = vecs.collect { case (j, w)
        if j < id && cellOf(j) == cell && cos(byId(id), w) >= 0.35 => j }
      if (witnesses.isEmpty) assert(kept && dupOf == -1L, s"vec $id")
      else assert(!kept && dupOf == witnesses.min, s"vec $id")
    }
  }

  test("lshCandidates maxBucket guard: a degenerate exact-duplicate corpus " +
      "FAILS LOUDLY instead of silently dropping pairs; clean corpora and " +
      "the diagnostic twin are undisturbed") {
    import spark.implicits._
    // 50k byte-identical docs: un-exact-deduped worst case — every doc lands
    // in the SAME bucket in EVERY band. Uncapped, that is one 50k-id array
    // in one task expanding ~1.25e9 pairs; pre-r12 the cap SKIPPED those
    // buckets (silent loss of 1.25e9 TRUE pairs — every member is an exact
    // dup); as of r12 the cap raises with operator guidance instead.
    val degenerate = (1L to 50000L)
      .map(i => (i, "alpha beta gamma delta epsilon zeta"))
    // plus one genuine near-dup pair in small buckets (distinct text, high
    // 3-shingle overlap)
    val near = Seq(
      100001L -> "one two three four five six seven eight nine ten",
      100002L -> "one two three four five six seven eight nine eleven")
    val docs = (degenerate ++ near).toDF("doc_id", "text")
    val sh = Dedup.shingleIndexHashed(docs, "doc_id", "text", 3).cache()
    val sig = Dedup.minHashSignatures(sh, 32)
    val ex = intercept[Throwable] {
      Dedup.lshCandidates(sig, bands = 8, rowsPerBand = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("exceeds maxBucket")),
      s"expected the hot-bucket raise, got: $ex")
    // a clean corpus (the near pair alone) is untouched by the guard
    val cleanSh = Dedup.shingleIndexHashed(near.toDF("doc_id", "text"),
      "doc_id", "text", 3).cache()
    val cleanPairs = Dedup.lshCandidates(
      Dedup.minHashSignatures(cleanSh, 32), bands = 8, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cleanPairs == Set((100001L, 100002L)))
    // the diagnostic twin still reports exactly what trips the cap: the
    // degenerate group's bucket in each of the 8 bands, population 50k
    val dropped = Dedup.lshDroppedBuckets(sig, bands = 8, rowsPerBand = 4)
      .collect().map(r => (r.getInt(0), r.getInt(2)))
    assert(dropped.length == 8 && dropped.forall(_._2 == 50000), dropped.toSeq)
    cleanSh.unpersist()
    sh.unpersist()
  }

  test("truncated-rerank ANN: reported cosines are the exact full-dim " +
      "values, and recall@10 vs brute force is high at candK=20% of corpus") {
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.annBruteForce(queries, emb, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = Similarity.annTruncatedRerank(queries, emb, 16, 100, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // stage 2 is exact: any (q, v) pair also in the exact top-10 must carry
    // the identical rounded cosine
    got.foreach { case (k, c) =>
      exact.get(k).foreach(ec => assert(c == ec, s"$k: $c vs exact $ec"))
    }
    val recall = got.keySet.intersect(exact.keySet).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("dedup_keep_best: one keeper per cluster, and it is the max-quality " +
      "member (doc_id tiebreak); clusters agree with dedup_clusters") {
    val rows = Dedup.keepBestQ.run(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val clusters = rows.groupBy(_._2)
    clusters.foreach { case (c, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.length == 1, s"cluster $c has ${keepers.length} keepers")
      val best = members.minBy(m => (-m._3, m._1))
      assert(keepers.head._1 == best._1,
        s"cluster $c kept ${keepers.head._1}, best is ${best._1}")
    }
    // non-singleton clusters match dedup_clusters' component labels
    val fromClusters = Dedup.clustersQ.run(spark, sf("sf0.001")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(r => clusters(r._2).length > 1).foreach { case (id, c, _, _) =>
      assert(fromClusters(id) == c, s"doc $id cluster drifted")
    }
    assert(clusters.exists(_._2.length > 1)) // corpus has real near-dup groups
  }

  test("lshCandidates emits no self-pairs even when the signature input " +
      "carries duplicate doc_id rows") {
    import spark.implicits._
    // public-API edge: callers owe one row per doc_id, but a duplicated row
    // must degrade to the same pair set, never an (i,i) self-pair
    val sig = Seq((1L, 7L, 7L, 7L, 7L), (1L, 7L, 7L, 7L, 7L),
        (2L, 7L, 7L, 7L, 7L))
      .toDF("doc_id", "h0", "h1", "h2", "h3")
    val pairs = Dedup.lshCandidates(sig, bands = 2, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }
}
