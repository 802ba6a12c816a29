package graft.operators

import graft.QueryDef
import graft.functions.{Num, Text}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators (SURVEY.md §7.6 north star): exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. Reusable DataFrame transforms parameterized
  * by (id, text) columns; QueryDefs at the bottom bind them to `documents`.
  *
  * Scale design (100 TB):
  *   - exact dedup groups by md5(text), not text: 16-byte shuffle keys
  *     instead of document bodies crossing the wire;
  *   - n-gram Jaccard builds an inverted shingle index and joins on shingle —
  *     never an all-pairs product; a document-frequency cap (`maxDf`) drops
  *     stop-shingles that would otherwise create quadratic hot keys (skew);
  *   - MinHash replaces per-pair shingle intersection with fixed-width
  *     signatures (one groupBy) + LSH banding, so candidate generation is an
  *     equi-join on band hashes; exact Jaccard runs only on candidates;
  *   - SimHash is a single groupBy producing one 64-bit fingerprint per doc.
  */
object Dedup {

  /** Default hot-shingle document-frequency cap for the inverted-index pair
    * joins. A shingle appearing in d docs yields ~d²/2 candidate pairs; at
    * 1000 the worst single shingle costs ~500k rows — bounded and
    * re-partitionable — while shingles that common carry no near-dup signal
    * anyway (they're stop-phrases). */
  val DefaultMaxDf = 1000L

  /** Explicit opt-out of the [[DefaultMaxDf]] skew guard — oracle baselines
    * only; on an uncurated corpus this re-opens the quadratic hot-key path. */
  val Uncapped = 0L

  /** Default cap on LSH band-bucket population ([[lshCandidates]]). A bucket
    * of d docs expands d²/2 candidate pairs from ONE aggregation row in ONE
    * task, so an un-exact-deduped corpus (every byte-identical copy shares
    * every band) concentrates the whole blowup in a single executor. 1000
    * bounds the worst bucket at ~500k pairs — the same envelope as
    * [[DefaultMaxDf]] — while any bucket that populous carries no locality
    * signal a tuned banding would produce. */
  val DefaultMaxBucket = 1000

  /** Default MinHash/LSH geometry for the ≥0.8-Jaccard operating point.
    * 32 hashes / 8 bands passed the exact oracle up to sf0.1, but the r10
    * sf1 sweep measured its recall CEILING: at 50k docs (2066 true pairs)
    * exactly 2 pairs escaped all 8 bands — the analytic (1−j⁴)⁸ ≈ 1.5%
    * per-pair escape at j = 0.8 finally materializing at corpus scale.
    * 48 hashes / 12 bands drops the escape to (1−j⁴)¹² ≈ 0.2% — measured
    * 2066/2066 at sf1 for +1.2% candidate volume (2515 vs 2485) and 1.5×
    * signature work, which the exact-verify stage amortizes. The oracle
    * stays the exact ground truth, so any future recall shortfall at a
    * bigger scale surfaces as a gate mismatch again, by design. */
  val LshNumHashes = 48
  val LshBands = 12

  /** Exact duplicate groups: content hash → surviving id + multiplicity. */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(md5(col(text)).as("text_hash"))
      .agg(min(col(id)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** FNV-1a 64-bit over a string — collapses shingle strings to 8-byte join
    * keys. At 100 TB the pair join and signature aggregation shuffle hashes,
    * not n-gram text (~3× narrower rows); a collision across distinct
    * shingles is ~|shingles|²/2⁶⁵ — and would surface as an oracle hash
    * mismatch, not silent corruption. */
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Inverted shingle index: (doc_id, shingle), distinct per doc.
    * `maxDf` > 0 drops shingles appearing in more than that many docs —
    * the skew guard for hot n-grams at scale.
    *
    * Typed flatMap rather than the Column form (`explode(transform(sequence,
    * i -> concat_ws(element_at(toks, i+k)...)))`): Catalyst inlines the
    * un-named `toks` subexpression into every element_at inside the lambda,
    * re-running the regex split ~3× per shingle — measured 16× slower than
    * this per-partition Scala pass at sf0.1. Tokenization matches the oracle:
    * trim → lowercase → split on \s+. */
  private def shingleIndexAs[T](
      df: DataFrame, id: String, text: String, n: Int, maxDf: Long,
      shingle: String => T)(implicit te: org.apache.spark.sql.Encoder[T]): DataFrame = {
    import df.sparkSession.implicits._
    implicit val pairEnc: org.apache.spark.sql.Encoder[(Long, T)] =
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong, te)
    val sh = df.select(col(id).cast("long").as("doc_id"), col(text).as("t"))
      .as[(Long, String)]
      .flatMap { case (docId, t) =>
        val toks = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        if (toks.length < n) Iterator.empty
        else toks.sliding(n).map(g => (docId, shingle(g.mkString(" ")))).toSeq.distinct
      }.toDF("doc_id", "s")
    capMaxDf(sh, maxDf)
  }

  /** `maxDf` skew guard shared by the index builders: drops shingles hotter
    * than the cap via a broadcast anti join. The base index feeds both the
    * hot-shingle aggregation and the anti join — cache it or the index pass
    * runs twice. */
  private def capMaxDf(sh: DataFrame, maxDf: Long): DataFrame =
    if (maxDf <= 0) sh
    else {
      val cached = sh.cache()
      val hot = cached.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select(col("s"))
      cached.join(broadcast(hot), Seq("s"), "left_anti")
    }

  def shingleIndex(df: DataFrame, id: String, text: String, n: Int,
      maxDf: Long = 0L): DataFrame = {
    import df.sparkSession.implicits._
    shingleIndexAs(df, id, text, n, maxDf, identity[String])
  }

  /** [[shingleIndex]] with shingles pre-hashed to longs — the set-similarity
    * pipelines never need the n-gram text, only set membership, so they
    * join/aggregate on 8-byte keys. Runs on the native codegen
    * [[graft.functions.ShingleHashes]] expression (identical FNV stream to
    * [[fnv64]] over the joined window — hashes and oracles unchanged), so
    * the hottest dedup pass stays inside WholeStageCodegen instead of
    * paying the typed flatMap's per-doc serialization boundary. */
  def shingleIndexHashed(df: DataFrame, id: String, text: String, n: Int,
      maxDf: Long = 0L): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge
    val sh = df.select(col(id).cast("long").as("doc_id"),
      explode(GraftExpressionBridge.column(graft.functions.ShingleHashes(
        GraftExpressionBridge.expression(col(text)), n))).as("s"))
    capMaxDf(sh, maxDf)
  }

  private def shingleCounts(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

  /** Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.
    * Jaccard is computed on the rounded value so threshold selection is
    * engine-stable.
    *
    * `maxDf` defaults to [[DefaultMaxDf]]: a shingle shared by d documents
    * contributes d² candidate rows to the pair join, so ONE hot n-gram
    * ("all rights reserved") can turn the inverted-index join quadratic on a
    * web corpus. The capped form is the production entry point; pass
    * `maxDf = Uncapped` ONLY for oracle baselines on corpora known to have
    * no hot shingles (the uncapped all-pairs answer is what the capped form
    * is graded against). */
  def jaccardPairs(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double, maxDf: Long = DefaultMaxDf): DataFrame =
    // cached: reused by the pair self-join and both count joins; hashed
    // keys — the pair join shuffles 8-byte shingle hashes, not n-gram text
    jaccardFromIndex(shingleIndexHashed(df, id, text, n, maxDf).cache(),
      threshold)

  /** The Jaccard pair pipeline over a PREBUILT (doc_id, s) shingle index —
    * lets callers that need several cap variants of the same corpus (e.g.
    * [[dedupRecallReport]]) shingle once and derive, instead of re-scanning
    * the corpus per variant. Caller owns caching of `sh`. */
  private def jaccardFromIndex(sh: DataFrame, threshold: Double): DataFrame = {
    val cnt = shingleCounts(sh)
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
    pairs
      .join(cnt.as("na"), col("i") === col("na.doc_id"))
      .join(cnt.as("nb"), col("j") === col("nb.doc_id"))
      .select(col("i"), col("j"),
        Num.pround(col("c").cast("double") /
          (col("na.n") + col("nb.n") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Directed containment pairs: containment(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|.
    * The asymmetric cousin of Jaccard — it flags near-SUBSET documents (a doc
    * wholly quoted inside a larger one scores 1.0 toward the container while
    * the symmetric Jaccard can stay arbitrarily low), which is how
    * sub-document plagiarism/quotation dedup is done. Same inverted-index
    * equi-join shape as [[jaccardPairs]]; emits BOTH directions of a pair,
    * since containment(A→B) ≠ containment(B→A). `maxDf` is the hot-shingle
    * skew guard for the 100 TB path. */
  def containmentPairs(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double, maxDf: Long = 0L): DataFrame = {
    val sh = shingleIndexHashed(df, id, text, n, maxDf).cache()
    val cnt = shingleCounts(sh)
    sh.as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))
      .join(cnt.as("na"), col("i") === col("na.doc_id"))
      .select(col("i"), col("j"),
        Num.pround(col("c").cast("double") / col("na.n"), 4).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** MinHash signatures: numHashes column-wise mins of seeded xxhash64 over
    * the shingle set — one shuffle, partial aggregation map-side. */
  def minHashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes)
      .map(i => min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: hash rowsPerBand signature slots per band; docs colliding
    * in any band become candidate pairs.
    *
    * Bucket-aggregation form, not a self-join on (band, bandHash): group each
    * band bucket, collect its (sorted) doc ids, and expand intra-bucket pairs
    * with `posexplode` + `slice`. A self-join would evaluate the upstream
    * MinHash signature aggregation TWICE (one per join side — Spark's
    * exchange reuse does not fire across self-join aliases of an unmaterialized
    * aggregate; measured ~2x the signature cost at sf0.1) and shuffle the
    * banded table twice more. This form computes signatures once and pays one
    * shuffle on the band key. Bucket populations are the quantity LSH is
    * tuned to keep small (that is what banding is FOR), so the per-bucket
    * collect_list is bounded by design on a corpus that has been
    * exact-deduped first — but a corpus that HASN'T (millions of
    * byte-identical docs land in the same bucket in EVERY band) would
    * materialize one giant id array in a single task and expand d²/2 pairs
    * from it, where the old self-join merely went quadratic. `maxBucket` is
    * that guard: a bucket above it RAISES at execution (r12; the pre-r12
    * silent skip was the exact failure class the hamming family's r11
    * escalation fix eliminated — true pairs lost with no signal, caught
    * only if an oracle gate happened to run at that scale). A bucket that
    * hot means exact dedup upstream is missing or the geometry tier is
    * saturated; both are operator errors the job should surface, and
    * unlike hamming's pigeonhole bands MinHash has no complement key to
    * escalate into without probabilistic recall loss. [[lshDroppedBuckets]]
    * is the matching diagnostic: run it to see what tripped the cap. Pass
    * `maxBucket = 0` to disable (oracle baselines on known-clean corpora).
    *
    * `array_distinct` keeps self-pairs impossible even if a caller hands a
    * `sig` with duplicate doc_id rows (the in-repo builders groupBy doc_id,
    * but this is public API — a duplicate id inside one bucket would
    * otherwise pair with itself via the slice expansion). */
  def lshCandidates(sig: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val buckets0 = lshBuckets(sig, bands, rowsPerBand)
    // Hot buckets FAIL LOUDLY instead of silently dropping (the r11 hamming
    // lesson, applied here in its honest form: MinHash banding has no
    // pigeonhole complement to escalate into — splitting a hot bucket by ANY
    // further key loses candidate pairs probabilistically, which is exactly
    // the silent recall loss the hamming family just eliminated). A bucket
    // past maxBucket on this pipeline means the corpus was not exact-deduped
    // upstream (byte-identical docs collide in EVERY band) or the geometry
    // tier is saturated — both operator errors to surface, not absorb. The
    // when() keeps the check inside the existing aggregation pass: cold
    // buckets pay one integer compare, and the plan gains no exchange. The
    // raise_error branch must type as ids' array type, hence the cast.
    val buckets =
      if (maxBucket <= 0) buckets0
      else buckets0.select(col("band"), col("bh"),
        when(size(col("ids")) <= maxBucket, col("ids"))
          .otherwise(raise_error(format_string(
            "LSH bucket (band=%d) population %d exceeds maxBucket=" +
              s"$maxBucket: exact-dedup the corpus upstream, raise the " +
              "geometry tier, or inspect lshDroppedBuckets",
            col("band"), size(col("ids"))))
            .cast(buckets0.schema("ids").dataType))
          .as("ids"))
    buckets
      .select(posexplode(col("ids")).as(Seq("px", "i")), col("ids"))
      // ids is ascending and px is 0-based: partners after position px are
      // exactly the j > i of this bucket — each unordered pair emitted once
      .select(col("i"),
        explode(slice(col("ids"), col("px") + lit(2), size(col("ids")))).as("j"))
      .distinct()
  }

  /** Band buckets with >1 member: (band, bh, ids ascending + distinct). */
  private def lshBuckets(sig: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandCols: Seq[Column] = (0 until bands).map { b =>
      xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"h$i")): _*)
    }
    sig.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh"))
      .agg(array_distinct(sort_array(collect_list(col("doc_id")))).as("ids"))
      .filter(size(col("ids")) > 1)
  }

  /** Diagnostic twin of the [[lshCandidates]] `maxBucket` guard: the buckets
    * the cap would skip, one row per (band, bh) with its population. Callers
    * that cap should count/log this — a nonzero count on a supposedly
    * exact-deduped corpus means upstream dedup is broken, not that LSH lost
    * recall. */
  def lshDroppedBuckets(sig: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    lshBuckets(sig, bands, rowsPerBand)
      .filter(size(col("ids")) > maxBucket)
      .select(col("band"), col("bh"), size(col("ids")).as("population"))

  /** Full MinHash+LSH near-dup pipeline: candidates from banding, then exact
    * Jaccard verification on candidates only (the whole point at scale: the
    * quadratic verify runs on the tiny candidate set). */
  def minHashDedup(df: DataFrame, id: String, text: String, n: Int,
      numHashes: Int, bands: Int, threshold: Double): DataFrame =
    minHashDedupFromIndex(shingleIndexHashed(df, id, text, n).cache(),
      numHashes, bands, threshold)

  /** Corpus-size-TIERED LSH geometry — [[hammingPairsAuto]]'s discipline
    * applied to MinHash. A fixed band count has a fixed per-true-pair
    * escape probability ((1-t^4)^bands at 4 rows/band), so as the corpus
    * — and with it the count of true pairs near the threshold — grows,
    * recall 1 eventually breaks BY MATH, not by bug: the r11 sf10 sweep
    * measured exactly that (the proven-at-sf1 48/12 geometry missed 2 of
    * 20,657 true pairs at 500k docs, both in the J∈[0.80,0.88) tail where
    * escape ≈ 0.1%). Tiers keep 4 rows/band (the t^4 threshold law) and
    * scale bands with corpus size so expected misses stay ≪ 1:
    * ≤100k docs → 48/12 (measured 2066/2066 at sf1), ≤2M → 80/20 (escape
    * at J=0.8 drops to 2.7e-5; measured 20,657/20,657 at sf10), beyond →
    * 112/28 (1.4e-7 — headroom past 20M docs). The count is one driver
    * job; catalog entries stay lazy via [[graft.plans.Deferred]]. */
  def lshGeometry(nDocs: Long): (Int, Int) =
    if (nDocs <= 100000L) (LshNumHashes, LshBands)
    else if (nDocs <= 2000000L) (80, 20)
    else (112, 28)

  /** [[minHashDedup]] under the tiered geometry law ([[lshGeometry]]).
    *
    * The geometry count runs UNCACHED (r12, closing the r11 advice's
    * storage leak: the old `df.cache()` pinned a corpus-sized table in
    * executor storage for the session on every invocation of the three
    * heaviest catalog queries, and nothing ever unpersisted it). The cache
    * bought nothing: the catalog feeds this parquet-backed tables, where
    * `count()` is a footer-metadata read, and the one real scan downstream
    * is the shingle-index build — a single consumer either way. A caller
    * handing an expensive COMPUTED frame should cache it before calling
    * (and owns the unpersist), same contract as
    * [[minHashDedupFromIndex]]'s `sh`. */
  def minHashDedupAuto(df: DataFrame, id: String, text: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val (h, b) = lshGeometry(df.count())
    minHashDedup(df, id, text, n, h, b, threshold)
  }

  /** [[minHashDedup]] over a PREBUILT uncapped (doc_id, s) hashed shingle
    * index — the [[jaccardFromIndex]] discipline applied to MinHash: callers
    * holding the index already (e.g. [[dedupRecallReport]], which shares ONE
    * shingle pass across the ground truth and every method) skip the
    * per-call corpus re-shingle. Caller owns caching of `sh`. */
  def minHashDedupFromIndex(sh: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val sig = minHashSignatures(sh, numHashes)
    val cands = lshCandidates(sig, bands, numHashes / bands)
    val cnt = shingleCounts(sh)
    val common = sh.as("a")
      .join(cands.as("cd"), col("a.doc_id") === col("cd.i"))
      .join(sh.as("b"),
        col("b.doc_id") === col("cd.j") && col("b.s") === col("a.s"))
      .groupBy(col("cd.i").as("i"), col("cd.j").as("j"))
      .agg(count(lit(1)).as("c"))
    common
      .join(cnt.as("na"), col("i") === col("na.doc_id"))
      .join(cnt.as("nb"), col("j") === col("nb.doc_id"))
      .select(col("i"), col("j"),
        Num.pround(col("c").cast("double") /
          (col("na.n") + col("nb.n") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 60-bit SimHash per document: per-bit signed vote over token hashes,
    * assembled into one BIGINT fingerprint. Single groupBy.
    *
    * The token hash is a pair of independent polynomial rolling hashes
    * (custom codegen'd Expression [[graft.functions.RollingHash]], each
    * < 2^30) rather than xxhash64 — the hash family is pluggable, and this
    * one is pure BIGINT mod-arithmetic that the DuckDB oracle replicates
    * bit-exactly, so the whole fingerprint is hash-verified cross-engine.
    * Bits 0..29 vote on hash 1, bits 30..59 on hash 2. */
  def simHash(df: DataFrame, id: String, text: String): DataFrame = {
    import graft.functions.RollingHash.{Mod, Mod2, mix}
    val tok = df.select(col(id).as("doc_id"),
      explode(Text.tokens(col(text))).as("t"))
      .withColumn("h1", mix(graft.functions.RollingHash.rolling_hash(col("t")), Mod))
      .withColumn("h2", mix(graft.functions.RollingHash.rolling_hash2(col("t")), Mod2))
    val bitAggs = (0 until 60).map { b =>
      val (src, sh) = if (b < 30) (col("h1"), b) else (col("h2"), b - 30)
      sum(when(shiftright(src, sh).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$b")
    }
    val sums = tok.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    // distinct powers of two: addition == bitwise OR, no carries
    val fp = (0 until 60)
      .map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), fp.as("simhash"))
  }

  /** Hamming distance between two SimHash fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** All fingerprint pairs within `maxDist` hamming distance WITHOUT the
    * all-pairs product — and with EXACT recall, not LSH-probabilistic: split
    * the 60-bit fingerprint into maxDist+1 bands; two prints within maxDist
    * differ in at most maxDist bands, so by pigeonhole at least one band is
    * IDENTICAL — candidates come from maxDist+1 equi-joins on band values,
    * then the exact distance filter keeps true pairs. Shuffle cost is
    * (maxDist+1)·|fp| narrow rows instead of |fp|² comparisons. */
  def hammingPairs(fp: DataFrame, maxDist: Int, bits: Int = 60,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val nBands = maxDist + 1
    val width = bits / nBands
    // one (band, value) row per band per doc, then the same bucket-
    // aggregation expansion as [[lshCandidates]] (round 8's lesson applied
    // uniformly): group each (band, value) bucket, collect (doc_id, simhash)
    // records, expand intra-bucket pairs via posexplode + slice. The old
    // form self-joined the banded table and leaned on .cache() to stop the
    // upstream fingerprint aggregation running twice — correct, but cache
    // residency is a RUNTIME property (evicted under the memory pressure of
    // a long sweep, infeasible for a 100 TB banded table), while this form
    // structurally computes fingerprints once and pays one shuffle on the
    // band key. Records carry the full fingerprint so the exact distance
    // check runs inside the expansion. maxBucket triggers the escalation
    // path (hammingFromBuckets), never a silent drop.
    // per-band key value + the band's PACKED complement bits ("rest") —
    // the escalation path sub-bands rest, so it must exclude the bits the
    // bucket key already fixes (see hammingFromBuckets)
    def restPacked(b: Int) = {
      val low = col("simhash").bitwiseAND(lit((1L << (b * width)) - 1))
      val high = shiftleft(
        shiftrightunsigned(col("simhash"), b * width + width), b * width)
      low.bitwiseOR(high)
    }
    val banded = fp.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map(b => struct(
        shiftright(col("simhash"), b * width)
          .bitwiseAND(lit((1L << width) - 1)).as("bv"),
        restPacked(b).as("rest"))): _*)).as(Seq("band", "k")))
      .select(struct(col("doc_id"), col("simhash"),
        col("k.rest").as("rest")).as("rec"),
        col("band"), col("k.bv").as("bv"))
    hammingFromBuckets(banded, maxDist, maxBucket, bits - width)
  }

  /** Shared pair expansion for the pigeonhole banding geometries: bucket by
    * (band, bv), expand each bucket's ascending-distinct records into
    * ordered pairs, verify exact hamming distance in place.
    *
    * Hot buckets ESCALATE instead of dropping (r11 sf10 finding: at 500k
    * docs the band-pair geometry still grows 6 buckets past the 1000 cap,
    * and the old `size <= maxBucket` filter silently cost 796 of 87,896
    * true pairs — recall broken by the guard, the exact failure the r10
    * auto-geometry fix moved one corpus decade down the road). A bucket
    * past `maxBucket` re-keys its members by `maxDist + 1` sub-bands of
    * the PACKED COMPLEMENT of the key bits (`rec.rest`, built per band by
    * the geometry): members agree on the key bits by bucket membership,
    * so a true pair's <= maxDist differing bits all fall in rest, and
    * sub-banding rest leaves >= 1 sub-band intact — exact recall by the
    * same pigeonhole argument, one level down. Sub-banding the RAW
    * fingerprint instead would be unsound in the useful direction and
    * useless in the safe one: a sub-band inside the key bits is bucket-
    * degenerate (the whole hot bucket shares it — measured: a 1499-member
    * bucket re-grouped at 1499), and dropping degenerate groups would
    * re-break recall for pairs whose only intact sub-band it is. Work
    * stays bounded because an escalated group is the intersection of the
    * hot key's population with one further rest-value. The final
    * distinct() dedups pairs found via both paths. The construction
    * COMPOSES, and as of r12 the second level is implemented (not just
    * promised): a level-1 sub-group still past `maxBucket` re-keys by
    * sub-bands of the remaining complement — see the level-2 block below
    * for the soundness argument; DedupSpec forces both levels at
    * maxBucket=2 and pins recall against brute force. */
  private def hammingFromBuckets(banded: DataFrame, maxDist: Int,
      maxBucket: Int, restBits: Int): DataFrame = {
    val buckets0 = banded.groupBy(col("band"), col("bv"))
      .agg(array_distinct(sort_array(collect_list(col("rec")))).as("recs"))
      .filter(size(col("recs")) > 1)
    def expand(buckets: DataFrame): DataFrame = buckets
      .select(posexplode(col("recs")).as(Seq("px", "x")), col("recs"))
      .select(col("x"),
        explode(slice(col("recs"), col("px") + lit(2), size(col("recs"))))
          .as("y"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        hamming(col("x.simhash"), col("y.simhash")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
    if (maxBucket <= 0) expand(buckets0)
    else {
      val nSub = maxDist + 1
      val w = restBits / nSub
      require(w >= 1, s"escalation needs restBits >= maxDist + 1")
      // ONE conditional re-keying instead of a cold/hot UNION of two
      // consumers: a union branches the plan, and Spark re-executes the
      // whole corpus pipeline (tokenize -> fingerprint agg -> banding
      // shuffle) once per branch — the r9 single-evaluation lesson, and
      // caching the corpus-sized bucket table is exactly the residency
      // assumption that form was built to avoid. Here every bucket's
      // members re-key in place (cold -> one group per bucket, sband=-1;
      // hot -> nSub sub-band groups), and because the re-grouping key
      // EXTENDS (band, bv), the existing hash partitioning already
      // satisfies its clustering — the second aggregation is
      // partition-local, zero new exchanges (pinned by PlanSpec).
      val rekeyed = buckets0
        .select(col("band"), col("bv"), size(col("recs")).as("n"),
          explode(col("recs")).as("rec"))
        .select(col("band"), col("bv"), col("rec"),
          explode(when(col("n") <= maxBucket,
            array(struct(lit(-1).as("sband"), lit(0L).as("sbv"))))
            .otherwise(array((0 until nSub).map { s =>
              struct(lit(s).as("sband"),
                shiftright(col("rec.rest"), s * w)
                  .bitwiseAND(lit((1L << w) - 1)).as("sbv"))
            }: _*))).as("sk"))
        .groupBy(col("band"), col("bv"), col("sk.sband"), col("sk.sbv"))
        .agg(array_distinct(sort_array(collect_list(col("rec")))).as("recs"))
        .filter(size(col("recs")) > 1)
      // SECOND escalation level (r12, delivering the "construction
      // composes" promise above as code instead of prose): a level-1
      // sub-group STILL past maxBucket re-keys its members by nSub
      // sub-bands of the remaining complement rest2 = rest with the
      // level-1 sub-band `sband`'s bits excised. Soundness is the same
      // pigeonhole one level further down: members of a hot
      // (band, bv, sband, sbv) group agree on the bucket-key bits AND on
      // sub-band `sband` of rest, so a true pair's <= maxDist differing
      // bits all fall in rest2 — identically packed for both (same
      // sband) — and splitting rest2 into maxDist+1 sub-bands leaves at
      // least one intact (bits above nSub·w2 only consume distance
      // budget). Same zero-exchange argument: the level-2 key EXTENDS the
      // level-1 key, so both regroupings stay partition-local on the one
      // (band, bv) exchange. The rest2 excision shifts by a PER-ROW
      // amount (sband·w), hence the expr() spelling — functions.shiftleft
      // only takes literal shifts. Cold rows (sband = -1) never evaluate
      // it (CaseWhen short-circuits), so the negative shift is
      // unreachable. Width exhaustion (w2 < 1) falls back to expanding
      // level-1 groups whole — quadratic WITHIN the group, bounded by the
      // key∩sub-band intersection, and one level deeper than any corpus
      // has yet required (sf10's worst post-level-1 group is measured in
      // SCALE.md).
      val w2 = (restBits - w) / nSub
      val rekeyed2 = if (w2 < 1) rekeyed else {
        val rest2 = expr(
          s"""shiftleft(shiftrightunsigned(rec.rest, $w * (sband + 1)),
                        $w * sband) |
              (rec.rest & (shiftleft(CAST(1 AS BIGINT), $w * sband) - 1))""")
        rekeyed
          .select(col("band"), col("bv"), col("sband"), col("sbv"),
            size(col("recs")).as("n"), explode(col("recs")).as("rec"))
          .select(col("band"), col("bv"), col("sband"), col("sbv"),
            col("rec"),
            explode(when(col("sband") === -1 || col("n") <= maxBucket,
              array(struct(lit(-1).as("sband2"), lit(0L).as("sbv2"))))
              .otherwise(array((0 until nSub).map { s2 =>
                struct(lit(s2).as("sband2"),
                  shiftright(rest2, s2 * w2)
                    .bitwiseAND(lit((1L << w2) - 1)).as("sbv2"))
              }: _*))).as("sk2"))
          .groupBy(col("band"), col("bv"), col("sband"), col("sbv"),
            col("sk2.sband2"), col("sk2.sbv2"))
          .agg(array_distinct(sort_array(collect_list(col("rec")))).as("recs"))
          .filter(size(col("recs")) > 1)
      }
      expand(rekeyed2)
    }
  }

  /** [[hammingPairs]] with band-PAIR bucket keys — the geometry that holds
    * when the corpus outgrows single-band bucket space. The sf1 rehearsal
    * (SCALE.md "Measured") shows the failure mode it fixes: 4 fixed 15-bit
    * bands give 2^15 buckets, so candidate pairs re-acquire an ~n²/2^15
    * term as buckets saturate (measured 100x candidates for 10x docs).
    * Splitting into `bands >= maxDist + 2` bands and keying on every PAIR
    * of band values keeps exact pigeonhole recall — <= maxDist differing
    * bits break at most maxDist bands, leaving two intact bands whose pair
    * key matches — while the bucket space grows to 2^(2·width): for
    * maxDist=3, 5 bands of 12 bits = 2^24 buckets, 512x more than the
    * single-band form, at the cost of C(bands,2)=10 key rows per doc
    * instead of 4. Same exact-recall contract, same output; choose by
    * corpus size: n << sqrt(maxDist·2^width) single-band, else this. */
  def hammingPairsWide(fp: DataFrame, maxDist: Int, bits: Int = 60,
      bands: Int = 0, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val nBands = if (bands > 0) bands else maxDist + 2
    require(nBands >= maxDist + 2,
      s"band-pair keys need bands >= maxDist + 2 for pigeonhole recall")
    val width = bits / nBands
    def bandVal(b: Int) = shiftright(col("simhash"), b * width)
      .bitwiseAND(lit((1L << width) - 1))
    // one row per band PAIR per doc, key = both band values packed; the
    // same bucket-aggregation expansion as [[hammingPairs]], wider keys.
    // Bits above width*nBands live in no band: they can only consume
    // distance budget, never break a band, so recall is unaffected.
    val combos = for { i <- 0 until nBands; j <- i + 1 until nBands }
      yield (i, j)
    // packed complement of the combo's TWO key bands (see
    // hammingFromBuckets' escalation contract)
    def restPacked(i: Int, j: Int) = {
      val lo = i * width
      val midLen = (j - i - 1) * width
      val low = col("simhash").bitwiseAND(lit((1L << lo) - 1))
      val mid = shiftleft(
        shiftrightunsigned(col("simhash"), (i + 1) * width)
          .bitwiseAND(lit((1L << midLen) - 1)), lo)
      val high = shiftleft(
        shiftrightunsigned(col("simhash"), (j + 1) * width), lo + midLen)
      low.bitwiseOR(mid).bitwiseOR(high)
    }
    val banded = fp.select(col("doc_id"), col("simhash"),
      posexplode(array(combos.map { case (i, j) => struct(
        (bandVal(i) * (1L << width) + bandVal(j)).as("bv"),
        restPacked(i, j).as("rest")) }: _*)).as(Seq("band", "k")))
      .select(struct(col("doc_id"), col("simhash"),
        col("k.rest").as("rest")).as("rec"),
        col("band"), col("k.bv").as("bv"))
    hammingFromBuckets(banded, maxDist, maxBucket, bits - 2 * width)
  }

  /** Geometry auto-selection for banded hamming search: the narrow
    * single-band form ([[hammingPairs]], maxDist+1 key rows per doc) while
    * the corpus is far from saturating its 2^width bucket space, the
    * band-pair form ([[hammingPairsWide]], 2^(2·width) buckets) beyond.
    * The boundary is MEASURED, not hypothetical — the r10 sf1 sweep: at
    * 50k docs over the narrow form's 2^15 buckets, this low-entropy corpus
    * concentrated fingerprints into hot buckets past `maxBucket`, and the
    * guard dropped 8 of 2463 true pairs (structural recall broken by the
    * cap); at 5k docs, zero drops. The corpus count is one driver job over
    * the cached fingerprint table — catalog registration stays lazy because
    * the QueryDef wraps this in [[graft.plans.Deferred]], the same
    * discipline as `dedup_clusters`' size-gated union-find. */
  def hammingPairsAuto(fp: DataFrame, maxDist: Int, bits: Int = 60,
      maxBucket: Int = DefaultMaxBucket, switchAt: Long = 20000L,
      nHint: Long = -1L): DataFrame = {
    // `nHint` (r12): the geometry switch only needs the corpus SIZE CLASS,
    // and both geometries are exact-recall — so a caller that can count
    // cheaply upstream (the catalog entry counts the documents parquet, a
    // footer-metadata read) passes it and this function plans without a
    // cache or a job. The cache-and-count fallback stays for ad-hoc calls
    // on computed frames, but note it pins `fp` in executor storage until
    // session end (the r11 advice's leak) — prefer the hint.
    if (nHint >= 0L) {
      if (nHint <= switchAt) hammingPairs(fp, maxDist, bits, maxBucket)
      else hammingPairsWide(fp, maxDist, bits, 0, maxBucket)
    } else {
      val f = fp.cache() // counted once, then scanned by the chosen geometry
      if (f.count() <= switchAt) hammingPairs(f, maxDist, bits, maxBucket)
      else hammingPairsWide(f, maxDist, bits, 0, maxBucket)
    }
  }

  /** Near-dup PAIRS → dedup CLUSTERS: connected components of the pair
    * graph, the step that turns pairwise similarity into "keep one document
    * per duplicate group". Two physical paths behind one semantics (label =
    * min doc_id reachable):
    *
    *   - pair sets under `broadcastThreshold` (the broadcast-join size
    *     class) collect to the driver and run union-find — one job instead
    *     of a multi-round fixpoint;
    *   - larger graphs run the iterative min-label-propagation DataFrame
    *     fixpoint (the Pregel-lite pattern — MLlib does the same for its
    *     graph routines): each round every node adopts the smallest label
    *     among itself and its neighbors; converges in O(component diameter)
    *     rounds, and dup clusters are shallow (near-clique), so 2-3 rounds
    *     in practice. Each round is one join + one aggregate — all
    *     distributed; the driver only checks the convergence count. */
  def connectedComponents(pairs: DataFrame,
      broadcastThreshold: Long = 100000L): DataFrame = {
    val p = pairs.select(col("i").cast("long").as("i"),
      col("j").cast("long").as("j")).cache()
    val nPairs = p.count()
    if (nPairs < broadcastThreshold) {
      // Broadcast-scale fast path: verified near-dup PAIR lists are tiny
      // relative to the corpus (they are the output of the ≥0.8 filter, not
      // the documents). At the size a broadcast join would collect anyway,
      // union-find on the driver replaces O(component diameter) rounds of
      // join+aggregate+convergence-check jobs with one collect — the same
      // size-based (never value-based) decision AQE makes, and both paths
      // produce the identical min-label assignment (PropertySpec pins the
      // distributed path to a local union-find reference).
      val edges = p.collect().map(r => (r.getLong(0), r.getLong(1)))
      p.unpersist()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // attach the larger root under the smaller: every node starts as its
        // own root, so each component's final root is its minimum element
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = parent.keysIterator.map(x => (x, find(x))).toSeq
      return pairs.sparkSession.createDataFrame(labels).toDF("id", "label")
    }
    // r16 (guide §2.4): cache the symmetrized edge table PRE-PARTITIONED by
    // its join key. InMemoryTableScan preserves the cached plan's hash
    // partitioning (probed on this Spark: the cached side of a same-key join
    // plans with NO Exchange), so every fixpoint round's labels ⋈ edges join
    // reuses this one shuffle instead of re-exchanging the edge table — the
    // largest table in the loop — once per round. The initial labels
    // (distinct over the same key) and each round's groupBy(id) output are
    // likewise partition-aligned, leaving the per-round data movement at
    // exactly one exchange: the label-update aggregation itself.
    val edges = p.union(p.select(col("j").as("i"), col("i").as("j")))
      .repartition(col("i")).cache()
    var labels = edges.select(col("i").as("id")).distinct()
      .withColumn("label", col("id"))
      .cache()
    var converged = false
    while (!converged) {
      val neighborLabels = labels.join(edges, col("id") === col("i"))
        .select(col("j").as("id"), col("label"))
      val next = labels.unionByName(neighborLabels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .cache()
      converged = next.as("n")
        .join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.label") < col("o.label"))
        .isEmpty
      labels.unpersist()
      labels = next
    }
    // hand back a self-contained result: localCheckpoint materializes the
    // converged labels and truncates the iterative lineage, so every round's
    // cache (including the final one) can be released here instead of
    // leaking in executor storage until session end — and a consumer
    // recomputing the result never replays the fixpoint
    val result = labels.localCheckpoint(true)
    labels.unpersist()
    edges.unpersist()
    p.unpersist()
    result
  }

  // ---- QueryDefs over `documents` ------------------------------------------

  /** Exact all-pairs word-3-gram Jaccard >= 0.8, restructured as an exact
    * set-similarity join so the ORACLE ITSELF survives big-SF sweeps (the
    * naive sh-self-join + GROUP BY (i,j) holds every co-shingled pair —
    * ~1e9 distinct at sf10's 500k docs over the 40-token vocab — and
    * DuckDB's out-of-core agg then spills most of the ~5e9-row input
    * stream: it filled a 72 GB disk twice in the r11 sweep). Two public
    * building blocks, both EXACT:
    *
    *  1. Prefix + positional filtering (Bayardo/Ma/Srikant WWW'07; Xiao et
    *     al. PPJoin, WWW'08): under one global shingle order, a pair at
    *     J >= t shares its FIRST common shingle within both docs' first
    *     floor((1-t)·n)+1 shingles (were every common shingle outside A's
    *     prefix, the >= la shingles of A preceding it are absent from B,
    *     so |A∩B| <= n_a - la < t·n_a <= t·|A∪B|), at ranks (ra, rb)
    *     satisfying min(na-ra, nb-rb)+1 >= ceil(t/(1+t)·(na+nb)) — the
    *     common elements all sit at or after it in both suffixes. With
    *     t = 0.8 both bounds are integer-exact: la = n//5 + 1 and
    *     alpha = (4·(na+nb)+8)//9.
    *     The theorem holds under ANY global total order; the dictionary
    *     orders by ASCENDING document frequency (ties by shingle) — the
    *     canonical PPJoin ordering — so prefixes hold each doc's RAREST
    *     shingles and the prefix self-join's candidate volume collapses
    *     (lexicographic order put hot shingles in prefixes and ground the
    *     sf10 clusters/keep_best oracles past their 30-min window).
    *  2. Per-candidate exact intersection via list_intersect over each
    *     doc's sorted dictionary-encoded shingle list — a streaming SCALAR
    *     per candidate pair, so there is NO pair aggregation and no
    *     pair-keyed hash table at all; peak memory is the build sides
    *     (500k doc lists + the prefix index).
    *
    * The 4-dp rounding on the output cannot flip the threshold compare:
    * any c/(na+nb-c) != 4/5 differs from it by >= 1/(5·(na+nb-c)) >=
    * ~1.7e-3 at these set sizes, far beyond rounding reach — so candidate
    * filtering on the EXACT alpha bound and the engine's rounded compare
    * select identical pair sets (the r10-proven equality against the
    * unfiltered form at sf0.001-sf1 pins this). */
  private def jaccardOracleFrom(docs: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM $docs),
       sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks CROSS JOIN unnest(generate_series(1, len(t)-2)) AS u(i)
              WHERE len(t) >= 3),
       dict AS (SELECT s, row_number() OVER (ORDER BY df, s) AS sid
                FROM (SELECT s, count(*) AS df FROM sh GROUP BY 1)),
       shi AS (SELECT doc_id, sid FROM sh JOIN dict USING (s)),
       lst AS (SELECT doc_id, list_sort(list(sid)) AS l FROM shi GROUP BY 1),
       prefw AS (SELECT doc_id, sid, r, na FROM (
                   SELECT doc_id, sid,
                          row_number() OVER (PARTITION BY doc_id ORDER BY sid) AS r,
                          count(*) OVER (PARTITION BY doc_id) AS na
                   FROM shi)
                 WHERE r <= na // 5 + 1),
       cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
                FROM prefw a JOIN prefw b ON a.sid = b.sid AND a.doc_id < b.doc_id
                WHERE least(a.na - a.r, b.na - b.r) + 1 >= (4 * (a.na + b.na) + 8) // 9),
       p AS (SELECT i, j, len(list_intersect(la.l, lb.l)) AS c,
                    len(la.l) AS ni, len(lb.l) AS nj
             FROM cand JOIN lst la ON la.doc_id = i JOIN lst lb ON lb.doc_id = j)
       SELECT i, j, ${Num.sql("CAST(c AS DOUBLE) / (ni + nj - c)", 4)} AS jaccard
       FROM p
       WHERE ${Num.sql("CAST(c AS DOUBLE) / (ni + nj - c)", 4)} >= 0.8"""

  private val jaccardOracle = jaccardOracleFrom("documents")

  val exactQ = QueryDef(
    "dedup_exact",
    "exact dedup: group by content hash, keep min id",
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1"""),
    (s, dir) => exact(Tables.documents(s, dir), "doc_id", "text"))

  /** The UNCAPPED all-pairs form — kept as the ground truth the scale-safe
    * entry points (`dedup_ngram_jaccard`, `dedup_minhash_lsh`) are graded
    * against, and named so it can't be reached by accident: production code
    * paths default to [[DefaultMaxDf]] and must opt out explicitly. */
  val jaccardQ = QueryDef(
    "dedup_ngram_jaccard_oracle_baseline",
    "UNCAPPED near-dup pairs by exact word-3-gram Jaccard >= 0.8 (ground-truth baseline; quadratic on hot shingles — use dedup_ngram_jaccard)",
    Some(jaccardOracle),
    (s, dir) => jaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.8,
      maxDf = Uncapped))

  /** The stripe differential of [[jaccardQ]] — SAME uncapped pipeline, both
    * engines restricted to the [[Stripe]] id-hash stripe, so the one
    * baseline whose COMPUTE is quadratic on hot shingles becomes sweepable
    * at sf10+ (1/k² of co-shingled pairs) and the row the big-SF sweeps had
    * to hold out gets verified instead of justified. See [[Stripe]] for the
    * sizing/feasibility argument. */
  val jaccardStripeQ = QueryDef(
    "dedup_ngram_jaccard_oracle_baseline_stripe",
    s"the uncapped Jaccard ground truth on the 1-in-${Stripe.K} id-hash stripe — the bounded big-SF differential of dedup_ngram_jaccard_oracle_baseline",
    Some(jaccardOracleFrom(
      s"(SELECT * FROM documents WHERE ${Stripe.sql("doc_id", Stripe.K)})")),
    (s, dir) => jaccardPairs(
      Tables.documents(s, dir).filter(Stripe.keep(col("doc_id"), Stripe.K)),
      "doc_id", "text", 3, 0.8, maxDf = Uncapped))

  /** The striped docs source, both engines' spelling — shared by the r13
    * stripe twins that close the sf30 jaccard-family oracle rows directly
    * (r12 verdict item 2: the DuckDB leg of the PPJoin / keep-best
    * pipelines needed >49 GB spill or blew the sweep window at 1.5M docs;
    * on the 1-in-K stripe it is sf1-sized work, which every one of these
    * pipelines has already passed whole). */
  private val stripedDocsSql =
    s"(SELECT * FROM documents WHERE ${Stripe.sql("doc_id", Stripe.K)})"
  private def stripedDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables.documents(s, dir).filter(Stripe.keep(col("doc_id"), Stripe.K))

  /** Stripe twin of [[jaccardCappedQ]]: the DEFAULT capped pipeline on the
    * striped corpus. Note the maxDf=50 cap binds per-corpus — on the stripe
    * it caps the striped document frequency, which is the point: both
    * engines run the same guard on the same subset, so the code path under
    * test (skew cap + pair join) is exercised end to end. */
  val jaccardCappedStripeQ = QueryDef(
    "dedup_ngram_jaccard_stripe",
    s"the capped (maxDf=50) Jaccard default on the 1-in-${Stripe.K} id-hash stripe — the bounded big-SF differential of dedup_ngram_jaccard",
    Some(cappedJaccardOracleFrom(stripedDocsSql)),
    (s, dir) => jaccardPairs(stripedDocs(s, dir), "doc_id", "text", 3, 0.8,
      maxDf = 50))

  /** Stripe twin of [[minHashQ]]: the full LSH pipeline — tier selection,
    * banding, candidate generation, exact verify — on the striped corpus,
    * against the exact PPJoin answer on the same stripe. A recall escape or
    * geometry mistake surfaces as a hash mismatch exactly as in the full
    * entry; the tier is derived from the STRIPED corpus size, which is the
    * correct self-consistency (the knob law sees the corpus it processes). */
  val minHashStripeQ = QueryDef(
    "dedup_minhash_lsh_stripe",
    s"MinHash LSH on the 1-in-${Stripe.K} id-hash stripe vs the exact striped PPJoin answer — the bounded big-SF differential of dedup_minhash_lsh",
    Some(jaccardOracleFrom(stripedDocsSql)),
    (s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      graft.plans.Deferred.dataFrame(s, StructType(Seq(
        StructField("i", LongType), StructField("j", LongType),
        StructField("jaccard", DoubleType))),
        () => minHashDedupAuto(stripedDocs(s, dir), "doc_id", "text"))
    })

  /** Stripe twin of [[keepBestQ]]: LSH pairs -> connected components ->
    * quality ranking, all on the striped corpus, vs DuckDB's independent
    * label-prop fixpoint + window on the same stripe. Every striped doc
    * appears in the output (singletons keep themselves), so this row is
    * non-vacuous at EVERY SF — |stripe| rows even when the stripe kills
    * all pairs. */
  val keepBestStripeQ = QueryDef(
    "dedup_keep_best_stripe",
    s"quality-aware keeper selection on the 1-in-${Stripe.K} id-hash stripe — the bounded big-SF differential of dedup_keep_best",
    Some(keepBestOracleFrom(stripedDocsSql)),
    (s, dir) => graft.plans.Deferred.dataFrame(s, keepBestSchema,
      () => keepBestBuild(stripedDocs(s, dir))))

  private val containN = 8
  private val containmentOracle =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                concat_ws(' ', ${(0 until 8).map(k => s"t[i+$k]").mkString(", ")}) AS s
              FROM toks CROSS JOIN unnest(generate_series(1, len(t)-7)) AS u(i)
              WHERE len(t) >= 8),
       n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id GROUP BY 1, 2)
       SELECT i, j, ${Num.sql("CAST(c AS DOUBLE) / na.n", 4)} AS containment
       FROM p JOIN n na ON na.doc_id = i
       WHERE ${Num.sql("CAST(c AS DOUBLE) / na.n", 4)} >= 0.9"""

  val containmentQ = QueryDef(
    "dedup_containment",
    "near-subset doc pairs by directed 8-gram containment >= 0.9",
    Some(containmentOracle),
    (s, dir) => containmentPairs(Tables.documents(s, dir), "doc_id", "text",
      containN, 0.9))

  /** The pipeline's OUTPUT is oracle-exact even though LSH banding uses
    * Spark's xxhash64 (which DuckDB can't replicate): candidates are
    * exact-Jaccard-verified, so the result equals the exact all-pairs answer
    * whenever LSH recall is 1 — which it is on this corpus (true pairs sit at
    * jaccard ≥ 0.8 with nothing between 0.2 and 0.8, and the band count is
    * TIERED BY CORPUS SIZE ([[lshGeometry]]) so the per-true-pair escape
    * probability stays below ~1/expected-true-pairs at every tier —
    * measured 2066/2066 at sf1 under 48/12 and 20,657/20,657 at sf10 under
    * 80/20, after the fixed 48/12 geometry missed 2 low-J pairs at 500k
    * docs exactly as the escape math predicts). The oracle is the
    * same SQL as dedup_ngram_jaccard; a recall shortfall would surface as a
    * hash mismatch — exactly the regression we want the gate to catch. */
  val minHashQ = QueryDef(
    "dedup_minhash_lsh",
    "near-dup pairs via MinHash LSH (corpus-tiered geometry, 48/12 to 112/28), exact-verified",
    Some(jaccardOracle),
    (s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
      // the geometry law counts the corpus (a driver job) — Deferred keeps
      // catalog registration job-free, same as dedup_clusters
      graft.plans.Deferred.dataFrame(s, StructType(Seq(
        StructField("i", LongType), StructField("j", LongType),
        StructField("jaccard", DoubleType))),
        () => minHashDedupAuto(Tables.documents(s, dir), "doc_id", "text"))
    })

  /** DuckDB replica of [[simHash]]: same tokenization, same two rolling
    * hashes via list_reduce, same 60 signed bit votes. Generated, not
    * hand-written, so engine and oracle can't drift bit-by-bit. */
  private val simhashOracle: String = {
    val bitSums = (0 until 60).map { b =>
      val (src, sh) = if (b < 30) ("h1", b) else ("h2", b - 30)
      s"sum(CASE WHEN (($src >> $sh) & 1) = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    val fp = (0 until 60)
      .map(b => s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
                     FROM documents),
        h AS (SELECT doc_id,
                (CASE WHEN t = '' THEN 0 ELSE
                  list_reduce(list_transform(string_split(t, ''), c -> ord(c)::BIGINT),
                    (a, b) -> (a * 31 + b) % 1000000007) END * 1103515245 + 12345)
                  % 1000000007 AS h1,
                (CASE WHEN t = '' THEN 0 ELSE
                  list_reduce(list_transform(string_split(t, ''), c -> ord(c)::BIGINT),
                    (a, b) -> (a * 131 + b) % 998244353) END * 1103515245 + 12345)
                  % 998244353 AS h2
              FROM tok),
        v AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id)
        SELECT doc_id, $fp AS simhash FROM v"""
  }

  val simHashQ = QueryDef(
    "dedup_simhash",
    "60-bit SimHash fingerprint per document (rolling-hash pair, oracle-exact)",
    Some(simhashOracle),
    (s, dir) => simHash(Tables.documents(s, dir), "doc_id", "text"))

  /** Min-label rounds as a plain (non-recursive) CTE chain: round k+1 sets
    * each node's label to min(own, neighbors') — after the chain, `chk`
    * compares the last two rounds and raises error() on any difference, so
    * an under-provisioned round count fails LOUDLY instead of passing a
    * pre-fixpoint labeling. Rounds reach the fixpoint once the round count
    * >= component min-label eccentricity (near-dup components are small
    * cliques/short chains; sf1 measures diameter <= 3 — 8 rounds is 2.5x
    * headroom). Why not WITH RECURSIVE: DuckDB materializes a recursive
    * statement's CTE tree, which turns the streaming PPJoin pair pipeline
    * into ~70 GB of materialized intermediates at sf10 (measured,
    * disk-full twice); the SAME pair SQL in a plain WITH streams in ~14 GB
    * of spill. Each round is AS MATERIALIZED: without the pin DuckDB
    * inlines the doubly-referenced l(k-1) into l(k), expanding the chain
    * to 2^rounds copies of the whole pair pipeline (measured as an EMFILE
    * blow-up at 8 rounds); with it, each tiny label table evaluates once.
    * Same fixpoint, same result, loud guard. */
  private def labelPropSql(rounds: Int): String = {
    val chain = (1 to rounds).map { k =>
      s""",
             l$k AS MATERIALIZED (SELECT e.i AS id, min(least(a.l, b.l)) AS l
                     FROM edges e JOIN l${k - 1} a ON a.id = e.i
                     JOIN l${k - 1} b ON b.id = e.j
                     GROUP BY 1)"""
    }.mkString
    s"""edges AS MATERIALIZED (SELECT i, j FROM pairs UNION ALL SELECT j, i FROM pairs),
             l0 AS MATERIALIZED (SELECT DISTINCT i AS id, i AS l FROM edges)$chain,
             chk AS (SELECT CASE WHEN count(*) = 0 THEN 0
                            ELSE CAST(error('label-prop not converged: raise rounds') AS INT)
                            END AS ok
                     FROM l${rounds - 1} a JOIN l$rounds b
                       ON a.id = b.id AND a.l <> b.l),
             comp AS (SELECT id, l AS root FROM l$rounds CROSS JOIN chk
                      WHERE chk.ok = 0)"""
  }

  /** Cluster assignment oracled against an independent DuckDB fixpoint:
    * both engines compute "min reachable doc_id" over the near-dup pair
    * graph — the Spark side via [[connectedComponents]], the SQL side via
    * the guarded min-label chain ([[labelPropSql]]). Same fixpoint,
    * independently derived. */
  val clustersQ = QueryDef(
    "dedup_clusters",
    "near-dup pairs -> connected components: cluster id + keeper flag",
    Some(s"""WITH pairs AS MATERIALIZED (SELECT i, j FROM ($jaccardOracle) q),
             ${labelPropSql(8)}
             SELECT id AS doc_id, root AS cluster,
                    (id = root) AS is_keeper
             FROM comp"""),
    (s, dir) => {
      // the fixpoint runs driver-side actions (count, convergence checks), so
      // the builder would otherwise execute the heaviest catalog query at view
      // REGISTRATION time — defer it to first action via the thunk-backed plan
      import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
      graft.plans.Deferred.dataFrame(s, StructType(Seq(
        StructField("doc_id", LongType), StructField("cluster", LongType),
        StructField("is_keeper", BooleanType))),
        () => {
          // edge source is the LSH candidates + exact verify (minHashDedup),
          // not the full shingle pair join: the pair SET is identical (both
          // hash-match the same oracle) but candidates-then-verify is the
          // form that survives 100 TB — and it's ~30% faster here too
          val pairs = minHashDedupAuto(Tables.documents(s, dir), "doc_id", "text")
          connectedComponents(pairs)
            .select(col("id").as("doc_id"), col("label").as("cluster"),
              (col("id") === col("label")).as("is_keeper"))
        })
    })

  // a def, not a val: the stripe twin vals above initialize before this
  // point in the object's declaration order — as a val they would render
  // a literal "null" into the striped oracle's stopword list (caught by
  // the gate-SF differential: stop_ratio = 0 on the oracle side only)
  private def enListSql: String =
    Text.stopwords("en").map(w => s"'$w'").mkString(", ")

  /** Quality-aware keeper selection — what production dedup actually ships:
    * [[clustersQ]] keeps the MIN-ID doc per near-dup cluster (the
    * arbitrary-but-deterministic choice the fixpoint hands out for free),
    * while a curation pipeline keeps the BEST doc. This operator joins the
    * component labels with the `text_quality` composite score and ranks
    * within each cluster (quality DESC, doc_id tiebreak — both on the
    * 4-decimal rounded score, so the ranking is engine-exact). Singleton
    * docs (no near-dup pair) are their own cluster and keep themselves.
    *
    * Scale shape: everything [[clustersQ]] argues, plus one linear quality
    * pass over the corpus and a window PARTITIONED BY cluster (cluster
    * populations are near-dup group sizes — small by the same argument as
    * LSH bucket populations, and capped upstream by `maxBucket`). */
  private def keepBestOracleFrom(docs: String): String =
    s"""WITH pairs AS MATERIALIZED (SELECT i, j FROM (${jaccardOracleFrom(docs)}) q),
             ${labelPropSql(8)},
             t AS (SELECT doc_id,
                          string_split_regex(trim(lower(text)), '\\s+') AS toks,
                          length(regexp_replace(trim(text), '\\s+', '', 'g')) AS dense_len
                   FROM $docs),
             f AS (SELECT doc_id, len(toks) AS n_tokens,
                          CAST(dense_len AS DOUBLE) / len(toks) AS mean_len,
                          CAST(len(list_filter(toks, x -> x IN ($enListSql))) AS DOUBLE)
                            / len(toks) AS stop_ratio
                   FROM t),
             sc AS (SELECT doc_id,
                           ${Num.sql("""least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) * 0.5 +
                             least(mean_len / 8.0, 1.0) * 0.3 +
                             (1.0 - least(stop_ratio * 2.0, 1.0)) * 0.2""", 4)} AS quality
                    FROM f),
             cl AS (SELECT s.doc_id, coalesce(c.root, s.doc_id) AS cluster,
                           s.quality
                    FROM sc s LEFT JOIN comp c ON c.id = s.doc_id)
             SELECT doc_id, cluster, quality,
                    (row_number() OVER (PARTITION BY cluster
                       ORDER BY quality DESC, doc_id) = 1) AS is_keeper
             FROM cl"""

  /** The keep-best pipeline body over an arbitrary docs frame — shared by
    * the full entry and its big-SF stripe twin. */
  private def keepBestBuild(docs: DataFrame): DataFrame = {
    val pairs = minHashDedupAuto(docs, "doc_id", "text")
    val labels = connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")
    val toks = Text.tokens(col("text"))
    val sc = docs
      .select(col("doc_id"), toks.as("toks"),
        Text.denseLength(col("text")).as("dense_len"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        (col("dense_len").cast("double") / size(col("toks"))).as("mean_len"),
        (Text.hitCount(col("toks"), Text.stopwords("en")).cast("double") /
          size(col("toks"))).as("sr"))
      .select(col("doc_id"),
        Text.qualityScore(col("n_tokens"), col("mean_len"), col("sr"))
          .as("quality"))
    val cl = sc.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster"),
        col("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("quality").desc, col("doc_id"))
    cl.withColumn("is_keeper", row_number().over(w) === 1)
  }

  private def keepBestSchema = {
    import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField, StructType}
    StructType(Seq(
      StructField("doc_id", LongType), StructField("cluster", LongType),
      StructField("quality", DoubleType),
      StructField("is_keeper", BooleanType)))
  }

  val keepBestQ = QueryDef(
    "dedup_keep_best",
    "near-dup clusters keep the highest-quality doc, not the min id",
    Some(keepBestOracleFrom("documents")),
    (s, dir) =>
      // same Deferred discipline as dedup_clusters: the fixpoint's builder
      // runs driver-side actions, so it must not fire at view registration
      graft.plans.Deferred.dataFrame(s, keepBestSchema,
        () => keepBestBuild(Tables.documents(s, dir))))

  /** Banded hamming search under the oracle: the DuckDB side computes the
    * full quadratic answer; the engine's pigeonhole banding must return
    * exactly that set (recall is structural, not probabilistic — and the
    * auto geometry switch keeps it structural PAST the narrow form's
    * bucket-saturation boundary, see [[hammingPairsAuto]]). */
  val hammingQ = QueryDef(
    "simhash_hamming_pairs",
    "fingerprint pairs within hamming distance 3 via exact pigeonhole bands (geometry auto-selected by corpus size)",
    Some(s"""WITH fp AS ($simhashOracle)
             SELECT a.doc_id AS i, b.doc_id AS j,
                    bit_count(xor(a.simhash, b.simhash)) AS dist
             FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""),
    (s, dir) => {
      import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
      graft.plans.Deferred.dataFrame(s, StructType(Seq(
        StructField("i", LongType), StructField("j", LongType),
        StructField("dist", IntegerType))),
        () => {
          // size-class hint from the parquet footer (docs with zero tokens
          // produce no fingerprint, but the switch is a size CLASS and both
          // geometries are exact — see hammingPairsAuto's nHint contract);
          // avoids caching the fingerprint table just to count it
          val docs = Tables.documents(s, dir)
          hammingPairsAuto(simHash(docs, "doc_id", "text"), maxDist = 3,
            nHint = docs.count())
        })
    })

  /** The wide-bucket geometry under the SAME quadratic oracle: identical
    * answer set, 2^24 buckets instead of 2^15 — the form that stays linear
    * past ~10^5 docs (SCALE.md sf1 rehearsal). */
  val hammingWideQ = QueryDef(
    "simhash_hamming_pairs_wide",
    "hamming pairs via band-PAIR bucket keys (2^24 buckets) — the large-corpus geometry, same exact recall",
    Some(s"""WITH fp AS ($simhashOracle)
             SELECT a.doc_id AS i, b.doc_id AS j,
                    bit_count(xor(a.simhash, b.simhash)) AS dist
             FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""),
    (s, dir) => hammingPairsWide(
      simHash(Tables.documents(s, dir), "doc_id", "text"), maxDist = 3))

  /** The DEFAULT near-dup entry point: the skew guard exercised under the
    * oracle — identical pipeline with hot shingles (document frequency > 50)
    * dropped on both sides. A tighter-than-default cap so the guard path
    * actually fires on this corpus; the uncapped ground truth lives under
    * `dedup_ngram_jaccard_oracle_baseline`. */
  private def cappedJaccardOracleFrom(docs: String): String =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM $docs),
       sh0 AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks CROSS JOIN unnest(generate_series(1, len(t)-2)) AS u(i)
              WHERE len(t) >= 3),
       keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50),
       sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
       n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       SELECT i, j, ${Num.sql("CAST(c AS DOUBLE) / (na.n + nb.n - c)", 4)} AS jaccard
       FROM p JOIN n na ON na.doc_id = i JOIN n nb ON nb.doc_id = j
       WHERE ${Num.sql("CAST(c AS DOUBLE) / (na.n + nb.n - c)", 4)} >= 0.8"""

  val jaccardCappedQ = QueryDef(
    "dedup_ngram_jaccard",
    "near-dup pairs by word-3-gram Jaccard >= 0.8 with the document-frequency skew cap (maxDf=50) — the scale-safe default",
    Some(cappedJaccardOracleFrom("documents")),
    (s, dir) => jaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.8,
      maxDf = 50))

  /** Cross-document repeated substring spans — the span-level dedup shape
    * (remove repeated PASSAGES, not whole documents): every 8-token window
    * shared verbatim by >= 2 docs is located in each doc, and overlapping/
    * adjacent hits merge into maximal spans via the gaps-and-islands window
    * pattern. Unlike pair-based dedup this is LINEAR — membership join
    * against the repeated-shingle set, never a doc x doc product. The
    * engine keys on fnv64 of the 8-gram (8-byte shuffle rows, ~6x narrower
    * than the raw string; a cross-shingle collision is ~|shingles|²/2⁶⁵ and
    * would surface as an oracle span mismatch) — the oracle works with the
    * raw strings, which only have to agree on the OUTPUT spans. Token
    * positions are 1-based, span_end inclusive. */
  val spansW = 8
  val spansQ = QueryDef(
    "dedup_repeated_spans",
    "maximal cross-doc repeated 8-token spans per doc (islands merge)",
    Some(s"""WITH toks AS (SELECT doc_id,
                    string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM documents),
             s1 AS (SELECT doc_id, i,
                      concat_ws(' ', ${(0 until spansW).map(k => s"t[i+$k]").mkString(", ")}) AS sh
                    FROM toks CROSS JOIN
                      unnest(generate_series(1, len(t) - ${spansW - 1})) AS u(i)
                    WHERE len(t) >= $spansW),
             rep AS (SELECT sh FROM s1 GROUP BY sh
                     HAVING count(DISTINCT doc_id) >= 2),
             pos AS (SELECT DISTINCT doc_id, i FROM s1 JOIN rep USING (sh)),
             g AS (SELECT doc_id, i,
                     CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                            <= $spansW THEN 0 ELSE 1 END AS brk
                   FROM pos),
             isl AS (SELECT doc_id, i,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
                     FROM g)
             SELECT doc_id, min(i) AS span_start,
                    max(i) + ${spansW - 1} AS span_end
             FROM isl GROUP BY doc_id, grp"""),
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val sh = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, txt) =>
          val a = txt.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
          if (a.length < spansW) Iterator.empty
          else a.sliding(spansW).zipWithIndex.map {
            case (g, i) => (id, i + 1, fnv64(g.mkString(" "))) }
        }.toDF("doc_id", "i", "sh")
        .cache() // feeds both the repeated-set agg and the position join
      val rep = sh.groupBy(col("sh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("sh"))
      val pos = sh.join(rep, "sh").select(col("doc_id"), col("i")).distinct()
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      pos
        .withColumn("brk",
          when(col("i") - lag(col("i"), 1).over(w) <= spansW, 0).otherwise(1))
        .withColumn("grp", sum(col("brk")).over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("i")).as("span_start"),
          (max(col("i")) + (spansW - 1)).as("span_end"))
        .select(col("doc_id"), col("span_start"), col("span_end"))
    })

  /** Incremental-shard near-dup detection: the pairs between a NEW shard
    * and the EXISTING corpus only — the economics of incremental dedup:
    * when a shard lands, old×old pairs were already adjudicated, so the
    * band candidates filter to cross-side pairs BEFORE the exact-verify
    * join ever runs. At 100 TB the old corpus's signatures/band keys are
    * precomputed and stored (they are deterministic functions of content);
    * only the new shard computes signatures and probes old buckets —
    * candidate and verify work scale with the SHARD, not the corpus. Same
    * geometry and exact-verification as [[minHashDedup]], so the output is
    * the exact Jaccard pair set restricted to cross-side pairs. */
  def minHashDedupNewShard(df: DataFrame, id: String, text: String,
      n: Int, numHashes: Int, bands: Int, threshold: Double,
      isNew: Column): DataFrame = {
    val sh = shingleIndexHashed(df, id, text, n).cache()
    val sig = minHashSignatures(sh, numHashes)
    val side = df.select(col(id).cast("long").as("doc_id"), isNew.as("isnew"))
    val cands = lshCandidates(sig, bands, numHashes / bands)
      .join(side.select(col("doc_id").as("i"), col("isnew").as("ni")), "i")
      .join(side.select(col("doc_id").as("j"), col("isnew").as("nj")), "j")
      .filter(col("ni") =!= col("nj"))
      .select(col("i"), col("j"))
    val cnt = shingleCounts(sh)
    sh.as("a")
      .join(cands.as("cd"), col("a.doc_id") === col("cd.i"))
      .join(sh.as("b"),
        col("b.doc_id") === col("cd.j") && col("b.s") === col("a.s"))
      .groupBy(col("cd.i").as("i"), col("cd.j").as("j"))
      .agg(count(lit(1)).as("c"))
      .join(cnt.as("na"), col("i") === col("na.doc_id"))
      .join(cnt.as("nb"), col("j") === col("nb.doc_id"))
      .select(col("i"), col("j"),
        Num.pround(col("c").cast("double") /
          (col("na.n") + col("nb.n") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The shard that plays "newly arrived" in [[newShardQ]]. */
  val NewShardSource = "src1"

  val newShardQ = QueryDef(
    "dedup_new_shard",
    s"near-dup pairs between the newly-landed shard ($NewShardSource) and the existing corpus only — incremental batch dedup",
    Some(s"""WITH toks AS (SELECT d.doc_id, d.source = '$NewShardSource' AS isnew,
                    string_split_regex(trim(lower(d.text)), '\\s+') AS t
                  FROM documents d),
       sh AS (SELECT DISTINCT doc_id, isnew,
                t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks CROSS JOIN unnest(generate_series(1, len(t)-2)) AS u(i)
              WHERE len(t) >= 3),
       n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       p AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
             FROM sh a JOIN sh b
               ON a.s = b.s AND a.doc_id < b.doc_id AND a.isnew <> b.isnew
             GROUP BY 1, 2)
       SELECT i, j, ${Num.sql("CAST(c AS DOUBLE) / (na.n + nb.n - c)", 4)} AS jaccard
       FROM p JOIN n na ON na.doc_id = i JOIN n nb ON nb.doc_id = j
       WHERE ${Num.sql("CAST(c AS DOUBLE) / (na.n + nb.n - c)", 4)} >= 0.8"""),
    (s, dir) => minHashDedupNewShard(Tables.documents(s, dir), "doc_id",
      "text", 3, LshNumHashes, LshBands, 0.8,
      col("source") === NewShardSource))

  /** Default paragraph granularity for [[paragraphDedup]] — long enough that
    * a repeated segment is boilerplate (not a common phrase), short enough
    * that one pass of planted duplication still lands inside a single
    * paragraph window. */
  val ParaTokens = 16

  /** Paragraph-granularity corpus dedup with document REWRITE (the CCNet
    * shape, ref. lib/ has no counterpart — §7.6 north star): each document's
    * token stream is segmented into fixed [[ParaTokens]]-token paragraphs,
    * each distinct paragraph keeps only its globally FIRST occurrence
    * (earliest (doc_id, position) wins), and every document is reassembled
    * from its surviving paragraphs in order. Unlike doc-level dedup this
    * strips boilerplate shared across DIFFERENT documents while keeping
    * their unique remainder; unlike [[repeatedSpans]] it rewrites the corpus
    * rather than reporting span locations.
    *
    * Scale (100 TB): rows are (paragraph, position) — linear in the corpus —
    * and the plan is two hash shuffles: by paragraph md5 for the
    * first-occurrence window, then by doc_id for reassembly. No pair join
    * anywhere. When duplicates are known rare, the full-text window shuffle
    * can be narrowed to a min-struct groupBy over the 16-byte hash plus a
    * winner equi-join, at the cost of a second pass over the chunk stream. */
  def paragraphDedup(df: DataFrame, id: String, text: String,
      paraTokens: Int = ParaTokens): DataFrame = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val ch = df.select(col(id).cast("long").as("doc_id"), col(text).as("t"))
      .as[(Long, String)]
      .flatMap { case (docId, t) =>
        val toks = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        toks.grouped(paraTokens).zipWithIndex.map {
          case (g, i) => (docId, i.toLong, g.mkString(" ")) }
      }.toDF("doc_id", "chunk_idx", "chunk")
    val w = Window.partitionBy(md5(col("chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))
    ch.withColumn("kept", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
            when(col("kept"), struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("kept_text"))
  }

  /** Oracled under DuckDB's own chunking/window spelling: identical
    * paragraph boundaries, first-writer rule, and reassembled text. */
  val paragraphsQ = QueryDef(
    "dedup_paragraphs",
    s"paragraph-level dedup with doc rewrite: first global occurrence of each $ParaTokens-token paragraph survives",
    Some(s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
                        FROM documents),
       ch AS (SELECT doc_id, i AS chunk_idx,
                     array_to_string(t[(i*$ParaTokens+1):(i*$ParaTokens+$ParaTokens)], ' ') AS chunk
              FROM toks CROSS JOIN
                unnest(generate_series(0, (len(t)+${ParaTokens - 1})//$ParaTokens - 1)) AS u(i)),
       k AS (SELECT doc_id, chunk_idx, chunk,
                    row_number() OVER (PARTITION BY md5(chunk)
                      ORDER BY doc_id, chunk_idx) = 1 AS kept
             FROM ch)
       SELECT doc_id, count(*) AS n_paras,
              CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              coalesce(string_agg(CASE WHEN kept THEN chunk END, ' '
                ORDER BY chunk_idx), '') AS kept_text
       FROM k GROUP BY doc_id"""),
    (s, dir) => paragraphDedup(Tables.documents(s, dir), "doc_id", "text"))

  /** Recall floor for [[dedupRecallReport]]. The LSH and capped paths are
    * structurally complete on corpora without pathological shingle skew
    * (recall 1.0 here, differentially proven in DedupSimilaritySpec); the
    * simhash path detects by a DIFFERENT similarity (fingerprint hamming,
    * not set Jaccard), so its recall of Jaccard-0.8 pairs reflects measure
    * agreement, not a bug (measured 1.0 at sf0.001/sf0.01 — planted
    * near-dups differ by whole tokens, which moves few fingerprint bits).
    * The floor sits where only a structural break (dropped band, broken
    * signature) can cross it. */
  val DedupRecallFloor = 0.5

  /** Micro-averaged recall of each scale-safe near-dup path against the
    * uncapped exact-Jaccard ground truth ([[jaccardQ]]'s pair set) — the
    * dedup twin of `Curation.annRecallReport`: after any re-tune of
    * bands/rows/caps, one query says whether the production paths still
    * find the pairs the quadratic baseline defines. Runs each method once
    * over its own candidate structure; the only cross join is against the
    * broadcast single-row exact count.
    *
    * `sampleMod` > 1 gates on a deterministic 1/sampleMod hash sample of the
    * corpus — the 100 TB form, since the gate's ground truth is the
    * quadratic baseline and must never see a full web-scale corpus. Both
    * the ground truth and every method run on the SAME restricted corpus,
    * so within-sample recall is an unbiased estimate of corpus recall
    * (pairs straddling the sample boundary are excluded from both sides
    * identically). */
  def dedupRecallReport(docs0: DataFrame, sampleMod: Long = 1L): DataFrame = {
    val docs = if (sampleMod <= 1L) docs0
      else docs0.filter(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0)
    // one shingle pass serves both the uncapped ground truth and the capped
    // method — the cap is an anti-join DERIVED from the base index, so the
    // corpus is scanned once, not once per variant
    val base = shingleIndexHashed(docs, "doc_id", "text", 3, Uncapped).cache()
    val hot = base.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 50).select(col("s"))
    val capped = base.join(broadcast(hot), Seq("s"), "left_anti").cache()
    // cached: the ground-truth pair table has two consumers (the per-method
    // hits join and the denominator count) — uncached, the uncapped
    // shingle self-join (the report's single heaviest subtree) runs twice
    val exact = jaccardFromIndex(base, 0.8).select(col("i"), col("j")).cache()
    val methods: Seq[(String, DataFrame)] = Seq(
      // FromIndex: the minhash leg reuses the same cached shingle pass as
      // the ground truth and the capped variant — one corpus shingle, not two
      "minhash_lsh" -> minHashDedupFromIndex(base, LshNumHashes, LshBands, 0.8)
        .select(col("i"), col("j")),
      "jaccard_capped" -> jaccardFromIndex(capped, 0.8)
        .select(col("i"), col("j")),
      "simhash_d3" -> hammingPairsWide(
        simHash(docs, "doc_id", "text"), maxDist = 3)
        .select(col("i"), col("j")))
    val reported = methods.map { case (nm, df) =>
      df.select(lit(nm).as("method"), col("i"), col("j"))
    }.reduce(_ union _)
    val hits = reported.join(exact, Seq("i", "j"))
      .groupBy(col("method")).agg(count(lit(1)).as("n_hits"))
    val total = exact.agg(count(lit(1)).as("n_exact"))
    hits.crossJoin(broadcast(total))
      .select(col("method"),
        Num.pround(
          col("n_hits").cast("double") / col("n_exact"), 4).as("recall"))
  }

  /** Largest corpus the UNCAPPED exact ground truth may see. The boundary
    * is measured, not hypothetical: 50k docs (sf1) completes in ~13 s and
    * fits the shuffle in memory; 500k docs (the r10 sf10 sweep) shuffled
    * 47 GB of shared-shingle candidates before being killed — candidate
    * pairs grow with Σ df², so 10x docs is ~100x pairs on the hot
    * shingles. Past the ceiling the report gates on a deterministic
    * 1/sampleMod hash-sample (see [[dedupRecallReport]]): within-sample
    * recall is an unbiased estimate because the sample restriction is
    * applied to the ground truth and every method identically. */
  val RecallGroundTruthMaxDocs = 60000L

  /** Oracled gate form: methods clearing [[DedupRecallFloor]], pinned as a
    * literal sorted list — a structural recall collapse surfaces as a
    * missing row / hash mismatch. The corpus count that picks `sampleMod`
    * is a driver action, so the builder is Deferred-wrapped (registration
    * stays lazy, same discipline as `dedup_clusters`). */
  val dedupRecallQ = QueryDef(
    "dedup_recall_report",
    s"near-dup paths with recall >= $DedupRecallFloor vs the exact-Jaccard ground truth (hash-sampled past ${RecallGroundTruthMaxDocs} docs)",
    Some("""SELECT method FROM (VALUES ('jaccard_capped'), ('minhash_lsh'),
                   ('simhash_d3')) AS t(method)
            ORDER BY method"""),
    (s, dir) => {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      graft.plans.Deferred.dataFrame(s,
        StructType(Seq(StructField("method", StringType))),
        () => {
          val docs = Tables.documents(s, dir)
          val n = docs.count()
          val mod = ((n + RecallGroundTruthMaxDocs - 1) / RecallGroundTruthMaxDocs)
            .max(1L)
          dedupRecallReport(docs, mod)
            .filter(col("recall") >= DedupRecallFloor)
            .select(col("method")).orderBy(col("method"))
        })
    })

  val defs: Seq[QueryDef] =
    Seq(exactQ, jaccardQ, jaccardStripeQ, jaccardCappedQ,
      jaccardCappedStripeQ, minHashQ, minHashStripeQ, simHashQ,
      hammingQ, hammingWideQ, clustersQ, keepBestQ, keepBestStripeQ,
      spansQ, containmentQ, dedupRecallQ, paragraphsQ, newShardQ)
}
