package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale rehearsal for the blocked self-joins (SCALE.md "measured"
  * section). Generates a self-consistent family of synthetic corpora at
  * 1x/3x/10x the sf0.1 size (10x = sf1: 1M events, 50k docs) following the
  * driver generator's scaling law — rows and users scale with sf, the 30-day
  * time window stays FIXED — then measures, for each blocked join, how the
  * CANDIDATE count (rows surviving the blocking equi-join, before exact
  * verification) grows relative to the QUALIFYING count (true output pairs).
  *
  * The scale claim under test: candidates track qualifying pairs (blocking
  * efficiency is scale-free), not |input|² — i.e. cost follows co-location
  * density, which is a property of the DATA, while the quadratic form's cost
  * would grow with corpus size regardless of density.
  *
  * Candidate counts are computed with the SAME key derivations as the
  * operators (hour-bin x cell for encounters, hour-bin for session overlap,
  * pigeonhole bands for simhash, LSH band buckets for minhash) as
  * sum-of-products over key-group sizes — an aggregation, so the rehearsal
  * itself never materializes the pairs it is counting.
  */
object ScaleRehearsal {

  // ---- deterministic generators (hash-based, no RNG: reruns identical) ----

  private val vocab = Seq("spark", "batch", "column", "row", "table", "query",
    "scan", "sort", "hash", "group", "agg", "filter", "join", "window",
    "stream", "merge", "data", "key", "value", "part", "line", "order",
    "fast", "slow", "small", "big", "vector", "index", "cache", "shuffle",
    "plan", "stage", "task", "block", "page", "file", "byte", "bit",
    "node", "edge")

  private def lcg(x0: Long): Iterator[Long] =
    Iterator.iterate(x0 * 6364136223846793005L + 1442695040888963407L)(
      x => x * 6364136223846793005L + 1442695040888963407L)

  /** murmur3 fmix64 finalizer: an LCG's LOW bits are short-period (mod-8
    * classes of consecutive values form a functional graph), so taking
    * `floorMod(raw, 40)` made consecutive tokens deterministic mod 8 — a
    * bigram graph with NO 3-cycles, which degenerated the graph-family
    * rehearsal (zero triangles at every mult). Mixing the high bits down
    * restores full bigram coverage over the vocab. */
  private def fmix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** Base text of a doc: 15-60 tokens from the vocab, seeded by id. */
  private def baseText(seed: Long): String = {
    val r = lcg(seed)
    val len = 15 + math.floorMod(r.next(), 46).toInt
    r.take(len).map(x => vocab(math.floorMod(fmix(x), vocab.length).toInt))
      .mkString(" ")
  }

  /** Every 20th doc is a near-copy of the previous doc with one token
    * mutated (the planted near-dup pairs dedup must find); every 100th is an
    * exact copy. Matches the sf0.1 corpus's ~5% near-dup density. */
  def docText(id: Long): String =
    if (id % 100 == 99) baseText(id - 1)
    else if (id % 20 == 19) {
      val toks = baseText(id - 1).split(" ")
      toks(math.floorMod(id, toks.length).toInt) = "mutated"
      toks.mkString(" ")
    } else baseText(id)

  /** events + documents tables at `mult` x the sf0.1 size, written to
    * `dir` (same schemas as TESTDATA.md, ts as nanosecond long exactly like
    * the driver's TIMESTAMP_NS binding under nanosAsLong). */
  def generate(spark: SparkSession, dir: String, mult: Int): Unit = {
    genEvents(spark, dir, mult)
    genDocuments(spark, dir, mult)
    genEmbeddings(spark, dir, mult)
  }

  def genEvents(spark: SparkSession, dir: String, mult: Int): Unit = {
    val nEvents = 100000L * mult
    val nUsers = 1500L * mult
    val spanNs = 30L * 24 * 3600 * 1000000000L // fixed 30-day window
    val t0Ns = 1704067200L * 1000000000L       // 2024-01-01T00:00Z
    spark.range(nEvents)
      .select(col("id").as("event_id"),
        (lit(t0Ns) + pmod(xxhash64(col("id"), lit("ts")), lit(spanNs)))
          .as("ts"),
        pmod(xxhash64(col("id"), lit("u")), lit(nUsers)).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("signup"),
            lit("error")),
          (pmod(xxhash64(col("id"), lit("t")), lit(5)) + 1).cast("int"))
          .as("event_type"),
        round(pmod(xxhash64(col("id"), lit("v")), lit(56021)) / 100.0, 2)
          .as("value"),
        concat(lit("""{"k": """),
          pmod(xxhash64(col("id"), lit("p")), lit(100)), lit("}"))
          .as("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  def genDocuments(spark: SparkSession, dir: String, mult: Int): Unit = {
    import spark.implicits._
    val nDocs = 5000L * mult
    spark.range(nDocs)
      .map { id =>
        val text = docText(id)
        val lang = Seq("en", "de", "fr", "es", "zh")(
          math.floorMod(id, 5).toInt)
        (id, text, lang, s"src${math.floorMod(id, 20)}", text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def genEmbeddings(spark: SparkSession, dir: String, mult: Int): Unit = {
    import spark.implicits._
    // embeddings: 10 cluster directions + per-vector hash noise (matches the
    // driver corpus's shape: 64-dim float, 10 labels, near-isotropic within
    // cluster); every 50th vector is a near-copy of its predecessor — the
    // planted near-neighbor structure recall is measured against
    val nVecs = 2000L * mult
    val dim = 64
    spark.range(nVecs)
      .map { id0 =>
        val id: Long = id0
        val label = math.floorMod(id, 10).toInt
        val baseId: Long = if (id % 50 == 49) id - 1 else id
        val r = lcg(baseId * 31 + 7)
        val noise = r.take(dim).map(x =>
          (math.floorMod(x, 2001) - 1000) / 1000.0f).toArray
        val v = Array.tabulate(dim) { d =>
          val center = if (d % 10 == math.floorMod(baseId, 10)) 2.0f else 0.0f
          val jitter = if (id % 50 == 49 && d == 0) 0.01f else 0.0f
          center + noise(d) + jitter
        }
        (id, v, label)
      }
      .toDF("vec_id", "embedding", "label")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  // ---- candidate counters (same keys as the operators, count-only) ----

  private val encounterUs = 3600000000L
  private val sessGapUs = 1800000000L
  private val sessBinUs = 3600000000L

  private def positions(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.events(spark, dir).select(
      col("user_id").as("ship"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"), col("value").as("speed"),
      ((col("event_id") % 1780) / 10.0 - 89.0).as("lat"),
      ((col("event_id") % 3580) / 10.0 - 179.0).as("lon"))

  /** Blocked-join candidate rows for geo_encounters: sum over (hb,cy,cx) of
    * |left(key)| x |expanded right(key)| — computed as an agg, no join. */
  def encounterCandidates(spark: SparkSession, dir: String): Long = {
    val r = 50.0
    val p = positions(spark, dir).filter(abs(col("lat")) <= 70)
      .withColumn("hb", floor(col("ts_us") / encounterUs).cast("long"))
      .withColumn("cy", floor(col("lat")).cast("long"))
      .withColumn("cx", floor(col("lon")).cast("long"))
    val left = p.groupBy(col("hb"), col("cy"), col("cx"))
      .agg(count(lit(1)).as("nl"))
    val dlon = degrees(asin(sin(lit(r / 6371.0)) / cos(radians(col("lat")))))
    val right = p
      .withColumn("hbc", explode(sequence(col("hb") - 1, col("hb") + 1)))
      .withColumn("cyc", explode(sequence(col("cy") - 1, col("cy") + 1)))
      .withColumn("cxc", explode(sequence(
        floor(col("lon") - dlon).cast("long"),
        floor(col("lon") + dlon).cast("long"))))
      .select(col("hbc").as("hb"), col("cyc").as("cy"),
        (pmod(col("cxc") + 180, lit(360)) - 180).as("cx"))
      .groupBy(col("hb"), col("cy"), col("cx"))
      .agg(count(lit(1)).as("nr"))
    left.join(right, Seq("hb", "cy", "cx"))
      .agg(sum(col("nl") * col("nr"))).collect()(0).getLong(0)
  }

  /** Session-overlap candidates: sum over hour bins of |sessions covering
    * the bin| x |sessions starting in the bin| (the operator's join shape). */
  def sessionCandidates(spark: SparkSession, dir: String): Long = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val sess = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("brk",
        when(lag(col("ts_us"), 1).over(w).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(w) > sessGapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("s0"), max(col("ts_us")).as("s1"))
    val covering = sess
      .withColumn("bin", explode(sequence(
        floor(col("s0") / sessBinUs), floor(col("s1") / sessBinUs))))
      .groupBy(col("bin")).agg(count(lit(1)).as("nc"))
    val starting = sess
      .select(floor(col("s0") / sessBinUs).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("ns"))
    covering.join(starting, Seq("bin"))
      .agg(sum(col("nc") * col("ns"))).collect()(0).getLong(0)
  }

  /** SimHash pigeonhole-band candidates: sum over (band, bits) buckets of
    * C(n,2) — the pair volume the hamming verifier sees. */
  def simhashCandidates(spark: SparkSession, dir: String): Long = {
    val fp = graft.operators.Dedup.simHash(
      graft.sources.Tables.documents(spark, dir), "doc_id", "text")
    val bands = 4
    val bandBits = 15
    (0 until bands).map { b =>
      fp.select(shiftrightunsigned(col("simhash"), b * bandBits)
          .mod(1 << bandBits).as("bits"))
        .groupBy(col("bits")).agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) div 2"))).collect()(0).getLong(0)
    }.sum
  }

  /** Candidate volume of the band-PAIR geometry (hammingPairsWide): sum of
    * C(n,2) over (combo, packed-key) buckets. */
  def simhashWideCandidates(spark: SparkSession, dir: String): Long = {
    val fp = graft.operators.Dedup.simHash(
      graft.sources.Tables.documents(spark, dir), "doc_id", "text")
    val nBands = 5
    val width = 12
    def bandVal(b: Int) = shiftrightunsigned(col("simhash"), b * width)
      .bitwiseAND(lit((1L << width) - 1))
    val combos = for { i <- 0 until nBands; j <- i + 1 until nBands }
      yield (i, j)
    val banded = fp.select(posexplode(array(combos.map { case (i, j) =>
      bandVal(i) * (1L << width) + bandVal(j) }: _*)).as(Seq("combo", "bv")))
    banded.groupBy(col("combo"), col("bv")).agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2"))).collect()(0).getLong(0)
  }

  /** SemDeDup within-cell candidate pairs: sum of C(|cell|, 2) over the IVF
    * cells — the pair volume the cosine verifier sees (same cell assignment
    * as the operator). The scale claim: cells track the codebook (stride
    * keeps |cell| ~ stride), so candidates grow LINEARLY with corpus size at
    * fixed stride — never |corpus|². */
  def semdedupCandidates(spark: SparkSession, dir: String): Long = {
    val c = graft.operators.Similarity.withNorm(
      graft.sources.Tables.embeddings(spark, dir))
    graft.operators.Similarity.assignCells(c,
        graft.operators.Similarity.coarseCentroids(c, 25))
      .groupBy(col("c_id")).agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2"))).collect()(0).getLong(0)
  }

  /** Wedge volume of graph_jaccard_neighbors under min-degree orientation
    * (Σ_v C(outdeg⁺(v), 2) — the row count its triangle join enumerates)
    * next to the Σ_edges (deg(a)+deg(b)) adjacency-join volume the naive
    * edge x adjacency form would shuffle. The scale claim: on the token
    * graph the oriented wedge count stays a small multiple of the edge
    * count (arboricity bound) while the adjacency-join volume carries the
    * hub's full deg² term; and BOTH saturate as the corpus grows because
    * the graph is VOCABULARY-sized — corpus scale only raises edge
    * weights, not the node/edge population. */
  def jaccardWedgeCandidates(spark: SparkSession, dir: String): (Long, Long) = {
    val u = graft.operators.Graph.undirectedEdges(spark, dir)
      .select(col("a"), col("b")).cache()
    val de = u.select(col("a").as("s"), col("b").as("d"))
      .unionByName(u.select(col("b").as("s"), col("a").as("d")))
    val deg = de.groupBy(col("s")).agg(count(lit(1)).as("dg"))
    val aLower = col("da.dg") < col("db.dg") ||
      (col("da.dg") === col("db.dg") && col("a") < col("b"))
    val joined = u
      .join(deg.as("da"), col("da.s") === col("a"))
      .join(deg.as("db"), col("db.s") === col("b")).cache()
    val wedges = joined
      .select(when(aLower, col("a")).otherwise(col("b")).as("src"))
      .groupBy(col("src")).agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2"))).collect()(0).getLong(0)
    val adjJoin = joined
      .agg(sum(col("da.dg") + col("db.dg"))).collect()(0).getLong(0)
    u.unpersist(); joined.unpersist()
    (wedges, adjJoin)
  }

  /** Cross-side band-bucket candidate volume for dedup_new_shard: sum over
    * (band, band-hash) buckets of n_new × n_old — the pair volume its
    * exact verifier sees. The scale claim: this tracks the SHARD's bucket
    * occupancy (each bucket contributes new×old, not C(n,2)), so landing a
    * fixed-size shard costs the same against any corpus size with stable
    * bucket geometry. */
  def newShardCandidates(spark: SparkSession, dir: String): Long = {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, dir)
    val sh = Dedup.shingleIndexHashed(docs, "doc_id", "text", 3)
    // mirrors the operator's geometry (Dedup.LshNumHashes / LshBands)
    val sig = Dedup.minHashSignatures(sh, Dedup.LshNumHashes)
    val rows = Dedup.LshNumHashes / Dedup.LshBands
    val bandCols = (0 until Dedup.LshBands).map { b =>
      xxhash64((b * rows until (b + 1) * rows).map(i => col(s"h$i")): _*)
    }
    val side = docs.select(col("doc_id").cast("long").as("doc_id"),
      (col("source") === Dedup.NewShardSource).as("isnew"))
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
      .join(side, "doc_id")
      .groupBy(col("band"), col("bh"))
      .agg(sum(when(col("isnew"), 1L).otherwise(0L)).as("nn"),
        sum(when(col("isnew"), 0L).otherwise(1L)).as("no"))
      .agg(sum(col("nn") * col("no"))).collect()(0).getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "/tmp/graft-scale"
    val mults = Seq(1, 3, 10)
    val spark = Graft.session(shufflePartitions = 32)
    spark.sparkContext.setLogLevel("WARN")

    val queries = Seq("geo_encounters", "session_overlap_join",
      "simhash_hamming_pairs", "simhash_hamming_pairs_wide",
      "dedup_clusters", "dedup_minhash_lsh",
      "dedup_paragraphs", "semdedup_verdicts", "dsir_weights",
      "dedup_new_shard", "hybrid_search_rrf", "kmeans_train_3",
      "curation_scorecard", "query_expansion_prf", "eval_bootstrap_ci",
      // graph family: vocabulary-bound after the linear bigram pass
      "graph_triangles", "graph_jaccard_neighbors", "graph_cc_sizes",
      "graph_kcore_backbone", "graph_degree_assortativity",
      "graph_clustering_coeff",
      "token_pagerank_10", "dedup_keep_best",
      // time-series family: per-key linear window/aggregate plans
      "ts_ewma", "ts_autocorr", "ts_cross_corr", "ts_seasonal_error",
      "ts_changepoint",
      "ts_gapfill", "ts_stl_decompose", "ts_holt_linear")
    mults.foreach { m =>
      val dir = s"$root/x$m"
      if (!new java.io.File(s"$dir/events.parquet").exists()) {
        generate(spark, dir, m)
        println(s"generated x$m at $dir")
      }
      val (wedges, adjJoin) = jaccardWedgeCandidates(spark, dir)
      println(s"""WEDGE {"mult":"x$m","oriented_wedges":$wedges,""" +
        s""""adjacency_join_rows":$adjJoin}""")
      val cand = Map(
        "geo_encounters" -> encounterCandidates(spark, dir),
        "session_overlap_join" -> sessionCandidates(spark, dir),
        "simhash_hamming_pairs" -> simhashCandidates(spark, dir),
        "simhash_hamming_pairs_wide" -> simhashWideCandidates(spark, dir),
        "semdedup_verdicts" -> semdedupCandidates(spark, dir),
        "dedup_new_shard" -> newShardCandidates(spark, dir),
        "graph_jaccard_neighbors" -> wedges)
      queries.foreach { q =>
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(q)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        println(f"""SCALE {"mult":"x$m","query":"$q","rows":$rows,""" +
          f""""sec":$sec%.2f,"candidates":${cand.getOrElse(q, -1L)}}""")
      }
      // ANN family: runtime of each path + recall@10 vs the exact baseline
      // on the same corpus — the scaling claim here is linear runtime with
      // STABLE recall (the planted near-neighbor structure is scale-free)
      Seq("ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf_cells",
        "ann_pq_adc", "ann_ivf_pq", "ann_truncated_rerank").foreach { q =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        println(f"""ANN {"mult":"x$m","query":"$q","sec":$sec%.2f}""")
      }
      val recall = graft.operators.Curation.annRecallReport(
        graft.sources.Tables.embeddings(spark, dir)).collect()
        .map(r => s""""${r.getString(0)}":${r.getDouble(1)}""").sorted
        .mkString("{", ",", "}")
      spark.catalog.clearCache()
      println(s"""ANNRECALL {"mult":"x$m","recall":$recall}""")
    }
    spark.stop()
  }
}
