package graft.operators

import graft.QueryDef
import graft.functions.{Num, Text}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline ASSEMBLY operators (SURVEY.md §7.6) — the steps
  * after cleaning/dedup that turn a corpus into training input: sequence
  * packing, stratified sampling, per-document salient terms (tf-idf),
  * corpus-level collocations (bigram lift), and Bloom-filter join pruning.
  *
  * Determinism rules in force: rank/threshold scores avoid transcendentals —
  * tf-idf uses a linear inverse frequency tf·(N/df) and collocation strength
  * uses lift = P(xy)/(P(x)P(y)) (= e^PMI, same ranking as PMI) because `ln`
  * is not IEEE-exact across engines, while +,*,/ are.
  */
object Pipeline {

  private val PackCapacity = 4096L

  /** Sequence packing: concatenate documents in doc_id order and cut the
    * stream into fixed `capacity`-token training sequences; each document is
    * assigned the bin where its first token lands (the concat-then-chunk
    * packing LLM loaders use). Needs a GLOBAL prefix sum — computed as the
    * classic two-level scan so no stage ever sees one giant partition:
    * in-chunk window prefix (shuffled by chunk) + tiny cumulative chunk
    * offset table (window over #chunks rows) broadcast back. At 100 TB the
    * wide table shuffles once by chunk; the global pass touches only chunk
    * totals. */
  def packSequences(df: DataFrame, id: String, nTokens: String,
      capacity: Long): DataFrame = {
    // exact integer division for the chunk key: true division rounds through
    // a double, which is only monotone in id up to ~2^53
    val chunk = expr(s"$id div 1000").as("chunk")
    val inChunk = Window.partitionBy(col("chunk")).orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = df.select(col(id), col(nTokens), chunk)
      .withColumn("within", coalesce(sum(col(nTokens)).over(inChunk), lit(0L)))
    val overChunks = Window.orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = within.groupBy(col("chunk"))
      .agg(sum(col(nTokens)).as("chunk_total"))
      .withColumn("chunk_before", coalesce(sum(col("chunk_total")).over(overChunks), lit(0L)))
      .select(col("chunk").as("oc"), col("chunk_before"))
    within.join(broadcast(offsets), col("chunk") === col("oc"))
      .withColumn("cum_before", col("chunk_before") + col("within"))
      .select(col(id), col(nTokens),
        expr(s"cum_before div $capacity").as("bin"),
        (col("cum_before") % capacity).as("bin_offset"))
  }

  val packQ = QueryDef(
    "pack_sequences",
    "pack documents into 4096-token training bins by global token prefix sum",
    Some(s"""WITH t AS (SELECT doc_id,
                  len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens
                FROM documents),
             c AS (SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cum_before
                   FROM t)
             SELECT doc_id, n_tokens,
                    cum_before // $PackCapacity AS bin,
                    cum_before % $PackCapacity AS bin_offset
             FROM c"""),
    (s, dir) => packSequences(
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", PackCapacity))

  /** Stratified sampling: per-stratum keep-rates decided by a content hash,
    * not rand() — the sample is reproducible across runs, engines, and
    * partitionings (same discipline as split_train_val). Majority language
    * downsampled to 8/16, the rest to 4/16. */
  val sampleQ = QueryDef(
    "sample_stratified",
    "deterministic content-hash stratified sample (en 50%, others 25%)",
    Some("""SELECT doc_id, lang FROM documents
            WHERE (lang = 'en' AND substring(md5(text), 1, 1) BETWEEN '0' AND '7')
               OR (lang <> 'en' AND substring(md5(text), 1, 1) BETWEEN '0' AND '3')"""),
    (s, dir) => {
      val nib = substring(md5(col("text")), 1, 1)
      Tables.documents(s, dir)
        .filter((col("lang") === "en" && nib.between("0", "7")) ||
          (col("lang") =!= "en" && nib.between("0", "3")))
        .select(col("doc_id"), col("lang"))
    })

  /** Per-document top-3 salient terms by tf-idf (linear idf: tf·(N/df)).
    * Ranking happens on the RAW score — integer counts and one IEEE division,
    * so both engines order identically; the emitted score is rounded only for
    * display/hashing. At scale: one shuffle for tf, one for df, a broadcast
    * scalar for N, and a per-document window. */
  val tfidfQ = QueryDef(
    "text_tfidf_topk",
    "top-3 tf-idf terms per document (linear idf, engine-exact ranking)",
    Some(s"""WITH tok AS (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
                 FROM documents),
             tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
                    WHERE term <> '' GROUP BY 1, 2),
             idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             n AS (SELECT count(*) AS n FROM documents)
             SELECT doc_id, term, ${Num.sql("tf * (CAST(n AS DOUBLE) / df)", 4)} AS tfidf, rn
             FROM (SELECT f.doc_id, f.term, f.tf, d.df, n.n,
                          row_number() OVER (PARTITION BY f.doc_id
                            ORDER BY f.tf * (CAST(n.n AS DOUBLE) / d.df) DESC,
                                     f.term) AS rn
                   FROM tf f JOIN idf d ON d.term = f.term CROSS JOIN n)
             WHERE rn <= 3"""),
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tf = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // tf is one row per (doc, term), so df is a plain count per term
      val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val score = col("tf") * (col("n").cast("double") / col("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(score.desc, col("term"))
      tf.join(idf, "term").join(broadcast(n))
        .select(col("doc_id"), col("term"),
          Num.pround(score, 4).as("tfidf"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    })

  /** Corpus collocations: top-20 bigrams by lift — observed pair frequency
    * over the independence expectation, count-floored to kill noise pairs.
    * Lift = e^PMI, so the ranking equals PMI ranking without the ln. Shuffle
    * profile: one groupBy for pairs, one for unigrams, broadcast joins of the
    * (small) aggregates back onto the pair table. */
  val liftQ = QueryDef(
    "text_bigram_lift",
    "top-20 corpus bigrams by lift (observed/expected, count >= 5)",
    Some(s"""WITH toks AS (SELECT doc_id,
                    string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM documents),
             bg AS (SELECT t[i] AS x, t[i+1] AS y
                    FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
                    WHERE len(t) >= 2 AND t[i] <> '' AND t[i+1] <> ''),
             uni AS (SELECT u AS term, count(*) AS c
                     FROM (SELECT unnest(t) AS u FROM toks)
                     WHERE u <> '' GROUP BY 1),
             pair AS (SELECT x, y, count(*) AS c_xy FROM bg
                      GROUP BY 1, 2 HAVING count(*) >= 5),
             tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uni)
             SELECT x, y, c_xy,
                    ${Num.sql("(CAST(c_xy AS DOUBLE) * t) / (cx.c * cy.c)", 4)} AS lift
             FROM pair JOIN uni cx ON cx.term = pair.x
             JOIN uni cy ON cy.term = pair.y CROSS JOIN tot
             ORDER BY (CAST(c_xy AS DOUBLE) * t) / (cx.c * cy.c) DESC, x, y
             LIMIT 20"""),
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      def toks(txt: String): Array[String] =
        txt.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      // typed flatMaps, not explode(transform(...)): Catalyst re-inlines the
      // tokenizer per element in the Column form (see Dedup.shingleIndexAs)
      val pairs = docs.select(col("text")).as[String]
        .flatMap { t =>
          val a = toks(t)
          if (a.length < 2) Iterator.empty
          else a.sliding(2).collect {
            case Array(x, y) if x.nonEmpty && y.nonEmpty => (x, y) }
        }.toDF("x", "y")
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      val uni = docs.select(col("text")).as[String]
        .flatMap(t => toks(t).iterator.filter(_.nonEmpty)).toDF("term")
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum(col("c")).as("t"))
      val cx = uni.select(col("term").as("x_term"), col("c").as("cx"))
      val cy = uni.select(col("term").as("y_term"), col("c").as("cy"))
      val lift = (col("c_xy").cast("double") * col("t")) / (col("cx") * col("cy"))
      pairs
        .join(cx, col("x") === col("x_term"))
        .join(cy, col("y") === col("y_term"))
        .join(broadcast(tot))
        .select(col("x"), col("y"), col("c_xy"), lift.as("lift_raw"))
        .orderBy(col("lift_raw").desc, col("x"), col("y"))
        .limit(20)
        .select(col("x"), col("y"), col("c_xy"),
          Num.pround(col("lift_raw"), 4).as("lift"))
    })

  /** Bloom-filter join pruning: before shuffling the fact table into a semi
    * join, drop rows whose key cannot be in the (selective) build side using
    * a broadcast Bloom sketch; the exact semi join then removes the false
    * positives. At 100 TB this trades "shuffle every fact row" for "broadcast
    * ~240 KB of bits + shuffle only surviving rows" — the same move Spark's
    * own runtime-filter optimization makes, here as an explicit, composable
    * operator. Building the sketch is an action, so the query is
    * Deferred-wrapped (lazy until first use). Oracled against the plain
    * semi-join answer: pruning must not change results. */
  def bloomPrune(fact: DataFrame, factKey: String, keys: DataFrame,
      key: String, expectedKeys: Long = 200000L, fpp: Double = 0.01): DataFrame = {
    val spark = fact.sparkSession
    val bf = keys.stat.bloomFilter(key, expectedKeys, fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContainLong(k))
    fact.filter(mightContain(col(factKey)))
  }

  val bloomQ = QueryDef(
    "bloom_prune_orders",
    "Bloom-pruned semi join: lineitem revenue inside high-value orders",
    Some(s"""SELECT l_returnflag, count(*) AS n_lines,
                    ${Num.sqlSum("l_extendedprice * (1 - l_discount)", 6, 2)} AS revenue
             FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                  WHERE o_totalprice > 400000)
             GROUP BY 1"""),
    (s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
      graft.plans.Deferred.dataFrame(s, StructType(Seq(
        StructField("l_returnflag", StringType),
        StructField("n_lines", LongType, nullable = false),
        StructField("revenue", DoubleType))),
        () => {
          val hi = Tables.orders(s, dir)
            .filter(col("o_totalprice") > 400000).select(col("o_orderkey"))
          bloomPrune(Tables.lineitem(s, dir), "l_orderkey", hi, "o_orderkey")
            .join(hi, col("l_orderkey") === col("o_orderkey"), "left_semi")
            .groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("n_lines"),
              // money product = fixed-point 4dp: decimal accumulate like q1
              // (this site was missed in the r10 psum conversion)
              Num.psum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6, 2)
                .as("revenue"))
        })
    })

  /** Exact-k per-stratum sample: the 10 docs per source with the smallest
    * content hash — the "give me exactly k examples per source" primitive
    * (rate-based sampling can't hit k exactly). Hash-ranked, so the pick is
    * reproducible across runs, engines, and shardings. One shuffle by source
    * + a rank window; at 100 TB a pre-filter on a hash prefix would bound the
    * window input per stratum first (same move as sample_stratified). */
  val samplePerKeyQ = QueryDef(
    "sample_per_source_topk",
    "deterministic exact-k (10) sample per source, ranked by content hash",
    Some("""SELECT doc_id, source, rn FROM
              (SELECT doc_id, source, row_number() OVER (PARTITION BY source
                 ORDER BY md5(text), doc_id) AS rn
               FROM documents)
            WHERE rn <= 10"""),
    (s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("text")), col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 10)
    })

  /** Context-window chunking with overlap: each document's token stream cut
    * into windows of `W` tokens at stride `S` (the return_overflowing_tokens
    * shape tokenizer pipelines use — every token appears in some chunk, the
    * final chunk is short, interior chunks overlap by W-S). Chunk count is
    * pure integer arithmetic (exact ceil division), the per-doc explode is
    * map-side only — no shuffle at any corpus size. */
  val chunkW = 32L
  val chunkS = 16L

  /** The chunk arithmetic as a reusable transform over (id, token-count)
    * rows; PropertySpec drives it with randomized lengths. */
  def chunkWithStride(counts: DataFrame, id: String, n: String,
      w: Long, s: Long): DataFrame =
    counts
      .withColumn("n_chunks", when(col(n) <= w, 1L)
        .otherwise(expr(s"(($n - ${w - s + 1}) div $s) + 1")))
      .select(col(id), col(n),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("k"))
      .select(col(id), col("k").as("chunk_idx"),
        (col("k") * s).as("chunk_start"),
        least(col("k") * s + w, col(n)).as("chunk_end"))

  val chunkQ = QueryDef(
    "chunk_with_stride",
    s"overlapping $chunkW-token context windows at stride $chunkS per doc",
    Some(s"""WITH t AS (SELECT doc_id,
                   len(string_split_regex(trim(lower(text)), '\\s+')) AS n
                 FROM documents),
             c AS (SELECT doc_id, n,
                     CASE WHEN n <= $chunkW THEN 1
                          ELSE ((n - ${chunkW - chunkS + 1}) // $chunkS) + 1
                     END AS n_chunks
                   FROM t)
             SELECT doc_id, k AS chunk_idx, k * $chunkS AS chunk_start,
                    least(k * $chunkS + $chunkW, n) AS chunk_end
             FROM c CROSS JOIN unnest(generate_series(0, n_chunks - 1)) AS u(k)"""),
    (s, dir) => chunkWithStride(
      Tables.documents(s, dir).select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n")),
      "doc_id", "n", chunkW, chunkS))

  /** Vocabulary construction: top-20 tokens by corpus frequency with ids
    * assigned by rank (count desc, token asc tiebreak). The rank window runs
    * over the AGGREGATED vocab (one row per distinct token), never the token
    * stream — at 100 TB that input is |vocab|, bounded by construction. */
  val vocabQ = QueryDef(
    "vocab_top_tokens",
    "top-20 vocabulary with rank-assigned ids (count desc, token tiebreak)",
    Some("""SELECT token, n, token_id FROM
              (SELECT u AS token, count(*) AS n,
                      row_number() OVER (ORDER BY count(*) DESC, u) AS token_id
               FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS u
                     FROM documents)
               WHERE u <> '' GROUP BY u)
            WHERE token_id <= 20"""),
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token"))
      Tables.documents(s, dir)
        .select(explode(Text.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .withColumn("token_id", row_number().over(w))
        .filter(col("token_id") <= 20)
        .select(col("token"), col("n"), col("token_id"))
    })

  val defs: Seq[QueryDef] =
    Seq(packQ, sampleQ, tfidfQ, liftQ, bloomQ, samplePerKeyQ, chunkQ, vocabQ)
}
