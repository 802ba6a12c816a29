package graft.operators

import graft.QueryDef
import graft.functions.{Num, Text, Vec}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 training-data curation operators (SURVEY.md §7.6): benchmark
  * decontamination, entity-resolution fuzzy blocking, corpus-novelty and
  * vocabulary-coverage scoring, and product-quantization ANN.
  *
  * Scale design (100 TB): every pipeline here is LINEAR in the corpus — the
  * decontaminer is a membership join against the benchmark shingle set (never
  * a doc x doc product), the fuzzy matcher blocks on deletion-neighborhood
  * keys (an equi-join; no quadratic edit-distance sweep), the scorers are one
  * aggregation over the token/shingle stream, and PQ encodes against a
  * broadcast codebook so the corpus never shuffles for encoding.
  */
object Curation {

  // ---- benchmark decontamination -------------------------------------------

  /** The held-out "benchmark" slice: one source partition plays the role of
    * an eval set whose passages must not leak into training data. */
  val BenchmarkSource = "src0"
  private val decontamW = 8

  /** Training docs sharing >= 1 verbatim `w`-token shingle with the benchmark
    * docs — the n-gram decontamination every LLM training pipeline runs
    * against its eval suites. Linear: shingle both sides once, then an
    * equi-join on 8-byte shingle hashes; the corpus side never self-joins.
    * At 100 TB the benchmark shingle set is the small side of the join
    * (shuffle-hash on the fnv64 key; broadcast when the eval suite is small
    * enough — here it is 1/20 of the corpus, so we leave the strategy to
    * AQE rather than pinning a broadcast that would not hold at scale). */
  def decontaminate(docs: DataFrame, benchmarkSource: String,
      w: Int): DataFrame = {
    val srcs = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("source"))
    val sh = Dedup.shingleIndexHashed(docs, "doc_id", "text", w)
      .join(srcs, "doc_id")
    val bench = sh.filter(col("source") === benchmarkSource)
      .select(col("s")).distinct()
    sh.filter(col("source") =!= benchmarkSource)
      .join(bench, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("shared_spans"))
  }

  val decontaminateQ = QueryDef(
    "decontaminate_benchmark",
    "training docs sharing an 8-token span with the held-out benchmark source",
    Some(s"""WITH toks AS (SELECT doc_id, source,
                    string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM documents),
             s1 AS (SELECT DISTINCT doc_id, source,
                      concat_ws(' ', ${(0 until decontamW).map(k => s"t[i+$k]").mkString(", ")}) AS sh
                    FROM toks CROSS JOIN
                      unnest(generate_series(1, len(t) - ${decontamW - 1})) AS u(i)
                    WHERE len(t) >= $decontamW),
             b AS (SELECT DISTINCT sh FROM s1 WHERE source = '$BenchmarkSource')
             SELECT doc_id, count(*) AS shared_spans
             FROM s1 JOIN b USING (sh)
             WHERE source <> '$BenchmarkSource'
             GROUP BY 1"""),
    (s, dir) => decontaminate(Tables.documents(s, dir), BenchmarkSource,
      decontamW))

  // ---- entity-resolution fuzzy blocking ------------------------------------

  /** Hamming-distance-1 name pairs via deletion-neighborhood blocking: each
    * name emits `len` masked keys (one position replaced by a sentinel), and
    * two same-length names differing in exactly one character meet on exactly
    * one key — an EQUI-join over an 18x expansion, with zero edit-distance
    * evaluations. The quadratic all-pairs Levenshtein sweep (which the oracle
    * runs) is what this replaces: at 100 TB the blocked form shuffles
    * |corpus| x len narrow rows once; the unblocked form is |corpus|² and
    * impossible. The sentinel (chr(1)) cannot occur in the data. */
  def hamming1Pairs(df: DataFrame, id: String, name: String): DataFrame = {
    val masked = df.select(col(id).cast("long").as("id"), col(name).as("nm"))
      .select(col("id"), posexplode(expr(
        s"""transform(sequence(1, length(nm)),
              p -> concat(substring(nm, 1, p - 1), chr(1),
                          substring(nm, p + 1, length(nm))))"""))
        .as(Seq("p0", "k")))
      .select(col("id"), (col("p0") + 1).cast("long").as("pos"),
        // 8-byte join key instead of the masked string (a cross-key xxhash64
        // collision is ~|rows|²/2⁶⁵ and would surface as an oracle mismatch)
        xxhash64(col("k")).as("k"))
    // exactly-one-key guard (r12, from the r11 advice): two IDENTICAL
    // same-length names share the masked string at EVERY position, so the
    // raw equi-join would emit them len(nm) times — Hamming distance 0
    // admitted by a query whose contract is edit distance exactly 1. A
    // true distance-1 pair meets on exactly the one key masking the
    // differing position (provable: any other mask position leaves the
    // differing character visible on both sides), so "count of matching
    // keys = 1" IS the distance-1 predicate. The group-by runs on the
    // join's OUTPUT — answer-bound rows, negligible next to the 18x
    // blocking expansion. Residual edge (documented, not guarded): two
    // identical length-1 names also meet on exactly one key; impossible
    // here (c_name is 18 chars) and irrelevant to any corpus with
    // multi-char keys.
    masked.as("a").join(masked.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(min(col("a.pos")).as("pos"), count(lit(1)).as("nk"))
      .filter(col("nk") === 1)
      .select(col("i"), col("j"), col("pos"))
  }

  /** Oracle note (r11 sf10): the original all-pairs `levenshtein(a,b) = 1`
    * spelling is EQUIVALENT but quadratic — 1.5M same-length names at sf10
    * is ~1.1e12 edit-distance evaluations (the sweep's 30-min timeout is
    * hours short). The linear spelling below rests on two provable facts:
    * (1) levenshtein = 1 at EQUAL lengths ⇔ exactly one substitution ⇔
    * Hamming distance 1 (any insert/delete changes length; one edit total);
    * (2) two same-length names at Hamming distance 1 produce the same
    * masked string at exactly the differing position p and at no other —
    * so a self equi-join on (masked string) yields each qualifying pair
    * once, with pos = p directly. Mechanics stay independent of the
    * engine: raw masked-substring keys (the engine joins on xxhash64 of a
    * transform-built mask), so a hashing or mask-construction bug on
    * either side still surfaces as a mismatch. The HAVING count(*) = 1
    * mirrors the engine's exactly-one-key guard (distance-0 exclusion —
    * see [[hamming1Pairs]]). */
  val fuzzyPairsQ = QueryDef(
    "fuzzy_blocked_pairs",
    "customer-name pairs at edit distance 1 via deletion-neighborhood blocking",
    Some("""WITH m AS (SELECT c_custkey AS id, pp AS pos,
                              substring(c_name, 1, pp - 1) || chr(1) ||
                                substring(c_name, pp + 1) AS k
                       FROM customer CROSS JOIN
                         unnest(generate_series(1, length(c_name))) AS u(pp))
            SELECT a.id AS i, b.id AS j, min(a.pos) AS pos
            FROM m a JOIN m b ON a.k = b.k AND a.id < b.id
            GROUP BY 1, 2
            HAVING count(*) = 1"""),
    (s, dir) => hamming1Pairs(Tables.customer(s, dir), "c_custkey", "c_name"))

  // ---- corpus novelty / coverage scoring -----------------------------------

  /** Per-doc novelty: what fraction of a doc's distinct bigrams appear
    * nowhere else in the corpus. High novelty = unique content; near-zero =
    * boilerplate. Two aggregations over the shingle stream (df count, then
    * per-doc rollup) — no pair join. */
  val noveltyQ = QueryDef(
    "text_bigram_novelty",
    "per-doc fraction of bigrams unique to that doc (corpus df = 1)",
    Some(s"""WITH toks AS (SELECT doc_id,
                    string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM documents),
             sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS s
                    FROM toks CROSS JOIN
                      unnest(generate_series(1, len(t) - 1)) AS u(i)
                    WHERE len(t) >= 2),
             d AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
             SELECT doc_id, count(*) AS n_bigrams,
                    count(CASE WHEN df = 1 THEN 1 END) AS novel,
                    ${Num.sql("CAST(count(CASE WHEN df = 1 THEN 1 END) AS DOUBLE) / count(*)", 4)} AS novelty
             FROM sh JOIN d USING (s)
             GROUP BY doc_id"""),
    (s, dir) => {
      // counts only — hashed 8-byte shingle keys, never the bigram text
      val sh = Dedup.shingleIndexHashed(Tables.documents(s, dir),
        "doc_id", "text", 2)
      val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      sh.join(dfreq, "s")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          count(when(col("df") === 1, 1)).as("novel"))
        .withColumn("novelty",
          Num.pround(col("novel").cast("double") / col("n_bigrams"), 4))
    })

  /** Tokenizer-vocabulary coverage: the fraction of each doc's token
    * OCCURRENCES covered by the top-`vocabK` corpus vocabulary — the metric
    * that decides whether a tokenizer's vocab is big enough for a corpus.
    * The vocab is tiny by construction (top-K of an aggregated token table),
    * so the probe join broadcasts; the token stream aggregates in one pass. */
  private val vocabK = 8
  val coverageQ = QueryDef(
    "vocab_coverage",
    s"per-doc token coverage by the top-$vocabK corpus vocabulary",
    Some(s"""WITH t AS (SELECT doc_id,
                    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
                  FROM documents),
             tok AS (SELECT doc_id, token FROM t WHERE token <> ''),
             v AS (SELECT token FROM
                     (SELECT token, row_number() OVER
                        (ORDER BY count(*) DESC, token) AS r
                      FROM tok GROUP BY token)
                   WHERE r <= $vocabK)
             SELECT doc_id, count(*) AS n_tokens,
                    count(CASE WHEN token IN (SELECT token FROM v)
                               THEN 1 END) AS covered,
                    ${Num.sql(s"CAST(count(CASE WHEN token IN (SELECT token FROM v) THEN 1 END) AS DOUBLE) / count(*)", 4)} AS coverage
             FROM tok GROUP BY doc_id"""),
    (s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val w = Window.orderBy(col("n").desc, col("token"))
      val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("n"))
        .withColumn("r", row_number().over(w)).filter(col("r") <= vocabK)
        .select(col("token"), lit(1).as("hit"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("hit") === 1, 1)).as("covered"))
        .withColumn("coverage",
          Num.pround(col("covered").cast("double") / col("n_tokens"), 4))
    })

  /** Deterministic source interleaving — the epoch-mix ordering a training
    * loader reads: round `r` of the mix takes each source's `r`-th document
    * before any source's `r+1`-th. The global position is NEVER computed by
    * a single global window (a one-partition sort at 100 TB): it is the
    * two-level scan from [[Pipeline.packSequences]] — a per-source
    * row_number (shuffled by source), a tiny per-round count table whose
    * prefix sum runs over max-docs-per-source rows, and an in-round rank
    * partitioned by round. */
  val interleaveQ = QueryDef(
    "interleave_sources",
    "deterministic round-robin source interleaving with global mix position",
    Some("""WITH r AS (SELECT doc_id, source,
                         row_number() OVER (PARTITION BY source
                           ORDER BY doc_id) AS rn
                       FROM documents)
            SELECT doc_id, source,
                   row_number() OVER (ORDER BY rn, source, doc_id) AS mix_pos
            FROM r"""),
    (s, dir) => {
      val perSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      val within = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(perSrc))
      val counts = within.groupBy(col("rn")).agg(count(lit(1)).as("c"))
      val wOff = Window.orderBy(col("rn"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = counts
        .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
        .select(col("rn"), col("off"))
      val wIn = Window.partitionBy(col("rn"))
        .orderBy(col("source"), col("doc_id"))
      within.join(offs, "rn")
        .withColumn("mix_pos", col("off") + row_number().over(wIn))
        .select(col("doc_id"), col("source"), col("mix_pos"))
    })

  /** The assembled quality-classifier feature table — the curation stage
    * that turns the individual scorers into one training row per document:
    * metadata + quality + repetition + novelty + vocabulary coverage. Pure
    * composition (each input is its own catalog operator; the oracle embeds
    * their oracles as subqueries), five hash joins all keyed on doc_id — at
    * 100 TB the joins share one doc_id partitioning, and each scorer is the
    * linear aggregation its own entry documents. */
  val docFeaturesQ = QueryDef(
    "doc_features",
    "per-doc feature vector assembled from the quality/novelty/coverage scorers",
    Some(s"""SELECT d.doc_id, d.lang, d.source, d.n_chars,
                    q.n_tokens, q.stop_ratio, q.quality,
                    r.dup_frac, r.top_share, n.novelty, v.coverage
             FROM documents d
             JOIN (${TextAnalysis.quality.oracle.get}) q ON d.doc_id = q.doc_id
             JOIN (${TextAnalysis.repetition.oracle.get}) r ON d.doc_id = r.doc_id
             JOIN (${noveltyQ.oracle.get}) n ON d.doc_id = n.doc_id
             JOIN (${coverageQ.oracle.get}) v ON d.doc_id = v.doc_id"""),
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val q = TextAnalysis.quality.run(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("stop_ratio"), col("quality"))
      val r = TextAnalysis.repetition.run(s, dir)
        .select(col("doc_id"), col("dup_frac"), col("top_share"))
      val n = noveltyQ.run(s, dir).select(col("doc_id"), col("novelty"))
      val v = coverageQ.run(s, dir).select(col("doc_id"), col("coverage"))
      base.join(q, "doc_id").join(r, "doc_id").join(n, "doc_id")
        .join(v, "doc_id")
    })

  // ---- product-quantization ANN --------------------------------------------

  /** A PQ codebook shape: `m` subspaces of `subDim` dims, `codebookK`
    * centroids per subspace. */
  final case class PqShape(m: Int, subDim: Int, codebookK: Int)

  /** The one shape every shipped PQ path trains: ann_pq_adc, ann_ivf_pq
    * and the recall report's pq legs (which share one reconstruction). */
  val Pq = PqShape(m = 16, subDim = 4, codebookK = 64)

  /** PQ-ADC approximate nearest neighbors — the third ANN scale path beside
    * LSH ([[Similarity.annLsh]]) and IVF ([[Similarity.annIvfSqrt]]): vectors are
    * encoded as M nearest-sub-centroid codes against a per-subspace codebook
    * (the deterministic first-`codebookK` vectors standing in for trained
    * k-means — FIXED size, as real PQ codebooks are: encode cost stays
    * |corpus| x M x K at any scale, never growing with the corpus the way
    * a strided sample would), and query distance is computed against the
    * RECONSTRUCTION (concatenated code centroids) — mathematically the
    * asymmetric-distance sum over subspaces, but evaluated as one
    * left-to-right fold over 64 dims so both engines produce the identical
    * IEEE double. Codebook broadcasts both for encoding and reconstruction;
    * the corpus never shuffles except the M-row-per-vector code rollup.
    * Ties (equal rounded distance) break on centroid/vector id, so codes and
    * ranks are deterministic under any partitioning. */
  /** PQ encode + reconstruct: every vector's M nearest-sub-centroid codes
    * against the deterministic per-subspace codebook, returned as the
    * concatenated-centroid reconstruction (vec_id, rv). Shared by [[pqAdc]]
    * (full-corpus ADC) and [[ivfPqSqrt]] (cell-pruned ADC). */
  def pqReconstruct(e: DataFrame, m: Int, subDim: Int,
      codebookK: Int): DataFrame = {
    val v = e.select(col("vec_id"), Vec.toDouble(col("embedding")).as("v"))
    val subs = v.select(col("vec_id"), explode(array((0 until m).map(i =>
        struct(lit(i).as("m"), slice(col("v"), i * subDim + 1, subDim).as("sv"))): _*))
      .as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sv").as("sv"))
    val cents = subs.filter(col("vec_id") < codebookK)
      .select(col("vec_id").as("c_id"), col("m"), col("sv").as("cv"))
    // packed-long argmin — min_by over a struct ordering falls to
    // SortAggregate (struct is not an UnsafeRow-mutable buffer type), which
    // sorts the |corpus|·M·K product. The rounded distance is integral at
    // 1e6 scale by construction (floor(x*1e6+0.5) IS pround's integer), so
    // (d2, c_id) packs losslessly into one long whose numeric order is the
    // lexicographic order — a primitive min that stays in HashAggregate and
    // collapses map-side. c_id < codebookK <= 1024 by contract.
    val codes = subs.join(broadcast(cents), Seq("m"))
      .select(col("vec_id"), col("m"),
        (floor(Vec.sumSqDiff(col("sv"), col("cv")) * 1e6 + 0.5).cast("long") *
          1024 + col("c_id")).as("key"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("key")).as("key"))
      .select(col("vec_id"), col("m"), pmod(col("key"), lit(1024)).as("c_id"))
    codes.join(broadcast(cents), Seq("m", "c_id"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("m"), col("cv")))),
        x => x.getField("cv"))).as("rv"))
  }

  def pqAdc(e: DataFrame, m: Int, subDim: Int, codebookK: Int,
      k: Int): DataFrame =
    pqAdcFromRecon(e, pqReconstruct(e, m, subDim, codebookK), k)

  /** [[pqAdc]] over a PRE-BUILT reconstruction table — r17: pq_adc and
    * ivf_pq train the IDENTICAL (m, subDim, codebookK) codebooks, so
    * [[annRecallReport]] shares one cached [[pqReconstruct]] between both
    * legs instead of running the explode→argmin→reassemble pipeline twice
    * (the dedup report's shared-shingle-pass pattern). The standalone
    * catalog entries still build their own. */
  private[operators] def pqAdcFromRecon(e: DataFrame, recon: DataFrame,
      k: Int): DataFrame = {
    val v = e.select(col("vec_id"), Vec.toDouble(col("embedding")).as("v"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("vec_id"))
    recon.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        Num.pround(Vec.sumSqDiff(col("qv"), col("rv")), 6).as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** DuckDB replica of [[pqAdc]]: same deterministic codebook, same rounded
    * per-subspace argmin, same reconstruction-distance rank. */
  private def pqOracle(m: Int, subDim: Int, codebookK: Int, k: Int): String = {
    val sq = "list_sum(list_transform(list_zip(%s, %s), " +
      "pr -> (pr[1] - pr[2]) * (pr[1] - pr[2])))"
    val ms = (0 until m).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        sub AS (SELECT vec_id, m, v[m * $subDim + 1 : m * $subDim + $subDim] AS sv
                FROM e CROSS JOIN unnest($ms) AS t(m)),
        cents AS (SELECT vec_id AS c_id, m, sv AS cv FROM sub
                  WHERE vec_id < $codebookK),
        enc AS (SELECT sub.vec_id, sub.m, c_id,
                       row_number() OVER (PARTITION BY sub.vec_id, sub.m
                         ORDER BY ${Num.sql(sq.format("sv", "cv"), 6)}, c_id) AS r
                FROM sub JOIN cents USING (m)),
        codes AS (SELECT vec_id, m, c_id FROM enc WHERE r = 1),
        recon AS (SELECT vec_id, flatten(list(cv ORDER BY m)) AS rv
                  FROM codes JOIN cents USING (m, c_id) GROUP BY vec_id),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        d AS (SELECT q_id, vec_id, ${Num.sql(sq.format("qv", "rv"), 6)} AS dist
              FROM recon CROSS JOIN q WHERE q_id <> vec_id)
        SELECT q_id, vec_id, dist, rank FROM (
          SELECT q_id, vec_id, dist,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dist, vec_id) AS rank
          FROM d) WHERE rank <= $k"""
  }

  val pqQ = QueryDef(
    "ann_pq_adc",
    "approximate top-10 neighbors via product-quantization ADC (16x4 codebook)",
    Some(pqOracle(Pq.m, Pq.subDim, Pq.codebookK, k = 10)),
    (s, dir) => pqAdc(Tables.embeddings(s, dir), Pq.m, Pq.subDim,
      Pq.codebookK, k = 10))

  // ---- IVF + PQ: the composed billion-scale ANN layout ---------------------

  /** IVF-PQ: coarse cells prune the candidate set (queries scan only their
    * `nProbe` nearest cells), PQ-ADC distances rank the survivors — the
    * FAISS-style index layout for billion-vector corpora. At 100 TB both
    * codebooks broadcast, the corpus is encoded in one linear pass, and a
    * query touches |corpus| * nProbe / nCells reconstructions instead of all
    * of them. The coarse cells follow the √n IVF sizing law
    * ([[Similarity.coarseCentroidsSqrt]]). */
  def ivfPqSqrt(e: DataFrame, nProbe: Int, m: Int, subDim: Int,
      codebookK: Int, k: Int): DataFrame = {
    val c = Similarity.withNorm(e)
    ivfPqCents(c, Similarity.coarseCentroidsSqrt(c),
      pqReconstruct(e, m, subDim, codebookK), nProbe, k)
  }

  private def ivfPqCents(c: DataFrame, cents: DataFrame, recon: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    val cells = Similarity.assignCells(c, cents)
      .select(col("vec_id"), col("c_id"))
    val corpusIdx = cells.join(recon, Seq("vec_id"))
    val q = Similarity.probeCells(c.filter(col("vec_id") < 5), cents,
      "vec_id", nProbe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("c_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("vec_id"))
    corpusIdx.join(broadcast(q), Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        Num.pround(Vec.sumSqDiff(col("qv"), col("rv")), 6).as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** DuckDB replica of [[ivfPqSqrt]]: the coarse-cell CTEs of the IVF
    * oracle fused with the PQ-reconstruction CTEs of [[pqOracle]]. */
  private def ivfPqOracle(nProbe: Int, m: Int, subDim: Int,
      codebookK: Int, k: Int): String = {
    val dot = Similarity.dotSql
    val sq = "list_sum(list_transform(list_zip(%s, %s), " +
      "pr -> (pr[1] - pr[2]) * (pr[1] - pr[2])))"
    val ms = (0 until m).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(${dot.format("v", "v")}) AS nrm FROM e),
        cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
                  WHERE vec_id % ${Similarity.sqrtStrideSql} = 0),
        simc AS (SELECT n.vec_id, c_id,
                        ${Num.sql(dot.format("v", "cv") + " / (nrm * cn)", 6)} AS csim
                 FROM n CROSS JOIN cents),
        cells AS (SELECT vec_id,
                         4398046511103 - (max((CAST(round(csim * 1000000) AS BIGINT) + 1000000) * 4398046511104 + (4398046511103 - c_id)) % 4398046511104) AS c_id
                  FROM simc GROUP BY vec_id),
        qcells AS (SELECT vec_id AS q_id, c_id FROM (
                     SELECT vec_id, c_id,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, c_id) AS crank
                     FROM simc WHERE vec_id < 5)
                   WHERE crank <= $nProbe),
        sub AS (SELECT vec_id, m, v[m * $subDim + 1 : m * $subDim + $subDim] AS sv
                FROM e CROSS JOIN unnest($ms) AS t(m)),
        pcents AS (SELECT vec_id AS p_id, m, sv AS pv FROM sub
                   WHERE vec_id < $codebookK),
        enc AS (SELECT sub.vec_id, sub.m, p_id,
                       row_number() OVER (PARTITION BY sub.vec_id, sub.m
                         ORDER BY ${Num.sql(sq.format("sv", "pv"), 6)}, p_id) AS r
                FROM sub JOIN pcents USING (m)),
        codes AS (SELECT vec_id, m, p_id FROM enc WHERE r = 1),
        recon AS (SELECT vec_id, flatten(list(pv ORDER BY m)) AS rv
                  FROM codes JOIN pcents USING (m, p_id) GROUP BY vec_id),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        d AS (SELECT qc.q_id, r.vec_id, ${Num.sql(sq.format("qv", "rv"), 6)} AS dist
              FROM recon r
              JOIN cells cl ON cl.vec_id = r.vec_id
              JOIN qcells qc ON qc.c_id = cl.c_id
              JOIN q ON q.q_id = qc.q_id
              WHERE qc.q_id <> r.vec_id)
        SELECT q_id, vec_id, dist, rank FROM (
          SELECT q_id, vec_id, dist,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY dist, vec_id) AS rank
          FROM d) WHERE rank <= $k"""
  }

  val ivfPqQ = QueryDef(
    "ann_ivf_pq",
    "IVF-PQ: 3-probe √n coarse cells + PQ-ADC rank (the FAISS-style composition)",
    Some(ivfPqOracle(nProbe = 3, Pq.m, Pq.subDim, Pq.codebookK, k = 10)),
    (s, dir) => ivfPqSqrt(Tables.embeddings(s, dir), nProbe = 3,
      Pq.m, Pq.subDim, Pq.codebookK, k = 10))

  // ---- ANN recall report: the quality gate over every approximate path ----

  /** Recall@k floor every shipped ANN path must clear against the exact
    * brute-force baseline. The driver corpora are near-isotropic synthetic
    * embeddings — the hardest case for bucketed ANN, where recall tracks the
    * probed corpus fraction (measured at sf0.01: lsh 0.14, ivf 0.36, pq 0.56,
    * ivf_pq 0.30; chance level ≈ k/n ≈ 0.005). The floor sits ~20× above
    * chance and below the weakest working method, so it trips on structural
    * regressions (a broken bucket assignment, a dropped probe) while
    * corpus-regeneration jitter above the floor cannot flip the gate. */
  val RecallFloor = 0.1

  /** Micro-averaged recall@k of each ANN path vs [[Similarity.annBruteForce]]
    * on the same query set (vec_id < 5) — (method, recall_at_k) per method.
    * Fully in-plan (the only cross join is against the broadcast single-row
    * exact count), so building it submits no jobs: at 100 TB this is the
    * index-quality probe you run on a sampled query set after (re)building an
    * index, and it costs one pass per method over the candidate buckets plus
    * one brute-force pass over queries × corpus — bounded by the query
    * SAMPLE, never corpus². */
  def annRecallReport(e0: DataFrame, k: Int = 10): DataFrame = {
    // cached: five independent retrieval pipelines (exact + 4 ANN paths)
    // each scan the corpus several times — uncached this report planned 23
    // parquet scans of embeddings
    val e = e0.cache()
    val queries = e.filter(col("vec_id") < 5)
    // cached: the exact baseline has two consumers (per-method hits join +
    // the denominator count) — uncached, the brute-force corpus scoring
    // pass runs twice (the dedup_recall_report pattern)
    val exact = Similarity.annBruteForce(queries, e, k)
      .select(col("q_id"), col("vec_id")).cache()
    // the pq_adc and ivf_pq legs train the IDENTICAL `Pq` codebooks, so
    // one cached reconstruction serves both instead of running the
    // explode→argmin→reassemble pipeline twice (r17 ConfAB, BENCH_NOTES)
    val recon = pqReconstruct(e, Pq.m, Pq.subDim, Pq.codebookK).cache()
    val cNorm = Similarity.withNorm(e)
    val methods: Seq[(String, DataFrame)] = Seq(
      // ivf legs mirror the SHIPPED catalog entries, √n sizing law included
      "ivf_cells" -> Similarity.annIvfSqrt(queries, e, nProbe = 3, k = k),
      "ivf_pq" -> ivfPqCents(cNorm, Similarity.coarseCentroidsSqrt(cNorm),
        recon, nProbe = 3, k = k),
      "lsh_bucketed" -> Similarity.annLsh(queries, e, numPlanes = 6, k = k,
        dim = 64),
      "pq_adc" -> pqAdcFromRecon(e, recon, k),
      "truncated_rerank" -> Similarity.annTruncatedRerank(queries, e,
        prefixDim = 16, candK = 100, k = k))
    val reported = methods.map { case (nm, df) =>
      df.select(lit(nm).as("method"), col("q_id"), col("vec_id"))
    }.reduce(_ union _)
    val hits = reported.join(exact, Seq("q_id", "vec_id"))
      .groupBy(col("method")).agg(count(lit(1)).as("n_hits"))
    val total = exact.agg(count(lit(1)).as("n_exact"))
    hits.crossJoin(broadcast(total))
      .select(col("method"),
        Num.pround(col("n_hits").cast("double") / col("n_exact"), 4)
          .as("recall_at_k"))
  }

  /** The oracled gate form: methods CLEARING the floor, as a sorted list the
    * oracle pins literally — recall regressions surface as a missing row
    * (hash mismatch), while run-to-run recall jitter above the floor cannot
    * flip the result. A method with zero hits drops out naturally. */
  val annRecallQ = QueryDef(
    "ann_recall_report",
    s"ANN methods with recall@10 >= $RecallFloor vs the exact baseline (index-quality gate)",
    Some("""SELECT method FROM (VALUES ('ivf_cells'), ('ivf_pq'),
                   ('lsh_bucketed'), ('pq_adc'), ('truncated_rerank'))
                   AS t(method)
            ORDER BY method"""),
    (s, dir) => annRecallReport(Tables.embeddings(s, dir))
      .filter(col("recall_at_k") >= RecallFloor)
      .select(col("method")).orderBy(col("method")))

  // ---- DSIR importance weights ---------------------------------------------

  /** Hash-bucket count for DSIR's bigram features: the first two md5 hex
    * chars — 256 buckets, identical across engines (the same
    * cross-engine-md5 trick as `TextAnalysis.trainValSplit`). */
  private val DsirBuckets = 256

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023): each document is scored by how much more
    * likely its hashed-bigram profile is under a TARGET distribution (here:
    * the `targetLang` slice of the corpus) than under the raw corpus
    * distribution, with add-one smoothing over the [[DsirBuckets]] hash
    * buckets. The weight is the log-likelihood ratio
    * Σ_grams log(p_target(bucket)/p_raw(bucket)) — the score a sampler
    * exponentiates to resample raw data toward the target domain.
    *
    * Determinism: the per-BUCKET log-ratio is quantized to integer
    * micro-nats BEFORE the per-document sum, so document scores aggregate in
    * exact BIGINT arithmetic under any partitioning (the same
    * quantize-then-integer-sum pattern as [[Eval]]'s NDCG gain table);
    * the only floating-point step is one `ln` per bucket, 256 total.
    *
    * Scale (100 TB): bigram rows shuffle once into per-(doc, bucket) counts;
    * the 256-row profile aggregates from those counts and BROADCASTS back,
    * so scoring is a map-side join + one groupBy(doc_id). No pair joins, no
    * driver-side model — the profile is itself a DataFrame. */
  /** Per-(doc, lang, bucket) bigram counts — the shared base of the profile
    * and the scoring join. */
  private def dsirPerDoc(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long").as("doc_id"),
        col("lang"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, lg, t) =>
        val toks = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        if (toks.length < 2) Iterator.empty
        else toks.sliding(2).map(g => (id, lg, g.mkString(" ")))
      }.toDF("doc_id", "lang", "s")
      .withColumn("bucket", substring(md5(col("s")), 1, 2))
      .groupBy(col("doc_id"), col("lang"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The 256-row (bucket, lr_micro) profile from per-doc bucket counts. */
  private def dsirProfileOf(perDoc: DataFrame,
      targetLang: String): DataFrame = {
    val b = lit(DsirBuckets)
    // cached: two consumers (the corpus totals + the per-bucket log-ratio
    // projection) — uncached, the per-doc bucket aggregation runs twice
    val prof = perDoc.groupBy(col("bucket")).agg(
      sum(col("cnt")).as("raw_b"),
      sum(when(col("lang") === targetLang, col("cnt")).otherwise(0L))
        .as("tgt_b"))
      .cache()
    val tot = prof.agg(sum(col("raw_b")).as("raw_tot"),
      sum(col("tgt_b")).as("tgt_tot"))
    prof.crossJoin(broadcast(tot))
      .select(col("bucket"),
        floor(log(
          ((col("tgt_b") + 1).cast("double") * (col("raw_tot") + b).cast("double")) /
            ((col("raw_b") + 1).cast("double") * (col("tgt_tot") + b).cast("double")))
          * 1e6 + 0.5).cast("long").as("lr_micro"))
  }

  def dsirWeights(docs: DataFrame, targetLang: String = "en"): DataFrame = {
    // cached: feeds both the 256-bucket profile and the final scoring join —
    // without it the bigram flatMap runs twice over the corpus
    val perDoc = dsirPerDoc(docs).cache()
    val lr = dsirProfileOf(perDoc, targetLang)
    perDoc.join(broadcast(lr), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("lr_micro")).as("weight_micro"))
  }

  val dsirQ = QueryDef(
    "dsir_weights",
    "DSIR importance weights: per-doc hashed-bigram log-likelihood ratio (target lang='en' vs raw corpus) in integer micro-nats",
    Some(s"""WITH toks AS (SELECT doc_id, lang,
                        string_split_regex(trim(lower(text)), '\\s+') AS t
                        FROM documents),
       bg AS (SELECT doc_id, lang,
                     substring(md5(t[i] || ' ' || t[i+1]), 1, 2) AS bucket
              FROM toks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
              WHERE len(t) >= 2),
       pd AS (SELECT doc_id, lang, bucket, count(*) AS cnt FROM bg
              GROUP BY 1, 2, 3),
       prof AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS raw_b,
                       CAST(sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END)
                            AS BIGINT) AS tgt_b
                FROM pd GROUP BY 1),
       tot AS (SELECT CAST(sum(raw_b) AS BIGINT) AS raw_tot,
                      CAST(sum(tgt_b) AS BIGINT) AS tgt_tot FROM prof),
       lr AS (SELECT bucket,
                     CAST(floor(ln(
                       (CAST(tgt_b + 1 AS DOUBLE) * CAST(raw_tot + $DsirBuckets AS DOUBLE)) /
                       (CAST(raw_b + 1 AS DOUBLE) * CAST(tgt_tot + $DsirBuckets AS DOUBLE)))
                       * 1e6 + 0.5) AS BIGINT) AS lr_micro
              FROM prof CROSS JOIN tot)
       SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
              CAST(sum(cnt * lr_micro) AS BIGINT) AS weight_micro
       FROM pd JOIN lr USING (bucket)
       GROUP BY doc_id"""),
    (s, dir) => dsirWeights(Tables.documents(s, dir)))

  // ---- the composed curation scorecard -------------------------------------

  /** The whole curation pass as ONE verdict table — what a pipeline owner
    * actually ships: every signal the engine computes (repetition quality,
    * exact-dup membership, benchmark contamination, DSIR domain fit,
    * embedding-space outlierness) joined into a per-document keep/drop with
    * machine-readable reasons. Thresholds sit at this corpus's tails
    * (dup_frac > 0.72 ≈ p95, weight < -2e6 µnats ≈ p10, dist > mean+1σ);
    * each is a named constant a deployment re-tunes.
    *
    * Scale: every signal is individually linear-to-n^1.5 (see its
    * operator); the assembly is per-doc equi-joins — contamination is a
    * broadcast of the flagged minority, the rest shuffle by doc_id once.
    * Nothing quadratic joins INTO the scorecard. The outlier leg rides the
    * √n IVF sizing law ([[Similarity.embeddingOutliersSqrt]]): the r12 sf10
    * bench caught the fixed stride-25 codebook costing n²/25 broadcast-
    * assignment dots (1.6e9 at 200k vectors — 42 s of the scorecard's
    * wall), the same wrong-asymptote the r10 sweep evicted from the ANN
    * index queries. */
  val ScorecardMinTokens = 10L
  val ScorecardMaxDupFrac = 0.72
  val ScorecardMinWeightMicro = -2000000L

  def curationScorecard(docs: DataFrame, emb: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text"))
    val rep = ids
      .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"),
        Num.pround(lit(1) - col("n_distinct").cast("double") / col("n_tokens"), 6)
          .as("dup_frac"))
    val hashed = ids.select(col("doc_id"), md5(col("text")).as("h"))
    val exact = hashed
      .join(hashed.groupBy(col("h")).agg(min(col("doc_id")).as("keeper_id")), "h")
      .select(col("doc_id"), (col("doc_id") =!= col("keeper_id")).as("exact_dup"))
    val contam = decontaminate(docs, BenchmarkSource, decontamW)
      .select(col("doc_id"), lit(true).as("contam"))
    val dsir = dsirWeights(docs).select(col("doc_id"), col("weight_micro"))
    val outl = Similarity.embeddingOutliersSqrt(emb, zThresh = 1.0)
      .select(col("vec_id").as("doc_id"), col("is_outlier"))
    val flagged = rep.join(exact, "doc_id")
      .join(broadcast(contam), Seq("doc_id"), "left")
      .join(dsir, Seq("doc_id"), "left")
      .join(outl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_tokens") < ScorecardMinTokens).as("too_short"),
        (col("dup_frac") > ScorecardMaxDupFrac).as("repetitive"),
        col("exact_dup"),
        coalesce(col("contam"), lit(false)).as("contaminated"),
        (coalesce(col("weight_micro"), lit(0L)) < ScorecardMinWeightMicro)
          .as("off_target"),
        coalesce(col("is_outlier"), lit(false)).as("embed_outlier"))
    val names = Seq("too_short", "repetitive", "exact_dup", "contaminated",
      "off_target", "embed_outlier")
    flagged.select(col("doc_id"),
      names.map(n => col(n).cast("int")).reduce(_ + _).as("n_flags"),
      concat_ws(",", names.map(n => when(col(n), n)): _*).as("reasons"))
      .withColumn("keep", col("n_flags") === 0)
      .select(col("doc_id"), col("keep"), col("n_flags"), col("reasons"))
  }

  val scorecardQ = QueryDef(
    "curation_scorecard",
    "the composed per-doc curation verdict: repetition, exact-dup, contamination, DSIR fit, embedding outlierness",
    Some(s"""WITH ids AS (SELECT doc_id, text, lang, source FROM documents),
       tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t FROM ids),
       term AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
       rep AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                      count(*) AS n_distinct FROM term GROUP BY 1),
       rp AS (SELECT doc_id, n_tokens,
                     ${Num.sql("1 - CAST(n_distinct AS DOUBLE) / n_tokens", 6)} AS dup_frac
              FROM rep),
       hx AS (SELECT doc_id, md5(text) AS h FROM ids),
       ex AS (SELECT doc_id,
                     doc_id <> min(doc_id) OVER (PARTITION BY h) AS exact_dup
              FROM hx),
       ctoks AS (SELECT doc_id, source,
                   string_split_regex(trim(lower(text)), '\\s+') AS t FROM ids),
       s1 AS (SELECT DISTINCT doc_id, source,
                concat_ws(' ', ${(0 until decontamW).map(k => s"t[i+$k]").mkString(", ")}) AS sh
              FROM ctoks CROSS JOIN
                unnest(generate_series(1, len(t) - ${decontamW - 1})) AS u(i)
              WHERE len(t) >= $decontamW),
       cb AS (SELECT DISTINCT sh FROM s1 WHERE source = '$BenchmarkSource'),
       contam AS (SELECT DISTINCT s1.doc_id FROM s1 JOIN cb USING (sh)
                  WHERE s1.source <> '$BenchmarkSource'),
       dtoks AS (SELECT doc_id, lang,
                   string_split_regex(trim(lower(text)), '\\s+') AS t FROM ids),
       bg AS (SELECT doc_id, lang,
                     substring(md5(t[i] || ' ' || t[i+1]), 1, 2) AS bucket
              FROM dtoks CROSS JOIN unnest(generate_series(1, len(t)-1)) AS u(i)
              WHERE len(t) >= 2),
       pd AS (SELECT doc_id, lang, bucket, count(*) AS cnt FROM bg
              GROUP BY 1, 2, 3),
       prof AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS raw_b,
                       CAST(sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END)
                            AS BIGINT) AS tgt_b
                FROM pd GROUP BY 1),
       tot AS (SELECT CAST(sum(raw_b) AS BIGINT) AS raw_tot,
                      CAST(sum(tgt_b) AS BIGINT) AS tgt_tot FROM prof),
       lr AS (SELECT bucket,
                     CAST(floor(ln(
                       (CAST(tgt_b + 1 AS DOUBLE) * CAST(raw_tot + $DsirBuckets AS DOUBLE)) /
                       (CAST(raw_b + 1 AS DOUBLE) * CAST(tgt_tot + $DsirBuckets AS DOUBLE)))
                       * 1e6 + 0.5) AS BIGINT) AS lr_micro
              FROM prof CROSS JOIN tot),
       dw AS (SELECT doc_id, CAST(sum(cnt * lr_micro) AS BIGINT) AS weight_micro
              FROM pd JOIN lr USING (bucket) GROUP BY doc_id),
       e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
       nn AS (SELECT vec_id, v, sqrt(${Similarity.dotSql.format("v", "v")}) AS nrm FROM e),
       cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM nn
                 WHERE vec_id % ${Similarity.sqrtStrideSql} = 0),
       csim AS (SELECT nn.vec_id, c_id,
                       ${Num.sql(Similarity.dotSql.format("v", "cv") + " / (nrm * cn)", 6)} AS csim
                FROM nn CROSS JOIN cents),
       cellk AS (SELECT vec_id,
                        max((CAST(round(csim * 1000000) AS BIGINT) + 1000000) * 4398046511104
                          + (4398046511103 - c_id)) AS mk
                 FROM csim GROUP BY vec_id),
       cells AS (SELECT vec_id,
                        ${Num.sql("1 - CAST(mk // 4398046511104 - 1000000 AS DOUBLE) / 1000000", 6)} AS dist
                 FROM cellk),
       st AS (SELECT ${Num.sql("avg(dist) + 1.0 * stddev_samp(dist)", 4)} AS thr
              FROM cells),
       outl AS (SELECT vec_id AS doc_id, dist > thr AS is_outlier
                FROM cells CROSS JOIN st),
       fl AS (SELECT rp.doc_id,
                     rp.n_tokens < $ScorecardMinTokens AS too_short,
                     rp.dup_frac > $ScorecardMaxDupFrac AS repetitive,
                     ex.exact_dup,
                     contam.doc_id IS NOT NULL AS contaminated,
                     coalesce(dw.weight_micro, 0) < $ScorecardMinWeightMicro AS off_target,
                     coalesce(outl.is_outlier, FALSE) AS embed_outlier
              FROM rp JOIN ex USING (doc_id)
                LEFT JOIN contam ON contam.doc_id = rp.doc_id
                LEFT JOIN dw ON dw.doc_id = rp.doc_id
                LEFT JOIN outl ON outl.doc_id = rp.doc_id)
       SELECT doc_id,
              (CAST(too_short AS INT) + CAST(repetitive AS INT) +
               CAST(exact_dup AS INT) + CAST(contaminated AS INT) +
               CAST(off_target AS INT) + CAST(embed_outlier AS INT)) = 0 AS keep,
              CAST(too_short AS INT) + CAST(repetitive AS INT) +
              CAST(exact_dup AS INT) + CAST(contaminated AS INT) +
              CAST(off_target AS INT) + CAST(embed_outlier AS INT) AS n_flags,
              concat_ws(',', CASE WHEN too_short THEN 'too_short' END,
                CASE WHEN repetitive THEN 'repetitive' END,
                CASE WHEN exact_dup THEN 'exact_dup' END,
                CASE WHEN contaminated THEN 'contaminated' END,
                CASE WHEN off_target THEN 'off_target' END,
                CASE WHEN embed_outlier THEN 'embed_outlier' END) AS reasons
       FROM fl"""),
    (s, dir) => curationScorecard(Tables.documents(s, dir),
      Tables.embeddings(s, dir)))

  val defs: Seq[QueryDef] =
    Seq(decontaminateQ, fuzzyPairsQ, noveltyQ, coverageQ, interleaveQ,
      docFeaturesQ, pqQ, ivfPqQ, annRecallQ, dsirQ, scorecardQ)
}
