package graft.operators

import graft.QueryDef
import graft.functions.{Num, Vec}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §7.6): brute-force
  * cosine as the exact baseline, random-hyperplane LSH bucketing as the
  * scale path.
  *
  * Scale design (100 TB): norms are computed once per vector *before* any
  * pair join; the query side of ANN is broadcast (queries ≪ corpus), so the
  * corpus never shuffles; top-K is rank-on-rounded-cosine with id tiebreaks
  * so results are deterministic under any partitioning. The LSH variant
  * reduces the per-query candidate set from |corpus| to one bucket — the
  * 1000-executor path where brute force stops being an option.
  */
object Similarity {

  /** Project to (vec_id, v: array<double>, nrm) — norm computed once. */
  def withNorm(e: DataFrame): DataFrame =
    e.select(col("vec_id"), Vec.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vec.norm(col("v")))

  /** Exact top-K most similar pairs across the corpus — brute force, i<j,
    * O(n²) in corpus size. This is the GROUND-TRUTH twin the bucketed paths
    * ([[annLsh]], [[annIvfSqrt]], `Curation.pqAdc`/`ivfPqSqrt`) are graded
    * against; it must never run on a full corpus, so reaching it requires
    * the explicit `allowQuadratic = true` opt-in. For production pair
    * search, generate candidates with a bucketed method and exact-rank only
    * those. */
  def topKPairs(e: DataFrame, k: Int,
      allowQuadratic: Boolean = false): DataFrame = {
    require(allowQuadratic,
      "topKPairs is the O(n²) oracle baseline; pass allowQuadratic = true " +
        "only on a bounded corpus, or use annLsh/annIvfSqrt candidates " +
        "instead")
    val n = withNorm(e)
    n.as("a").join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        Num.pround(Vec.cosinePrenormed(Vec.dot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("i"), col("j"))
      .limit(k)
  }

  /** Exact top-K nearest neighbors per query vector (brute force).
    * Queries are broadcast; ranking on rounded cosine + id tiebreak. */
  def annBruteForce(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = withNorm(queries).select(col("vec_id").as("q_id"),
      col("v").as("qv"), col("nrm").as("qn"))
    val c = withNorm(corpus)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        Num.pround(Vec.cosinePrenormed(Vec.dot(col("qv"), col("v")),
          col("qn"), col("nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic random hyperplanes (seeded JVM PRNG — stable across runs
    * and machines: java.util.Random's algorithm is specified). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-of-projection LSH bucket id for a vector column. */
  def bucketOf(v: org.apache.spark.sql.Column,
      planes: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(Vec.dot(v, typedLit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN via multi-probe hyperplane LSH: each query probes its own bucket
    * plus every hamming-1 neighbor bucket (flip one plane's sign), so
    * candidates are ~ (numPlanes+1)/2^numPlanes of the corpus instead of all
    * of it; exact cosine ranks the candidates. A corpus vector lives in
    * exactly one bucket, so probes never duplicate candidates.
    * Approximate by construction ⇒ no SQL oracle; SimilaritySpec pins recall
    * against annBruteForce. */
  def annLsh(queries: DataFrame, corpus: DataFrame, numPlanes: Int,
      k: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val probesOf = (b: org.apache.spark.sql.Column) =>
      array(b +: (0 until numPlanes).map(i => b.bitwiseXOR(lit(1L << i))): _*)
    val q = withNorm(queries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(probesOf(bucketOf(col("v"), planes))).as("qbucket"))
    val c = withNorm(corpus).withColumn("bucket", bucketOf(col("v"), planes))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    c.join(broadcast(q),
        col("bucket") === col("qbucket") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        Num.pround(Vec.cosinePrenormed(Vec.dot(col("qv"), col("v")),
          col("qn"), col("nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Argmax ordering key (csim DESC, c_id ASC) PACKED into one long:
    * round(csim·1e6)·2⁴² + (2⁴²−1−c_id). The r9 plan sweep accepted 8
    * embedding-family SortAggregates because `max_by(c_id, struct(csim,
    * -c_id))` carries a StructType ordering key, which cannot live in
    * hash-agg's fixed-width mutable buffer — and the partial SortAggregate
    * then SORTS the corpus×k broadcast product before collapsing it. With
    * the order packed into a single long, a plain `max(long)` aggregates the
    * same argmax in a HashAggregate: no corpus×k sort on either side of the
    * shuffle (the r10 A/B the r9 verdict asked for; BENCH_NOTES has the
    * measured numbers). Exact: |csim_micro| ≤ 1e6 < 2²⁰ keeps the product
    * under 2⁶², csim is already 6-dp rounded so the micro cast is
    * integer-exact, and c_id < 2⁴² is asserted by construction (vec_ids). */
  private val CellIdBits = 42
  private[graft] def packArgmax(csim: Column, cId: Column): Column =
    round(csim * 1e6).cast("long") * (1L << CellIdBits) +
      (lit((1L << CellIdBits) - 1) - cId)
  private[graft] def unpackArgmaxId(key: Column): Column =
    lit((1L << CellIdBits) - 1) - pmod(key, lit(1L << CellIdBits))
  /** The similarity half of a packed key, back in units: exact long shift
    * (the packed long exceeds 2^53, so double division would lose bits),
    * then one division by 1e6. Only valid for non-negative similarities —
    * every packer call sites behind a >= tau > 0 filter. */
  private[graft] def unpackArgmaxVal(key: Column): Column =
    shiftright(key, CellIdBits).cast("double") / 1e6

  /** Mint a centroid id for [[packArgmax]], enforcing its domain: an id
    * outside [0, 2^CellIdBits) would silently corrupt the packed argmax
    * ordering and the decoded c_id (plausible with key-shifted scale-ups à
    * la GenScale), so fail the job instead. Evaluated only on the few
    * centroid rows — never in the corpus×centroids hot path. */
  private def cellId(vecId: Column): Column =
    when(vecId < 0L || vecId >= (1L << CellIdBits), raise_error(concat(
      lit(s"vec_id outside packArgmax's [0, 2^$CellIdBits) c_id domain: "),
      vecId.cast("string")))).otherwise(vecId)

  /** Nearest-centroid (top-1 cell) assignment via a packed-key max
    * aggregation, not a window: the broadcast corpus×centroids product
    * collapses in the map-side partial aggregate (rows for one vector are
    * generated contiguously), so the shuffle carries one row per VECTOR
    * instead of one per (vector, centroid) — |C| rows instead of |C|·k.
    * Ranking is on the ROUNDED similarity with a c_id tiebreak (packed as
    * one long — see [[packArgmax]] — so the aggregate stays a fixed-width
    * HashAggregate), deterministic across engines and partitionings. */
  private[graft] def assignCells(c: DataFrame, cents: DataFrame): DataFrame = {
    // aggregate over NARROW rows (vec_id, key) — carrying the vector
    // through the partial aggregate would drag a 64-double array into its
    // buffer; instead re-attach v/nrm with a key join on the |C|-row result
    val best = c.join(broadcast(cents), lit(true))
      .select(col("vec_id"), packArgmax(
        Num.pround(Vec.cosinePrenormed(
          Vec.dot(col("v"), col("cv")), col("nrm"), col("cn")), 6),
        col("c_id")).as("k"))
      .groupBy(col("vec_id"))
      .agg(max(col("k")).as("k"))
      .select(col("vec_id"), unpackArgmaxId(col("k")).as("c_id"))
    c.join(best, Seq("vec_id"))
  }

  /** Strided deterministic coarse centroids (vec_id % stride == 0) with
    * precomputed norms — the IVF codebook stand-in — under the IVF sizing
    * law for the catalog's INDEX queries: stride = max(25,
    * floor(√n)), so the cell count tracks √n — the standard IVF regime
    * (FAISS guidance is k ∝ √n cells). The alternative the r10 sf10 sweep
    * measured — a fixed stride, cells ∝ n — is the wrong asymptote for an
    * index: at 10⁹ vectors it means a multi-GB centroid broadcast and an
    * O(n²/stride) assignment; under √n both stay O(√n·d) and O(n^1.5·d/
    * stride... n·√n·d). Computed IN-PLAN from a broadcast one-row aggregate
    * (no driver action — catalog registration stays lazy without a
    * Deferred wrapper), deterministic cross-engine (IEEE sqrt of an exact
    * integer, floored, in both Spark codegen and DuckDB — see
    * [[sqrtStrideSql]]). k-means seeds follow their own fixed-k law
    * ([[kmeansUpdateFixedK]]): k is a model hyperparameter, not an index
    * size. SemDeDup and the scorecard's outlier leg moved onto this law in
    * r12: their fixed stride kept
    * within-cell work bounded but left the ASSIGNMENT at O(n²/stride) —
    * the sf10 bench measured it — and √n cells improve the method's
    * cross-cell recall trade at the same time (see [[semDedupSqrt]]). */
  private[graft] def coarseCentroidsSqrt(c: DataFrame): DataFrame =
    c.crossJoin(broadcast(c.agg(greatest(lit(25L),
        floor(sqrt(count(lit(1)))).cast("long")).as("ivf_stride"))))
      .filter(pmod(col("vec_id"), col("ivf_stride")) === 0)
      .select(cellId(col("vec_id")).as("c_id"), col("v").as("cv"), col("nrm").as("cn"))

  /** DuckDB twin of [[coarseCentroidsSqrt]]'s stride; assumes the oracle's
    * standard `e AS (SELECT ... FROM embeddings)` CTE is in scope. */
  private[graft] val sqrtStrideSql =
    "(SELECT greatest(25, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM e)"

  /** Top-`n` nearest cells per row of `df` (ranked on the ROUNDED centroid
    * similarity + c_id tiebreak so cell assignment is deterministic across
    * engines and partitionings). Centroids broadcast. */
  private[operators] def probeCells(df: DataFrame, cents: DataFrame,
      idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("csim").desc, col("c_id"))
    df.join(broadcast(cents), lit(true))
      .withColumn("csim", Num.pround(
        Vec.cosinePrenormed(Vec.dot(col("v"), col("cv")), col("nrm"), col("cn")), 6))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= n)
      .drop("cv", "cn", "csim", "crank")
  }

  /** IVF (inverted-file) ANN — the other scale path besides LSH: coarse-
    * quantize the corpus into cells around deterministic centroids (every
    * stride-th vector by id under the √n sizing law,
    * [[coarseCentroidsSqrt]] — a seeded sample standing in for trained
    * k-means; the Spark-side plumbing is identical), then each query probes
    * only its `nProbe` nearest cells. Corpus vectors live in exactly one
    * cell, so probing never duplicates candidates. Centroids broadcast;
    * the corpus never shuffles. */
  def annIvfSqrt(queries: DataFrame, corpus: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    val c = withNorm(corpus)
    val cents = coarseCentroidsSqrt(c)
    val cells = assignCells(c, cents)
    val q = probeCells(withNorm(queries), cents, "vec_id", nProbe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("c_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cells.join(broadcast(q),
        Seq("c_id")).filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        Num.pround(Vec.cosinePrenormed(Vec.dot(col("qv"), col("v")),
          col("qn"), col("nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  // ---- QueryDefs over `embeddings` -----------------------------------------

  /** DuckDB dot product. `list_dot_product` is a plain sequential fold —
    * bitwise-identical to the interpreted
    * `list_sum(list_transform(list_zip(a,b), pr -> pr[1]*pr[2]))` spelling
    * (verified exhaustively over 20k mixed-magnitude vectors) and to the
    * engine's codegen [[graft.functions.DotProduct]], but ~28x faster —
    * the difference between the ann oracle family finishing in minutes vs
    * hours at sf10's 200k-vector corpus. */
  private[operators] val dotSql = "list_dot_product(%s, %s)"

  val pairsQ = QueryDef(
    "embedding_topk_pairs_oracle_baseline",
    "top-20 most-similar embedding pairs by exact cosine (O(n²) ground-truth baseline — use the ANN paths at scale)",
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings),
             n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e)
             SELECT a.vec_id AS i, b.vec_id AS j,
                    ${Num.sql(dotSql.format("a.v", "b.v") + " / (a.nrm * b.nrm)", 6)} AS cosine
             FROM n a JOIN n b ON a.vec_id < b.vec_id
             ORDER BY cosine DESC, i, j LIMIT 20"""),
    (s, dir) => topKPairs(Tables.embeddings(s, dir), 20, allowQuadratic = true))

  /** Stripe differential of [[pairsQ]]: the same O(n²) exact pipeline on the
    * [[graft.operators.Stripe]] id-hash stripe of the corpus — 1/k² of the
    * pair compute, so the big-SF sweeps verify this code path instead of
    * holding it out (r11 verdict item 3). Output stays top-20. */
  val pairsStripeQ = QueryDef(
    "embedding_topk_pairs_oracle_baseline_stripe",
    s"exact top-20 cosine pairs on the 1-in-${Stripe.K} id-hash stripe — the bounded big-SF differential of embedding_topk_pairs_oracle_baseline",
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings
                        WHERE ${Stripe.sql("vec_id", Stripe.K)}),
             n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e)
             SELECT a.vec_id AS i, b.vec_id AS j,
                    ${Num.sql(dotSql.format("a.v", "b.v") + " / (a.nrm * b.nrm)", 6)} AS cosine
             FROM n a JOIN n b ON a.vec_id < b.vec_id
             ORDER BY cosine DESC, i, j LIMIT 20"""),
    (s, dir) => topKPairs(
      Tables.embeddings(s, dir).filter(Stripe.keep(col("vec_id"), Stripe.K)),
      20, allowQuadratic = true))

  val annQ = QueryDef(
    "ann_cosine_topk",
    "exact top-10 neighbors for each query vector (vec_id < 5), brute force",
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings),
             n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e),
             sims AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                             ${Num.sql(dotSql.format("q.v", "c.v") + " / (q.nrm * c.nrm)", 6)} AS cosine
                      FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
             SELECT q_id, vec_id, cosine, rank FROM (
               SELECT q_id, vec_id, cosine,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY cosine DESC, vec_id) AS rank
               FROM sims) WHERE rank <= 10"""),
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      annBruteForce(e.filter(col("vec_id") < 5), e, 10)
    })

  /** Two-stage truncated-dimension ANN — the Matryoshka/dimension-cascade
    * production trick: stage 1 ranks the corpus by cosine over only the
    * FIRST `prefixDim` dimensions (at scale this is the win — a separate
    * narrow column/index holding the prefix means the coarse pass reads
    * prefixDim/dim of the bytes and does prefixDim/dim of the multiplies),
    * keeps `candK` candidates per query; stage 2 reranks only those by
    * exact full-dimension cosine. Both stages rank on ROUNDED scores with
    * id tiebreaks, so the whole cascade is deterministic and the oracle
    * replays it exactly (unlike LSH/IVF this path needs no seeded
    * geometry). Recall is corpus-dependent (prefix must carry signal);
    * the recall report gates it alongside the other paths. */
  def annTruncatedRerank(queries: DataFrame, corpus: DataFrame,
      prefixDim: Int, candK: Int, k: Int): DataFrame = {
    val q = withNorm(queries).select(col("vec_id").as("q_id"),
        col("v").as("qv"), col("nrm").as("qn"))
      .withColumn("qt", slice(col("qv"), 1, prefixDim))
      .withColumn("qtn", Vec.norm(col("qt")))
    val c = withNorm(corpus)
      .withColumn("vt", slice(col("v"), 1, prefixDim))
      .withColumn("vtn", Vec.norm(col("vt")))
    val wCoarse = Window.partitionBy(col("q_id"))
      .orderBy(col("t_cos").desc, col("vec_id"))
    val cands = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("t_cos", Num.pround(Vec.cosinePrenormed(
        Vec.dot(col("qt"), col("vt")), col("qtn"), col("vtn")), 6))
      .withColumn("crank", row_number().over(wCoarse))
      .filter(col("crank") <= candK)
    val wFull = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cands.select(col("q_id"), col("vec_id"),
        Num.pround(Vec.cosinePrenormed(Vec.dot(col("qv"), col("v")),
          col("qn"), col("nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(wFull))
      .filter(col("rank") <= k)
  }

  private val TruncPrefix = 16
  private val TruncCandK = 100

  val annTruncatedQ = QueryDef(
    "ann_truncated_rerank",
    s"two-stage ANN: rank on the first $TruncPrefix dims, exact-rerank top $TruncCandK",
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings),
             n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm,
                          v[1:$TruncPrefix] AS vt
                   FROM e),
             n2 AS (SELECT vec_id, v, nrm, vt,
                           sqrt(${dotSql.format("vt", "vt")}) AS vtn
                    FROM n),
             cand AS (SELECT q_id, vec_id, v, nrm, qv, qn FROM (
                 SELECT q.vec_id AS q_id, c.vec_id, c.v, c.nrm,
                        q.v AS qv, q.nrm AS qn,
                        row_number() OVER (PARTITION BY q.vec_id ORDER BY
                          ${Num.sql(dotSql.format("q.vt", "c.vt") +
                            " / (q.vtn * c.vtn)", 6)} DESC, c.vec_id) AS crank
                 FROM n2 q JOIN n2 c ON q.vec_id < 5 AND c.vec_id <> q.vec_id)
               WHERE crank <= $TruncCandK)
             SELECT q_id, vec_id, cosine, rank FROM (
               SELECT q_id, vec_id,
                      ${Num.sql(dotSql.format("qv", "v") + " / (qn * nrm)", 6)} AS cosine,
                      row_number() OVER (PARTITION BY q_id ORDER BY
                        ${Num.sql(dotSql.format("qv", "v") + " / (qn * nrm)", 6)} DESC,
                        vec_id) AS rank
               FROM cand) WHERE rank <= 10"""),
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      annTruncatedRerank(e.filter(col("vec_id") < 5), e, TruncPrefix,
        TruncCandK, 10)
    })

  /** DuckDB replica of [[annLsh]] with the 6 hyperplanes inlined as literals
    * — the planes are deterministic (seeded java.util.Random), so the whole
    * approximate pipeline (bucket assignment, multi-probe, candidate rank)
    * is independently recomputed and hash-verified by the oracle. Generated,
    * not hand-written. */
  private def lshOracle(numPlanes: Int, dim: Int, k: Int): String = {
    val planes = hyperplanes(numPlanes, dim)
    def planeDot(p: Seq[Double]): String =
      dotSql.format("v", s"[${p.mkString(", ")}]")
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${planeDot(p)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val probes = ("bucket" +: (0 until numPlanes)
      .map(i => s"xor(bucket, ${1L << i})")).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e),
        c AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM n),
        q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn,
                     unnest($probes) AS qbucket
              FROM c WHERE vec_id < 5),
        sims AS (SELECT q_id, c.vec_id AS vec_id,
                        ${Num.sql(dotSql.format("qv", "c.v") + " / (qn * c.nrm)", 6)} AS cosine
                 FROM c JOIN q ON c.bucket = q.qbucket AND q.q_id <> c.vec_id)
        SELECT q_id, vec_id, cosine, rank FROM (
          SELECT q_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id) AS rank
          FROM sims) WHERE rank <= $k"""
  }

  /** DuckDB replica of [[annIvfSqrt]]: same deterministic centroids (every
    * [[sqrtStrideSql]]-th vector), same rounded cell ranking, same
    * candidate rank.
    * Cell assignment is an AGGREGATION over narrow (vec_id, c_id, csim)
    * rows, packed into ONE BIGINT exactly like the engine's [[packArgmax]]
    * (shifted +1e6 so the key stays non-negative and plain `%` decodes):
    * `max(bigint)` streams the 89.6M-pair product at sf10 in ~8 s / 0.2 GB.
    * The two prior forms were both scale casualties: a `row_number` window
    * carried the vector through a corpus×cells sort (~550 B/row, spilled
    * the r10 sf10 sweep to disk-full twice), and its r10 replacement
    * `max(struct(csim, -c_id))` hit DuckDB 1.0's struct-max aggregate,
    * which burns ~2 KB per INPUT row (5.5 GB at sf1's 2.84M pairs,
    * OOM-killing a 125 GB host at sf10's 89.6M — the r11 sweep's one
    * blow-up). Only the nProbe ranking keeps a window, restricted to the 5
    * query vectors; vectors re-join by key. */
  private def ivfOracle(nProbe: Int, k: Int): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e),
        cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
                  WHERE vec_id % $sqrtStrideSql = 0),
        sim AS (SELECT n.vec_id, c_id,
                       ${Num.sql(dotSql.format("v", "cv") + " / (nrm * cn)", 6)} AS csim
                FROM n CROSS JOIN cents),
        cella AS (SELECT vec_id,
                         4398046511103 - (max((CAST(round(csim * 1000000) AS BIGINT) + 1000000) * 4398046511104 + (4398046511103 - c_id)) % 4398046511104) AS c_id
                  FROM sim GROUP BY vec_id),
        cells AS (SELECT cella.vec_id, n.v, n.nrm, c_id FROM cella
                  JOIN n ON n.vec_id = cella.vec_id),
        qr AS (SELECT vec_id, c_id,
                      row_number() OVER (PARTITION BY vec_id
                        ORDER BY csim DESC, c_id) AS crank
               FROM sim WHERE vec_id < 5),
        q AS (SELECT qr.vec_id AS q_id, n.v AS qv, n.nrm AS qn, c_id
              FROM qr JOIN n ON n.vec_id = qr.vec_id
              WHERE crank <= $nProbe),
        sims AS (SELECT q_id, c.vec_id AS vec_id,
                        ${Num.sql(dotSql.format("qv", "c.v") + " / (qn * c.nrm)", 6)} AS cosine
                 FROM cells c JOIN q USING (c_id) WHERE q.q_id <> c.vec_id)
        SELECT q_id, vec_id, cosine, rank FROM (
          SELECT q_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id) AS rank
          FROM sims) WHERE rank <= $k"""

  val annLshQ = QueryDef(
    "ann_lsh_bucketed",
    "approximate top-10 neighbors via 6-plane multi-probe sign-LSH",
    Some(lshOracle(numPlanes = 6, dim = 64, k = 10)),
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      annLsh(e.filter(col("vec_id") < 5), e, numPlanes = 6, k = 10, dim = 64)
    })

  val annIvfQ = QueryDef(
    "ann_ivf_cells",
    "approximate top-10 neighbors via IVF coarse quantization (3-probe, √n cells)",
    Some(ivfOracle(nProbe = 3, k = 10)),
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      annIvfSqrt(e.filter(col("vec_id") < 5), e, nProbe = 3, k = 10)
    })

  /** One Lloyd iteration of k-means as a DataFrame transform: assign every
    * vector to its nearest centroid (broadcast, rounded-cosine argmax with
    * id tiebreak — the same deterministic cell assignment as
    * [[annIvfSqrt]]), then recompute per-cell means dimension-wise. At
    * 100 TB the corpus never shuffles for assignment (centroids broadcast);
    * the mean update is one groupBy over (cell, dim). Long output shape
    * (c_id, pos, mean). Seeds follow the fixed-k law ([[kmeansStride]]). */
  def kmeansUpdateFixedK(e: DataFrame): DataFrame = {
    val c = withNorm(e)
    val cents = c.crossJoin(broadcast(kmeansStride(c)))
      .filter(pmod(col("vec_id"), col("km_stride")) === 0)
      .select(cellId(col("vec_id")).as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    assignCells(c, cents)
      .select(col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("c_id"), col("pos").cast("long").as("pos"))
      .agg(count(lit(1)).as("n_members"), Num.pround(avg(col("x")), 6).as("mean_x"))
  }

  /** The fixed-k seed law as a one-row `km_stride` column over `e`: stride
    * = max(25, ceil(n/64)), so k saturates at ~64 clusters however large
    * the corpus — k is a MODEL hyperparameter, not a function of corpus
    * size (the r10 sf10 sweep measured the alternative: seeds ∝ n/25 made
    * the oracle's assignment join n²·d/25 — 10¹¹ rows at 200k vectors).
    * In-plan like [[coarseCentroidsSqrt]]; /64.0 is a power-of-two
    * division, exact in both engines, so the ceil is deterministic. */
  private[graft] def kmeansStride(e: DataFrame): DataFrame =
    e.agg(greatest(lit(25L), ceil(count(lit(1)) / lit(64.0)).cast("long"))
      .as("km_stride"))

  /** DuckDB twin of [[kmeansStride]]. */
  private[graft] val kmeansStrideSql =
    "(SELECT greatest(25, CAST(ceil(count(*) / 64.0) AS BIGINT)) FROM embeddings)"

  val kmeansQ = QueryDef(
    "kmeans_update",
    "one k-means Lloyd iteration: nearest-centroid assign + mean update (fixed-k seeds)",
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings),
             n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e),
             cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
                       WHERE vec_id % $kmeansStrideSql = 0),
             sim AS (SELECT n.vec_id, c_id,
                            ${Num.sql(dotSql.format("v", "cv") + " / (nrm * cn)", 6)} AS csim
                     FROM n CROSS JOIN cents),
             cella AS (SELECT vec_id,
                              4398046511103 - (max((CAST(round(csim * 1000000) AS BIGINT) + 1000000) * 4398046511104 + (4398046511103 - c_id)) % 4398046511104) AS c_id
                       FROM sim GROUP BY vec_id),
             cells AS (SELECT cella.vec_id, n.v, c_id FROM cella
                       JOIN n ON n.vec_id = cella.vec_id)
             SELECT c_id, CAST(i - 1 AS BIGINT) AS pos, count(*) AS n_members,
                    ${Num.sql("avg(v[i])", 6)} AS mean_x
             FROM cells CROSS JOIN unnest(generate_series(1, 64)) AS t(i)
             GROUP BY c_id, i"""),
    (s, dir) => kmeansUpdateFixedK(Tables.embeddings(s, dir)))

  /** Embedding-cosine near-duplicate detection — the semantic-dedup
    * counterpart of [[graft.operators.Dedup]]'s lexical pipelines.
    *
    * The r10 sf10 probe retired the old shape (brute-force pair join,
    * emit every pair >= tau): with tau below the corpus's intra-cluster
    * background band the ANSWER ITSELF is quadratic — at 200k vectors it
    * wrote 6 GB of pairs and was still going. No blocking fixes a
    * quadratic output, so the default entry point now reports PER VECTOR:
    * how many same-bucket partners clear the threshold, and the best one
    * (argmax rounded cosine, tie -> smallest id). Output is one row per
    * vector at any scale; the uncapped pair list survives as the gated
    * `_oracle_baseline` twin below, per the repo convention.
    *
    * Blocking is sign-LSH (the [[annLsh]] hyperplanes): bucket count is a
    * config (2^numPlanes — grows as log2(corpus/target-bucket-size), the
    * SCALE.md knob), candidates are same-bucket pairs via one
    * hash-partitioned equi-join, nothing broadcasts. Bucketing makes the
    * candidate set approximate (a pair split by a plane is unseen — the
    * ANN recall trade, measured in `ann_recall_report`); within the
    * candidate set counts and argmax are exact and deterministic. */
  def embeddingNearDupReport(e: DataFrame, numPlanes: Int, dim: Int,
      tau: Double): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val c = withNorm(e).filter(col("nrm") > 0)
      .withColumn("bucket", bucketOf(col("v"), planes))
    val pairs = c.as("a").join(c.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("j"),
        Num.pround(Vec.cosinePrenormed(Vec.dot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")), 6).as("cosine"))
      .filter(col("cosine") >= tau)
    val rep = pairs
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_near"),
        max(packArgmax(col("cosine"), col("j"))).as("k"))
    c.select(col("vec_id")).join(rep, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n_near"), lit(0L)).as("n_near"),
        unpackArgmaxId(col("k")).as("best_j"),
        unpackArgmaxVal(col("k")).as("best_cosine"))
  }

  private val nearDupPlanes = 12
  private val nearDupTau = 0.45

  private def nearDupOracle(numPlanes: Int, dim: Int, tau: Double): String = {
    val planes = hyperplanes(numPlanes, dim)
    def planeDot(p: Seq[Double]): String =
      dotSql.format("v", s"[${p.mkString(", ")}]")
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${planeDot(p)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e
              WHERE ${dotSql.format("v", "v")} > 0),
        c AS (SELECT vec_id, v, nrm, $bucket AS bucket FROM n),
        p AS (SELECT a.vec_id AS vec_id, b.vec_id AS j,
                     ${Num.sql(dotSql.format("a.v", "b.v") + " / (a.nrm * b.nrm)", 6)} AS cosine
              FROM c a JOIN c b
                ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
              WHERE ${Num.sql(dotSql.format("a.v", "b.v") + " / (a.nrm * b.nrm)", 6)} >= $tau),
        agg AS (SELECT vec_id, count(*) AS n_near FROM p GROUP BY 1),
        best AS (SELECT vec_id, j AS best_j, cosine AS best_cosine FROM (
                   SELECT vec_id, j, cosine, row_number() OVER (
                     PARTITION BY vec_id ORDER BY cosine DESC, j) AS rn
                   FROM p) WHERE rn = 1)
        SELECT c.vec_id, coalesce(agg.n_near, 0) AS n_near,
               best.best_j, best.best_cosine
        FROM c LEFT JOIN agg USING (vec_id) LEFT JOIN best USING (vec_id)"""
  }

  val nearDupQ = QueryDef(
    "dedup_embedding_cosine",
    "per-vector embedding near-dup report: LSH-bucketed candidates, count + best partner at cosine >= 0.45",
    Some(nearDupOracle(nearDupPlanes, 64, nearDupTau)),
    (s, dir) => embeddingNearDupReport(Tables.embeddings(s, dir),
      nearDupPlanes, 64, nearDupTau))

  /** The UNCAPPED pair-list form — quadratic in both compute and OUTPUT
    * once tau sits inside the background-similarity band (measured: 2e9
    * output pairs at 200k vectors), kept per the repo convention as gated
    * ground truth the blocked report is graded against. */
  val nearDupBaselineQ = QueryDef(
    "dedup_embedding_cosine_oracle_baseline",
    "UNCAPPED embedding near-dup pairs: cosine >= 0.45, exact O(n^2) pair join (gated ground truth — use dedup_embedding_cosine)",
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings),
             n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e)
             SELECT a.vec_id AS i, b.vec_id AS j,
                    ${Num.sql(dotSql.format("a.v", "b.v") + " / (a.nrm * b.nrm)", 6)} AS cosine
             FROM n a JOIN n b ON a.vec_id < b.vec_id
             WHERE ${Num.sql(dotSql.format("a.v", "b.v") + " / (a.nrm * b.nrm)", 6)} >= 0.45"""),
    (s, dir) => {
      val n = withNorm(Tables.embeddings(s, dir))
      n.as("a").join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
          Num.pround(Vec.cosinePrenormed(Vec.dot(col("a.v"), col("b.v")),
            col("a.nrm"), col("b.nrm")), 6).as("cosine"))
        .filter(col("cosine") >= 0.45)
    })

  /** Stripe differential of [[nearDupBaselineQ]] — the baseline whose
    * OUTPUT is quadratic (~2e9 pairs at sf10's 200k vectors): striping both
    * endpoints bounds output AND compute by 1/k², which is exactly the sf1
    * volume the full baseline already passed. See
    * [[graft.operators.Stripe]]. */
  val nearDupBaselineStripeQ = QueryDef(
    "dedup_embedding_cosine_oracle_baseline_stripe",
    s"uncapped cosine>=0.45 pair list on the 1-in-${Stripe.K} id-hash stripe — the bounded big-SF differential of dedup_embedding_cosine_oracle_baseline",
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings
                        WHERE ${Stripe.sql("vec_id", Stripe.K)}),
             n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e)
             SELECT a.vec_id AS i, b.vec_id AS j,
                    ${Num.sql(dotSql.format("a.v", "b.v") + " / (a.nrm * b.nrm)", 6)} AS cosine
             FROM n a JOIN n b ON a.vec_id < b.vec_id
             WHERE ${Num.sql(dotSql.format("a.v", "b.v") + " / (a.nrm * b.nrm)", 6)} >= 0.45"""),
    (s, dir) => {
      val n = withNorm(Tables.embeddings(s, dir)
        .filter(Stripe.keep(col("vec_id"), Stripe.K)))
      n.as("a").join(n.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
          Num.pround(Vec.cosinePrenormed(Vec.dot(col("a.v"), col("b.v")),
            col("a.nrm"), col("b.nrm")), 6).as("cosine"))
        .filter(col("cosine") >= 0.45)
    })

  /** Int8 quantization after unit-norm scaling — the storage/serving form of
    * an embedding index (4x smaller than float32, 8x than the double
    * intermediate). Per-row arithmetic only (norm once per vector, then one
    * IEEE divide/multiply/floor per component) — shuffle-free at any corpus
    * size; emitted exploded (vec_id, i, q) so the oracle compares component
    * by component. Zero vectors are excluded on both sides (their direction
    * is undefined; under ANSI mode the inf cast would error, not corrupt). */
  val quantQ = QueryDef(
    "embedding_quantize",
    "unit-norm int8 quantization of embeddings, exploded per component",
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings),
             n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e)
             SELECT vec_id, i, CAST(floor(v[i] / nrm * 127) AS INT) AS q
             FROM n CROSS JOIN unnest(generate_series(1, len(v))) AS u(i)
             WHERE nrm > 0"""),
    (s, dir) => withNorm(Tables.embeddings(s, dir))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), col("nrm"),
        posexplode(col("v")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).as("i"),
        floor(col("x") / col("nrm") * 127).cast("int").as("q")))

  /** One PCA power-iteration step for the corpus's top principal direction:
    * from the fixed unit seed v0 = 1/sqrt(d)·(1..1), compute
    * v1 = normalize(Σ_i (x_i·v0) x_i) — the dominant-eigenvector update
    * (covariance-free: the d×d covariance is never materialized; the data
    * makes two linear passes as (vec, component) rows). sqrt is IEEE
    * correctly-rounded, so the only cross-engine slack is aggregation-order
    * ulps, absorbed by the final rounding; further steps iterate the same
    * plan (the [[graft.operators.Graph.pagerankIterate]] pattern, per-step
    * rounding included). At 100 TB the shuffles are by vec_id then by
    * component index — d rows of state, never d². */
  val pcaStepQ = QueryDef(
    "embedding_pca_step",
    "one covariance-free PCA power step: top-component loadings from seed v0",
    Some("""WITH e AS (SELECT vec_id, j, CAST(embedding[j] AS DOUBLE) AS x
                       FROM embeddings CROSS JOIN
                         unnest(generate_series(1, len(embedding))) AS u(j)),
            s AS (SELECT vec_id, sum(x) / sqrt(64) AS s FROM e GROUP BY vec_id),
            v AS (SELECT j, sum(s.s * e.x) AS vj
                  FROM e JOIN s USING (vec_id) GROUP BY j),
            n AS (SELECT sqrt(sum(vj * vj)) AS nrm FROM v)
            SELECT j - 1 AS j, floor(vj / n.nrm * 1e6 + 0.5)/1e6 AS loading
            FROM v CROSS JOIN n"""),
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "xf")))
        .select(col("vec_id"), col("j"), col("xf").cast("double").as("x"))
      val sc = e.groupBy(col("vec_id"))
        .agg((sum(col("x")) / sqrt(lit(64.0))).as("s"))
      val v = e.join(sc, "vec_id")
        .groupBy(col("j")).agg(sum(col("s") * col("x")).as("vj"))
      val n = v.agg(sqrt(sum(col("vj") * col("vj"))).as("nrm"))
      v.crossJoin(broadcast(n))
        .select(col("j").cast("long").as("j"),
          graft.functions.Num.pround(col("vj") / col("nrm"), 6).as("loading"))
    })

  /** SemDeDup (Abbas et al. 2023's cluster-then-dedup shape): coarse-cluster
    * the embedding corpus (the same deterministic strided codebook + rounded
    * argmax assignment as [[annIvfSqrt]]), then run the cosine >= tau
    * duplicate scan only WITHIN each cell — the all-pairs product never
    * happens.
    * Verdict per vector: kept unless an earlier (lower-id) vector in the
    * SAME cell sits within tau; dropped vectors carry their earliest
    * witness. Cross-cell near-dups are the method's documented recall trade
    * (that is SemDeDup's own approximation); [[nearDupQ]] is the exact twin
    * this blocking is graded against in SimilaritySpec.
    *
    * Scale (100 TB): centroids broadcast, the corpus shuffles once by cell,
    * candidate work is Σ|cell|² — bounded by codebook granularity, so
    * oversized cells are re-clustered (finer stride) rather than scanned;
    * the verdict join is a per-cell equi-join, never global.
    *
    * The codebook follows the √n IVF sizing law ([[coarseCentroidsSqrt]]):
    * √n cells cut the broadcast-assignment dots from O(n²/stride) to
    * O(n^1.5·d) — the r12 sf10 bench measured the fixed
    * stride-25 codebook at 1.6e9 assignment dots for 200k vectors — and the
    * within-cell scan grows to the SAME O(n·√n) (expected cell size √n), so
    * both phases share one asymptote. Recall only improves: fewer, larger
    * cells means fewer cross-cell near-dup misses (the method's documented
    * approximation), so the √n law dominates the fixed stride on both axes
    * once n > stride². */
  def semDedupSqrt(e: DataFrame, tau: Double): DataFrame = {
    val c = withNorm(e)
    // cached: feeds both sides of the pair scan AND the verdict base —
    // without it the broadcast-assign subtree runs three times
    val cells = assignCells(c, coarseCentroidsSqrt(c)).cache()
    val a = cells.select(col("c_id"), col("vec_id").as("i"),
      col("v").as("vi"), col("nrm").as("ni"))
    val b = cells.select(col("c_id"), col("vec_id").as("j"),
      col("v").as("vj"), col("nrm").as("nj"))
    val dropped = a.join(b, "c_id").filter(col("i") < col("j"))
      .select(col("j"),
        Num.pround(Vec.cosinePrenormed(Vec.dot(col("vi"), col("vj")),
          col("ni"), col("nj")), 6).as("cosine"), col("i"))
      .filter(col("cosine") >= tau)
      .groupBy(col("j")).agg(min(col("i")).as("dup_of"))
    cells.select(col("vec_id"), col("c_id"))
      .join(dropped, col("vec_id") === col("j"), "left")
      .select(col("vec_id"), col("c_id"),
        col("dup_of").isNull.as("kept"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
  }

  /** N Lloyd iterations as ONE statically-chained plan — the
    * [[graft.operators.Graph.pagerankIterate]] discipline applied to
    * k-means: when the step count is fixed, no driver loop materializes
    * anything; each step appends an assign + mean-update to the lineage.
    * A step's new centroids are themselves a DataFrame in long format
    * ((c_id, pos, m) rows — what the mean update naturally produces); each
    * step reshapes them to array form IN-PLAN (collect_list sorted by
    * position — d·k rows, a trivial aggregate) so the assignment runs the
    * codegen'd DotProduct against the BROADCAST centroid array, exactly
    * like [[kmeansUpdateFixedK]]; the corpus never shuffles for assignment,
    * and the mean update is the only per-step wide exchange (by (cell, pos)).
    * Per-step means are ORDER-FREE ([[Num.qsum]] quantize-then-sum at
    * 12 dp, one division by the group count), then round to 9 places
    * intermediate / 6 final — so the centroid chain is bit-identical
    * across engines and aggregation orders, not merely
    * agrees-after-rounding (the latter broke at sf10 group sizes). Cells that attract no
    * vectors drop out — both engines aggregate only non-empty groups.
    * Zero-norm vectors and zero-norm centroids are excluded (direction
    * undefined), mirroring `embedding_quantize`'s guard. Seeds follow the
    * fixed-k law ([[kmeansStride]]), counted over the FULL corpus (matching
    * the oracle's `count(*) FROM embeddings`). */
  def kmeansIterateFixedK(e: DataFrame, steps: Int): DataFrame = {
    val va = withNorm(e).filter(col("nrm") > 0).cache()
    // r16 note: re-deriving this long format per step (join the 1x array
    // table, explode after) was A/B'd at sf1 and LOST 1.6x (3.40 -> 5.40 s)
    // — the one-time exploded cache fill is cheaper than 3 re-explodes of
    // the corpus, so the d-times-larger cache stays (OPTIMIZATION_r16.md).
    val ev = va.select(col("vec_id"), posexplode(col("v")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).cast("long").as("pos"), col("x"))
      .cache()
    var cents = ev.crossJoin(broadcast(kmeansStride(e)))
      .filter(pmod(col("vec_id"), col("km_stride")) === 0)
      .drop("km_stride")
      .select(col("vec_id").as("c_id"), col("pos"), col("x").as("m"))
    for (k <- 1 to steps) {
      // reshape the step's centroid DataFrame back to array form IN-PLAN
      // (no driver collect): the assignment then runs the codegen'd
      // DotProduct over arrays — same arithmetic as the long-format sum,
      // ~2x faster constants, identical rounded result
      val centsArr = cents.groupBy(col("c_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("c_id"),
          transform(col("pm"), p => p.getField("m")).as("cv"))
        .withColumn("cn", Vec.norm(col("cv")))
        .filter(col("cn") > 0)
      // packed-key argmax (see packArgmax): fixed-width max keeps the
      // per-step assignment a HashAggregate instead of a corpus×k sort
      val cells = va.join(broadcast(centsArr), lit(true))
        .select(col("vec_id"), packArgmax(
          Num.pround(Vec.cosinePrenormed(Vec.dot(col("v"), col("cv")),
            col("nrm"), col("cn")), 6), col("c_id")).as("kk"))
        .groupBy(col("vec_id"))
        .agg(max(col("kk")).as("kk"))
        .select(col("vec_id"), unpackArgmaxId(col("kk")).as("c_id"))
      // ORDER-FREE mean (Num.qsum quantize-then-sum): at sf10 a cell holds
      // ~3000 members, and a plain double avg's summation-order error
      // (~1e-13) lands inside the 9-dp intermediate rounding window often
      // enough to flip a centroid digit, cascade through the next assign,
      // and change the final non-empty cell count (measured: 63 vs 62
      // cells in the r11 sf10 sweep). Quantizing x at 12 dp and summing
      // as DECIMAL makes both engines add identical integers — the mean
      // is bit-identical regardless of aggregation order.
      cents = cells.join(ev, "vec_id").groupBy(col("c_id"), col("pos"))
        .agg(Num.pround(Num.qsum(col("x"), 12) / count(lit(1)),
          if (k == steps) 6 else 9).as("m"))
      // cache each step's d·k-row centroid table: without it, step k's
      // broadcast re-executes every prior step's assign+update (the chain
      // would cost Σk instead of k step-executions)
      if (k < steps) cents = cents.cache()
    }
    cents.select(col("c_id"), (col("pos") - 1).as("pos"), col("m").as("mean_x"))
  }

  /** Oracle note (r11 sf10): the long-format spelling computed each step's
    * dot products as `ev JOIN c ON pos GROUP BY (vec_id, c_id)` — a
    * 12.8M x 64 = 819M-row aggregation INPUT per step at 200k vectors,
    * which DuckDB's out-of-core agg spilled past a 58 GB disk. The list
    * form below is the `kmeans_update`/ANN-family pattern (native
    * `list_dot_product`, one scalar per corpus x centroid row — 12.8M
    * narrow rows, no giant aggregation), and is also arithmetically
    * CLOSER to the engine: norms and dots accumulate in index order
    * exactly like [[graft.functions.Vec.dot]], instead of a
    * GROUP-BY-order double sum. */
  private def kmeansTrainOracle(steps: Int): String = {
    val nrm = dotSql.format("v", "v")
    val base =
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                     FROM embeddings),
          vv AS (SELECT vec_id, v, sqrt($nrm) AS nrm FROM e WHERE sqrt($nrm) > 0),
          ev AS (SELECT vec_id, CAST(j AS BIGINT) AS pos, v[j] AS x
                 FROM vv CROSS JOIN unnest(generate_series(1, len(v))) AS u(j)),
          c0l AS (SELECT vec_id AS c_id, v AS cv FROM vv
                  WHERE vec_id % $kmeansStrideSql = 0)"""
    val chain = (1 to steps).map { k =>
      val prec = if (k == steps) 6 else 9
      val cnrm = dotSql.format("cv", "cv")
      s""",
          cn$k AS (SELECT c_id, cv, sqrt($cnrm) AS cn FROM c${k - 1}l
                   WHERE sqrt($cnrm) > 0),
          sim$k AS (SELECT vv.vec_id, c_id,
                           ${Num.sql(dotSql.format("v", "cv") + " / (nrm * cn)", 6)} AS csim
                    FROM vv CROSS JOIN cn$k),
          cell$k AS (SELECT vec_id,
                            4398046511103 - (max((CAST(round(csim * 1000000) AS BIGINT) + 1000000) * 4398046511104 + (4398046511103 - c_id)) % 4398046511104) AS c_id
                     FROM sim$k GROUP BY vec_id),
          c$k AS (SELECT l.c_id, e.pos,
                         ${Num.sql(s"${Num.sqlQsum("e.x", 12)} / count(*)", prec)} AS m
                  FROM cell$k l JOIN ev e USING (vec_id) GROUP BY 1, 2),
          c${k}l AS (SELECT c_id, list(m ORDER BY pos) AS cv FROM c$k GROUP BY 1)"""
    }.mkString
    base + chain +
      s"\n          SELECT c_id, pos - 1 AS pos, m AS mean_x FROM c$steps"
  }

  val kmeansTrainQ = QueryDef(
    "kmeans_train_3",
    "3 chained Lloyd iterations in one static plan (assign + mean update per step, fixed-k seeds)",
    Some(kmeansTrainOracle(3)),
    (s, dir) => kmeansIterateFixedK(Tables.embeddings(s, dir), steps = 3))

  /** Embedding-space outlier report — the quality-filter face of the IVF
    * codebook: each vector's cosine DISTANCE to its assigned coarse centroid
    * (1 - rounded csim), flagged when it exceeds mean + z·stddev of the
    * corpus distance distribution. Far-from-codebook vectors are
    * mis-embedded/out-of-domain candidates a curation pipeline reviews
    * before training. One broadcast-assign pass + one 1-row stats aggregate
    * that broadcasts back — linear, no pair join, same scale contract as
    * [[annIvfSqrt]]'s assignment, on the same √n codebook. The packed
    * argmax key ([[packArgmax]]) carries (csim, -c_id) in one long so the
    * distance AND the deterministic cell come from one fixed-width max — a
    * HashAggregate, where the former struct-max forced a corpus×k
    * SortAggregate (r10 A/B). */
  def embeddingOutliersSqrt(e: DataFrame, zThresh: Double): DataFrame = {
    val c = withNorm(e)
    val best = c.join(broadcast(coarseCentroidsSqrt(c)), lit(true))
      .select(col("vec_id"), packArgmax(
        Num.pround(Vec.cosinePrenormed(
          Vec.dot(col("v"), col("cv")), col("nrm"), col("cn")), 6),
        col("c_id")).as("k"))
      .groupBy(col("vec_id"))
      .agg(max(col("k")).as("k"))
      // decode: csim_micro = k >> 42 (arithmetic shift = floor division,
      // exact for negative csim too); c_id from the low 42 bits
      .select(col("vec_id"), unpackArgmaxId(col("k")).as("c_id"),
        Num.pround(lit(1) -
          shiftright(col("k"), CellIdBits) / lit(1e6), 6).as("dist"))
    val st = best.agg(
      Num.pround(avg(col("dist")) + lit(zThresh) * stddev_samp(col("dist")), 4)
        .as("thr"))
    best.crossJoin(broadcast(st))
      .select(col("vec_id"), col("c_id"), col("dist"),
        (col("dist") > col("thr")).as("is_outlier"))
  }

  val outliersQ = QueryDef(
    "embedding_outliers",
    "per-vector cosine distance to its IVF centroid (√n cells), flagged past mean + 1 stddev",
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings),
             n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e),
             cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
                       WHERE vec_id % $sqrtStrideSql = 0),
             sim AS (SELECT n.vec_id, c_id,
                            ${Num.sql(dotSql.format("v", "cv") + " / (nrm * cn)", 6)} AS csim
                     FROM n CROSS JOIN cents),
             cella AS (SELECT vec_id,
                              max((CAST(round(csim * 1000000) AS BIGINT) + 1000000) * 4398046511104
                                + (4398046511103 - c_id)) AS mk
                       FROM sim GROUP BY vec_id),
             cells AS (SELECT vec_id, 4398046511103 - (mk % 4398046511104) AS c_id,
                              ${Num.sql("1 - CAST(mk // 4398046511104 - 1000000 AS DOUBLE) / 1000000", 6)} AS dist
                       FROM cella),
             st AS (SELECT ${Num.sql("avg(dist) + 1.0 * stddev_samp(dist)", 4)} AS thr
                    FROM cells)
             SELECT vec_id, c_id, dist, dist > thr AS is_outlier
             FROM cells CROSS JOIN st"""),
    (s, dir) => embeddingOutliersSqrt(Tables.embeddings(s, dir),
      zThresh = 1.0))

  private val semDedupTau = 0.35

  val semDedupQ = QueryDef(
    "semdedup_verdicts",
    s"SemDeDup: per-vector keep/drop verdicts from the within-cell (√n cells) cosine >= $semDedupTau scan",
    Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings),
             n AS (SELECT vec_id, v, sqrt(${dotSql.format("v", "v")}) AS nrm FROM e),
             cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
                       WHERE vec_id % $sqrtStrideSql = 0),
             sim AS (SELECT n.vec_id, c_id,
                            ${Num.sql(dotSql.format("v", "cv") + " / (nrm * cn)", 6)} AS csim
                     FROM n CROSS JOIN cents),
             cella AS (SELECT vec_id,
                              4398046511103 - (max((CAST(round(csim * 1000000) AS BIGINT) + 1000000) * 4398046511104 + (4398046511103 - c_id)) % 4398046511104) AS c_id
                       FROM sim GROUP BY vec_id),
             cells AS (SELECT cella.vec_id, n.v, n.nrm, c_id FROM cella
                       JOIN n ON n.vec_id = cella.vec_id),
             drp AS (SELECT b.vec_id AS j, min(a.vec_id) AS dup_of
                     FROM cells a JOIN cells b
                       ON a.c_id = b.c_id AND a.vec_id < b.vec_id
                     WHERE ${Num.sql(dotSql.format("a.v", "b.v") + " / (a.nrm * b.nrm)", 6)} >= $semDedupTau
                     GROUP BY b.vec_id)
             SELECT c.vec_id, c.c_id, drp.dup_of IS NULL AS kept,
                    coalesce(drp.dup_of, -1) AS dup_of
             FROM cells c LEFT JOIN drp ON drp.j = c.vec_id"""),
    (s, dir) => semDedupSqrt(Tables.embeddings(s, dir), tau = semDedupTau))

  val defs: Seq[QueryDef] =
    Seq(pairsQ, pairsStripeQ, annQ, annTruncatedQ, annLshQ, annIvfQ, kmeansQ,
      kmeansTrainQ, nearDupQ, nearDupBaselineQ, nearDupBaselineStripeQ,
      quantQ, pcaStepQ, semDedupQ, outliersQ)
}
