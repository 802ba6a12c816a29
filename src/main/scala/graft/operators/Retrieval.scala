package graft.operators

import graft.QueryDef
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-retrieval scoring over the document corpus: BM25 ranking against a
  * fixed keyword query. The reference serves its dashboard from plain SQL
  * (console.py:45-51); a training-data engine additionally needs retrieval
  * primitives for corpus inspection and quality-slicing ("find the docs most
  * about X").
  *
  * Scale design (100 TB): the token stream is filtered to the query terms
  * BEFORE any shuffle — only matching postings (|terms| × df rows) leave the
  * scan. Document-frequency and corpus statistics are tiny aggregates joined
  * back by broadcast, and the final top-k is a TakeOrdered (per-partition
  * heap + single merge), never a global sort.
  *
  * Determinism: the idf uses the rational Robertson form
  * (N - df + 0.5)/(df + 0.5) WITHOUT the usual log — log is not IEEE-exact
  * across engines while +,*,/ are, and the ranking is unchanged for a fixed
  * query (idf stays monotone decreasing in df). Per-term scores are summed
  * in fixed query order via conditional aggregation, so parallel aggregation
  * order cannot perturb the total.
  */
object Retrieval {

  /** Mid-frequency terms of the synthetic corpus (FIXTURES.md §B). */
  val QueryTerms: Seq[String] = Seq("vector", "stream", "window")
  private val K1 = 1.2
  private val B = 0.75
  private val TopK = 20

  /** BM25 top-k: rank `docs` against `terms`, highest score first, ties
    * broken by doc_id.
    *
    * One typed pass over the corpus emits a per-doc stats row (tok = null,
    * carrying dl) plus one row per query-term occurrence — tokenizing each
    * document exactly once (the Column spelling re-evaluates the regex split
    * under every reference after CollapseProject; see the same note on
    * [[Dedup.shingleIndex]]). The tiny result (docs + matching postings, not
    * the token stream) is cached and feeds both corpus stats and tf, and dl
    * rides along in the tf group-by so no length join is ever needed. */
  def bm25TopK(docs: DataFrame, id: String, text: String,
      terms: Seq[String], k: Int): DataFrame =
    bm25TopKWeighted(docs, id, text, terms.map(_ -> 1.0), k)

  /** [[bm25TopK]] generalized to per-term query weights (the Rocchio /
    * RM3 shape: original terms at weight 1, expansion terms discounted).
    * The weight multiplies the per-term score row as `(w · idf) · sat` —
    * the same association the oracle SQL uses — and summation stays in the
    * given term order via the conditional-sum chain, so weighting does not
    * disturb the cross-engine determinism argument. `bm25TopK` delegates
    * here with weight 1.0 (IEEE-exact: `1.0 * x == x`). */
  def bm25TopKWeighted(docs: DataFrame, id: String, text: String,
      termWeights: Seq[(String, Double)], k: Int): DataFrame = {
    require(termWeights.nonEmpty, "bm25TopKWeighted needs at least one term")
    val terms = termWeights.map(_._1)
    // a duplicated term would build two conditional sums over the SAME rows
    // (silently double-counting the term) while the weight chain resolves
    // only the first occurrence — reject rather than mis-score
    require(terms.distinct == terms,
      s"bm25TopKWeighted terms must be distinct: $terms")
    val base = bm25Base(docs, id, text, terms.toSet)
    bm25ScoreFromParts(bm25Stats(base), bm25Tf(base), termWeights, k)
  }

  /** The one typed corpus pass behind BM25: a per-doc stats row (tok = null,
    * carrying dl) plus one row per occurrence of a `termSet` term. Cached —
    * the stats and tf consumers share it. */
  private def bm25Base(docs: DataFrame, id: String, text: String,
      termSet: Set[String]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col(id).cast("long").as("doc_id"), col(text).as("t"))
      .as[(Long, String)]
      .flatMap { case (did, t) =>
        val toks = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        val dl = toks.length.toLong
        Iterator.single((did, dl, null: String)) ++
          toks.iterator.filter(termSet).map(tok => (did, dl, tok))
      }.toDF("doc_id", "dl", "tok").cache()
  }

  private def bm25Stats(base: DataFrame): DataFrame =
    base.filter(col("tok").isNull)
      .agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))

  private def bm25Tf(base: DataFrame): DataFrame =
    base.filter(col("tok").isNotNull)
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))

  /** The scoring tail from precomputed parts: `tf` must be the
    * (doc_id, dl, tok, tf) posting table covering, for EVERY term in
    * `termWeights`, all docs containing it — df derives from tf, so a
    * partial posting list would silently understate df. Exposed separately
    * so [[prfQ]] can assemble stage 2 from already-paid passes instead of
    * tokenizing the corpus a third time. */
  private def bm25ScoreFromParts(stats: DataFrame, tf: DataFrame,
      termWeights: Seq[(String, Double)], k: Int): DataFrame = {
    val terms = termWeights.map(_._1)
    // one row per (term present anywhere) — broadcast side of the probe
    val dfs = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = termWeights.tail.foldLeft(
      when(col("tok") === termWeights.head._1, lit(termWeights.head._2))) {
      case (acc, (t, tw)) => acc.when(col("tok") === t, lit(tw))
    }
    val perTerm = tf.join(broadcast(dfs), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("s",
        w * ((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * lit(K1 + 1)) /
            (col("tf") + lit(K1) *
              (lit(1.0) - lit(B) + (lit(B) * col("dl")) / col("avgdl")))))
    // fixed-order summation: one conditional sum per query term (each sums
    // exactly one row), added left-to-right in query order
    val sums: Seq[Column] = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, col("s"))).as(s"s$i")
    }
    val total: Column = terms.indices
      .map(i => coalesce(col(s"s$i"), lit(0.0)))
      .reduceLeft(_ + _)
    perTerm.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), Num.pround(total, 4).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** Shared oracle scaffolding: corpus tokenization, per-doc lengths,
    * corpus stats, and the flat token stream — the CTEs every BM25-shaped
    * oracle starts from (one definition; [[bm25OracleSql]] and
    * [[prfOracleSql]] both splice it, so the tokenization spelling and the
    * K1/B formula can never drift between them). */
  private def bm25BaseCtesSql: String =
    raw"""t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
               FROM documents),
        dls AS (SELECT doc_id, len(toks) AS dl FROM t),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dls),
        tok AS (SELECT doc_id, unnest(toks) AS tok FROM t)"""

  /** One BM25 scoring stage over [[bm25BaseCtesSql]]'s `tok` stream for a
    * fixed term list: defines tf/df/sc/piv CTEs with the given suffix;
    * `piv<sfx>` holds (doc_id, score) with the fixed-order conditional sum. */
  private def bm25StageCtesSql(terms: Seq[String], sfx: String): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val condSums = terms
      .map(t => s"coalesce(sum(CASE WHEN tok = '$t' THEN s END), 0)")
      .mkString("\n                   + ")
    s"""tf$sfx AS (SELECT doc_id, tok, count(*) AS tf FROM tok
                WHERE tok IN ($inList) GROUP BY 1, 2),
        df$sfx AS (SELECT tok, count(*) AS df FROM tf$sfx GROUP BY 1),
        sc$sfx AS (SELECT f.doc_id, f.tok,
                  ((stats.n - d.df + 0.5) / (d.df + 0.5)) *
                  ((f.tf * ${K1 + 1}) /
                   (f.tf + $K1 * (1.0 - $B + ($B * dls.dl) / stats.avgdl))) AS s
                FROM tf$sfx f JOIN df$sfx d USING (tok)
                JOIN dls ON f.doc_id = dls.doc_id CROSS JOIN stats),
        piv$sfx AS (SELECT doc_id,
                   $condSums AS score
                 FROM sc$sfx GROUP BY 1)"""
  }

  private def bm25OracleSql(terms: Seq[String], k: Int): String =
    s"""WITH $bm25BaseCtesSql,
        ${bm25StageCtesSql(terms, "1")}
        SELECT doc_id, ${Num.sql("score", 4)} AS score
        FROM piv1 ORDER BY score DESC, doc_id LIMIT $k"""

  val bm25Q = QueryDef(
    "bm25_topk",
    "BM25 keyword ranking (rational idf), top-20 docs for a 3-term query",
    Some(bm25OracleSql(QueryTerms, TopK)),
    (s, dir) => bm25TopK(Tables.documents(s, dir), "doc_id", "text",
      QueryTerms, TopK))

  /** Inverted-index build: the per-term posting summary (document frequency,
    * collection frequency, first posting, peak tf) a search index's term
    * dictionary holds. Two-level aggregation — (term, doc) partial counts,
    * then per-term rollup — so the token stream combines map-side before the
    * only wide shuffle; linear at any corpus size, no skew beyond natural
    * term hotness (which the two-phase aggregate absorbs). */
  val postingsQ = QueryDef(
    "inverted_postings",
    "search-index term dictionary: df / cf / first-doc / max-tf per term",
    Some("""WITH tok AS (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
                 FROM documents),
            per_doc AS (SELECT term, doc_id, count(*) AS tf
                        FROM tok GROUP BY 1, 2)
            SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
                   min(doc_id) AS min_doc, max(tf) AS max_tf
            FROM per_doc GROUP BY 1"""),
    (s, dir) => Tables.documents(s, dir)
      .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        min(col("doc_id")).as("min_doc"), max(col("tf")).as("max_tf")))

  private val RrfK = 60
  private val RrfQueryIds = Seq(1L, 2L, 3L)
  private val RrfTopK = 10

  /** Hybrid retrieval by reciprocal-rank fusion — the standard two-leg
    * search a training-data/RAG stack runs: a LEXICAL ranking (the same
    * rational-idf BM25 as [[bm25Q]], with the query document's own distinct
    * tokens as the term set — query-by-example, fully in-plan, no
    * driver-side term list) fused with a VECTOR ranking (exact cosine, the
    * `ann_cosine_topk` leg) via rrf = 1/(K+rank_lex) + 1/(K+rank_vec),
    * K = 60. Ranks are integers derived from ROUNDED scores with doc_id
    * tiebreaks, so the fusion arithmetic (two IEEE divisions + one add) is
    * engine-exact.
    *
    * Scale: the lexical leg is an inverted-index equi-join (query-term
    * postings only — |q-terms| × df rows, never the token stream); the
    * vector leg broadcasts the query vectors; each leg's rank is a per-query
    * window; the fusion is a per-(q, doc) equi-join of the two rank tables.
    * Swap the exact vector leg for `ann_lsh_bucketed`/`ann_ivf_cells`
    * candidates at corpus scale — the fusion is leg-agnostic. */
  def hybridRrf(docs: DataFrame, emb: DataFrame, qIds: Seq[Long],
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // doc lengths come from size() — one scan, no explode; the token stream
    // explodes ONLY into the broadcast query-term semi-join, so the tf
    // aggregation sees |q-terms| postings, never the full stream (the same
    // filter-before-shuffle discipline as bm25TopK's term filter)
    val base = docs.select(col("doc_id").cast("long").as("doc_id"), col("text"))
    // doc lengths in their OWN slim pass (cached: stats + the tf join both
    // read it) so the explode pass below evaluates tokens() exactly once —
    // carrying dl through the explode made Catalyst inline tokens() twice
    // per row (once for size, once for the generator), a 3rd corpus
    // tokenization this query doesn't need
    val dls = base.select(col("doc_id"),
      size(graft.functions.Text.tokens(col("text"))).cast("long").as("dl"))
      .cache()
    val stats = dls.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val qt = base.filter(col("doc_id").isin(qIds: _*))
      .select(col("doc_id").as("q_id"),
        explode(graft.functions.Text.tokens(col("text"))).as("tok")).distinct()
    val tf = base
      .select(col("doc_id"),
        explode(graft.functions.Text.tokens(col("text"))).as("tok"))
      .join(broadcast(qt.select(col("tok")).distinct()), "tok")
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .join(dls, "doc_id") // |q-terms| postings vs the doc-grain dl table
      .cache()
    val dfs = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val perTerm = qt.join(tf, "tok")
      .filter(col("doc_id") =!= col("q_id"))
      .join(broadcast(dfs), "tok").crossJoin(broadcast(stats))
      .withColumn("s",
        ((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * lit(K1 + 1)) /
            (col("tf") + lit(K1) *
              (lit(1.0) - lit(B) + (lit(B) * col("dl")) / col("avgdl")))))
    val wl = Window.partitionBy(col("q_id"))
      .orderBy(desc("score"), col("doc_id"))
    val lex = perTerm.groupBy(col("q_id"), col("doc_id"))
      .agg(Num.pround(sum(col("s")), 4).as("score"))
      .withColumn("rl", row_number().over(wl))
      .select(col("q_id"), col("doc_id"), col("rl"))
    val c = Similarity.withNorm(emb)
    val q = c.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val wv = Window.partitionBy(col("q_id"))
      .orderBy(desc("cosine"), col("doc_id"))
    val vec = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        Num.pround(graft.functions.Vec.cosinePrenormed(
          graft.functions.Vec.dot(col("qv"), col("v")),
          col("qn"), col("nrm")), 6).as("cosine"))
      .withColumn("rv", row_number().over(wv))
      .select(col("q_id"), col("doc_id"), col("rv"))
    val wf = Window.partitionBy(col("q_id"))
      .orderBy(desc("rrf"), col("doc_id"))
    lex.join(vec, Seq("q_id", "doc_id"))
      .select(col("q_id"), col("doc_id"),
        Num.pround(lit(1.0) / (lit(RrfK) + col("rl")) +
          lit(1.0) / (lit(RrfK) + col("rv")), 6).as("rrf"))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
  }

  val hybridQ = QueryDef(
    "hybrid_search_rrf",
    s"hybrid retrieval: BM25 query-by-example + exact cosine, fused by reciprocal rank (K=$RrfK), top-$RrfTopK per query",
    Some(s"""WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
                   FROM documents),
        tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM t),
        tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
        dls AS (SELECT DISTINCT doc_id, dl FROM tf),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dls),
        dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        qt AS (SELECT DISTINCT doc_id AS q_id, tok FROM tf
               WHERE doc_id IN (${RrfQueryIds.mkString(", ")})),
        pt AS (SELECT qt.q_id, f.doc_id,
                 ((stats.n - d.df + 0.5) / (d.df + 0.5)) *
                 ((f.tf * ${K1 + 1}) /
                  (f.tf + $K1 * (1.0 - $B + ($B * f.dl) / stats.avgdl))) AS s
               FROM qt JOIN tf f USING (tok) JOIN dfs d USING (tok)
               CROSS JOIN stats
               WHERE f.doc_id <> qt.q_id),
        lex AS (SELECT q_id, doc_id, ${Num.sql("sum(s)", 4)} AS score
                FROM pt GROUP BY 1, 2),
        lr AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
                 ORDER BY score DESC, doc_id) AS rl FROM lex),
        e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        nv AS (SELECT vec_id, v, sqrt(${Similarity.dotSql.format("v", "v")}) AS nrm FROM e),
        qv AS (SELECT vec_id AS q_id, v AS qvec, nrm AS qn FROM nv
               WHERE vec_id IN (${RrfQueryIds.mkString(", ")})),
        vc AS (SELECT qv.q_id, nv.vec_id AS doc_id,
                 ${Num.sql(Similarity.dotSql.format("qvec", "nv.v") + " / (qn * nrm)", 6)} AS cosine
               FROM nv CROSS JOIN qv WHERE nv.vec_id <> qv.q_id),
        vr AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, doc_id) AS rv FROM vc),
        fused AS (SELECT lr.q_id, lr.doc_id,
                    ${Num.sql(s"1.0 / ($RrfK + rl) + 1.0 / ($RrfK + rv)", 6)} AS rrf
                  FROM lr JOIN vr ON lr.q_id = vr.q_id AND lr.doc_id = vr.doc_id)
        SELECT q_id, doc_id, rrf, rank FROM
          (SELECT q_id, doc_id, rrf, row_number() OVER (PARTITION BY q_id
             ORDER BY rrf DESC, doc_id) AS rank FROM fused)
        WHERE rank <= $RrfTopK"""),
    (s, dir) => hybridRrf(Tables.documents(s, dir), Tables.embeddings(s, dir),
      RrfQueryIds, RrfTopK))

  /** Exact-phrase query over the POSITIONAL inverted index: postings carry
    * token positions, and a phrase match is an equi-join of the first term's
    * postings with the second term's at position+1 — the classic
    * positional-index adjacency join every search engine runs, here as a
    * Spark plan. ("Did the corpus say exactly X Y" is a routine corpus-
    * inspection / contamination question a substring LIKE can't answer
    * post-tokenization.)
    *
    * Scale (100 TB): the token stream is filtered to the two phrase terms AT
    * THE SCAN (same discipline as [[bm25TopK]]) so only |postings of the two
    * terms| rows shuffle; the adjacency join keys on (doc_id, position) —
    * equi-join, never a range join — and with a pre-built bucketed postings
    * table it is co-partitioned. The per-doc aggregate reuses the join's
    * hash partitioning on doc_id. */
  val PhraseW1 = "part"
  val PhraseW2 = "filter"

  def phraseSearch(docs: DataFrame, w1: String, w2: String): DataFrame = {
    val posting = docs
      .select(col("doc_id"),
        posexplode(graft.functions.Text.tokens(col("text"))))
      .filter(col("col").isin(w1, w2))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"), col("col").as("tok"))
    // join keys are (doc_id, position): w1 postings advanced by one line up
    // with w2 postings — a pure equi-join, extractable by ExtractEquiJoinKeys
    val a = posting.filter(col("tok") === w1)
      .select(col("doc_id"), col("p").as("p1"), (col("p") + 1).as("pj"))
    val b = posting.filter(col("tok") === w2)
      .select(col("doc_id"), col("p").as("pj"))
    a.join(b, Seq("doc_id", "pj"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("p1")).as("first_pos"))
  }

  val phraseQ = QueryDef(
    "phrase_search_positions",
    s"positional-postings adjacency join: docs containing the exact phrase '$PhraseW1 $PhraseW2'",
    Some(s"""WITH toks AS (SELECT doc_id,
                    string_split_regex(trim(lower(text)), '\\s+') AS t
                  FROM documents),
       hits AS (SELECT doc_id, CAST(i AS BIGINT) AS i
                FROM toks CROSS JOIN unnest(generate_series(1, len(t) - 1)) AS u(i)
                WHERE t[i] = '$PhraseW1' AND t[i+1] = '$PhraseW2')
       SELECT doc_id, count(*) AS n_hits, min(i) AS first_pos
       FROM hits GROUP BY doc_id"""),
    (s, dir) => phraseSearch(Tables.documents(s, dir), PhraseW1, PhraseW2))

  private val PrfFeedbackK = 10
  private val PrfExpandE = 2
  private val PrfWeight = 0.5
  private val PrfTopK = 10

  /** The PRF pipeline body: TWO corpus tokenizations total. Pass 1 is the
    * shared [[bm25Base]] over the original terms — its postings and stats
    * serve stage 1 AND reappear as the original-term half of stage 2. The
    * feedback-doc tokenization is a broadcast semi-join (touches only `f`
    * docs). Pass 2 emits the full token stream but broadcast-filters it to
    * the candidate set before the only shuffle; its (doc, dl, term, tf)
    * posting table is cached and serves BOTH the global-df expansion
    * ranking and the expansion-term half of stage 2 — the naive form's
    * third corpus pass (re-tokenizing for stage-2 postings) never runs.
    * The `e`-row expansion collect is a driver control decision like the
    * [[Dedup.connectedComponents]] size gate; the Deferred wrapper moves
    * it to first action. */
  private def prfRanked(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val baseA = bm25Base(docs, "doc_id", "text", terms.toSet)
    val stats = bm25Stats(baseA)
    val tfA = bm25Tf(baseA)
    val fb = bm25ScoreFromParts(stats, tfA, terms.map(_ -> 1.0), PrfFeedbackK)
      .select(col("doc_id").as("fb_id"))
    val fbTok = docs
      .join(broadcast(fb), col("doc_id").cast("long") === col("fb_id"))
      .select(col("doc_id").cast("long").as("did"),
        explode(graft.functions.Text.tokens(col("text"))).as("tok"))
    // cached: cand feeds the candidate-set collect and the expansion
    // scoring join — uncached, each re-runs stage 1 + feedback tokenization
    val cand = fbTok.filter(!col("tok").isin(terms: _*))
      .groupBy(col("tok")).agg(countDistinct(col("did")).as("fb_df"))
      .cache()
    // the candidate vocabulary is bounded by the token count of the f
    // feedback docs (a few hundred strings at any corpus size) — a driver
    // control decision like the expansion choice below, and collecting it
    // lets pass 2 reuse the audited bm25Base machinery (dl rides the same
    // typed pass; no posting-grain length join, no second tokenization of
    // anything but the corpus itself)
    val candTerms = cand.select(col("tok")).collect().map(_.getString(0))
    val baseB = bm25Base(docs, "doc_id", "text", candTerms.toSet)
    val tfB = bm25Tf(baseB)
    val dfB = tfB.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = stats.select(col("n")).head().getLong(0)
    val exp = cand.join(dfB, "tok")
      .select(col("tok"), ((col("fb_df") * (lit(n) - col("df") + lit(0.5))) /
        (col("df") + lit(0.5))).as("cs"))
      .orderBy(desc("cs"), col("tok")).limit(PrfExpandE)
      .collect().map(_.getString(0)).toSeq
    val tf2 =
      if (exp.isEmpty) tfA
      else tfA.unionAll(tfB.filter(col("tok").isin(exp: _*)))
    bm25ScoreFromParts(stats, tf2,
      terms.map(_ -> 1.0) ++ exp.map(_ -> PrfWeight), PrfTopK)
  }

  private def prfOracleSql: String = {
    val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
    val origVals = QueryTerms.zipWithIndex
      .map { case (t, i) => s"('$t', 1.0, ${i + 1})" }.mkString(", ")
    s"""WITH $bm25BaseCtesSql,
        ${bm25StageCtesSql(QueryTerms, "1")},
        fb AS (SELECT doc_id, ${Num.sql("score", 4)} AS score
               FROM piv1 ORDER BY 2 DESC, 1 LIMIT $PrfFeedbackK),
        fbtok AS (SELECT g.doc_id, g.tok FROM tok g JOIN fb ON g.doc_id = fb.doc_id),
        cand AS (SELECT tok, count(DISTINCT doc_id) AS fb_df FROM fbtok
                 WHERE tok NOT IN ($inList) GROUP BY 1),
        canddf AS (SELECT g.tok, count(DISTINCT g.doc_id) AS df
                   FROM tok g JOIN cand USING (tok) GROUP BY 1),
        exp AS (SELECT c.tok,
                  (c.fb_df * (stats.n - d.df + 0.5)) / (d.df + 0.5) AS cs
                FROM cand c JOIN canddf d USING (tok) CROSS JOIN stats
                ORDER BY 2 DESC, 1 LIMIT $PrfExpandE),
        expo AS (SELECT tok, $PrfWeight AS w,
                   ${QueryTerms.length} + row_number() OVER (ORDER BY cs DESC, tok)
                     AS ord FROM exp),
        terms AS (SELECT * FROM (VALUES $origVals) v(tok, w, ord)
                  UNION ALL SELECT tok, w, ord FROM expo),
        tf2 AS (SELECT g.doc_id, g.tok, count(*) AS tf
                FROM tok g JOIN terms USING (tok) GROUP BY 1, 2),
        df2 AS (SELECT tok, count(*) AS df FROM tf2 GROUP BY 1),
        sc2 AS (SELECT f.doc_id, terms.ord,
                  terms.w * ((stats.n - d.df + 0.5) / (d.df + 0.5)) *
                  ((f.tf * ${K1 + 1}) /
                   (f.tf + $K1 * (1.0 - $B + ($B * dls.dl) / stats.avgdl))) AS s
                FROM tf2 f JOIN df2 d USING (tok) JOIN terms USING (tok)
                JOIN dls ON f.doc_id = dls.doc_id CROSS JOIN stats),
        agg2 AS (SELECT doc_id,
                   list_reduce(list(s ORDER BY ord), (acc, x) -> acc + x) AS score
                 FROM sc2 GROUP BY 1)
        SELECT doc_id, ${Num.sql("score", 4)} AS score
        FROM agg2 ORDER BY 2 DESC, 1 LIMIT $PrfTopK"""
  }

  /** Pseudo-relevance-feedback query expansion (RM3 shape): BM25 stage 1
    * picks the top-[[PrfFeedbackK]] feedback docs, the strongest
    * feedback-set terms (by fb-frequency × rational rarity) expand the
    * query at weight [[PrfWeight]], and a weighted BM25 stage 2 produces
    * the final ranking — the classic two-pass retrieval refinement a
    * corpus-inspection surface needs when the literal query undershoots.
    *
    * Determinism with a DYNAMIC term set: stage 2's summation order is the
    * explicit term ordinal (originals in query order, then expansion terms
    * by selection rank), which Spark realizes as the ordered conditional-sum
    * chain and the oracle replays as an ordered-list fold (`list_reduce` over
    * `list(s ORDER BY ord)` — IEEE-identical since `0.0 + x == x`). The
    * expansion choice itself is deterministic: rational rarity scores, ties
    * by term.
    *
    * Scale: TWO corpus tokenizations ([[prfRanked]] — stage 2 is assembled
    * from the stage-1 postings plus the candidate-df pass's cached posting
    * table, so the naive third pass never runs), each discarding
    * non-matching tokens before any shuffle; feedback tokenization touches
    * only [[PrfFeedbackK]] docs via a broadcast semi-join. The 2-row
    * expansion collect is a driver control decision inside a Deferred plan
    * (first-action, not registration). */
  val prfQ = QueryDef(
    "query_expansion_prf",
    "pseudo-relevance-feedback BM25: feedback docs pick 2 expansion terms, weighted requery",
    Some(prfOracleSql),
    (s, dir) => graft.plans.Deferred.dataFrame(s,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType))),
      () => {
        prfRanked(Tables.documents(s, dir), QueryTerms)
      }))

  val defs: Seq[QueryDef] = Seq(bm25Q, postingsQ, hybridQ, phraseQ, prfQ)
}
