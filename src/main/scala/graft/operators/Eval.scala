package graft.operators

import graft.QueryDef
import graft.functions.{Num, Text}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation primitives — the step after `doc_features` trains a
  * quality classifier: ranking AUC and a thresholded confusion matrix, both
  * in exact arithmetic so the oracle pins them bit-for-bit.
  *
  * The evaluated "model" is the engine's own composite quality score
  * (integer qmilli, [[Text.qualityRaw]] x 1e4 — the same score
  * `curriculum_order` sorts by) against the is-English label; the AUC
  * machinery is the deliverable, not the model's skill.
  *
  * Scale design: AUC needs a GLOBAL ranking, but the scores are bounded
  * integers (qmilli in [0, 10000]), so ranks come from a cumulative count
  * over the |distinct scores| table — the window runs over at most 10001
  * rows regardless of corpus size, and midranks are exact halves (binary
  * .5s, no float drift). The per-doc pass is one groupBy. A real-valued
  * score would use the packSequences two-level scan instead. */
object Eval {

  /** (doc_id, label, q) — the scored corpus with the boolean label. */
  private def scored(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), (col("lang") === "en").as("label"),
        toks.as("toks"), Text.denseLength(col("text")).as("dense_len"))
      .select(col("doc_id"), col("label"), size(col("toks")).as("n_tokens"),
        (col("dense_len").cast("double") / size(col("toks"))).as("mean_len"),
        (Text.hitCount(col("toks"), Text.stopwords("en")).cast("double") /
          size(col("toks"))).as("stop_ratio"))
      .select(col("doc_id"), col("label"),
        floor(Text.qualityRaw(col("n_tokens"), col("mean_len"),
          col("stop_ratio")) * 1e4 + 0.5).cast("long").as("q"))
  }

  private def scoredSql: String =
    s"""WITH t AS (SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\\s+') AS toks,
             length(regexp_replace(trim(text), '\\s+', '', 'g')) AS dense_len
           FROM documents),
        f AS (SELECT doc_id, lang, len(toks) AS n_tokens,
                CAST(dense_len AS DOUBLE) / len(toks) AS mean_len,
                CAST(len(list_filter(toks, x -> x IN (${TextAnalysis.stopSql("en")})))
                  AS DOUBLE) / len(toks) AS stop_ratio
              FROM t),
        g AS (SELECT doc_id, (lang = 'en') AS label,
                CAST(floor((least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) * 0.5 +
                  least(mean_len / 8.0, 1.0) * 0.3 +
                  (1.0 - least(stop_ratio * 2.0, 1.0)) * 0.2) * 1e4 + 0.5)
                  AS BIGINT) AS q
              FROM f)"""

  /** Ranking AUC of the quality score against the is-English label, by the
    * tie-corrected midrank (Mann-Whitney) formula. */
  val aucQ = QueryDef(
    "eval_auc",
    "ranking AUC (tie-corrected midranks) of the quality score vs is-English",
    Some(scoredSql +
      s""", byq AS (SELECT q, count(*) AS cnt,
                  count(CASE WHEN label THEN 1 END) AS pos
                FROM g GROUP BY q),
        cum AS (SELECT q, cnt, pos,
                  CAST(coalesce(sum(cnt) OVER (ORDER BY q
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_smaller
                FROM byq),
        tot AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
                       CAST(sum(cnt - pos) AS BIGINT) AS nn FROM byq),
        sr AS (SELECT sum(pos * (n_smaller + (cnt + 1) / 2.0)) AS sum_ranks
               FROM cum)
        SELECT tot.np AS n_pos, tot.nn AS n_neg,
               ${Num.sql(
                 "(sr.sum_ranks - tot.np * (tot.np + 1) / 2.0) / (tot.np * tot.nn)",
                 6)} AS auc
        FROM sr CROSS JOIN tot"""),
    (s, dir) => {
      // cached: two consumers (the midrank chain + the class totals) —
      // uncached, the corpus-scale scoring pass runs twice
      val byq = scored(s, dir).groupBy(col("q"))
        .agg(count(lit(1)).as("cnt"), count(when(col("label"), 1)).as("pos"))
        .cache()
      // bounded window: |distinct qmilli| <= 10001 rows at any corpus size
      val w = Window.orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = byq.withColumn("n_smaller",
        coalesce(sum(col("cnt")).over(w), lit(0L)))
      val tot = byq.agg(sum(col("pos")).as("np"),
        sum(col("cnt") - col("pos")).as("nn"))
      cum.agg(sum(col("pos") * (col("n_smaller") + (col("cnt") + 1) / 2.0))
          .as("sum_ranks"))
        .crossJoin(broadcast(tot))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"),
          Num.pround((col("sum_ranks") - col("np") * (col("np") + 1) / 2.0) /
            (col("np") * col("nn")), 6).as("auc"))
    })

  /** Confusion matrix + precision/recall of the thresholded score (predict
    * English when qmilli >= 5000). Exact integer cells; one conditional
    * aggregation pass. */
  val confusionQ = QueryDef(
    "eval_confusion",
    "confusion matrix and precision/recall at the qmilli >= 5000 threshold",
    Some(scoredSql + "\n" +
      s"""SELECT count(CASE WHEN q >= 5000 AND label THEN 1 END) AS tp,
                 count(CASE WHEN q >= 5000 AND NOT label THEN 1 END) AS fp,
                 count(CASE WHEN q < 5000 AND label THEN 1 END) AS fn,
                 count(CASE WHEN q < 5000 AND NOT label THEN 1 END) AS tn,
                 ${Num.sql(
                   "CAST(count(CASE WHEN q >= 5000 AND label THEN 1 END) AS DOUBLE) / " +
                   "greatest(count(CASE WHEN q >= 5000 THEN 1 END), 1)", 6)} AS precision,
                 ${Num.sql(
                   "CAST(count(CASE WHEN q >= 5000 AND label THEN 1 END) AS DOUBLE) / " +
                   "greatest(count(CASE WHEN label THEN 1 END), 1)", 6)} AS recall
         FROM g"""),
    (s, dir) => {
      val pred = col("q") >= 5000
      scored(s, dir).agg(
        count(when(pred && col("label"), 1)).as("tp"),
        count(when(pred && !col("label"), 1)).as("fp"),
        count(when(!pred && col("label"), 1)).as("fn"),
        count(when(!pred && !col("label"), 1)).as("tn"),
        Num.pround(count(when(pred && col("label"), 1)).cast("double") /
          greatest(count(when(pred, 1)), lit(1L)), 6).as("precision"),
        Num.pround(count(when(pred && col("label"), 1)).cast("double") /
          greatest(count(when(col("label"), 1)), lit(1L)), 6).as("recall"))
    })

  /** Confusion matrix of the engine's own `text_langid` heuristic against
    * the ground-truth `lang` column — an eval of a shipped function, not a
    * synthetic model. One grouped count over the per-doc prediction; the
    * matrix is |langs|² rows at any corpus size. */
  val langidConfusionQ = QueryDef(
    "eval_langid_confusion",
    "language-ID heuristic vs ground truth: (actual, predicted) counts",
    Some(s"""WITH t AS (SELECT doc_id, lang,
                               string_split_regex(trim(lower(text)), '\\s+') AS toks
                        FROM documents),
             c AS (SELECT doc_id, lang,
                          len(list_filter(toks, x -> x IN (${TextAnalysis.stopSql("en")}))) AS c_en,
                          len(list_filter(toks, x -> x IN (${TextAnalysis.stopSql("de")}))) AS c_de,
                          len(list_filter(toks, x -> x IN (${TextAnalysis.stopSql("fr")}))) AS c_fr,
                          len(list_filter(toks, x -> x IN (${TextAnalysis.stopSql("es")}))) AS c_es
                   FROM t),
             p AS (SELECT lang AS actual,
                          CASE WHEN c_en + c_de + c_fr + c_es = 0 THEN 'unknown'
                               WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
                               WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
                               WHEN c_fr >= c_es THEN 'fr'
                               ELSE 'es' END AS predicted
                   FROM c)
             SELECT actual, predicted, count(*) AS n
             FROM p GROUP BY 1, 2"""),
    (s, dir) => Tables.documents(s, dir)
      .select(col("lang").as("actual"),
        Text.langId(Text.tokens(col("text"))).as("predicted"))
      .groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n")))

  // ---- ranking metrics over the ANN surface --------------------------------

  /** DCG discount table in exact integer micros: d(r) = round(1e6/log2(r+1)),
    * r = 1..10, plus its prefix sums (the ideal-DCG numerators). Precomputed
    * once here and inlined as LITERALS into both the Spark plan and the
    * DuckDB oracle (the hyperplane-inlining pattern of Similarity.lshOracle),
    * so neither engine evaluates a transcendental at query time: DCG and
    * IDCG are exact integer sums, and the one final division is the same
    * IEEE op on both sides. */
  private val discMicros: Seq[Long] = (1 to 10).map(r =>
    math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)
  private val idealPrefix: Seq[Long] = discMicros.scanLeft(0L)(_ + _).tail

  /** NDCG@10 / MRR@10 / hit counts for the exact ANN ranking, judged by
    * label agreement (a neighbor is "relevant" iff it carries the query's
    * `label`) — the standard offline eval of a retrieval index against a
    * labeled corpus, here eating the engine's own `ann_cosine_topk` ranking.
    *
    * Scale design: the ranking pass is [[Similarity.annBruteForce]] (queries
    * broadcast, corpus scanned once — swap in annLsh/annIvfSqrt candidates for a
    * web-scale corpus; the metric code is ranking-agnostic). Everything
    * after the ranking is |Q|x10 rows, and the ideal-DCG side needs only the
    * per-label corpus totals (|labels| rows, broadcast) — no second corpus
    * pass, no window wider than the top-10 list. */
  val rankMetricsQ = QueryDef(
    "eval_ndcg_mrr",
    "per-query NDCG@10, reciprocal rank and hit counts of the exact cosine " +
      "top-10, relevance = label match",
    Some(s"""WITH e AS (SELECT vec_id, label,
                               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings),
             n AS (SELECT vec_id, label, v,
                          sqrt(${Similarity.dotSql.format("v", "v")}) AS nrm FROM e),
             sims AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                             (c.label = q.label) AS rel,
                             ${Num.sql(Similarity.dotSql.format("q.v", "c.v") +
                               " / (q.nrm * c.nrm)", 6)} AS cosine
                      FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
             ranked AS (SELECT q_id, rel, rank FROM (
                          SELECT q_id, rel,
                                 row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine DESC, vec_id) AS rank
                          FROM sims) WHERE rank <= 10),
             per AS (SELECT q_id,
                            CAST(count(CASE WHEN rel THEN 1 END) AS BIGINT) AS n_rel_10,
                            CAST(coalesce(sum(CASE WHEN rel THEN
                              ([${discMicros.mkString(", ")}])[rank] END), 0)
                              AS BIGINT) AS dcg_u,
                            CAST(coalesce(min(CASE WHEN rel THEN rank END), 0)
                              AS BIGINT) AS first_rel_rank
                     FROM ranked GROUP BY 1),
             tot AS (SELECT a.vec_id AS q_id, CAST(count(*) AS BIGINT) AS n_rel_total
                     FROM e a JOIN e b ON b.label = a.label AND b.vec_id <> a.vec_id
                     WHERE a.vec_id < 5 GROUP BY 1)
             SELECT per.q_id, n_rel_10, coalesce(n_rel_total, 0) AS n_rel_total,
                    first_rel_rank,
                    CASE WHEN first_rel_rank > 0
                         THEN ${Num.sql("1.0 / first_rel_rank", 6)}
                         ELSE 0.0 END AS rr_10,
                    ${Num.sql(
                      "CAST(dcg_u AS DOUBLE) / (CASE WHEN coalesce(n_rel_total, 0) > 0 " +
                      s"THEN ([${idealPrefix.mkString(", ")}])[least(10, n_rel_total)] " +
                      "ELSE 1 END)", 6)} AS ndcg_10
             FROM per LEFT JOIN tot ON tot.q_id = per.q_id"""),
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val lab = e.select(col("vec_id"), col("label"))
      val ranked = Similarity.annBruteForce(e.filter(col("vec_id") < 5), e, 10)
      val rel = ranked
        .join(lab, Seq("vec_id")) // neighbor's label
        .join(broadcast(lab.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"))), Seq("q_id"))
        .select(col("q_id"), col("rank"),
          (col("label") === col("q_label")).as("rel"))
      val per = rel.groupBy(col("q_id")).agg(
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel_10"),
        sum(when(col("rel"), element_at(typedLit(discMicros), col("rank")))
          .otherwise(0L)).as("dcg_u"),
        coalesce(min(when(col("rel"), col("rank"))), lit(0))
          .cast("long").as("first_rel_rank"))
      val qtot = lab.filter(col("vec_id") < 5)
        .join(broadcast(lab.groupBy(col("label"))
          .agg(count(lit(1)).as("n_label"))), Seq("label"))
        .select(col("vec_id").as("q_id"), (col("n_label") - 1L).as("n_rel_total"))
      per.join(broadcast(qtot), Seq("q_id"))
        .select(col("q_id"), col("n_rel_10"), col("n_rel_total"),
          col("first_rel_rank"),
          when(col("first_rel_rank") > 0,
            Num.pround(lit(1.0) / col("first_rel_rank"), 6))
            .otherwise(lit(0.0)).as("rr_10"),
          Num.pround(col("dcg_u").cast("double") /
            when(col("n_rel_total") > 0,
              element_at(typedLit(idealPrefix),
                least(lit(10L), col("n_rel_total")).cast("int")))
              .otherwise(lit(1L)), 6).as("ndcg_10"))
    })

  /** Calibration (reliability) table of the quality score against the
    * is-English label: scores bucket into 10 fixed bins (qmilli // 1000,
    * top edge folded into bin 9), each bin reporting its size, mean
    * predicted probability, and observed positive rate — the table a
    * reliability diagram plots and a recalibration (Platt/isotonic) step
    * consumes. Exact arithmetic: bins are integer division of the bounded
    * integer score, per-bin stats are integer sums with one IEEE division
    * each, so the oracle pins every cell. One groupBy over 10 groups —
    * nothing here grows with corpus size except the map-side pass. */
  val calibrationQ = QueryDef(
    "eval_calibration",
    "10-bin calibration of the quality score vs is-English: n, mean predicted, observed rate per bin",
    Some(scoredSql + s""",
        b AS (SELECT least(q // 1000, 9) AS bin, q, label FROM g)
        SELECT bin, count(*) AS n,
               ${Num.sql("sum(q) / (count(*) * 1e4)", 6)} AS mean_pred,
               ${Num.sql(
                 "CAST(count(CASE WHEN label THEN 1 END) AS DOUBLE) / count(*)",
                 6)} AS pos_rate
        FROM b GROUP BY bin"""),
    (s, dir) => scored(s, dir)
      .select(least(floor(col("q") / 1000), lit(9)).cast("long").as("bin"),
        col("q"), col("label"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        Num.pround(sum(col("q")) / (count(lit(1)) * 1e4), 6).as("mean_pred"),
        Num.pround(count(when(col("label"), 1)).cast("double") /
          count(lit(1)), 6).as("pos_rate")))

  /** Threshold-parameterized precision/recall curve — the PR points a
    * curve plot or operating-point picker consumes: for every DISTINCT
    * score value q, the classifier "predict positive iff score >= q" gets
    * its retrieved count, true positives, precision, and recall. Same
    * scale trick as [[aucQ]]: the cumulative sums run over the
    * |distinct scores| <= 10001-row table (bounded window), never a global
    * per-document ranking; all counts are exact integers with one IEEE
    * division per cell. */
  val prCurveQ = QueryDef(
    "eval_pr_curve",
    "precision/recall at every score threshold (predict positive iff q >= thresh)",
    Some(scoredSql +
      s""", byq AS (SELECT q, count(*) AS cnt,
                  count(CASE WHEN label THEN 1 END) AS pos
                FROM g GROUP BY q),
        cum AS (SELECT q,
                  CAST(sum(cnt) OVER (ORDER BY q DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_ge,
                  CAST(sum(pos) OVER (ORDER BY q DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS tp
                FROM byq),
        tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p FROM byq)
        SELECT q AS q_thresh, n_ge, tp,
               ${Num.sql("CAST(tp AS DOUBLE) / n_ge", 6)} AS precision,
               ${Num.sql("CAST(tp AS DOUBLE) / tot.p", 6)} AS recall
        FROM cum CROSS JOIN tot"""),
    (s, dir) => {
      // cached: two consumers (the threshold sweep + the positive total) —
      // uncached, the corpus-scale scoring pass runs twice
      val byq = scored(s, dir).groupBy(col("q"))
        .agg(count(lit(1)).as("cnt"), count(when(col("label"), 1)).as("pos"))
        .cache()
      val w = Window.orderBy(col("q").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byq.agg(sum(col("pos")).as("p"))
      byq.withColumn("n_ge", sum(col("cnt")).over(w))
        .withColumn("tp", sum(col("pos")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("q").as("q_thresh"), col("n_ge"), col("tp"),
          Num.pround(col("tp").cast("double") / col("n_ge"), 6).as("precision"),
          Num.pround(col("tp").cast("double") / col("p"), 6).as("recall"))
    })

  private val BootB = 32

  /** Poisson-bootstrap confidence interval for the thresholded accuracy —
    * the uncertainty companion to [[confusionQ]]: is a measured eval delta
    * real or resampling noise? The classic bootstrap resamples the corpus
    * with replacement B times, which is undistributable as stated (each
    * replicate is a global multinomial draw); the Poisson bootstrap replaces
    * the draw with an independent per-row Poisson(1) weight, which is
    * embarrassingly parallel and the standard large-scale substitute.
    *
    * Determinism (no RNG): the weight for (doc, replicate) comes from a
    * two-step LCG over integer arithmetic both engines execute identically
    * (all products < 2^62, so no overflow divergence; the high bits are
    * taken before the mod-10⁴ bucket because an LCG's low bits cycle), fed
    * through the Poisson(1) CDF ladder. Replicate accuracies are exact
    * integer-sum ratios; the CI bounds are order statistics (rank 2 and
    * B−1 of B=32 → a ~90% interval), so no summation over doubles exists
    * anywhere.
    *
    * Scale: ONE corpus pass — the per-doc correctness bit is computed once,
    * the ×B explosion happens after scoring, and partial aggregation
    * collapses each partition to ≤B rows before the only shuffle (B groups
    * is not a skew hazard precisely because map-side combine has already
    * reduced the volume to B rows per partition). Everything after is a
    * B-row table. */
  val bootstrapQ = QueryDef(
    "eval_bootstrap_ci",
    "Poisson-bootstrap ~90% CI of thresholded accuracy, 32 deterministic replicates",
    Some(scoredSql + s""",
        c AS (SELECT doc_id,
                (CASE WHEN (q >= 5000) = label THEN 1 ELSE 0 END) AS correct
              FROM g),
        rep AS (SELECT c.doc_id, c.correct, b
                FROM c CROSS JOIN unnest(generate_series(1, $BootB)) AS r(b)),
        hashed AS (SELECT correct, b,
            ((((doc_id * 1000003 + b * 97 + 12345) % 2147483647)
              * 1103515245 + 12345) % 2147483648) AS x1
          FROM rep),
        mixed AS (SELECT correct, b,
            CAST(floor(((x1 * 1103515245 + 12345) % 2147483648) / 1024)
              AS BIGINT) % 10000 AS u
          FROM hashed),
        wtd AS (SELECT correct, b,
            CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
                 WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3
                 WHEN u < 9963 THEN 4 WHEN u < 9994 THEN 5
                 ELSE 6 END AS w
          FROM mixed),
        accs AS (SELECT b,
                   CAST(sum(w * correct) AS DOUBLE)
                     / greatest(sum(w), 1) AS acc_raw,
                   CAST(sum(correct) AS DOUBLE) / count(*) AS point_raw
                 FROM wtd GROUP BY 1),
        ranked AS (SELECT acc_raw,
                     row_number() OVER (ORDER BY acc_raw) AS rn FROM accs)
        SELECT (SELECT ${Num.sql("point_raw", 6)} FROM accs WHERE b = 1)
                 AS acc_point,
               (SELECT ${Num.sql("acc_raw", 6)} FROM ranked WHERE rn = 2)
                 AS ci_lo,
               (SELECT ${Num.sql("acc_raw", 6)} FROM ranked
                  WHERE rn = ${BootB - 1}) AS ci_hi,
               (SELECT count(*) FROM ranked) AS n_replicates"""),
    (s, dir) => {
      val c = scored(s, dir).select(col("doc_id"),
        when((col("q") >= 5000) === col("label"), 1L).otherwise(0L)
          .as("correct"))
      val rep = c.withColumn("b", explode(sequence(lit(1), lit(BootB))))
      val x1 = pmod(pmod(col("doc_id") * lit(1000003L) + col("b") * lit(97L)
        + lit(12345L), lit(2147483647L)) * lit(1103515245L) + lit(12345L),
        lit(2147483648L))
      val u = pmod(floor((x1 * lit(1103515245L) + lit(12345L)) %
        lit(2147483648L) / lit(1024)).cast("long"), lit(10000L))
      val w = when(u < 3679, 0L).when(u < 7358, 1L).when(u < 9197, 2L)
        .when(u < 9810, 3L).when(u < 9963, 4L).when(u < 9994, 5L)
        .otherwise(6L)
      // cached: the B-row replicate table feeds the rank window, both CI
      // order-stat filters, the point row, and the count
      val accs = rep.select(col("b"), col("correct"), w.as("w"))
        .groupBy(col("b"))
        // greatest(.,1): a replicate drawing all-zero weights (prob 0.368^n,
        // real only on toy corpora) would make acc_raw NULL, and the two
        // engines rank NULLs at opposite ends — the guard pins it to 0.0
        .agg((sum(col("w") * col("correct")).cast("double") /
          greatest(sum(col("w")), lit(1L))).as("acc_raw"),
          (sum(col("correct")).cast("double") / count(lit(1)))
            .as("point_raw"))
        .cache()
      // unpartitioned window over exactly B rows — bounded at any corpus size
      val ranked = accs.withColumn("rn",
        row_number().over(Window.orderBy(col("acc_raw"))))
      val pt = accs.filter(col("b") === 1)
        .select(Num.pround(col("point_raw"), 6).as("acc_point"))
      val lo = ranked.filter(col("rn") === 2)
        .select(Num.pround(col("acc_raw"), 6).as("ci_lo"))
      val hi = ranked.filter(col("rn") === BootB - 1)
        .select(Num.pround(col("acc_raw"), 6).as("ci_hi"))
      val nrep = accs.agg(count(lit(1)).as("n_replicates"))
      pt.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .crossJoin(broadcast(nrep))
    })

  val defs: Seq[QueryDef] =
    Seq(aucQ, confusionQ, langidConfusionQ, rankMetricsQ, calibrationQ,
      prCurveQ, bootstrapQ)
}
