package graft.operators

import graft.QueryDef
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series analytics over the event stream — exponential smoothing,
  * autocorrelation, seasonal-naive forecast error, and a binary-segmentation
  * changepoint scan. The monitoring companions to the anomaly reports in
  * [[Analytics]] (events_daily_anomaly / events_daily_mad).
  *
  * Scale design (100 TB of events): every query here starts with ONE
  * data-sized pass — the groupBy(event_type, day) count/sum — after which
  * the series table is |types| x |days| rows (thousands, not billions).
  * The window functions (lags, running sums, ranks) run on that tiny
  * aggregate, partitioned by series key, so no window ever sees
  * event-grain data and no global sort exists anywhere. This is the shape
  * a 1000-executor run wants: the only shuffle that scales with the data
  * is the first partial-aggregated count.
  *
  * Determinism: daily counts are integers (exact in doubles); daily means
  * are pre-rounded via [[Num.pround]] before entering any weighted sum, so
  * both engines chain IDENTICAL IEEE operations; every ranked output ranks
  * on a rounded value with the day string as tiebreak.
  */
object TimeSeries {

  /** 0.7^j as exact decimal literals (7^j / 10^j is exact in base 10) —
    * shared verbatim by the Spark plan and the DuckDB oracle so both
    * engines parse the SAME literal to the SAME double. */
  private val alpha = BigDecimal("0.7")
  private val wLit: IndexedSeq[String] =
    (0 until 10).map(j => alpha.pow(j).bigDecimal.toPlainString)

  /** Truncated (10-term) exponential smoothing of the daily mean event
    * value, per type: ewma_t = Σ_{j<10} 0.7^j·x_{t-j} / Σ_{j<10} 0.7^j,
    * renormalized over the lags that exist near the series head. The
    * 10-term window carries 97% of the untruncated EWMA's mass
    * (1 - 0.7^10) and — unlike the recursive form — is expressible as a
    * fixed lag chain that both engines evaluate left-to-right with
    * identical literals, so it is oracle-exact without recursion. */
  val ewmaQ = QueryDef(
    "ts_ewma",
    "per-type truncated exponential smoothing (alpha=0.3) of daily mean value",
    Some {
      val num = (0 until 10).map { j =>
        val x = if (j == 0) "x" else s"coalesce(x$j, 0)"
        s"$x * ${wLit(j)}"
      }.mkString(" + ")
      val den = ("1.0" +: (1 until 10).map(j =>
        s"CASE WHEN x$j IS NULL THEN 0 ELSE ${wLit(j)} END")).mkString(" + ")
      val lags = (1 until 10).map(j => s"lag(x, $j) OVER w AS x$j").mkString(", ")
      s"""WITH daily AS (
            SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                   ${Num.sql(s"${Num.sqlDsum("value", 6)} / count(*)", 6)} AS x
            FROM events GROUP BY 1, 2),
          lagged AS (
            SELECT event_type, day, x, $lags
            FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
          SELECT event_type, day, ${Num.sql(s"($num) / ($den)", 4)} AS ewma
          FROM lagged"""
    },
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(Num.pround(Num.dsum(col("value"), 6) / count(lit(1)), 6).as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val lagged = (1 until 10).foldLeft(daily) { (df, j) =>
        df.withColumn(s"x$j", lag(col("x"), j).over(w))
      }
      val num = (0 until 10).map { j =>
        val x = if (j == 0) col("x") else coalesce(col(s"x$j"), lit(0))
        x * expr(wLit(j))
      }.reduceLeft(_ + _)
      val den = (expr("1.0").cast("double") +: (1 until 10).map { j =>
        when(col(s"x$j").isNull, lit(0.0)).otherwise(expr(wLit(j)))
      }).reduceLeft(_ + _)
      lagged.select(col("event_type"), col("day"),
        Num.pround(num / den, 4).as("ewma"))
    })

  /** Lag-1/2/3 autocorrelation of the daily count series per type, from
    * raw integer moments (counts and their products stay exact in doubles,
    * so the Pearson r is bit-identical cross-engine before rounding). The
    * lagged pairs come from one window pass + a 3-way union of projections
    * — no self-join of the series against itself. */
  val autocorrQ = QueryDef(
    "ts_autocorr",
    "lag-1..3 Pearson autocorrelation of daily event counts per type",
    Some(s"""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(count(*) AS DOUBLE) AS x
              FROM events GROUP BY 1, 2),
            l AS (
              SELECT event_type, x, lag(x, 1) OVER w AS x1,
                     lag(x, 2) OVER w AS x2, lag(x, 3) OVER w AS x3
              FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
            pairs AS (
              SELECT event_type, 1 AS lag_n, x, x1 AS y FROM l WHERE x1 IS NOT NULL
              UNION ALL
              SELECT event_type, 2, x, x2 FROM l WHERE x2 IS NOT NULL
              UNION ALL
              SELECT event_type, 3, x, x3 FROM l WHERE x3 IS NOT NULL),
            m AS (SELECT event_type, lag_n, CAST(count(*) AS DOUBLE) AS n,
                         sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
                         sum(y*y) AS syy, sum(x*y) AS sxy
                  FROM pairs GROUP BY 1, 2)
            SELECT event_type, lag_n,
                   ${Num.sql(
                     "(n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))",
                     4)} AS r
            FROM m"""),
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val l = daily
        .withColumn("x1", lag(col("x"), 1).over(w))
        .withColumn("x2", lag(col("x"), 2).over(w))
        .withColumn("x3", lag(col("x"), 3).over(w))
      val pairs = (1 to 3).map { j =>
        l.filter(col(s"x$j").isNotNull)
          .select(col("event_type"), lit(j).as("lag_n"),
            col("x"), col(s"x$j").as("y"))
      }.reduce(_ unionByName _)
      pairs.groupBy(col("event_type"), col("lag_n"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("event_type"), col("lag_n"),
          Num.pround((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("r"))
    })

  /** Lagged cross-correlation between every ordered pair of event-type
    * daily-count series ("do purchases follow clicks by a day?") — the
    * bivariate complement of [[autocorrQ]]: Pearson r between series a's
    * count and series b's count lag_n days EARLIER, for lags 0..3. Pairs
    * come from one equi-join of the daily table against its lag-shifted
    * self on the day key (day arithmetic manufactures the join key — no
    * window, no inequality join); moments are exact integer sums so r is
    * bit-identical cross-engine before rounding. The daily table is cached:
    * both join sides read it, and uncached each side would re-run the
    * corpus-scale groupBy. The pair space is |types|² x 4 — bounded by the
    * type vocabulary, never by corpus size. */
  val crossCorrQ = QueryDef(
    "ts_cross_corr",
    "lag-0..3 Pearson cross-correlation between event-type daily series",
    Some(s"""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(count(*) AS DOUBLE) AS x
              FROM events GROUP BY 1, 2),
            lags AS (SELECT CAST(unnest(generate_series(0, 3)) AS INTEGER) AS lag_n),
            p AS (
              SELECT a.event_type AS ta, b.event_type AS tb, l.lag_n,
                     a.x AS x, b.x AS y
              FROM daily a CROSS JOIN lags l
              JOIN daily b ON b.event_type > a.event_type
                AND a.day = b.day + l.lag_n),
            m AS (SELECT ta, tb, lag_n, CAST(count(*) AS DOUBLE) AS n,
                         sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
                         sum(y*y) AS syy, sum(x*y) AS sxy
                  FROM p GROUP BY 1, 2, 3)
            SELECT ta, tb, lag_n,
                   ${Num.sql(
                     "(n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy))",
                     4)} AS r
            FROM m"""),
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
        .cache()
      val a = daily.select(col("event_type").as("ta"),
        col("day").as("aday"), col("x"))
      val b = daily.select(col("event_type").as("tb"),
        col("day").as("bday"), col("x").as("y"))
        .withColumn("lag_n", explode(array((0 to 3).map(lit(_)): _*)))
        .withColumn("aday", expr("date_add(bday, lag_n)"))
      a.join(b, Seq("aday")).filter(col("tb") > col("ta"))
        .groupBy(col("ta"), col("tb"), col("lag_n"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("ta"), col("tb"), col("lag_n"),
          Num.pround((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("r"))
    })

  /** Seasonal-naive (lag-7) forecast error per type: MAE and sMAPE of
    * predicting each day's count by the count one week earlier — the
    * standard no-model baseline every real forecaster is judged against. */
  val seasonalQ = QueryDef(
    "ts_seasonal_error",
    "seasonal-naive lag-7 forecast MAE and sMAPE of daily counts per type",
    Some(s"""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(count(*) AS DOUBLE) AS x
              FROM events GROUP BY 1, 2),
            l AS (SELECT event_type, x,
                         lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
                  FROM daily)
            SELECT event_type, count(*) AS n_scored,
                   ${Num.sql("sum(abs(x - f)) / count(*)", 4)} AS mae,
                   ${Num.sql(s"${Num.sqlQsum("2 * abs(x - f) / (x + f)", 12)} / count(*)",
                     4)} AS smape
            FROM l WHERE f IS NOT NULL GROUP BY 1"""),
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.withColumn("f", lag(col("x"), 7).over(w))
        .filter(col("f").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_scored"),
          // |x-f| is integer-valued (daily counts), so its double sum is
          // exact and order-free as-is; the sMAPE term is a true computed
          // double — quantize-then-sum pins it against summation order
          Num.pround(sum(abs(col("x") - col("f"))) / count(lit(1)), 4).as("mae"),
          Num.pround(Num.qsum(lit(2) * abs(col("x") - col("f")) /
            (col("x") + col("f")), 12) / count(lit(1)), 4).as("smape"))
    })

  /** Single-changepoint scan (binary segmentation step) per type: the day
    * whose before/after split of the daily count series maximizes the
    * absolute difference of segment means. Running and total sums are
    * INTEGER (exact), so each candidate's gap is two exact divisions — the
    * argmax ranks on the rounded gap with the day as tiebreak. At scale
    * the candidate table is |days| rows per series; recursing into the
    * winning segment (full binary segmentation) repeats this same tiny
    * plan on a filtered range. */
  val changepointQ = QueryDef(
    "ts_changepoint",
    "per-type day maximizing |mean_before - mean_after| of daily counts",
    Some(s"""WITH daily AS (
              SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                     count(*) AS c
              FROM events GROUP BY 1, 2),
            r AS (
              SELECT event_type, day, c,
                     sum(c) OVER w AS cum, row_number() OVER w AS i,
                     sum(c) OVER (PARTITION BY event_type) AS tot,
                     count(*) OVER (PARTITION BY event_type) AS nd
              FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
            d AS (
              SELECT event_type, day,
                     ${Num.sql(
                       "abs(CAST(cum AS DOUBLE)/i - CAST(tot - cum AS DOUBLE)/(nd - i))",
                       4)} AS gap
              FROM r WHERE i < nd)
            SELECT event_type, day AS change_day, gap FROM (
              SELECT event_type, day, gap,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY gap DESC, day) AS rk
              FROM d) WHERE rk = 1"""),
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("c"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wAll = Window.partitionBy(col("event_type"))
      val d = daily
        .withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("i", row_number().over(wOrd))
        .withColumn("tot", sum(col("c")).over(wAll))
        .withColumn("nd", count(lit(1)).over(wAll))
        .filter(col("i") < col("nd"))
        .select(col("event_type"), col("day"),
          Num.pround(abs(col("cum").cast("double") / col("i") -
            (col("tot") - col("cum")).cast("double") / (col("nd") - col("i"))), 4)
            .as("gap"))
      d.withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("gap").desc, col("day"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("change_day"), col("gap"))
    })

  /** Additive seasonal decomposition (STL-lite) of the daily count series
    * per type: trend = centered 7-row moving average, seasonal = day-of-week
    * mean of the detrended series, residual = what neither explains. The
    * classical-decomposition shape every seasonal-anomaly monitor starts
    * from; [[seasonalQ]] scores the no-model forecast, this explains WHERE
    * the seasonality lives.
    *
    * Determinism: instead of averaging doubles (whose summation order is
    * engine- and partition-dependent), every aggregate stays INTEGER until
    * the final division — detrended_t is carried as d7 = 7·c_t − Σ₇c
    * (exact), the seasonal numerator is Σ d7 over the (type, dow) group
    * (exact), and trend/seasonal/resid are single exact-integer divisions
    * both engines evaluate identically. dow is day-arithmetic
    * ((day − 1970-01-04) mod 7, anchored on a Sunday), not a locale
    * function, so both engines agree by construction.
    *
    * Scale: one event-grain aggregation, then windows/joins on the
    * |types|×|days| series table; the seasonal profile is |types|×7 rows,
    * broadcast back. Head/tail days without a full 7-row window are
    * excluded (nw = 7), matching the classical definition. */
  val stlQ = QueryDef(
    "ts_stl_decompose",
    "additive trend/seasonal/residual decomposition of daily counts per type",
    Some(s"""WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
              FROM events GROUP BY 1, 2),
            w AS (
              SELECT event_type, day, c,
                     sum(c) OVER win AS sum7, count(*) OVER win AS nw
              FROM daily WINDOW win AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            t AS (
              SELECT event_type, day, sum7, 7*c - sum7 AS d7,
                     (day - DATE '1970-01-04') % 7 AS dow
              FROM w WHERE nw = 7),
            s AS (
              SELECT event_type, dow, CAST(sum(d7) AS DOUBLE) AS snum,
                     CAST(count(*) AS DOUBLE) AS sn
              FROM t GROUP BY 1, 2)
            SELECT t.event_type, t.day,
                   ${Num.sql("CAST(t.sum7 AS DOUBLE) / 7.0", 4)} AS trend,
                   ${Num.sql("s.snum / (7.0 * s.sn)", 4)} AS seasonal,
                   ${Num.sql(
                     "CAST(t.d7 AS DOUBLE) / 7.0 - s.snum / (7.0 * s.sn)",
                     4)} AS resid
            FROM t JOIN s ON s.event_type = t.event_type AND s.dow = t.dow"""),
    (s, dir) => stlDecompose(Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("c"))))

  /** [[stlQ]] over an arbitrary integer-valued daily series table
    * (event_type, day DATE, c BIGINT) — the series source is pluggable so
    * planted-series properties (pure weekly signal → residual EXACTLY zero)
    * can pin the arithmetic. */
  def stlDecompose(daily: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    // cached: both the output rows and the seasonal profile consume this
    // |types|x|days| table — uncached, the event-grain aggregation and
    // the window pass would run once per consumer (the multi-consumer
    // scan audit pattern, BENCH_NOTES round 9)
    val t = daily
      .withColumn("sum7", sum(col("c")).over(win))
      .withColumn("nw", count(lit(1)).over(win))
      .filter(col("nw") === 7)
      .select(col("event_type"), col("day"), col("sum7"),
        (lit(7) * col("c") - col("sum7")).as("d7"),
        pmod(datediff(col("day"), to_date(lit("1970-01-04"))), lit(7))
          .as("dow"))
      .cache()
    val season = t.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("d7")).cast("double").as("snum"),
        count(lit(1)).cast("double").as("sn"))
    t.join(broadcast(season), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"),
        Num.pround(col("sum7").cast("double") / 7.0, 4).as("trend"),
        Num.pround(col("snum") / (lit(7.0) * col("sn")), 4).as("seasonal"),
        Num.pround(col("d7").cast("double") / 7.0 -
          col("snum") / (lit(7.0) * col("sn")), 4).as("resid"))
  }

  /** Holt's linear-trend exponential smoothing per type (α = β = 1/2):
    * level/trend recursion over the daily count series, reporting the final
    * state and the 7-day-ahead forecast l + 7·b — the simplest forecaster
    * that beats seasonal-naive on trending series, and the genuinely
    * SEQUENTIAL recurrence the truncated-window [[ewmaQ]] deliberately
    * avoids. Here the recursion is embraced: the series table is
    * |types|×|days| (thousands of rows), so each type's series packs into
    * one sorted array and folds left in a single `aggregate` higher-order
    * function — per-key state iteration WITHOUT mapGroups, streaming state,
    * or a driver loop, and the corpus-sized pass remains the one groupBy.
    * The oracle replays the identical fold as a recursive CTE.
    *
    * Determinism: counts are integers and both smoothing constants are 1/2
    * (exact dyadic), so every intermediate is the SAME IEEE double in both
    * engines — the fold and the CTE chain identical multiply/add sequences;
    * rounding happens once, at the end. Init: l₁ = x₁, b₁ = 0 (the
    * data-free choice both sides spell identically). */
  val holtQ = QueryDef(
    "ts_holt_linear",
    "Holt linear-trend smoothing (alpha=beta=0.5) of daily counts per type",
    Some(s"""WITH RECURSIVE daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(count(*) AS DOUBLE) AS x
              FROM events GROUP BY 1, 2),
            idx AS (
              SELECT event_type, x,
                     row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
                     count(*) OVER (PARTITION BY event_type) AS nd
              FROM daily),
            rec AS (
              SELECT event_type, i, nd, x AS l, CAST(0.0 AS DOUBLE) AS b
              FROM idx WHERE i = 1
              UNION ALL
              SELECT d.event_type, d.i, d.nd,
                     0.5*d.x + 0.5*(r.l + r.b) AS l,
                     0.5*((0.5*d.x + 0.5*(r.l + r.b)) - r.l) + 0.5*r.b AS b
              FROM rec r JOIN idx d
                ON d.event_type = r.event_type AND d.i = r.i + 1)
            SELECT event_type, CAST(nd AS BIGINT) AS n_days,
                   ${Num.sql("l", 4)} AS level,
                   ${Num.sql("b", 4)} AS trend,
                   ${Num.sql("l + 7*b", 4)} AS forecast_7
            FROM rec WHERE i = nd"""),
    (s, dir) => holtLinear(Tables.events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).cast("double").as("x"))))

  /** [[holtQ]] over an arbitrary daily series table (event_type, day, x
    * DOUBLE) — pluggable source; on a CONSTANT series the fold is exact
    * (level = the constant, trend = 0, every intermediate dyadic). */
  def holtLinear(daily: DataFrame): DataFrame =
    daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("s"))
      .withColumn("hb", expr(
        """aggregate(
             slice(s, 2, greatest(size(s) - 1, 0)),
             named_struct('l', element_at(s, 1).x, 'b', CAST(0.0 AS DOUBLE)),
             (acc, e) -> named_struct(
               'l', 0.5D * e.x + 0.5D * (acc.l + acc.b),
               'b', 0.5D * ((0.5D * e.x + 0.5D * (acc.l + acc.b)) - acc.l)
                    + 0.5D * acc.b))"""))
      .select(col("event_type"), size(col("s")).cast("long").as("n_days"),
        Num.pround(col("hb.l"), 4).as("level"),
        Num.pround(col("hb.b"), 4).as("trend"),
        Num.pround(col("hb.l") + lit(7) * col("hb.b"), 4).as("forecast_7"))

  val defs: Seq[QueryDef] = Seq(ewmaQ, autocorrQ, crossCorrQ, seasonalQ,
    changepointQ, stlQ, holtQ)
}
