package graft.operators

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Num
import graft.sources.Tables

/** Trailing-window aggregates over a range join, asked four ways. Each is
  * planned by [[graft.plans.RewriteRangeAggToPrefix]] as a distributed
  * prefix-aggregate scan with no pair materialization; the rule's scaladoc
  * holds the algorithm and its correctness argument. */
object PrefixAgg {

  /** The range_join_binned question as a DataFrame: per purchase, count AND
    * value-sum of signups in the preceding hour. Written as the plain join
    * plus group-by; the rule collapses it to the prefix plan, so wall-clock
    * stays independent of pair multiplicity where the join twins grow with
    * density squared. */
  val rangeAggPrefixQ = QueryDef(
    "range_agg_prefix",
    "trailing-window count+sum via distributed prefix aggregates (no pair materialization)",
    Some(s"""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type, value FROM events)
             SELECT a.event_id, count(*) AS n_signups_1h,
                    ${Num.sql("CAST(sum(CAST(floor(b.value * 1e2 + 0.5) AS BIGINT)) AS DOUBLE) / 1e2", 2)}
                      AS sum_value_1h
             FROM (SELECT * FROM e WHERE event_type = 'purchase') a
             JOIN (SELECT * FROM e WHERE event_type = 'signup') b
               ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
             GROUP BY 1"""),
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts_us"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("ts_us").as("s_ts_us"),
          floor(col("value") * 100d + 0.5d).cast("long").as("cents"))
      purchases
        .join(signups, col("s_ts_us") >= col("ts_us") - 3600000000L &&
          col("s_ts_us") <= col("ts_us"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_signups_1h"),
          Num.pround(sum(col("cents")).cast("double") / 100d, 2).as("sum_value_1h"))
    })

  /** The SAME question as NAIVE SQL — count(*) AND an integral sum over a
    * raw inequality join + GROUP BY; [[graft.plans.RewriteRangeAggToPrefix]]
    * supplies the prefix plan automatically (it runs ahead of the binning
    * rule in [[graft.Graft.optimizerRules]], so the aggregate collapses
    * before the join would be binned). Pins the whole rewrite stack: a user's untouched SQL gets the
    * output-independent plan, sum included (exact Long prefix sums, NULL for
    * all-NULL windows — the spec forces that leg on synthetic frames). */
  val rangeAggAutoQ = QueryDef(
    "range_agg_auto",
    "naive-SQL trailing-window count+sum, auto-collapsed to the prefix plan by the optimizer",
    Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type, value FROM events)
            SELECT a.event_id, count(*) AS n_signups_1h,
                   CAST(sum(CAST(floor(b.value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
                     AS sum_cents_1h
            FROM (SELECT * FROM e WHERE event_type = 'purchase') a
            JOIN (SELECT * FROM e WHERE event_type = 'signup') b
              ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
            GROUP BY 1"""),
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
        .createOrReplaceTempView("rap_events")
      s.sql("""SELECT a.event_id, count(*) AS n_signups_1h,
                      sum(CAST(floor(b.value * 1e2 + 0.5) AS BIGINT)) AS sum_cents_1h
               FROM (SELECT * FROM rap_events WHERE event_type = 'purchase') a
               JOIN (SELECT * FROM rap_events WHERE event_type = 'signup') b
                 ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
               GROUP BY 1""")
    })

  /** The avg leg of the rule: naive SQL `avg(integral)` over the trailing
    * window, auto-collapsed to exact-Long-window-sum / non-null-count with
    * ONE final IEEE division (order-free — Spark's native Average carries a
    * summation-order-dependent double buffer; the collapsed form is the Num
    * discipline applied to avg). The rounding wrapper here deliberately
    * sits in the SAME query: CollapseProject folds it into the Aggregate's
    * output list before the rule runs, so this entry also pins the rule's
    * expression-TREE matcher (wrapped aggregates collapse, not just bare
    * leaves). Oracle spells the identical exact-sum/count/round ops. */
  val rangeAggAvgQ = QueryDef(
    "range_agg_avg",
    "naive-SQL trailing-window avg(integral), auto-collapsed: exact prefix sum / count, one division",
    Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type, value FROM events)
            SELECT a.event_id, count(*) AS n_signups_1h,
                   floor((CAST(sum(CAST(floor(b.value * 1e2 + 0.5) AS BIGINT)) AS DOUBLE)
                          / count(CAST(floor(b.value * 1e2 + 0.5) AS BIGINT))) * 1e4 + 0.5) / 1e4
                     AS avg_cents_1h
            FROM (SELECT * FROM e WHERE event_type = 'purchase') a
            JOIN (SELECT * FROM e WHERE event_type = 'signup') b
              ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
            GROUP BY 1"""),
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
        .createOrReplaceTempView("rav_events")
      s.sql("""SELECT a.event_id, count(*) AS n_signups_1h,
                      floor(avg(CAST(floor(b.value * 1e2 + 0.5) AS BIGINT)) * 1e4 + 0.5) / 1e4
                        AS avg_cents_1h
               FROM (SELECT * FROM rav_events WHERE event_type = 'purchase') a
               JOIN (SELECT * FROM rav_events WHERE event_type = 'signup') b
                 ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
               GROUP BY 1""")
    })

  /** The TIMESTAMP spelling of the auto-collapse: the window is written the
    * way a SQL user writes it — `b.ts BETWEEN a.ts - INTERVAL '1' HOUR AND
    * a.ts` on the TIMESTAMP column, no manual unix_micros anywhere — and
    * the rule supplies the same flat prefix plan via the monotone
    * `unix_micros` view (r14; RangeAggRuleSpec pins plan + rows, and
    * RangeRuleSpec pins that pair-EMITTING timestamp SQL still bins).
    * Oracle compares on epoch_us deliberately: DuckDB reads the parquet
    * column at NANOsecond resolution while the engine's documented view is
    * µs-truncated (TESTDATA.md), so an INTERVAL comparison in DuckDB would
    * test the oracle's timestamp width, not the rewrite — epoch_us is the
    * shared µs grid both engines agree on, and unix_micros is a monotone
    * bijection on it. */
  val rangeAggTsAutoQ = QueryDef(
    "range_agg_ts_auto",
    "naive TIMESTAMP-INTERVAL trailing-window count+sum, auto-collapsed to the prefix plan",
    Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type, value FROM events)
            SELECT a.event_id, count(*) AS n_signups_1h,
                   CAST(sum(CAST(floor(b.value * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
                     AS sum_cents_1h
            FROM (SELECT * FROM e WHERE event_type = 'purchase') a
            JOIN (SELECT * FROM e WHERE event_type = 'signup') b
              ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
            GROUP BY 1"""),
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .createOrReplaceTempView("rat_events")
      s.sql("""SELECT a.event_id, count(*) AS n_signups_1h,
                      sum(CAST(floor(b.value * 1e2 + 0.5) AS BIGINT)) AS sum_cents_1h
               FROM (SELECT * FROM rat_events WHERE event_type = 'purchase') a
               JOIN (SELECT * FROM rat_events WHERE event_type = 'signup') b
                 ON b.ts BETWEEN a.ts - INTERVAL '1' HOUR AND a.ts
               GROUP BY 1""")
    })

  val defs: Seq[QueryDef] =
    Seq(rangeAggPrefixQ, rangeAggAutoQ, rangeAggAvgQ, rangeAggTsAutoQ)
}
