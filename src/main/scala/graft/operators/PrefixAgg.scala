package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Num
import graft.sources.Tables

/** Trailing-window aggregation WITHOUT pair materialization — the
  * output-independent form of the range join when the consumer is a
  * decomposable aggregate.
  *
  * Cost law this retires: [[Advanced.rangeJoinBinned]] (and the
  * [[graft.plans.BlockRangeJoins]] auto-rewrite) are output-bound — the
  * 2-bin candidate set is within 2x of the true matching pairs, and pairs
  * grow with density squared (BENCH_NOTES: the range_join pair carries the
  * sf30 density family at 152/130 s precisely because it EMITS every pair
  * before counting them). That is optimal when the caller wants the pairs.
  * Both catalog range-join entries, though, end in `GROUP BY a.id` with
  * count/sum — and a trailing-window count/sum over a [ts-W, ts] window is
  * a DIFFERENCE OF PREFIX AGGREGATES:
  *
  *   agg(b : b.ts in [a.ts-W, a.ts]) = F(a.ts) - F(a.ts - W - 1)
  *
  * where F(t) = agg over all right rows with ts <= t. F at arbitrary probe
  * points is one distributed prefix scan: union right rows with 2 probe
  * rows per left row, range-partition + sort by (ts, kind) — kind orders
  * right rows BEFORE probes at equal ts, making the upper bound inclusive —
  * then a per-partition running aggregate plus an exclusive prefix of the
  * per-partition totals (a |partitions|-row driver exchange). Total cost
  * Theta((|L|+|R|) log) with ONE range shuffle and NO dependence on pair
  * multiplicity: at the next density decade this plan's wall-clock is flat
  * where the join's doubles twice.
  *
  * Correctness by construction:
  *   - range partitioning on the full sort key (ts, kind) is monotone:
  *     every row ordered before a probe lands in the same or an earlier
  *     partition, so offset + local scan sees exactly the rows <= probe;
  *     ties never straddle a boundary in a way the offsets miss;
  *   - sums run in exact integer cents (the repo's Num discipline:
  *     `floor(value*100 + 0.5)` is the shared IEEE grid both engines
  *     compute bit-identically; Long prefix sums are order-free), with
  *     Math.addExact so overflow is loud, never silent. Headroom: cents
  *     prefixes overflow Long only past ~9e16 value-units of corpus mass —
  *     far beyond 100 TB of this schema; the documented escalation is a
  *     two-limb (high/low) accumulator, not doubles.
  *   - left rows with an empty window yield F-F = 0 and are filtered,
  *     matching the INNER-join oracle's absent rows.
  *
  * At 100 TB: one range shuffle of |L|+|R| rows, 32-and-up partitions
  * sized by the range sampler, a |partitions|-row collect, and a final
  * group-by on the left id (pre-aggregated: each id contributes exactly 2
  * probe rows, so the last shuffle is 2|L| rows regardless of density).
  */
object PrefixAgg {

  /** Per left row (id, ts): count and exact-cents sum of right rows with
    * rightTs in [ts - windowUs, ts]. Returns (id, n, cents).
    *
    * PRECONDITION: leftTs, rightTs and rightCents must be non-null — this
    * fixed-shape twin packs the union into a primitive-tuple encoder, which
    * cannot carry the join's NULL semantics (a NULL-cents right row should
    * count but not sum; a NULL ts should match nothing). Violations fail
    * FAST at action time with a message naming the column, instead of the
    * encoder NPE they would otherwise raise. NULL-bearing inputs belong on
    * the [[graft.plans.RewriteRangeAggToPrefix]] rule path, which implements
    * the full SQL NULL semantics via signed-probe cancellation. */
  def trailingCountSum(spark: SparkSession, left: DataFrame, leftId: String,
      leftTs: String, right: DataFrame, rightTs: String, rightCents: String,
      windowUs: Long): DataFrame = {
    import spark.implicits._
    def nonNull(c: Column, what: String): Column =
      when(c.isNull, raise_error(lit(
        s"PrefixAgg.trailingCountSum: NULL $what — this fixed-shape twin " +
          "requires non-null timestamps/cents; use the " +
          "RewriteRangeAggToPrefix rule path for NULL-bearing inputs")))
        .otherwise(c)
    // kind 0 = right row (counts), kind 1 = probe (reads the running F).
    val rrows = right.select(
      nonNull(col(rightTs), s"right ts '$rightTs'").as("t"), lit(0).as("kind"),
      lit(0L).as("id"), lit(0L).as("sign"),
      nonNull(col(rightCents), s"right cents '$rightCents'").as("cents"))
    val lpts = left.select(col(leftId).as("id"),
      nonNull(col(leftTs), s"left ts '$leftTs'").as("t"))
    val probes = lpts.select(col("t"), lit(1).as("kind"), col("id"),
        lit(1L).as("sign"), lit(0L).as("cents"))
      .unionAll(lpts.select((col("t") - windowUs - 1L).as("t"),
        lit(1).as("kind"), col("id"), lit(-1L).as("sign"), lit(0L).as("cents")))
    val np = spark.sessionState.conf.numShufflePartitions
    val ranged = rrows.unionAll(probes)
      .repartitionByRange(np, col("t"), col("kind"))
      .sortWithinPartitions(col("t"), col("kind"))
      .as[(Long, Int, Long, Long, Long)]
    // Both jobs hang off the SAME RDD so the range shuffle's map output is
    // computed once (the scheduler skips the shared ShuffleMapStage on the
    // second action); only the partition-local sort re-runs.
    val rdd = ranged.rdd
    // pass 1: per-partition right-row totals -> exclusive prefix offsets
    val totals = rdd.mapPartitionsWithIndex { (i, it) =>
      var n = 0L; var c = 0L
      it.foreach { r =>
        if (r._2 == 0) { n += 1L; c = Math.addExact(c, r._5) }
      }
      Iterator((i, n, c))
    }.collect().sortBy(_._1)
    val offN = new Array[Long](np); val offC = new Array[Long](np)
    var accN = 0L; var accC = 0L
    totals.foreach { case (i, n, c) =>
      offN(i) = accN; offC(i) = accC
      accN = Math.addExact(accN, n); accC = Math.addExact(accC, c)
    }
    val bc = spark.sparkContext.broadcast((offN, offC))
    // pass 2: running F within each partition, emitted at the probes
    val deltas = rdd.mapPartitionsWithIndex { (i, it) =>
      var n = bc.value._1(i); var c = bc.value._2(i)
      it.flatMap { r =>
        if (r._2 == 0) {
          n += 1L; c = Math.addExact(c, r._5); Iterator.empty
        } else Iterator((r._3, r._4 * n, r._4 * c))
      }
    }.toDF("id", "dn", "dcents")
    deltas.groupBy(col("id"))
      .agg(sum(col("dn")).as("n"), sum(col("dcents")).as("cents"))
      .filter(col("n") > 0)
  }

  /** The range_join_binned query re-asked of the prefix path: per purchase,
    * count AND value-sum of signups in the preceding hour. Identical row
    * set to `range_join_binned` (plus the sum column); the point of the
    * twin is the PLAN — wall-clock independent of pair multiplicity where
    * the join twins grow with density squared. */
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
      import org.apache.spark.sql.types._
      // Deferred: the prefix build runs driver jobs (the per-partition
      // totals collect), which must fire on first ACTION, not at view
      // registration — same contract as the dedup_clusters fixpoint.
      graft.plans.Deferred.dataFrame(s, StructType(Seq(
        StructField("event_id", LongType), StructField("n_signups_1h", LongType),
        StructField("sum_value_1h", DoubleType))), () => {
        val e = Tables.events(s, dir)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_type"), col("value"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("ts_us"))
        val signups = e.filter(col("event_type") === "signup")
          .select(col("ts_us").as("s_ts_us"),
            floor(col("value") * 100d + 0.5d).cast("long").as("cents"))
        trailingCountSum(s, purchases, "event_id", "ts_us",
            signups, "s_ts_us", "cents", 3600000000L)
          .select(col("id").as("event_id"), col("n").as("n_signups_1h"),
            Num.pround(col("cents").cast("double") / 100d, 2).as("sum_value_1h"))
      })
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
