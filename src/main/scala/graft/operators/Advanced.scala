package graft.operators

import graft.QueryDef
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced relational surface: session windows, as-of joins, grouping sets,
  * pivot, scalar subqueries, set union. These are the operators a training-
  * data pipeline leans on hardest at scale, so each is written in its
  * distributed-correct form and oracled like everything else.
  */
object Advanced {

  /** Distributed as-of join (nearest earlier match per key), composed from
    * built-ins per the custom-operator preference order (compose > custom
    * plan): union both sides with a side marker, one shuffle+sort per key,
    * then `last(..., ignoreNulls)` over an unbounded-preceding frame carries
    * the most recent right-side row forward onto each left row. O(n log n)
    * per key, no range explosion, no driver loop — the canonical Spark
    * as-of shape. Ties (same timestamp) resolve right-side-first, so
    * "at or before" is inclusive.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
      carry: Seq[String]): DataFrame = {
    val l = left.withColumn("__side", lit(1))
    val r = right.withColumn("__side", lit(0))
    val cols = (l.columns.toSet ++ r.columns.toSet).toSeq.sorted
    def conform(df: DataFrame) = df.select(cols.map(c =>
      if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
    val u = conform(l).unionByName(conform(r))
    val w = Window.partitionBy(col(key))
      .orderBy(col(time), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = carry.foldLeft(u) { (df, c) =>
      df.withColumn(s"asof_$c",
        last(when(col("__side") === 0, col(c)), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1)
      .select(left.columns.map(col) ++ carry.map(c => col(s"asof_$c")): _*)
  }

  /** As-of query: for every purchase, the user's most recent signup at or
    * before it (nulls when none yet). */
  val asofQ = QueryDef(
    "asof_join_signup",
    "as-of join: latest signup at-or-before each purchase, per user",
    Some("""WITH u AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
                     CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END AS side
              FROM events WHERE event_type IN ('signup', 'purchase')),
            w AS (SELECT user_id, t, event_id, side,
                    last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
                      OVER (PARTITION BY user_id ORDER BY t, side
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_event_id,
                    last_value(CASE WHEN side = 0 THEN epoch_us(t) END IGNORE NULLS)
                      OVER (PARTITION BY user_id ORDER BY t, side
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_ts_us
                  FROM u)
            SELECT event_id, user_id, epoch_us(t) AS purchase_ts_us,
                   signup_event_id, signup_ts_us
            FROM w WHERE side = 1"""),
    (s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_ts_us"), col("ts"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          col("event_id").as("signup_event_id"),
          unix_micros(col("ts")).as("signup_ts_us"))
      asofJoin(purchases, signups, "user_id", "ts",
        Seq("signup_event_id", "signup_ts_us"))
        .select(col("event_id"), col("user_id"), col("purchase_ts_us"),
          col("asof_signup_event_id").as("signup_event_id"),
          col("asof_signup_ts_us").as("signup_ts_us"))
    })

  /** Session windows: per-user activity sessions closed by a >30-minute gap.
    * Spark merges events exactly gap-distance apart (verified), so the
    * oracle's gaps-and-islands break condition is strict `>`. */
  val sessionQ = QueryDef(
    "session_windows",
    "per-user session windows (30-minute inactivity gap)",
    Some(s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
             x AS (SELECT *, CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                                    OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                                       > INTERVAL 30 MINUTE
                                  THEN 1 ELSE 0 END AS brk FROM e),
             g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x)
             SELECT user_id, CAST(floor(epoch(min(t))) AS BIGINT) AS session_start,
                    count(*) AS n, ${Num.sqlSum("value", 6, 4)} AS sum_value
             FROM g GROUP BY user_id, sid"""),
    (s, dir) => Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), Num.psum(col("value"), 6, 4).as("sum_value"))
      .select(unix_timestamp(col("session_window.start")).as("session_start"),
        col("user_id"), col("n"), col("sum_value")))

  /** GROUPING SETS — explicit set list (finer than rollup/cube). */
  val groupingSetsQ = QueryDef(
    "grouping_sets_acctbal",
    "GROUP BY GROUPING SETS over supplier balances",
    Some(s"""SELECT r.r_name, n.n_name, count(*) AS n_sup,
                    ${Num.sqlSum("s.s_acctbal", 6, 2)} AS acctbal
             FROM supplier s
             JOIN nation n ON s.s_nationkey = n.n_nationkey
             JOIN region r ON n.n_regionkey = r.r_regionkey
             GROUP BY GROUPING SETS ((r.r_name), (r.r_name, n.n_name), ())"""),
    (s, dir) => Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name")), Seq(col("r_name"), col("n_name")), Seq()),
        col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_sup"), Num.psum(col("s_acctbal"), 6, 2).as("acctbal")))

  /** PIVOT — event counts per user by type, dense zeros like the oracle's
    * FILTER aggregates. */
  val pivotQ = QueryDef(
    "pivot_event_counts",
    "pivot events into per-type count columns",
    Some("""SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'view') AS view,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'error') AS error
            FROM events GROUP BY user_id"""),
    (s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val p = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    })

  /** Scalar subquery via the SQL entry point (Catalyst rewrites it to a
    * broadcast of the single-row aggregate). */
  val scalarSubQ = QueryDef(
    "scalar_subquery_avg",
    "rows above the table-wide average (scalar subquery)",
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)"""),
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      s.sql("""SELECT o_orderkey, o_totalprice FROM graft_orders
               WHERE o_totalprice > (SELECT avg(o_totalprice) FROM graft_orders)""")
    })

  /** UNION (distinct) — completes the set-op family with except/intersect. */
  val unionQ = QueryDef(
    "setop_union",
    "UNION (distinct) of two filtered branches",
    Some("""SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            UNION
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'"""),
    (s, dir) => {
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .union(o.filter(col("o_orderstatus") === "P").select(col("o_custkey")))
        .distinct()
    })

  /** Schema-evolution union: two writer generations of the same table (the
    * old one lacks `event_type`, the new one lacks `value`) merged by COLUMN
    * NAME with nulls filling the gaps — `unionByName(allowMissingColumns)`,
    * the schema-drift read path a long-lived 100 TB table needs (positional
    * UNION would silently misalign columns). Narrow per-row op, no shuffle. */
  val unionByNameQ = QueryDef(
    "setop_union_by_name",
    "union of two schema generations by name, missing columns null-filled",
    Some("""SELECT event_id, user_id, value, NULL AS event_type
            FROM events WHERE event_id % 2 = 0
            UNION ALL BY NAME
            SELECT event_id, user_id, NULL AS value, event_type
            FROM events WHERE event_id % 2 = 1"""),
    (s, dir) => {
      val e = Tables.events(s, dir)
      val oldGen = e.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("value"))
      val newGen = e.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("event_type"))
      oldGen.unionByName(newGen, allowMissingColumns = true)
    })

  /** The same as-of query through the custom Catalyst operator
    * (graft.plans.AsOfJoinPlan → AsOfJoinExec) — identical semantics,
    * identical oracle, different physical plan (co-partitioned sort-merge
    * instead of union+window). */
  val asofCustomQ: QueryDef = QueryDef(
    "asof_join_custom_plan",
    "as-of join via the custom LogicalPlan/Strategy/Exec ladder",
    asofQ.oracle,
    (s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("purchase_ts_us"), col("ts"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"),
          col("event_id").as("signup_event_id"),
          unix_micros(col("ts")).as("signup_ts_us"))
      graft.plans.AsOf.join(purchases, signups, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("purchase_ts_us"),
          col("signup_event_id_r").as("signup_event_id"),
          col("signup_ts_us_r").as("signup_ts_us"))
    })

  /** Exact interpolated percentiles — Spark's `percentile` and DuckDB's
    * `quantile_cont` share the (n-1)*p linear-interpolation definition. */
  val percentileQ = QueryDef(
    "percentiles_by_type",
    "exact median and p90 per group",
    Some(s"""SELECT event_type,
                    ${Num.sql("quantile_cont(value, 0.5)", 4)} AS p50,
                    ${Num.sql("quantile_cont(value, 0.9)", 4)} AS p90
             FROM events GROUP BY event_type"""),
    (s, dir) => Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(Num.pround(expr("percentile(value, 0.5)"), 4).as("p50"),
        Num.pround(expr("percentile(value, 0.9)"), 4).as("p90")))

  /** Typed Aggregator (UDAF) — top-5 values per group via
    * [[graft.functions.TopKAgg]]; the oracle is the equivalent row_number
    * top-N (identical value multiset under ties). */
  val topkAggQ = QueryDef(
    "topk_aggregator",
    "typed Aggregator UDAF: top-5 values per group",
    Some("""SELECT event_type, rank, v FROM (
              SELECT event_type, value AS v,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY value DESC, event_id) AS rank
              FROM events) WHERE rank <= 5"""),
    (s, dir) => Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKAgg.top_k(col("value"), 5).as("vs"))
      .select(col("event_type"), posexplode(col("vs")).as(Seq("pos", "v")))
      .select(col("event_type"), (col("pos") + 1).as("rank"), col("v")))

  /** Typed per-group computation (`groupByKey.mapGroups`) — the escape hatch
    * for per-entity sequence logic that aggregates can't express. Computes
    * each user's longest inter-event gap; the oracle is the equivalent
    * lag-window SQL, so the typed path is hash-pinned too. One shuffle on the
    * key; group iterators stream (state = one previous timestamp). */
  val mapGroupsQ = QueryDef(
    "mapgroups_longest_gap",
    "typed mapGroups: longest inter-event gap per user (window-SQL oracle)",
    Some("""SELECT user_id, max(gap_us) AS longest_gap_us, count(*) + 1 AS n_events
            FROM (SELECT user_id,
                         epoch_us(CAST(ts AS TIMESTAMP)) -
                           lag(epoch_us(CAST(ts AS TIMESTAMP)))
                             OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
                           AS gap_us
                  FROM events)
            WHERE gap_us IS NOT NULL
            GROUP BY user_id"""),
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .mapGroups { (uid, it) =>
          // sort by (ts, event_id) to mirror the oracle's window order
          val times = it.map(r => (r._2, r._3)).toArray.sorted.map(_._1)
          val gap = times.sliding(2).collect { case Array(a, b) => b - a }
            .foldLeft(0L)(math.max)
          (uid, gap, times.length.toLong)
        }
        .toDF("user_id", "longest_gap_us", "n_events")
        .filter(col("n_events") > 1)
    })

  /** Range (interval) join via time binning — the scale path for inequality
    * joins. A naive `b.ts BETWEEN a.ts - w AND a.ts` join has no equi-key, so
    * Spark would plan a broadcast-nested-loop over the whole right side.
    * Binning time into `window`-sized buckets gives an equi-key: a right row
    * in bin b can only match left rows in bins {b, b+1}, so the left side
    * explodes into (at most) two probe bins and the join hashes on bin id.
    * The exact range predicate then filters the 2-bin candidate set. Shuffle
    * volume is 2|L| + |R| instead of |L|·|R| comparisons. */
  def rangeJoinBinned(left: DataFrame, right: DataFrame,
      lTimeUs: String, rTimeUs: String, windowUs: Long): DataFrame = {
    val lBin = expr(s"$lTimeUs div ${windowUs}L")
    val probes = explode(array(lBin, lBin - 1)).as("probe_bin")
    // r17 (guide §3.1): the bin key's cardinality is SEMANTIC (time span /
    // window), so it stays ~constant while rows grow with scale — exactly
    // the few-key regime where AQE's SMJ→SHJ rewrite builds huge per-key
    // hash chains and loses to the merge path (r16 sf10: 18.1→29.0 s).
    // Pin merge past the probe's rows-per-key bar; the probe's broadcast
    // gates keep the sub-10MB (sf0.1/sf1) plans broadcasting untouched.
    val pm = graft.plans.ProbeUtil.preferMergeFewKeys(left, right,
      expr(s"$lTimeUs div ${windowUs}L"), expr(s"$rTimeUs div ${windowUs}L"))
    val l0 = left.withColumn("probe_bin", probes)
    val l = if (pm) l0.hint("merge") else l0
    val r = right.withColumn("r_bin", expr(s"$rTimeUs div ${windowUs}L"))
    l.join(r, col("probe_bin") === col("r_bin") &&
        col(rTimeUs) >= col(lTimeUs) - windowUs && col(rTimeUs) <= col(lTimeUs))
      .drop("probe_bin", "r_bin")
  }

  /** Purchases joined to every signup in the preceding hour (any user —
    * deliberately no equi-key so the bin join is what makes it tractable),
    * aggregated to a per-purchase signup count. */
  val rangeJoinQ = QueryDef(
    "range_join_binned",
    "interval join via time bins: signups within 1h before each purchase",
    Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM events)
            SELECT a.event_id, count(*) AS n_signups_1h
            FROM (SELECT * FROM e WHERE event_type = 'purchase') a
            JOIN (SELECT * FROM e WHERE event_type = 'signup') b
              ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
            GROUP BY 1"""),
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts_us"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("s_id"), col("ts_us").as("s_ts_us"))
      rangeJoinBinned(purchases, signups, "ts_us", "s_ts_us", 3600000000L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_signups_1h"))
    })

  /** The SAME query as [[rangeJoinQ]] written as NAIVE SQL — no hand-built
    * bins; the optimizer supplies the plan. Since round 13 the rewrite
    * STACK is two rules in fixed order: the aggregate consumer here matches
    * [[graft.plans.RewriteRangeAggToPrefix]] first, so this entry plans as
    * the prefix scan (measured flat across density decades — 2.0 s vs
    * 15.2 s at sf10, 4.0 s vs 187 s at sf30 against the binned join);
    * pair-EMITTING naive SQL (no aggregate) still falls through to
    * [[graft.plans.BlockRangeJoins]]'s binned hash join, pinned by
    * RangeRuleSpec on plan and rows. Keeping this entry next to
    * [[rangeJoinQ]] in the gate pins that the fully-rewritten plan and the
    * hand-built join plan agree with the same oracle. */
  val rangeJoinAutoQ = QueryDef(
    "range_join_auto",
    "naive-SQL trailing-window join, auto-rewritten to bins by the optimizer",
    Some("""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM events)
            SELECT a.event_id, count(*) AS n_signups_1h
            FROM (SELECT * FROM e WHERE event_type = 'purchase') a
            JOIN (SELECT * FROM e WHERE event_type = 'signup') b
              ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
            GROUP BY 1"""),
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"))
        .createOrReplaceTempView("rja_events")
      s.sql("""SELECT a.event_id, count(*) AS n_signups_1h
               FROM (SELECT * FROM rja_events WHERE event_type = 'purchase') a
               JOIN (SELECT * FROM rja_events WHERE event_type = 'signup') b
                 ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
               GROUP BY 1""")
    })

  /** 2-D skyline (Pareto front): the parts no other part beats on BOTH
    * price (lower better) and size (higher better). The operator shape SQL
    * lacks: the NOT-EXISTS dominance query (which the oracle runs) is
    * quadratic, while the engine computes it as a partition-local sort-sweep
    * (a locally-dominated point can never be globally optimal, so pruning is
    * sound) followed by one final sweep over the few survivors — at 100 TB
    * the data pass is linear + a per-partition sort, and only candidate
    * skyline points (typically O(log n)) reach the final single-partition
    * step. Points are collapsed to distinct (price, size) with multiplicity
    * first, so duplicates cannot inflate partitions. */
  val skylineQ = QueryDef(
    "skyline_parts",
    "Pareto front of parts (min price, max size) via local-sweep + reduce",
    Some("""WITH pts AS (SELECT p_retailprice AS price, p_size AS sz,
                                count(*) AS n_parts
                         FROM part GROUP BY 1, 2)
            SELECT price, sz, n_parts FROM pts a
            WHERE NOT EXISTS (SELECT 1 FROM pts b
              WHERE b.price <= a.price AND b.sz >= a.sz
                AND (b.price < a.price OR b.sz > a.sz))"""),
    (s, dir) => {
      import s.implicits._
      def sweep(it: Iterator[(Double, Long, Long)]) = {
        var best = Long.MinValue
        it.filter { case (_, sz, _) =>
          if (sz > best) { best = sz; true } else false
        }
      }
      val pts = Tables.part(s, dir)
        .groupBy(col("p_retailprice").as("price"), col("p_size").as("sz"))
        .agg(count(lit(1)).as("n_parts"))
      val local = pts
        .sortWithinPartitions(col("price").asc, col("sz").desc)
        .as[(Double, Long, Long)]
        .mapPartitions(sweep)
      local.coalesce(1)
        .sortWithinPartitions(col("_1").asc, col("_2").desc)
        .mapPartitions(sweep)
        .toDF("price", "sz", "n_parts")
    })

  /** Ordered per-key sequence assembly — the training-sequence builder:
    * collect each user's event types in (time, id) order into one string.
    * collect_list alone has no order guarantee, so the elements carry their
    * sort key into array_sort and drop it after — deterministic under any
    * partitioning, one shuffle. */
  val sequencesQ = QueryDef(
    "user_event_sequences",
    "per-user time-ordered event-type sequence as a delimited string",
    Some("""SELECT user_id,
                   string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id) AS seq,
                   count(*) AS n
            FROM events GROUP BY user_id"""),
    (s, dir) => Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        concat_ws(",", transform(
          array_sort(collect_list(struct(
            unix_micros(col("ts")).as("t"), col("event_id").as("e"),
            col("event_type").as("v")))),
          x => x.getField("v"))).as("seq"),
        count(lit(1)).as("n")))

  val defs: Seq[QueryDef] = Seq(asofQ, asofCustomQ, sessionQ, groupingSetsQ,
    pivotQ, scalarSubQ, unionQ, unionByNameQ, percentileQ, topkAggQ,
    mapGroupsQ, rangeJoinQ, rangeJoinAutoQ, sequencesQ, skylineQ)
}
