package graft.plans

import org.apache.spark.sql.DataFrame

import graft.{Graft, SparkSpec}

/** The aggregate-over-range-join collapse: `GROUP BY a.k, count(*)/sum(b.x)`
  * over naive trailing-window SQL must plan as the prefix scan (a Deferred
  * leaf, zero joins), return EXACTLY the join plan's rows, and leave every
  * ineligible shape to [[BlockRangeJoins]]. */
class RangeAggRuleSpec extends SparkSpec {

  private def setup(): Unit = {
    Graft.init(spark)
    Graft.registerTables(spark, sf("sf0.001"))
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW ra_e AS
         SELECT event_id, unix_micros(ts) AS ts_us, event_type, value,
                CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
         FROM events""")
  }

  private val aggSql =
    """SELECT a.event_id, count(*) AS n, sum(b.cents) AS c
       FROM (SELECT * FROM ra_e WHERE event_type = 'purchase') a
       JOIN (SELECT * FROM ra_e WHERE event_type = 'signup') b
         ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
       GROUP BY 1"""

  private def optimized(df: DataFrame) = df.queryExecution.optimizedPlan

  private def isCollapsed(df: DataFrame): Boolean = {
    val p = optimized(df)
    p.collectFirst { case d: DeferredResultPlan => d }.isDefined &&
      p.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty
  }

  test("count+sum over naive range-join SQL collapses to the prefix plan " +
      "and matches the join plan row-for-row") {
    setup()
    val df = spark.sql(aggSql)
    assert(isCollapsed(df), optimized(df).toString)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // rule-off reference: drop BOTH range rules, let Catalyst nested-loop it
    withoutRules(RewriteRangeAggToPrefix, BlockRangeJoins) {
      val naive = spark.sql(aggSql).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == naive, s"rule=${got.size} naive=${naive.size}")
      assert(got.nonEmpty)
    }
  }

  test("range_agg_prefix (a DataFrame join + groupBy) collapses to the " +
      "prefix plan and matches the rule-off join plan row-for-row") {
    setup()
    val q = graft.SparkEntry.queries("range_agg_prefix")
    def rows(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val df = q(spark, sf("sf0.001"))
    assert(isCollapsed(df), optimized(df).toString)
    val got = rows(df)
    // rule-off reference: drop BOTH range rules, let Catalyst nested-loop it
    withoutRules(RewriteRangeAggToPrefix, BlockRangeJoins) {
      val naiveDf = q(spark, sf("sf0.001"))
      assert(!isCollapsed(naiveDf), optimized(naiveDf).toString)
      val naive = rows(naiveDf)
      assert(got == naive, s"rule=${got.size} naive=${naive.size}")
      assert(got.nonEmpty)
    }
  }

  test("a collapsed aggregate over the parquet events table can be sorted: " +
      "the deferred build is not serialized into the sort's tasks") {
    setup()
    val df = spark.sql(aggSql + " ORDER BY 1")
    assert(isCollapsed(df), optimized(df).toString)
    val ids = df.collect().map(_.getLong(0)).toSeq
    assert(ids.nonEmpty && ids == ids.sorted)
  }

  test("range_join_auto (count-only) also collapses — deterministically, " +
      "since the prefix rule always registers ahead of the binning rule") {
    setup()
    val df = graft.SparkEntry.queries("range_join_auto")(spark, sf("sf0.001"))
    assert(isCollapsed(df), optimized(df).toString)
  }

  test("sum NULL semantics survive the collapse: all-NULL window sums NULL, " +
      "mixed window skips NULLs, count(*) still counts the rows") {
    setup()
    import spark.implicits._
    Seq((1L, 100L), (2L, 200L)).toDF("id", "t").createOrReplaceTempView("ra_a")
    Seq((95L, None: Option[Long]), (96L, None: Option[Long]),
      (198L, Some(7L)), (199L, None: Option[Long]))
      .toDF("t", "v").createOrReplaceTempView("ra_b")
    val df = spark.sql(
      """SELECT a.id, count(*) AS n, sum(b.v) AS s
         FROM ra_a a JOIN ra_b b
           ON b.t >= a.t - 10 AND b.t <= a.t
         GROUP BY 1""")
    assert(isCollapsed(df), optimized(df).toString)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    assert(rows == Set((1L, 2L, None), (2L, 2L, Some(7L))), rows.toString)
  }

  test("NULL timestamps cancel: rows with NULL ts on either side never " +
      "match, exactly as the join semantics demand") {
    setup()
    import spark.implicits._
    Seq((1L, Some(100L)), (2L, None: Option[Long]))
      .toDF("id", "t").createOrReplaceTempView("ra_na")
    Seq((Some(95L), 5L), (None: Option[Long], 99L))
      .toDF("t", "v").createOrReplaceTempView("ra_nb")
    val df = spark.sql(
      """SELECT a.id, count(*) AS n, sum(b.v) AS s
         FROM ra_na a JOIN ra_nb b
           ON b.t >= a.t - 10 AND b.t <= a.t
         GROUP BY 1""")
    assert(isCollapsed(df), optimized(df).toString)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 1L, 5L)), rows.toString)
  }

  test("strict bounds shift the probes instead of widening to the closed " +
      "window: boundary rows at b = a-C and b = a are excluded exactly when " +
      "the predicate says so") {
    setup()
    import spark.implicits._
    // left row at t=100, window constant C=10; right rows sit EXACTLY on
    // both boundaries (90, 100) plus one interior (95) — each strictness
    // combination keeps a different subset, so a probe off-by-one at either
    // end flips a count.
    Seq((1L, 100L)).toDF("id", "t").createOrReplaceTempView("ra_sa")
    Seq((90L, 1L), (95L, 2L), (100L, 4L))
      .toDF("t", "v").createOrReplaceTempView("ra_sb")
    val shapes = Seq(
      ("b.t >= a.t - 10 AND b.t <= a.t", 3L, 7L),  // closed: {90,95,100}
      ("b.t >  a.t - 10 AND b.t <= a.t", 2L, 6L),  // strict lower: {95,100}
      ("b.t >= a.t - 10 AND b.t <  a.t", 2L, 3L),  // strict upper: {90,95}
      ("b.t >  a.t - 10 AND b.t <  a.t", 1L, 2L))  // both strict: {95}
    for ((cond, expN, expS) <- shapes) {
      val df = spark.sql(
        s"""SELECT a.id, count(*) AS n, sum(b.v) AS s
            FROM ra_sa a JOIN ra_sb b ON $cond
            GROUP BY 1""")
      assert(isCollapsed(df), s"$cond: ${optimized(df)}")
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, expN, expS)), s"$cond -> ${rows.mkString(",")}")
    }
  }

  test("avg(integral) collapses as the sum/count composition: exact window " +
      "sum, one division, NULL for all-NULL windows, NULLs skipped") {
    setup()
    import spark.implicits._
    Seq((1L, 100L), (2L, 200L)).toDF("id", "t").createOrReplaceTempView("ra_aa")
    Seq((95L, None: Option[Long]), (96L, None: Option[Long]),
      (198L, Some(7L)), (199L, Some(4L)))
      .toDF("t", "v").createOrReplaceTempView("ra_ab")
    val df = spark.sql(
      """SELECT a.id, count(*) AS n, avg(b.v) AS m, sum(b.v) AS s
         FROM ra_aa a JOIN ra_ab b
           ON b.t >= a.t - 10 AND b.t <= a.t
         GROUP BY 1""")
    assert(isCollapsed(df), optimized(df).toString)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    // id=1: both rows NULL-valued -> count 2, avg NULL, sum NULL
    // id=2: values {7, 4} -> avg (7+4)/2 = 5.5 exactly (one division)
    assert(rows == Set((1L, 2L, None, None), (2L, 2L, Some(5.5), Some(11L))),
      rows.toString)
  }

  test("avg over the catalog events table matches the rule-off join plan") {
    setup()
    val avgSql =
      """SELECT a.event_id, count(*) AS n, avg(b.cents) AS m
         FROM (SELECT * FROM ra_e WHERE event_type = 'purchase') a
         JOIN (SELECT * FROM ra_e WHERE event_type = 'signup') b
           ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
         GROUP BY 1"""
    val df = spark.sql(avgSql)
    assert(isCollapsed(df), optimized(df).toString)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    withoutRules(RewriteRangeAggToPrefix, BlockRangeJoins) {
      // sums at this SF stay far under 2^53, so Spark's double-buffer
      // Average is exact here and the comparison is equality, not tolerance
      val naive = spark.sql(avgSql).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == naive, s"rule=${got.size} naive=${naive.size}")
      assert(got.nonEmpty)
    }
  }

  test("multi-window (1h + 24h) written as two joins collapses BOTH: two " +
      "Deferred leaves, only the reassembling equi-join remains") {
    setup()
    val df = spark.sql(
      """WITH h AS (
           SELECT a.event_id, count(*) AS n_1h
           FROM (SELECT * FROM ra_e WHERE event_type = 'purchase') a
           JOIN (SELECT * FROM ra_e WHERE event_type = 'signup') b
             ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
           GROUP BY 1),
         d AS (
           SELECT a.event_id, count(*) AS n_24h
           FROM (SELECT * FROM ra_e WHERE event_type = 'purchase') a
           JOIN (SELECT * FROM ra_e WHERE event_type = 'signup') b
             ON b.ts_us >= a.ts_us - 86400000000 AND b.ts_us <= a.ts_us
           GROUP BY 1)
         SELECT h.event_id, h.n_1h, d.n_24h
         FROM h JOIN d ON h.event_id = d.event_id""")
    val p = optimized(df)
    val deferred = p.collect { case dd: DeferredResultPlan => dd }
    val joins = p.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(deferred.size == 2, p.toString)
    assert(joins.size == 1, p.toString)
    // the surviving join is the equi-join on event_id, not a range join
    assert(joins.head.condition.get.references.forall(_.name == "event_id"), p)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // 24h window is a superset of the 1h window
    assert(rows.forall(r => r.getLong(2) >= r.getLong(1)))
  }

  test("strict bounds on the catalog events table match the join plan " +
      "row-for-row (rule-off reference)") {
    setup()
    val strictSql =
      """SELECT a.event_id, count(*) AS n, sum(b.cents) AS c
         FROM (SELECT * FROM ra_e WHERE event_type = 'purchase') a
         JOIN (SELECT * FROM ra_e WHERE event_type = 'signup') b
           ON b.ts_us > a.ts_us - 3600000000 AND b.ts_us < a.ts_us
         GROUP BY 1"""
    val df = spark.sql(strictSql)
    assert(isCollapsed(df), optimized(df).toString)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    withoutRules(RewriteRangeAggToPrefix, BlockRangeJoins) {
      val naive = spark.sql(strictSql).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == naive, s"rule=${got.size} naive=${naive.size}")
      assert(got.nonEmpty)
    }
  }

  test("TIMESTAMP - INTERVAL aggregate SQL collapses to the prefix plan " +
      "through the unix_micros view and matches the rule-off join") {
    setup()
    val tsAggSql =
      """SELECT a.event_id, count(*) AS n, sum(b.cents) AS c
         FROM (SELECT event_id, ts, event_type,
                      CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
               FROM events WHERE event_type = 'purchase') a
         JOIN (SELECT event_id, ts, event_type,
                      CAST(floor(value * 1e2 + 0.5) AS BIGINT) AS cents
               FROM events WHERE event_type = 'signup') b
           ON b.ts BETWEEN a.ts - INTERVAL '1' HOUR AND a.ts
         GROUP BY 1"""
    val df = spark.sql(tsAggSql)
    assert(isCollapsed(df), optimized(df).toString)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // must equal the BIGINT-micros spelling's result (same window by the
    // unix_micros monotone-bijection argument)
    val viaUs = spark.sql(aggSql).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == viaUs, s"ts=${got.size} us=${viaUs.size}")
    withoutRules(RewriteRangeAggToPrefix, BlockRangeJoins) {
      val naive = spark.sql(tsAggSql).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == naive, s"rule=${got.size} naive=${naive.size}")
      assert(got.nonEmpty)
    }
  }

  test("count(<scanned col>) collapses as the non-null count __z — and a " +
      "count-only leg over huge values must NOT run the exact-sum overflow " +
      "guard it never asked for") {
    setup()
    import spark.implicits._
    Seq((1L, 100L)).toDF("id", "t").createOrReplaceTempView("ra_ca")
    // two non-null HUGE values (each > Long.Max/2: summing raises addExact)
    // plus a NULL: count(v)=2, count(*)=3
    Seq((95L, Some(Long.MaxValue - 1L)), (96L, Some(Long.MaxValue - 2L)),
      (97L, None: Option[Long]))
      .toDF("t", "v").createOrReplaceTempView("ra_cb")
    val df = spark.sql(
      """SELECT a.id, count(*) AS n, count(b.v) AS nv
         FROM ra_ca a JOIN ra_cb b
           ON b.t >= a.t - 10 AND b.t <= a.t
         GROUP BY 1""")
    assert(isCollapsed(df), optimized(df).toString)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((1L, 3L, 2L)))
    // the same frame WITH a sum leg must still raise loudly on overflow
    val overflow = intercept[Exception] {
      spark.sql(
        """SELECT a.id, sum(b.v) AS s
           FROM ra_ca a JOIN ra_cb b
             ON b.t >= a.t - 10 AND b.t <= a.t
           GROUP BY 1""").collect()
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .flatMap(x => Option(x.getMessage)).mkString(" | ")
    assert(chain(overflow).toLowerCase.contains("overflow"), chain(overflow))
  }

  test("strict TIMESTAMP bounds shift probes by one microsecond tick: " +
      "boundary rows at exactly a-INTERVAL and a are excluded per spelling") {
    setup()
    import spark.implicits._
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    // left at t=100s; right rows exactly ON both window boundaries of a
    // 10-second window, plus one interior (whole-second values — the probe
    // shift itself is 1 µs, pinned numerically by the BIGINT strict test;
    // here the point is the TIMESTAMP spelling threads strictness through)
    Seq((1L, ts(100000000L))).toDF("id", "t").createOrReplaceTempView("ra_ta")
    Seq((ts(90000000L), 1L), (ts(95000000L), 2L), (ts(100000000L), 4L))
      .toDF("t", "v").createOrReplaceTempView("ra_tb")
    val shapes = Seq(
      ("b.t >= a.t - INTERVAL '10' SECOND AND b.t <= a.t", 3L, 7L),
      ("b.t >  a.t - INTERVAL '10' SECOND AND b.t <= a.t", 2L, 6L),
      ("b.t >= a.t - INTERVAL '10' SECOND AND b.t <  a.t", 2L, 3L),
      ("b.t >  a.t - INTERVAL '10' SECOND AND b.t <  a.t", 1L, 2L))
    for ((cond, expN, expS) <- shapes) {
      val df = spark.sql(
        s"""SELECT a.id, count(*) AS n, sum(b.v) AS s
            FROM ra_ta a JOIN ra_tb b ON $cond
            GROUP BY 1""")
      assert(isCollapsed(df), s"$cond: ${optimized(df)}")
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, expN, expS)), s"$cond -> ${rows.mkString(",")}")
    }
  }

  test("ineligible shapes fall through to the binning rule: max(), " +
      "sum(DOUBLE), an extra equi-key, and a global aggregate") {
    setup()
    val maxSql =
      """SELECT a.event_id, max(b.cents) AS mx
         FROM (SELECT * FROM ra_e WHERE event_type = 'purchase') a
         JOIN (SELECT * FROM ra_e WHERE event_type = 'signup') b
           ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
         GROUP BY 1"""
    val dblSql =
      """SELECT a.event_id, sum(b.value) AS sv
         FROM (SELECT * FROM ra_e WHERE event_type = 'purchase') a
         JOIN (SELECT * FROM ra_e WHERE event_type = 'signup') b
           ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
         GROUP BY 1"""
    val keyedSql =
      """SELECT a.event_id, count(*) AS n
         FROM ra_e a JOIN ra_e b
           ON a.event_type = b.event_type
          AND b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us
         GROUP BY 1"""
    val globalSql =
      """SELECT count(*) AS n
         FROM (SELECT * FROM ra_e WHERE event_type = 'purchase') a
         JOIN (SELECT * FROM ra_e WHERE event_type = 'signup') b
           ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us"""
    for (sql <- Seq(maxSql, dblSql, keyedSql, globalSql)) {
      val p = optimized(spark.sql(sql))
      assert(p.collectFirst { case d: DeferredResultPlan => d }.isEmpty, p)
      assert(p.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isDefined, p)
    }
    // and the binned rewrite still serves them (no nested loop on the
    // un-keyed shapes)
    val mp = spark.sql(maxSql).queryExecution.executedPlan.toString
    assert(mp.contains("__graft_rbin"), mp)
  }
}
