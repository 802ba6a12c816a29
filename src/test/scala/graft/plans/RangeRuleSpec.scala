package graft.plans

import graft.{Graft, SparkSpec}

/** The trailing-window range-join rewrite: plain SQL `b.ts BETWEEN a.ts - C
  * AND a.ts` must plan as a hash join on derived C-bins (no nested loop) and
  * return EXACTLY the rows the naive plan returns. */
class RangeRuleSpec extends SparkSpec {

  private def setup(): Unit = {
    Graft.init(spark)
    Graft.registerTables(spark, sf("sf0.001"))
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW rr_e AS
         SELECT event_id, unix_micros(ts) AS ts_us, event_type FROM events""")
  }

  private val windowSql =
    """SELECT a.event_id AS purchase_id, b.event_id AS signup_id
       FROM (SELECT * FROM rr_e WHERE event_type = 'purchase') a
       JOIN (SELECT * FROM rr_e WHERE event_type = 'signup') b
         ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us"""

  private def collectPairs(sql: String): Set[(Long, Long)] =
    spark.sql(sql).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("trailing-window SQL join plans as a bin hash join, not a nested loop") {
    setup()
    val df = spark.sql(windowSql)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("__graft_rbin"), p)
    assert(df.count() > 0)
  }

  test("rewrite returns exactly the nested-loop result (BETWEEN spelling too)") {
    setup()
    val betweenSql =
      """SELECT a.event_id AS purchase_id, b.event_id AS signup_id
         FROM (SELECT * FROM rr_e WHERE event_type = 'purchase') a
         JOIN (SELECT * FROM rr_e WHERE event_type = 'signup') b
           ON b.ts_us BETWEEN a.ts_us - 3600000000 AND a.ts_us"""
    val withRule = collectPairs(windowSql)
    val withRuleBetween = collectPairs(betweenSql)
    withoutRules(BlockRangeJoins) {
      val naiveDf = spark.sql(windowSql)
      val np = naiveDf.queryExecution.executedPlan.toString
      assert(np.contains("BroadcastNestedLoopJoin") ||
        np.contains("CartesianProduct"), np)
      val naive = naiveDf.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(withRule == naive,
        s"rule=${withRule.size} naive=${naive.size}")
      assert(withRuleBetween == naive)
    }
  }

  test("negative timestamps: floor-div bins still cover every pair") {
    setup()
    import spark.implicits._
    // window C=10 over values straddling zero — truncating division would
    // misplace the negatives' bins and silently drop pairs
    Seq(-25L, -10L, -5L, -1L, 0L, 3L, 9L, 14L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      .createOrReplaceTempView("rr_neg")
    val sql =
      """SELECT a.id, b.id FROM rr_neg a JOIN rr_neg b
           ON b.t >= a.t - 10 AND b.t <= a.t"""
    val df = spark.sql(sql)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_rbin"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vals = Seq(-25L, -10L, -5L, -1L, 0L, 3L, 9L, 14L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val want = (for {
      (ia, ta) <- vals; (ib, tb) <- vals
      if tb >= ta - 10 && tb <= ta
    } yield (ia, ib)).toSet
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("TIMESTAMP - INTERVAL spelling bins on unix_micros: hash-join plan, " +
      "rows identical to the BIGINT-micros window") {
    setup()
    // pair-EMITTING timestamp SQL (no aggregate, so the prefix rule leaves
    // it and the binning rule must catch the TimestampAddInterval shape)
    val tsSql =
      """SELECT a.event_id AS purchase_id, b.event_id AS signup_id
         FROM (SELECT event_id, ts, event_type FROM events WHERE event_type = 'purchase') a
         JOIN (SELECT event_id, ts, event_type FROM events WHERE event_type = 'signup') b
           ON b.ts BETWEEN a.ts - INTERVAL '1' HOUR AND a.ts"""
    val df = spark.sql(tsSql)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("__graft_rbin"), p)
    // unix_micros is a monotone bijection on the µs-resolution ts, so the
    // timestamp window selects exactly the ts_us window's pairs
    assert(collectPairs(tsSql) == collectPairs(windowSql))
  }

  test("keyed range joins (as-of shape) are left alone") {
    setup()
    // an equi key already gives Catalyst a hash join; the rule must not
    // stack a 2x expansion on top
    val df = spark.sql(
      """SELECT a.event_id, b.event_id
         FROM rr_e a JOIN rr_e b
           ON a.event_type = b.event_type
          AND b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us""")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("__graft_rbin"), p)
  }
}
