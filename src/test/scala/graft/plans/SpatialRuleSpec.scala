package graft.plans

import graft.{Graft, SparkSpec}

/** The haversine-join rewrite: plain SQL with a radius predicate must plan
  * as a hash join on derived cell keys (no nested loop over the product)
  * and return EXACTLY the rows the naive plan returns. */
class SpatialRuleSpec extends SparkSpec {

  private def setup(): Unit = {
    Graft.init(spark)
    Graft.registerTables(spark, sf("sf0.001"))
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW sr_pos AS
         SELECT user_id AS ship, event_id,
                (event_id % 1780) / 10.0 - 89.0 AS lat,
                (event_id % 3580) / 10.0 - 179.0 AS lon
         FROM events""")
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW sr_ports AS
         SELECT CAST(n_nationkey AS BIGINT) AS port_id,
                (n_nationkey * 7 % 120) - 60 + 0.5 AS plat,
                (n_nationkey * 37 % 340) - 170 + 0.5 AS plon
         FROM nation""")
  }

  private val radiusSql =
    """SELECT port_id, ship, event_id
       FROM sr_ports q JOIN sr_pos p
         ON haversine_km(q.plat, q.plon, p.lat, p.lon) <= 800.0"""

  test("radius-predicate SQL join plans as a cell hash join, not a nested loop") {
    setup()
    val df = spark.sql(radiusSql)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("__graft_cell"), p)
    assert(df.count() > 0)
  }

  test("geo_radius_join plans through the rule: cell keys, a broadcast " +
    "hash join, no nested loop, and no probe job") {
    // incremented on the listener-bus thread, read on the test thread
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val df = graft.SparkEntry.queries("geo_radius_join")(spark, sf("sf0.001"))
      val opt = df.queryExecution.optimizedPlan
      df.queryExecution.executedPlan // physical planning runs no job either
      org.apache.spark.GraftListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      assert(jobs.get() == 0, s"building the plan ran ${jobs.get()} jobs")
      assert(opt.collectFirst {
        case n if n.output.exists(_.name.startsWith("__graft_cell")) => n
      }.isDefined, opt.treeString)
      assert(df.count() == 161L)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("rewrite returns exactly the nested-loop result") {
    setup()
    val withRule = spark.sql(radiusSql).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // drop the rule, replan the same SQL: Catalyst falls back to BNLJ
    withoutRules(BlockHaversineJoins) {
      val naiveDf = spark.sql(radiusSql)
      val np = naiveDf.queryExecution.executedPlan.toString
      assert(np.contains("BroadcastNestedLoopJoin") ||
        np.contains("CartesianProduct"), np)
      val naive = naiveDf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(withRule == naive,
        s"rule=${withRule.size} naive=${naive.size} " +
          s"missing=${(naive -- withRule).take(5)} extra=${(withRule -- naive).take(5)}")
    }
  }

  test("WHERE-clause form rewrites too (predicate pushed into the join first)") {
    setup()
    val df = spark.sql(
      """SELECT port_id, ship FROM sr_ports q, sr_pos p
         WHERE haversine_km(q.plat, q.plon, p.lat, p.lon) <= 800.0""")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(df.count() > 0)
  }

  test("EXISTS / NOT EXISTS radius subqueries (semi/anti joins) rewrite " +
    "and agree with the nested-loop plans") {
    setup()
    val semiSql =
      """SELECT ship, event_id FROM sr_pos p
         WHERE EXISTS (SELECT 1 FROM sr_ports q
                       WHERE haversine_km(q.plat, q.plon, p.lat, p.lon) <= 800.0)"""
    val antiSql =
      """SELECT ship, event_id FROM sr_pos p
         WHERE NOT EXISTS (SELECT 1 FROM sr_ports q
                           WHERE haversine_km(q.plat, q.plon, p.lat, p.lon) <= 800.0)"""
    val total = spark.table("sr_pos").count()
    for (sql <- Seq(semiSql, antiSql)) {
      val df = spark.sql(sql)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p)
      assert(p.contains("__graft_cell"), p)
    }
    def rows(sql: String): Set[(Long, Long)] = spark.sql(sql).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val (semiOn, antiOn) = (rows(semiSql), rows(antiSql))
    // semi + anti partition the table
    assert(semiOn.size + antiOn.size == total && (semiOn & antiOn).isEmpty)
    withoutRules(BlockHaversineJoins) {
      assert(rows(semiSql) == semiOn)
      assert(rows(antiSql) == antiOn)
      assert(semiOn.nonEmpty && antiOn.nonEmpty)
    }
  }

  test("the rewrite composes with extra predicates and reversed sides") {
    setup()
    val q =
      """SELECT port_id, ship
         FROM sr_pos p JOIN sr_ports q
           ON p.ship % 2 = 0 AND haversine_km(q.plat, q.plon, p.lat, p.lon) <= 800.0"""
    val df = spark.sql(q)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    withoutRules(BlockHaversineJoins) {
      val naive = spark.sql(q).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == naive)
      assert(got.nonEmpty)
    }
  }
}
