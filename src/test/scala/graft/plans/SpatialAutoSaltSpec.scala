package graft.plans

import graft.{Graft, SparkSpec}
import org.apache.spark.sql.DataFrame

/** Hot-cell auto-salting in [[BlockHaversineJoins]] (r15): fires only past
  * the measured trigger, stays pair-identical to the naive plan, keeps
  * Semi left-uniqueness — the spatial twin of AutoSaltSpec. */
class SpatialAutoSaltSpec extends SparkSpec {

  /** 40 uniform diagonal cells (25 rows each, >110 km apart — no
    * cross-cell matches at r=30) plus one hot cell at (50, 50) holding
    * 400 rows: same-cell mass share ~0.87 over 41 cells -> fires. */
  private def views(): Unit = {
    import spark.implicits._
    val uniform = (0 until 1000).map { i =>
      val c = i % 40
      (i.toLong, c + 0.5 + (i % 5) * 0.01, c + 0.5 + (i % 7) * 0.01)
    }
    val hot = (0 until 400).map { i =>
      (10000L + i, 50.3 + (i % 20) * 0.02, 50.3 + (i % 25) * 0.02)
    }
    (uniform ++ hot).toDF("id", "lat", "lon")
      .createOrReplaceTempView("gs_skew")
    uniform.toDF("id", "lat", "lon").createOrReplaceTempView("gs_flat")
  }

  private val joinSql =
    """SELECT a.id AS aid, b.id AS bid FROM %s a JOIN %s b
         ON haversine_km(a.lat, a.lon, b.lat, b.lon) <= 30.0"""

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def naive(sql: String): Set[(Long, Long)] =
    withoutRules(BlockHaversineJoins)(pairs(spark.sql(sql)))

  test("planted hot cell: salted plan fires and is pair-identical to the " +
      "naive join (factors 4 and 8)") {
    Graft.init(spark)
    views()
    val sql = joinSql.format("gs_skew", "gs_skew")
    val want = naive(sql)
    assert(want.size > 100000, s"hot cluster should self-match: ${want.size}")
    // broadcast disabled: salting targets the shuffle-join regime
    for (s <- Seq(4, 8)) {
      withConf("spark.graft.spatialJoin.autoSalt.factor" -> s.toString,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val df = spark.sql(sql)
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("__graft_cell_ps"), s"factor=$s should salt:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"), p)
        assert(pairs(df) == want, s"factor=$s pair drift")
      }
    }
  }

  test("uniform cells / conf off / factor 1: blocked but NOT salted") {
    Graft.init(spark)
    views()
    val flatP = spark.sql(joinSql.format("gs_flat", "gs_flat"))
      .queryExecution.executedPlan.toString
    assert(flatP.contains("__graft_cell") && !flatP.contains("__graft_cell_ps"),
      flatP)
    for (kv <- Seq(
        "spark.graft.spatialJoin.autoSalt.factor" -> "1",
        "spark.graft.spatialJoin.autoSalt.enabled" -> "false")) {
      withConf(kv) {
        val p = spark.sql(joinSql.format("gs_skew", "gs_skew"))
          .queryExecution.executedPlan.toString
        assert(p.contains("__graft_cell") && !p.contains("__graft_cell_ps"),
          s"$kv:\n$p")
      }
    }
  }

  test("sampled probe (tiny targetRows): planted still salts " +
      "count-identically, flat stays blocked-unsalted") {
    Graft.init(spark)
    import spark.implicits._
    // fresh data (fresh memo key) so the SAMPLED probe really runs
    val uniform = (0 until 1500).map { i =>
      val c = i % 40
      (i.toLong, c + 0.4 + (i % 6) * 0.01, c + 0.4 + (i % 8) * 0.01)
    }
    val hot = (0 until 700).map { i =>
      (30000L + i, 52.3 + (i % 20) * 0.02, 52.3 + (i % 25) * 0.02)
    }
    (uniform ++ hot).toDF("id", "lat", "lon")
      .createOrReplaceTempView("gs_skew_s")
    uniform.toDF("id", "lat", "lon").createOrReplaceTempView("gs_flat_s")
    val sql = joinSql.format("gs_skew_s", "gs_skew_s")
    withConf("spark.graft.autoSalt.probe.targetRows" -> "400",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val salted = spark.sql(sql)
      val p = salted.queryExecution.executedPlan.toString
      assert(p.contains("__graft_cell_ps"),
        s"sampled probe must still fire the planted trigger:\n$p")
      val saltedN = salted.count()
      var blockedN = -1L
      withConf("spark.graft.spatialJoin.autoSalt.enabled" -> "false") {
        blockedN = spark.sql(sql).count()
      }
      assert(saltedN == blockedN, s"salted=$saltedN blocked=$blockedN")
      val flatP = spark.sql(joinSql.format("gs_flat_s", "gs_flat_s"))
        .queryExecution.executedPlan.toString
      assert(flatP.contains("__graft_cell") &&
        !flatP.contains("__graft_cell_ps"),
        s"sampled probe must not trip on the flat corpus:\n$flatP")
    }
  }

  test("Inner picks the cheaper duplication side from probed row counts " +
      "(ADVICE r15: mirror the range rule)") {
    Graft.init(spark)
    import spark.implicits._
    import org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    def mk(n: Int, hotN: Int, tag: Long): org.apache.spark.sql.DataFrame = {
      val uni = (0 until n).map { i =>
        val c = i % 40
        (tag + i, c + 0.45 + (i % 5) * 0.01, c + 0.45 + (i % 7) * 0.01)
      }
      val hot = (0 until hotN).map { i =>
        (tag + 100000L + i, 55.3 + (i % 20) * 0.02, 55.3 + (i % 25) * 0.02)
      }
      (uni ++ hot).toDF("id", "lat", "lon")
    }
    val bp = GraftExpressionBridge.logicalPlan(mk(4000, 4000, 0L))
    val sp = GraftExpressionBridge.logicalPlan(mk(150, 250, 500000L))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // cexp(30km) ~ 2.4: big-left/small-right -> 2.4*400 < 8000 -> the
      // per-row salt belongs on the LEFT (S-fold lands on the small right)
      val c1 = BlockHaversineJoins.decideSalt(bp, sp,
        bp.output(1), bp.output(2), sp.output(1), sp.output(2), Inner, 30.0)
      assert(c1.exists(_.saltOnLeft),
        s"big-left/small-right Inner should S-fold the RIGHT: $c1")
      // flipped sizes -> 2.4*8000 > 400 -> S-fold the small LEFT
      val c2 = BlockHaversineJoins.decideSalt(sp, bp,
        sp.output(1), sp.output(2), bp.output(1), bp.output(2), Inner, 30.0)
      assert(c2.exists(!_.saltOnLeft),
        s"small-left/big-right Inner should S-fold the LEFT: $c2")
      // Semi ALWAYS keeps the left physically unique, whatever the sizes
      val c3 = BlockHaversineJoins.decideSalt(sp, bp,
        sp.output(1), sp.output(2), bp.output(1), bp.output(2), LeftSemi, 30.0)
      assert(c3.exists(_.saltOnLeft), s"Semi must salt-on-left: $c3")
    }
  }

  test("Inner big-left/small-right end-to-end: the new per-row-salt-left " +
      "arrangement is count-identical to the blocked plan") {
    Graft.init(spark)
    import spark.implicits._
    val uniL = (0 until 4000).map { i =>
      val c = i % 40
      (i.toLong, c + 0.45 + (i % 5) * 0.01, c + 0.45 + (i % 7) * 0.01)
    }
    val hotL = (0 until 4000).map { i =>
      (100000L + i, 55.3 + (i % 20) * 0.02, 55.3 + (i % 25) * 0.02)
    }
    val uniR = (0 until 150).map { i =>
      val c = i % 40
      (500000L + i, c + 0.45 + (i % 5) * 0.01, c + 0.45 + (i % 7) * 0.01)
    }
    val hotR = (0 until 250).map { i =>
      (600000L + i, 55.3 + (i % 20) * 0.02, 55.3 + (i % 25) * 0.02)
    }
    (uniL ++ hotL).toDF("id", "lat", "lon")
      .createOrReplaceTempView("gs_big_l")
    (uniR ++ hotR).toDF("id", "lat", "lon")
      .createOrReplaceTempView("gs_small_r")
    val sql = joinSql.format("gs_big_l", "gs_small_r")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(sql)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("__graft_cell_ps"), s"should salt:\n$p")
      val saltedN = df.count()
      var blockedN = -1L
      withConf("spark.graft.spatialJoin.autoSalt.enabled" -> "false") {
        blockedN = spark.sql(sql).count()
      }
      assert(saltedN == blockedN, s"salted=$saltedN blocked=$blockedN")
    }
  }

  test("LeftSemi under salt: left stays physically unique") {
    Graft.init(spark)
    views()
    val semiSql =
      """SELECT id FROM gs_skew a WHERE EXISTS (
           SELECT 1 FROM gs_skew b
           WHERE haversine_km(a.lat, a.lon, b.lat, b.lon) <= 30.0
             AND b.id <> a.id)"""
    var got: Seq[Long] = null
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(semiSql)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("__graft_cell_ps"), s"semi should salt:\n$p")
      got = df.collect().map(_.getLong(0)).toSeq
    }
    assert(got.size == got.distinct.size,
      s"semi emitted duplicate left rows: ${got.size} vs ${got.distinct.size}")
    val want = withoutRules(BlockHaversineJoins)(
      spark.sql(semiSql).collect().map(_.getLong(0)).toSet)
    assert(got.toSet == want)
  }

  test("streaming radius join: blocked but NEVER salted (no per-trigger " +
      "probe job), and the answer is exact") {
    Graft.init(spark)
    views()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double, Double)]
    val sdf = in.toDS().toDF("sid", "slat", "slon")
    // hot static right side: a BATCH plan would salt this; the streaming
    // guard must decline (the probe would otherwise block every trigger)
    val joined = sdf.join(spark.table("gs_skew"),
      org.apache.spark.sql.functions.expr(
        "haversine_km(slat, slon, lat, lon) <= 35.0"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("gs_stream").start()
    try {
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        in.addData((1L, 50.5, 50.5))
        q.processAllAvailable()
      }
      val exec = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(exec.contains("__graft_cell"),
        s"streaming plan should still get the blocked rewrite:\n$exec")
      assert(!exec.contains("__graft_cell_ps"),
        s"streaming plan must NOT salt:\n$exec")
      // every hot row is within ~30 km of (50.5, 50.5) (radius 35 leaves
      // margin over the ~29.8 km far corner); no uniform row is near
      assert(spark.table("gs_stream").count() == 400L)
    } finally q.stop()
  }
}
