package graft.plans

import graft.{Graft, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r15 auto-salting lever inside [[BlockRangeJoins]]: the rule probes
  * per-bin candidate mass at rewrite time and emits the SALTED binned plan
  * only past the measured hot-share trigger. Pins, through plain SQL:
  *   - the trigger FIRES on a planted hot bin and the salted plan is
  *     pair-identical to the unsalted/naive answer at several factors;
  *   - the trigger does NOT fire on the natural (uniform) corpus, on
  *     too-few-bins data, with the conf off, or at factor 1;
  *   - LeftSemi under salt keeps the left side physically unique (no
  *     duplicate left rows from the S-fold expansion).
  */
class AutoSaltSpec extends SparkSpec {

  private val W = 1000L // window constant = bin width

  /** ~55% of left+right rows land in one W-bin; the rest spread uniformly
    * over 40 bins, so share≈0.55 ≥ 0.05 and share·nbins≈22 ≥ 8: fires. */
  private def plantedViews(): Unit = {
    import spark.implicits._
    val uniform = (0 until 1200).map { i =>
      (i.toLong, (i % 40).toLong * W + (i % 7) * 131L % W)
    }
    // hot bin 50: many rows, several sharing EXACT timestamps (the
    // duplicate-timestamp regime a time-derived salt cannot split)
    val hot = (0 until 1500).map { i =>
      (10000L + i, 50L * W + (i % 5) * 200L)
    }
    (uniform ++ hot).toDF("id", "t").createOrReplaceTempView("as_skew")
    uniform.toDF("id", "t").createOrReplaceTempView("as_flat")
  }

  private val joinSql =
    """SELECT a.id AS aid, b.id AS bid
       FROM %s a JOIN %s b
         ON b.t >= a.t - 1000 AND b.t <= a.t"""

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def naivePairs(sql: String): Seq[(Long, Long)] =
    withoutRules(BlockRangeJoins)(pairs(spark.sql(sql)))

  test("planted hot bin: trigger fires, salted plan is pair-identical " +
      "to the naive join at factors 4 and 8") {
    Graft.init(spark)
    plantedViews()
    val sql = joinSql.format("as_skew", "as_skew")
    val want = naivePairs(sql)
    assert(want.nonEmpty)
    // broadcast disabled: salting targets the SHUFFLE-join regime (a
    // broadcastable side has no stream skew and the rule declines there)
    for (s <- Seq(4, 8)) {
      withConf("spark.graft.rangeJoin.autoSalt.factor" -> s.toString,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val df = spark.sql(sql)
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("__graft_rbin_ps"), s"factor=$s should salt:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"), p)
        assert(pairs(df) == want, s"factor=$s pair drift")
      }
    }
  }

  test("factor 1 and conf-off both leave the plan unsalted (still binned)") {
    Graft.init(spark)
    plantedViews()
    val sql = joinSql.format("as_skew", "as_skew")
    for (kv <- Seq(
        "spark.graft.rangeJoin.autoSalt.factor" -> "1",
        "spark.graft.rangeJoin.autoSalt.enabled" -> "false")) {
      withConf(kv) {
        val p = spark.sql(sql).queryExecution.executedPlan.toString
        assert(p.contains("__graft_rbin"), p)
        assert(!p.contains("__graft_rbin_ps"), s"$kv should not salt:\n$p")
      }
    }
  }

  test("natural uniform corpus (events sf0.001): binned but NOT salted " +
      "under default thresholds") {
    Graft.init(spark)
    Graft.registerTables(spark, sf("sf0.001"))
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW as_e AS
         SELECT event_id, unix_micros(ts) AS ts_us, event_type FROM events""")
    val df = spark.sql(
      """SELECT a.event_id, b.event_id
         FROM (SELECT * FROM as_e WHERE event_type = 'purchase') a
         JOIN (SELECT * FROM as_e WHERE event_type = 'signup') b
           ON b.ts_us >= a.ts_us - 3600000000 AND b.ts_us <= a.ts_us""")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("__graft_rbin"), p)
    assert(!p.contains("__graft_rbin_ps"),
      s"uniform corpus must not trip the hot-bin trigger:\n$p")
  }

  test("too-few-bins data never salts even when one bin dominates " +
      "(skewRatioMin guard)") {
    Graft.init(spark)
    import spark.implicits._
    // 3 bins, one with 80% of rows: share 0.8 but share*nbins = 2.4 < 8
    val rows = (0 until 80).map(i => (i.toLong, 10L)) ++
      (80 until 90).map(i => (i.toLong, 1500L)) ++
      (90 until 100).map(i => (i.toLong, 2500L))
    rows.toDF("id", "t").createOrReplaceTempView("as_tiny")
    val p = spark.sql(joinSql.format("as_tiny", "as_tiny"))
      .queryExecution.executedPlan.toString
    assert(p.contains("__graft_rbin"), p)
    assert(!p.contains("__graft_rbin_ps"), p)
  }

  test("sampled probe (tiny targetRows): trigger decisions unchanged — " +
      "planted salts count-identically, flat stays unsalted") {
    Graft.init(spark)
    import spark.implicits._
    // fresh data (fresh memo key) so the SAMPLED probe really runs
    val uniform = (0 until 2000).map { i =>
      (i.toLong, (i % 40).toLong * W + (i % 11) * 89L % W)
    }
    val hot = (0 until 2500).map { i =>
      (20000L + i, 50L * W + (i % 5) * 200L)
    }
    (uniform ++ hot).toDF("id", "t").createOrReplaceTempView("as_skew_s")
    uniform.toDF("id", "t").createOrReplaceTempView("as_flat_s")
    val sql = joinSql.format("as_skew_s", "as_skew_s")
    withConf("spark.graft.autoSalt.probe.targetRows" -> "800",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val salted = spark.sql(sql)
      val p = salted.queryExecution.executedPlan.toString
      assert(p.contains("__graft_rbin_ps"),
        s"sampled probe must still fire the planted trigger:\n$p")
      val saltedN = salted.count()
      var binnedN = -1L
      withConf("spark.graft.rangeJoin.autoSalt.enabled" -> "false") {
        binnedN = spark.sql(sql).count()
      }
      assert(saltedN == binnedN, s"salted=$saltedN binned=$binnedN")
      val flatP = spark.sql(joinSql.format("as_flat_s", "as_flat_s"))
        .queryExecution.executedPlan.toString
      assert(flatP.contains("__graft_rbin") &&
        !flatP.contains("__graft_rbin_ps"),
        s"sampled probe must not trip on the flat corpus:\n$flatP")
    }
  }

  test("factorAuto derives S from the probed share and stays " +
      "count-identical") {
    Graft.init(spark)
    plantedViews()
    val sql = joinSql.format("as_skew", "as_skew")
    // no factor conf set: S is the default share-adaptive factor
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(sql)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("__graft_rbin_ps"), s"factorAuto should salt:\n$p")
      val saltedN = df.count()
      var binnedN = -1L
      withConf("spark.graft.rangeJoin.autoSalt.enabled" -> "false") {
        binnedN = spark.sql(sql).count()
      }
      assert(saltedN == binnedN, s"salted=$saltedN binned=$binnedN")
    }
  }

  test("streaming range join: binned but NEVER salted (no per-trigger " +
      "probe job), and the answer is exact") {
    Graft.init(spark)
    plantedViews()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val sdf = in.toDS().toDF("sid", "st")
    // hot static right side: a BATCH plan would salt this; the streaming
    // guard must decline (the probe would otherwise run on every trigger)
    val joined = sdf.join(spark.table("as_skew"),
      expr("t >= st - 1000 AND t <= st"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("as_stream").start()
    try {
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        in.addData((1L, 50L * W + 10L))
        q.processAllAvailable()
      }
      val exec = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(exec.contains("__graft_rbin"),
        s"streaming plan should still get the binned rewrite:\n$exec")
      assert(!exec.contains("__graft_rbin_ps"),
        s"streaming plan must NOT salt:\n$exec")
      // exactly the hot rows with (i%5)*200 <= 10 -> i%5 == 0: 300 rows
      assert(spark.table("as_stream").count() == 300L)
    } finally q.stop()
  }

  test("LeftSemi under salt: left stays physically unique — semi answer " +
      "identical to the naive semi") {
    Graft.init(spark)
    plantedViews()
    // self-semi so the hot bin exists on BOTH sides (candidate mass is a
    // product; a hot bin with an empty partner side is correctly no-op)
    val semiSql =
      """SELECT id, t FROM as_skew a
         WHERE EXISTS (SELECT 1 FROM as_skew b
                       WHERE b.t >= a.t - 1000 AND b.t <= a.t)"""
    def rowsOf(run: => DataFrame): Seq[(Long, Long)] =
      run.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val salted = {
      var out: Seq[(Long, Long)] = null
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val df = spark.sql(semiSql)
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("__graft_rbin_ps"), s"semi should salt:\n$p")
        out = rowsOf(df)
      }
      out
    }
    val naive = withoutRules(BlockRangeJoins)(rowsOf(spark.sql(semiSql)))
    assert(salted == naive,
      s"salted=${salted.size} naive=${naive.size} (duplicates would mean " +
        "the semi left side exploded)")
    assert(salted.size == salted.distinct.size)
  }
}
