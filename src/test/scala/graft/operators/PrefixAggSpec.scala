package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.plans.DeferredResultPlan

/** Pins the prefix-aggregate trailing-window path as the optimizer plans a
  * plain range join plus group-by: the plan collapses to
  * [[graft.plans.RewriteRangeAggToPrefix]]'s prefix scan, with boundary
  * semantics (inclusive both ends, exclusive just past), agreement with the
  * pair-materializing binned join it replaces, and invariance under forced
  * partition counts (the offsets/monotonicity argument must hold however
  * the range sampler splits the key space). */
class PrefixAggSpec extends SparkSpec {
  import spark.implicits._

  /** Per left (id, t): count and sum of right (rt, cents) with rt in
    * [t - windowUs, t], written as the naive join the rule collapses. */
  private def trailing(left: DataFrame, right: DataFrame, windowUs: Long): DataFrame =
    left.join(right, col("rt") >= col("t") - windowUs && col("rt") <= col("t"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))

  /** Collects `df` ordered by id after asserting its plan collapsed: the
    * rule's deferred prefix scan, and no join left to materialize pairs. */
  private def collapsedRows(df: DataFrame): Seq[(Long, Long, Long)] = {
    val p = df.queryExecution.optimizedPlan
    assert(p.collectFirst { case d: DeferredResultPlan => d }.isDefined &&
      p.collectFirst { case j: Join => j }.isEmpty, p.toString)
    df.orderBy("id").as[(Long, Long, Long)].collect().toSeq
  }

  private def run(np: Int) = {
    val left = Seq((1L, 100L), (2L, 89L), (3L, 50L), (4L, -5L))
      .toDF("id", "t")
    val right = Seq((100L, 5L), (90L, 7L), (89L, 11L), (-10L, 3L))
      .toDF("rt", "cents")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", np.toString)
    try collapsedRows(trailing(left, right, 10L))
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("window bounds are inclusive at both ends, exclusive one past; " +
      "empty windows drop; negative timestamps bin correctly") {
    // id=1 t=100 W=10: rights at 100 and 90 in [90,100]; 89 is one past.
    // id=2 t=89: right at 89 only (90 > 89 excluded by the upper bound).
    // id=3 t=50: empty window -> absent (inner-join semantics).
    // id=4 t=-5: [-15,-5] catches the right at -10 (floor/negative path).
    assert(run(4) === Seq((1L, 2L, 12L), (2L, 1L, 11L), (4L, 1L, 3L)))
  }

  test("result is invariant under forced partition counts 1/5/17") {
    val expected = run(1)
    assert(run(5) === expected)
    assert(run(17) === expected)
  }

  test("prefix path agrees with the pair-materializing binned join at sf0.001") {
    val dir = sf("sf0.001")
    val e = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts_us"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("ts_us").as("s_ts_us"),
        floor(col("value") * 100d + 0.5d).cast("long").as("cents"))
    val viaJoin = Advanced.rangeJoinBinned(purchases, signups,
        "ts_us", "s_ts_us", 3600000000L)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy("event_id").as[(Long, Long, Long)].collect().toSeq
    val viaPrefix = collapsedRows(trailing(
      purchases.select(col("event_id").as("id"), col("ts_us").as("t")),
      signups.select(col("s_ts_us").as("rt"), col("cents")), 3600000000L))
    assert(viaPrefix.nonEmpty && viaPrefix === viaJoin)
  }
}
