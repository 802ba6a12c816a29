package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Optimizer rule that turns `GROUP BY a.k, count(*) / sum(b.x)` OVER a
  * trailing-window range join into a distributed prefix-aggregate plan —
  * the output-INDEPENDENT form of the query.
  *
  * [[BlockRangeJoins]] makes the naive inequality join tractable (binned
  * hash join instead of a nested loop), but the binned join is still
  * output-bound: it materializes every qualifying pair, and pairs grow with
  * density squared (measured: 15.2 s at sf10 -> 187 s at sf30 on this
  * catalog's range_join entries). When the join's ONLY consumer is a
  * decomposable aggregate, the pairs are never needed:
  *
  *   agg{ b : b.ts in [a.ts - C, a.ts] } = F(a.ts) - F(a.ts - C - 1)
  *
  * with F(t) the prefix aggregate over right rows with ts <= t. The rewrite
  * plans: union of right rows and two signed probe rows per left row ->
  * ONE range shuffle sorted on (ts, kind) -> per-partition running
  * aggregate with a |partitions|-row exclusive-prefix driver exchange ->
  * a 2|L|-row group-by on the left keys. Theta((|L|+|R|) log) regardless of
  * pair multiplicity (measured 4.0 s at sf30, flat where the join doubles
  * per density decade).
  *
  * Eligibility (all checked, else the node is left for [[BlockRangeJoins]]):
  *   - Inner join whose condition is EXACTLY the two window conjuncts
  *     (`b >= a - C` and `b <= a`, either spelling; strict `>`/`<` are
  *     eligible too and are handled by SHIFTING the probe points — exact on
  *     the integral LongType endpoints: `b > a-C` means window [a-C+1, a] so
  *     the lower probe moves to F(a-C), `b < a` moves the upper probe to
  *     F(a-1) — never by widening to the closed window, which would
  *     silently include the boundary rows the strict predicate excludes)
  *     on BIGINT-micros or TIMESTAMP endpoints (timestamps run the same
  *     Long plan through the monotone `unix_micros` view — one µs is one
  *     integral tick, so strictness shifts transfer; the INTERVAL constant
  *     is already micros), one side each — an extra cross-side predicate
  *     or equi-key disqualifies (a keyed window is the as-of shape);
  *   - grouping keys are attributes of the PROBE side (the side owning the
  *     window end `a`);
  *   - every aggregate is `count(<non-null literal>)` (count(*) included),
  *     `count(<integral expr over the scanned side>)` (the non-null count —
  *     the `__z` prefix the sum/avg legs already carry),
  *     `sum(<expr over the scanned side>)` of integral type, or
  *     `avg(<same>)` — sums run as exact Long prefix sums (order-free;
  *     overflow raises via Math.addExact where the hash aggregate would
  *     silently wrap) and avg is the sum/non-null-count composition with
  *     ONE final IEEE division, so DOUBLE sums are deliberately NOT
  *     eligible: a prefix difference of IEEE partial sums is
  *     summation-order-dependent in exactly the way this repo's Num
  *     discipline exists to forbid;
  *   - no DISTINCT, no FILTER clauses, non-empty grouping (a global
  *     aggregate over an inner join emits a count=0 row on empty input,
  *     which the prefix form's "groups with matches" shape can't mirror).
  *
  * Null semantics match SQL by construction:
  *   - right rows with NULL ts sort first under the range partitioning,
  *     so BOTH probes of every left row include them and the signed
  *     difference cancels them — as does a NULL probe endpoint (its two
  *     probes coincide);
  *   - `sum` skips NULL values and returns NULL for an all-NULL window:
  *     the scan carries a non-null count per sum column and the final
  *     projection emits NULL when it is zero;
  *   - groups exist iff the window matched >= 1 right row (inner join).
  *
  * Correctness of the scan:
  *   - the sort key is (ts, kind) with right rows at kind 0 and probes at
  *     kind 1, so at equal ts a probe sees every right row: the upper bound
  *     is inclusive;
  *   - range partitioning on that full sort key is monotone: every row
  *     ordered before a probe lands in the same or an earlier partition, so
  *     the partition's exclusive offset plus its local scan is exactly F at
  *     the probe, however the range sampler splits the key space;
  *   - sums run in exact Long arithmetic with Math.addExact, so overflow
  *     is loud, never silent; a prefix of integer cents overflows only
  *     past ~9e16 value units of corpus mass;
  *   - a left row whose window is empty gets F - F = 0 and is filtered,
  *     matching the inner join's absent rows.
  *
  * The produced node is a [[DeferredResultPlan]]: the exclusive-prefix
  * offsets are a driver-side collect that must run at first ACTION, inside
  * execution — the same nested-job pattern broadcast exchange uses.
  */
object RewriteRangeAggToPrefix extends Rule[LogicalPlan] with PredicateHelper {

  import BlockRangeJoins.{Lower, Upper}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
  }

  private case class WindowJoin(aPlan: LogicalPlan, bPlan: LogicalPlan,
      aTs: Expression, bTs: Expression, c: Long,
      lowerStrict: Boolean, upperStrict: Boolean)

  /** [[BlockRangeJoins.Lower]]/[[Upper]] deliberately also match the strict
    * `>` / `<` spellings (the binning rule keeps the original predicate as a
    * residual filter, so candidates at the boundary are re-checked). This
    * rewrite REPLACES the predicate with probe arithmetic, so strictness
    * must be carried, not assumed away: it is simply the comparison node's
    * class, read before the extractor normalizes the shape. */
  private def isStrict(e: Expression): Boolean = e match {
    case _: GreaterThan | _: LessThan => true
    case _ => false
  }


  private def matchJoin(j: Join): Option[WindowJoin] = j match {
    case Join(l, r, Inner, Some(cond), _) =>
      val conj = splitConjunctivePredicates(cond)
      if (conj.length != 2 || !conj.forall(_.deterministic)) return None
      def side(e: Expression): Option[Boolean] = {
        val refs = e.references
        if (refs.isEmpty) None
        else if (refs.subsetOf(l.outputSet)) Some(true)
        else if (refs.subsetOf(r.outputSet)) Some(false)
        else None
      }
      val lowers = conj.collect { case e @ Lower(b, a, c) => (b, a, c, isStrict(e)) }
      val uppers = conj.collect { case e @ Upper(b, a) => (b, a, isStrict(e)) }
      lowers.collectFirst {
        case (b, a, c, lowStrict)
            if BlockRangeJoins.windowableTypes(b, a) &&
              side(b).isDefined && side(a).isDefined && side(b) != side(a) &&
              uppers.exists(u =>
                u._1.semanticEquals(b) && u._2.semanticEquals(a)) =>
          val upStrict = uppers.find(u =>
            u._1.semanticEquals(b) && u._2.semanticEquals(a)).get._3
          val (aPlan, bPlan) = if (side(a).get) (l, r) else (r, l)
          WindowJoin(aPlan, bPlan, a, b, c, lowStrict, upStrict)
      }
    case _ => None
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val join = agg.child match {
      case j: Join => j
      case Project(list, j: Join)
          if list.forall(_.isInstanceOf[AttributeReference]) => j
      case _ => return None
    }
    val wj = matchJoin(join).getOrElse(return None)
    if (agg.groupingExpressions.isEmpty) return None
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if wj.aPlan.outputSet.contains(a) => a
      case _ => return None
    }
    // Rewrite every output column as an expression over the prefix plan's
    // columns (__g<i> keys, __n row-count, __s<j>/__z<j> per-sum exact sum +
    // non-null count). Arbitrary deterministic scalar trees over grouping
    // attrs and eligible aggregates are allowed — CollapseProject folds
    // user projections like `floor(avg(x)*1e4+0.5)/1e4` INTO the Aggregate
    // before this rule runs, so a leaf-only matcher would silently miss
    // wrapped shapes that are perfectly collapsible.
    val sumExprs = scala.collection.mutable.ArrayBuffer.empty[Expression]
    // per sumExpr: does any output leg need its VALUE sum? count-only legs
    // need just the non-null count __z — skipping their Math.addExact keeps
    // `count(b.ts_us)` from spuriously overflowing on values no one sums
    val needsSum = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    def sumIdx(child: Expression, needSum: Boolean): Int = {
      val idx = sumExprs.indexWhere(_.semanticEquals(child))
      if (idx >= 0) { needsSum(idx) = needsSum(idx) || needSum; idx }
      else { sumExprs += child; needsSum += needSum; sumExprs.length - 1 }
    }
    def integralOnScan(child: Expression): Boolean =
      (child.dataType == LongType || child.dataType == IntegerType) &&
        child.deterministic && child.references.subsetOf(wj.bPlan.outputSet)
    def u(name: String): Expression =
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(name))
    def rw(e: Expression): Option[Expression] = e match {
      case AggregateExpression(Count(Seq(l: Literal)), _, false, None, _)
          if l.value != null =>
        Some(Coalesce(Seq(u("__n"), Literal(0L))))
      case AggregateExpression(Count(Seq(child)), _, false, None, _)
          if integralOnScan(child) =>
        // count(<scanned-side col>) counts NON-NULL values — exactly the
        // __z prefix the sum/avg legs already carry (0 for an all-NULL
        // window, while the group still exists because the join matched)
        Some(Coalesce(Seq(u(s"__z${sumIdx(child, needSum = false)}"), Literal(0L))))
      case AggregateExpression(s: Sum, _, false, None, _)
          if integralOnScan(s.child) =>
        val j = sumIdx(s.child, needSum = true)
        Some(If(EqualTo(u(s"__z$j"), Literal(0L)),
          Literal(null, LongType), u(s"__s$j")))
      case AggregateExpression(av: Average, _, false, None, _)
          if integralOnScan(av.child) =>
        // avg(integral) = exact Long window-sum / non-null count with ONE
        // IEEE division (order-free, unlike the native double-buffer
        // Average); NULL for an all-NULL window, same as SQL avg
        val j = sumIdx(av.child, needSum = true)
        Some(If(EqualTo(u(s"__z$j"), Literal(0L)),
          Literal(null, DoubleType),
          Divide(Cast(u(s"__s$j"), DoubleType), Cast(u(s"__z$j"), DoubleType))))
      case _: AggregateExpression => None // DISTINCT/FILTER/other functions
      case _: SubqueryExpression => None // carries its own plan; don't move it
      case a: AttributeReference =>
        val i = groupAttrs.indexWhere(_.semanticEquals(a))
        if (i >= 0) Some(u(s"__g$i")) else None
      case other if !other.deterministic => None
      case other if other.children.isEmpty => Some(other)
      case other =>
        val kids = other.children.map(rw)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
    }
    val outExprs: Seq[Expression] = agg.aggregateExpressions.map { ne =>
      val stripped = ne match { case Alias(c, _) => c; case other => other }
      rw(stripped).getOrElse(return None)
    }
    val spark = SparkSession.active
    Some(DeferredResultPlan(agg.output, () =>
      build(spark, wj, groupAttrs, sumExprs.toSeq, needsSum.toSeq, outExprs)))
  }

  /** Adds one right row to a running prefix: for each sum column whose
    * value (at `base + j`) is non-null, its non-null count and, when a leg
    * needs it, its exact sum. Both passes of [[build]] call this, so the
    * partition totals and the per-probe deltas accumulate the same way. */
  private def addRight(r: Row, base: Int, sumFlags: Array[Boolean],
      s: Array[Long], z: Array[Long]): Unit = {
    var j = 0
    while (j < s.length) {
      if (!r.isNullAt(base + j)) {
        if (sumFlags(j)) s(j) = Math.addExact(s(j), r.getLong(base + j))
        z(j) += 1L
      }
      j += 1
    }
  }

  /** The executed prefix plan: pass 1 collects each range partition's
    * right-row totals into exclusive prefix offsets; pass 2 runs the
    * prefix from its partition's offset and emits signed deltas at the
    * probes; a group-by on the left keys sums the deltas. */
  private def build(spark: SparkSession, wj: WindowJoin,
      groupAttrs: Seq[AttributeReference], sumExprs: Seq[Expression],
      needsSum: Seq[Boolean], outExprs: Seq[Expression]): DataFrame = {
    val aDf = GraftExpressionBridge.ofRows(spark, wj.aPlan)
    val bDf = GraftExpressionBridge.ofRows(spark, wj.bPlan)
    val m = groupAttrs.length; val k = sumExprs.length
    val sumFlags: Array[Boolean] = needsSum.toArray
    def colOf(e: Expression): Column = GraftExpressionBridge.column(e)
    // Timestamp endpoints ride the SAME Long plan: unix_micros is a
    // monotone bijection on the µs-resolution TimestampType, so the range
    // partitioning, probe arithmetic, and strictness shifts (1 µs = one
    // integral tick) all transfer unchanged; NULL maps to NULL.
    val bRows = bDf.select(
      colOf(BlockRangeJoins.micros(wj.bTs)).as("__t") +:
        lit(0).as("__kind") +: lit(0L).as("__sign") +:
        (groupAttrs.zipWithIndex.map { case (g, i) =>
          lit(null).cast(g.dataType).as(s"__g$i") } ++
          sumExprs.zipWithIndex.map { case (e, j) =>
            colOf(e).cast(LongType).as(s"__v$j") }): _*)
    val aBase = aDf.select(colOf(BlockRangeJoins.micros(wj.aTs)).as("__ta") +:
      groupAttrs.zipWithIndex.map { case (g, i) => colOf(g).as(s"__g$i") }: _*)
    def probe(t: Column, sign: Long) = aBase.select(
      t.as("__t") +: lit(1).as("__kind") +: lit(sign).as("__sign") +:
        ((0 until m).map(i => col(s"__g$i")) ++
          (0 until k).map(j => lit(null).cast(LongType).as(s"__v$j"))): _*)
    // Probe points for the window [lo, hi]: +F(hi) - F(lo - 1). Closed
    // bounds give [a-C, a]; a strict bound shrinks its end by exactly one
    // integral tick (b > a-C  <=>  b >= a-C+1;  b < a  <=>  b <= a-1).
    val hiOff = if (wj.upperStrict) 1L else 0L
    val loProbe = wj.c + 1L - (if (wj.lowerStrict) 1L else 0L)
    val union = bRows
      .unionAll(probe(col("__ta") - hiOff, 1L))
      .unionAll(probe(col("__ta") - loProbe, -1L))
    val np = spark.sessionState.conf.numShufflePartitions
    val ranged = union.repartitionByRange(np, col("__t"), col("__kind"))
      .sortWithinPartitions(col("__t"), col("__kind"))
    // row layout: 0=__t, 1=__kind, 2=__sign, 3..3+m-1 keys, 3+m.. sums.
    // Both passes read this one RDD, so the range shuffle's map output is
    // computed once; only the partition-local sort runs twice.
    val rdd = ranged.rdd
    val totals = rdd.mapPartitionsWithIndex { (i, it) =>
      var n = 0L; val s = new Array[Long](k); val z = new Array[Long](k)
      it.foreach { r =>
        if (r.getInt(1) == 0) { n += 1L; addRight(r, 3 + m, sumFlags, s, z) }
      }
      Iterator((i, n, s, z))
    }.collect().sortBy(_._1)
    val offN = new Array[Long](np)
    val offS = Array.fill(np)(new Array[Long](k))
    val offZ = Array.fill(np)(new Array[Long](k))
    var accN = 0L; val accS = new Array[Long](k); val accZ = new Array[Long](k)
    totals.foreach { case (i, n, s, z) =>
      offN(i) = accN; offS(i) = accS.clone(); offZ(i) = accZ.clone()
      accN = Math.addExact(accN, n)
      var j = 0
      while (j < k) {
        accS(j) = Math.addExact(accS(j), s(j)); accZ(j) += z(j); j += 1
      }
    }
    val bc = spark.sparkContext.broadcast((offN, offS, offZ))
    val deltas = rdd.mapPartitionsWithIndex { (i, it) =>
      var n = bc.value._1(i)
      val s = bc.value._2(i).clone(); val z = bc.value._3(i).clone()
      it.flatMap { r =>
        if (r.getInt(1) == 0) {
          n += 1L; addRight(r, 3 + m, sumFlags, s, z)
          Iterator.empty
        } else {
          val sign = r.getLong(2)
          val vals = new Array[Any](m + 1 + 2 * k)
          var i2 = 0
          while (i2 < m) { vals(i2) = r.get(3 + i2); i2 += 1 }
          vals(m) = sign * n
          var j = 0
          while (j < k) {
            vals(m + 1 + 2 * j) = sign * s(j)
            vals(m + 2 + 2 * j) = sign * z(j)
            j += 1
          }
          Iterator(Row.fromSeq(vals.toIndexedSeq))
        }
      }
    }
    val schema = StructType(
      groupAttrs.zipWithIndex.map { case (g, i) =>
        StructField(s"__g$i", g.dataType, g.nullable) } ++
        Seq(StructField("__dn", LongType, nullable = false)) ++
        (0 until k).flatMap(j => Seq(
          StructField(s"__ds$j", LongType, nullable = false),
          StructField(s"__dz$j", LongType, nullable = false))))
    val grouped = spark.createDataFrame(deltas, schema)
      .groupBy((0 until m).map(i => col(s"__g$i")): _*)
      .agg(sum(col("__dn")).as("__n"),
        (0 until k).flatMap(j => Seq(sum(col(s"__ds$j")).as(s"__s$j"),
          sum(col(s"__dz$j")).as(s"__z$j"))): _*)
      .filter(col("__n") > 0)
    // outExprs reference __g<i>/__n/__s<j>/__z<j> as unresolved attributes;
    // this select resolves them against `grouped` (DeferredResultPlan maps
    // the result positionally onto the original Aggregate's output)
    grouped.select(outExprs.map(e => GraftExpressionBridge.column(e)): _*)
  }
}
