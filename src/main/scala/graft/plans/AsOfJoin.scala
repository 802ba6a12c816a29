package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.functions.col

/** A whole-operator as-of join, implemented down the full Catalyst ladder —
  * the (c) option of the custom-operator preference order (SURVEY.md §7.3,
  * spark guide): logical node → planner Strategy → physical exec.
  *
  * Semantics: for every left row, attach the latest right row of the same key
  * with right.time <= left.time (nulls when none) — exactly
  * [[graft.operators.Advanced.asofJoin]], which composes the same operator
  * from union+window and serves as its differential oracle (AsOfPlanSpec).
  *
  * Why a custom exec can be worth it at 100 TB: the composed form shuffles
  * left+right TOGETHER through one union and carries every left column
  * through the window stage; this exec declares ClusteredDistribution /
  * per-key sort requirements and EnsureRequirements plans each side its own
  * exchange — a plain co-partitioned sort-merge with a streaming one-pass
  * merge per partition, no union row-widening, no window state.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryNode {
  // right side is outer: every attribute becomes nullable
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Both sides hash-clustered on the key: EnsureRequirements inserts the
    * two exchanges and, because the distributions are declared together,
    * co-partitions them (the SortMergeJoin mechanism). */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  /** In-partition order (key, time) on both sides — one sort each, then the
    * merge is a single forward pass. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val rightWidth = right.output.size

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      // downstream operators (collect, filter, sort) require UnsafeRow —
      // a raw JoinedRow ClassCastExceptions at the first bare consumer
      val toUnsafe = UnsafeProjection.create(output, output)
      val rBuf = rIter.buffered
      var matchedKey: Any = null
      var matchedRow: InternalRow = null // last right row with time <= current left time

      lIter.map { lRow =>
        val k = lk.eval(lRow)
        val t = lt.eval(lRow)
        // drop the remembered match when the key moves on
        if (matchedRow != null && keyOrd.compare(matchedKey, k) != 0) {
          matchedRow = null; matchedKey = null
        }
        // advance the right side through all rows at-or-before (k, t)
        var advancing = true
        while (advancing && rBuf.hasNext) {
          val head = rBuf.head
          val hk = rk.eval(head)
          val ck = keyOrd.compare(hk, k)
          if (ck < 0) { rBuf.next() } // right key behind: skip (no left rows for it remain)
          else if (ck == 0 && timeOrd.compare(rt.eval(head), t) <= 0) {
            matchedRow = rBuf.next().copy() // buffered rows are reused: copy
            // re-derive the key from the copy: hk may point into the
            // iterator's reused buffer (UTF8String/struct keys) and be
            // invalidated on the next advance, e.g. after a sorter spill
            matchedKey = rk.eval(matchedRow)
          } else advancing = false
        }
        if (matchedRow != null) toUnsafe(joined(lRow, matchedRow))
        else toUnsafe(joined(lRow, nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule for the custom node: Catalyst's PushDownPredicates only
  * understands built-in operators, so a Filter sitting on an AsOfJoinPlan
  * would otherwise stay above it and the left scan would read everything.
  * Left-side conjuncts are safe to push (each left row joins independently);
  * right-side conjuncts are NOT (dropping right rows changes which row is
  * "latest") and stay above. */
object PushFilterThroughAsOf
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.And
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsOfJoinPlan) =>
      val (leftOnly, rest) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(a.left.outputSet))
      if (leftOnly.isEmpty) f
      else {
        val pushed = a.copy(left = Filter(leftOnly.reduce(And), a.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** User-facing API. */
object AsOf {

  /** As-of join via the custom operator. Right-side columns are re-aliased
    * with `suffix` (fresh exprIds — a self-join of one table would otherwise
    * carry conflicting attribute ids through the custom node). */
  def join(leftDf: DataFrame, rightDf: DataFrame, key: String, time: String,
      suffix: String = "_r"): DataFrame = {
    val spark = leftDf.sparkSession
    graft.Graft.installRules(spark) // no-op on a Graft.session session
    val renamed = rightDf.select(rightDf.columns.map(c =>
      col(c).as(c + suffix)): _*)
    val lPlan = GraftExpressionBridge.logicalPlan(leftDf)
    val rPlan = GraftExpressionBridge.logicalPlan(renamed)
    def attr(p: LogicalPlan, name: String): Expression =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${p.output.map(_.name)}"))
    GraftExpressionBridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      attr(lPlan, key), attr(rPlan, key + suffix),
      attr(lPlan, time), attr(rPlan, time + suffix)))
  }
}

/** SparkSessionExtensions entry point — the zero-code cluster install:
  * `spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions`
  * (or `.config(...)` on the builder) makes every custom operator strategy,
  * optimizer rule, and SQL function available without calling
  * [[graft.Graft.init]]. Kept in lockstep with the runtime path by sharing
  * [[graft.Graft.optimizerRules]], [[graft.Graft.strategies]] and
  * [[graft.Graft.sqlFunctions]]. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    graft.Graft.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
    graft.Graft.optimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
    graft.Graft.sqlFunctions.foreach { case (name, n, build) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.Graft", name),
        graft.Graft.checkedBuilder(name, n, build)))
    }
  }
}
