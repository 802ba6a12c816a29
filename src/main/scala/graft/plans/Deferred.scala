package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.types.StructType

/** A thunk-backed logical leaf: declares its schema immediately, defers
  * building (and any driver-side work the build entails) until the plan is
  * EXECUTED. This is what lets the SQL facade register every catalog query as
  * a temp view without running any of them: a handful of operators — the
  * dedup-cluster label-propagation fixpoint, the synthesized-AIS pipeline —
  * cannot express their full computation as one static Catalyst plan (they
  * run counts/iterate on the driver), so their *builders* are eager. Wrapped
  * in this node, that eagerness moves to first action, which is what a lazy
  * view promises.
  *
  * Trade-off (documented, deliberate): the node is opaque to Catalyst — no
  * predicate pushdown through it. The wrapped operators are terminal results
  * (fixpoint labels, an enriched mapPartitions pipeline) where pushdown below
  * the wrapped boundary is impossible anyway.
  */
case class DeferredResultPlan(
    output: Seq[Attribute],
    build: () => DataFrame) extends LeafNode {
  // no size information until built: advertise the conservative default so
  // the optimizer never auto-broadcasts an unbuilt result
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = conf.defaultSizeInBytes)
}

object DeferredStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeferredResultPlan(out, build) => DeferredExec(out, build) :: Nil
    case _ => Nil
  }
}

/** `build` and its result are driver-side and transient: whole-stage
  * codegen above this node (a Sort's generated code references its plan)
  * serializes the plan tree into tasks, and the thunk may capture plans over
  * file relations that do not serialize. Executors never run this node. */
case class DeferredExec(
    output: Seq[Attribute],
    @transient build: () => DataFrame) extends LeafExecNode {

  /** Runs the thunk (which may itself submit Spark jobs — the same nested-job
    * pattern subquery and broadcast execution use) and hands back its rows.
    * The built plan's columns must match the declared output positionally by
    * dataType, and a column declared non-nullable must be non-nullable in the
    * built schema (codegen above this node may assume non-null); names are
    * the declaration's. The built RDD is memoized so repeated executions of
    * this node (multiple actions on one view reference) pay the driver-side
    * build once. */
  @transient private lazy val builtRdd: RDD[InternalRow] = {
    val df = build()
    val got = df.schema
    val want = output
    require(got.map(_.dataType) == want.map(_.dataType),
      s"deferred result schema drifted: built ${got.map(_.dataType)}, " +
        s"declared ${want.map(_.dataType)}")
    got.zip(want).foreach { case (b, w) =>
      require(w.nullable || !b.nullable,
        s"deferred column ${w.name} declared non-nullable but built nullable")
    }
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
    // dev-only plan evidence (r17): a Deferred-wrapped query's ExplainDump
    // output is an 8-line stub — the real plan lives HERE, in the built
    // DataFrame. When the debug conf is set (ExplainDump --exec sets it),
    // execute the inner QueryExecution and dump its FINAL adaptive plan
    // alongside the stub. Unset (bench/verify), this is a no-op.
    df.sparkSession.conf.getOption("spark.graft.debug.deferredPlanDir")
      .foreach { d =>
        qe.toRdd.count()
        val tag = df.sparkSession.conf
          .getOption("spark.graft.debug.deferredPlanTag").getOrElse("deferred")
        val idx = DeferredExec.dumpCounter.incrementAndGet()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$d/${tag}_inner$idx.txt"),
          qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            .getBytes("UTF-8"))
      }
    qe.toRdd
  }

  override protected def doExecute(): RDD[InternalRow] = builtRdd
}

object DeferredExec {
  /** Distinguishes multiple Deferred nodes built under one dump tag. */
  val dumpCounter = new java.util.concurrent.atomic.AtomicLong
}

object Deferred {

  /** A lazy DataFrame with a known schema whose content is built by `build`
    * on first execution; the build is memoized per planned instance, so
    * re-executing one materialized plan does not re-run the builder (a fresh
    * query over the view plans a fresh instance and builds again — cache the
    * view's result if that matters). */
  def dataFrame(spark: SparkSession, schema: StructType,
      build: () => DataFrame): DataFrame = {
    graft.Graft.installRules(spark) // no-op on a Graft.session session
    val attrs = schema.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    GraftExpressionBridge.ofRows(spark, DeferredResultPlan(attrs, build))
  }
}
