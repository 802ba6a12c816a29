package graft

import graft.functions.RollingHash
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.Strategy

/** The user-facing facade: one call makes the whole engine reachable from
  * plain `spark.sql` — every driver table as a view, the custom expressions
  * as SQL functions, and the custom operators' planner strategy installed.
  * A reference user's "switch to this library" entry point.
  */
object Graft {

  /** Cores for the local master and the shuffle partition count:
    * `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Extra session confs from `SPARK_GRAFT_CONF` ("k=v;k=v"), applied last
    * by [[session]] at build time, so they override its defaults and static
    * SQL confs take effect in a fresh JVM. A dev aid for conf A/Bs: Bench stamps them
    * as `conf_overrides`, and `tools/bench_check.py` refuses such artifacts
    * unless re-admitted. */
  val confOverrides: Seq[(String, String)] =
    sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(';').toSeq
      .filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); k.trim -> v.trim
      }

  /** The one session builder: every main, the benchmark harness and the test
    * suites build their session here, so the configuration that ships is the
    * one that is measured and verified. spark-submit's `--master` and
    * `--conf` values arrive as system properties and win over the defaults
    * below; [[confOverrides]] win over both. The engine's rules, strategies
    * and SQL functions are installed before the session is returned. */
  def session(master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus): SparkSession = {
    val defaults = Seq(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      // r16: let AQE rewrite sort-merge to shuffled-hash at runtime when
      // every post-shuffle partition's map output fits the advisory
      // partition size — skips both sorts. Measured in-JVM interleaved A/B
      // (ConfAB, min-of-3/arm): 0.88-1.00x across 9 join queries at sf1 and
      // 8/10 at sf0.1, no loss past noise. Scale-safe by construction: the
      // decision is made from RUNTIME partition sizes, so partitions above
      // the threshold keep sort-merge; the per-task build is bounded by the
      // same 64m the AQE advisory uses ("0" restores pure sort-merge).
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
      // r16: size the generated-class cache to the catalog's working set.
      // Spark's default (100 entries) LRU-thrashes across 227 queries x
      // several codegen units each, so EVERY pass recompiles EVERY unit
      // (janino time charged to the query). ABAB full-catalog A/B, canary-
      // stable window: 127.7/136.5 s (default) vs 85.5/94.8 s (5000) —
      // 215/225 queries faster, median per-query ratio 0.62. This caches
      // compiled CODE keyed by generated source (an engine working-set
      // config, shared across identical subplans), never results; every
      // run still computes from parquet. Static conf, so set at build time.
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      // Offset-log, commit-log and state-store writes that fork no
      // processes on `file:` checkpoints (Spark's default forks about ten
      // per micro-batch per query without the Hadoop native library);
      // other schemes keep Spark's own manager.
      streaming.LocalCheckpointFileManager.ConfKey ->
        classOf[streaming.LocalCheckpointFileManager].getName,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val builder = SparkSession.builder().appName("graft")
    (defaults.filterNot { case (k, _) => sys.props.contains(k) } ++ confOverrides)
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    init(spark)
    spark
  }

  /** The engine's optimizer rules, in the order they run. The prefix
    * collapse must precede range-join binning: once a join is binned, the
    * aggregate shape above it no longer matches. Consumed by both [[init]]
    * (through [[installRules]]) and [[plans.GraftExtensions]]. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(
    plans.PushFilterThroughAsOf, plans.BlockHaversineJoins,
    plans.RewriteRangeAggToPrefix, plans.BlockRangeJoins)

  /** The planner strategies for the engine's custom logical nodes. */
  val strategies: Seq[Strategy] = Seq(
    plans.AsOfJoinStrategy, plans.DeferredStrategy)

  /** Idempotently install [[optimizerRules]] and [[strategies]] on a session,
    * in list order; a no-op when all are present. [[init]] calls it, and so
    * do the two constructors that emit custom logical nodes (`AsOf.join`,
    * `Deferred.dataFrame`), so those nodes plan on any session. */
  def installRules(spark: SparkSession): Unit = {
    val x = spark.experimental
    if (!optimizerRules.forall(x.extraOptimizations.contains))
      x.extraOptimizations =
        x.extraOptimizations.filterNot(optimizerRules.contains) ++ optimizerRules
    if (!strategies.forall(x.extraStrategies.contains))
      x.extraStrategies =
        x.extraStrategies.filterNot(strategies.contains) ++ strategies
  }

  /** (name, arity, builder) for every engine SQL function — consumed by both
    * [[init]] (runtime temp-function registration) and
    * [[plans.GraftExtensions]] (build-time `spark.sql.extensions` injection),
    * so the two integration paths can't drift. */
  val sqlFunctions: Seq[(String, Int,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    ("rolling_hash", 1, exprs => RollingHash(exprs.head)),
    ("rolling_hash2", 1, exprs =>
      RollingHash(exprs.head, RollingHash.Mult2, RollingHash.Mod2)),
    ("dot_product", 2, exprs => functions.DotProduct(exprs(0), exprs(1))),
    ("haversine_km", 4, exprs =>
      operators.Geo.haversineExpr(exprs(0), exprs(1), exprs(2), exprs(3))),
    ("zvalue", 2, exprs => functions.ZValue(exprs(0), exprs(1))),
    // n must be a literal: the window width is a codegen-time constant
    ("shingle_hashes", 2, exprs => {
      val nExpr = exprs(1)
      def bad(detail: String) = new IllegalArgumentException(
        s"shingle_hashes(text, n): n must be a positive integer literal; $detail")
      if (!nExpr.foldable) throw bad(s"got non-foldable ${nExpr.sql}")
      val n = nExpr.eval() match {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long => l.intValue()
        case s: java.lang.Short => s.intValue()
        case b: java.lang.Byte => b.intValue()
        case other => throw bad(s"got ${if (other == null) "NULL" else other.toString}")
      }
      if (n <= 0) throw bad(s"got $n")
      functions.ShingleHashes(exprs(0), n)
    }))

  /** Arity-checking wrapper shared by both registration paths. */
  def checkedBuilder(name: String, n: Int,
      build: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression):
      Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression =
    exprs => {
      if (exprs.length != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map("functionName" -> name,
            "expectedNum" -> n.toString, "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(exprs)
    }

  /** Install SQL functions, rules and strategies on any session
    * (the runtime path; the equivalent build-time path is
    * `spark.sql.extensions=graft.plans.GraftExtensions`). */
  def init(spark: SparkSession): Unit = {
    // fail fast (with the fix named) if this JVM lacks the JDK17 module
    // opens the engine's one Kryo wire path needs at shuffle
    functions.KryoProbe.ensure()
    installRules(spark)
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    sqlFunctions.foreach { case (name, n, build) =>
      reg.createOrReplaceTempFunction(name,
        checkedBuilder(name, n, build), "scala_udf")
    }
  }

  /** Register every driver table under its name for SQL access. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach { t =>
      val df = if (t == "events") Tables.events(spark, dir)
        else Tables.table(spark, dir, t)
      df.createOrReplaceTempView(t)
    }

  /** Register the whole query catalog as temp views — every operator the
    * engine ships becomes `SELECT * FROM <name>` (views are lazy; nothing
    * executes until queried — builders with driver-side actions, e.g. the
    * dedup-cluster fixpoint, are wrapped in [[plans.Deferred]] so even those
    * run no jobs before first use; GraftFacadeSpec pins this). A reference
    * user's SQL-only migration path. */
  def registerQueries(spark: SparkSession, dir: String): Unit =
    SparkEntry.catalog.foreach(q => q.run(spark, dir).createOrReplaceTempView(q.name))
}
