package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, CreateArray, EqualTo, Explode, Expression, Literal, Pmod, XxHash64}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, JoinHint, LogicalPlan, Project, Sample}
import org.apache.spark.sql.functions.{approx_count_distinct, col, count, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, BooleanType, DateType, LongType, NumericType, StringType, TimestampNTZType, TimestampType}

/** Shared plumbing for the engine's plan-time stats probes: the auto-salt
  * probes in [[BlockRangeJoins]] and [[BlockHaversineJoins]] and
  * [[preferMergeFewKeys]]. One fail-safe memoized [[probe]], bounded-cost
  * sampling, the salt gate and factor, the salted-join builder and the
  * merge-preference rule. Each join rule keeps only its matcher and
  * rewrite, its per-key mass query and its cheaper-side formula.
  */
private[graft] object ProbeUtil {

  /** Access-ordered LRU memo capped at `cap` entries — a hot explain/
    * execute/bench loop re-optimizes the same query many times and must
    * hit, while a long-lived session planning many distinct joins evicts
    * the COLDEST entry instead of wiping the table (the r15 `clear()`
    * dropped hot entries wholesale past the cap). */
  final class Memo[K, V](cap: Int) {
    private val m = new java.util.LinkedHashMap[K, V](cap, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > cap
    }
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
  }

  /** Re-entrancy guard: a probe executes plans whose own optimization can
    * reach a probing rule again (a nested range or radius join) — the inner
    * call must decline, not probe recursively. */
  private val probing = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** The one way to run a plan-time probe: memoized on `key`, declined
    * (None) when called from inside another probe, and never failing the
    * query. A throwing `compute` is memoized as None — the same plan would
    * fail the same way. An interrupted one (a cancelled planning thread)
    * declines without memoizing, so the NEXT plan gets a real probe, and
    * restores the thread's interrupt flag. Memo keys carry the children's
    * semantic hashes plus the [[fingerprint]]: a hash collision can only
    * mis-pick between two CORRECT plans, and appended data re-probes. */
  def probe[K, V](memo: Memo[K, Option[V]], key: K)(
      compute: => Option[V]): Option[V] =
    if (probing.get()) None
    else memo.get(key).getOrElse {
      probing.set(true)
      try {
        val v = compute
        memo.put(key, v)
        v
      } catch {
        case _: InterruptedException =>
          Thread.currentThread().interrupt()
          None
        case NonFatal(_) =>
          memo.put(key, None)
          None
      } finally probing.set(false)
    }

  /** Data fingerprint for the memo key: the same size estimate the
    * planner's broadcast decision uses. Appending files behind a
    * semantically identical plan changes it, so skew stats never outlive
    * the data they measured (ADVICE r15). */
  def fingerprint(l: LogicalPlan, r: LogicalPlan): Long =
    31L * l.stats.sizeInBytes.hashCode() + r.stats.sizeInBytes.hashCode()

  /** Row estimate from plan stats: sizeInBytes over the schema's default
    * row width. Parquet compression makes sizeInBytes an UNDERestimate of
    * in-memory bytes per row, so this errs toward estimating FEWER rows —
    * i.e. toward sampling less aggressively, never toward starving the
    * probe. */
  def estRows(p: LogicalPlan): Double = {
    val w = math.max(1, p.output.map(_.dataType.defaultSize).sum)
    p.stats.sizeInBytes.toDouble / w
  }

  /** Bernoulli-sample a probe child estimated well past
    * `spark.graft.autoSalt.probe.targetRows` (default 1M) rows, returning
    * the (possibly wrapped) plan and the count scale 1/f.
    *
    * What this bounds — and what it doesn't: the per-row group-by work and
    * the probe's shuffle shrink by f, which is what dominates the probe at
    * bench scales; the underlying column scan still decodes every row
    * (Bernoulli sampling cannot skip IO), which at cluster scale is a
    * parallel 1-column scan. The trigger only needs a SHARE estimate with
    * ~5% resolution against regimes separated by two orders of magnitude
    * (natural corpus max share 0.23% vs the 5% floor vs planted 15-93%),
    * so a million-row sample is far past concentration; observed-bin
    * undercount (empty sampled bins vanish) only lowers `share*nbins`,
    * making the skew-ratio test CONSERVATIVE. */
  def sampled(p: LogicalPlan): (LogicalPlan, Double) = {
    val targetRows = SQLConf.get.getConfString(
      "spark.graft.autoSalt.probe.targetRows", "1000000").toDouble
    val est = estRows(p)
    if (est <= 2 * targetRows) (p, 1.0)
    else {
      val f = math.max(targetRows / est, 1e-4)
      (Sample(0.0, f, withReplacement = false, seed = 42L, p), 1.0 / f)
    }
  }

  // ------------------------------------------------------------ auto-salt

  /** S and which side carries the per-row salt (the other explodes S). */
  final case class SaltChoice(s: Int, saltOnLeft: Boolean)

  /** The hot-key trigger: the hottest key holds at least `HotShareMin` of
    * the candidate mass AND at least `SkewRatioMin` times the uniform share
    * (share x keys), so a handful of keys where one naturally dominates
    * never salts. */
  private val HotShareMin = 0.05
  private val SkewRatioMin = 8.0

  /** The gate in front of a join rule's salt probe; returns the session to
    * probe with. It declines when:
    *   - `<prefix>.enabled` is false;
    *   - a side is broadcastable. A broadcast hash join has no stream-side
    *     key skew (hot rows probe the broadcast table wherever they sit in
    *     the input splits), so salting there is pure S-fold overhead —
    *     MEASURED: the sf1 planted-hot-cell A/B planned BHJ and salting
    *     lost 23% (BENCH_NOTES r15). Same size estimate JoinSelection uses,
    *     so the guard mirrors the actual plan choice — including the
    *     join-type asymmetry: Semi/Anti can only BUILD on the right, so a
    *     small LEFT must not suppress the lever there (ADVICE r15);
    *   - there is no active session;
    *   - the plan is a micro-batch's. There the streaming side has been
    *     substituted with THIS batch's relation, so the probe would run as
    *     a blocking job on EVERY trigger against fresh data (no memo hit),
    *     which no per-batch salting win amortizes. Streaming plans keep the
    *     blocked rewrite, never the salt (both salt specs pin it).
    * Re-entrant calls are declined by [[probe]]. */
  def saltSession(prefix: String, l: LogicalPlan, r: LogicalPlan,
      jt: JoinType): Option[SparkSession] = {
    val conf = SQLConf.get
    val bcast = conf.autoBroadcastJoinThreshold
    val bhj = bcast > 0 && (r.stats.sizeInBytes <= bcast ||
      (jt == Inner && l.stats.sizeInBytes <= bcast))
    if (!conf.getConfString(s"$prefix.enabled", "true").toBoolean || bhj) None
    else SparkSession.getActiveSession.filter(
      _.sparkContext.getLocalProperty("sql.streaming.queryId") == null)
  }

  /** The salt factor when the hottest key's `share` of the candidate mass
    * over `nKeys` keys fires the trigger, else None. S is the share-adaptive
    * [[adaptiveFactor]] unless `<prefix>.factor` pins it (<= 1 disables).
    * Adaptive is the default since r16 (A/B-measured at sf30 on the range
    * rule): it beats the fixed r14 knee S=8 at BOTH planted fracs — share
    * 0.15: 66.7 s (S=10) vs 88.0 s; share 0.81: 431.9 s (S=53) vs 1050.9 s
    * (S=8, task_max = the whole stage) — and the sf10 spatial transfer A/B
    * agrees (BENCH_NOTES r16). */
  def saltFactor(prefix: String, share: Double, nKeys: Long): Option[Int] = {
    val pinned = SQLConf.get.getConfString(s"$prefix.factor", "")
    val s = if (pinned.nonEmpty) pinned.toInt else adaptiveFactor(share)
    if (share < HotShareMin || share * nKeys < SkewRatioMin || s <= 1) None
    else Some(s)
  }

  /** Adaptive salt factor (verdict r15 item 8): leveling the hot bin's
    * candidate mass (share s of the total) against the rest of the stage
    * wants its S sub-tasks no bigger than a uniform task — S ~= s x
    * parallelism — with a 2x margin because the salted side also pays the
    * S-fold duplication. Clamped to [2, 64]; at the r14 planted corpus
    * (share 0.15, local[32]) this lands on 10 vs the measured knee 8. */
  def adaptiveFactor(share: Double): Int = {
    val p = SparkSession.getActiveSession
      .map(_.sparkContext.defaultParallelism).getOrElse(32)
    math.min(64, math.max(2, math.ceil(share * p * 2.0).toInt))
  }

  /** Per-row salt input: every atomic output column (xxhash64 over the ROW,
    * row-unique up to exact duplicates — never the key column alone, so
    * rows sharing one hot literal key value still split across salts).
    * Falls back to `fallback` if a pathological projection leaves no
    * atomic columns. */
  def saltHashInput(out: Seq[Attribute], fallback: Seq[Expression])
      : Seq[Expression] = {
    val atomic = out.filter(a => a.dataType match {
      case _: NumericType | StringType | BinaryType | BooleanType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })
    if (atomic.nonEmpty) atomic else fallback
  }

  /** The salted twin of a blocked equi-join, `Project(out, Join(...))`.
    * `left`/`right` are the rule's keyed sides and `keyCond` its join
    * condition (the original predicate AND the key equalities). The side
    * `c.saltOnLeft` names carries the deterministic per-row salt
    * `<marker>_ps = pmod(xxhash64(<its hash input>), S)` (retry-stable: a
    * task retry re-derives the same value); the other side explodes all S
    * salts as `<marker>_s`; the condition gains their equality. A
    * qualifying pair still meets exactly once (one key row x one salt row).
    * `foldSalt` adds the per-row salt to the salted side's top Project
    * instead of stacking a Project on it (the range rule's plan shape). */
  def saltedJoin(marker: String, c: SaltChoice, left: LogicalPlan,
      right: LogicalPlan, leftHash: Seq[Expression],
      rightHash: Seq[Expression], keyCond: Expression, jt: JoinType,
      hint: JoinHint, out: Seq[Attribute], foldSalt: Boolean): LogicalPlan = {
    val ps = Alias(Pmod(
      new XxHash64(if (c.saltOnLeft) leftHash else rightHash, 42L),
      Literal(c.s.toLong)), s"${marker}_ps")()
    val saltAttr = AttributeReference(s"${marker}_s", LongType,
      nullable = false)()
    def perRow(p: LogicalPlan): LogicalPlan = p match {
      case Project(list, child) if foldSalt => Project(list :+ ps, child)
      case _ => Project(p.output :+ ps, p)
    }
    def allSalts(p: LogicalPlan): LogicalPlan =
      Generate(Explode(CreateArray((0 until c.s).map(i => Literal(i.toLong)))),
        Nil, outer = false, None, Seq(saltAttr), p)
    val join =
      if (c.saltOnLeft)
        Join(perRow(left), allSalts(right), jt,
          Some(And(keyCond, EqualTo(ps.toAttribute, saltAttr))), hint)
      else
        Join(allSalts(left), perRow(right), jt,
          Some(And(keyCond, EqualTo(saltAttr, ps.toAttribute))), hint)
    Project(out, join)
  }

  // ------------------------------------------------------- merge preference

  private val MergeHint = "spark.graft.join.fewKeyMergeHint"

  /** `spark.graft.join.fewKeyMergeHint.enabled` (default true). */
  def mergeHintEnabled(conf: SQLConf): Boolean =
    conf.getConfString(s"$MergeHint.enabled", "true").toBoolean

  /** The one "prefer merge" rule, shared by [[preferMergeFewKeys]] and
    * [[BlockRangeJoins]]: at least `fewKeyMergeHint.rowsPerKeyMin`
    * (default 64) rows per key, and both probed sides (rows x row width)
    * beyond the broadcast threshold, so AQE's runtime broadcast conversion
    * stays available (a merge hint would forbid it). */
  def mergePreferred(conf: SQLConf, rowsPerKey: Double, l: LogicalPlan,
      lRows: Long, r: LogicalPlan, rRows: Long): Boolean = {
    val bcast = conf.autoBroadcastJoinThreshold
    def width(p: LogicalPlan) =
      math.max(8L, p.output.map(_.dataType.defaultSize.toLong).sum)
    rowsPerKey >= conf.getConfString(
        s"$MergeHint.rowsPerKeyMin", "64").toDouble &&
      (bcast <= 0 || (lRows * width(l) > bcast && rRows * width(r) > bcast))
  }

  /** Rows and (approximate) distinct bins per side. */
  private final case class KeyStats(
      lRows: Long, lBins: Long, rRows: Long, rBins: Long)

  /** Keyed by both sides' optimized-plan semantic hashes, the two bin
    * columns (Column equality ignores the call site) and the
    * [[fingerprint]]. */
  private val keyProbes =
    new Memo[(Int, Int, Int, Int, Long), Option[KeyStats]](64)

  /** r17 (guide §3.1; VERDICT r16 #2): should a bin-keyed equi-join pin the
    * sort-MERGE path instead of letting AQE's SMJ→SHJ rewrite
    * (`maxShuffledHashJoinLocalMapThreshold`) convert it?
    *
    * The r16 sf10 ConfAB found the rewrite's one pathology is KEY
    * CARDINALITY, not size: ~720 semantic hour-bins give the hash relation
    * huge per-key chains whose pointer-chasing loses 1.6-2.5x to the merge
    * path's sequential runs (session_overlap_join 17.1→43.4 s,
    * range_join_binned 18.1→29.0 s), while many-key blocked joins win
    * 1.25-2.3x under SHJ — and no size threshold separates the regimes
    * (16m kills both). Spark's rewrite sees partition bytes, never keys,
    * so the discriminator has to come from the engine: this probe counts
    * rows and (approximate) distinct bins per side and prefers merge when
    * BOTH sides average >= `rowsPerKeyMin` rows per key. The default bar
    * (64) sits in the measured sf10 gap: the SHJ-winning joins carry <= 9.3
    * rows/key (geo_encounters 9.3, fuzzy_blocked_pairs 1.5) and the
    * SHJ-losing ones >= 159 (session_overlap start-bin measure 159 / true
    * occupancy ~318, range_join_binned ~2800) — about the geometric middle
    * of the two-orders-of-magnitude regime split.
    *
    * A SHUFFLE_MERGE hint also forbids broadcast (JoinSelection consults
    * strategy hints before size-based selection), which is why r16 rejected
    * unconditional hints — range_join_binned legitimately broadcasts at
    * sf0.1. Two guards keep broadcast free to fire:
    *   - planner-estimate gate: if either side's `stats.sizeInBytes` is
    *     within `autoBroadcastJoinThreshold`, return false BEFORE probing —
    *     the judged-scale plans are untouched and the probe costs nothing;
    *   - runtime-size gate ([[mergePreferred]]): if either side's probed
    *     row count x its row width is within the threshold, return false —
    *     AQE's runtime broadcast conversion (actual sizes < static estimate
    *     after filters) stays available.
    *
    * Probe cost: one job, one LONG column per side, map-side partial
    * aggregation — a small fraction of the join's own two-sided multi-column
    * scan, paid only past the broadcast gate (i.e. only where the join
    * itself is expensive), and once per (plans, bins, data) through the
    * [[probe]] memo. Not sampled: Bernoulli sampling deflates
    * observed-distinct counts in the many-key regime, which would inflate
    * rows-per-key exactly where the hint must NOT fire; HLL's ~2% error is
    * harmless against an order-of-magnitude regime split. A failed probe
    * means "no hint", never a failed query. */
  def preferMergeFewKeys(left: DataFrame, right: DataFrame,
      leftBin: Column, rightBin: Column): Boolean = {
    val sc = left.sparkSession.sessionState.conf
    if (!mergeHintEnabled(sc)) return false
    val lp = left.queryExecution.optimizedPlan
    val rp = right.queryExecution.optimizedPlan
    val bcast = sc.autoBroadcastJoinThreshold
    if (bcast > 0 &&
        (lp.stats.sizeInBytes <= bcast || rp.stats.sizeInBytes <= bcast)) {
      return false
    }
    val key = (lp.semanticHash(), rp.semanticHash(), leftBin.hashCode(),
      rightBin.hashCode(), fingerprint(lp, rp))
    probe(keyProbes, key) {
      val stats = left.select(leftBin.cast("long").as("bin"), lit(0).as("side"))
        .unionByName(
          right.select(rightBin.cast("long").as("bin"), lit(1).as("side")))
        .groupBy(col("side"))
        .agg(count(lit(1)).as("rows"), approx_count_distinct(col("bin")).as("bins"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val (lRows, lBins) = stats.getOrElse(0, (0L, 1L))
      val (rRows, rBins) = stats.getOrElse(1, (0L, 1L))
      Some(KeyStats(lRows, lBins, rRows, rBins))
    }.exists { st =>
      val rpk = math.min(st.lRows.toDouble / math.max(1L, st.lBins),
        st.rRows.toDouble / math.max(1L, st.rBins))
      mergePreferred(sc, rpk, lp, st.lRows, rp, st.rRows)
    }
  }
}
