package graft.plans

import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, HintInfo, Join, LogicalPlan, Project, SHUFFLE_MERGE}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, sum}
import org.apache.spark.sql.types._

import ProbeUtil.SaltChoice

/** Optimizer rule that turns a naive trailing-window range join — plain SQL
  * `a JOIN b ON b.ts >= a.ts - C AND b.ts <= a.ts` (BETWEEN desugars to the
  * same pair; both BIGINT-micros `- C` and TIMESTAMP `- INTERVAL ...`
  * spellings match, the latter binned on `unix_micros`) — into the binned
  * equi-join
  * [[graft.operators.Advanced.rangeJoinBinned]] builds by hand: without an
  * equi-key Catalyst plans the full nested-loop product (quadratic;
  * unrunnable at 100 TB). The rule manufactures the key the optimizer can't
  * see: with bin width exactly C, a qualifying pair's endpoints sit in the
  * SAME or ADJACENT C-bins, so one side keeps its single bin and the other
  * explodes to its two candidate bins and ExtractEquiJoinKeys plans a hash
  * join; the untouched original predicate filters the candidates.
  *
  * Correctness by construction:
  *   - bins use FLOOR division `(x - pmod(x, C)) div C` (pmod is
  *     non-negative), so bin containment holds for negative timestamps too,
  *     where truncating `div` would floor the wrong way;
  *   - the two candidate bins are `bin` and `bin + 1` (resp. `bin - 1`) —
  *     always distinct, so an Inner pair meets on exactly one expansion row
  *     and no dedup is needed; Semi/Anti keep the LEFT side physically
  *     unique because only the right side ever explodes;
  *   - strict bounds (`<`, `>`) match too: their windows are subsets of the
  *     closed window the bins cover, and the residual enforces strictness.
  *
  * Skipped when the join already carries a cross-side equality — a keyed
  * range join (the as-of shape) hash-joins on that key already, and the
  * 2x expansion would only add work.
  *
  * ==Automatic hot-bin salting==
  *
  * The bins are SEMANTIC (width = the query's window constant), so when
  * traffic concentrates in one bin — the port-arrival regime real AIS
  * feeds exhibit; the events generator's uniform timestamps do not — that
  * bin's whole candidate product lands in ONE shuffle task and the stage
  * time degenerates to the hot task (measured on a planted 15%-hot-bin
  * corpus: 262.3 s unsalted vs 89.2 s salted at S=8 — 2.9x, hot task cut
  * 3.0x, identical output; see BENCH_NOTES r14, "bin-salting
  * experiment"). Since r15 the
  * rule fires that lever ITSELF: at rewrite time it runs one cheap per-bin
  * candidate-mass aggregate over the two children (a 1-column scan each,
  * Bernoulli-sampled past `spark.graft.autoSalt.probe.targetRows` rows and
  * memoized per child-plan pair + size fingerprint) and, when one bin holds
  * `>= 0.05` of the candidate mass AND `>= 8` times the uniform share
  * ([[ProbeUtil.saltFactor]]), emits the salted twin of the binned plan
  * ([[ProbeUtil.saltedJoin]]):
  *
  *   - one side carries a deterministic per-row salt
  *     `pmod(xxhash64(<all atomic columns>), S)` — hashed over the ROW,
  *     never the time column alone, so rows sharing one hot literal
  *     timestamp still split across salts (they collapse only for exact
  *     full-row duplicates, whose work is identical anyway);
  *   - the other side explodes all S salts (the retry-stable
  *     Skew.saltedCountSum discipline: the salt is deterministic, so task
  *     retries re-derive the same value);
  *   - the join key gains the salt equality, splitting the hot bin's work
  *     S ways. S defaults to the share-ADAPTIVE factor
  *     `clamp(share x parallelism x 2, 2, 64)` (r16 A/B: beats fixed 8 at
  *     both planted fracs, 2.4x at an 81% hot bin); an explicit
  *     `spark.graft.rangeJoin.autoSalt.factor` pins it.
  *
  * This lever is NOT redundant with AQE's OptimizeSkewedJoin: AQE splits a
  * skewed reducer PARTITION by map-output ranges, but measured at sf30 on
  * the planted 15%-hot-bin corpus even force-applied aggressive AQE skew
  * settings leave the hot SEMANTIC KEY in one task (233.3 s stock /
  * 225.1 s aggressive, task_max ~= wall in both) while the salted plan
  * runs 98.4 s — the salt splits the KEY, which no partition-level
  * splitter can (BENCH_NOTES r16).
  *
  * Pair identity: a qualifying pair still meets on exactly one expansion
  * row (unique bin match x unique salt match). For Semi/Anti the per-row
  * salt ALWAYS sits on the left so the left side stays physically unique;
  * for Inner the S-fold duplication goes to whichever side the probed row
  * counts say is cheaper (`S*|L| + 2|R|` vs `|L| + 2S*|R|`). The probe is
  * skipped (never failing the query) for plans whose children can't run
  * standalone (e.g. streaming), and
  * `spark.graft.rangeJoin.autoSalt.enabled=false` turns the whole lever
  * off.
  */
object BlockRangeJoins extends Rule[LogicalPlan] with PredicateHelper {

  private val Marker = "__graft_rbin"

  private[plans] def stripCast(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCast(c)
    case _ => e
  }

  /** b >= a - C in either spelling; also strict `>`. Yields (b, a, C).
    * Two shapes: BIGINT micros (`a - <long literal>`) and TIMESTAMP
    * (`a - INTERVAL ...`, which the analyzer+folding turn into
    * `TimestampAddInterval(a, <negative DayTimeIntervalType literal>)` —
    * day-time intervals are stored as Long MICROS, so C comes out in the
    * same unit either way). */
  private[plans] object Lower {
    def unapply(e: Expression): Option[(Expression, Expression, Long)] = {
      def sub(y: Expression): Option[(Expression, Long)] = stripCast(y) match {
        case Subtract(a, Literal(c: Long, LongType), _) if c > 0 =>
          Some((stripCast(a), c))
        case ta: TimestampAddInterval =>
          (ta.children(0), ta.children(1)) match {
            case (a, Literal(c: Long, _: DayTimeIntervalType)) if c < 0 =>
              Some((stripCast(a), -c))
            case _ => None
          }
        case _ => None
      }
      e match {
        case GreaterThanOrEqual(x, y) =>
          sub(y).map { case (a, c) => (stripCast(x), a, c) }
        case GreaterThan(x, y) =>
          sub(y).map { case (a, c) => (stripCast(x), a, c) }
        case LessThanOrEqual(y, x) =>
          sub(y).map { case (a, c) => (stripCast(x), a, c) }
        case LessThan(y, x) =>
          sub(y).map { case (a, c) => (stripCast(x), a, c) }
        case _ => None
      }
    }
  }

  /** b <= a in either spelling; also strict. Yields (b, a). */
  private[plans] object Upper {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case LessThanOrEqual(x, y) => Some((stripCast(x), stripCast(y)))
      case LessThan(x, y) => Some((stripCast(x), stripCast(y)))
      case GreaterThanOrEqual(y, x) => Some((stripCast(x), stripCast(y)))
      case GreaterThan(y, x) => Some((stripCast(x), stripCast(y)))
      case _ => None
    }
  }

  /** floor(x / c) for longs via the non-negative pmod. */
  private[plans] def floorDiv(x: Expression, c: Long): Expression =
    IntegralDivide(Subtract(x, Pmod(x, Literal(c))), Literal(c))

  /** The Long-micros view of a window endpoint: identity for BIGINT
    * columns, `unix_micros` for TIMESTAMP ones (NOT `cast(ts as bigint)`,
    * which is SECONDS and would silently coarsen the bins and — in the
    * prefix rewrite — the probe points themselves). */
  private[plans] def micros(x: Expression): Expression =
    if (x.dataType == TimestampType) UnixMicros(x) else x

  /** Both endpoints carry a type the rules can window over, same on both
    * sides: BIGINT micros or TIMESTAMP. */
  private[plans] def windowableTypes(b: Expression, a: Expression): Boolean =
    (b.dataType == LongType && a.dataType == LongType) ||
      (b.dataType == TimestampType && a.dataType == TimestampType)

  // ---------------------------------------------------------------- salting

  private val SaltConf = "spark.graft.rangeJoin.autoSalt"

  /** What the probe measured, conf-independent (the factor and merge-hint
    * confs apply at decision time, so a session changing them is honored
    * on a cache hit). `binSpan` = max bin - min bin + 1 over both (sampled)
    * sides — an upper bound on occupied-key cardinality that, unlike the
    * observed-bin count, does not deflate under sampling; dividing rows by
    * it UNDERestimates rows-per-key, which keeps the r17 merge-hint gate
    * conservative (sparse time ranges never get hinted). */
  private[plans] final case class ProbeStats(
      share: Double, nbins: Long, lRows: Long, rRows: Long, binSpan: Long)

  /** Probe results per child-plan pair, bin width and side, plus the size
    * fingerprint: one query is optimized several times (explain, execute,
    * min-of-2 bench passes) and the probe, while a single bounded
    * aggregate, is not free. LRU-evicted past 64 entries. */
  private val probes =
    new ProbeUtil.Memo[(Int, Int, Long, Boolean, Long), Option[ProbeStats]](64)

  private def binCounts(spark: SparkSession, child: LogicalPlan,
      v: Expression, c: Long, name: String): DataFrame = {
    val bin = Alias(floorDiv(micros(v), c), "bin")()
    GraftExpressionBridge.ofRows(spark, Project(Seq(bin), child))
      .groupBy(col("bin")).agg(count(lit(1)).as(name))
  }

  /** One per-bin candidate-mass aggregate over both children; fires the
    * salted plan only past the measured hot-share trigger, and (r17,
    * VERDICT r16 #2) reuses the same stats to decide whether an unsalted
    * binned join should pin the sort-MERGE path: the bin key's cardinality
    * is the time span over the window constant — SEMANTIC, so it stays
    * ~constant while rows scale, and past
    * `spark.graft.join.fewKeyMergeHint.rowsPerKeyMin` rows per key the AQE
    * SMJ→SHJ rewrite's per-key hash chains measurably lose to merge (the
    * r16 sf10 dichotomy). The returned Boolean is that merge preference;
    * always false when salting fires (the salt multiplies the key space by
    * S, which is the few-key fix in the skewed regime). Any failure to
    * probe (no active session, unexecutable child) means "don't salt,
    * don't hint". */
  private[plans] def decideSalt(l: LogicalPlan, r: LogicalPlan,
      leftVar: Expression, rightVar: Expression, c: Long, bOnLeft: Boolean,
      jt: JoinType): (Option[SaltChoice], Boolean) = {
    val stats = ProbeUtil.saltSession(SaltConf, l, r, jt).flatMap { spark =>
      ProbeUtil.probe(probes, (l.semanticHash(), r.semanticHash(), c,
          bOnLeft, ProbeUtil.fingerprint(l, r))) {
        probeBins(spark, l, r, leftVar, rightVar, c, bOnLeft)
      }
    }
    val saltOpt = stats.flatMap { st =>
      ProbeUtil.saltFactor(SaltConf, st.share, st.nbins).map { s =>
        // Semi/Anti need the left physically unique -> per-row salt on
        // left; Inner sends the S-fold duplication to the cheaper side
        val saltOnLeft = jt != Inner ||
          (st.lRows + 2L * s * st.rRows) <=
            (s.toLong * st.lRows + 2L * st.rRows)
        logInfo(s"graft autoSalt: hot bin share=${st.share} over " +
          s"${st.nbins} bins (|L|=${st.lRows} |R|=${st.rRows}) -> " +
          s"salting S=$s saltOnLeft=$saltOnLeft")
        SaltChoice(s, saltOnLeft)
      }
    }
    // r17: few-key merge preference from the SAME probe (only when salting
    // declined — the salt multiplies the key space S-fold, which already
    // breaks the long chains in the skewed regime). Chains per key: lRows
    // on the single-bin side, 2x rRows on the 2-bin-exploding side, over
    // the span-bounded key count; the min keeps the test conservative (a
    // short-chain build side makes SHJ fine).
    val preferMerge = saltOpt.isEmpty && ProbeUtil.mergeHintEnabled(conf) &&
      stats.exists { st =>
        ProbeUtil.mergePreferred(conf,
          math.min(st.lRows.toDouble, 2.0 * st.rRows) /
            math.max(1L, st.binSpan), l, st.lRows, r, st.rRows)
      }
    if (preferMerge) {
      logInfo(s"graft fewKeyMergeHint: ~${stats.get.binSpan} bin keys for " +
        s"|L|=${stats.get.lRows} |R|=${stats.get.rRows} rows -> SHUFFLE_MERGE")
    }
    (saltOpt, preferMerge)
  }

  /** One bounded aggregation JOB (r16; the r15 probe paid a cached
    * two-sided scan plus three separate aggregate jobs, visible as
    * +0.4 s on sub-second sf0.1 queries): children past
    * `spark.graft.autoSalt.probe.targetRows` are Bernoulli-sampled (the
    * share trigger is a ratio, so the scale cancels; see
    * [[ProbeUtil.sampled]] for the concentration argument), and every
    * per-bin statistic — total/max candidate mass, left-bin count, both
    * row counts — comes out of ONE full-outer assembly and a single
    * aggregate. */
  private def probeBins(spark: SparkSession, l: LogicalPlan,
      r: LogicalPlan, leftVar: Expression, rightVar: Expression, c: Long,
      bOnLeft: Boolean): Option[ProbeStats] = {
    val (ls, sL) = ProbeUtil.sampled(l)
    val (rs, sR) = ProbeUtil.sampled(r)
    val lb = binCounts(spark, ls, leftVar, c, "nl")
    val rb = binCounts(spark, rs, rightVar, c, "nr")
    // a right row in rbin k reaches left-bin keys {k-1,k} (bOnLeft) or
    // {k,k+1}; fold the adjacent contribution back onto the key's row
    val shift = if (bOnLeft) 1L else -1L
    val adj = rb.select((col("bin") - shift).as("bin"), col("nr").as("nr2"))
    val row = lb.join(rb, Seq("bin"), "full_outer")
      .join(adj, Seq("bin"), "full_outer")
      .select(
        (coalesce(col("nl"), lit(0L)) * (coalesce(col("nr"), lit(0L)) +
          coalesce(col("nr2"), lit(0L)))).as("mass"),
        col("nl"), col("nr"), col("bin"))
      .agg(sum(col("mass")).as("t"), max(col("mass")).as("m"),
        count(col("nl")).as("n"), sum(col("nl")).as("lr"),
        sum(col("nr")).as("rr"),
        min(col("bin")).as("b0"), max(col("bin")).as("b1")).head()
    if (row.isNullAt(0) || row.getLong(0) <= 0L) None
    else Some(ProbeStats(
      row.getLong(1).toDouble / row.getLong(0), row.getLong(2),
      (row.getLong(3) * sL).toLong, (row.getLong(4) * sR).toLong,
      if (row.isNullAt(5) || row.isNullAt(6)) 1L
      else row.getLong(6) - row.getLong(5) + 1L))
  }

  // ------------------------------------------------------------------ rule

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(l, r, jt @ (Inner | LeftSemi | LeftAnti), Some(cond), hint)
        if !(l.output ++ r.output).exists(_.name.startsWith(Marker)) =>
      val conj = splitConjunctivePredicates(cond)
      def crossSide(x: Expression, y: Expression): Boolean = {
        val (rx, ry) = (x.references, y.references)
        rx.nonEmpty && ry.nonEmpty &&
          ((rx.subsetOf(l.outputSet) && ry.subsetOf(r.outputSet)) ||
            (rx.subsetOf(r.outputSet) && ry.subsetOf(l.outputSet)))
      }
      val hasEqui = conj.exists {
        case EqualTo(x, y) => crossSide(x, y)
        case _ => false
      }
      val hit = if (hasEqui) None else {
        val lowers = conj.collect { case Lower(b, a, c) => (b, a, c) }
        val uppers = conj.collect { case Upper(b, a) => (b, a) }
        lowers.collectFirst {
          case (b, a, c)
              if windowableTypes(b, a) && crossSide(b, a) &&
                uppers.exists(u =>
                  u._1.semanticEquals(b) && u._2.semanticEquals(a)) =>
            (b, a, c)
        }
      }
      hit match {
        case Some((b, a, c)) =>
          // the side holding the left child's refs keeps its single bin;
          // the right child explodes to its two candidates
          val bOnLeft = b.references.subsetOf(l.outputSet)
          val (leftVar, rightVar) = if (bOnLeft) (b, a) else (a, b)
          val rightBin = floorDiv(micros(rightVar), c)
          // left owns b (window point): right 'a' spans [bin-1, bin];
          // left owns a (window end):   right 'b' spans [bin, bin+1]
          val candidates =
            if (bOnLeft) Seq(Subtract(rightBin, Literal(1L)), rightBin)
            else Seq(rightBin, Add(rightBin, Literal(1L)))
          val binAttr = AttributeReference(s"${Marker}_r", LongType,
            nullable = true)()
          val rightExp = Generate(Explode(CreateArray(candidates)),
            Nil, outer = false, None, Seq(binAttr), r)
          val lbAlias = Alias(floorDiv(micros(leftVar), c), s"${Marker}_l")()
          val leftKeyed = Project(l.output :+ lbAlias, l)
          val keyCond = And(cond, EqualTo(lbAlias.toAttribute, binAttr))
          decideSalt(l, r, leftVar, rightVar, c, bOnLeft, jt) match {
            case (None, preferMerge) =>
              // the merge hint pins SortMergeJoin: JoinSelection consults
              // strategy hints before both its size-based broadcast choice
              // and the AQE PREFER_SHUFFLE_HASH rewrite, and
              // DynamicJoinSelection only fills hint slots whose strategy
              // is empty — so the pin survives re-planning. Only emitted
              // when the probe proved both sides far beyond broadcast.
              val h = if (!preferMerge) hint
                else if (hint.leftHint.exists(_.strategy.isDefined) ||
                  hint.rightHint.exists(_.strategy.isDefined)) hint
                else hint.copy(leftHint = Some(hint.leftHint
                  .getOrElse(HintInfo()).copy(strategy = Some(SHUFFLE_MERGE))))
              Project(j.output, Join(leftKeyed, rightExp, jt, Some(keyCond), h))
            case (Some(choice), _) =>
              // per-row salt left: the left stays physically unique
              // (Semi/Anti safe) and the already-exploding right explodes
              // all S; per-row salt right (Inner only, the arrangement
              // measured in BENCH_NOTES r14): cheaper when the right side
              // is the bigger one
              ProbeUtil.saltedJoin(Marker, choice, leftKeyed, rightExp,
                ProbeUtil.saltHashInput(l.output, Seq(micros(leftVar))),
                ProbeUtil.saltHashInput(r.output, Seq(micros(rightVar))),
                keyCond, jt, hint, j.output, foldSalt = true)
          }
        case None => j
      }
  }
}
