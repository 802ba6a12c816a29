package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.{GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, sum}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DateType, DoubleType, LongType, NumericType, StringType, TimestampNTZType, TimestampType}

/** Optimizer rule that turns a naive radius join — plain SQL
  * `a JOIN b ON haversine_km(b.lat, b.lon, a.lat, a.lon) <= r` — into the
  * grid-blocked equi-join [[graft.operators.Geo.withinRadius]] builds by
  * hand: without it Catalyst has no equi-key and plans a nested-loop over
  * the full product (quadratic; unrunnable at 100 TB). The rule encodes the
  * domain knowledge the optimizer lacks: a haversine disk is contained in a
  * computable set of 1-degree cells.
  *
  * Applies to Inner, LeftSemi and LeftAnti joins (the latter two are what
  * radius EXISTS / NOT EXISTS subqueries decorrelate into — "keep rows
  * near / far from this set", the decontamination shape).
  *
  * Rewrite (semantics-preserving by construction):
  *   - the LEFT side gains its cell key (floor(lat), wrapped floor(lon)) —
  *     left rows stay physically unique, as semi/anti existence semantics
  *     require;
  *   - the RIGHT side explodes into its
  *     disk's candidate cells — the exact spherical bounding box
  *     (dlat = r/R; dlon = asin(sin(r/R)/cos(lat)), widening to the full
  *     lon range when the disk crosses a pole), candidate lon cells wrapped
  *     mod 360 for the antimeridian and capped at 360 values so no pair can
  *     match twice;
  *   - the ORIGINAL join condition is kept in full as the residual, with the
  *     two cell equalities appended — ExtractEquiJoinKeys then plans a hash
  *     join on the cells and the exact predicate filters candidates.
  * Every qualifying pair meets on exactly one candidate row (the cell
  * deltas are determined by the pair), so no dedup is needed; disqualified
  * candidates are removed by the retained original predicate. PropertySpec
  * pins the identical blocked-vs-brute-force guarantee for the hand-built
  * form; SpatialRuleSpec pins rule-on == rule-off results and the absence
  * of nested loops.
  *
  * ==Automatic hot-cell salting (r15)==
  *
  * Like the range rule's bins, the cells are SEMANTIC (1-degree grid), so
  * a port city's cell can hold most of the candidate mass and serialize
  * the stage in one task. BENCH_NOTES r15 ("geo (hb, cy, cx) salting")
  * measured the lever on this exact
  * key shape: a planted 92-93% hot cell cut 2.4x wall / 2.7-3.3x hot task
  * at sf1/sf10, while on the natural corpus salting LOSES 43% at sf10 —
  * so, as with the range rule, the lever must be trigger-gated, never a
  * default. The rule probes per-cell SAME-CELL candidate mass
  * (L(cell) x R(cell) — a lower bound of true mass, which also counts
  * neighbor cells; a port-hot cell is hot on both sides in the same cell,
  * so the bound detects exactly the regime the lever exists for) and
  * salts past `spark.graft.spatialJoin.autoSalt.{hotShareMin,skewRatioMin}`
  * (defaults 0.05 / 8; S defaults to the share-adaptive factor, an
  * explicit `autoSalt.factor` pins it — measured on both rules, BENCH_NOTES
  * r16, and not covered by AQE's partition-level skew splitting, which the
  * range twin's A/B shows never splits a hot semantic KEY). Arrangements mirror
  * the measured probe: Inner uses the BENCH_NOTES r15 one (left explodes
  * all S salts, the cell-exploding right carries one deterministic per-row
  * `pmod(xxhash64(<atomic cols>), S)`); Semi/Anti flip it so the left
  * stays physically unique. A qualifying pair still meets exactly once
  * (one cell row x one salt row).
  */
object BlockHaversineJoins extends Rule[LogicalPlan] with PredicateHelper {

  private val EarthR = 6371.0088
  private val Marker = "__graft_cell"

  /** Peel analyzer-inserted casts (view columns are often decimal; the
    * analyzer wraps them in Cast-to-double before the trig). */
  private def stripCast(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCast(c)
    case _ => e
  }

  /** radians(x2 - x1) / 2 — returns the stripped (x2, x1). */
  private def halfRad(e: Expression): Option[(Expression, Expression)] =
    e match {
      case Divide(ToRadians(x), Literal(2.0, DoubleType), _) =>
        stripCast(x) match {
          case Subtract(a, b, _) => Some((stripCast(a), stripCast(b)))
          case _ => None
        }
      case _ => None
    }

  /** Matches the exact tree [[graft.operators.Geo.haversineExpr]] builds
    * (also what the registered `haversine_km` SQL function produces):
    * 2R * asin(least(sqrt(sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2)), 1)).
    * Returns (lat1, lon1, lat2, lon2) — the FIRST pair is the disk center
    * side that the rewrite explodes. */
  private object HaversinePredicate {
    def unapply(e: Expression): Option[(Expression, Expression, Expression, Expression)] =
      e match {
        case Multiply(Literal(c: Double, DoubleType), Asin(Least(Seq(Sqrt(
              Add(Multiply(Sin(dlatA), Sin(dlatB), _),
                  Multiply(Multiply(Multiply(
                    Cos(ToRadians(la1)), Cos(ToRadians(la2)), _),
                    Sin(dlonA), _), Sin(dlonB), _), _)),
              Literal(1.0, DoubleType)))), _)
            if c == 2 * EarthR && dlatA.semanticEquals(dlatB) &&
              dlonA.semanticEquals(dlonB) =>
          (halfRad(dlatA), halfRad(dlonA)) match {
            case (Some((lat2, lat1)), Some((lon2, lon1)))
                if stripCast(la1).semanticEquals(lat1) &&
                  stripCast(la2).semanticEquals(lat2) =>
              Some((lat1, lon1, lat2, lon2))
            case _ => None
          }
        case _ => None
      }
  }

  /** floor'd lon cell wrapped into [-180, 179]. */
  private def wrap(cell: Expression): Expression =
    Subtract(Pmod(Add(cell, Literal(180L)), Literal(360L)), Literal(180L))

  // ------------------------------------------------------- hot-cell salting

  /** Re-entrancy guard: the stats probe executes the join's children, whose
    * own optimization could reach this rule again. */
  private val probing = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  private[plans] final case class CellStats(
      share: Double, ncells: Long, lRows: Long, rRows: Long)

  /** S and which side carries the per-row salt (the other explodes S). */
  private[plans] final case class SpatialChoice(s: Int, saltOnLeft: Boolean)

  /** Memoized per child-plan pair + size fingerprint (conf thresholds
    * apply at decision time, so conf changes are honored on a cache hit;
    * appended data re-probes — ADVICE r15); LRU-evicted past 64 entries.
    * A semantic-hash collision can only mis-pick between two CORRECT
    * plans. */
  private val probes =
    new ProbeUtil.Memo[(Int, Int, Long), Option[CellStats]](64)

  private def cellCounts(spark: SparkSession, child: LogicalPlan,
      latE: Expression, lonE: Expression, name: String) = {
    val cy = Alias(Floor(latE), "cy")()
    val cx = Alias(wrap(Floor(lonE)), "cx")()
    GraftExpressionBridge.ofRows(spark, Project(Seq(cy, cx), child))
      .groupBy(col("cy"), col("cx")).agg(count(lit(1)).as(name))
  }

  /** One bounded aggregation JOB (r16; see the range twin's scaladoc):
    * sampled children, every statistic out of one full-outer assembly. */
  private def probeCells(spark: SparkSession, l: LogicalPlan,
      r: LogicalPlan, lLat: Expression, lLon: Expression,
      rLat: Expression, rLon: Expression): Option[CellStats] = {
    probing.set(true)
    try {
      val target = conf.getConfString(
        "spark.graft.autoSalt.probe.targetRows", "1000000").toDouble
      val (ls, sL) = ProbeUtil.sampled(l, target)
      val (rs, sR) = ProbeUtil.sampled(r, target)
      val lc = cellCounts(spark, ls, lLat, lLon, "nl")
      val rc = cellCounts(spark, rs, rLat, rLon, "nr")
      val m = lc.join(rc, Seq("cy", "cx"), "full_outer")
        .select(
          (coalesce(col("nl"), lit(0L)) *
            coalesce(col("nr"), lit(0L))).as("mass"),
          col("nl"), col("nr"))
        .agg(sum(col("mass")).as("t"), max(col("mass")).as("m"),
          count(col("nl")).as("n"), sum(col("nl")).as("lr"),
          sum(col("nr")).as("rr")).head()
      if (m.isNullAt(0) || m.getLong(0) <= 0L) None
      else Some(CellStats(
        m.getLong(1).toDouble / m.getLong(0), m.getLong(2),
        (m.getLong(3) * sL).toLong, (m.getLong(4) * sR).toLong))
    } finally {
      probing.set(false)
    }
  }

  /** Returns the salt factor and arrangement when the hot-cell trigger
    * fires; never fails the query (unprobeable children — e.g. streaming —
    * mean no salt). `rv` is the query's radius in km, used to estimate the
    * right side's cell-expansion factor for the Inner side choice. */
  private[plans] def decideSalt(l: LogicalPlan, r: LogicalPlan,
      lLat: Expression, lLon: Expression, rLat: Expression,
      rLon: Expression, jt: JoinType, rv: Double): Option[SpatialChoice] = {
    if (!conf.getConfString(
        "spark.graft.spatialJoin.autoSalt.enabled", "true").toBoolean ||
        probing.get()) {
      return None
    }
    // a broadcastable side means a broadcast hash join, and BHJ has no
    // stream-side key skew (hot rows probe the broadcast table wherever
    // they sit in the input splits) — salting there is pure S-fold
    // overhead, MEASURED: the sf1 planted-hot-cell A/B planned BHJ and
    // salting lost 23% (BENCH_NOTES r15). Same size estimate JoinSelection
    // uses, so the guard mirrors the actual plan choice — including the
    // join-type asymmetry: Semi/Anti can only BUILD on the right, so a
    // small LEFT must not suppress the lever there (ADVICE r15).
    val bcast = conf.autoBroadcastJoinThreshold
    val bhj = bcast > 0 && (r.stats.sizeInBytes <= bcast ||
      (jt == Inner && l.stats.sizeInBytes <= bcast))
    if (bhj) return None
    val sparkOpt = SparkSession.getActiveSession
    if (sparkOpt.isEmpty) return None
    // see the range twin: a probe inside micro-batch planning would run
    // as a blocking job on EVERY trigger (fresh per-batch relations defeat
    // the memo) — streaming plans keep the blocked rewrite, never the salt
    if (sparkOpt.get.sparkContext
        .getLocalProperty("sql.streaming.queryId") != null) {
      return None
    }
    val key = (l.semanticHash(), r.semanticHash(), ProbeUtil.fingerprint(l, r))
    val st = probes.get(key).getOrElse {
      try {
        val v = probeCells(sparkOpt.get, l, r, lLat, lLon, rLat, rLon)
        probes.put(key, v)
        v
      } catch {
        case _: InterruptedException =>
          // a cancelled planning thread must decline, not die — restore
          // the flag, don't memoize (the NEXT plan gets a real probe)
          Thread.currentThread().interrupt()
          None
        case NonFatal(_) =>
          probes.put(key, None)
          None
      }
    }
    st.flatMap { s =>
      val hotMin = conf.getConfString(
        "spark.graft.spatialJoin.autoSalt.hotShareMin", "0.05").toDouble
      val ratioMin = conf.getConfString(
        "spark.graft.spatialJoin.autoSalt.skewRatioMin", "8.0").toDouble
      // Factor selection mirrors the range rule (adaptive default, explicit
      // factor pins, factorAuto=true forces adaptive) — the range A/B plus
      // the sf10 spatial transfer A/B are in BENCH_NOTES r16.
      val autoConf = conf.getConfString(
        "spark.graft.spatialJoin.autoSalt.factorAuto", "")
      val factorConf = conf.getConfString(
        "spark.graft.spatialJoin.autoSalt.factor", "")
      val factor =
        if (autoConf == "true") ProbeUtil.adaptiveFactor(s.share)
        else if (factorConf.nonEmpty) factorConf.toInt
        else if (autoConf == "false") 8
        else ProbeUtil.adaptiveFactor(s.share)
      if (s.share < hotMin || s.share * s.ncells < ratioMin || factor <= 1)
        None
      else {
        // Semi/Anti need the left physically unique -> per-row salt on
        // left. Inner picks the cheaper duplication side (ADVICE r15;
        // mirrors the range rule): exploding S salts on the left costs
        // S*|L| vs the alternative's S-fold on the cell-exploded right,
        // cexp*|R| per salt — per-row-salt-on-left wins when
        // cexp*|R| < |L|. cexp estimates the disk's candidate cells from
        // the radius ((2*dlat+1)^2; the lon factor only grows with
        // latitude, which errs toward keeping the duplication OFF the
        // larger right side).
        val cexp = {
          val d = math.toDegrees(rv / EarthR)
          (2 * d + 1) * (2 * d + 1)
        }
        val saltOnLeft = jt != Inner || cexp * s.rRows < s.lRows
        logInfo(s"graft spatial autoSalt: hot cell share=${s.share} over " +
          s"${s.ncells} cells (|L|=${s.lRows} |R|=${s.rRows}) -> " +
          s"S=$factor saltOnLeft=$saltOnLeft")
        Some(SpatialChoice(factor, saltOnLeft))
      }
    }
  }

  /** Per-row salt input: all atomic columns (row-unique up to exact
    * duplicates — never the position alone, so one pier's worth of
    * identical coordinates still splits). */
  private def saltHashInput(out: Seq[Attribute], fbLat: Expression,
      fbLon: Expression): Seq[Expression] = {
    val atomic = out.filter(a => a.dataType match {
      case _: NumericType | StringType | BinaryType | BooleanType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })
    if (atomic.nonEmpty) atomic else Seq(fbLat, fbLon)
  }

  private def saltLiterals(s: Int): Seq[Expression] =
    (0 until s).map(i => Literal(i.toLong))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(l, r, jt @ (Inner | LeftSemi | LeftAnti), Some(cond), hint)
        if !(l.output ++ r.output).exists(_.name.startsWith(Marker)) =>
      val hit = splitConjunctivePredicates(cond).collectFirst {
        case LessThanOrEqual(HaversinePredicate(lat1, lon1, lat2, lon2),
            Literal(rv: Double, DoubleType)) if rv > 0 =>
          (lat1, lon1, lat2, lon2, rv)
      }
      hit match {
        case Some((lat1r, lon1r, lat2r, lon2r, rv)) =>
          // normalize coordinates back to double (the matcher stripped the
          // analyzer's casts; this plan is past analysis, so no coercion
          // will be added for us)
          def dbl(e: Expression): Expression =
            if (e.dataType == DoubleType) e else Cast(e, DoubleType)
          val (lat1, lon1, lat2, lon2) =
            (dbl(lat1r), dbl(lon1r), dbl(lat2r), dbl(lon2r))
          val c1 = lat1.references ++ lon1.references
          val c2 = lat2.references ++ lon2.references
          // the RIGHT child always explodes (its rows are the disk centers;
          // the predicate is symmetric so either pair can play that role).
          // This keeps left rows physically unique, which LeftSemi/LeftAnti
          // require — duplicated expansion rows on the right are harmless
          // under existence semantics and met exactly once under Inner.
          val sides =
            if (c1.nonEmpty && c2.nonEmpty &&
                c1.subsetOf(r.outputSet) && c2.subsetOf(l.outputSet))
              Some(((lat1, lon1), (lat2, lon2)))
            else if (c1.nonEmpty && c2.nonEmpty &&
                c2.subsetOf(r.outputSet) && c1.subsetOf(l.outputSet))
              Some(((lat2, lon2), (lat1, lon1)))
            else None
          sides match {
            case Some(((rLat, rLon), (lLat, lLon))) =>
              val delta = rv / EarthR // angular radius
              val dlatDeg = Literal(math.toDegrees(delta))
              val cLat = rLat
              val cLon = rLon
              // lat cells of the disk
              val latLo = Floor(Subtract(cLat, dlatDeg))
              val latHi = Floor(Add(cLat, dlatDeg))
              val cyAttr = AttributeReference(s"${Marker}_cy", LongType,
                nullable = false)()
              def seq(lo: Expression, hi: Expression): Sequence =
                new Sequence(lo, hi, None,
                  Some(conf.sessionLocalTimeZone))
              val genLat = Generate(Explode(seq(latLo, latHi)),
                Nil, outer = false, None, Seq(cyAttr), r)
              // lon half-width: exact disk bound, full range past a pole,
              // capped at 360 cells so wrap can't produce duplicate cells
              val polar = GreaterThanOrEqual(
                Add(Abs(cLat), dlatDeg), Literal(90.0))
              val dlonDeg = ToDegrees(Asin(Divide(Sin(Literal(delta)),
                Cos(ToRadians(cLat)))))
              val lonLo = If(polar, Literal(-180L),
                Floor(Subtract(cLon, dlonDeg)))
              val lonHi = Least(Seq(
                If(polar, Literal(179L), Floor(Add(cLon, dlonDeg))),
                Add(lonLo, Literal(359L))))
              val cxRaw = AttributeReference(s"${Marker}_cx0", LongType,
                nullable = false)()
              val genLon = Generate(Explode(seq(lonLo, lonHi)),
                Nil, outer = false, None, Seq(cxRaw), genLat)
              val cxAlias = Alias(wrap(cxRaw), s"${Marker}_cx")()
              val rightExp = Project(
                r.output ++ Seq(cyAttr, cxAlias), genLon)
              // left side: its own single cell
              val pyAlias = Alias(Floor(lLat), s"${Marker}_py")()
              val pxAlias = Alias(wrap(Floor(lLon)), s"${Marker}_px")()
              val leftKeyed = Project(
                l.output ++ Seq(pyAlias, pxAlias), l)
              val eqs = And(
                EqualTo(pyAlias.toAttribute, cyAttr),
                EqualTo(pxAlias.toAttribute, cxAlias.toAttribute))
              decideSalt(l, r, lLat, lLon, cLat, cLon, jt, rv) match {
                case None =>
                  Project(j.output,
                    Join(leftKeyed, rightExp, jt, Some(And(cond, eqs)), hint))
                case Some(SpatialChoice(s, false)) =>
                  // the arrangement measured in BENCH_NOTES r15 (Inner only):
                  // single-cell left explodes all S salts, the
                  // cell-exploding right carries one deterministic
                  // per-row salt
                  val ps = Alias(Pmod(
                    new XxHash64(saltHashInput(r.output, cLat, cLon), 42L),
                    Literal(s.toLong)), s"${Marker}_ps")()
                  val rightSalted = Project(
                    rightExp.output :+ ps, rightExp)
                  val saltAttr = AttributeReference(s"${Marker}_s", LongType,
                    nullable = false)()
                  val leftSalted = Generate(
                    Explode(CreateArray(saltLiterals(s))),
                    Nil, outer = false, None, Seq(saltAttr), leftKeyed)
                  Project(j.output,
                    Join(leftSalted, rightSalted, jt,
                      Some(And(And(cond, eqs),
                        EqualTo(saltAttr, ps.toAttribute))), hint))
                case Some(SpatialChoice(s, true)) =>
                  // Semi/Anti (left must stay physically unique) and
                  // cheaper-left Inner: per-row salt on the left,
                  // S-explode on the exploding right
                  val ps = Alias(Pmod(
                    new XxHash64(saltHashInput(l.output, lLat, lLon), 42L),
                    Literal(s.toLong)), s"${Marker}_ps")()
                  val leftSalted = Project(
                    leftKeyed.output :+ ps, leftKeyed)
                  val saltAttr = AttributeReference(s"${Marker}_s", LongType,
                    nullable = false)()
                  val rightSalted = Generate(
                    Explode(CreateArray(saltLiterals(s))),
                    Nil, outer = false, None, Seq(saltAttr), rightExp)
                  Project(j.output,
                    Join(leftSalted, rightSalted, jt,
                      Some(And(And(cond, eqs),
                        EqualTo(ps.toAttribute, saltAttr))), hint))
              }
            case None => j
          }
        case _ => j
      }
  }
}
