package graft.plans

import graft.operators.Geo
import org.apache.spark.sql.{GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, sum}
import org.apache.spark.sql.types.{DoubleType, LongType}

import ProbeUtil.SaltChoice

/** Optimizer rule that turns a naive radius join — plain SQL
  * `a JOIN b ON haversine_km(b.lat, b.lon, a.lat, a.lon) <= r`, or
  * [[graft.operators.Geo.withinRadius]] — into a grid-blocked equi-join:
  * without it Catalyst has no equi-key and plans a nested-loop over
  * the full product (quadratic; unrunnable at 100 TB). The rule encodes the
  * domain knowledge the optimizer lacks: a haversine disk is contained in a
  * computable set of 1-degree cells.
  *
  * Applies to Inner, LeftSemi and LeftAnti joins (the latter two are what
  * radius EXISTS / NOT EXISTS subqueries decorrelate into — "keep rows
  * near / far from this set", the decontamination shape).
  *
  * Rewrite (semantics-preserving by construction):
  *   - the LEFT side gains its cell key ([[graft.operators.Geo.pointCell]])
  *     — left rows stay physically unique, as semi/anti existence semantics
  *     require;
  *   - the RIGHT side explodes into its disk's candidate cells
  *     ([[graft.operators.Geo.diskCover]]: the exact spherical bounding
  *     box, every longitude past a pole, at most 360 wrapped lon cells so
  *     no pair can match twice);
  *   - the ORIGINAL join condition is kept in full as the residual, with the
  *     two cell equalities appended — ExtractEquiJoinKeys then plans a hash
  *     join on the cells and the exact predicate filters candidates.
  * Every qualifying pair meets on exactly one candidate row (the cell
  * deltas are determined by the pair), so no dedup is needed; disqualified
  * candidates are removed by the retained original predicate. PropertySpec
  * pins blocked == brute force through `withinRadius` (polar ports
  * included); SpatialRuleSpec pins rule-on == rule-off results and the
  * absence of nested loops.
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
  * salts past the range rule's trigger ([[ProbeUtil.saltFactor]]: hot
  * share 0.05, skew ratio 8; S is the share-adaptive factor unless
  * `spark.graft.spatialJoin.autoSalt.factor` pins it — measured on both
  * rules, BENCH_NOTES r16, and not covered by AQE's partition-level skew
  * splitting, which the range twin's A/B shows never splits a hot semantic
  * KEY); `spark.graft.spatialJoin.autoSalt.enabled=false` turns the lever
  * off. Arrangements mirror the measured probe: Inner uses the BENCH_NOTES r15 one (left explodes
  * all S salts, the cell-exploding right carries one deterministic per-row
  * `pmod(xxhash64(<atomic cols>), S)`); Semi/Anti flip it so the left
  * stays physically unique. A qualifying pair still meets exactly once
  * (one cell row x one salt row).
  */
object BlockHaversineJoins extends Rule[LogicalPlan] with PredicateHelper {

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
            if c == 2 * Geo.EarthR && dlatA.semanticEquals(dlatB) &&
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

  // ------------------------------------------------------- hot-cell salting

  private val SaltConf = "spark.graft.spatialJoin.autoSalt"

  private[plans] final case class CellStats(
      share: Double, ncells: Long, lRows: Long, rRows: Long)

  /** Probe results per child-plan pair + size fingerprint (the factor conf
    * applies at decision time, so a change is honored on a cache hit);
    * LRU-evicted past 64 entries. */
  private val probes =
    new ProbeUtil.Memo[(Int, Int, Long), Option[CellStats]](64)

  private def cellCounts(spark: SparkSession, child: LogicalPlan,
      latE: Expression, lonE: Expression, name: String) = {
    val (cy, cx) = Geo.pointCell(latE, lonE)
    GraftExpressionBridge.ofRows(spark,
        Project(Seq(Alias(cy, "cy")(), Alias(cx, "cx")()), child))
      .groupBy(col("cy"), col("cx")).agg(count(lit(1)).as(name))
  }

  /** One bounded aggregation JOB (r16; see the range twin's scaladoc):
    * sampled children, every statistic out of one full-outer assembly. */
  private def probeCells(spark: SparkSession, l: LogicalPlan,
      r: LogicalPlan, lLat: Expression, lLon: Expression,
      rLat: Expression, rLon: Expression): Option[CellStats] = {
    val (ls, sL) = ProbeUtil.sampled(l)
    val (rs, sR) = ProbeUtil.sampled(r)
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
  }

  /** Returns the salt factor and arrangement when the hot-cell trigger
    * fires; never fails the query (unprobeable children — e.g. streaming —
    * mean no salt). `rv` is the query's radius in km, used to estimate the
    * right side's cell-expansion factor for the Inner side choice. */
  private[plans] def decideSalt(l: LogicalPlan, r: LogicalPlan,
      lLat: Expression, lLon: Expression, rLat: Expression,
      rLon: Expression, jt: JoinType, rv: Double): Option[SaltChoice] =
    ProbeUtil.saltSession(SaltConf, l, r, jt).flatMap { spark =>
      ProbeUtil.probe(probes,
          (l.semanticHash(), r.semanticHash(), ProbeUtil.fingerprint(l, r))) {
        probeCells(spark, l, r, lLat, lLon, rLat, rLon)
      }
    }.flatMap { s =>
      ProbeUtil.saltFactor(SaltConf, s.share, s.ncells).map { factor =>
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
          val d = math.toDegrees(rv / Geo.EarthR)
          (2 * d + 1) * (2 * d + 1)
        }
        val saltOnLeft = jt != Inner || cexp * s.rRows < s.lRows
        logInfo(s"graft spatial autoSalt: hot cell share=${s.share} over " +
          s"${s.ncells} cells (|L|=${s.lRows} |R|=${s.rRows}) -> " +
          s"S=$factor saltOnLeft=$saltOnLeft")
        SaltChoice(factor, saltOnLeft)
      }
    }

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
              val cover = Geo.diskCover(rLat, rLon, rv)
              val cyAttr = AttributeReference(s"${Marker}_cy", LongType,
                nullable = false)()
              def seq(lo: Expression, hi: Expression): Sequence =
                new Sequence(lo, hi, None,
                  Some(conf.sessionLocalTimeZone))
              val genLat = Generate(Explode(seq(cover.latLo, cover.latHi)),
                Nil, outer = false, None, Seq(cyAttr), r)
              val cxRaw = AttributeReference(s"${Marker}_cx0", LongType,
                nullable = false)()
              val genLon = Generate(Explode(seq(cover.lonLo, cover.lonHi)),
                Nil, outer = false, None, Seq(cxRaw), genLat)
              val cxAlias = Alias(Geo.wrapLon(cxRaw), s"${Marker}_cx")()
              val rightExp = Project(
                r.output ++ Seq(cyAttr, cxAlias), genLon)
              // left side: its own single cell
              val (py, px) = Geo.pointCell(lLat, lLon)
              val pyAlias = Alias(py, s"${Marker}_py")()
              val pxAlias = Alias(px, s"${Marker}_px")()
              val leftKeyed = Project(
                l.output ++ Seq(pyAlias, pxAlias), l)
              val keyCond = And(cond, And(
                EqualTo(pyAlias.toAttribute, cyAttr),
                EqualTo(pxAlias.toAttribute, cxAlias.toAttribute)))
              decideSalt(l, r, lLat, lLon, rLat, rLon, jt, rv) match {
                case None =>
                  Project(j.output,
                    Join(leftKeyed, rightExp, jt, Some(keyCond), hint))
                case Some(choice) =>
                  // Inner's BENCH_NOTES r15 arrangement (single-cell left
                  // explodes all S salts, the cell-exploding right carries
                  // the per-row salt), or per-row salt on the left for
                  // Semi/Anti (left must stay physically unique) and
                  // cheaper-left Inner
                  ProbeUtil.saltedJoin(Marker, choice, leftKeyed, rightExp,
                    ProbeUtil.saltHashInput(l.output, Seq(lLat, lLon)),
                    ProbeUtil.saltHashInput(r.output, Seq(rLat, rLon)),
                    keyCond, jt, hint, j.output, foldSalt = false)
              }
            case None => j
          }
        case _ => j
      }
  }
}
