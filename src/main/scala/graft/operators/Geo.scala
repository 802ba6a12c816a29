package graft.operators

import graft.QueryDef
import graft.functions.Num
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Abs, Add, Asin, Cos, Divide, Expression, Floor, GreaterThanOrEqual, If, Least, Literal, Multiply, Pmod, Sin, Sqrt, Subtract, ToDegrees, ToRadians}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Geospatial analytics over the position stream — the dashboard's map layer
  * taken server-side (SURVEY.md §2.D renders positions client-side with
  * folium; at fleet scale the aggregation must happen in the engine).
  *
  * The AIS domain maps onto `events` exactly as in [[Serving]] (`user_id` ~
  * mmsi); lat/lon derive deterministically from `event_id` so both engines
  * compute identical IEEE-754 doubles.
  *
  * Scale design (100 TB): cell density is a plain two-phase hash aggregate on
  * a derived integer key (shuffle carries (cy, cx, partial) only); track
  * distance windows shuffle once on the ship key and sort within partitions —
  * both linear in executors, no pairwise geometry.
  */
object Geo {

  /** Deterministic position view of `events`: ship=user_id, speed=value. */
  private def positions(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id").as("ship"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"), col("value").as("speed"),
      ((col("event_id") % 1780) / 10.0 - 89.0).as("lat"),
      ((col("event_id") % 3580) / 10.0 - 179.0).as("lon"))

  private val positionsSql =
    """SELECT user_id AS ship, event_id, epoch_us(ts) AS ts_us, value AS speed,
              (event_id % 1780) / 10.0 - 89.0 AS lat,
              (event_id % 3580) / 10.0 - 179.0 AS lon
       FROM events"""

  /** Earth radius in km: the one constant behind [[haversineExpr]], its
    * DuckDB twin and [[diskCover]]. */
  private[graft] val EarthR = 6371.0088

  /** Great-circle distance in km (haversine) as a raw Catalyst expression
    * tree — one implementation serves both the Column API and the
    * `haversine_km` SQL function (the function registry needs Expressions,
    * not Columns). `asin`'s argument is clamped — floating summation can
    * push it an ulp above 1. The multiply chain is left-associated exactly
    * like the oracle SQL so both engines run the same IEEE sequence. */
  def haversineExpr(lat1: Expression, lon1: Expression,
      lat2: Expression, lon2: Expression): Expression = {
    def rad(e: Expression) = ToRadians(e)
    val dlat = Divide(rad(Subtract(lat2, lat1)), Literal(2.0))
    val dlon = Divide(rad(Subtract(lon2, lon1)), Literal(2.0))
    val a = Add(
      Multiply(Sin(dlat), Sin(dlat)),
      Multiply(Multiply(Multiply(Cos(rad(lat1)), Cos(rad(lat2))),
        Sin(dlon)), Sin(dlon)))
    Multiply(Literal(2 * EarthR), Asin(Least(Seq(Sqrt(a), Literal(1.0)))))
  }

  /** Inclusive 1-degree cell ranges of a disk: lat cells [latLo, latHi] and
    * raw lon cells [lonLo, lonHi]; each raw lon cell maps through [[wrapLon]]. */
  private[graft] final case class DiskCover(latLo: Expression, latHi: Expression,
      lonLo: Expression, lonHi: Expression)

  /** The 1-degree cells a disk of `rKm` around the double point (lat, lon)
    * can touch — the exact spherical bounding box. Lat cells span
    * dlat = r/R; lon cells span dlon = asin(sin(r/R)/cos(lat)) (the
    * parallel-arc approximation under-covers, because great circles bulge
    * poleward), widening to every longitude when the disk crosses a pole,
    * and capped at 360 cells so the mod-360 wrap cannot yield a cell twice.
    * A point within `rKm` of the center therefore has its [[pointCell]] in
    * the cover exactly once. The one cover in the engine: the
    * [[graft.plans.BlockHaversineJoins]] rule, [[closePairs]] and the
    * streaming `AisPipeline.encounterAlerts` all expand through it. */
  private[graft] def diskCover(lat: Expression, lon: Expression, rKm: Double): DiskCover = {
    val delta = rKm / EarthR // angular radius
    val dlatDeg = Literal(math.toDegrees(delta))
    val polar = GreaterThanOrEqual(Add(Abs(lat), dlatDeg), Literal(90.0))
    val dlonDeg = ToDegrees(Asin(Divide(Sin(Literal(delta)),
      Cos(ToRadians(lat)))))
    val lonLo = If(polar, Literal(-180L), Floor(Subtract(lon, dlonDeg)))
    val lonHi = Least(Seq(
      If(polar, Literal(179L), Floor(Add(lon, dlonDeg))),
      Add(lonLo, Literal(359L))))
    DiskCover(Floor(Subtract(lat, dlatDeg)), Floor(Add(lat, dlatDeg)),
      lonLo, lonHi)
  }

  /** A floor'd lon cell wrapped into [-180, 179] (the antimeridian). */
  private[graft] def wrapLon(cell: Expression): Expression =
    Subtract(Pmod(Add(cell, Literal(180L)), Literal(360L)), Literal(180L))

  /** The 1-degree cell (floor(lat), wrapped floor(lon)) of a point. */
  private[graft] def pointCell(lat: Expression, lon: Expression): (Expression, Expression) =
    (Floor(lat), wrapLon(Floor(lon)))

  /** Column form of [[pointCell]], as columns `cy` and `cx` of `df`. */
  private[graft] def withPointCell(df: DataFrame, lat: Column, lon: Column)
      : DataFrame = {
    val (cy, cx) = pointCell(expression(lat), expression(lon))
    df.withColumn("cy", column(cy)).withColumn("cx", column(cx))
  }

  /** Column form of [[diskCover]]: one row of `df` per cell of its disk,
    * in columns `cy` and `cx` — for the joins that must carry their own
    * equality key (an hour bin beside the cell, or a stream-stream join). */
  private[graft] def withDiskCells(df: DataFrame, lat: Column, lon: Column,
      rKm: Double): DataFrame = {
    val c = diskCover(expression(lat), expression(lon), rKm)
    df.withColumn("cy", explode(sequence(column(c.latLo), column(c.latHi))))
      .withColumn("cx", explode(sequence(column(c.lonLo), column(c.lonHi))))
      .withColumn("cx", column(wrapLon(expression(col("cx")))))
  }

  /** Column form of [[haversineExpr]]. */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    column(haversineExpr(expression(lat1), expression(lon1),
      expression(lat2), expression(lon2)))

  /** Same formula, same evaluation order, in DuckDB SQL. */
  private def haversineSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""(2 * $EarthR) * asin(least(sqrt(
          sin(radians($lat2 - $lat1) / 2) * sin(radians($lat2 - $lat1) / 2) +
          cos(radians($lat1)) * cos(radians($lat2)) *
          sin(radians($lon2 - $lon1) / 2) * sin(radians($lon2 - $lon1) / 2)), 1.0))"""

  /** 1-degree cell density + mean speed: the map heat layer as one shuffle.
    *
    * Mean is computed as an exact integer centi-unit sum divided ONCE (the
    * repo's integer-until-final-division convention): speeds are 2-decimal
    * values, so `avg(speed)` was a double summation whose ORDER differs
    * between engines — fine at sf0.1 (~4 rows/cell) but at sf1 (~40
    * rows/cell) the r10 sweep caught cells landing exactly on a 4th-decimal
    * rounding boundary, flipping the last digit. Scale-dependent
    * determinism, found by measurement. */
  val cellDensityQ = QueryDef(
    "geo_cell_density",
    "position count and mean speed per 1-degree grid cell",
    Some(s"""WITH p AS ($positionsSql)
             SELECT CAST(floor(lat) AS BIGINT) AS cy, CAST(floor(lon) AS BIGINT) AS cx,
                    count(*) AS n,
                    ${Num.sql(
                      "CAST(sum(CAST(round(speed * 100) AS BIGINT)) AS DOUBLE) / (count(*) * 100)",
                      4)} AS mean_speed
             FROM p GROUP BY 1, 2"""),
    (s, dir) => positions(s, dir)
      .groupBy(floor(col("lat")).cast("long").as("cy"),
        floor(col("lon")).cast("long").as("cx"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("speed") * 100).cast("long")).as("sc"))
      .select(col("cy"), col("cx"), col("n"),
        Num.pround(col("sc").cast("double") / (col("n") * 100), 4)
          .as("mean_speed")))

  /** Per-ship track length: lag window over (time, id), haversine per step,
    * summed. The window shuffles once on ship and sorts in-partition. */
  val trackDistanceQ = QueryDef(
    "geo_track_distance",
    "per-ship track: step count, total and longest haversine leg",
    Some(s"""WITH p AS ($positionsSql),
             steps AS (SELECT ship, lat, lon,
                              lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
                       FROM p WINDOW w AS (PARTITION BY ship ORDER BY ts_us, event_id)),
             d AS (SELECT ship,
                          ${haversineSql("plat", "plon", "lat", "lon")} AS step_km
                   FROM steps WHERE plat IS NOT NULL)
             SELECT ship, count(*) AS n_steps,
                    ${Num.sql(Num.sqlQsum("step_km", 6), 2)} AS total_km,
                    ${Num.sql("max(step_km)", 2)} AS max_leg_km
             FROM d GROUP BY ship"""),
    (s, dir) => {
      val w = Window.partitionBy(col("ship")).orderBy(col("ts_us"), col("event_id"))
      positions(s, dir)
        .withColumn("plat", lag(col("lat"), 1).over(w))
        .withColumn("plon", lag(col("lon"), 1).over(w))
        .filter(col("plat").isNotNull)
        .withColumn("step_km",
          haversineKm(col("plat"), col("plon"), col("lat"), col("lon")))
        .groupBy(col("ship"))
        .agg(count(lit(1)).as("n_steps"),
          // step_km is a computed double: micro-km quantize-then-sum so the
          // per-ship total cannot depend on summation order at any track
          // length (error n*5e-7 km vs the 0.005 rounding grain)
          Num.pround(Num.qsum(col("step_km"), 6), 2).as("total_km"),
          Num.pround(max(col("step_km")), 2).as("max_leg_km"))
    })

  /** The catalog's port radius in km. */
  val radiusKm = 800.0

  /** Spatial radius join: rows of `pos` (needs lat/lon columns) within `r`
    * km of any port of `ports` (port_id, plat, plon), with the rounded
    * `dist_km`. It is a plain join on the exact haversine predicate, which
    * admits r + 1e-4 so that every pair whose 4-decimal `dist_km` rounds to
    * at most r is a candidate. On sessions from `Graft.session` or
    * `GraftExtensions` the [[graft.plans.BlockHaversineJoins]] rule blocks
    * it: each port expands once into its [[diskCover]] cells, positions
    * join that broadcast cell list on their own [[pointCell]], and the
    * predicate filters the candidates — at 100 TB the fact side never
    * shuffles, and candidate work per position is the ports sharing its
    * cell, not |ports|. Elsewhere it is a correct nested-loop join. The
    * oracle runs the quadratic join, so the gate is the proof that blocking
    * misses nothing. Streaming-safe — `pos` may be a streaming DataFrame:
    * the port side is a static broadcast, so the join adds no streaming
    * state (same shape as the Bloom decontamination gate). */
  def withinRadius(pos: DataFrame, ports: DataFrame, r: Double): DataFrame = {
    val d = haversineKm(col("plat"), col("plon"), col("lat"), col("lon"))
    pos.join(broadcast(ports), d <= r + 1e-4)
      .withColumn("dist_km", Num.pround(d, 4))
      .filter(col("dist_km") <= r)
  }

  val radiusJoinQ = QueryDef(
    "geo_radius_join",
    "positions within 800 km of a port: grid-blocked broadcast join + exact haversine",
    Some(s"""WITH p AS ($positionsSql),
             ports AS (SELECT CAST(n_nationkey AS BIGINT) AS port_id,
                              (n_nationkey * 7 % 120) - 60 + 0.5 AS plat,
                              (n_nationkey * 37 % 340) - 170 + 0.5 AS plon
                       FROM nation)
             SELECT port_id, ship, event_id,
                    ${Num.sql(haversineSql("plat", "plon", "lat", "lon"), 4)} AS dist_km
             FROM p CROSS JOIN ports
             WHERE ${Num.sql(haversineSql("plat", "plon", "lat", "lon"), 4)} <= $radiusKm"""),
    (s, dir) => {
      val ports = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("port_id"),
        ((col("n_nationkey") * 7 % 120) - 60 + 0.5).as("plat"),
        ((col("n_nationkey") * 37 % 340) - 170 + 0.5).as("plon"))
      withinRadius(positions(s, dir), ports, radiusKm)
        .select(col("port_id"), col("ship"), col("event_id"), col("dist_km"))
    })

  /** Ship-to-ship encounters: pairs of positions from DIFFERENT ships within
    * 50 km and 1 hour of each other — the spatio-temporal interval self-join
    * (collision-avoidance / rendezvous analytics). Blocked exactly once per
    * pair with zero post-dedup: the left side keeps its (hour-bin, cell)
    * key; the right side expands to 3 hour-bins x its [[diskCover]] cells
    * — for any qualifying pair exactly ONE expansion row matches (the
    * bin/cell deltas are determined by the pair), so the equi-join emits
    * each pair once. |lat| <= 70 bounds the
    * lon expansion (a 1-degree lon cell shrinks to ~19 km at lat 80, which
    * would blow up the candidate count — the shipping-lane band is the
    * documented domain). At 100 TB: one shuffle of each side on the
    * (bin, cy, cx) composite — candidate work scales with co-located
    * traffic, never |positions|². Output is the per-pair encounter summary.
    */
  val encounterKm = 50.0
  val encounterUs = 3600000000L
  /** Oracle note (r11 sf10): the original spelling joined p×p under range
    * predicates — DuckDB's inequality join emits the full 1-hour time-band
    * product before the spatial filters, which is ~1e10 rows at sf10's
    * 7.9M filtered positions (the sweep's 30-min timeout is hours short).
    * The spelling below pre-joins on EXACT cover bins and keeps the
    * original predicates verbatim as post-filters, so it selects the same
    * pairs by construction. Bin cover proof: a qualifying pair has
    * |Δts| ≤ 1 h ⇒ hour-bin delta ∈ {-1,0,1}; rounded d ≤ 50 km ⇒ true
    * d ≤ 50.00005 ⇒ |Δlat| ≤ d/111.19 km-per-degree < 0.4498° ⇒ lat-cell
    * delta ∈ {-1,0,1}; and with BOTH |lat| ≤ 70 (the p filter),
    * cos(la)cos(lb)·sin²(Δλ/2) ≤ sin²(25.0001/R) gives |Δλ| ≤
    * 2·asin(sin(25.0001/R)/cos 70°) = 1.3149° < 2 ⇒ lon-cell
    * delta ∈ [-2, 2] (mod 360 for the antimeridian, same wrap as the
    * engine). The 45 expansion keys per right-side row are distinct, so
    * each event pair meets AT MOST once — and at least once by the cover
    * bounds — keeping n_close an exact pair count with no dedup step. */
  val encountersQ = QueryDef(
    "geo_encounters",
    "ship pairs within 50 km and 1 h: blocked spatio-temporal self-join",
    Some(s"""WITH p AS (SELECT * FROM ($positionsSql) WHERE abs(lat) <= 70),
             pa AS (SELECT ship, ts_us, lat, lon,
                           CAST(floor(ts_us / $encounterUs) AS BIGINT) AS hb,
                           CAST(floor(lat) AS BIGINT) AS cy,
                           CAST(floor(lon) AS BIGINT) AS cx
                    FROM p),
             pb AS (SELECT ship, ts_us, lat, lon,
                           hb + dh.d AS hb, cy + dy.d AS cy,
                           ((cx + dx.d + 180) % 360 + 360) % 360 - 180 AS cx
                    FROM pa
                    CROSS JOIN unnest(generate_series(-1, 1)) AS dh(d)
                    CROSS JOIN unnest(generate_series(-1, 1)) AS dy(d)
                    CROSS JOIN unnest(generate_series(-2, 2)) AS dx(d)),
             j AS (SELECT a.ship AS ship_a, b.ship AS ship_b,
                          ${Num.sql(haversineSql("a.lat", "a.lon", "b.lat", "b.lon"), 4)} AS d
                   FROM pa a JOIN pb b USING (hb, cy, cx)
                   WHERE a.ship < b.ship
                     AND abs(a.ts_us - b.ts_us) <= $encounterUs
                     AND abs(a.lat - b.lat) <= $encounterKm / 110.5
                     AND ${Num.sql(haversineSql("a.lat", "a.lon", "b.lat", "b.lon"), 4)}
                           <= $encounterKm)
             SELECT ship_a, ship_b, count(*) AS n_close,
                    min(d) AS min_km
             FROM j GROUP BY 1, 2"""),
    (s, dir) => encounterPairs(positions(s, dir)))

  /** The blocked close-pair core shared by [[encountersQ]] and
    * [[encounterEpisodesQ]]: emits each qualifying (ship_a < ship_b)
    * position pair EXACTLY once as (ship_a, ship_b, ts_a, ts_b, d) — see
    * the bin-cover proof on [[encountersQ]]. Input needs ship/ts_us/lat/lon. */
  private[graft] def closePairs(p0: DataFrame): DataFrame = {
    val r = encounterKm
    val p = p0.filter(abs(col("lat")) <= 70)
      .withColumn("hb", floor(col("ts_us") / encounterUs).cast("long"))
    val a = withPointCell(p, col("lat"), col("lon"))
      .select(col("ship").as("ship_a"), col("ts_us").as("ts_a"),
        col("lat").as("lat_a"), col("lon").as("lon_a"),
        col("hb"), col("cy"), col("cx"))
    // the cover admits r + 1e-4: `d` is rounded to 4 decimals before the
    // r filter, so a pair up to r + 5e-5 km apart still qualifies
    val b = withDiskCells(
        p.withColumn("hb", explode(sequence(col("hb") - 1, col("hb") + 1))),
        col("lat"), col("lon"), r + 1e-4)
      .select(col("ship").as("ship_b"), col("ts_us").as("ts_b"),
        col("lat").as("lat_b"), col("lon").as("lon_b"),
        col("hb"), col("cy"), col("cx"))
    a.join(b, Seq("hb", "cy", "cx"))
      .filter(col("ship_a") < col("ship_b") &&
        abs(col("ts_a") - col("ts_b")) <= encounterUs)
      .withColumn("d", Num.pround(haversineKm(
        col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b")), 4))
      .filter(col("d") <= r)
      .select(col("ship_a"), col("ship_b"), col("ts_a"), col("ts_b"), col("d"))
  }

  /** The ANSWER-SHRINKING twin of [[encountersQ]] — the next-decade lever
    * the 0.5-degree-cell experiment adjudicated for this family (SCALE.md
    * geo row): `geo_encounters` is output-bound — its cost tracks the
    * detection count, which for co-traveling ships grows with
    * (pings per hour)² per pair-hour, and no candidate-set trick beats an
    * answer that size (measured: the 2.2×-fewer-candidates cell experiment
    * LOST wall-clock at sf30). This query shrinks the ANSWER itself, two
    * rungs at once:
    *
    *   1. one REPRESENTATIVE position per (ship, hour) — the earliest ping
    *      (ties by event_id) among |lat| <= 70 — caps detections at ~3 per
    *      co-located pair-hour (each ship has <= 1 rep/hour; the 1 h window
    *      reaches hour-bins h-1/h/h+1) where the exact query pays
    *      (pings/hour)²;
    *   2. contiguous active hours collapse into EPISODES (gap > 1 empty
    *      hour-bin splits), so a convoy steaming together for a week is ONE
    *      row, not 168 pair-hours of repeated co-location.
    *
    * This is deliberately a COARSER query than `geo_encounters` (hourly
    * proximity of representatives, not every ping pair) — that is the
    * documented trade: the answer a fleet-scale dashboard needs ("which
    * pairs, when, how close") at linear-in-ship-hours cost. Exact per-ping
    * counts remain available from the exact twin. At 100 TB: rep selection
    * is one window shuffle on (ship, hour); the blocked join's candidate
    * volume is bounded by co-located ship-pair-hours, never pings²; the
    * episode window shuffles one row per active pair-hour. */
  val encounterEpisodesQ = QueryDef(
    "geo_encounter_episodes",
    "encounter episodes: hourly representative positions, close pairs sessionized into gap-split episodes",
    Some(s"""WITH p AS (SELECT * FROM ($positionsSql) WHERE abs(lat) <= 70),
             reps AS (SELECT ship, ts_us, lat, lon
                      FROM (SELECT ship, ts_us, lat, lon,
                                   row_number() OVER (
                                     PARTITION BY ship, CAST(floor(ts_us / $encounterUs) AS BIGINT)
                                     ORDER BY ts_us, event_id) AS rn
                            FROM p)
                      WHERE rn = 1),
             pa AS (SELECT ship, ts_us, lat, lon,
                           CAST(floor(ts_us / $encounterUs) AS BIGINT) AS hb,
                           CAST(floor(lat) AS BIGINT) AS cy,
                           CAST(floor(lon) AS BIGINT) AS cx
                    FROM reps),
             pb AS (SELECT ship, ts_us, lat, lon,
                           hb + dh.d AS hb, cy + dy.d AS cy,
                           ((cx + dx.d + 180) % 360 + 360) % 360 - 180 AS cx
                    FROM pa
                    CROSS JOIN unnest(generate_series(-1, 1)) AS dh(d)
                    CROSS JOIN unnest(generate_series(-1, 1)) AS dy(d)
                    CROSS JOIN unnest(generate_series(-2, 2)) AS dx(d)),
             j AS (SELECT a.ship AS ship_a, b.ship AS ship_b,
                          CAST(floor(least(a.ts_us, b.ts_us) / $encounterUs) AS BIGINT) AS dhb,
                          ${Num.sql(haversineSql("a.lat", "a.lon", "b.lat", "b.lon"), 4)} AS d
                   FROM pa a JOIN pb b USING (hb, cy, cx)
                   WHERE a.ship < b.ship
                     AND abs(a.ts_us - b.ts_us) <= $encounterUs
                     AND abs(a.lat - b.lat) <= $encounterKm / 110.5
                     AND ${Num.sql(haversineSql("a.lat", "a.lon", "b.lat", "b.lon"), 4)}
                           <= $encounterKm),
             bins AS (SELECT ship_a, ship_b, dhb, count(*) AS nc, min(d) AS mk
                      FROM j GROUP BY 1, 2, 3),
             flagged AS (SELECT *, CASE WHEN lag(dhb) OVER w IS NULL
                                          OR dhb - lag(dhb) OVER w > 1
                                        THEN 1 ELSE 0 END AS newep
                         FROM bins
                         WINDOW w AS (PARTITION BY ship_a, ship_b ORDER BY dhb)),
             eps AS (SELECT *, CAST(sum(newep) OVER (
                                 PARTITION BY ship_a, ship_b ORDER BY dhb
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                               AS BIGINT) AS ep
                     FROM flagged)
             SELECT ship_a, ship_b, ep,
                    min(dhb) AS hb_start, max(dhb) AS hb_end,
                    count(*) AS n_hours,
                    CAST(sum(nc) AS BIGINT) AS n_close, min(mk) AS min_km
             FROM eps GROUP BY 1, 2, 3"""),
    (s, dir) => encounterEpisodes(positions(s, dir)))

  /** The episode pipeline on a positions frame (ship/event_id/ts_us/lat/lon)
    * — the catalog entry, and the batch reference EncounterEpisodesSpec
    * holds the streaming twin to. Its density crossover against
    * [[encounterPairs]] is measured in BENCH_NOTES r14 ("Density-crossover
    * probe"). */
  private[graft] def encounterEpisodes(p: DataFrame): DataFrame = {
    val repW = Window.partitionBy(col("ship"),
        floor(col("ts_us") / encounterUs).cast("long"))
      .orderBy(col("ts_us"), col("event_id"))
    val reps = p.filter(abs(col("lat")) <= 70)
      .withColumn("rn", row_number().over(repW))
      .filter(col("rn") === 1)
      .select(col("ship"), col("ts_us"), col("lat"), col("lon"))
    val bins = closePairs(reps)
      .select(col("ship_a"), col("ship_b"),
        floor(least(col("ts_a"), col("ts_b")) / encounterUs).cast("long").as("dhb"),
        col("d"))
      .groupBy(col("ship_a"), col("ship_b"), col("dhb"))
      .agg(count(lit(1)).as("nc"), min(col("d")).as("mk"))
    val pw = Window.partitionBy(col("ship_a"), col("ship_b")).orderBy(col("dhb"))
    val eps = bins
      .withColumn("prev", lag(col("dhb"), 1).over(pw))
      .withColumn("newep",
        when(col("prev").isNull || col("dhb") - col("prev") > 1, 1L)
          .otherwise(0L))
      .withColumn("ep", sum(col("newep")).over(
        pw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    eps.groupBy(col("ship_a"), col("ship_b"), col("ep"))
      .agg(min(col("dhb")).as("hb_start"), max(col("dhb")).as("hb_end"),
        count(lit(1)).as("n_hours"), sum(col("nc")).as("n_close"),
        min(col("mk")).as("min_km"))
  }

  /** The exact-twin aggregation on a positions frame. */
  private def encounterPairs(p: DataFrame): DataFrame =
    closePairs(p)
      .groupBy(col("ship_a"), col("ship_b"))
      .agg(count(lit(1)).as("n_close"), min(col("d")).as("min_km"))

  val defs: Seq[QueryDef] =
    Seq(cellDensityQ, trackDistanceQ, radiusJoinQ, encountersQ,
      encounterEpisodesQ)
}
