package graft.ais

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end batch pipeline over authored NMEA fixtures (FIXTURES.md §A):
  * ingest filters (A3-A10), enrichment (B2-B5), dashboard queries (D1-D8). */
class PipelineSpec extends SparkSpec {
  import NmeaEncoder._

  // Fixture fleet: two good movers, one with ship info; plus every A7
  // boundary violation and router/tag-block drops (FIXTURES.md §A1).
  private lazy val lines: Seq[String] = Seq(
    position(1, 257000001L, 0, 12.3, 5.32, 60.39, 187, 1700000000L),
    position(3, 257000001L, 0, 13.1, 5.35, 60.41, 190, 1700000060L),
    positionB(257000002L, 6.5, 4.90, 59.50, 270, 1700000030L),
    // A7 boundary drops: speed<=2, speed>=75, heading>=360 (producer:54-61)
    position(1, 300000001L, 0, 2.0, 5.0, 60.0, 100, 1700000010L),
    position(1, 300000002L, 0, 80.0, 5.0, 60.0, 100, 1700000011L),
    position(1, 300000003L, 0, 10.0, 5.0, 60.0, 360, 1700000012L),
    // A5 drop: wrong type; A3 drop: no tag block
    sentence({ val b = new BitBuilder
      b.uint(24, 6).uint(0, 2).uint(300000004L, 30).uint(0, 130)
      val (p, _) = b.armored; p }, 0, receiverTs = Some(1700000013L)),
    position(1, 300000005L, 0, 10.0, 5.0, 60.0, 100, 1700000014L)
      .replaceFirst("""^\\c:\d+\*00\\""", ""), // strip tag block
  ) ++ staticVoyage(257000001L, "LAJX", "HAVFRUEN", 71, "BERGEN", 1700000100L) ++
    staticVoyage(257000003L, "ZZZZ", "", 0, "NOWHERE", 1700000101L) // empty shipname

  private lazy val decoded = {
    import spark.implicits._
    // one partition = one TCP stream's replay (fragment adjacency holds)
    AisIngest.decode(spark.createDataset(lines).coalesce(1))
  }
  private lazy val positions = AisIngest.positions(decoded).cache()
  private lazy val infoDs = AisIngest.shipInfo(decoded).cache()
  private lazy val enriched =
    Enrich.withWeather(positions, () => new FixtureWeatherClient).cache()

  test("quarantine ingest: corrupt lines land in rejects, valid ones decode") {
    import spark.implicits._
    val mixed = Seq(
      position(1, 257000001L, 0, 12.3, 5.32, 60.39, 187, 1700000000L),
      "!AIVDM,1,1,,B,177KQJ5000G?tO`K>RA1wUbN0TKH,0*FF", // bad checksum
      "totally not nmea",
      "   ") // whitespace-only: dropped, not quarantined
    val (ok, rejects) = AisIngest.decodeWithQuarantine(
      spark.createDataset(mixed).coalesce(1))
    assert(ok.count() == 1)
    assert(rejects.collect().toSet ==
      Set("!AIVDM,1,1,,B,177KQJ5000G?tO`K>RA1wUbN0TKH,0*FF", "totally not nmea"))
  }

  test("A3/A5/A7: only in-range, tagged, routed positions survive") {
    val rows = positions.collect()
    assert(rows.map(_.mmsi).sorted.toSeq ==
      Seq("257000001", "257000001", "257000002"))
    // boundary values dropped: speed==2, 80, heading==360; no-tag; type 24
    assert(!rows.exists(r => r.mmsi.startsWith("3000000")))
  }

  test("A6: class B gets NotReported status; class A gets enum name") {
    val by = positions.collect().map(r => r.mmsi -> r.status).toMap
    assert(by("257000001") == "UnderWayUsingEngine")
    assert(by("257000002") == "NotReported")
  }

  test("A6: status and ship-type lookups give the decoder's names for every " +
      "code, NotReported for null, and plan no CASE WHEN") {
    import spark.implicits._
    // event i carries code i of the list; its heading (positions) or
    // timestamp (info) carries i, so each output row maps back to its code
    val statusCodes = None +: (-1 to 20).map(Some(_))
    val typeCodes = None +: (-1 to 300).map(Some(_))
    def ev(t: Int, i: Int, status: Option[Int], shiptype: Option[Int]) =
      DecodedAis(t, "1", Some(i.toLong), status, Some(60.0), Some(5.0),
        Some(10.0), Some(i), Some("S"), Some("C"), shiptype, Some("D"))
    def expected(codes: Seq[Option[Int]], f: Int => String) =
      codes.zipWithIndex.map { case (c, i) =>
        i -> c.map(f).getOrElse("NotReported") }.toMap

    val pos = AisIngest.positions(spark.createDataset(
      statusCodes.zipWithIndex.map { case (c, i) => ev(1, i, c, None) }))
    assert(pos.collect().map(p => p.heading -> p.status).toMap ==
      expected(statusCodes, AisDecoder.navStatusName))
    val info = AisIngest.shipInfo(spark.createDataset(
      typeCodes.zipWithIndex.map { case (c, i) => ev(5, i, None, c) }))
    assert(info.collect().map(s => s.timestamp.toInt -> s.shiptype).toMap ==
      expected(typeCodes, AisDecoder.shipTypeName))

    Seq(pos.queryExecution, info.queryExecution).foreach { qe =>
      val plan = qe.optimizedPlan
      assert(!plan.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.CaseWhen]))),
        plan.treeString)
    }
  }

  test("A8/A9: nested location struct and info projection") {
    val p = positions.filter(_.mmsi == "257000002").head()
    assert(math.abs(p.location.lat - 59.50) < 1e-5)
    assert(math.abs(p.location.lon - 4.90) < 1e-5)
    val i = infoDs.filter(_.mmsi == "257000001").head()
    assert(i.shipname == "HAVFRUEN" && i.callsign == "LAJX" &&
      i.shiptype == "Cargo_HazardousCategory_A" && i.destination == "BERGEN")
  }

  test("B2/B5: enrichment flattens location and appends weather fields") {
    val e = enriched.collect()
    assert(e.length == positions.count())
    val one = e.find(_.mmsi == "257000002").get
    assert(math.abs(one.lat - 59.50) < 1e-5)
    assert(one.condition.nonEmpty && one.wind_dir.nonEmpty)
    // deterministic: same cell -> same weather
    val again = Enrich.withWeather(positions, () => new FixtureWeatherClient)
      .filter(_.mmsi == "257000002").head()
    assert(again.condition == one.condition && again.temp_f == one.temp_f)
  }

  test("B3: malformed / error / incomplete weather JSON rows are dropped") {
    val bodies = Seq(
      """{"location":{"name":"Bergen","region":"Vestland","country":"Norway"},
         "current":{"condition":{"text":"Rain"},"temp_f":44.1,"wind_mph":9.8,"wind_dir":"SW"}}""",
      """{"error":{"message":"quota"}}""",
      """{"location":{"name":"x","region":"y","country":"z"}}""",
      """not json at all""")
    val out = bodies.flatMap(new HttpWeatherClient("k").parse)
    assert(out.length == 1)
    assert(out.head.locale == "Bergen")
    assert(out.head.temp_f == 44.1)
  }

  test("D1/D2: ship counts, exact and speed-filtered (console.py:34-42)") {
    val posWx = enriched.toDF()
    assert(Dashboard.shipCount(posWx).head().getLong(0) == 2)
    assert(Dashboard.fastShipCount(posWx).head().getLong(0) == 1) // only 12.3/13.1 kn
  }

  test("D3: join keeps only ships with non-empty shipname (SURVEY.md §7.5)") {
    val details = Dashboard.shipDetails(enriched.toDF(), infoDs.toDF())
    val rows = details.collect()
    // 257000001 has 2 positions x 1 info = 2 rows (append-only many-to-many);
    // 257000002 has no info (NULL shipname -> filtered);
    // 257000003 has info with shipname '' -> filtered.
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("mmsi") == "257000001"))
    assert(details.columns.length == 17)
  }

  test("D4: deterministic limited view") {
    val details = Dashboard.shipDetails(enriched.toDF(), infoDs.toDF())
    assert(Dashboard.limited(details, 1).count() == 1)
  }

  test("D5/D6: center and bounds aggregates") {
    val c = Dashboard.mapCenter(enriched.toDF()).head()
    assert(c.getDouble(0) > 59 && c.getDouble(0) < 61)
    val b = Dashboard.mapBounds(enriched.toDF()).head()
    assert(b.getDouble(0) <= b.getDouble(1))
  }

  test("D7: hemisphere suffixes and tooltip interpolation") {
    val details = Dashboard.shipDetails(enriched.toDF(), infoDs.toDF())
    val a = Dashboard.annotated(details).head()
    assert(a.getAs[String]("lat_units") == "°N")
    assert(a.getAs[String]("tooltip").startsWith("Name: HAVFRUEN"))
  }

  test("D8: icon color prefix map matches reference dict semantics") {
    import spark.implicits._
    val types = Seq("Cargo_HazardousCategory_A", "Tanker_AllShipsOfThisType",
      "LawEnforcement", "Fishing", "SomethingElse").toDF("shiptype")
    val colors = types.select(Dashboard.iconColor(col("shiptype")).as("c"))
      .as[String].collect().toSeq
    // "Law" keeps its first-insertion position but its second value,
    // lightgreen (console.py:62-80's duplicated key)
    assert(colors == Seq("purple", "red", "lightgreen", "lightblue", "lightgray"))
  }

  test("latest-info view keeps one row per mmsi (compaction intent)") {
    import spark.implicits._
    val extra = Seq(ShipInfoEvent("257000001", 1700000999L, "HAVFRUEN II",
      "LAJX", "Cargo_HazardousCategory_A", "STAVANGER")).toDS()
    val latest = Dashboard.latestInfo(infoDs.union(extra).toDF())
    val one = latest.filter(col("mmsi") === "257000001").collect()
    assert(one.length == 1)
    assert(one.head.getAs[String]("shipname") == "HAVFRUEN II")
  }

  test("JSON-lines fallback source round-trips decoded events (SURVEY §7.4)") {
    import spark.implicits._
    val decoded = AisIngest.decode(spark.createDataset(lines).coalesce(1))
    val pos = AisIngest.positions(decoded)
    val back = AisIngest.positionsFromJson(pos.toJSON)
    assert(back.collect().toSet == pos.collect().toSet)
    val info = AisIngest.shipInfo(decoded)
    assert(AisIngest.shipInfoFromJson(info.toJSON).collect().toSet ==
      info.collect().toSet)
    // malformed lines AND partially-populated objects drop, never throw
    // (a present key with missing primitives would otherwise blow up typed
    // deserialization with AssertNotNull)
    val junk = spark.createDataset(Seq("{not json", "", """{"x":1}""",
      """{"mmsi":"257000001"}""",
      """{"mmsi":"257000001","timestamp":1,"speed":4.0,"heading":10}"""))
    assert(AisIngest.positionsFromJson(junk).isEmpty)
  }
}
