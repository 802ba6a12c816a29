package graft.ais

import graft.SparkSpec
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import java.io.ByteArrayOutputStream

/** The registry seam under a fake registry: writer-schema resolution by
  * frame id is what a live Confluent registry provides (utils.py:85-89);
  * these tests pin that an EVOLVED producer schema (added field, reordered
  * fields) still decodes against the pinned reader schema, and that unknown
  * ids quarantine instead of failing the stream. */
/** Serializable test registry (top-level: must not capture the spec class;
  * the schema re-parses from JSON after closure transport). Models a
  * producer-side evolution: same logical record with fields REORDERED and a
  * new `source` field appended — a compatible change a registry-backed
  * producer can ship without coordinating a consumer redeploy. */
object EvolvedRegistry extends RegistryClient {
  val EvolvedId = 99
  val evolvedJson: String =
    """{"type":"record","name":"PositionEvent","namespace":"graft.ais","fields":[
      {"name":"timestamp","type":"long"},
      {"name":"mmsi","type":"string"},
      {"name":"status","type":"string","default":"undefined"},
      {"name":"speed","type":"double"},
      {"name":"heading","type":"int"},
      {"name":"location","type":{"type":"record","name":"gps","fields":[
        {"name":"lat","type":"double"},{"name":"lon","type":"double"}]}},
      {"name":"source","type":"string","default":"ais"}]}"""
  @transient lazy val evolved: Schema = new Schema.Parser().parse(evolvedJson)
  def schemaById(id: Int): Option[Schema] = id match {
    case EvolvedId => Some(evolved)
    case other => PinnedRegistry.schemaById(other)
  }
}

class RegistrySpec extends SparkSpec {
  import EvolvedRegistry.{EvolvedId, evolved}

  private def fakeRegistry: RegistryClient = EvolvedRegistry

  private def evolvedFrame(p: PositionEvent): Array[Byte] = {
    val gps = new GenericData.Record(evolved.getField("location").schema())
    gps.put("lat", p.location.lat); gps.put("lon", p.location.lon)
    val r = new GenericData.Record(evolved)
    r.put("timestamp", p.timestamp); r.put("mmsi", p.mmsi)
    r.put("status", p.status); r.put("speed", p.speed)
    r.put("heading", p.heading); r.put("location", gps)
    r.put("source", "sat-ais")
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](evolved).write(r, enc)
    enc.flush()
    AvroCodec.frame(EvolvedId, out.toByteArray)
  }

  private val p1 = PositionEvent("244660180", "under way using engine",
    1700000000L, Gps(52.1, 4.3), 12.5, 87)
  private val p2 = PositionEvent("367001234", "at anchor",
    1700000060L, Gps(51.9, 4.1), 0.0, 511)

  test("mixed-id wire decodes: pinned id, evolved id, unknown id quarantined") {
    import spark.implicits._
    val frames = Seq(
      AvroCodec.positionToBytes(p1, PinnedRegistry.PositionId), // current producer
      evolvedFrame(p2),                                         // evolved producer
      AvroCodec.frame(1234, Array[Byte](1, 2, 3)))              // unregistered id
    val wire = frames.map(Tuple1(_)).toDF("value")
    val got = AvroCodec.positionsFromWire(wire, fakeRegistry).collect().toSet
    // field reorder + appended default field resolve; unknown id drops
    assert(got == Set(p1, p2))
  }

  test("pinned registry is the default decode path's equal on current frames") {
    import spark.implicits._
    val wire = Seq(Tuple1(AvroCodec.positionToBytes(p1, PinnedRegistry.PositionId)))
      .toDF("value")
    assert(AvroCodec.positionsFromWire(wire, PinnedRegistry).collect().toSeq ==
      AvroCodec.positionsFromWire(wire).collect().toSeq)
    assert(AvroCodec.positionsFromWire(wire).collect().toSeq == Seq(p1))
    // but the evolved id-99 frame needs a registry that knows it: the
    // default drops it, the evolved registry decodes it
    val evolvedWire = Seq(Tuple1(evolvedFrame(p2))).toDF("value")
    assert(AvroCodec.positionsFromWire(evolvedWire).isEmpty)
    assert(AvroCodec.bytesToPosition(evolvedFrame(p2)).isEmpty)
    assert(AvroCodec.positionsFromWire(evolvedWire, fakeRegistry)
      .collect().toSeq == Seq(p2))
    assert(AvroCodec.bytesToPosition(evolvedFrame(p2), fakeRegistry)
      .contains(p2))
  }

  test("ship info path resolves by id too") {
    import spark.implicits._
    val e = ShipInfoEvent("244660180", 1700000000L, "EEMSLIFT ELLEN", "PCVB",
      "cargo ship", "ROTTERDAM")
    val wire = Seq(Tuple1(AvroCodec.shipInfoToBytes(e, PinnedRegistry.ShipInfoId)))
      .toDF("value")
    assert(AvroCodec.shipInfoFromWire(wire, PinnedRegistry).collect().toSeq ==
      Seq(e))
    // an info frame under an id registered to the POSITION schema must not
    // mis-decode: resolution is by id, and a body that cannot parse drops
    val cross = Seq(Tuple1(AvroCodec.shipInfoToBytes(e, PinnedRegistry.PositionId)))
      .toDF("value")
    assert(AvroCodec.shipInfoFromWire(cross, PinnedRegistry).count() == 0L)
  }

  test("the pinned decode reads only its own schema id: a ship-info frame " +
      "and a position frame under id 7 each yield no positions") {
    import spark.implicits._
    val info = ShipInfoEvent("258123000", 0L, "SKIP", "LABC",
      "Tanker_AllShipsOfThisType", "OSLO")
    val infoWire = Seq(Tuple1(AvroCodec.shipInfoToBytes(info,
      PinnedRegistry.ShipInfoId))).toDF("value")
    val foreignWire = Seq(Tuple1(AvroCodec.positionToBytes(p1, 7))).toDF("value")
    assert(AvroCodec.positionsFromWire(infoWire).collect().isEmpty)
    assert(AvroCodec.positionsFromWire(foreignWire).collect().isEmpty)
    // the ship-info frame itself is well formed
    assert(AvroCodec.shipInfoFromWire(infoWire).collect().toSeq == Seq(info))
  }
}
