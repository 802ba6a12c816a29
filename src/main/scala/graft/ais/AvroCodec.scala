package graft.ais

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Avro serialization in the Confluent wire format (A11/B1, SURVEY.md §2.A):
  * magic byte 0x00 + 4-byte big-endian schema id + Avro binary body — the
  * frame the reference's AvroSerializer/Deserializer produce and ClickHouse's
  * AvroConfluent format consumes (utils.py:82-111; clickhouse-ddl.sql:27-28).
  *
  * Schemas are pinned in code (SURVEY.md §1.3): compile-time constants give
  * the same fixed-schema guarantee as the reference's registry round-trip
  * without a registry dependency. The encoders frame under the id the
  * caller gives; the pinned decoders accept only [[PinnedRegistry]]'s ids
  * (a frame under any other id drops), and [[RegistryDecode]] resolves the
  * ids of an external registry when one exists. Built on Apache Avro core (the
  * library Spark itself ships); schemas and datum writers/readers are
  * JVM-wide lazy singletons (GenericDatumWriter.write and
  * GenericDatumReader.read are thread-safe for a fixed schema — the reader
  * resolves via a thread-local), so the per-record hot path allocates only
  * the output buffer and encoder, never re-parses schema JSON.
  */
object AvroCodec {

  /** Engine schema for PositionEvent — mirrors schemas/ship-position-event
    * .avsc:1-61 with the deliberate speed:double deviation (SURVEY.md §7.4.2). */
  val positionSchemaJson: String =
    """{"type":"record","name":"PositionEvent","namespace":"graft.ais","fields":[
      {"name":"mmsi","type":"string"},
      {"name":"status","type":"string","default":"undefined"},
      {"name":"timestamp","type":"long"},
      {"name":"location","type":{"type":"record","name":"gps","fields":[
        {"name":"lat","type":"double"},{"name":"lon","type":"double"}]}},
      {"name":"speed","type":"double"},
      {"name":"heading","type":"int"}]}"""

  /** Mirrors schemas/ship-info-and-destination-event.avsc:1-31 (timestamp
    * widened int→long, SURVEY.md §7.4.2). */
  val shipInfoSchemaJson: String =
    """{"type":"record","name":"ShipAndVoyageEvent","namespace":"graft.ais","fields":[
      {"name":"mmsi","type":"string"},
      {"name":"timestamp","type":"long"},
      {"name":"shipname","type":"string"},
      {"name":"callsign","type":"string"},
      {"name":"shiptype","type":"string"},
      {"name":"destination","type":"string"}]}"""

  lazy val positionSchema: Schema = new Schema.Parser().parse(positionSchemaJson)
  lazy val shipInfoSchema: Schema = new Schema.Parser().parse(shipInfoSchemaJson)

  private lazy val positionWriter = new GenericDatumWriter[GenericRecord](positionSchema)
  private lazy val positionReader = new GenericDatumReader[GenericRecord](positionSchema)
  private lazy val shipInfoWriter = new GenericDatumWriter[GenericRecord](shipInfoSchema)
  private lazy val shipInfoReader = new GenericDatumReader[GenericRecord](shipInfoSchema)

  private val Magic: Byte = 0x00

  def frame(schemaId: Int, body: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(5 + body.length)
      .put(Magic).putInt(schemaId).put(body).array()

  /** (schemaId, avro body); None if the frame is malformed. */
  def unframe(bytes: Array[Byte]): Option[(Int, Array[Byte])] =
    if (bytes.length < 5 || bytes(0) != Magic) None
    else {
      val bb = ByteBuffer.wrap(bytes, 1, 4)
      Some((bb.getInt, java.util.Arrays.copyOfRange(bytes, 5, bytes.length)))
    }

  private def writeRecord(writer: GenericDatumWriter[GenericRecord],
      rec: GenericRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    writer.write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** None when the body does not parse against the schema — a framed but
    * corrupt (or wrong-schema) payload quarantines like a bad frame instead
    * of failing the micro-batch (the B1 drop contract). [[RegistryDecode]]
    * reads through here too, with readers resolved for evolved writer
    * schemas. */
  private[ais] def readRecord(reader: GenericDatumReader[GenericRecord],
      body: Array[Byte]): Option[GenericRecord] =
    try Some(reader.read(null, DecoderFactory.get().binaryDecoder(body, null)))
    catch { case scala.util.control.NonFatal(_) => None }

  def positionToBytes(p: PositionEvent, schemaId: Int): Array[Byte] = {
    val schema = positionSchema
    val gps = new GenericData.Record(schema.getField("location").schema())
    gps.put("lat", p.location.lat)
    gps.put("lon", p.location.lon)
    val r = new GenericData.Record(schema)
    r.put("mmsi", p.mmsi); r.put("status", p.status)
    r.put("timestamp", p.timestamp); r.put("location", gps)
    r.put("speed", p.speed); r.put("heading", p.heading)
    frame(schemaId, writeRecord(positionWriter, r))
  }

  /** A record read against [[positionSchema]] (pinned or resolved from an
    * evolved writer schema) as the engine's event. */
  private[ais] def toPosition(r: GenericRecord): PositionEvent = {
    val gps = r.get("location").asInstanceOf[GenericRecord]
    PositionEvent(
      r.get("mmsi").toString, r.get("status").toString,
      r.get("timestamp").asInstanceOf[Long],
      Gps(gps.get("lat").asInstanceOf[Double], gps.get("lon").asInstanceOf[Double]),
      r.get("speed").asInstanceOf[Double], r.get("heading").asInstanceOf[Int])
  }

  /** None unless the frame carries [[PinnedRegistry.PositionId]]. */
  def bytesToPosition(bytes: Array[Byte]): Option[PositionEvent] =
    unframe(bytes).flatMap {
      case (PinnedRegistry.PositionId, body) =>
        readRecord(positionReader, body).map(toPosition)
      case _ => None
    }

  def shipInfoToBytes(e: ShipInfoEvent, schemaId: Int): Array[Byte] = {
    val schema = shipInfoSchema
    val r = new GenericData.Record(schema)
    r.put("mmsi", e.mmsi); r.put("timestamp", e.timestamp)
    r.put("shipname", e.shipname); r.put("callsign", e.callsign)
    r.put("shiptype", e.shiptype); r.put("destination", e.destination)
    frame(schemaId, writeRecord(shipInfoWriter, r))
  }

  /** A record read against [[shipInfoSchema]] as the engine's event. */
  private[ais] def toShipInfo(r: GenericRecord): ShipInfoEvent =
    ShipInfoEvent(r.get("mmsi").toString, r.get("timestamp").asInstanceOf[Long],
      r.get("shipname").toString, r.get("callsign").toString,
      r.get("shiptype").toString, r.get("destination").toString)

  /** None unless the frame carries [[PinnedRegistry.ShipInfoId]]. */
  def bytesToShipInfo(bytes: Array[Byte]): Option[ShipInfoEvent] =
    unframe(bytes).flatMap {
      case (PinnedRegistry.ShipInfoId, body) =>
        readRecord(shipInfoReader, body).map(toShipInfo)
      case _ => None
    }

  /** A11+A10 sink shape: (key = mmsi, value = framed Avro) — drop-in columns
    * for a Kafka sink (`writeStream.format("kafka")` binds key/value binary
    * columns; the connector jar is a deploy-time addition). */
  def positionsToWire(ds: Dataset[PositionEvent], schemaId: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.map(p => (p.mmsi, positionToBytes(p, schemaId)))
      .toDF("key", "value")
  }

  /** B1 source shape: framed Avro values → typed positions (bad frames and
    * frames under another schema id drop; FAILFAST-equivalent strictness
    * comes from the pinned schema). */
  def positionsFromWire(df: DataFrame): Dataset[PositionEvent] = {
    import df.sparkSession.implicits._
    df.select(col("value").cast("binary"))
      .as[Array[Byte]]
      .flatMap(bytesToPosition(_))
  }

  /** B7 sink shape for the info branch (compacted topic, key = mmsi —
    * README.md:199: compaction keeps the latest destination per ship, so the
    * key MUST be the compaction key). */
  def shipInfoToWire(ds: Dataset[ShipInfoEvent], schemaId: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.map(e => (e.mmsi, shipInfoToBytes(e, schemaId)))
      .toDF("key", "value")
  }

  /** Source twin of [[shipInfoToWire]]. */
  def shipInfoFromWire(df: DataFrame): Dataset[ShipInfoEvent] = {
    import df.sparkSession.implicits._
    df.select(col("value").cast("binary"))
      .as[Array[Byte]]
      .flatMap(bytesToShipInfo(_))
  }
}
