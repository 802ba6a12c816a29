package graft.ais

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Avro serialization in the Confluent wire format (A11/B1, SURVEY.md §2.A):
  * magic byte 0x00 + 4-byte big-endian schema id + Avro binary body — the
  * frame the reference's AvroSerializer/Deserializer produce and ClickHouse's
  * AvroConfluent format consumes (utils.py:82-111; clickhouse-ddl.sql:27-28).
  *
  * Schemas are pinned in code (SURVEY.md §1.3): compile-time constants give
  * the same fixed-schema guarantee as the reference's registry round-trip
  * without a registry dependency. The encoders frame under the id the
  * caller gives; the decoders resolve the WRITER schema by the frame's id
  * through a [[RegistryClient]] — [[PinnedRegistry]] unless the caller
  * passes another — and read the body against the pinned READER schema, so
  * a frame under an unknown id drops and an evolved writer schema decodes.
  * Built on Apache Avro core (the library Spark itself ships); schemas,
  * datum writers and the resolved readers are JVM-wide singletons
  * (GenericDatumWriter.write and GenericDatumReader.read are thread-safe
  * for fixed schemas — the reader resolves via a thread-local), so the
  * per-record hot path allocates only the buffer and the encoder or
  * decoder, never re-parses schema JSON or builds a reader.
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
  private lazy val shipInfoWriter = new GenericDatumWriter[GenericRecord](shipInfoSchema)

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
    * of failing the micro-batch (the B1 drop contract). */
  private def readRecord(reader: GenericDatumReader[GenericRecord],
      body: Array[Byte]): Option[GenericRecord] =
    try Some(reader.read(null, DecoderFactory.get().binaryDecoder(body, null)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Readers by (registry, writer id, reader schema), memoized JVM-wide: a
    * registered id names an immutable schema, so each registry is asked
    * once per id — the cache discipline of Confluent's client. Only hits
    * are kept, so frames under made-up ids cannot grow the map. */
  private val readers = TrieMap.empty[(RegistryClient, Int, Schema),
    GenericDatumReader[GenericRecord]]

  /** Unframe, resolve the writer schema by the frame's id, read against
    * `readerSchema`; None for a bad frame, an unknown id or a body that
    * does not resolve. */
  private def decode(bytes: Array[Byte], registry: RegistryClient,
      readerSchema: Schema): Option[GenericRecord] =
    unframe(bytes).flatMap { case (id, body) =>
      val key = (registry, id, readerSchema)
      readers.get(key).orElse(registry.schemaById(id).map(w =>
        readers.getOrElseUpdate(key,
          new GenericDatumReader[GenericRecord](w, readerSchema))))
        .flatMap(readRecord(_, body))
    }

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
  private def toPosition(r: GenericRecord): PositionEvent = {
    val gps = r.get("location").asInstanceOf[GenericRecord]
    PositionEvent(
      r.get("mmsi").toString, r.get("status").toString,
      r.get("timestamp").asInstanceOf[Long],
      Gps(gps.get("lat").asInstanceOf[Double], gps.get("lon").asInstanceOf[Double]),
      r.get("speed").asInstanceOf[Double], r.get("heading").asInstanceOf[Int])
  }

  /** None unless `registry` maps the frame's id to a writer schema that
    * resolves against [[positionSchema]] and the body reads under it. */
  def bytesToPosition(bytes: Array[Byte],
      registry: RegistryClient = PinnedRegistry): Option[PositionEvent] =
    decode(bytes, registry, positionSchema).map(toPosition)

  def shipInfoToBytes(e: ShipInfoEvent, schemaId: Int): Array[Byte] = {
    val schema = shipInfoSchema
    val r = new GenericData.Record(schema)
    r.put("mmsi", e.mmsi); r.put("timestamp", e.timestamp)
    r.put("shipname", e.shipname); r.put("callsign", e.callsign)
    r.put("shiptype", e.shiptype); r.put("destination", e.destination)
    frame(schemaId, writeRecord(shipInfoWriter, r))
  }

  /** A record read against [[shipInfoSchema]] as the engine's event. */
  private def toShipInfo(r: GenericRecord): ShipInfoEvent =
    ShipInfoEvent(r.get("mmsi").toString, r.get("timestamp").asInstanceOf[Long],
      r.get("shipname").toString, r.get("callsign").toString,
      r.get("shiptype").toString, r.get("destination").toString)

  /** [[bytesToPosition]]'s twin against [[shipInfoSchema]]. */
  def bytesToShipInfo(bytes: Array[Byte],
      registry: RegistryClient = PinnedRegistry): Option[ShipInfoEvent] =
    decode(bytes, registry, shipInfoSchema).map(toShipInfo)

  /** A11+A10 sink shape: (key = mmsi, value = framed Avro) — drop-in columns
    * for a Kafka sink (`writeStream.format("kafka")` binds key/value binary
    * columns; the connector jar is a deploy-time addition). */
  def positionsToWire(ds: Dataset[PositionEvent], schemaId: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.map(p => (p.mmsi, positionToBytes(p, schemaId)))
      .toDF("key", "value")
  }

  /** B1 source shape: framed Avro values → typed positions (bad frames and
    * frames under an id `registry` does not resolve to a position schema
    * drop; FAILFAST-equivalent strictness comes from the pinned reader
    * schema). */
  def positionsFromWire(df: DataFrame,
      registry: RegistryClient = PinnedRegistry): Dataset[PositionEvent] = {
    import df.sparkSession.implicits._
    df.select(col("value").cast("binary"))
      .as[Array[Byte]]
      .flatMap(bytesToPosition(_, registry))
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
  def shipInfoFromWire(df: DataFrame,
      registry: RegistryClient = PinnedRegistry): Dataset[ShipInfoEvent] = {
    import df.sparkSession.implicits._
    df.select(col("value").cast("binary"))
      .as[Array[Byte]]
      .flatMap(bytesToShipInfo(_, registry))
  }
}
