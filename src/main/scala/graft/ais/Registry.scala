package graft.ais

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Schema-registry integration point (lib/utils.py:85-89: the reference
  * registers/fetches schemas through Confluent's SchemaRegistryClient; the
  * ClickHouse tables resolve frames the same way, clickhouse-ddl.sql:27-28).
  *
  * The seam is the consumer-side contract that matters for decode: resolve
  * the WRITER schema from the frame's 4-byte id, then read with Avro
  * schema-resolution against the engine's pinned READER schema — so a
  * producer that evolved its schema (added a field, reordered fields) keeps
  * decoding without a redeploy, exactly the guarantee a live registry buys.
  * [[PinnedRegistry]] is the default (offline) implementation: the two pinned
  * schemas under fixed ids — SURVEY.md §1.3's documented deviation. A
  * deployment with a real registry implements [[RegistryClient]] over its
  * HTTP API (fetch-by-id is one GET, cached forever since registered schemas
  * are immutable per id).
  */
trait RegistryClient extends Serializable {
  /** The immutable schema registered under this id, or None if unknown. */
  def schemaById(id: Int): Option[Schema]
}

/** Offline default: the engine's own schemas under well-known ids. */
object PinnedRegistry extends RegistryClient {
  val PositionId = 1
  val ShipInfoId = 2
  def schemaById(id: Int): Option[Schema] = id match {
    case PositionId => Some(AvroCodec.positionSchema)
    case ShipInfoId => Some(AvroCodec.shipInfoSchema)
    case _ => None
  }
}

/** Registry-aware decode: per-partition readers resolve writer schemas by
  * frame id (memoized — ids map to immutable schemas, so one registry hit
  * per id per executor, the same cache discipline as Confluent's client). */
object RegistryDecode {

  private def resolvingReader(cache: TrieMap[Int, Option[GenericDatumReader[GenericRecord]]],
      registry: RegistryClient, readerSchema: Schema, id: Int)
      : Option[GenericDatumReader[GenericRecord]] =
    cache.getOrElseUpdate(id,
      registry.schemaById(id).map(w =>
        new GenericDatumReader[GenericRecord](w, readerSchema)))

  private def decodeWith(registry: RegistryClient, readerSchema: Schema,
      cache: TrieMap[Int, Option[GenericDatumReader[GenericRecord]]])
      (bytes: Array[Byte]): Option[GenericRecord] =
    AvroCodec.unframe(bytes).flatMap { case (id, body) =>
      resolvingReader(cache, registry, readerSchema, id)
        .flatMap(AvroCodec.readRecord(_, body))
    }

  /** Wire → typed positions with registry-resolved writer schemas. Frames
    * with unknown ids or undecodable bodies drop (the quarantine-at-the-edge
    * contract); a compatible evolved writer schema decodes. */
  def positionsFromWire(df: DataFrame, registry: RegistryClient)
      : Dataset[PositionEvent] = {
    import df.sparkSession.implicits._
    df.select(col("value").cast("binary")).as[Array[Byte]]
      .mapPartitions { it =>
        val cache = TrieMap[Int, Option[GenericDatumReader[GenericRecord]]]()
        val decode = decodeWith(registry, AvroCodec.positionSchema, cache) _
        it.flatMap(b => decode(b).map(AvroCodec.toPosition))
      }
  }

  /** Wire → typed ship info with registry-resolved writer schemas. */
  def shipInfoFromWire(df: DataFrame, registry: RegistryClient)
      : Dataset[ShipInfoEvent] = {
    import df.sparkSession.implicits._
    df.select(col("value").cast("binary")).as[Array[Byte]]
      .mapPartitions { it =>
        val cache = TrieMap[Int, Option[GenericDatumReader[GenericRecord]]]()
        val decode = decodeWith(registry, AvroCodec.shipInfoSchema, cache) _
        it.flatMap(b => decode(b).map(AvroCodec.toShipInfo))
      }
  }
}
