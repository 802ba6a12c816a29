package graft.ais

import org.apache.avro.Schema

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
  * are immutable per id). [[AvroCodec]]'s decoders take the registry as an
  * argument and memoize its readers per (registry, id) for the JVM's
  * lifetime, so an implementation should be an `object` or compare by value.
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
