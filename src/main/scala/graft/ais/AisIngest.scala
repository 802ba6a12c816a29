package graft.ais

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The ingest stage (SURVEY.md §2.A): raw NMEA lines → typed position and
  * ship-info streams. Decode (A2) is the only per-record Scala function —
  * everything after is relational Column expressions so Catalyst prunes,
  * pushes down, and codegens the whole branch (the reference did these
  * rewrites by hand in Python — producer:54-69; here they're declarative).
  *
  * Works identically on a batch `Dataset[String]` and a streaming one
  * (`spark.readStream.text(...)` / socket source), because every transform is
  * stateless per-record: the same code is the streaming pipeline's map stage
  * (graft.streaming.AisPipeline).
  */
object AisIngest {

  /** A2: NMEA parse → fragment assembly → bit decode, partition-local.
    *
    * Assembly REQUIRES multi-sentence fragments to be adjacent within a
    * partition — which they are on a live TCP stream and within one replayed
    * file (SURVEY.md §7.4.1). A fragment pair split across partitions (or
    * micro-batches) is dropped, never mis-paired: AIS seqIds are 0-9 and
    * recycle constantly, so any cross-partition regrouping keyed on seqId
    * would pair fragments of *different* messages at scale — and a global
    * groupBy on 20 possible (seqId, channel) keys would serialize a 100 TB
    * replay onto 20 tasks. Adjacency-scoped state is the correct contract. */
  def decode(raw: Dataset[String]): Dataset[DecodedAis] = {
    import raw.sparkSession.implicits._
    raw.mapPartitions { lines =>
      Nmea.assemble(lines.flatMap(Nmea.parse)).flatMap(AisDecoder.decode)
    }
  }

  /** Quarantine variant of [[decode]]: lines that fail NMEA parse/checksum
    * are routed to a rejects channel instead of silently dropping — the
    * large-pipeline pattern for poisoned records (inspect/replay the
    * quarantine instead of losing data or killing the stage). Parseable
    * sentences of un-carried message types are routed drops, not rejects.
    * Single streaming pass via the incremental assembler; the tagged stream
    * is cached so both views run the decode once.
    */
  def decodeWithQuarantine(raw: Dataset[String])
      : (Dataset[DecodedAis], Dataset[String]) = {
    import raw.sparkSession.implicits._
    val tagged: Dataset[(Option[DecodedAis], Option[String])] =
      raw.mapPartitions { lines =>
        val asm = new Nmea.Assembler
        lines.flatMap { line =>
          Nmea.parse(line) match {
            case Some(s) =>
              asm.offer(s).flatMap(AisDecoder.decode)
                .map(d => (Some(d), Option.empty[String])).iterator
            case None if line.trim.nonEmpty =>
              Iterator.single((Option.empty[DecodedAis], Some(line)))
            case None => Iterator.empty
          }
        }
      }.cache()
    (tagged.flatMap(_._1), tagged.flatMap(_._2))
  }

  /** A6: a code → name lookup as one array literal indexed by the code
    * column: `get` answers null past either end of the array, and a null
    * code stays null, so both fall to `NotReported`. One array read per row
    * instead of a CASE WHEN chain that every micro-batch re-plans and
    * re-generates code for. */
  private def lookup(names: Seq[String], code: String) =
    coalesce(get(typedLit(names), col(code)), lit("NotReported"))

  /** Nav-status names, codes 0-15 (producer:41-45). */
  private def statusName = lookup(AisDecoder.navStatusNames, "status")

  /** Ship-type names, codes 0-99 (producer:79-83). */
  private def shipTypeNameCol =
    lookup((0 to 99).map(AisDecoder.shipTypeName), "shiptype")

  /** Position branch: A3 tag-block filter, A5 router (types 1|3|18), A6 enum
    * default, A7 range filter (producer:54-61), A8 projection + nest. */
  def positions(decoded: Dataset[DecodedAis]): Dataset[PositionEvent] = {
    import decoded.sparkSession.implicits._
    decoded
      .filter(col("msgType").isin(1, 3, 18) && col("receiverTs").isNotNull)
      .filter(col("speed") > 2 && col("speed") < 75 &&
        col("lat") <= 90 && col("lon") <= 180 && col("heading") < 360)
      .select(
        col("mmsi"),
        statusName.as("status"),
        col("receiverTs").as("timestamp"),
        struct(col("lat"), col("lon")).as("location"),
        col("speed"),
        col("heading"))
      .as[PositionEvent]
  }

  /** Info branch: A5 router (type 5), A6 ship-type naming, A9 projection. */
  def shipInfo(decoded: Dataset[DecodedAis]): Dataset[ShipInfoEvent] = {
    import decoded.sparkSession.implicits._
    decoded
      .filter(col("msgType") === 5 && col("receiverTs").isNotNull)
      .select(
        col("mmsi"),
        col("receiverTs").as("timestamp"),
        coalesce(col("shipname"), lit("")).as("shipname"),
        coalesce(col("callsign"), lit("")).as("callsign"),
        shipTypeNameCol.as("shiptype"),
        coalesce(col("destination"), lit("")).as("destination"))
      .as[ShipInfoEvent]
  }

  /** A10: key-by mmsi — within the engine, co-locate per-ship records when
    * per-key ordering matters (the Kafka sink key's analog, producer:47-49). */
  def keyByMmsi(df: DataFrame, partitions: Int): DataFrame =
    df.repartition(partitions, col("mmsi"))

  /** Conjunction of not-null predicates over every leaf of `schema` under
    * `root`: a replayed pre-decoded event must be COMPLETE. Without this, an
    * object missing a primitive field would pass from_json with a null and
    * then throw inside typed deserialization instead of dropping. */
  private def requiredNonNull(root: org.apache.spark.sql.Column,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.Column =
    schema.fields.foldLeft(root.isNotNull) { (acc, f) =>
      val child = root.getField(f.name)
      f.dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          acc && requiredNonNull(child, st)
        case _ => acc && child.isNotNull
      }
    }

  private def fromJsonLines[T <: Product](raw: Dataset[String])(
      implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    val schema = enc.schema
    raw.toDF("value")
      .select(from_json(col("value"), schema).as("p"))
      .filter(requiredNonNull(col("p"),
        schema.asInstanceOf[org.apache.spark.sql.types.StructType]))
      .select(col("p.*")).as[T]
  }

  /** SURVEY §7.4 fallback interface: accept already-decoded position events
    * as JSON lines, bypassing the NMEA decoder — replay/testing path for
    * pre-decoded feeds. Malformed lines, objects missing the key, and
    * objects missing any required field drop, mirroring decode's
    * drop-don't-throw posture. */
  def positionsFromJson(raw: Dataset[String]): Dataset[PositionEvent] = {
    import raw.sparkSession.implicits._
    fromJsonLines[PositionEvent](raw)
  }

  /** JSON-lines fallback for the info branch. */
  def shipInfoFromJson(raw: Dataset[String]): Dataset[ShipInfoEvent] = {
    import raw.sparkSession.implicits._
    fromJsonLines[ShipInfoEvent](raw)
  }
}
