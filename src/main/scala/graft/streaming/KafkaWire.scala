package graft.streaming

import graft.ais.{AvroCodec, PinnedRegistry}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, Trigger}

/** Kafka/Redpanda transport seam — the reference's deployment backbone
  * (lib/utils.py:63-79 consumer config, :91-100 producer config;
  * README.md:195-202 topic topology) re-expressed as Spark's Kafka source and
  * sink with the Confluent wire frame supplied by [[graft.ais.AvroCodec]].
  *
  * Everything here is OPTION PLUMBING over `format("kafka")`: the
  * spark-sql-kafka connector is a deploy-time jar (`--packages
  * org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>`), absent from
  * this build on purpose, so every method returns a CONFIGURED BUT UNSTARTED
  * reader/writer. `.load()`/`.start()` are the only calls that need the jar —
  * KafkaWireSpec asserts the format and full option map on the unstarted
  * objects, which is the entire surface this code owns; the connector itself
  * is Spark's.
  *
  * Scale note: the Kafka source maps one topic partition to one Spark task,
  * so end-to-end parallelism = partition count (reference creates the
  * position topic with `-p 3`, README.md:197 — a 1000-executor job wants
  * hundreds). Writes key by mmsi (A10), preserving the reference's per-ship
  * ordering contract under the default hash partitioner.
  */
object KafkaWire {

  /** One logical endpoint. `extra` passes librdkafka-style client options;
    * they are namespaced with the `kafka.` prefix Spark's connector expects
    * (e.g. `acks=all` — the reference producer's setting, utils.py:95 —
    * becomes `kafka.acks=all`). */
  final case class Endpoint(bootstrapServers: String, topic: String,
      extra: Map[String, String] = Map.empty)

  /** The producer's default client options — the reference's durability
    * choice (`acks=all`, utils.py:95) plus idempotence, which Spark's
    * at-least-once sink needs so broker-side retries cannot duplicate within
    * a producer session. */
  val ProducerDefaults: Map[String, String] =
    Map("acks" -> "all", "enable.idempotence" -> "true")

  /** Source-side option map for `spark.readStream.format("kafka")`.
    * `startingOffsets=earliest` mirrors the reference consumer's
    * `auto.offset.reset` (utils.py:72); Spark tracks its own offsets in the
    * checkpoint, so there is no `group.id` contract to carry over. */
  def sourceOptions(ep: Endpoint,
      startingOffsets: String = "earliest"): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> ep.bootstrapServers,
      "subscribe" -> ep.topic,
      "startingOffsets" -> startingOffsets,
      // bound a catch-up batch so a backlogged topic cannot produce one
      // giant first micro-batch after downtime
      "maxOffsetsPerTrigger" -> "500000") ++
      ep.extra.map { case (k, v) => s"kafka.$k" -> v }

  /** Sink-side option map for `writeStream.format("kafka")`. */
  def sinkOptions(ep: Endpoint, checkpoint: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> ep.bootstrapServers,
      "topic" -> ep.topic,
      "checkpointLocation" -> checkpoint) ++
      (ProducerDefaults ++ ep.extra).map { case (k, v) => s"kafka.$k" -> v }

  /** Configured, unstarted streaming reader for an endpoint. Call `.load()`
    * once the connector jar is on the classpath; the result has Kafka's fixed
    * schema (key/value binary, topic, partition, offset, timestamp...). */
  def sourceReader(spark: SparkSession, ep: Endpoint,
      startingOffsets: String = "earliest"): DataStreamReader =
    spark.readStream.format("kafka")
      .options(sourceOptions(ep, startingOffsets))

  /** Configured, unstarted streaming writer: frames must already be in the
    * (key binary, value binary) wire shape ([[AvroCodec.positionsToWire]] /
    * [[AvroCodec.shipInfoToWire]]). */
  def sinkWriter(wire: DataFrame, ep: Endpoint, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): DataStreamWriter[Row] =
    wire.writeStream.format("kafka")
      .options(sinkOptions(ep, checkpoint))
      .trigger(trigger)

  /** Batch (backfill) writer — same options minus the checkpoint, for
    * replaying a parquet MV into a topic. */
  def batchWriter(wire: DataFrame, ep: Endpoint)
      : org.apache.spark.sql.DataFrameWriter[Row] =
    wire.write.format("kafka")
      .option("kafka.bootstrap.servers", ep.bootstrapServers)
      .option("topic", ep.topic)
      .options((ProducerDefaults ++ ep.extra).map { case (k, v) => (s"kafka.$k", v) })

  /** The deploy topology in one call: decoded AIS branches → the reference's
    * two topics (README.md:197-200 — positions plain, info compacted; topic
    * cleanup policy is broker-side DDL, [[AisPipeline.latestInfo]] is the
    * engine-side compaction twin). Each topic's frames carry its own
    * [[PinnedRegistry]] schema id. Returns unstarted writers; deploy code
    * does `.start()` on each. */
  def pipelineWriters(raw: DataFrame, bootstrap: String,
      checkpointRoot: String,
      posTopic: String = "ship-position-events",
      infoTopic: String = "ship-info-events")
      : (DataStreamWriter[Row], DataStreamWriter[Row]) = {
    import raw.sparkSession.implicits._
    val d = graft.ais.AisIngest.decode(
      raw.select(col("value").cast("string")).as[String])
    val pos = AvroCodec.positionsToWire(graft.ais.AisIngest.positions(d),
      PinnedRegistry.PositionId)
    val info = AvroCodec.shipInfoToWire(graft.ais.AisIngest.shipInfo(d),
      PinnedRegistry.ShipInfoId)
    (sinkWriter(pos, Endpoint(bootstrap, posTopic), s"$checkpointRoot/positions"),
      sinkWriter(info, Endpoint(bootstrap, infoTopic), s"$checkpointRoot/info"))
  }
}
