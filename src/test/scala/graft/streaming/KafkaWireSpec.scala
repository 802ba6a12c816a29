package graft.streaming

import graft.SparkSpec
import graft.ais._
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The Kafka seam without a broker: the connector jar is deploy-time, so
  * these tests pin everything this repo owns — the option maps, the format
  * string and options actually landing on the (unstarted) reader/writer, and
  * the wire shape round-tripping through AvroCodec exactly as the connector
  * would carry it. */
class KafkaWireSpec extends SparkSpec {

  /** Walk the runtime class hierarchy for a private field (`source` /
    * `extraOptions` on the classic DataStreamReader/Writer/DataFrameWriter). */
  private def field[A](obj: AnyRef, name: String): A = {
    var c: Class[_] = obj.getClass
    while (c != null) {
      c.getDeclaredFields.find(_.getName == name) match {
        case Some(f) => f.setAccessible(true); return f.get(obj).asInstanceOf[A]
        case None => c = c.getSuperclass
      }
    }
    fail(s"no field $name on ${obj.getClass}")
  }

  private def sourceOf(obj: AnyRef): String = field[String](obj, "source")
  private def optionsOf(obj: AnyRef): Map[String, String] =
    field[CaseInsensitiveMap[String]](obj, "extraOptions").toMap

  private val ep = KafkaWire.Endpoint("broker-0:9092,broker-1:9092",
    "ship-position-events", Map("security.protocol" -> "SASL_SSL"))

  test("source reader is format kafka with the full consumer option map") {
    val r = KafkaWire.sourceReader(spark, ep)
    assert(sourceOf(r) == "kafka")
    val o = optionsOf(r)
    assert(o("kafka.bootstrap.servers") == "broker-0:9092,broker-1:9092")
    assert(o("subscribe") == "ship-position-events")
    assert(o("startingOffsets") == "earliest")
    assert(o("maxOffsetsPerTrigger") == "500000")
    // extra client options are namespaced for the connector
    assert(o("kafka.security.protocol") == "SASL_SSL")
  }

  test("sink writer is format kafka with checkpoint, topic and producer durability") {
    val wire = spark.range(1).select(lit("k").as("key"), lit("v").as("value"))
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val streamWire = ms.toDF().select(col("value").as("key"), col("value"))
    val w = KafkaWire.sinkWriter(streamWire, ep, "/tmp/ckpt/pos")
    assert(sourceOf(w) == "kafka")
    val o = optionsOf(w)
    assert(o("kafka.bootstrap.servers") == "broker-0:9092,broker-1:9092")
    assert(o("topic") == "ship-position-events")
    assert(o("checkpointLocation") == "/tmp/ckpt/pos")
    assert(o("kafka.acks") == "all")
    assert(o("kafka.enable.idempotence") == "true")
    assert(o("kafka.security.protocol") == "SASL_SSL")

    val b = KafkaWire.batchWriter(wire, ep)
    assert(sourceOf(b) == "kafka")
    val bo = optionsOf(b)
    assert(bo("topic") == "ship-position-events")
    assert(bo("kafka.acks") == "all")
  }

  test("pipelineWriters: both topics, derived checkpoints, kafka format") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val (pos, info) = KafkaWire.pipelineWriters(
      ms.toDF(), "rp:9092", "/tmp/ckpt-root")
    assert(sourceOf(pos) == "kafka" && sourceOf(info) == "kafka")
    assert(optionsOf(pos)("topic") == "ship-position-events")
    assert(optionsOf(info)("topic") == "ship-info-events")
    assert(optionsOf(pos)("checkpointLocation") == "/tmp/ckpt-root/positions")
    assert(optionsOf(info)("checkpointLocation") == "/tmp/ckpt-root/info")
  }

  test("pipelineWriters frames each topic under its own registry schema id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[String]
    val (pos, info) = KafkaWire.pipelineWriters(
      ms.toDF(), "rp:9092", "/tmp/ckpt-root")
    // run each unstarted writer's frames into a memory sink instead of kafka
    val qs = Seq(pos -> "kw_pos_wire", info -> "kw_info_wire").map {
      case (w, name) =>
        field[org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]](w, "ds")
          .writeStream.format("memory").queryName(name).start()
    }
    try {
      ms.addData(NmeaEncoder.position(1, 257000001L, 0, 12.3, 5.32, 60.39,
        187, 1700000000L))
      ms.addData(NmeaEncoder.staticVoyage(257000001L, "LAJX", "HAVFRUEN", 70,
        "BERGEN", 1700000100L): _*)
      qs.foreach(_.processAllAvailable())
      assert(AvroCodec.positionsFromWire(spark.table("kw_pos_wire"))
        .collect().map(_.mmsi).toSeq == Seq("257000001"))
      assert(AvroCodec.shipInfoFromWire(spark.table("kw_info_wire"))
        .collect().map(_.shipname).toSeq == Seq("HAVFRUEN"))
    } finally qs.foreach(_.stop())
  }

  test("wire round-trip: positions and info survive the kafka key/value shape") {
    import spark.implicits._
    val pos = Seq(
      PositionEvent("244660180", "under way using engine", 1700000000L,
        Gps(52.1, 4.3), 12.5, 87),
      PositionEvent("367001234", "at anchor", 1700000060L,
        Gps(51.9, 4.1), 0.0, 511)).toDS()
    // the kafka source surfaces exactly (key, value) binary among its columns
    val wire = AvroCodec.positionsToWire(pos, PinnedRegistry.PositionId)
    assert(wire.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq ==
      Seq("key" -> "string", "value" -> "binary"))
    val back = AvroCodec.positionsFromWire(wire).collect().toSet
    assert(back == pos.collect().toSet)
    // keys carry mmsi — the per-ship ordering contract (A10)
    assert(wire.select(col("key")).as[String].collect().toSet ==
      Set("244660180", "367001234"))

    val info = Seq(ShipInfoEvent("244660180", 1700000000L, "EEMSLIFT ELLEN",
      "PCVB", "cargo ship", "ROTTERDAM")).toDS()
    val infoWire = AvroCodec.shipInfoToWire(info, PinnedRegistry.ShipInfoId)
    val infoBack = AvroCodec.shipInfoFromWire(infoWire).collect().toSet
    assert(infoBack == info.collect().toSet)
    // malformed frames drop instead of failing the batch
    val dirty = infoWire.union(
      Seq(("junk", Array[Byte](1, 2, 3))).toDF("key", "value"))
    assert(AvroCodec.shipInfoFromWire(dirty).count() == 1L)
  }
}
