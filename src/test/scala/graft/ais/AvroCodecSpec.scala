package graft.ais

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

class AvroCodecSpec extends AnyFunSuite {

  private val genPosition: Gen[PositionEvent] = for {
    mmsi <- Gen.chooseNum(100000000L, 999999999L).map(_.toString)
    status <- Gen.oneOf(AisDecoder.navStatusNames :+ "NotReported")
    ts <- Gen.chooseNum(0L, 4102444800L) // beyond y2038 on purpose
    lat <- Gen.chooseNum(-90.0, 90.0)
    lon <- Gen.chooseNum(-180.0, 180.0)
    speed <- Gen.chooseNum(0.0, 102.3)
    heading <- Gen.chooseNum(0, 359)
  } yield PositionEvent(mmsi, status, ts, Gps(lat, lon), speed, heading)

  test("position Confluent-framed roundtrip is identity (property, 200 cases)") {
    val samples = Gen.listOfN(200, genPosition)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(42L))
    samples.foreach { p =>
      assert(AvroCodec.bytesToPosition(
        AvroCodec.positionToBytes(p, PinnedRegistry.PositionId)).contains(p), s"failed for $p")
    }
  }

  test("frame layout: magic 0x00 + big-endian id + body (utils.py:82-111)") {
    val p = PositionEvent("258123000", "Moored", 1700000000L,
      Gps(60.0, 5.0), 3.4, 100)
    val bytes = AvroCodec.positionToBytes(p, schemaId = 0x01020304)
    assert(bytes(0) == 0x00)
    assert(bytes(1) == 0x01 && bytes(2) == 0x02 && bytes(3) == 0x03 && bytes(4) == 0x04)
    assert(AvroCodec.unframe(bytes).exists(_._1 == 0x01020304))
  }

  test("ship info roundtrip with post-y2038 timestamp (widened int->long)") {
    val e = ShipInfoEvent("258123000", 2147483648L, "SKIP", "LABC",
      "Tanker_AllShipsOfThisType", "OSLO")
    assert(AvroCodec.bytesToShipInfo(AvroCodec.shipInfoToBytes(e, 2)).contains(e))
  }

  test("malformed frames decode to None, not exceptions") {
    assert(AvroCodec.bytesToPosition(Array[Byte]()).isEmpty)
    assert(AvroCodec.bytesToPosition(Array[Byte](1, 2, 3)).isEmpty)
    assert(AvroCodec.unframe(Array[Byte](1, 0, 0, 0, 0, 9)).isEmpty) // bad magic
  }
}
