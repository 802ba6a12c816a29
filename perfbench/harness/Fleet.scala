package perfbench

import java.util.BitSet

import graft.ais.NmeaEncoder

/** One source chunk (one `MemoryStream.addData`, so one input partition) and
  * what the pipeline must make of it: the generator's closed-form counts. */
final case class Chunk(lines: Array[String], positions: Int, infos: Int,
    malformed: Int, filtered: Int, ships: BitSet, fastShips: BitSet)

/** Seeded AIS fleet. Every message is a pure function of (seed, message
  * index), so chunks can be generated in parallel and the same seed always
  * gives the same lines.
  *
  * Mix per message: 1% position lines with a bad checksum (dropped at
  * parse), 4% out-of-range reports (speed <= 2 kn, removed by the position
  * filter), 6% two-fragment type 5, 15% type 18, the rest type 1 or 3.
  * Receiver timestamps are `tsBase + message index`, so every message has
  * its own (mmsi, timestamp) and "lands exactly once" is checkable. The
  * ships sail off south-west Norway, over about 30 one-degree weather
  * cells. */
final class Fleet(seed: Long, val ships: Int) {
  private val mmsiBase = 257000000L
  private val tsBase = 1700000000L

  private def u(i: Long, salt: Long): Double = {
    var x = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt * 0x94D049BB133111EBL
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^= x >>> 31
    (x >>> 11).toDouble / (1L << 53)
  }

  private def lat0(s: Int) = 58.2 + 5.6 * u(s, 1)
  private def lon0(s: Int) = 4.2 + 4.6 * u(s, 2)

  /** Messages [first, first + n) as one chunk. */
  def chunk(first: Long, n: Int): Chunk = {
    val out = Array.newBuilder[String]
    val shipSet = new BitSet(ships)
    val fastSet = new BitSet(ships)
    var positions, infos, malformed, filtered = 0
    var m = first
    while (m < first + n) {
      val s = (u(m, 10) * ships).toInt
      val mmsi = mmsiBase + s
      val ts = tsBase + m
      val phase = 2 * math.Pi * (m / 200000.0 + u(s, 3))
      val lat = lat0(s) + 0.4 * math.sin(phase)
      val lon = lon0(s) + 0.4 * math.cos(phase)
      val heading = (u(m, 14) * 360).toInt
      val status = (u(m, 15) * 9).toInt
      val r = u(m, 11)
      if (r < 0.05) {
        // out of range: moored or drifting, below the 2 kn position filter
        val line = NmeaEncoder.position(1, mmsi, status, u(m, 13) * 1.5, lon, lat, heading, ts)
        if (r < 0.01) {
          val cs = Integer.parseInt(line.takeRight(2), 16)
          out += line.dropRight(2) + f"${(cs + 1) & 0xFF}%02X"
          malformed += 1
        } else {
          out += line
          filtered += 1
        }
      } else if (r < 0.11) {
        out ++= NmeaEncoder.staticVoyage(mmsi, s"LA${s % 9999}", s"SHIP$s",
          60 + (s % 30), "BERGEN", ts,
          seq = ((m % 9) + 1).toString)
        infos += 1
      } else {
        // three ships in ten never exceed 9.5 kn, so D2 differs from D1
        val top = if (u(s, 4) < 0.3) 7.0 else 27.5
        val speed = math.round((2.5 + u(m, 13) * top) * 10) / 10.0
        out += (if (r < 0.26) NmeaEncoder.positionB(mmsi, speed, lon, lat, heading, ts)
          else NmeaEncoder.position(if (u(m, 12) < 0.5) 1 else 3, mmsi, status,
            speed, lon, lat, heading, ts))
        positions += 1
        shipSet.set(s)
        if (speed > 10) fastSet.set(s)
      }
      m += 1
    }
    Chunk(out.result(), positions, infos, malformed, filtered, shipSet, fastSet)
  }

  /** `count` chunks of `perChunk` messages starting at chunk `from`,
    * generated in parallel before the run (untimed). */
  def chunks(from: Int, count: Int, perChunk: Int): IndexedSeq[Chunk] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (from until from + count).map(k => pool.submit(
        new java.util.concurrent.Callable[Chunk] {
          def call(): Chunk = chunk(k.toLong * perChunk, perChunk)
        }))
      fs.map(_.get())
    } finally pool.shutdown()
  }
}

/** Closed-form expectations over a set of chunks. */
final case class Expected(lines: Long, positions: Long, infos: Long,
    malformed: Long, filtered: Long, ships: Long, fastShips: Long)

object Expected {
  def of(chunks: Iterable[Chunk]): Expected = {
    val s = new BitSet(); val f = new BitSet()
    chunks.foreach { c => s.or(c.ships); f.or(c.fastShips) }
    Expected(chunks.map(_.lines.length.toLong).sum, chunks.map(_.positions.toLong).sum,
      chunks.map(_.infos.toLong).sum, chunks.map(_.malformed.toLong).sum,
      chunks.map(_.filtered.toLong).sum, s.cardinality(), f.cardinality())
  }

}
