package graft.functions

/** Primitive long→long open-addressing hash map — the 16 B/entry counter
  * buffer the heavy-hitter sketch's scaladoc costed against the boxed
  * `java.util.HashMap`'s ~55 B/entry (boxing + node headers + table refs).
  * Two parallel `Array[Long]`s with linear probing and backward-shift
  * deletion (Knuth 6.4 algorithm R — no tombstones, so probe chains never
  * rot under the eviction-heavy Space-Saving workload); key 0 is the empty
  * sentinel and is carried out-of-band (`hasZero`/`zeroVal`), so the full
  * signed key range is valid. The table starts small (32 slots) and doubles
  * at 50% load — a fresh per-partition `zero()` buffer at toy scale costs
  * 512 bytes, not a pre-sized megabyte table.
  *
  * Not thread-safe; no iterator object — [[foreachEntry]] drives a callback
  * so the hot add/evict path stays allocation-free end to end.
  */
final class LongLongOpenMap(initialSlots: Int) extends Serializable {

  def this() = this(32)

  private var keys: Array[Long] = _
  private var vals: Array[Long] = _
  private var mask: Int = _
  private var occupied: Int = 0 // non-zero keys in the table
  private var hasZero: Boolean = false
  private var zeroVal: Long = 0L

  locally {
    var cap = 32
    while (cap < initialSlots) cap <<= 1
    keys = new Array[Long](cap)
    vals = new Array[Long](cap)
    mask = cap - 1
  }

  def size: Int = occupied + (if (hasZero) 1 else 0)

  // Fibonacci-style mixer: internal placement only — never crosses engines,
  // so it owes nothing to the repo's oracle-replicable RollingHash
  @inline private def slot(k: Long): Int = {
    val h = k * -7046029254386353131L // 0x9E3779B97F4A7C15
    ((h ^ (h >>> 32)).toInt) & mask
  }

  /** Value for `k`, or -1 when absent (counts are always ≥ 1 here). */
  def get(k: Long): Long = {
    if (k == 0L) return if (hasZero) zeroVal else -1L
    var i = slot(k)
    while (keys(i) != 0L) {
      if (keys(i) == k) return vals(i)
      i = (i + 1) & mask
    }
    -1L
  }

  def put(k: Long, v: Long): Unit = {
    if (k == 0L) { hasZero = true; zeroVal = v; return }
    var i = slot(k)
    while (keys(i) != 0L) {
      if (keys(i) == k) { vals(i) = v; return }
      i = (i + 1) & mask
    }
    keys(i) = k; vals(i) = v; occupied += 1
    if (occupied * 2 > mask + 1) grow()
  }

  /** Add `v` to `k`'s value (absent = 0) — the merge hot path. */
  def addTo(k: Long, v: Long): Unit = {
    if (k == 0L) { zeroVal = (if (hasZero) zeroVal else 0L) + v; hasZero = true; return }
    var i = slot(k)
    while (keys(i) != 0L) {
      if (keys(i) == k) { vals(i) += v; return }
      i = (i + 1) & mask
    }
    keys(i) = k; vals(i) = v; occupied += 1
    if (occupied * 2 > mask + 1) grow()
  }

  def remove(k: Long): Unit = {
    if (k == 0L) { hasZero = false; zeroVal = 0L; return }
    var i = slot(k)
    while (keys(i) != k) {
      if (keys(i) == 0L) return
      i = (i + 1) & mask
    }
    // backward-shift: refill the hole with any downstream entry whose ideal
    // slot lies cyclically at-or-before the hole (else lookups lose it)
    occupied -= 1
    var hole = i
    var j = i
    while (true) {
      j = (j + 1) & mask
      val kj = keys(j)
      if (kj == 0L) { keys(hole) = 0L; return }
      val h = slot(kj)
      val reachable =
        if (hole <= j) h > hole && h <= j
        else h > hole || h <= j
      if (!reachable) {
        keys(hole) = kj; vals(hole) = vals(j); hole = j
      }
    }
  }

  def foreachEntry(f: (Long, Long) => Unit): Unit = {
    if (hasZero) f(0L, zeroVal)
    var i = 0
    while (i < keys.length) {
      if (keys(i) != 0L) f(keys(i), vals(i))
      i += 1
    }
  }

  private def grow(): Unit = {
    val ok = keys; val ov = vals
    val cap = (mask + 1) << 1
    keys = new Array[Long](cap)
    vals = new Array[Long](cap)
    mask = cap - 1
    var i = 0
    while (i < ok.length) {
      val k = ok(i)
      if (k != 0L) {
        var j = slot(k)
        while (keys(j) != 0L) j = (j + 1) & mask
        keys(j) = k; vals(j) = ov(i)
      }
      i += 1
    }
  }
}
