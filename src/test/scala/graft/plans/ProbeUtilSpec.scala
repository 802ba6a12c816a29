package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/** [[ProbeUtil.probe]], the one memoized, fail-safe path every plan-time
  * probe takes: errors mean "no stats", an interrupt declines without
  * poisoning the memo, and a probe never recurses into another. */
class ProbeUtilSpec extends AnyFunSuite {

  private def memo() = new ProbeUtil.Memo[String, Option[Int]](8)

  test("a throwing probe gives None and is memoized") {
    val m = memo()
    var calls = 0
    def failing: Option[Int] = {
      calls += 1
      throw new IllegalStateException("probe failure")
    }
    assert(ProbeUtil.probe(m, "k")(failing).isEmpty)
    assert(ProbeUtil.probe(m, "k")(failing).isEmpty)
    assert(calls == 1, "a failed probe must not be re-run for the same key")
  }

  test("an interrupted probe gives None, is not memoized, and leaves the " +
      "thread's interrupt flag set") {
    val m = memo()
    var calls = 0
    try {
      val v = ProbeUtil.probe(m, "k") {
        calls += 1
        throw new InterruptedException("planning cancelled")
      }
      assert(v.isEmpty)
      // Thread.interrupted() reads AND clears the flag
      assert(Thread.interrupted(), "the interrupt flag must be restored")
      assert(ProbeUtil.probe(m, "k") { calls += 1; Some(7) }.contains(7))
      assert(calls == 2, "an interrupted probe must not be memoized")
    } finally Thread.interrupted()
  }

  test("a probe called from inside another probe declines without " +
      "computing, and the next top-level probe computes") {
    val m = memo()
    var innerCalls = 0
    var inner: Option[Int] = Some(-1)
    val outer = ProbeUtil.probe(m, "outer") {
      inner = ProbeUtil.probe(m, "inner") { innerCalls += 1; Some(1) }
      Some(2)
    }
    assert(outer.contains(2))
    assert(inner.isEmpty, "the nested probe must decline")
    assert(innerCalls == 0)
    // declining is not memoized, and the guard is released afterwards
    assert(ProbeUtil.probe(m, "inner") { innerCalls += 1; Some(1) }.contains(1))
    assert(innerCalls == 1)
  }
}
