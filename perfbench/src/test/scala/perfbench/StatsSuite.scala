package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSuite extends AnyFunSuite {
  private val hundred = (1 to 100).map(_.toDouble)

  test("nearest-rank percentiles") {
    assert(Stats.median(hundred) == 50.0)
    assert(Stats.percentile(hundred, 99) == 99.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
    assert(Stats.percentile(Seq(7.0), 99.9) == 7.0)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val t = Stats.tail(hundred).get
    assert(t.value == 90.0 && t.pct == 90.0 && t.beyond == 10 && t.n == 100)
    // exactly ten samples rank above the tail value, whatever the order
    val xs = scala.util.Random.shuffle((1 to 37).map(_.toDouble))
    val t37 = Stats.tail(xs).get
    assert(xs.count(_ > t37.value) == 10)
    assert(math.abs(t37.pct - 100.0 * 27 / 37) < 1e-9)
    // the tail never falls below the median: fewer than 20 samples → none
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)).get.value == 10.0)
  }

  test("a file commits when the LAST query commits it") {
    // query A commits files 0..1 at t=10 and 2 at t=30; query B commits
    // 0 at t=20 and 1..2 at t=25; nobody ever commits file 3
    val c = Stats.fileCommitTimes(4, Seq(
      Seq((10L, 1), (30L, 2)),
      Seq((20L, 0), (25L, 2))))
    assert(c.toSeq == Seq(Some(20L), Some(25L), Some(30L), None))
    // a query that reports nothing leaves every file uncommitted
    assert(Stats.fileCommitTimes(2, Seq(Seq((5L, 1)), Nil)).forall(_.isEmpty))
  }

  test("latency runs from the due time, not the send time") {
    val ms = 1000000L
    val due = Array(0L, 100 * ms, 200 * ms)
    // the generator stalled: message 1 went out at 180 ms, but its
    // latency still counts from 100 ms
    val lat = Stats.dueLatenciesMs(due, Array(0, 0, 1),
      Array(Some(250 * ms), None))
    assert(lat.toSeq == Seq(Some(250.0), Some(150.0), None))
    // a message outside every committed file (e.g. dropped) has none
    assert(Stats.dueLatenciesMs(Array(0L), Array(-1), Array(Some(1L))).head.isEmpty)
  }
}
