package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CheckerSuite extends AnyFunSuite {
  private val msgs = new FeedGen(7, dayBoundaryAt = 300).take(600)
  private val expected = Expected.ticks(msgs)
  private val rows = expected.values.map(_._1).toSeq
  private def key(r: TickRow) = (r.symbol, r.time, r.price)
  private def check(actual: Seq[TickRow]) = Checker.compare(expected, actual, key)

  test("the generated feed has ticks, books and corrupt payloads") {
    assert(rows.size > 400)
    assert(msgs.exists(m => m.kind == "BOOK" && m.levels.size >= 8))
    assert(msgs.exists(_.corrupt))
    // the feed crosses a UTC midnight
    assert(rows.map(r => Math.floorDiv(r.time, 86400L)).distinct.size == 2)
  }

  test("an exact copy passes") {
    val r = check(scala.util.Random.shuffle(rows))
    assert(r.ok && r.failures == 0)
  }

  test("a wrong row fails its message") {
    val bad = rows.head.copy(cumbuy = rows.head.cumbuy + 1)
    val r = check(bad +: rows.tail)
    assert(!r.ok && r.wrong == 1 && r.failedMsgs == Set(expected(key(bad))._2))
    assert(!r.hashMatch && r.countMatch)
  }

  test("a duplicate primary key fails its message") {
    val r = check(rows :+ rows(3))
    assert(!r.ok && r.duplicateKeys == 1 && r.failedMsgs.size == 1)
    assert(!r.countMatch)
  }

  test("a missing message fails") {
    val owner = expected(key(rows(5)))._2
    val r = check(rows.filterNot(x => expected(key(x))._2 == owner))
    assert(!r.ok && r.missing >= 1 && r.failedMsgs == Set(owner))
  }

  test("a row nobody sent is an extra failure") {
    val r = check(rows :+ rows.head.copy(time = 1L))
    assert(!r.ok && r.extra == 1 && r.failures == 1)
  }

  test("cumulative volumes fold per (symbol, UTC day) in feed order") {
    // the golden case of FIXTURES.md A.4
    def tick(i: Int, t: Long, side: String, v: Int) = Msg(i, "x", "TICK", "",
      corrupt = false, malformed = false,
      Seq(TickIn("EURUSD", 1, 1, 1, t, v, side)), Nil)
    val t0 = 1687132800L
    val out = Expected.ticks(Seq(tick(0, t0, "B", 3), tick(1, t0 + 1, "S", 5),
      tick(2, t0 + 2, "X", 7), tick(3, t0 + 86400, "B", 2)))
      .values.map(_._1).toSeq.sortBy(_.time)
      .map(r => (r.cumbuy, r.cumsell, r.cumdelta))
    assert(out == Seq((3, 0, 3), (3, 5, -2), (3, 5, -2), (2, 0, 2)))
  }

  test("a later re-send of a ladder wins the book key") {
    val g = new FeedGen(3, 100)
    val first = Iterator.continually(g.next())
      .find(m => m.kind == "BOOK" && !m.corrupt).get
    val again = g.resend(first)
    val books = Expected.books(Seq(first, again))
    assert(books.size == first.levels.size)
    assert(books.values.forall(_._2 == again.idx))
  }
}
