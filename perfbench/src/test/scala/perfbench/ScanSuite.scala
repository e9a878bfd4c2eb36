package perfbench

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.scalatest.funsuite.AnyFunSuite

class ScanSuite extends AnyFunSuite {
  private val schema = Encoders.product[TickRow].schema
  private val ticks = Expected.ticks(new FeedGen(11, dayBoundaryAt = 200).take(400))
    .values.map(_._1).toSeq
  private val symbol = ticks.groupBy(_.symbol).maxBy(_._2.size)._1
  // one symbol's rows, newest first, as the scan orders them
  private val result = ticks.filter(_.symbol == symbol)
    .sortBy(r => (-r.time, r.price)).take(Scan.Limit)
  private val want: Seq[Seq[Any]] = result.map(_.productIterator.toSeq)
  private def rows(rs: Seq[TickRow]): Seq[Row] =
    rs.map(r => new GenericRowWithSchema(r.productIterator.toArray, schema))

  private def done(ok: Boolean) = Scan.Done("s", 1.0, ok, 1, 0.5, 0.5)

  test("a scan returning the reference rows passes") {
    assert(result.size > 3)
    assert(Scan.matches("tick", rows(result), want))
  }

  test("a scan with a wrong row fails and counts as a failed scan") {
    val bad = result.updated(2, result(2).copy(cumdelta = result(2).cumdelta + 1))
    val ok = Scan.matches("tick", rows(bad), want)
    assert(!ok)
    val probe = Scan.Probe(Seq(done(true), done(ok), done(true)), Map.empty)
    assert(probe.failed == 1 && probe.done.size == 3)
  }

  test("a scan missing a row or out of order fails") {
    assert(!Scan.matches("tick", rows(result.tail), want))
    assert(!Scan.matches("tick", rows(result.reverse), want))
  }
}
