package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One generated wire message: a 3-frame envelope (topic, frame type,
  * payload), or a malformed 2-frame one the transport must drop.
  * `ticks`/`levels` are what the message means when it parses.
  */
final case class Msg(idx: Int, topic: String, kind: String, payload: String,
    corrupt: Boolean, malformed: Boolean, ticks: Seq[TickIn],
    levels: Seq[BookRow]) {
  def frames: Seq[Array[Byte]] =
    if (malformed) Seq(topic.getBytes(UTF_8), kind.getBytes(UTF_8))
    else Seq(topic.getBytes(UTF_8), kind.getBytes(UTF_8), payload.getBytes(UTF_8))

  /** The spool line SpoolTransportAdapter would seal for this message. */
  def spoolLine: String = {
    val p = if (corrupt) graft.util.JsonStrings.quote(payload) else payload
    s"""{"topic": "$topic", "frameType": "$kind", "payload": $p}"""
  }
}

final case class TickIn(symbol: String, bid: Double, price: Double,
    ask: Double, time: Long, volume: Int, tradeType: String)

/** A row of `feed_tick` (tick fields plus the per-(symbol, UTC day)
  * cumulative volumes). */
final case class TickRow(symbol: String, bid: Double, price: Double,
    ask: Double, time: Long, volume: Int, tradeType: String, cumbuy: Long,
    cumsell: Long, cumdelta: Long)

/** A row of `{topic}_book` (type prefix already stripped). */
final case class BookRow(topic: String, symbol: String, price: Double,
    time: Long, volume: Int, orderType: String)

/** Seeded, single-threaded L2 feed generator.
  *
  * 100 symbols with Zipf(1.1) frequency; message i carries event time
  * T0 + i seconds, so times are unique and increase in feed order and the
  * feed crosses the UTC midnight at `dayBoundaryAt`. About 80% TICK and
  * 20% BOOK envelopes (8 to 12 ladder levels) over two topics, about 1%
  * corrupt (truncated) payloads, and, when `malformedRate` > 0, a few
  * 2-frame messages the transport must drop. A generator starting at
  * `startIdx` continues the feed of another one in time.
  */
final class FeedGen(seed: Long, dayBoundaryAt: Int,
    malformedRate: Double = 0.0,
    startIdx: Int = 0) {
  import FeedGen._

  private val rnd = new SplittableRandom(seed)
  private val zipfCdf: Array[Double] = {
    val w = (1 to NumSymbols).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  val t0: Long = Midnight - dayBoundaryAt
  private var nextIdx = startIdx

  private def symbolIdx(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(NumSymbols - 1, if (i >= 0) i else -i - 1)
  }

  /** Price in ticks of 0.0001, rendered as a 4-decimal JSON number. */
  private def px(units: Long): (Double, String) = {
    val s = java.math.BigDecimal.valueOf(units, 4).toPlainString
    (s.toDouble, s)
  }

  def next(): Msg = {
    val idx = nextIdx
    nextIdx += 1
    val time = t0 + idx
    val si = symbolIdx()
    val sym = f"S$si%03d"
    val topic = Topics(rnd.nextInt(Topics.size))
    val mid = 10000L + si * 3700L + rnd.nextInt(2001) - 1000
    val malformed = rnd.nextDouble() < malformedRate
    val corrupt = !malformed && rnd.nextDouble() < CorruptRate
    if (rnd.nextDouble() < 0.8) {
      val (bid, bidS) = px(mid - 1)
      val (price, priceS) = px(mid)
      val (ask, askS) = px(mid + 1)
      val vol = 1 + rnd.nextInt(100)
      val u = rnd.nextDouble()
      val side = if (u < 0.45) "B" else if (u < 0.9) "S" else "X"
      val payload = s"""{"symbol": "$sym", "bid": $bidS, "price": $priceS, "ask": $askS, "time": $time, "volume": $vol, "type": "$side"}"""
      val tick = TickIn(sym, bid, price, ask, time, vol, side)
      mk(idx, topic, "TICK", payload, corrupt, malformed, Seq(tick), Nil)
    } else {
      val n = 8 + rnd.nextInt(5)
      val levels = (0 until n).map { k =>
        val buy = k % 2 == 0
        val (p, pS) = px(if (buy) mid - 1 - k / 2 else mid + 1 + k / 2)
        val vol = 1000 * (1 + rnd.nextInt(500))
        val t = if (buy) "BOOK_TYPE_BUY" else "BOOK_TYPE_SELL"
        (s"""{"symbol": "$sym", "price": $pS, "time": $time, "volume": $vol, "type": "$t"}""",
          BookRow(topic, sym, p, time, vol, if (buy) "BUY" else "SELL"))
      }
      mk(idx, topic, "BOOK", levels.map(_._1).mkString("[", ", ", "]"),
        corrupt, malformed, Nil, levels.map(_._2))
    }
  }

  /** Re-send of an earlier ladder with new volumes: same primary keys, so
    * the LWW sink must keep this later version. */
  def resend(old: Msg): Msg = {
    require(old.kind == "BOOK" && !old.corrupt && !old.malformed)
    val idx = nextIdx
    nextIdx += 1
    val levels = old.levels.map(l => l.copy(volume = l.volume + 1 + rnd.nextInt(999)))
    val payload = levels.map { l =>
      val t = "BOOK_TYPE_" + l.orderType
      val pS = java.math.BigDecimal.valueOf(l.price).setScale(4).toPlainString
      s"""{"symbol": "${l.symbol}", "price": $pS, "time": ${l.time}, "volume": ${l.volume}, "type": "$t"}"""
    }.mkString("[", ", ", "]")
    Msg(idx, old.topic, "BOOK", payload, corrupt = false, malformed = false,
      Nil, levels)
  }

  private def mk(idx: Int, topic: String, kind: String, payload: String,
      corrupt: Boolean, malformed: Boolean, ticks: Seq[TickIn],
      levels: Seq[BookRow]): Msg =
    if (corrupt) {
      // a truncated payload: never a complete JSON value, so the
      // transport carries it as a string and the parser dead-letters it
      val cut = payload.substring(0, 10 + rnd.nextInt(payload.length / 2))
      Msg(idx, topic, kind, cut, corrupt = true, malformed = false, Nil, Nil)
    } else Msg(idx, topic, kind, payload, corrupt = false, malformed, ticks, levels)

  def take(n: Int): Vector[Msg] = Vector.fill(n)(next())
}

object FeedGen {
  val NumSymbols = 100
  val Topics: Vector[String] = Vector("eurusd", "gbpjpy")
  val CorruptRate = 0.01
  /** 2024-06-03T00:00:00Z */
  val Midnight: Long = 1717372800L
}

/** The expected sink contents, folded sequentially from the generated
  * messages in feed order (the order of their event times). */
object Expected {
  type TickKey = (String, Long, Double)
  type BookKey = (String, String, Long, Double)

  def ticks(msgs: Seq[Msg]): Map[TickKey, (TickRow, Int)] = {
    val st = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    val out = Map.newBuilder[TickKey, (TickRow, Int)]
    msgs.foreach { m =>
      if (!m.corrupt && !m.malformed) m.ticks.foreach { t =>
        val day = Math.floorDiv(t.time, 86400L)
        val (d0, b0, s0) = st.getOrElse(t.symbol, (Long.MinValue, 0L, 0L))
        val (b1, s1) = if (d0 == day) (b0, s0) else (0L, 0L)
        val (b, s) = t.tradeType match {
          case "B" => (b1 + t.volume, s1)
          case "S" => (b1, s1 + t.volume)
          case _ => (b1, s1)
        }
        st(t.symbol) = (day, b, s)
        out += (t.symbol, t.time, t.price) -> (TickRow(t.symbol, t.bid,
          t.price, t.ask, t.time, t.volume, t.tradeType, b, s, b - s), m.idx)
      }
    }
    out.result()
  }

  /** Later messages overwrite earlier ones on the same primary key. */
  def books(msgs: Seq[Msg]): Map[BookKey, (BookRow, Int)] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[BookKey, (BookRow, Int)]
    msgs.foreach { m =>
      if (!m.corrupt && !m.malformed) m.levels.foreach { l =>
        out((l.topic, l.symbol, l.time, l.price)) = (l, m.idx)
      }
    }
    out.toMap
  }

  def corrupt(msgs: Seq[Msg]): Map[String, Long] =
    msgs.filter(_.corrupt).groupBy(_.kind).map { case (k, v) => k -> v.size.toLong }
}
