package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.model.Schemas.{EnrichedTick, Tick}
import graft.streaming.CumVolStatefulProcessor.CumState

/** A1+A2 streaming form: per-symbol running (cumbuy, cumsell, cumdelta)
  * with daily session reset, emitted on every input row, on
  * `transformWithState` over the RocksDB state store (SURVEY §2.4 A1+A2).
  *
  * Reference: state main.rs:207-208, update main.rs:122-128, daily reset
  * main.rs:112-118, cumdelta main.rs:130. Durable checkpointed state, one
  * [[CumState]] (three longs) per symbol, partitioned across executors —
  * the upgrade over the reference's in-process HashMap, which is
  * single-threaded and lost on crash. RocksDB keeps the state off the
  * executor heap, so key cardinality is bounded by local disk.
  *
  * Semantics decisions (SURVEY §1.4, documented divergences):
  *  - Day boundary is per-symbol (the reference's global
  *    `last_processed_date` resets only the arriving symbol on rollover —
  *    we implement the evident intent: per-(symbol, UTC day) sessions).
  *  - Within a micro-batch, rows are processed in event-time order
  *    (stable-sorted by `time`); the reference uses arrival order
  *    (main.rs:219-230), which is identical when the feed is in order.
  *  - A late row from a *previous* day accumulates into the current-day
  *    counters without reset — byte-compatible with the reference's
  *    monotone-day check (`tick_date > last_date`, main.rs:115).
  *
  * Under `TimeMode.EventTime` (the watermarked entry,
  * [[CumVolStatefulProcessor.enrichWithWatermark]]) each key also keeps
  * one event-time timer, re-armed every batch to fire when the watermark
  * passes the session day's end; `handleExpiredTimer` clears the key's
  * state, so the store holds only symbols still inside their live day
  * (+ allowed lateness) instead of every key ever seen (SURVEY §2.6; the
  * reference's HashMap grows forever, main.rs:207). After expiry a
  * very-late tick re-seeds state from zero on its own (stale) day — it
  * can no longer pollute a newer day's counters (SURVEY §1.4.4).
  * `TTLConfig` is deliberately NOT used: it is processing-time-based,
  * and session expiry is an event-time contract.
  */
class CumVolStatefulProcessor
    extends StatefulProcessor[String, Tick, EnrichedTick] {

  @transient private var state: ValueState[CumState] = _
  @transient private var expires = false

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    state = getHandle.getValueState[CumState](
      "cumvol", Encoders.product[CumState], TTLConfig.NONE)
    expires = timeMode == TimeMode.EventTime()
  }

  override def handleInputRows(
      symbol: String,
      rows: Iterator[Tick],
      timerValues: TimerValues): Iterator[EnrichedTick] = {
    val st0 = Option(state.get()).getOrElse(CumState(Long.MinValue, 0L, 0L))
    val (st, out) = CumVolStatefulProcessor.fold(st0, rows)
    state.update(st)
    if (expires) {
      // Single live timer per key: expire once the watermark passes the
      // session day's end (never at-or-before the current watermark, or
      // the timer would be considered already expired).
      getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts))
      val dayEndMs = (st.day + 1) * 86400L * 1000L
      getHandle.registerTimer(
        math.max(dayEndMs, timerValues.getCurrentWatermarkInMs() + 1))
    }
    out.iterator
  }

  override def handleExpiredTimer(
      symbol: String,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[EnrichedTick] = {
    state.clear()
    Iterator.empty
  }
}

object CumVolStatefulProcessor {

  /** Keyed state: the symbol's current UTC day ordinal and session sums. */
  case class CumState(day: Long, cumbuy: Long, cumsell: Long)

  /** The golden per-batch fold: event-time-ordered rows through the
    * per-row arithmetic — day bucket F5 (main.rs:109-110), daily reset A2
    * (main.rs:112-118), conditional B/S contribution R4 (main.rs:124-128;
    * non-B/S rows pass through with unchanged counters, NOT dropped).
    */
  private[graft] def fold(
      st0: CumState, rows: Iterator[Tick]): (CumState, Seq[EnrichedTick]) = {
    var st = st0
    val out = rows.toSeq.sortBy(_.time).map { t =>
      val day = Math.floorDiv(t.time, 86400L)
      if (st.day == Long.MinValue || day > st.day)
        st = CumState(day, 0L, 0L)
      st = t.tradeType match {
        case "B" => st.copy(cumbuy = st.cumbuy + t.volume)
        case "S" => st.copy(cumsell = st.cumsell + t.volume)
        case _   => st
      }
      EnrichedTick(t.symbol, t.bid, t.price, t.ask, t.time, t.volume,
        t.tradeType, st.cumbuy, st.cumsell, st.cumbuy - st.cumsell)
    }
    (st, out)
  }

  /** Fail fast, before any batch runs, on a session without the RocksDB
    * store: `transformWithState` cannot run on the HDFS-backed default.
    * [[graft.GraftSession]] sets it for every graft session.
    */
  private def requireRocksDB(ticks: Dataset[_]): Unit = {
    val provider = ticks.sparkSession.conf
      .getOption("spark.sql.streaming.stateStore.providerClass").getOrElse("")
    require(provider == graft.GraftSession.RocksDBProvider,
      "cumulative-volume enrichment runs on transformWithState and needs " +
        s"the RocksDB state store provider, got '$provider'")
  }

  /** Enrichment: Dataset[Tick] → Dataset[EnrichedTick] (streaming or
    * batch). One shuffle on symbol; unbounded per-symbol state.
    */
  def enrich(ticks: Dataset[Tick]): Dataset[EnrichedTick] = {
    requireRocksDB(ticks)
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_.symbol)
      .transformWithState(new CumVolStatefulProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Watermarked enrichment with event-time state expiry: rows behind the
    * watermark drop before the operator, and a symbol's state is cleared
    * once the watermark passes its session day. `ticks` carries the
    * [[Tick]] columns; the derived `ts` watermark column rides along in
    * the plan (the Tick encoder ignores it), so the same processor
    * serves both entries.
    */
  def enrichWithWatermark(
      ticks: DataFrame, delay: String): Dataset[EnrichedTick] = {
    requireRocksDB(ticks)
    import ticks.sparkSession.implicits._
    ticks
      .withColumn("ts", timestamp_seconds(col("time")))
      .withWatermark("ts", delay)
      .as[Tick]
      .groupByKey(_.symbol)
      .transformWithState(new CumVolStatefulProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
