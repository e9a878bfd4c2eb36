package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.model.Schemas.Tick
import graft.sink.LwwSink
import graft.source.EnvelopeSourceProvider
import graft.streaming.{FunnelProcessor, Pipelines}

/** [[graft.streaming.FunnelProcessor]] — the stateful strict-window
  * funnel behind `stream_e2e_funnel`: hand-computed fold semantics
  * (deadline gates, set-once hops, duplicate absorption) and the
  * checkpointed-restart leg (a chain spanning incarnations must keep
  * its anchor — state loss would freeze the user at stage 1).
  */
class StreamingFunnelSuite extends SparkSpec {

  import FunnelProcessor.{FunnelState, Unset, fold, stage}

  private val t0 = 1687176000L
  private val W = 100L

  private def tick(typ: String, time: Long) =
    Tick("u1", 1.0, 1.0, 1.0, time, 1, typ)

  private def st0 = FunnelState(Unset, Unset, Unset)

  test("fold: full chain within deadlines reaches stage 3") {
    val st = fold(st0, Iterator(tick("view", t0),
      tick("click", t0 + 50), tick("purchase", t0 + 120)), W)
    assert(st == FunnelState(t0, t0 + 50, t0 + 120) && stage(st) == 3L)
  }

  test("fold: click past the deadline never anchors; purchase " +
      "before click never counts") {
    val miss = fold(st0, Iterator(tick("view", t0),
      tick("click", t0 + W + 1)), W)
    assert(miss == FunnelState(t0, Unset, Unset) && stage(miss) == 1L)
    val early = fold(st0, Iterator(tick("purchase", t0 - 10),
      tick("view", t0), tick("click", t0 + 10)), W)
    assert(stage(early) == 2L)
  }

  test("fold: hops are set-once — a better later click can't move " +
      "the anchor, duplicates are absorbed") {
    val rows = Seq(tick("view", t0), tick("click", t0 + 90),
      tick("click", t0 + 10))
    // sorted fold anchors the EARLIEST in-window click
    val st = fold(st0, rows.iterator, W)
    assert(st.bS == t0 + 10)
    // replaying the same rows over the folded state changes nothing
    assert(fold(st, rows.iterator, W) == st)
  }

  test("fold: boundary times are inclusive on both hops") {
    val st = fold(st0, Iterator(tick("view", t0),
      tick("click", t0 + W), tick("purchase", t0 + 2 * W)), W)
    assert(stage(st) == 3L)
  }

  private val fmt = classOf[EnvelopeSourceProvider].getName

  private def line(typ: String, time: Long) =
    s"""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "u1", "bid": 1.0, "price": 1.0, "ask": 1.0, "time": $time, "volume": 1, "type": "$typ"}}"""

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("funnel anchor survives a checkpointed restart") {
    val spool = Files.createTempDirectory("funnel_spool")
    val sink = Files.createTempDirectory("funnel_sink").toString
    val ckpt = Files.createTempDirectory("funnel_ckpt").toString

    def run(): Unit = {
      import spark.implicits._
      val env = spark.readStream.format(fmt)
        .option("path", spool.toString).load()
      val ticks = Pipelines.parseTicks(env).filter(!col("_corrupt"))
        .select(col("symbol"), col("bid"), col("price"), col("ask"),
          col("time"), col("volume"), col("tradeType"))
        .as[Tick]
      val q = FunnelProcessor.stages(ticks, W)
        .toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          LwwSink.upsertBatch(batch.toDF(), id, sink, "feed",
            "funnel", Seq("symbol"))
        }.start()
      try q.processAllAvailable() finally q.stop()
    }

    // incarnation one: only the view — stage 1
    write(spool, "000.jsonl", line("view", t0))
    run()
    // incarnation two: the rest of the chain, in-window relative to
    // the RESTORED anchor; a lost state would ignore both and the
    // LWW row would stay at stage 1
    write(spool, "001.jsonl",
      line("click", t0 + 50), line("purchase", t0 + 120))
    run()

    val rows = LwwSink.read(spark, sink, "feed", "funnel")
      .select("symbol", "stage").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows === Set(("u1", 3L)),
      s"restored anchor must complete the chain: $rows")
  }
}
