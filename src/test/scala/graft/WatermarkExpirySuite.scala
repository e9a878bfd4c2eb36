package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.CumVolStatefulProcessor

/** Event-time state TTL: per-symbol session state is removed once the
  * watermark passes its day, so a very-late tick re-seeds from zero
  * instead of polluting newer counters (and state size stays bounded by
  * live keys at scale).
  */
class WatermarkExpirySuite extends SparkSpec {
  import spark.implicits._

  private val t0 = 1687176000L // 2023-06-19 12:00 UTC

  private def tick(sym: String, time: Long, vol: Int, typ: String) =
    (sym, 1.0, 1.1, 1.2, time, vol, typ)

  test("TWS/RocksDB path: event-time timer clears state past the session day") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Double, Double, Double, Long, Int, String)]
    val ticks = input.toDF()
      .toDF("symbol", "bid", "price", "ask", "time", "volume", "tradeType")
    val q = CumVolStatefulProcessor.enrichWithWatermark(ticks, "1 hour")
      .writeStream.format("memory").queryName("wm_tws_out")
      .outputMode("append").start()
    def stateRows: Long = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty)
      .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
    try {
      input.addData(tick("A", t0, 10, "B"))
      q.processAllAvailable()
      assert(stateRows === 1L) // A live
      // advance the watermark two days past A's session day via B;
      // processAllAvailable includes the follow-up batch Spark triggers
      // when the watermark moves, which fires A's event-time timer
      input.addData(tick("B", t0 + 2 * 86400, 1, "B"))
      q.processAllAvailable()
      assert(stateRows === 1L,
        "A's session day is past the watermark; its state must be removed")
      // very late tick for A, below the watermark: filtered before the
      // stateful operator — it can no longer pollute any counters
      input.addData(tick("A", t0 + 1, 7, "B"))
      q.processAllAvailable()
      val aRows = spark.table("wm_tws_out")
        .filter(col("symbol") === "A")
        .select("time", "cumbuy")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(aRows === Seq((t0, 10L)), "late row must be dropped, not applied")
      assert(stateRows === 1L, "dropped late row must not re-create state")
    } finally q.stop()
  }

  test("without expiry, state would have accumulated (control)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Double, Double, Double, Long, Int, String)]
    val ticks = input.toDF()
      .toDF("symbol", "bid", "price", "ask", "time", "volume", "tradeType")
    import graft.model.Schemas
    val q = CumVolStatefulProcessor.enrich(ticks.as[Schemas.Tick])
      .writeStream.format("memory").queryName("wm_ctrl")
      .outputMode("append").start()
    try {
      input.addData(tick("A", t0, 10, "B"))
      q.processAllAvailable()
      input.addData(tick("A", t0 + 1, 7, "B")) // same day, state alive
      q.processAllAvailable()
      val aRows = spark.table("wm_ctrl")
        .select("time", "cumbuy")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(aRows === Seq((t0, 10L), (t0 + 1, 17L)))
    } finally q.stop()
  }

  /** Pins the engine semantics `stream_e2e_late`'s spool layout is
    * built around: Spark filters late rows with the PREVIOUS batch's
    * watermark (eventTimeWatermarkForLateEvents) while evicting with
    * the current one, so a straggler arriving ONE batch after a
    * watermark advancer is still ADMITTED; only two batches after is
    * it dropped. If this test starts failing, Spark changed to
    * single-watermark filtering and the e2e runner's second advancer
    * file is no longer load-bearing (the query stays correct either
    * way — this is a change detector, not a correctness gate).
    */
  test("late filter lags one batch behind the eviction watermark") {
    // back-to-back single-file batches, no idle follow-up batch
    // between them (MemoryStream + processAllAvailable per add would
    // insert one and mask the lag — measured)
    def run(layout: Seq[String]): Seq[(Long, Long)] = {
      val work = java.nio.file.Files.createTempDirectory("wm_lag")
      graft.source.SpoolWriter.deleteAtExit(work)
      val spool = work.resolve("spool")
      java.nio.file.Files.createDirectories(spool)
      layout.zipWithIndex.foreach { case (line, i) =>
        java.nio.file.Files.writeString(
          spool.resolve(f"$i%04d.jsonl"), line + "\n")
      }
      val src = spark.readStream
        .format(classOf[graft.source.EnvelopeSourceProvider].getName)
        .option("path", spool.toString)
        .option("maxFilesPerTrigger", "1").load()
      val agg = graft.streaming.Pipelines.parseTicks(src)
        .filter(!col("_corrupt"))
        .withColumn("ts", timestamp_seconds(col("time")))
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "30 minutes").as("w"), col("symbol"))
        .agg(sum("volume").cast("long").as("sv"))
      val sink = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
      val q = agg.writeStream.outputMode("append")
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          sink ++= b.filter(col("symbol") === "A").collect()
            .map(r => (id, r.getAs[Long]("sv")))
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      sink.toSeq
    }
    def tickJson(sym: String, time: Long, vol: Int) =
      s"""{"topic":"feed","frameType":"TICK","payload":{"symbol":"$sym",""" +
        s""""bid":1.0,"price":1.0,"ask":1.0,"time":$time,"volume":$vol,"type":"B"}}"""
    val era = tickJson("A", t0, 1)
    val adv1 = tickJson("Z", t0 + 100 * 86400, 1)
    val adv2 = tickJson("Z", t0 + 100 * 86400 + 60, 1)
    val straggler = tickJson("A", t0, 100)
    // one advancer: the straggler batch still filters with the
    // PRE-advancer watermark (t0+60s-1d < t0) → straggler admitted
    val one = run(Seq(era, adv1, straggler))
    assert(one.map(_._2).max === 101L,
      s"one-advancer layout: straggler expected ADMITTED (lagging " +
        s"filter watermark — Spark semantics changed?), got $one")
    // two advancers: the straggler batch's filter watermark already
    // includes advancer #1 → dropped (the stream_e2e_late layout)
    val two = run(Seq(era, adv1, adv2, straggler))
    assert(two.map(_._2) === Seq(1L),
      s"two-advancer layout: straggler must be dropped, got $two")
  }
}
