package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.streaming.RollingStatsProcessor
import graft.streaming.RollingStatsProcessor.Ev

/** The rolling-ring state survives a full query restart: two
  * incarnations over a file source + checkpoint, frames straddling the
  * restart boundary, output identical to the batch query over the
  * union — the recovery contract a production rolling-feature job
  * depends on.
  */
class RollingStatsRestartSuite extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("ring state resumes across restart (file source + checkpoint)") {
    val in = Files.createTempDirectory("roll_in")
    val out = Files.createTempDirectory("roll_out").toString
    val ckpt = Files.createTempDirectory("roll_ckpt").toString

    val evs = Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"),
        floor(col("value") * 1e9).cast("long").as("q"),
        floor(col("value") * col("value") * 1e9).cast("long").as("q2"))
      .as[(Long, Long, Long, Double, Long, Long)]
      .collect()
      .map(t => Ev(t._1, t._2, t._3, t._4, t._5, t._6))
      .sortBy(e => (e.tsUs, e.eventId))
    val (first, second) = evs.splitAt(evs.length / 2)

    def writeChunk(name: String, chunk: Seq[Ev]): Unit = {
      val lines = chunk.map(e =>
        s"""{"userId":${e.userId},"eventId":${e.eventId},""" +
          s""""tsUs":${e.tsUs},"value":${e.value},"q":${e.q},"q2":${e.q2}}""")
      Files.write(in.resolve(name), String.join("\n", lines: _*).getBytes)
    }

    def run(): Unit = {
      val src = spark.readStream
        .schema("userId LONG, eventId LONG, tsUs LONG, value DOUBLE, " +
          "q LONG, q2 LONG")
        .json(in.toString).as[Ev]
      val q = src.groupByKey(_.userId)
        .transformWithState(new RollingStatsProcessor,
          TimeMode.None(), OutputMode.Append())
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }

    writeChunk("000.json", first.toSeq)
    run() // first incarnation
    writeChunk("001.json", second.toSeq)
    run() // must RESUME: rings carry over, file 000 not reprocessed

    val streamedRows = spark.read.parquet(out)
      .select("eventId", "nFrame", "mean").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = SparkEntry.queries("ts_anomaly_zscore")(spark, sf)
      .select(col("event_id"), col("n_frame"), col("mean")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // count check first: a restart that IGNORED the checkpoint and
    // reprocessed file 000 with fresh state would duplicate first-half
    // rows — a Set compare alone would collapse exactly that failure
    assert(streamedRows.length === batch.size,
      s"duplicate or missing rows: ${streamedRows.length} vs ${batch.size}")
    val streamed = streamedRows.toSet
    assert(streamed.nonEmpty && streamed === batch,
      s"streamed=${streamed.size} batch=${batch.size}")
  }
}
