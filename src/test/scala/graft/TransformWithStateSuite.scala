package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.model.Schemas
import graft.streaming.CumVolStatefulProcessor

/** transformWithState cumulative volume: golden outputs across
  * micro-batches, with state carried in the RocksDB state store.
  */
class TransformWithStateSuite extends SparkSpec {
  import spark.implicits._

  private val t0 = 1687176000L

  test("RocksDB-backed transformWithState matches golden semantics across batches") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Schemas.Tick]
    val q = CumVolStatefulProcessor.enrich(input.toDS())
      .writeStream.format("memory").queryName("tws_out")
      .outputMode("append").start()
    try {
      input.addData(
        Schemas.Tick("EURUSD", 1, 1.1, 1.2, t0, 3, "B"),
        Schemas.Tick("EURUSD", 1, 1.1, 1.2, t0 + 1, 5, "S"))
      q.processAllAvailable()
      input.addData( // state must survive the batch boundary in RocksDB
        Schemas.Tick("EURUSD", 1, 1.1, 1.2, t0 + 2, 7, "X"),
        Schemas.Tick("EURUSD", 1, 1.1, 1.2, t0 + 86400, 2, "B"))
      q.processAllAvailable()
      val out = spark.table("tws_out")
        .select("time", "cumbuy", "cumsell", "cumdelta")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1)
      assert(out === Seq(
        (t0, 3L, 0L, 3L),
        (t0 + 1, 3L, 5L, -2L),
        (t0 + 2, 3L, 5L, -2L),
        (t0 + 86400, 2L, 0L, 2L)))
    } finally q.stop()
  }
}
