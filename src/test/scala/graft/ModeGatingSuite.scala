package graft

import java.nio.file.{Files, Path}

import graft.sink.LwwSink
import graft.source.EnvelopeSourceProvider
import graft.streaming.Pipelines

/** R2 mode gating + K5 dead-letter: one assembly function starts the
  * reference's full/tick/book deployment shapes; corrupt payloads land in
  * a queryable quarantine table instead of being silently dropped.
  */
class ModeGatingSuite extends SparkSpec {

  private val fmt = classOf[EnvelopeSourceProvider].getName
  private val t0 = 1687176000L

  private def spoolWith(lines: String*): Path = {
    val dir = Files.createTempDirectory("mode_spool")
    Files.write(dir.resolve("000.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    dir
  }

  private val tickLine =
    s"""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "EURUSD", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": $t0, "volume": 3, "type": "B"}}"""
  private val corruptTick =
    """{"topic": "feed", "frameType": "TICK", "payload": "garbage"}"""
  private val corruptBook =
    """{"topic": "feed", "frameType": "BOOK", "payload": "not an array"}"""
  private val bookLine =
    s"""{"topic": "feed", "frameType": "BOOK", "payload": [{"symbol": "EURUSD", "price": 1.08, "time": $t0, "volume": 9, "type": "BOOK_TYPE_BUY"}]}"""

  test("mode=full starts both branches; dead letter captures corrupt rows") {
    val spool = spoolWith(tickLine, corruptTick, bookLine, corruptBook)
    val sink = Files.createTempDirectory("mode_sink").toString
    val ckpt = Files.createTempDirectory("mode_ckpt").toString
    val env = spark.readStream.format(fmt)
      .option("path", spool.toString).load()
    val qs = Pipelines.start(env, "full", sink, ckpt)
    try {
      qs.foreach(_.processAllAvailable())
      assert(LwwSink.read(spark, sink, "feed", "tick").count() === 1)
      assert(LwwSink.read(spark, sink, "feed", "book").count() === 1)
      val dl = spark.read.parquet(s"$sink/_deadletter")
      val rows = dl.select("kind", "payload").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
      assert(rows === Seq(("BOOK", "not an array"), ("TICK", "garbage")),
        "both kinds quarantine WITH their raw payloads")
    } finally qs.foreach(_.stop())
  }

  test("poison pill: a mistyped field quarantines instead of killing the query") {
    // PERMISSIVE from_json nulls just the mistyped field while the rest
    // of the struct parses — so a symbol-only corrupt check would let
    // this row through to `.as[Tick]`, whose primitive Long `time`
    // rejects null at deserialization: the query dies, the checkpoint
    // replays the same batch, and the pipeline is wedged forever. The
    // strict all-fields check must route it to the dead letter instead.
    val poisonTick =
      s"""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "EURUSD", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": "oops", "volume": 3, "type": "B"}}"""
    val poisonBook =
      s"""{"topic": "feed", "frameType": "BOOK", "payload": [{"symbol": "EURUSD", "price": "bad", "time": $t0, "volume": 9, "type": "BOOK_TYPE_BUY"}]}"""
    val spool = spoolWith(tickLine, poisonTick, bookLine, poisonBook)
    val sink = Files.createTempDirectory("mode_sink6").toString
    val ckpt = Files.createTempDirectory("mode_ckpt6").toString
    val env = spark.readStream.format(fmt)
      .option("path", spool.toString).load()
    val qs = Pipelines.start(env, "full", sink, ckpt)
    try {
      qs.foreach(_.processAllAvailable())
      assert(qs.forall(_.exception.isEmpty),
        s"no query may die on a poison row: ${qs.flatMap(_.exception)}")
      // the clean rows landed; the poison rows quarantined WITH payloads
      assert(LwwSink.read(spark, sink, "feed", "tick").count() === 1)
      assert(LwwSink.read(spark, sink, "feed", "book").count() === 1)
      val dl = spark.read.parquet(s"$sink/_deadletter")
        .select("kind").collect().map(_.getString(0)).sorted
      assert(dl === Array("BOOK", "TICK"))
    } finally qs.foreach(_.stop())
  }

  test("replayed dead-letter micro-batch does not duplicate quarantine rows") {
    import spark.implicits._
    val sink = Files.createTempDirectory("dl_replay").toString
    val batch = Seq(("feed", "garbage"), ("feed", "junk"))
      .toDF("topic", "payload")
    Pipelines.quarantine(batch, 7L, sink, "TICK")
    // a crash after the dead-letter write but before the checkpoint
    // commit re-runs the same micro-batch id — the audit trail must
    // converge, not accumulate
    Pipelines.quarantine(batch, 7L, sink, "TICK")
    assert(spark.read.parquet(s"$sink/_deadletter").count() === 2,
      "same batch id replayed must overwrite, not append")
    Pipelines.quarantine(batch, 8L, sink, "TICK")
    val dl = spark.read.parquet(s"$sink/_deadletter")
    assert(dl.count() === 4, "distinct batch ids accumulate")
    assert(dl.columns.toSet === Set("topic", "payload", "kind", "batch"))
  }

  test("mode=book starts only the book branch") {
    val spool = spoolWith(tickLine, bookLine)
    val sink = Files.createTempDirectory("mode_sink2").toString
    val ckpt = Files.createTempDirectory("mode_ckpt2").toString
    val env = spark.readStream.format(fmt)
      .option("path", spool.toString).load()
    val qs = Pipelines.start(env, "book", sink, ckpt)
    try {
      qs.foreach(_.processAllAvailable())
      assert(qs.length === 1) // book upsert + dead-letter ride ONE query
      assert(LwwSink.read(spark, sink, "feed", "book").count() === 1)
      assert(!Files.exists(java.nio.file.Paths.get(
        LwwSink.tablePath(sink, "feed", "tick"))))
    } finally qs.foreach(_.stop())
  }

  test("RocksDB session runs the whole tick pipeline on transformWithState") {
    val spool = spoolWith(
      s"""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "EURUSD", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": $t0, "volume": 3, "type": "B"}}""",
      s"""{"topic": "feed", "frameType": "TICK", "payload": {"symbol": "EURUSD", "bid": 1.0, "price": 1.2, "ask": 1.2, "time": ${t0 + 1}, "volume": 5, "type": "S"}}""")
    val sink = Files.createTempDirectory("mode_sink7").toString
    val ckpt = Files.createTempDirectory("mode_ckpt7").toString
    val env = spark.readStream.format(fmt)
      .option("path", spool.toString).load()
    val qs = Pipelines.start(env, "tick", sink, ckpt)
    try {
      qs.foreach(_.processAllAvailable())
      // the golden rows alone cannot tell which operator produced them —
      // pin the TWS operator in the executed plan
      val plans = qs.map { q =>
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(out))(q.explain())
        out.toString
      }
      assert(plans.exists(_.contains("TransformWithState")),
        s"expected a TransformWithState operator in:\n${plans.mkString}")
      val out = LwwSink.read(spark, sink, "feed", "tick")
        .select("time", "cumbuy", "cumsell", "cumdelta")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1)
      assert(out === Seq((t0, 3L, 0L, 3L), (t0 + 1, 3L, 5L, -2L)),
        "TWS-backed enrichment must produce the golden cumvol rows")
    } finally qs.foreach(_.stop())
  }

  test("tick and full modes refuse a session without the RocksDB state store") {
    // a child session: isolated SQL conf on the shared SparkContext, so
    // the HDFS provider never leaks into the suite's session
    val hdfs = spark.newSession()
    hdfs.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    Seq("tick", "full").foreach { mode =>
      val sink = Files.createTempDirectory("mode_sink8")
      val env = hdfs.readStream.format(fmt)
        .option("path", spoolWith(tickLine, bookLine).toString).load()
      val e = intercept[IllegalArgumentException](
        Pipelines.start(env, mode, sink.toString,
          Files.createTempDirectory("mode_ckpt8").toString))
      assert(e.getMessage.contains("RocksDB"), e.getMessage)
      assert(hdfs.streams.active.isEmpty, s"$mode: no query may start")
      assert(graft.util.Fs.list(sink).isEmpty,
        s"$mode: nothing may reach the sink")
    }
  }

  test("observed metrics report per-batch row and corrupt counts") {
    val spool = spoolWith(tickLine, corruptTick, bookLine, corruptBook)
    val sink = Files.createTempDirectory("mode_sink6").toString
    val ckpt = Files.createTempDirectory("mode_ckpt6").toString
    val env = spark.readStream.format(fmt)
      .option("path", spool.toString).load()
    val qs = Pipelines.start(env, "full", sink, ckpt)
    try {
      qs.foreach(_.processAllAvailable())
      def totals(name: String): (Long, Long) = {
        val rows = qs.flatMap(_.recentProgress)
          .flatMap(p => Option(p.observedMetrics.get(name)))
        (rows.map(_.getLong(0)).sum, rows.map(_.getLong(1)).sum)
      }
      assert(totals("graft_ticks") === ((2L, 1L)),
        "tick branch saw 2 envelopes, 1 corrupt")
      assert(totals("graft_books") === ((2L, 1L)),
        "book branch saw 2 envelopes (1 level + 1 corrupt)")
    } finally qs.foreach(_.stop())
  }

  test("empty book array and symbol-less level dead-letter, never reach the sink") {
    val emptyArray =
      """{"topic": "feed", "frameType": "BOOK", "payload": []}"""
    val noSymbol =
      s"""{"topic": "feed", "frameType": "BOOK", "payload": [{"price": 1.08, "time": $t0, "volume": 9, "type": "BOOK_TYPE_BUY"}, {"symbol": "EURUSD", "price": 1.09, "time": $t0, "volume": 2, "type": "BOOK_TYPE_BUY"}]}"""
    val spool = spoolWith(bookLine, emptyArray, noSymbol)
    val sink = Files.createTempDirectory("mode_sink4").toString
    val ckpt = Files.createTempDirectory("mode_ckpt4").toString
    val env = spark.readStream.format(fmt)
      .option("path", spool.toString).load()
    val qs = Pipelines.start(env, "book", sink, ckpt)
    try {
      qs.foreach(_.processAllAvailable())
      // only levels carrying their PK land: bookLine's + noSymbol's 2nd
      val rows = LwwSink.read(spark, sink, "feed", "book")
        .collect().map(r => (r.getString(0), r.getDouble(1)))
      assert(rows.forall(_._1 != null), "no null-PK rows in the sink")
      assert(rows.length === 2)
      // the empty array and the PK-less level each quarantine
      assert(spark.read.parquet(s"$sink/_deadletter").count() === 2)
    } finally qs.foreach(_.stop())
  }

  test("hostile topic cannot escape the sink root or kill the batch") {
    val evil =
      s"""{"topic": "../../evil", "frameType": "BOOK", "payload": [{"symbol": "EURUSD", "price": 1.08, "time": $t0, "volume": 9, "type": "BOOK_TYPE_BUY"}]}"""
    val spool = spoolWith(evil)
    val sink = Files.createTempDirectory("mode_sink5").toString
    val ckpt = Files.createTempDirectory("mode_ckpt5").toString
    val env = spark.readStream.format(fmt)
      .option("path", spool.toString).load()
    val qs = Pipelines.start(env, "book", sink, ckpt)
    try {
      qs.foreach(_.processAllAvailable())
      // the row lands, percent-encoded INSIDE the sink root
      assert(LwwSink.read(spark, sink, "../../evil", "book").count() === 1)
      val table = java.nio.file.Paths.get(
        LwwSink.tablePath(sink, "../../evil", "book")).normalize()
      assert(table.startsWith(java.nio.file.Paths.get(sink)),
        s"table must stay under the sink root: $table")
    } finally qs.foreach(_.stop())
  }

  test("K3 dynamic tables: each topic gets its own {topic}_book table") {
    def bookLineFor(topic: String, sym: String) =
      s"""{"topic": "$topic", "frameType": "BOOK", "payload": [{"symbol": "$sym", "price": 1.08, "time": $t0, "volume": 9, "type": "BOOK_TYPE_BUY"}]}"""
    val spool = spoolWith(
      bookLineFor("eurusd", "EURUSD"),
      bookLineFor("gbpusd", "GBPUSD"),
      bookLineFor("eurusd", "EURJPY"))
    val sink = Files.createTempDirectory("mode_sink3").toString
    val ckpt = Files.createTempDirectory("mode_ckpt3").toString
    val env = spark.readStream.format(fmt)
      .option("path", spool.toString).load()
    val qs = Pipelines.start(env, "book", sink, ckpt)
    try {
      qs.foreach(_.processAllAvailable())
      assert(LwwSink.read(spark, sink, "eurusd", "book").count() === 2)
      assert(LwwSink.read(spark, sink, "gbpusd", "book")
        .collect().map(_.getString(0)).toSeq === Seq("GBPUSD"))
    } finally qs.foreach(_.stop())
  }
}
