package graft

import java.nio.file.{Files, Path}

import graft.source.EnvelopeSourceProvider
import graft.streaming.Pipelines

/** DSv2 envelope source: batch + micro-batch reads over a spool
  * directory, topic-prefix pushdown, malformed-line dead-lettering, and
  * the full source → stateful-enrichment → sink path across batches.
  */
class EnvelopeSourceSuite extends SparkSpec {

  private val fmt = classOf[EnvelopeSourceProvider].getName
  private val t0 = 1687176000L

  private def tickLine(topic: String, sym: String, time: Long, vol: Int,
      typ: String) =
    s"""{"topic": "$topic", "frameType": "TICK", "payload": {"symbol": "$sym", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": $time, "volume": $vol, "type": "$typ"}}"""

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))

  test("batch read: demux, nested-payload capture, malformed dead-letter") {
    val dir = Files.createTempDirectory("spool")
    write(dir, "000.jsonl",
      tickLine("eurusd", "EURUSD", t0, 3, "B"),
      """{"topic": "eurusd", "frameType": "BOOK", "payload": [{"symbol": "EURUSD", "price": 1.08, "time": 1687176000, "volume": 9, "type": "BOOK_TYPE_BUY"}]}""",
      """not json at all""")
    val df = spark.read.format(fmt).option("path", dir.toString).load()
    val rows = df.collect()
    assert(rows.length === 2, "malformed line has no topic -> dropped row")
    val tick = Pipelines.parseTicks(df)
    assert(tick.filter("_corrupt").count() === 0)
    assert(tick.filter("symbol = 'EURUSD' AND volume = 3").count() === 1)
    val book = Pipelines.parseBooks(df)
    assert(book.filter("orderType = 'BUY' AND volume = 9").count() === 1)
  }

  test("non-bracketed payloads in last position exclude the envelope's closer") {
    // a bare number (or any non-bracketed value) as the LAST field used
    // to capture the envelope's own `}` into the payload — a valid
    // frame arrived corrupted and the quarantined bytes were not the
    // wire bytes
    val dir = Files.createTempDirectory("spool_bare")
    write(dir, "000.jsonl",
      """{"topic": "feed", "frameType": "RAW", "payload": 42}""",
      """{"topic": "feed", "frameType": "RAW", "payload": -1.5e3}""",
      """{"topic": "feed", "frameType": "RAW", "payload": 7, "x": 1}""")
    val rows = spark.read.format(fmt).option("path", dir.toString).load()
      .select("payload").collect().map(_.getString(0)).toSeq
    assert(rows === Seq("42", "-1.5e3", "7"))
  }

  test("topicPrefix pushdown filters at the source (S2 semantics)") {
    val dir = Files.createTempDirectory("spool2")
    write(dir, "000.jsonl",
      tickLine("eurusd", "EURUSD", t0, 1, "B"),
      tickLine("gbpusd", "GBPUSD", t0, 2, "B"),
      tickLine("eurjpy", "EURJPY", t0, 3, "B"))
    val df = spark.read.format(fmt)
      .option("path", dir.toString).option("topicPrefix", "eur").load()
    assert(df.collect().map(_.getString(0)).sorted.toSeq
      === Seq("eurjpy", "eurusd"))
  }

  test("micro-batch stream: file-granular offsets, state carried across batches") {
    val dir = Files.createTempDirectory("spool3")
    write(dir, "000.jsonl", tickLine("feed", "EURUSD", t0, 3, "B"))
    val stream = spark.readStream.format(fmt)
      .option("path", dir.toString).load()
    val q = Pipelines.tickPipeline(stream)
      .writeStream.format("memory").queryName("dsv2_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // second spool file arrives -> next micro-batch; state must carry
      write(dir, "001.jsonl", tickLine("feed", "EURUSD", t0 + 1, 5, "S"))
      q.processAllAvailable()
      val out = spark.table("dsv2_out")
        .select("time", "cumbuy", "cumsell")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(out === Seq((t0, 3L, 0L), (t0 + 1, 3L, 5L)))
    } finally q.stop()
  }

  test("ZMQ-shaped adapter: socket -> multipart frames -> spool -> source") {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.source.{MultipartFrames, SpoolTransportAdapter}
    val dir = Files.createTempDirectory("spool_zmq")
    val server = new java.net.ServerSocket(0)
    def frames(t: String, ft: String, p: String) =
      Seq(t, ft, p).map(_.getBytes(UTF_8))
    val feeder = new Thread(() => {
      val s = server.accept()
      val out = new java.io.DataOutputStream(s.getOutputStream)
      MultipartFrames.writeMessage(out, frames("feed.eur", "TICK",
        s"""{"symbol": "EURUSD", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": $t0, "volume": 3, "type": "B"}"""))
      // SUB prefix filter: wrong topic never reaches the spool
      MultipartFrames.writeMessage(out, frames("other.gbp", "TICK",
        s"""{"symbol": "GBPUSD", "bid": 2.0, "price": 2.1, "ask": 2.2, "time": $t0, "volume": 4, "type": "B"}"""))
      // malformed: 2 frames, not the 3-frame envelope -> counted drop
      MultipartFrames.writeMessage(out,
        Seq("feed.x".getBytes(UTF_8), "TICK".getBytes(UTF_8)))
      MultipartFrames.writeMessage(out, frames("feed.eur", "BOOK",
        s"""[{"symbol": "EURUSD", "price": 1.08, "time": $t0, "volume": 9, "type": "BOOK_TYPE_BUY"}]"""))
      s.close()
    })
    feeder.start()
    val sock = new java.net.Socket("localhost", server.getLocalPort)
    val adapter = new SpoolTransportAdapter(
      sock.getInputStream, dir.toString, topicPrefix = "feed",
      messagesPerFile = 1)
    val written = try adapter.run() finally { sock.close(); server.close() }
    feeder.join()
    assert(written === 2, "prefix-matched 3-frame messages spool")
    assert(adapter.dropped === 1, "non-3-frame message is a counted drop")
    // sealed files are monotone-named -> valid source offsets
    import scala.jdk.CollectionConverters._
    val names = Files.list(dir).iterator().asScala.toSeq
      .map(_.getFileName.toString).sorted
    assert(names === Seq("0000000000.jsonl", "0000000001.jsonl"),
      "adapter seals monotone-named immutable files, no tmp leftovers")
    // and the DSv2 source + pipeline parse what the wire carried
    val df = spark.read.format(fmt).option("path", dir.toString).load()
    assert(df.count() === 2)
    val tick = Pipelines.parseTicks(df)
    assert(tick.filter("NOT _corrupt AND symbol = 'EURUSD' AND volume = 3")
      .count() === 1)
    val book = Pipelines.parseBooks(df)
    assert(book.filter("NOT _corrupt AND orderType = 'BUY' AND volume = 9")
      .count() === 1)
  }

  test("truncated wire payloads survive to the dead-letter path, not vanish") {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.source.{MultipartFrames, SpoolTransportAdapter}
    val dir = Files.createTempDirectory("spool_trunc")
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(buf)
    def msg(p: String) = MultipartFrames.writeMessage(out,
      Seq("feed", "TICK", p).map(_.getBytes(UTF_8)))
    msg(s"""{"symbol": "EURUSD", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": $t0, "volume": 3, "type": "B"}""")
    msg("""{"symbol": "EUR""")  // truncated object
    msg(""""half a strin""")    // unterminated string
    msg("""{"a": 1}]""")        // trailing garbage after balanced value
    msg("""{"a": 1]""")         // mismatched bracket kinds
    // pretty-printed wire JSON: complete and balanced, but raw newlines
    // would split the envelope across spool lines if passed verbatim
    msg(s"{\n  \"symbol\": \"GBPUSD\", \"bid\": 2.0, \"price\": 2.1," +
      s"\n  \"ask\": 2.2, \"time\": $t0, \"volume\": 4, \"type\": \"B\"\n}")
    val adapter = new SpoolTransportAdapter(
      new java.io.ByteArrayInputStream(buf.toByteArray), dir.toString)
    val written = adapter.run()
    assert(written === 6 && adapter.dropped === 0,
      "malformed PAYLOADS are data, not transport drops")
    // every message — valid or truncated — must surface as a source row
    val df = spark.read.format(fmt).option("path", dir.toString).load()
    assert(df.count() === 6, "no message may vanish at the envelope layer")
    val ticks = Pipelines.parseTicks(df)
    // the pretty-printed payload survives escaped AND still parses
    assert(ticks.filter("NOT _corrupt").count() === 2)
    assert(ticks.filter("NOT _corrupt AND symbol = 'GBPUSD' AND volume = 4")
      .count() === 1, "multi-line payload must arrive intact and typed")
    // the quarantined rows carry the raw wire bytes for forensics
    val corrupt = ticks.filter("_corrupt").select("payload")
      .collect().map(_.getString(0)).toSet
    assert(corrupt.contains("""{"symbol": "EUR"""))
    assert(corrupt.contains(""""half a strin"""))
  }

  test("an oversized frame length ends the read without allocating it") {
    import graft.source.MultipartFrames
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(buf)
    out.writeByte(0)
    out.writeInt(Int.MaxValue) // corrupt header, then EOF
    out.flush()
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(buf.toByteArray))
    assert(MultipartFrames.readMessage(in) === None)
  }

  test("adapter restart resumes the file sequence past sealed files") {
    import java.nio.charset.StandardCharsets.UTF_8
    import graft.source.{MultipartFrames, SpoolTransportAdapter}
    def pumpOne(dir: Path, vol: Int): Unit = {
      val server = new java.net.ServerSocket(0)
      val feeder = new Thread(() => {
        val s = server.accept()
        val out = new java.io.DataOutputStream(s.getOutputStream)
        MultipartFrames.writeMessage(out, Seq("feed", "TICK",
          s"""{"symbol": "EURUSD", "bid": 1.0, "price": 1.1, "ask": 1.2, "time": $t0, "volume": $vol, "type": "B"}""")
          .map(_.getBytes(UTF_8)))
        s.close()
      })
      feeder.start()
      val sock = new java.net.Socket("localhost", server.getLocalPort)
      try new SpoolTransportAdapter(sock.getInputStream, dir.toString,
        messagesPerFile = 1).run()
      finally { sock.close(); server.close() }
      feeder.join()
    }
    val dir = Files.createTempDirectory("spool_resume")
    pumpOne(dir, 3) // seals 0000000000.jsonl
    pumpOne(dir, 5) // restart: must seal 0000000001.jsonl, not overwrite
    import scala.jdk.CollectionConverters._
    val names = Files.list(dir).iterator().asScala.toSeq
      .map(_.getFileName.toString).sorted
    assert(names === Seq("0000000000.jsonl", "0000000001.jsonl"),
      "a restarted pump must never rename over a sealed file")
    val df = spark.read.format(fmt).option("path", dir.toString).load()
    assert(df.count() === 2, "both pumps' rows survive")
  }

  test("JSON escapes decode per spec; lone trailing backslash dead-letters") {
    val dir = Files.createTempDirectory("spool_esc")
    write(dir, "000.jsonl",
      // payload is a JSON-escaped STRING containing JSON + escapes
      """{"topic": "t1", "frameType": "TICK", "payload": "{\"a\":\t1}\nx"}""",
      // lone trailing backslash inside the topic string: malformed,
      // must become a dropped/null row — never a thrown task failure
      "{\"topic\": \"bad\\")
    val df = spark.read.format(fmt).option("path", dir.toString).load()
    val rows = df.collect()
    assert(rows.length === 1, "malformed line must not become a row or throw")
    assert(rows(0).getString(2) === "{\"a\":\t1}\nx",
      "escapes must decode to their spec values (\\t tab, \\n newline)")
  }

  test("offsets anchor to file names: a late low-sorting file is inert") {
    val dir = Files.createTempDirectory("spool_late")
    write(dir, "100.jsonl", tickLine("feed", "EURUSD", t0, 3, "B"))
    write(dir, "200.jsonl", tickLine("feed", "EURUSD", t0 + 1, 5, "B"))
    val stream = spark.readStream.format(fmt)
      .option("path", dir.toString).load()
    val q = stream.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("late_out").count() === 2)
      // a writer violates the monotone-name contract: the file sorts
      // BELOW the consumed watermark. With positional offsets this
      // would shift every index (double-reads + gaps); with name
      // offsets it is simply ignored.
      write(dir, "050.jsonl", tickLine("feed", "EURUSD", t0 + 2, 7, "B"))
      write(dir, "300.jsonl", tickLine("feed", "EURUSD", t0 + 3, 9, "B"))
      q.processAllAvailable()
      val vols = spark.table("late_out")
        .select("payload").collect().map(_.getString(0))
      assert(vols.length === 3, s"late low file ignored, new file read: got ${vols.length}")
      assert(!vols.exists(_.contains("\"volume\": 7")), "050.jsonl must be inert")
      assert(vols.exists(_.contains("\"volume\": 9")), "300.jsonl must be consumed")
    } finally q.stop()
  }

  test("startingAfter replays only the spool suffix (batch and stream)") {
    val dir = Files.createTempDirectory("spool_sa")
    write(dir, "000.jsonl", tickLine("feed", "EURUSD", t0, 1, "B"))
    write(dir, "001.jsonl", tickLine("feed", "EURUSD", t0 + 1, 2, "B"))
    write(dir, "002.jsonl", tickLine("feed", "EURUSD", t0 + 2, 3, "B"))
    val batch = spark.read.format(fmt)
      .option("path", dir.toString)
      .option("startingAfter", "000.jsonl").load()
    assert(batch.count() === 2, "batch read skips the consumed prefix")
    val stream = spark.readStream.format(fmt)
      .option("path", dir.toString)
      .option("startingAfter", "001.jsonl").load()
    val q = stream.writeStream.format("memory").queryName("sa_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val vols = spark.table("sa_out").select("payload")
        .collect().map(_.getString(0))
      assert(vols.length === 1 && vols(0).contains("\"volume\": 3"),
        "stream starts after the named file")
    } finally q.stop()
  }

  test("offset JSON is versioned; legacy numeric offsets fail loudly") {
    import graft.source.FileNameOffset
    // roundtrip through the checkpoint representation
    val probes = Seq("", "0000000002.jsonl", "odd \"name\" \\ with escapes")
    probes.foreach { name =>
      val off = FileNameOffset(name)
      assert(FileNameOffset.fromJson(off.json()) === off,
        s"offset roundtrip failed for '$name'")
    }
    // a pre-v2 checkpoint stored a bare file COUNT; "3" > "0000000002.jsonl"
    // in name order, so reinterpreting it as a watermark would silently
    // mark unconsumed files consumed — it must throw instead
    val e = intercept[IllegalStateException](FileNameOffset.fromJson("3"))
    assert(e.getMessage.contains("fresh checkpoint"))
    intercept[IllegalStateException](FileNameOffset.fromJson("0001.jsonl"))
  }

  test("maxFilesPerTrigger admission control paces micro-batches") {
    val dir = Files.createTempDirectory("spool4")
    (0 until 4).foreach(i =>
      write(dir, f"$i%03d.jsonl", tickLine("feed", "EURUSD", t0 + i, 1, "B")))
    val stream = spark.readStream.format(fmt)
      .option("path", dir.toString)
      .option("maxFilesPerTrigger", "1").load()
    val q = stream.writeStream.format("memory").queryName("paced_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // all 4 rows arrive, but across 4 single-file batches
      assert(spark.table("paced_out").count() === 4)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length === 4,
        s"expected 4 paced batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows === 1))
    } finally q.stop()
  }
}
