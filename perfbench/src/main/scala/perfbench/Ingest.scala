package perfbench

import java.io.{BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.Schemas
import graft.sink.LwwSink
import graft.source.{EnvelopeSourceProvider, MultipartFrames, SpoolTransportAdapter, SpoolWriter}
import graft.streaming.{CumVolStatefulProcessor, Pipelines}

/** The `ingest` workload: the production assembly `Pipelines.start(env,
  * "full", …)` over (a) a backlog spool sealed with SpoolWriter, (b) a
  * live feed sent by an open-loop generator through a loopback socket to
  * SpoolTransportAdapter, and (c) restarts on the same checkpoint, each
  * after one more spool file.
  */
object Ingest {
  val BacklogMsgs = 10000
  val BacklogFiles = 10
  /** SpoolTransportAdapter's default seal size. */
  val MsgsPerFile = 1000
  val WarmupMsgs = 1000
  val SetupReps = 3
  val RestartCycles = 2
  val RestartNew = 980
  val RestartResends = 20
  val MalformedRate = 0.001
  val DrainTimeoutS = 30.0
  val UpsertSlices = 3
  val ProbeScans = 20
  val OffsetProbePasses = 5

  private def env(spark: SparkSession, spool: String): DataFrame =
    spark.readStream.format(classOf[EnvelopeSourceProvider].getName)
      .option("path", spool).load()

  private def queryNames(sink: String): Seq[String] =
    Seq("graft_tick", "graft_tick_dl", "graft_book").map(n => s"$n:$sink")

  private def sealBacklog(spark: SparkSession, msgs: Seq[Msg], work: Path,
      files: Int): String = {
    import spark.implicits._
    val lines = spark.sparkContext.parallelize(msgs.map(_.spoolLine), files).toDS()
    SpoolWriter.write(lines.toDF(), work, repartitionTo = None)
  }

  private def stopAll(qs: Seq[StreamingQuery]): Unit = qs.foreach { q =>
    q.stop()
    q.awaitTermination(60000)
  }

  private def fileIdx(p: Path): Int =
    p.getFileName.toString.stripSuffix(".jsonl").toInt

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int,
      rate: Int, tr: Tracer, log: ProgressLog, plans: Option[PlanLog]): Outcome = {
    // ---- set-up: input generation + backlog spool (repeated, the median
    // counts), then a warm-up run of the assembly over a small spool
    val setupS = (0 until SetupReps).map { k =>
      val t0 = System.nanoTime()
      val msgs = new FeedGen(seed, dayBoundaryAt = BacklogMsgs / 2).take(BacklogMsgs)
      sealBacklog(spark, msgs, work.resolve(s"backlog$k"), BacklogFiles)
      (System.nanoTime() - t0) / 1e9
    }
    val backlog = new FeedGen(seed, dayBoundaryAt = BacklogMsgs / 2).take(BacklogMsgs)
    val liveN = rate * seconds
    val liveMsgs = new FeedGen(seed + 1, BacklogMsgs / 2,
      malformedRate = MalformedRate, startIdx = BacklogMsgs).take(liveN)
    val tW = System.nanoTime()
    val warm = new FeedGen(seed ^ 0x5eed, WarmupMsgs / 2).take(WarmupMsgs)
    val wSpool = sealBacklog(spark, warm, work.resolve("warmup"), 1)
    val wSink = work.resolve("warmup/sink").toString
    val wq = Pipelines.start(env(spark, wSpool), "full", wSink,
      work.resolve("warmup/ckpt").toString)
    Waits.until(120)(log.committedByAll(queryNames(wSink)) >= 0)
    stopAll(wq)
    val warmupS = (System.nanoTime() - tW) / 1e9

    // ---- (a) backlog
    val spoolPath = work.resolve(s"backlog${SetupReps - 1}/spool")
    val spool = spoolPath.toString
    val sink = work.resolve("sink").toString
    val ckpt = work.resolve("ckpt").toString
    val names = queryNames(sink)
    val tBacklog = System.nanoTime()
    val qs = tr.span("streaming.Pipelines.start", "backlog") {
      Pipelines.start(env(spark, spool), "full", sink, ckpt)
    }
    val drained = Waits.until(120)(log.committedByAll(names) >= BacklogFiles - 1)
    val ours = log.all.filter(p => names.contains(p.query))
    val backlogEndNs = lastFirst(ours, BacklogFiles - 1)
    val firstTriggerMs = ours.map(_.triggerEpochMs).min
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val firstTriggerNs = firstTriggerMs * 1000000L - epochOffsetNs
    val backlogS = (backlogEndNs - math.max(firstTriggerNs, tBacklog)) / 1e9
    tr.record("ingest.backlog", "backlog", tBacklog, backlogEndNs)

    // ---- (b) live: open-loop generator -> socket -> adapter -> spool
    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    var adapterMsgs = 0L
    var adapterDropped = 0L
    val adapter = new Thread(() => {
      val s = server.accept()
      try {
        val a = new SpoolTransportAdapter(s.getInputStream, spool)
        adapterMsgs = a.run()
        adapterDropped = a.dropped
      } finally s.close()
    }, "perfbench-adapter")
    adapter.start()
    val dueNs = new Array[Long](liveN)
    val lateNs = new Array[Long](liveN)
    val sock = new Socket(InetAddress.getLoopbackAddress, server.getLocalPort)
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    val frames = liveMsgs.map(_.frames)
    val liveStart = System.nanoTime() + 20000000L
    var j = 0
    while (j < liveN) {
      val due = liveStart + (j.toDouble * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < due) {
        LockSupport.parkNanos(due - now)
        now = System.nanoTime()
      }
      dueNs(j) = due
      lateNs(j) = now - due
      MultipartFrames.writeMessage(out, frames(j))
      j += 1
    }
    out.close()
    sock.close()
    adapter.join(60000)
    server.close()
    val lastSentNs = System.nanoTime()
    val valid = liveMsgs.map(!_.malformed)
    val fileOf = {
      var ord = 0
      liveMsgs.map { m =>
        if (m.malformed) -1
        else { val f = BacklogFiles + ord / MsgsPerFile; ord += 1; f }
      }.toArray
    }
    val lastFile = fileOf.max
    Waits.until(DrainTimeoutS)(log.committedByAll(names) >= lastFile)
    val liveEndNs = System.nanoTime()
    tr.record("ingest.live", "live", liveStart, liveEndNs)
    val perQuery = names.map(n => log.all.filter(_.query == n)
      .map(p => (p.seenNs, p.endFile)))
    val commits = Stats.fileCommitTimes(lastFile + 1, perQuery)
    val lat = Stats.dueLatenciesMs(dueNs, fileOf, commits)
    val liveLat = lat.indices.filter(valid).flatMap(lat(_))
    val uncommitted = lat.indices.count(i => valid(i) && lat(i).isEmpty)
    val sealNs = graft.util.Fs.list(spoolPath).filter(_.toString.endsWith(".jsonl"))
      .map(p => fileIdx(p) -> (Files.getLastModifiedTime(p).toInstant.toEpochMilli *
        1000000L - epochOffsetNs)).toMap
    val sealWait = liveMsgs.indices.filter(valid).flatMap(i =>
      sealNs.get(fileOf(i)).map(s => (s - dueNs(i)) / 1e6))
    // files sealed but not yet committed by every query, at worst
    val events = (BacklogFiles to lastFile).flatMap(f =>
      sealNs.get(f).map(_ -> 1).toSeq ++ commits(f).map(_ -> -1).toSeq)
      .sortBy(e => (e._1, e._2))
    val backlogMax = events.scanLeft(0)(_ + _._2).max

    // ---- (c) restart on the same checkpoint after one more file, twice
    // (recovery is the median)
    stopAll(qs)
    val resendPool = backlog.filter(m => m.kind == "BOOK" && !m.corrupt)
    val restartGen = new FeedGen(seed + 2, BacklogMsgs / 2,
      startIdx = BacklogMsgs + liveN)
    final case class Restart(msgs: Seq[Msg], ok: Boolean, recoveryS: Double,
        toTriggerMs: Double, firstBatchMs: Double)
    val restarts = (0 until RestartCycles).map { r =>
      val msgs = restartGen.take(RestartNew) ++ (0 until RestartResends).map(i =>
        restartGen.resend(resendPool((r * RestartResends + i) * 7919 % resendPool.size)))
      val bytes = new ByteArrayOutputStream()
      val dos = new DataOutputStream(bytes)
      msgs.foreach(m => MultipartFrames.writeMessage(dos, m.frames))
      new SpoolTransportAdapter(new ByteArrayInputStream(bytes.toByteArray), spool).run()
      val file = lastFile + 1 + r
      val before = log.all.size
      val tRestart = System.nanoTime()
      val tRestartEpochMs = System.currentTimeMillis()
      val qs2 = tr.span("streaming.Pipelines.start", s"restart$r") {
        Pipelines.start(env(spark, spool), "full", sink, ckpt)
      }
      val ok = Waits.until(120)(log.all.drop(before)
        .filter(p => names.contains(p.query))
        .groupBy(_.query).count(_._2.exists(_.endFile >= file)) == names.size)
      stopAll(qs2)
      val after = log.all.drop(before).filter(p => names.contains(p.query))
      if (!ok) Restart(msgs, ok, Double.NaN, Double.NaN, Double.NaN)
      else {
        val recoveredNs = lastFirst(after, file)
        tr.record("ingest.restart", s"restart$r", tRestart, recoveredNs)
        // the query that recovered last: its wait for the first trigger
        // and the duration of its first batch are the parts of recovery
        val slowest = after.filter(_.endFile >= file).groupBy(_.query).values
          .map(_.minBy(_.seenNs)).maxBy(_.seenNs)
        Restart(msgs, ok, (recoveredNs - tRestart) / 1e9,
          (slowest.triggerEpochMs - tRestartEpochMs).toDouble,
          slowest.batchMs.toDouble)
      }
    }
    val restartMsgs = restarts.flatMap(_.msgs)
    val recovered = restarts.forall(_.ok)
    val heapMb = Session.heapRetainedMb()

    // ---- correctness
    val allMsgs = backlog ++ liveMsgs ++ restartMsgs
    val check = tr.span("ingest.check", "check")(verify(spark, sink, allMsgs))
    val malformed = liveMsgs.count(_.malformed)
    val transportFail = math.abs(adapterDropped - malformed).toInt
    val failedMsgs = check.failed ++ lat.indices.filter(i => valid(i) &&
      lat(i).isEmpty).map(liveMsgs(_).idx)
    val failed = failedMsgs.size.toLong + check.extraFailures + transportFail +
      (if (drained) 0 else 1) + (if (recovered) 0 else 1)

    val commitTail = Stats.tail(liveLat)
    val lateMs = lateNs.map(_ / 1e6).toSeq
    val e2e = Map(
      "ingest_msgs_per_s" -> BacklogMsgs / backlogS,
      "commit_p50_ms" -> (if (liveLat.isEmpty) Double.NaN else Stats.median(liveLat)),
      "commit_tail_ms" -> commitTail.map(_.value).getOrElse(Double.NaN),
      "recovery_s" -> Stats.median(restarts.map(_.recoveryS)))
    val info = Map[String, Any](
      "setup_reps_s" -> setupS, "warmup_s" -> warmupS,
      "backlog_msgs" -> BacklogMsgs, "backlog_s" -> backlogS,
      "live_rate_msgs_per_s" -> rate, "live_msgs" -> liveN,
      "live_malformed" -> malformed, "live_uncommitted" -> uncommitted,
      "commit_tail_pct" -> commitTail.map(_.pct), "commit_samples" -> liveLat.size,
      "generator_late_ms_p50" -> Stats.median(lateMs),
      "generator_late_ms_max" -> lateMs.max,
      "live_drain_s" -> (liveEndNs - lastSentNs) / 1e9,
      "adapter_msgs" -> adapterMsgs, "adapter_dropped" -> adapterDropped,
      "recovery_reps_s" -> restarts.map(_.recoveryS), "check" -> check.detail)
    // the traced run's scan probe: each scan is checked, and a wrong or
    // failed one counts as a failed operation
    val probe =
      if (!tr.enabled) None
      else Some(Scan.probe(spark, sink, allMsgs, seed, ProbeScans, tr, plans.get))
    val layer = probe.fold(Map.empty[String, Double])(pr =>
      layers(spark, work, spool, backlog, ours = log.all.filter(p => names.contains(p.query)),
        liveMsgs, sealWait, backlogMax, Stats.median(restarts.map(_.toTriggerMs)),
        Stats.median(restarts.map(_.firstBatchMs)), lateMs, tr) ++ pr.metrics)
    val probeInfo = probe.fold(Map.empty[String, Any])(pr =>
      Map("probe_scans" -> pr.done.size, "probe_failed" -> pr.failed))
    Outcome(allMsgs.size.toLong + probe.fold(0)(_.done.size),
      failed + probe.fold(0)(_.failed), Stats.median(setupS) + warmupS, heapMb,
      e2e, layer, info ++ probeInfo,
      trace = log.all.filter(p => names.contains(p.query)).map(p => Map[String, Any](
        "progress" -> p.query.takeWhile(_ != ':'), "batch" -> p.batchId,
        "rows" -> p.rows, "end_file" -> p.endFile, "batch_ms" -> p.batchMs,
        "durations" -> p.durations, "state_rows" -> p.stateRows)))
  }

  /** Monotonic time by which every query in `ps` had committed `file`. */
  private def lastFirst(ps: Seq[Progress], file: Int): Long =
    ps.filter(_.endFile >= file).groupBy(_.query).values
      .map(_.map(_.seenNs).min).max

  final case class Verdict(failed: Set[Int], extraFailures: Long,
      detail: Map[String, Any])

  /** Compare every sink table with the sequential fold of the messages. */
  def verify(spark: SparkSession, sink: String, msgs: Seq[Msg]): Verdict = {
    import spark.implicits._
    val ticks = LwwSink.read(spark, sink, "feed", "tick")
      .select("symbol", "bid", "price", "ask", "time", "volume", "tradeType",
        "cumbuy", "cumsell", "cumdelta").as[TickRow].collect().toSeq
    val tc = Checker.compare(Expected.ticks(msgs), ticks,
      (r: TickRow) => (r.symbol, r.time, r.price))
    val expBooks = Expected.books(msgs)
    val bcs = FeedGen.Topics.map { t =>
      val rows = LwwSink.read(spark, sink, t, "book")
        .select(lit(t).as("topic"), col("symbol"), col("price"), col("time"),
          col("volume"), col("orderType")).as[BookRow].collect().toSeq
      t -> Checker.compare(expBooks.filter(_._1._1 == t), rows,
        (r: BookRow) => (r.topic, r.symbol, r.time, r.price))
    }
    val dl = spark.read.parquet(s"$sink/_deadletter").groupBy("kind").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expDl = Expected.corrupt(msgs)
    val dlDiff = (dl.keySet ++ expDl.keySet).toSeq.map(k =>
      math.abs(dl.getOrElse(k, 0L) - expDl.getOrElse(k, 0L))).sum
    val results = ("feed_tick" -> tc) +: bcs.map { case (t, r) => s"${t}_book" -> r }
    val notExact = results.count(r => !r._2.ok && r._2.failures == 0)
    Verdict(results.flatMap(_._2.failedMsgs).toSet,
      results.map(_._2.extra.toLong).sum + dlDiff + notExact,
      results.map { case (n, r) => n -> r.summary }.toMap ++
        Map("deadletter" -> dl, "deadletter_expected" -> expDl))
  }

  /** Per-layer probes of the traced run: each module's public entry point
    * timed from outside over the backlog, plus the streaming progress
    * phases recorded during the timed phases. */
  private def layers(spark: SparkSession, work: Path, spool: String, backlog: Seq[Msg],
      ours: Seq[Progress], liveMsgs: Seq[Msg], sealWait: Seq[Double],
      backlogMax: Int, restartToTriggerMs: Double, firstBatchMs: Double,
      lateMs: Seq[Double], tr: Tracer): Map[String, Double] = {
    import spark.implicits._
    val spool0 = work.resolve("backlog0/spool").toString
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = tr.span(name, "backlog")(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // source: transport decode over the live frames replayed from memory
    val bytes = new ByteArrayOutputStream()
    val dos = new DataOutputStream(bytes)
    liveMsgs.foreach(m => MultipartFrames.writeMessage(dos, m.frames))
    val replay = work.resolve("transport_replay").toString
    val ((tMsgs, tDropped), decodeS) = timed("source.SpoolTransportAdapter.run") {
      val a = new SpoolTransportAdapter(new ByteArrayInputStream(bytes.toByteArray), replay)
      (a.run(), a.dropped)
    }
    // source: the offset path of a trigger (latestOffset + partition
    // planning), timed from outside on a stream over the live spool,
    // walked one file per call from the start, several times
    val stream = new EnvelopeSourceProvider()
      .getTable(Schemas.envelopeSchema, Array.empty, Map("path" -> spool).asJava)
      .asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty())
      .build().toMicroBatchStream(work.resolve("offset_probe").toString)
    val admission = stream.asInstanceOf[SupportsAdmissionControl]
    val offsetMs = ArrayBuffer.empty[Double]
    tr.span("source.EnvelopeMicroBatchStream.latestOffset", "live") {
      (0 until OffsetProbePasses).foreach { _ =>
        var start = stream.initialOffset()
        var more = true
        while (more) {
          val t0 = System.nanoTime()
          val end = admission.latestOffset(start, ReadLimit.maxFiles(1))
          stream.planInputPartitions(start, end)
          offsetMs += (System.nanoTime() - t0) / 1e6
          more = end != start
          start = end
        }
      }
    }
    stream.stop()
    val backlogEnv = spark.read.format(classOf[EnvelopeSourceProvider].getName)
      .option("path", spool0).load()
    val (readRows, readS) = timed("source.EnvelopeSourceProvider.read")(
      backlogEnv.queryExecution.toRdd.count())
    val (_, parseTickS) = timed("streaming.Pipelines.parseTicks")(
      Pipelines.parseTicks(backlogEnv).queryExecution.toRdd.count())
    val (_, parseBookS) = timed("streaming.Pipelines.parseBooks")(
      Pipelines.parseBooks(backlogEnv).queryExecution.toRdd.count())
    val parsed = Pipelines.parseTicks(backlogEnv).filter(!col("_corrupt"))
      .select("symbol", "bid", "price", "ask", "time", "volume", "tradeType")
      .as[Schemas.Tick].localCheckpoint()
    val (_, enrichS) = timed("streaming.CumVolStatefulProcessor.enrich")(
      CumVolStatefulProcessor.enrich(parsed).queryExecution.toRdd.count())
    // sink: upsertBatch over the backlog in live-batch-sized slices
    val upRoot = work.resolve("upsert_replay")
    val expTicks = Expected.ticks(backlog)
    val upserts = backlog.take(UpsertSlices * MsgsPerFile).grouped(MsgsPerFile).zipWithIndex.map {
      case (slice, i) =>
        val idxs = slice.map(_.idx).toSet
        val tickDf = expTicks.values.filter(v => idxs(v._2)).map(_._1).toSeq.toDF()
        val books = slice.flatMap(m => if (m.corrupt) Nil else m.levels)
        val userBytes = slice.filterNot(_.corrupt).map(_.payload.length.toLong).sum
        var ms, written, buckets = 0.0
        def upsert(df: DataFrame, topic: String, kind: String): Unit = {
          val before = listFiles(upRoot)
          val t0 = System.nanoTime()
          tr.span("sink.LwwSink.upsertBatch", s"slice$i/$topic/$kind")(
            LwwSink.upsertBatch(df, i, upRoot.toString, topic, kind,
              Seq("symbol", "time", "price")))
          ms += (System.nanoTime() - t0) / 1e6
          val fresh = listFiles(upRoot) -- before.keySet
          written += fresh.values.sum
          buckets += fresh.keySet.map(_.getParent).size
        }
        upsert(tickDf, "feed", "tick")
        FeedGen.Topics.foreach { t =>
          val b = books.filter(_.topic == t)
          if (b.nonEmpty) upsert(b.toDF().drop("topic"), t, "book")
        }
        // buckets rewritten per upsertBatch call (one call per table)
        (ms, written, userBytes, buckets / (1 + FeedGen.Topics.size))
    }.toVector
    val prog = ours.filter(_.rows > 0)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    val tick = ours.filter(_.query.startsWith("graft_tick:"))
    Map(
      "source.transport_decode_s" -> decodeS,
      "source.transport_msgs" -> tMsgs.toDouble,
      "source.transport_dropped" -> tDropped.toDouble,
      "source.seal_wait_ms_p50" -> p50(sealWait),
      "source.read_s" -> readS,
      "source.read_rows" -> readRows.toDouble,
      "source.latest_offset_ms_p50" -> p50(offsetMs.toSeq),
      "source.backlog_files_max" -> backlogMax.toDouble,
      "streaming.parse_tick_s" -> parseTickS,
      "streaming.parse_book_s" -> parseBookS,
      "streaming.corrupt_caught" -> (
        Pipelines.parseTicks(backlogEnv).filter(col("_corrupt")).count() +
          Pipelines.parseBooks(backlogEnv).filter(col("_corrupt")).count()
        ).toDouble / math.max(1, backlog.count(_.corrupt)),
      "streaming.enrich_s" -> enrichS,
      "streaming.batches" -> prog.size.toDouble,
      "streaming.batch_rows_p50" -> p50(prog.map(_.rows.toDouble)),
      "streaming.query_planning_ms_p50" -> p50(prog.map(
        _.durations.getOrElse("queryPlanning", 0L).toDouble)),
      "streaming.add_batch_ms_p50" -> p50(prog.map(
        _.durations.getOrElse("addBatch", 0L).toDouble)),
      "streaming.wal_commit_ms_p50" -> p50(prog.map(
        _.durations.getOrElse("walCommit", 0L).toDouble)),
      "streaming.state_rows" -> tick.map(_.stateRows).maxOption.getOrElse(0L).toDouble,
      "streaming.state_memory_bytes" ->
        tick.map(_.stateMemBytes).maxOption.getOrElse(0L).toDouble,
      "streaming.state_commit_ms_p50" -> p50(tick.filter(_.rows > 0)
        .map(_.stateCommitMs.toDouble)),
      "streaming.restart_to_trigger_ms" -> restartToTriggerMs,
      "streaming.first_batch_ms" -> firstBatchMs,
      "sink.upsert_ms_p50" -> p50(upserts.map(_._1)),
      "sink.upsert_s" -> upserts.map(_._1).sum / 1e3,
      "sink.bytes_written" -> upserts.map(_._2).sum.toDouble,
      "sink.write_amp" -> upserts.map(_._2).sum.toDouble / upserts.map(_._3).sum,
      "sink.buckets_rewritten_per_batch" ->
        upserts.map(_._4).sum.toDouble / upserts.size,
      "gen.late_ms_p50" -> Stats.median(lateMs),
      "gen.late_ms_max" -> lateMs.max)
  }

  private def listFiles(root: Path): Map[Path, Long] =
    if (!Files.exists(root)) Map.empty
    else graft.util.Fs.walk(root).filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).map(p => p -> Files.size(p)).toMap
}
