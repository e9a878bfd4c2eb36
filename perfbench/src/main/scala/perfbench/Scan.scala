package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.sink.LwwSink

/** The one query shape the sink layout serves — a per-symbol, fixed-span
  * time-window read, newest first, limit 100 — issued by one closed-loop
  * client, each result compared with an in-memory reference.
  * [[Scan.probe]] runs it inside the `ingest` traced run, on the tables
  * that run wrote, for the sink read-side layer metrics. (A stand-alone
  * scan workload would need its own table build, ~35 s a run, which did
  * not fit the benchmark's time budget.)
  */
object Scan extends AdaptiveSparkPlanHelper {
  val WindowS = 4 * 3600L
  val Limit = 100
  val WarmupScans = 5

  final case class Table(topic: String, kind: String) {
    def name: String = s"${topic}_$kind"
  }
  /** Calls alternate between the tick table and a book table. */
  val Tables: Vector[Table] =
    Vector(Table("feed", "tick"), Table("eurusd", "book"), Table("feed", "tick"),
      Table("gbpjpy", "book"))

  final case class Done(id: String, ms: Double, ok: Boolean, rows: Int,
      readMs: Double, execMs: Double)

  /** Every scan of a probe, warm-up included, each checked, and the layer
    * metrics of its timed scans. */
  final case class Probe(done: Seq[Done], metrics: Map[String, Double]) {
    def failed: Int = done.count(!_.ok)
  }

  /** Rows of one scan as comparable values (tick rows carry bid/ask and
    * the cumulative volumes, book rows the order type). */
  private def key(kind: String, r: Row): Seq[Any] =
    if (kind == "tick") Seq(r.getAs[String]("symbol"), r.getAs[Double]("bid"),
      r.getAs[Double]("price"), r.getAs[Double]("ask"), r.getAs[Long]("time"),
      r.getAs[Int]("volume"), r.getAs[String]("tradeType"),
      r.getAs[Long]("cumbuy"), r.getAs[Long]("cumsell"), r.getAs[Long]("cumdelta"))
    else Seq(r.getAs[String]("symbol"), r.getAs[Double]("price"),
      r.getAs[Long]("time"), r.getAs[Int]("volume"), r.getAs[String]("orderType"))

  /** Whether a scan of a `kind` table returned exactly `want`, in order. */
  def matches(kind: String, rows: Seq[Row], want: Seq[Seq[Any]]): Boolean =
    rows.map(key(kind, _)) == want

  /** One client over a sink holding (exactly) the rows `msgs` produce.
    * Symbols are drawn uniformly; windows start uniformly in the feed's
    * time range. */
  final class Client(spark: SparkSession, sink: String, msgs: Seq[Msg],
      seed: Long, tr: Tracer) {
    private val ref: Map[(String, String), Vector[(Long, Double, Seq[Any])]] = {
      val ticks = Expected.ticks(msgs).values.map(_._1)
      val books = Expected.books(msgs).values.map(_._1)
      (ticks.map(t => (("feed_tick", t.symbol), (t.time, t.price,
        Seq[Any](t.symbol, t.bid, t.price, t.ask, t.time, t.volume, t.tradeType,
          t.cumbuy, t.cumsell, t.cumdelta)))) ++
        books.map(b => ((s"${b.topic}_book", b.symbol), (b.time, b.price,
          Seq[Any](b.symbol, b.price, b.time, b.volume, b.orderType)))))
        .groupBy(_._1).map { case (k, v) =>
          k -> v.map(_._2).toVector.sortBy(x => (-x._1, x._2))
        }
    }
    private val times = ref.valuesIterator.flatMap(_.iterator.map(_._1)).toVector
    private val tMin = times.min
    private val tMax = times.max
    private val rnd = new java.util.SplittableRandom(seed * 31 + 7)

    def scan(id: String, i: Int): Done = {
      val table = Tables(i % Tables.size)
      val symbol = f"S${rnd.nextInt(FeedGen.NumSymbols)}%03d"
      val lo = tMin + rnd.nextLong(math.max(1L, tMax - tMin - WindowS))
      val hi = lo + WindowS
      val want = ref.getOrElse((table.name, symbol), Vector.empty).iterator
        .filter(x => x._1 >= lo && x._1 <= hi).take(Limit).map(_._3).toSeq
      val t = System.nanoTime()
      try {
        val df = tr.span("sink.LwwSink.read", id)(
          LwwSink.read(spark, sink, table.topic, table.kind))
        val tRead = System.nanoTime()
        val rows = tr.span("queries.scan.collect", id)(df
          .filter(col("symbol") === symbol && col("time").between(lo, hi))
          .orderBy(col("time").desc, col("price"))
          .limit(Limit).collect())
        val end = System.nanoTime()
        val ok = matches(table.kind, rows.toSeq, want)
        if (!ok) System.err.println(s"perfbench: $id returned a wrong result")
        Done(id, (end - t) / 1e6, ok, rows.length, (tRead - t) / 1e6,
          (end - tRead) / 1e6)
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: $id failed: $e")
          Done(id, Double.NaN, ok = false, 0, 0, 0)
      }
    }
  }

  /** Sink read-side layer metrics of the scans `done`, whose collect
    * actions `plans` recorded. */
  def sinkMetrics(sink: String, msgs: Seq[Msg], done: Seq[Done],
      plans: PlanLog): Map[String, Double] = {
    val execs = plans.drain().filter(_._1 == "collect").map(_._2)
    val phases = execs.map(Plans.phasesMs)
    val scans = execs.map(qe => collect(qe.executedPlan) { case s: FileSourceScanExec => s })
    val files = scans.map(_.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L))
      .sum.toDouble)
    val rowsRead = scans.map(_.map(_.metrics("numOutputRows").value).sum).sum
    val tableBytes = Tables.distinct.map(t =>
      Session.dirBytes(Paths.get(LwwSink.tablePath(sink, t.topic, t.kind)))).sum
    val userBytes = msgs.filter(m => !m.corrupt && !m.malformed)
      .map(_.payload.length.toLong).sum
    Map(
      "sink.table_bytes" -> tableBytes.toDouble,
      "sink.space_amp" -> tableBytes.toDouble / userBytes,
      "sink.read_plan_ms_p50" -> Stats.median(phases.map(p => p._1 + p._2 + p._3)),
      "sink.read_exec_ms_p50" -> Stats.median(done.map(_.execMs)),
      "sink.recover_ms_p50" -> Stats.median(done.map(_.readMs)),
      "sink.read_files_p50" -> Stats.median(files),
      "sink.rows_read_per_row_returned" ->
        rowsRead.toDouble / math.max(1L, done.map(_.rows.toLong).sum))
  }

  /** Scan probe of a traced run: `n` scans after a short warm-up, every
    * one (warm-up included) checked. */
  def probe(spark: SparkSession, sink: String, msgs: Seq[Msg], seed: Long,
      n: Int, tr: Tracer, plans: PlanLog): Probe = {
    val c = new Client(spark, sink, msgs, seed, tr)
    val warmup = (0 until WarmupScans).map(i => c.scan(s"probe_warmup$i", i))
    plans.drain()
    val done = (0 until n).map(i => c.scan(s"probe$i", i))
    Probe(warmup ++ done, sinkMetrics(sink, msgs, done, plans))
  }
}
