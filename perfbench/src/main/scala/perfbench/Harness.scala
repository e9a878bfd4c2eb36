package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What one workload run produced. `setupS` is the workload's own set-up
  * time (the session start is added by [[Main]]); `heapRetainedMb` the
  * live heap after the timed work; `e2e` and `layer` hold the metric
  * values by name; `info` and `trace` go to the result file and the
  * trace file only. */
final case class Outcome(attempted: Long, failed: Long, setupS: Double,
    heapRetainedMb: Double, e2e: Map[String, Double], layer: Map[String, Double],
    info: Map[String, Any], trace: Seq[Map[String, Any]] = Nil)

object Session {
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** The production session shape: local[cores], shuffle partitions =
    * cores, RocksDB state store with the transformWithState cumulative
    * volume operator. */
  def start(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.graft.cumvol.tws", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Live heap after a full collection, in MB: what the run keeps —
    * session state, caches, memos, state stores — rather than how far
    * the collector let the heap grow, which is what makes the resident
    * set of a JVM vary from run to run. The least of three collections
    * a few hundred ms apart: Spark's background cleaners release some
    * objects only after a collection has found them unreachable. */
  def heapRetainedMb(): Double = (0 until 3).map { i =>
    if (i > 0) Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else graft.util.Fs.walk(p).filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum
}

/** One committed micro-batch as the streaming listener saw it. */
final case class Progress(query: String, batchId: Long, rows: Long,
    endFile: Int, seenNs: Long, triggerEpochMs: Long, batchMs: Long,
    durations: Map[String, Long], stateRows: Long, stateMemBytes: Long,
    stateCommitMs: Long)

/** The streaming listener: every query progress, stamped with the
  * monotonic time the listener saw it. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[Progress]()
  private val FileRe = "\"lastFile\":\"(\\d+)\\.jsonl\"".r

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    val end = p.sources.headOption.map(_.endOffset).flatMap(o =>
      FileRe.findFirstMatchIn(Option(o).getOrElse("")).map(_.group(1).toInt))
      .getOrElse(-1)
    val st = p.stateOperators.headOption
    q.add(Progress(p.name, p.batchId, p.numInputRows, end, now,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchDuration,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      st.map(_.numRowsTotal).getOrElse(-1L),
      st.map(_.memoryUsedBytes).getOrElse(-1L),
      st.map(_.commitTimeMs).getOrElse(-1L)))
  }

  def all: Seq[Progress] = q.asScala.toSeq

  /** Latest file every named query has committed (-1 if any has none). */
  def committedByAll(queries: Seq[String]): Int = {
    val ps = all
    queries.map(n => ps.filter(_.query == n).map(_.endFile).maxOption
      .getOrElse(-1)).minOption.getOrElse(-1)
  }
}

/** Task metrics per job group (one group per scan or query). */
final class TaskLog extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "task_run_s" -> runMs / 1e3,
      "task_cpu_s" -> cpuNs / 1e9, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill)
  }
  private val byGroup = scala.collection.mutable.Map.empty[String, Agg]
  private val stageGroup = scala.collection.mutable.Map.empty[Int, String]

  private def agg(g: String): Agg = byGroup.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def group(g: String): Map[String, Any] =
    synchronized(byGroup.get(g).map(_.toMap).getOrElse(new Agg().toMap))
}

/** The executions of the actions the session runs after the last
  * [[drain]] (the benchmark drains it right before the actions it
  * reads, so it never holds more than those). */
final class PlanLog extends QueryExecutionListener {
  private val q = new ConcurrentLinkedQueue[(String, QueryExecution, Long)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (q.size < 10000) q.add((funcName, qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def drain(): Seq[(String, QueryExecution, Long)] = {
    val out = Seq.newBuilder[(String, QueryExecution, Long)]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.result()
  }
}

object Plans {
  /** (analysis, optimization, planning) ms of an executed query. */
  def phasesMs(qe: QueryExecution): (Double, Double, Double) = {
    val ph = qe.tracker.phases
    def ms(n: String) = ph.get(n).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
      .getOrElse(0.0)
    (ms("analysis"), ms("optimization"), ms("planning"))
  }

  /** Does the executed plan read a cached relation or a checkpoint? */
  def readsMemo(qe: QueryExecution): Boolean = {
    val s = qe.executedPlan.toString
    s.contains("InMemoryTableScan") || s.contains("Scan ExistingRDD") ||
      s.contains("LogicalRDD") || s.contains("RDDScan")
  }
}

object Waits {
  /** Poll `cond` every few ms until true or `timeoutS` passes. */
  def until(timeoutS: Double)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      if (System.nanoTime() > deadline) return false
      Thread.sleep(2)
    }
    true
  }
}
