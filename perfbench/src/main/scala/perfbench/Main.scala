package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Benchmark program, one workload per JVM:
  *   perfbench.Main --workload ingest|analytics --seed N --seconds S
  *     --trace 0|1 --work DIR --out FILE [--rate MSGS_PER_S]
  *     [--fixtures DIR] [--trace-file FILE]
  * Writes one JSON object to --out; perfbench/run.py turns it into the
  * benchmark's result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work"))
    Files.createDirectories(work)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.start(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tr = new Tracer(trace)
    val progress = new ProgressLog
    val tasks = if (trace) Some(new TaskLog) else None
    val plans = if (trace && workload != "analytics") Some(new PlanLog) else None
    tasks.foreach(spark.sparkContext.addSparkListener)
    plans.foreach(spark.listenerManager.register)
    val t0 = System.nanoTime()
    val o = workload match {
      case "ingest" =>
        spark.streams.addListener(progress)
        Ingest.run(spark, work, seed, seconds, a("rate").toInt, tr, progress, plans)
      case "analytics" =>
        Analytics.run(spark, a("fixtures"), seed, tr, tasks)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val runS = (System.nanoTime() - t0) / 1e9
    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> Session.Cores,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "setup_s" -> (sessionS + o.setupS), "session_s" -> sessionS,
      "run_s" -> runS, "rss_peak_mb" -> Session.rssPeakMb(),
      "heap_retained_mb" -> o.heapRetainedMb,
      "e2e" -> o.e2e, "layer" -> o.layer, "info" -> o.info)
    a.get("trace-file").filter(_ => trace).foreach(f =>
      tr.write(Paths.get(f), o.trace :+ Map("result" -> result)))
    Files.write(Paths.get(a("out")), Json(result).getBytes("UTF-8"))
    spark.stop()
  }
}
