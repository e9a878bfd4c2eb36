package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, Tables}
import graft.queries.{GraphQueries, ReferenceQueries}
import graft.util.SessionCache

/** The `analytics` workload: the 20 reference-pipeline batch queries plus
  * two iterative graph queries that read the pinned edge memo, each
  * executed through its own plan and fingerprinted, in one cold pass
  * (every memo evicted before each query) and then two warm passes. The
  * seed only orders the queries. The other graph rows are left out to
  * keep a run within its time budget: graph_topo_layers, graph_scc and
  * graph_condensation_stats take 16 to 20 s each cold on 4 cores, and
  * graph_sssp_weighted plus graph_mis_luby another 11 s.
  */
object Analytics {
  val Graph: Seq[String] = Seq("graph_pagerank", "graph_two_hop_reach_sketch")
  /** Run once during set-up so the cold pass does not also pay the
    * JVM's first-query compilation. */
  val WarmupQuery = "route_counts"
  val Fixtures: Seq[String] = Seq("events", "lineitem", "orders", "embeddings")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    ReferenceQueries.queries ++ GraphQueries.queries.filter(q => Graph.contains(q._1))

  lazy val oracles: Map[String, String] =
    (ReferenceQueries.oracles ++ GraphQueries.oracles).filter(q => queries.contains(q._1))

  /** Sizes of every SessionCache (the memo layer), summed over its
    * private registry, which has no public accessor and is read by
    * reflection. NaN, and a note on stderr, if the registry is not there
    * in that shape. */
  def memoEntries(): Double =
    scala.util.Try {
      val obj = SessionCache
      val f = obj.getClass.getDeclaredFields.find(_.getName.endsWith("registry")).get
      f.setAccessible(true)
      var n = 0L
      f.get(obj).asInstanceOf[java.util.List[SessionCache[_]]].forEach(c => n += c.size)
      n.toDouble
    }.recover { case e =>
      System.err.println(s"perfbench: SessionCache registry unreadable ($e); " +
        "util.memo_entries reads NaN")
      Double.NaN
    }.get

  def run(spark: SparkSession, dir: String, seed: Long, tr: Tracer,
      tasks: Option[TaskLog]): Outcome = {
    val t0 = System.nanoTime()
    GraftExtensions.register(spark)
    val tl = System.nanoTime()
    Fixtures.foreach(t => tr.span("tables.Tables.apply", t)(Tables(spark, dir, t)))
    val loadMs = (System.nanoTime() - tl) / 1e6
    Fingerprint(queries(WarmupQuery)(spark, dir))
    SessionCache.evictAllForCold()
    val setupS = (System.nanoTime() - t0) / 1e9
    val order = new scala.util.Random(seed).shuffle(queries.keys.toVector.sorted)
    val sc = spark.sparkContext
    def pass(name: String, cold: Boolean): Seq[Map[String, Any]] = order.map { q =>
      val group = s"$name:$q"
      sc.setJobGroup(group, group)
      if (cold) tr.span("util.SessionCache.evictAllForCold", group)(
        SessionCache.evictAllForCold())
      val t = System.nanoTime()
      val r = try {
        tr.span("queries.run", group) {
          val df = tr.span("queries.build", group)(queries(q)(spark, dir))
          val fp = tr.span("queries.execute", group)(Fingerprint(df))
          val wall = (System.nanoTime() - t) / 1e9
          val (a, o, p) = Plans.phasesMs(df.queryExecution)
          Map[String, Any]("ok" -> true, "wall_s" -> wall, "rows" -> fp.rows,
            "hash" -> fp.hash.toString, "columns" -> fp.columns,
            "analysis_ms" -> a, "optimization_ms" -> o, "planning_ms" -> p,
            "memo_read" -> Plans.readsMemo(df.queryExecution))
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: $group failed: $e")
          Map[String, Any]("ok" -> false, "error" -> e.toString.take(500))
      }
      sc.clearJobGroup()
      r ++ Map("query" -> q, "pass" -> name)
    }
    val cold = pass("cold", cold = true)
    val warm1 = pass("warm", cold = false)
    // a second warm pass doubles the warm samples: steadier warm figures,
    // and a tail rank that is not the median's neighbour
    val warm = warm1 ++ pass("warm2", cold = false)
    val memo = memoEntries()
    val heapMb = Session.heapRetainedMb()
    val all = cold ++ warm
    val withTasks = tasks match {
      case Some(tl) =>
        org.apache.spark.PerfbenchBus.drain(sc)
        all.map { r =>
          val m = tl.group(s"${r("pass")}:${r("query")}")
          val par = r.get("wall_s").collect { case w: Double if w > 0 =>
            m("task_run_s").asInstanceOf[Double] / w }
          r ++ m ++ Map("parallelism" -> par.getOrElse(0.0))
        }
      case None => all
    }
    def sum(rs: Seq[Map[String, Any]], k: String): Double =
      rs.flatMap(_.get(k)).map {
        case d: Double => d
        case l: Long => l.toDouble
        case i: Int => i.toDouble
        case _ => 0.0
      }.sum
    val ok = (rs: Seq[Map[String, Any]]) => rs.filter(_("ok") == true)
    // latency samples: the warm passes (cold times also carry whichever
    // first-time costs the seeded order lands on each query)
    val walls = ok(warm).map(_("wall_s").asInstanceOf[Double] * 1e3)
    val warmS = sum(ok(warm), "wall_s")
    val tail = Stats.tail(walls)
    val e2e = Map("analytics_cold_s" -> sum(ok(cold), "wall_s"),
      "analytics_warm_s" -> warmS / 2,
      "query_p50_ms" -> Stats.median(walls),
      "query_tail_ms" -> tail.map(_.value).getOrElse(Double.NaN),
      "warm_queries_per_s" -> ok(warm).size / warmS)
    val layer =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        val byPass = withTasks.groupBy(_("pass").toString)
        Map("tables.load_ms" -> loadMs, "util.memo_entries" -> memo,
          "queries.memo_read_share" -> ok(warm1).count(_("memo_read") == true)
            .toDouble / math.max(1, ok(warm1).size)) ++
          Seq("cold", "warm").flatMap { p =>
            val rs = ok(byPass.getOrElse(p, Nil))
            val wall = sum(rs, "wall_s")
            Seq("analysis_ms", "optimization_ms", "planning_ms", "jobs",
              "stages", "tasks", "task_run_s", "task_cpu_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
              .map(k => s"queries.$k.$p" -> sum(rs, k)) :+
              (s"queries.parallelism.$p" -> sum(rs, "task_run_s") / wall)
          }.toMap
      }
    Outcome(all.size.toLong, all.count(_("ok") != true).toLong, setupS, heapMb, e2e,
      layer, Map("order" -> order, "queries" -> withTasks,
        "query_tail_pct" -> tail.map(_.pct), "query_samples" -> walls.size,
        "oracle_sql" -> oracles, "memo_entries" -> memo),
      trace = withTasks)
  }
}
