package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The registered queries each closed-loop workload runs, by name prefix.
  * perfbench/README.md says why each one is in.
  */
object Workloads {
  val batchMix: Seq[String] = Seq(
    "q01", "q04", "q103", "q216", // denorm core
    "q213", // job-heavy
    "q85") // session-artifact consumer
}

/** One timed query execution. */
final case class Op(pass: Int, query: String, traced: Boolean,
    startMs: Long, endMs: Long, buildS: Double, execS: Double, ok: Boolean) {
  def totalS: Double = buildS + execS
}

/** One timed pass over the query list. */
final case class Pass(index: Int, traced: Boolean, startMs: Long, endMs: Long,
    wallS: Double, heapMb: Double, gcMs: Long, gcCount: Long, compiles: Long)

/** batch_mix: a closed loop with one client over a
  * fixed list of registered queries.
  *
  *  - Set-up runs `Main.Setups` times. Each set-up starts a session through
  *    `Sessions.builder` and runs every query once, untimed; the first
  *    one is timed from process start. Set-ups after the first stop the
  *    previous session, so each pays the program's per-session staging
  *    and artifact builds again. The first set-up writes every result
  *    to parquet for the oracle check and reads each oracle after its
  *    query was built (trained-literal oracles exist only then).
  *  - Timed passes then run every query once each, in an order permuted
  *    by the seed. One query execution is the build (`fn(spark, dir)`)
  *    plus a noop-sink write.
  *  - Traced runs alternate untraced and traced passes; the difference
  *    is the tracing overhead.
  */
final class QueryLoop(a: Args, tracer: Option[Tracer], prefixes: Seq[String]) {
  private val registry = graft.SparkEntry.queries
  val names: Seq[String] = prefixes.map { p =>
    registry.keys.find(_.startsWith(p + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no registered query $p"))
  }

  private def tag(s: SparkSession, t: String): Unit =
    s.sparkContext.setLocalProperty(Tracer.TagKey, t)

  def run(): Result = {
    val r = new Result
    val setupS, sessionS, warmS, jitS = mutable.ArrayBuffer.empty[Double]
    val warmPerQuery = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    for (k <- 1 to Main.Setups) {
      if (spark != null) Main.stopSession(spark)
      val t0 = System.nanoTime()
      val jit0 = Jvm.jitMs
      spark = Main.newSession(a, tracer)
      sessionS += (System.nanoTime() - t0) / 1e9
      // even set-ups of a traced run are untraced (tracing overhead)
      val prefix = if (tracer.isDefined && k % 2 == 0) "u" else ""
      val w0 = System.nanoTime()
      val per = names.map { q =>
        tag(spark, s"${prefix}s$k:$q")
        val q0 = System.nanoTime()
        try {
          val df = registry(q)(spark, a.data)
          if (k == 1) df.coalesce(1).write.mode("overwrite").parquet(s"${a.out}/dump/$q")
          else df.write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable => throw new SetupFailure(s"set-up $k, query $q", e) }
        q -> (System.nanoTime() - q0) / 1e9
      }
      warmS += (System.nanoTime() - w0) / 1e9
      warmPerQuery += per.toMap
      jitS += (Jvm.jitMs - jit0) / 1000.0
      setupS +=
        (if (k == 1) (System.currentTimeMillis() - Jvm.startMs) / 1000.0
         else (System.nanoTime() - t0) / 1e9)
      Main.log(s"set-up $k done in ${setupS.last} s")
      if (k == 1) writeOracles(names.map(q => q -> graft.SparkEntry.oracleSql.get(q)))
    }

    // whole passes until `a.seconds` have gone by, and at least two of
    // each kind
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val minPasses = if (tracer.isDefined) 4 else 2
    Jvm.liveHeapMb() // every pass starts from a collected heap
    val timed0 = System.nanoTime()
    var p = 0
    while (p < minPasses || System.nanoTime() - timed0 < a.seconds * 1000000000L) {
      val traced = tracer.isDefined && p % 2 == 1
      val order = new scala.util.Random(a.seed * 7919L + p).shuffle(names)
      val gc0 = Jvm.gcMs
      val gcN0 = Jvm.gcCount
      val cg0 = Codegen.compiles
      val pStart = System.currentTimeMillis()
      val p0 = System.nanoTime()
      order.foreach { q =>
        tag(spark, s"${if (traced) "t" else "u"}$p:$q")
        val s0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var t1 = t0
        val ok =
          try {
            val df = registry(q)(spark, a.data)
            t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable => r.fail(q, e); t1 = System.nanoTime(); false }
        val t2 = System.nanoTime()
        r.attempted += 1
        ops += Op(p, q, traced, s0, System.currentTimeMillis(), (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val pEnd = System.currentTimeMillis()
      val compiles = Codegen.compiles - cg0
      passes += Pass(p, traced, pStart, pEnd, wall, Jvm.liveHeapMb(), Jvm.gcMs - gc0, Jvm.gcCount - gcN0, compiles)
      Main.log(s"pass $p done in $wall s")
      p += 1
    }
    spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
    Main.stopSession(spark) // drains the listener bus

    // ---- end-to-end metrics and query latency (untraced passes) ----
    // Latency quantiles are taken over the queries' own median times:
    // the mix has a few queries with widely spaced times, so a quantile
    // over the raw samples lands in the gap between two queries and
    // jumps with any single slow repeat.
    def e2e(traced: Boolean): Map[String, Double] = {
      val ps = passes.filter(_.traced == traced)
      val lat = names.map(q => Stats.median(
        ops.filter(o => o.query == q && o.traced == traced && o.ok).map(_.totalS * 1000).toSeq))
        .filterNot(_.isNaN)
      Map("pass_s" -> Stats.median(ps.map(_.wallS).toSeq),
        "latency_p50_ms" -> Stats.quantile(lat.toSeq, 0.5),
        "latency_p90_ms" -> Stats.quantile(lat.toSeq, 0.9),
        "peak_heap_mb" -> ps.map(_.heapMb).max)
    }
    val base = e2e(traced = false)
    r.metrics("setup_s") = Stats.median(setupS.toSeq)
    Seq("pass_s", "peak_heap_mb").foreach(m => r.metrics(m) = base(m))
    val untracedPasses = passes.count(!_.traced)
    r.samples ++= Seq("setup_s" -> setupS.size, "pass_s" -> untracedPasses,
      "peak_heap_mb" -> untracedPasses,
      "query.latency_p50_ms" -> ops.count(o => !o.traced && o.ok),
      "query.latency_p90_ms" -> ops.count(o => !o.traced && o.ok))
    r.info("query_latency_p50_ms") = f"${base("latency_p50_ms")}%.2f"
    r.info("query_latency_p90_ms") = f"${base("latency_p90_ms")}%.2f"
    r.info("queries") = names.mkString(",")
    r.info("setup_s_each") = setupS.map(x => f"$x%.3f").mkString(",")
    r.info("setup_query_s") = warmPerQuery.map(w => names.map(q => f"${w(q)}%.2f").mkString(" ")).mkString(" | ")
    r.info("query_median_s") = names.map(q =>
      f"$q=${Stats.median(ops.filter(o => o.query == q && !o.traced).map(_.totalS).toSeq)}%.3f").mkString(" ")
    r.info("pass_s_each") = passes.map(p => f"${p.wallS}%.3f").mkString(",")

    tracer.foreach { t =>
      ops.foreach(o => t.spans.add(
        s"""{"span":"op","pass":${o.pass},"query":${Json.str(o.query)},"traced":${o.traced},"start_ms":${o.startMs},"end_ms":${o.endMs},"build_s":${Json.num(o.buildS)},"exec_s":${Json.num(o.execS)},"ok":${o.ok}}"""))
      val traced = e2e(traced = true)
      Layers.fill(r.layers)
      r.layers("Sessions.start_s") = Stats.median(sessionS.toSeq)
      r.layers("setup.warmup_s") = Stats.median(warmS.toSeq)
      val steady = names.map(q => q -> Stats.median(ops.filter(_.query == q).map(_.totalS).toSeq)).toMap
      r.layers("setup.prestage_s") = Stats.median(warmPerQuery.map(w =>
        names.map(q => math.max(0.0, w(q) - steady(q))).sum).toSeq)
      r.layers("jvm.jit_s") = Stats.median(jitS.toSeq)
      val perPass = passes.filter(_.traced).map { case Pass(p, _, from, to, wall, heap, gcMs, gcN, compiles) =>
        val mine = ops.filter(_.pass == p)
        val tt = t.taskTotals(_.startsWith(s"t$p:"))
        val ph = t.phases.toArray(Array.empty[Phases]).filter(x => x.startMs >= from && x.startMs <= to)
        Map(
          "SparkEntry.build_s" -> mine.map(_.buildS).sum,
          "sink.execute_s" -> mine.map(_.execS).sum,
          "catalyst.analysis_ms" -> ph.map(_.analysisMs).sum.toDouble,
          "catalyst.optimization_ms" -> ph.map(_.optimizationMs).sum.toDouble,
          "catalyst.planning_ms" -> ph.map(_.planningMs).sum.toDouble,
          "codegen.compiles" -> compiles.toDouble,
          "scheduler.driver_idle_s" -> t.idleMs(from, to, tt.jobSpans) / 1000.0,
          "executor.busy_frac" -> tt.runMs / 1000.0 / (wall * 4),
          "jvm.gc_s" -> gcMs / 1000.0,
          "jvm.gc_count" -> gcN.toDouble,
          "jvm.heap_live_mb" -> heap) ++ Layers.tasks(tt)
      }
      perPass.head.keys.foreach(k => r.layers(k) = Stats.median(perPass.map(_(k)).toSeq))
      r.layers("query.latency_p50_ms") = base("latency_p50_ms")
      r.layers("query.latency_p90_ms") = base("latency_p90_ms")
      r.layers("trace.overhead_setup_s") = Layers.setupOverhead(setupS.toSeq)
      Seq("pass_s", "peak_heap_mb").foreach(m => r.layers(s"trace.overhead_$m") = traced(m) - base(m))
    }
    r
  }

  private def writeOracles(oracles: Seq[(String, Option[String])]): Unit = {
    val json = Json.obj(oracles.map { case (q, sql) => q -> sql.map(Json.str).getOrElse("null") })
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${a.out}/oracle.json"), json.getBytes("UTF-8"))
  }
}

/** The per-layer metric names, and the scheduler/executor ones derived
  * from task totals.
  */
object Layers {
  val names: Seq[String] = Seq(
    "Sessions.start_s", "setup.prestage_s", "setup.warmup_s", "jvm.jit_s",
    "SparkEntry.build_s", "sink.execute_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms", "codegen.compiles",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.driver_idle_s",
    "executor.run_s", "executor.cpu_s", "executor.deser_s", "executor.gc_s", "executor.busy_frac",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.disk_bytes",
    "stream.batches", "stream.trigger_ms", "stream.addBatch_ms", "stream.queryPlanning_ms",
    "stream.walCommit_ms", "stream.commitOffsets_ms", "stream.latestOffset_ms", "stream.lifecycle_s",
    "state.rows", "state.memory_bytes", "state.commit_ms", "state.updates_ms",
    "generator.offered_eps", "generator.lateness_ms", "stream.backlog_events",
    "jvm.gc_s", "jvm.gc_count", "jvm.heap_live_mb",
    "query.latency_p50_ms", "query.latency_p90_ms", "drain.latency_p50_ms",
    "openloop.latency_p50_ms", "openloop.latency_p90_ms",
    "trace.overhead_setup_s", "trace.overhead_pass_s", "trace.overhead_peak_heap_mb")

  /** Traced minus untraced set-up time. Set-up k is untraced when k is
    * even; the cold first set-up is left out of both sides.
    */
  def setupOverhead(setupS: Seq[Double]): Double = {
    val warm = setupS.zipWithIndex.drop(1)
    Stats.median(warm.collect { case (s, i) if i % 2 == 0 => s }) -
      Stats.median(warm.collect { case (s, i) if i % 2 == 1 => s })
  }

  /** Every layer starts at 0: a layer a workload does not exercise reads 0. */
  def fill(m: mutable.Map[String, Double]): Unit = names.foreach(n => m(n) = 0.0)

  def tasks(t: TaskAgg): Map[String, Double] = Map(
    "scheduler.jobs" -> t.jobs.toDouble,
    "scheduler.stages" -> t.stages.toDouble,
    "scheduler.tasks" -> t.tasks.toDouble,
    "executor.run_s" -> t.runMs / 1000.0,
    "executor.cpu_s" -> t.cpuNs / 1e9,
    "executor.deser_s" -> t.deserMs / 1000.0,
    "executor.gc_s" -> t.gcMs / 1000.0,
    "shuffle.write_bytes" -> t.shuffleWrite.toDouble,
    "shuffle.read_bytes" -> t.shuffleRead.toDouble,
    "shuffle.fetch_wait_s" -> t.fetchWaitMs / 1000.0,
    "spill.disk_bytes" -> t.spill.toDouble)
}
