package graftbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{JoinedRecord, StreamDenormalize}

/** One generated input event: an order (left) or a customer (right). */
final case class Ev(isRight: Boolean, key: Long, fk: Long, name: String, amount: Double, seq: Long)

/** Seeded event source over the sf0.1 key space: 150,000 orders (left)
  * whose customer is fixed per order, and 15,000 customers (right).
  *
  * Each event touches one customer, and an event may touch customer `c`
  * only if no event since sequence number `barrier` did. The join claims
  * at most one emission per left key per micro-batch, so two events on
  * one customer inside one micro-batch can leave a stale pair as the
  * latest emission; spacing them wider than any micro-batch keeps the
  * latest emission equal to the join of the latest inputs, which is what
  * the run checks.
  */
final class Gen(seed: Long, shareRight: Double) {
  val nOrders = 150000
  val nCust = 15000
  private val rng = new java.util.SplittableRandom(seed)
  val custOf: Array[Int] = Array.fill(nOrders)(rng.nextInt(nCust))
  private val lastTouch = Array.fill(nCust)(-1L)
  val latestLeft: Array[Long] = Array.fill(nOrders)(-1L)
  val latestRight: Array[Long] = Array.fill(nCust)(-1L)
  var seq = 0L

  private def emit(right: Boolean, key: Int, c: Int): Ev = {
    lastTouch(c) = seq
    val e =
      if (right) {
        latestRight(c) = seq
        Ev(isRight = true, c, c, f"Customer#$c%09d", math.round(rng.nextDouble() * 1099999) / 100.0 - 999.99, seq)
      } else {
        latestLeft(key) = seq
        Ev(isRight = false, key, c, "FOP".charAt(rng.nextInt(3)).toString,
          math.round(rng.nextDouble() * 49900000) / 100.0 + 1000, seq)
      }
    seq += 1
    e
  }

  def right(c: Int): Ev = emit(right = true, c, c)

  def next(barrier: Long): Ev = {
    val wantRight = rng.nextDouble() < shareRight
    var tries = 0
    while (tries < 10000) {
      tries += 1
      if (wantRight) {
        val c = rng.nextInt(nCust)
        if (lastTouch(c) < barrier) return emit(right = true, c, c)
      } else {
        val o = rng.nextInt(nOrders)
        if (lastTouch(custOf(o)) < barrier) return emit(right = false, o, custOf(o))
      }
    }
    throw new IllegalStateException(s"no free customer at seq $seq")
  }

  def chunk(n: Int): Seq[Ev] = { val b = seq; Seq.fill(n)(next(b)) }
}

/** The foreachBatch sink: keeps the latest emitted pair per output key,
  * the latency of every emission whose triggering event was due inside
  * the timed window, and the batches it ran.
  */
final class LiveSink(traceSlices: Boolean) {
  @volatile var windowSeq0 = Long.MaxValue
  @volatile var windowSeq1 = Long.MaxValue
  @volatile var windowStartNs = 0L
  @volatile var windowEndNs = 0L
  @volatile var rate = 1.0
  @volatile var setupTag: String = ""
  /** out key -> (left seq, right seq) of its latest emission */
  val latest = new java.util.HashMap[Long, (Long, Long)]()
  val latencyMs = Array(mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double])
  /** latencies of each two-second slice of the window, by due time */
  val slices = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  /** (batch id, traced, start ms, end ms, sink seconds) of window batches */
  val batches = mutable.ArrayBuffer.empty[(Long, Boolean, Long, Long, Double)]

  private def seqOf(json: String): Long = {
    val i = json.lastIndexOf("\"seq\":") + 6
    var j = i
    while (j < json.length && json.charAt(j).isDigit) j += 1
    json.substring(i, j).toLong
  }

  val fn: (Dataset[JoinedRecord], Long) => Unit = { (ds, batchId) =>
    val t0 = System.nanoTime()
    val s0 = System.currentTimeMillis()
    val inWindow = t0 >= windowStartNs && t0 < windowEndNs
    // traced runs trace odd seconds of the window and leave even ones
    // untraced; the open-loop latency comes from the untraced ones
    val traced = inWindow && traceSlices && ((t0 - windowStartNs) / 1000000000L) % 2 == 1
    ds.sparkSession.sparkContext.setLocalProperty(Tracer.TagKey,
      if (inWindow) s"${if (traced) "t" else "u"}b$batchId" else setupTag)
    val rows = ds.collect()
    rows.foreach(r => latest.put(r.outKey.toLong, (seqOf(r.left), seqOf(r.right))))
    val end = System.nanoTime()
    val lat = latencyMs(if (traced) 1 else 0)
    rows.foreach { r =>
      if (r.seq >= windowSeq0 && r.seq < windowSeq1) {
        val ms = (end - windowStartNs - (r.seq - windowSeq0) * 1e9 / rate) / 1e6
        lat += ms
        slices.getOrElseUpdate(((r.seq - windowSeq0) / rate / 2).toInt, mutable.ArrayBuffer.empty) += ms
      }
    }
    if (inWindow) batches += ((batchId, traced, s0, System.currentTimeMillis(), (end - t0) / 1e9))
  }
}

/** denorm_live: an open loop. One long-lived `indexStream` -> `joined`
  * query (inner join, in-memory source, foreachBatch sink, default
  * trigger) is fed by one generator thread at a fixed offered rate.
  *
  *  - Set-up (repeated `Main.Setups` times, each in a fresh session): start
  *    the query and load every customer and 20,000 orders as three chunks.
  *  - Warm-up, after the last set-up: events at the offered rate for six
  *    seconds. Its length is set by the generator, not by the program, so
  *    it is not part of `setup_s`.
  *  - Timed window: `a.seconds` seconds at the offered rate. Latency runs
  *    from an event's due time to the end of the sink call that emitted
  *    it. A run whose generator fell behind, or whose backlog grew, is
  *    failed.
  *  - Drain: a fixed backlog of twenty chunks of 10,000 events, each added
  *    at once and processed with no rate limit. `pass_s` is the time of
  *    the whole drain. The latencies (open loop in the window, per chunk
  *    in the drain) are per-layer metrics: they do not repeat within the
  *    benchmark's bound (perfbench/README.md says why).
  *  - Check: the latest emission per order must pair the order's latest
  *    version with its customer's latest version.
  */
final class Live(a: Args, tracer: Option[Tracer]) {
  val Rate = 1000.0
  val SpacingS = 3.0
  val WarmupS = 6.0
  val ChunkEvents = 10000
  val PrefillLeftChunks = 2
  val DrainChunks = 20
  val MaxLatenessMs = 200.0
  val MaxBacklogS = 2.0
  /** share of right (customer) updates, drawn from the seed */
  val shareRight: Double = 0.18 + 0.04 * new java.util.SplittableRandom(a.seed ^ 0x5eedL).nextDouble()

  /** wall time of each query's start() plus its stop() */
  private val lifecycleS = mutable.ArrayBuffer.empty[Double]

  private def stop(q: StreamingQuery): Unit = {
    val t0 = System.nanoTime()
    q.stop()
    lifecycleS(lifecycleS.size - 1) += (System.nanoTime() - t0) / 1e9
  }

  private final class Fed(val ms: MemoryStream[Ev]) {
    /** events added after each addData call; the source's offset n is call n */
    val cum = mutable.ArrayBuffer.empty[Long]
    val latenessMs = mutable.ArrayBuffer.empty[Double]
    def add(evs: Seq[Ev]): Unit = {
      ms.addData(evs)
      cum += cum.lastOption.getOrElse(0L) + evs.size
    }
    def offered: Long = cum.lastOption.getOrElse(0L)
    def processed(q: StreamingQuery): Long =
      Option(q.lastProgress).flatMap(_.sources.headOption).map(_.endOffset)
        .filter(o => o != null && o.forall(_.isDigit)).map(o => cum(o.toInt)).getOrElse(0L)
  }

  private def start(spark: SparkSession, sink: LiveSink, k: Int): (Fed, StreamingQuery) = {
    // one input partition per task slot: by default the memory source
    // makes one partition per addData call, i.e. per generator tick
    val ms = MemoryStream[Ev](4)(Encoders.product[Ev], spark.sqlContext)
    val src = ms.toDF()
    val left = src.filter(!col("isRight")).select(col("key").as("o_orderkey"),
      col("fk").as("o_custkey"), col("name").as("o_orderstatus"),
      col("amount").as("o_totalprice"), col("seq"))
    val right = src.filter(col("isRight")).select(col("key").as("c_custkey"),
      col("name").as("c_name"), col("amount").as("c_acctbal"), col("seq"))
    val idx = StreamDenormalize.indexStream(left, col("o_orderkey"), col("o_custkey"), col("seq"),
      right, col("c_custkey"), col("seq"))
    val t0 = System.nanoTime()
    val q = StreamDenormalize.joined(idx, "inner").writeStream
      .foreachBatch(sink.fn)
      .option("checkpointLocation", s"${a.out}/ckpt$k")
      .start()
    lifecycleS += (System.nanoTime() - t0) / 1e9
    (new Fed(ms), q)
  }

  /** The generator thread: offers `n` events at `Rate` from `startNs`. */
  private def offer(fed: Fed, gen: Gen, n: Long, startNs: Long): Unit = {
    val spacing = (SpacingS * Rate).toLong
    val seq0 = gen.seq
    val t = new Thread(() => {
      var sent = 0L
      while (sent < n) {
        val now = System.nanoTime()
        val due = math.min(n, ((now - startNs) * Rate / 1e9).toLong + 1)
        if (due > sent) {
          val evs = (sent until due).map(_ => gen.next(gen.seq - spacing))
          fed.add(evs)
          val added = System.nanoTime()
          (sent until due).foreach(i => fed.latenessMs += (added - startNs - i * 1e9 / Rate) / 1e6)
          sent = due
        } else LockSupport.parkNanos(math.min(5000000L, startNs + (sent * 1e9 / Rate).toLong - now))
      }
    }, "perfbench-generator")
    t.start()
    t.join()
    assert(gen.seq == seq0 + n)
  }

  def run(): Result = {
    val r = new Result
    val setupS, sessionS, warmS, jitS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var live: (Fed, StreamingQuery) = null
    var gen: Gen = null
    var sink: LiveSink = null
    for (k <- 1 to Main.Setups) {
      if (spark != null) { stop(live._2); Main.stopSession(spark) }
      val t0 = System.nanoTime()
      val jit0 = Jvm.jitMs
      try {
        spark = Main.newSession(a, tracer)
        sessionS += (System.nanoTime() - t0) / 1e9
        val w0 = System.nanoTime()
        gen = new Gen(a.seed, shareRight)
        sink = new LiveSink(tracer.isDefined)
        sink.setupTag = s"${if (tracer.isDefined && k % 2 == 0) "u" else ""}s$k"
        live = start(spark, sink, k)
        val (fed, q) = live
        fed.add((0 until gen.nCust).map(gen.right))
        q.processAllAvailable()
        (1 to PrefillLeftChunks).foreach { _ => fed.add(gen.chunk(ChunkEvents)); q.processAllAvailable() }
        warmS += (System.nanoTime() - w0) / 1e9
      } catch { case e: Throwable => throw new SetupFailure(s"set-up $k", e) }
      jitS += (Jvm.jitMs - jit0) / 1000.0
      setupS +=
        (if (k == 1) (System.currentTimeMillis() - Jvm.startMs) / 1000.0
         else (System.nanoTime() - t0) / 1e9)
    }
    val (fed, q) = live
    Main.log("set-ups done")
    try {
      sink.setupTag = "uwarm"
      offer(fed, gen, (WarmupS * Rate).toLong, System.nanoTime())
      q.processAllAvailable()
    } catch { case e: Throwable => throw new SetupFailure("warm-up", e) }

    // ---- timed window at the offered rate ----
    fed.latenessMs.clear()
    val n = (a.seconds * Rate).toLong
    val gc0 = Jvm.gcMs
    val gcN0 = Jvm.gcCount
    val jitW0 = Jvm.jitMs
    val cg0 = Codegen.compiles
    val startNs = System.nanoTime() + 20000000L
    val wStartMs = System.currentTimeMillis() + 20
    sink.rate = Rate
    sink.windowSeq0 = gen.seq
    sink.windowSeq1 = gen.seq + n
    sink.windowStartNs = startNs
    sink.windowEndNs = Long.MaxValue
    offer(fed, gen, n, startNs)
    val windowS = (System.nanoTime() - startNs) / 1e9
    val backlog = fed.offered - fed.processed(q)
    val wEndMs = System.currentTimeMillis()
    val gcMs = Jvm.gcMs - gc0
    val gcN = Jvm.gcCount - gcN0
    val jitWindowMs = Jvm.jitMs - jitW0
    val cgWindow = Codegen.compiles - cg0
    sink.windowEndNs = System.nanoTime()
    q.processAllAvailable()
    val heapWindow = Jvm.liveHeapMb()
    val lateness = Stats.quantile(fed.latenessMs.toSeq, 0.99)
    r.attempted += n

    Main.log(s"window done: backlog $backlog, p99 lateness $lateness ms")
    // ---- drain a fixed backlog, chunk by chunk, with no rate limit ----
    val chunks = (1 to DrainChunks).map(_ => gen.chunk(ChunkEvents))
    val drainEach = chunks.zipWithIndex.map { case (c, i) =>
      sink.setupTag = if (tracer.isDefined && i % 2 == 1) "drain" else "udrain"
      val t0 = System.nanoTime()
      fed.add(c)
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    r.attempted += DrainChunks.toLong * ChunkEvents
    val heapDrain = Jvm.liveHeapMb()
    Main.log(s"drain done in ${drainEach.sum} s")
    stop(q)
    q.exception.foreach(e => r.fail("stream", e))
    Main.stopSession(spark) // drains the listener bus

    // ---- correctness: latest emission per order vs join of latest inputs ----
    var mismatches = 0L
    var expected = 0L
    for (o <- 0 until gen.nOrders if gen.latestLeft(o) >= 0) {
      expected += 1
      val want = (gen.latestLeft(o), gen.latestRight(gen.custOf(o)))
      if (sink.latest.get(o.toLong) != want) mismatches += 1
    }
    mismatches += math.max(0L, sink.latest.size - expected)
    if (mismatches > 0) {
      r.failed += mismatches
      r.errors += s"$mismatches of $expected output keys differ from the join of the latest inputs"
    }
    // validity: a late generator or a growing backlog fails the run
    val backlogLimit = (MaxBacklogS * Rate).toLong
    if (lateness > MaxLatenessMs || backlog > backlogLimit) {
      r.failed += n
      r.errors += f"invalid window: generator p99 lateness $lateness%.1f ms (limit $MaxLatenessMs), " +
        s"backlog $backlog events (limit $backlogLimit)"
    }

    val lat = sink.latencyMs(0)
    // traced runs trace the odd drain chunks
    val drainT = drainEach.zipWithIndex.collect { case (d, i) if i % 2 == 1 => d }
    val drainU = if (tracer.isDefined) drainEach.zipWithIndex.collect { case (d, i) if i % 2 == 0 => d } else drainEach
    r.metrics("setup_s") = Stats.median(setupS.toSeq)
    r.metrics("pass_s") = drainEach.sum
    r.metrics("peak_heap_mb") = math.max(heapWindow, heapDrain)
    r.samples ++= Seq("setup_s" -> setupS.size, "pass_s" -> 1,
      "peak_heap_mb" -> 2, "drain.latency_p50_ms" -> drainU.size,
      "openloop.latency_p50_ms" -> lat.size, "openloop.latency_p90_ms" -> lat.size)
    r.info("drain_latency_p50_ms") = f"${Stats.median(drainU) * 1000}%.2f"
    r.info("openloop_latency_p50_ms") = f"${Stats.quantile(lat.toSeq, 0.5)}%.2f"
    r.info("openloop_latency_p90_ms") = f"${Stats.quantile(lat.toSeq, 0.9)}%.2f"
    r.info("drain_chunk_ms") = drainEach.map(d => f"${d * 1000}%.0f").mkString(",")
    r.info("drain_eps") = f"${DrainChunks * ChunkEvents / drainEach.sum}%.1f"
    r.info("offered_eps") = f"${n / windowS}%.1f"
    r.info("generator_p99_lateness_ms") = f"$lateness%.2f"
    r.info("backlog_events") = backlog.toString
    r.info("share_right") = f"$shareRight%.4f"
    r.info("window_batches") = sink.batches.size.toString
    r.info("slice_p50_ms") = sink.slices.toSeq.sortBy(_._1).map(x => f"${Stats.median(x._2.toSeq)}%.0f").mkString(",")
    r.info("window_jit_ms") = jitWindowMs.toString
    r.info("window_gc_ms") = gcMs.toString
    r.info("window_codegen_compiles") = cgWindow.toString
    r.info("setup_s_each") = setupS.map(x => f"$x%.3f").mkString(",")

    tracer.foreach { t =>
      Layers.fill(r.layers)
      r.layers("Sessions.start_s") = Stats.median(sessionS.toSeq)
      r.layers("setup.warmup_s") = Stats.median(warmS.toSeq)
      r.layers("jvm.jit_s") = Stats.median(jitS.toSeq)
      val traced = sink.batches.filter(_._2)
      val progress = t.batches.toArray(Array.empty[Batch])
        .filter(_.runId == q.runId.toString).map(b => b.batchId -> b).toMap
      val perBatch = traced.flatMap { case (id, _, _, to, sinkS) =>
        progress.get(id).map { b =>
          val tt = t.taskTotals(_ == s"tb$id")
          val trigger = b.durations.getOrElse("triggerExecution", 0L)
          // the micro-batch is planned before the sink call starts
          val ph = t.phases.toArray(Array.empty[Phases]).filter(x => x.startMs >= b.startMs && x.startMs <= to)
          Map(
            "sink.execute_s" -> sinkS,
            "catalyst.analysis_ms" -> ph.map(_.analysisMs).sum.toDouble,
            "catalyst.optimization_ms" -> ph.map(_.optimizationMs).sum.toDouble,
            "catalyst.planning_ms" -> ph.map(_.planningMs).sum.toDouble,
            "scheduler.driver_idle_s" -> t.idleMs(b.startMs, b.startMs + trigger, tt.jobSpans) / 1000.0,
            "executor.busy_frac" -> tt.runMs / (trigger.max(1L) * 4.0),
            "stream.trigger_ms" -> trigger.toDouble,
            "stream.addBatch_ms" -> b.durations.getOrElse("addBatch", 0L).toDouble,
            "stream.queryPlanning_ms" -> b.durations.getOrElse("queryPlanning", 0L).toDouble,
            "stream.walCommit_ms" -> b.durations.getOrElse("walCommit", 0L).toDouble,
            "stream.commitOffsets_ms" -> b.durations.getOrElse("commitOffsets", 0L).toDouble,
            "stream.latestOffset_ms" -> b.durations.getOrElse("latestOffset", 0L).toDouble,
            "state.commit_ms" -> b.stateCommitMs.toDouble,
            "state.updates_ms" -> b.stateUpdatesMs.toDouble) ++ Layers.tasks(tt)
        }
      }
      perBatch.headOption.foreach(_.keys.foreach(k => r.layers(k) = Stats.median(perBatch.map(_(k)).toSeq)))
      val windowBatches = progress.values.filter(b => b.startMs >= wStartMs && b.startMs <= wEndMs)
      r.layers("stream.batches") = windowBatches.size.toDouble
      r.layers("codegen.compiles") = cgWindow.toDouble / math.max(1, windowBatches.size)
      r.layers("stream.lifecycle_s") = Stats.median(lifecycleS.toSeq)
      windowBatches.toSeq.sortBy(_.batchId).lastOption.foreach { b =>
        r.layers("state.rows") = b.stateRows.toDouble
        r.layers("state.memory_bytes") = b.stateMem.toDouble
      }
      r.layers("generator.offered_eps") = n / windowS
      r.layers("generator.lateness_ms") = lateness
      r.layers("stream.backlog_events") = backlog.toDouble
      r.layers("jvm.gc_s") = gcMs / 1000.0
      r.layers("jvm.gc_count") = gcN.toDouble
      r.layers("jvm.heap_live_mb") = heapWindow
      r.layers("trace.overhead_setup_s") = Layers.setupOverhead(setupS.toSeq)
      r.layers("trace.overhead_pass_s") = DrainChunks * (Stats.median(drainT) - Stats.median(drainU))
      r.layers("drain.latency_p50_ms") = Stats.median(drainU) * 1000
      r.layers("openloop.latency_p50_ms") = Stats.quantile(lat.toSeq, 0.5)
      r.layers("openloop.latency_p90_ms") = Stats.quantile(lat.toSeq, 0.9)
      sink.batches.foreach { case (id, tr, from, to, s) =>
        t.spans.add(s"""{"span":"batch","id":$id,"traced":$tr,"start_ms":$from,"end_ms":$to,"sink_s":${Json.num(s)}}""")
      }
    }
    r
  }
}
