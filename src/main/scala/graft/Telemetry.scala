package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.GraftListenerBusBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The one telemetry path of a harness run: where each query attempt's
  * time went and what it reused, as a JSON object per attempt.
  *
  * Attribution: [[attempt]] sets the local property [[Tag]] on the
  * calling thread. Spark copies local properties into every job it
  * submits, stream execution threads inherit them from the thread that
  * called `start()`, and each job-start event carries them, so a job is
  * tied to its attempt by the event itself. Stages and tasks reach the
  * attempt through their job. Stream progress reaches it through the
  * run id that `onQueryStarted` records; that callback runs inside
  * `start()`, so an attempt's stream count is exact when it returns.
  * Events arrive late on the asynchronous listener bus; [[close]]
  * drains the bus once before any counter is read.
  *
  * Per attempt, beside the harness's own `s` and `build_ms`: jobs
  * (failed ones too), stages and tasks; executor run, CPU, deserialize
  * and GC ms; shuffle and spill bytes; classes compiled (Spark's
  * codegen metrics, JVM-wide, over the attempt); streams started,
  * micro-batches and their `durationMs` buckets; state-store commit,
  * update and removal ms; and the artifact store's hits and builds by
  * artifact name (JVM-wide, over the attempt).
  */
private[graft] final class Telemetry private (spark: SparkSession) {
  import Telemetry._

  private val sc = spark.sparkContext
  private val seq = new java.util.concurrent.atomic.AtomicLong
  // listener maps: attempt by tag, by stage id, by job id, by stream run id
  private val attempts = new ConcurrentHashMap[String, Attempt]()
  private val stages = new ConcurrentHashMap[Int, Attempt]()
  private val jobs = new ConcurrentHashMap[Int, Attempt]()
  private val runs = new ConcurrentHashMap[java.util.UUID, Attempt]()

  private def tagged(tag: String): Option[Attempt] =
    Option(tag).flatMap(t => Option(attempts.get(t)))

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => tagged(p.getProperty(Tag))).foreach { a =>
        a.add("jobs" -> 1L)
        jobs.put(e.jobId, a)
        e.stageIds.foreach(stages.put(_, a))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { a =>
        if (e.jobResult != JobSucceeded) a.add("jobs_failed" -> 1L)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach(_.add("stages" -> 1L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { a =>
        val m = e.taskMetrics
        if (m == null) a.add("tasks" -> 1L)
        else a.add("tasks" -> 1L, "run_ms" -> m.executorRunTime,
          "cpu_ns" -> m.executorCpuTime, "deser_ms" -> m.executorDeserializeTime,
          "gc_ms" -> m.jvmGCTime, "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> m.diskBytesSpilled)
      }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      tagged(sc.getLocalProperty(Tag)).foreach { a =>
        runs.put(e.runId, a)
        a.add("streams" -> 1L)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(runs.get(e.progress.runId)).foreach { a =>
        val p = e.progress
        val st = p.stateOperators
        a.add(Seq("batches" -> 1L,
          "state_commit_ms" -> st.map(_.commitTimeMs).sum,
          "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum,
          "state_removal_ms" -> st.map(_.allRemovalsTimeMs).sum) ++
          Buckets.map(k => s"${k}_ms" -> Option(p.durationMs.get(k)).fold(0L)(_.longValue)): _*)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Runs `body` as one attempt of `query`, with every job, stage, task
    * and stream it starts attributed to the returned [[Attempt]].
    */
  def attempt(query: String)(body: Attempt => Unit): Attempt = {
    val a = new Attempt
    val tag = s"$query#${seq.incrementAndGet()}"
    attempts.put(tag, a)
    val prev = sc.getLocalProperty(Tag)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val hits0 = counts(hits)
    val builds0 = counts(builds)
    sc.setLocalProperty(Tag, tag)
    try body(a) finally {
      sc.setLocalProperty(Tag, prev)
      a.add("compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0))
      a.hits = delta(counts(hits), hits0)
      a.builds = delta(counts(builds), builds0)
    }
    a
  }

  /** Delivers every event posted so far, then detaches both listeners. */
  def close(): Unit = {
    try GraftListenerBusBridge.drain(sc)
    catch { case e: java.util.concurrent.TimeoutException =>
      System.err.println(s"[telemetry] listener bus not drained, counts may be short: $e")
    }
    sc.removeSparkListener(scheduler)
    spark.streams.removeListener(streams)
  }
}

private[graft] object Telemetry {
  /** The local property that names the open attempt. */
  val Tag = "graft.attempt"

  // the progress `durationMs` buckets every attempt reports
  private val Buckets = Seq("addBatch", "queryPlanning", "getBatch", "latestOffset",
    "walCommit", "commitOffsets", "triggerExecution")

  private val Counters = Seq("jobs", "jobs_failed", "stages", "tasks", "run_ms", "cpu_ms",
    "deser_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "compiles", "streams", "batches") ++ Buckets.map(_ + "_ms") ++
    Seq("state_commit_ms", "state_update_ms", "state_removal_ms")

  // artifact-store hits and builds by artifact name since the JVM started
  private val hits = new ConcurrentHashMap[String, LongAdder]()
  private val builds = new ConcurrentHashMap[String, LongAdder]()

  /** Counts one [[ArtifactCache]] lookup of `name`: a build, or a hit. */
  def stored(name: String, built: Boolean): Unit =
    (if (built) builds else hits).computeIfAbsent(name, _ => new LongAdder).increment()

  private def counts(m: ConcurrentHashMap[String, LongAdder]): Map[String, Long] =
    m.asScala.map { case (k, v) => k -> v.sum }.toMap

  private def delta(now: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    now.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }.filter(_._2 > 0)

  def install(spark: SparkSession): Telemetry = {
    val t = new Telemetry(spark)
    spark.sparkContext.addSparkListener(t.scheduler)
    spark.streams.addListener(t.streams)
    t
  }

  /** One attempt's counters. The harness sets `s` (seconds, -1 when the
    * attempt failed) and `buildMs` (the builder call alone).
    */
  final class Attempt {
    var s = -1.0
    var buildMs = 0.0
    @volatile var hits, builds = Map.empty[String, Long]
    private val n = mutable.Map.empty[String, Long].withDefaultValue(0L)

    def add(kvs: (String, Long)*): Unit =
      synchronized(kvs.foreach { case (k, v) => n(k) += v })

    def apply(counter: String): Long = synchronized(n(counter))

    def json: String = {
      def names(m: Map[String, Long]) =
        m.toSeq.sorted.map { case (k, v) => s"${Json.quote(k)}:$v" }.mkString("{", ",", "}")
      val cs = synchronized(Counters.map {
        case "cpu_ms" => s""""cpu_ms":${n("cpu_ns") / 1000000L}"""
        case k => s""""$k":${n(k)}"""
      })
      (Seq(s""""s":$s""", s""""build_ms":$buildMs""") ++ cs ++
        Seq(s""""hits":${names(hits)}""", s""""builds":${names(builds)}"""))
        .mkString("{", ",", "}")
    }
  }
}
