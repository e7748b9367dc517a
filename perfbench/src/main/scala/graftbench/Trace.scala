package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM-wide counters, read through the platform MXBeans. */
object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcs.map(_.getCollectionTime.max(0L)).sum
  def gcCount: Long = gcs.map(_.getCollectionCount.max(0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Heap in use right after a full collection, i.e. the live set. The
    * second collection follows Spark's context cleaner, which drops
    * shuffle and broadcast blocks asynchronously once the first one
    * found them unreachable.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Whole-stage and expression code generation, read through Spark's
  * codegen metrics source: each count is one class compiled by Janino
  * (a cache miss of Spark's generated-code cache).
  */
object Codegen {
  def compiles: Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Work counted by the scheduler listener for one tag. */
final class TaskAgg {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, deserMs, gcMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One micro-batch progress report. */
final case class Batch(runId: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], stateRows: Long, stateMem: Long,
    stateCommitMs: Long, stateUpdatesMs: Long)

/** One executed query's Catalyst phases (epoch ms start, duration ms). */
final case class Phases(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** The traced run's collector: a SparkListener, a QueryExecutionListener
  * and a StreamingQueryListener, registered on each session the benchmark
  * starts. Every callback only appends to in-memory structures; nothing
  * is aggregated or written until the run ends.
  *
  * Attribution: the benchmark sets the local property [[Tracer.TagKey]]
  * before each operation. Spark copies local properties into every job
  * it submits (stream execution threads inherit them from the thread
  * that started the query), and each job-start event carries them, so
  * a job is tied to its operation by the event itself. Stages and tasks
  * reach their tag through the job that submitted them. Catalyst phases
  * and micro-batch progress carry wall-clock start times instead, and
  * are tied to operations by the operation's time window. Because the
  * tag travels inside the event, an event delivered late by the
  * asynchronous listener bus is still attributed correctly; stopping the
  * session drains the bus before any total is read.
  */
final class Tracer {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobOpen = new ConcurrentHashMap[Int, (String, Long)]()
  private val aggs = new ConcurrentHashMap[String, TaskAgg]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  val spans = new ConcurrentLinkedQueue[String]()

  private def agg(tag: String): TaskAgg = aggs.computeIfAbsent(tag, _ => new TaskAgg)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).map(_.getProperty(Tracer.TagKey)).orNull
      if (tag != null && Tracer.traced(tag)) {
        jobOpen.put(e.jobId, (tag, e.time))
        e.stageInfos.foreach(s => stageTag.put(s.stageId, tag))
        val a = agg(tag)
        a.synchronized(a.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOpen.remove(e.jobId)).foreach { case (tag, start) =>
        val a = agg(tag)
        a.synchronized(a.jobSpans += ((start, e.time)))
        spans.add(s"""{"span":"job","id":${e.jobId},"tag":${Json.str(tag)},"start_ms":$start,"end_ms":${e.time}}""")
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
        val a = agg(tag)
        a.synchronized(a.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTag.get(e.stageId)).foreach { tag =>
        val a = agg(tag)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.deserMs += m.executorDeserializeTime
            a.gcMs += m.jvmGCTime
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            a.spill += m.diskBytesSpilled
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
      phases.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators
      def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) = st.map(f).sum
      batches.add(Batch(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        sum(_.numRowsTotal), sum(_.memoryUsedBytes), sum(_.commitTimeMs),
        sum(_.allUpdatesTimeMs)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Scheduler and executor totals over every tag `keep` accepts. */
  def taskTotals(keep: String => Boolean): TaskAgg = {
    val t = new TaskAgg
    aggs.asScala.foreach { case (tag, a) if keep(tag) =>
      a.synchronized {
        t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
        t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.deserMs += a.deserMs; t.gcMs += a.gcMs
        t.fetchWaitMs += a.fetchWaitMs; t.shuffleWrite += a.shuffleWrite
        t.shuffleRead += a.shuffleRead; t.spill += a.spill; t.jobSpans ++= a.jobSpans
      }
    case _ => ()
    }
    t
  }

  /** Milliseconds of `[from, to)` that no job of `spans` covered. */
  def idleMs(from: Long, to: Long, jobSpans: Iterable[(Long, Long)]): Long = {
    var busy = 0L
    var cur = from
    jobSpans.map { case (s, e) => (s.max(from), e.min(to)) }.filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (e > cur) { busy += e - s.max(cur); cur = e }
      }
    (to - from) - busy
  }
}

object Tracer {
  val TagKey = "graftbench.tag"
  /** Tags of operations whose events the tracer records. Untraced
    * passes, which measure the tracer's own overhead, start with "u".
    */
  def traced(tag: String): Boolean = !tag.startsWith("u")
}

/** Minimal JSON writing for the result and span files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
