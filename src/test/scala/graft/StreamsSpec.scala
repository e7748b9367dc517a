package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** The one stream lifecycle: which conf the caller's session and the
  * stream see while a stream runs, what is left behind when a stream
  * fails, and a source scan that keeps every memory-sink and
  * foreachBatch stream going through [[Streams]].
  */
class StreamsSpec extends SparkSpec {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"

  /** Parquet input of `files` files, 10 rows each, keys `k` 0..2. */
  private def stagedInput(tag: String, files: Int): String = {
    val p = Fs.tmpDir(s"graft_spec_$tag")
    spark.range(0, files * 10L).repartition(files)
      .select((col("id") % 3).as("k"), col("id").as("v"))
      .write.mode("overwrite").parquet(p)
    p
  }

  private def ckptLeft(tag: String): Seq[String] = {
    val prefix = s"graft_${tag}_ckpt"
    Seq("/dev/shm", System.getProperty("java.io.tmpdir")).flatMap { d =>
      Option(new java.io.File(d).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(prefix)).map(_.getPath)
    }
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  /** Runs `fail`, expects it to throw, and checks that `boom` is in the
    * cause chain, no stream is left running and `tag`'s checkpoint is gone.
    */
  private def assertCleanFailure(tag: String, boom: String)(fail: => Unit): Unit = {
    val t = intercept[Throwable](fail)
    assert(causes(t).exists(c => Option(c.getMessage).exists(_.contains(boom))),
      s"'$boom' not in the cause chain of $t")
    assert(spark.streams.active.isEmpty, "a failed stream was left running")
    assert(ckptLeft(tag).isEmpty, s"checkpoint left behind: ${ckptLeft(tag)}")
  }

  test("the caller's session keeps its conf while a registered stream drains") {
    val defaults = (spark.conf.get(Partitions), spark.conf.get(Aqe))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val mine = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == "q268_sink") mine.set(e.id)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == mine.get())
          seen.add((spark.conf.get(Partitions), spark.conf.get(Aqe)))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == mine.get()) done.countDown()
    }
    spark.streams.addListener(listener)
    try {
      SparkEntry.queries("q268_stream_topk")(spark, "/root/testdata/sf0.001").collect()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.streams.removeListener(listener)
    val all = seen.asScala.toSeq
    assert(all.size >= 3, s"expected at least 3 micro-batches, saw ${all.size}")
    assert(all.forall(_ == defaults), s"caller's conf during the drain: $all, defaults $defaults")
    assert((spark.conf.get(Partitions), spark.conf.get(Aqe)) == defaults)
  }

  test("a batch query on the caller's session inside eachBatch plans with AQE on") {
    val defaults = (spark.conf.get(Aqe), spark.conf.get(Partitions))
    val staged = stagedInput("eachbatch_conf", files = 3)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, String, String, Boolean)]()
    try Streams.eachBatch(spark, "spec_eachbatch_conf", staged) { (b, _) =>
      val plan = spark.range(100).groupBy(col("id") % 7).count().queryExecution.executedPlan
      seen.add((b.sparkSession eq spark, spark.conf.get(Aqe), spark.conf.get(Partitions),
        plan.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec]))
    } finally Fs.rmTree(staged)
    val all = seen.asScala.toSeq
    assert(all.size == 3)
    assert(all.forall(_ == ((false, defaults._1, defaults._2, true))),
      s"caller's session inside eachBatch: $all, defaults $defaults")
  }

  test("a stateful drain runs with 8 state partitions") {
    val defaultPartitions = spark.conf.get(Partitions)
    val staged = stagedInput("drain_state", files = 2)
    var progress: StreamingQueryProgress = null
    try {
      val out = Streams.drain(spark, "spec_drain_state", mode = "complete", await = { q =>
        q.processAllAvailable(); progress = q.lastProgress
      })(spark.readStream.schema("k long, v long").parquet(staged).groupBy(col("k")).count())
      assert(out.count() == 3)
    } finally Fs.rmTree(staged)
    assert(progress.stateOperators.head.numShufflePartitions == 8)
    assert(spark.conf.get(Partitions) == defaultPartitions)
    assert(ckptLeft("spec_drain_state").isEmpty)
  }

  test("a stream that fails at start, in a drained batch or in eachBatch leaves nothing running") {
    val staged = stagedInput("fail", files = 2)
    try {
      // an append-mode aggregation without a watermark is rejected by start()
      assertCleanFailure("spec_fail_start", "STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION") {
        Streams.drain(spark, "spec_fail_start")(
          spark.readStream.schema("k long, v long").parquet(staged).groupBy(col("k")).count())
      }
      val boom = udf { (v: Long) =>
        if (v >= 0) throw new IllegalStateException("drain batch boom"); v
      }
      assertCleanFailure("spec_fail_drain", "drain batch boom") {
        Streams.drain(spark, "spec_fail_drain")(
          spark.readStream.schema("k long, v long").parquet(staged).select(boom(col("v"))))
      }
      assertCleanFailure("spec_fail_each", "eachBatch boom") {
        Streams.eachBatch(spark, "spec_fail_each", staged) { (_, _) =>
          throw new IllegalStateException("eachBatch boom")
        }
      }
    } finally Fs.rmTree(staged)
  }

  test("every memory-sink and foreachBatch stream starts inside Streams") {
    // KafkaWiring builds the deployment writer; ProfileStreaming runs
    // its own profiling loop
    val allowed = Set("Streams.scala", "KafkaWiring.scala", "ProfileStreaming.scala")
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    val files = {
      val w = java.nio.file.Files.walk(root.toPath)
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    val offending = for {
      f <- files if !allowed(f.getFileName.toString)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("checkpointLocation")
    } yield s"$f:${i + 1}"
    assert(files.nonEmpty)
    assert(offending.isEmpty,
      s"start streams through graft.Streams.drain or eachBatch; found:\n${offending.mkString("\n")}")
  }
}
