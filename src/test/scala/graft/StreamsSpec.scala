package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** The one stream lifecycle: the staged-topic layout and its replay,
  * which conf the caller's session and the stream see while a stream
  * runs, what is left behind when a stream fails, and source scans that
  * keep every topic layout, memory-sink and foreachBatch stream going
  * through [[Streams]].
  */
class StreamsSpec extends SparkSpec {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"

  /** A one-batch topic of `files` files, 10 rows each, keys `k` 0..2. */
  private def stagedInput(tag: String, files: Int): Streams.Topic =
    Streams.layout(Fs.tmpDir(s"graft_spec_$tag"), Seq(spark.range(0, files * 10L)
      .repartition(files).select((col("id") % 3).as("k"), col("id").as("v"))))

  /** `file:line` of every line that `hit` matches in the files under
    * src/main/scala whose names `scanned` accepts.
    */
  private def mainLines(scanned: String => Boolean)(hit: String => Boolean): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    val files = {
      val w = java.nio.file.Files.walk(root.toPath)
      try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    assert(files.nonEmpty)
    for {
      f <- files if scanned(f.getFileName.toString)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.toSeq.zipWithIndex
      if hit(line)
    } yield s"$f:${i + 1}"
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
    } finally Fs.rmTree(staged.dir)
    val all = seen.asScala.toSeq
    assert(all.size == 3)
    assert(all.forall(_ == ((false, defaults._1, defaults._2, true))),
      s"caller's session inside eachBatch: $all, defaults $defaults")
  }

  test("withConf restores a set key and unsets an unset key after a throwing body") {
    val (set, unset) = ("spark.graft.spec.set", "spark.graft.spec.unset")
    spark.conf.set(set, "before")
    try {
      intercept[IllegalStateException] {
        Sessions.withConf(spark, set -> "inside", unset -> "inside") {
          assert(spark.conf.get(set) == "inside" && spark.conf.get(unset) == "inside")
          throw new IllegalStateException("body failed")
        }
      }
      assert(spark.conf.get(set) == "before")
      assert(spark.conf.getOption(unset).isEmpty)
    } finally spark.conf.unset(set)
  }

  test("a stateful drain runs with 8 state partitions") {
    val defaultPartitions = spark.conf.get(Partitions)
    val staged = stagedInput("drain_state", files = 2)
    var progress: StreamingQueryProgress = null
    try {
      val out = Streams.drain(spark, "spec_drain_state", mode = "complete", await = { q =>
        q.processAllAvailable(); progress = q.lastProgress
      })(spark.readStream.schema("k long, v long").parquet(staged.dir).groupBy(col("k")).count())
      assert(out.count() == 3)
    } finally Fs.rmTree(staged.dir)
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
          spark.readStream.schema("k long, v long").parquet(staged.dir).groupBy(col("k")).count())
      }
      val boom = udf { (v: Long) =>
        if (v >= 0) throw new IllegalStateException("drain batch boom"); v
      }
      assertCleanFailure("spec_fail_drain", "drain batch boom") {
        Streams.drain(spark, "spec_fail_drain")(
          spark.readStream.schema("k long, v long").parquet(staged.dir).select(boom(col("v"))))
      }
      assertCleanFailure("spec_fail_each", "eachBatch boom") {
        Streams.eachBatch(spark, "spec_fail_each", staged) { (_, _) =>
          throw new IllegalStateException("eachBatch boom")
        }
      }
    } finally Fs.rmTree(staged.dir)
  }

  test("a checkpoint still being written after its delete retries is removed at JVM exit") {
    // the store's exit hook is what removes it, so the check runs in a
    // child JVM that exits
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(javaBin, "-Xmx256m", "-cp", System.getProperty("java.class.path"),
      "graft.LeakedCheckpointCheck")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code == 0, s"child JVM failed:\n$out")
    val ckpt = """ckpt=(\S+) left=(\w+)""".r.findFirstMatchIn(out.toString)
      .getOrElse(fail(s"no report from the child JVM:\n$out"))
    assert(ckpt.group(2) == "true", s"the retries deleted a dir still being written:\n$out")
    assert(!new java.io.File(ckpt.group(1)).exists(), s"${ckpt.group(1)} survived the JVM exit")
  }

  test("every memory-sink and foreachBatch stream starts inside Streams") {
    // KafkaWiring builds the deployment writer
    val offending = mainLines(f => f != "Streams.scala" && f != "KafkaWiring.scala")(
      _.contains("checkpointLocation"))
    assert(offending.isEmpty,
      s"start streams through graft.Streams.drain or eachBatch; found:\n${offending.mkString("\n")}")
  }

  test("staged topics arrive one batch per micro-batch, in order, at batch 0's file count") {
    // two files per batch: a trigger of any other size would split or
    // merge batches
    val t = Streams.layout(Fs.tmpDir("graft_spec_order"), (0 until 3).map(b =>
      spark.range(0, 20).repartition(2).select(lit(b).as("b"), col("id"))))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Int], Int)]()
    try {
      assert(t.firstFiles == 2 && t.arrivals == 3, t)
      Streams.eachBatch(spark, "spec_order", t) { (b, bid) =>
        val rows = b.select(col("b"), input_file_name()).distinct().collect()
        seen.add((bid, rows.map(_.getInt(0)).distinct.toSeq, rows.length))
      }
      // cutting an arrival batch is refused
      intercept[IllegalArgumentException](
        Streams.replay(spark, t, Tables.parquet(spark, t.dir).schema, batches = 3))
    } finally Fs.rmTree(t.dir)
    assert(seen.asScala.toSeq.sortBy(_._1) == Seq((0L, Seq(0), 2), (1L, Seq(1), 2), (2L, Seq(2), 2)))
  }

  test("topic layout and replay rules live only in Streams") {
    val rules = Seq("maxFilesPerTrigger", "stampMtime", "setLastModified")
    // Fs defines the verified stamp that Streams.layout calls
    val offending =
      mainLines(f => f != "Streams.scala" && f != "Fs.scala")(l => rules.exists(l.contains)) ++
        mainLines(_ == "Fs.scala")(l => """(?<!def )stampMtime\(""".r.findFirstIn(l).nonEmpty)
    assert(offending.isEmpty,
      s"lay out and replay staged inputs through graft.Streams; found:\n${offending.mkString("\n")}")
  }
}

/** Child-JVM body of the leaked-checkpoint test: a writer keeps filling
  * the checkpoint (as a RocksDB upload that outlives `stop()` does) for
  * longer than [[Fs.rmTreeRetry]] retries, so the dir outlives
  * [[Streams.withCheckpoint]] and only the exit hook can remove it.
  */
object LeakedCheckpointCheck {
  def main(args: Array[String]): Unit = {
    import java.nio.file.{Files, Paths}
    var dir: String = null
    val writer = new Thread(() => {
      val until = System.nanoTime() + 1500L * 1000 * 1000
      var i = 0
      while (System.nanoTime() < until) {
        i += 1
        try {
          val sub = Files.createDirectories(Paths.get(dir, "state", "0", "0"))
          Files.write(sub.resolve(s"$i.zip"), Array[Byte](1))
        } catch { case _: java.io.IOException => }
      }
    })
    Streams.withCheckpoint("leak_check") { ckpt => dir = ckpt; writer.start() }
    val left = new java.io.File(dir).exists()
    writer.join()
    println(s"ckpt=$dir left=$left")
  }
}
