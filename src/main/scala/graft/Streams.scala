package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one stream lifecycle of the engine. Every staged stream input is
  * laid out ([[topic]], [[layout]]) and replayed ([[replay]]) here, and
  * every memory-sink drain ([[drain]]) and every foreachBatch replay
  * ([[eachBatch]]) starts, waits, stops and cleans up here: a per-run
  * checkpoint dir on tmpfs, the query stopped on every exit path, the
  * checkpoint removed after the stop. A failure at `start()` or in a
  * micro-batch surfaces as the caller's exception with no query left
  * running.
  */
object Streams {

  /** A staged stream input, the local stand-in for a Kafka topic: the
    * parquet files under `dir`, written in `arrivals` arrival batches,
    * the first of which wrote `firstFiles` files. The file source
    * replays files oldest-mtime-first, so the mtimes [[layout]] stamps
    * play the topic's offsets.
    */
  final case class Topic(dir: String, firstFiles: Int, arrivals: Int)

  /** `batches` laid out once per JVM as the store artifact
    * `name`/`params`, in a fresh `Fs.tmpDir(tag)` (see
    * [[ArtifactCache.stagedWith]]). The staged input is immutable;
    * consumers keep their own checkpoints, as Kafka consumers keep their
    * own offsets.
    */
  def topic(name: String, params: Any, tag: String)(batches: => Seq[Dataset[_]]): Topic =
    ArtifactCache.stagedWith(name, params, tag)(layout(_, batches))._2

  /** Writes `batches` under `dir` in arrival order: batch k as its
    * frame's partitions, every file of it stamped at one minute-aligned
    * base + k·60 s through the verified [[Fs.stampMtime]]. Minute
    * alignment keeps the stamp exact on a filesystem with coarse
    * mtimes; one stamp per batch keeps a later batch's file from riding
    * an earlier micro-batch.
    */
  def layout(dir: String, batches: Seq[Dataset[_]]): Topic = {
    val base = System.currentTimeMillis() / 60000L * 60000L
    var seen = Set.empty[String]
    val files = batches.zipWithIndex.map { case (b, k) =>
      b.write.mode("append").parquet(dir)
      val fresh = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !seen(f.getName))
      fresh.foreach(Fs.stampMtime(_, base + k * 60000L))
      seen ++= fresh.map(_.getName)
      fresh.length
    }
    Topic(dir, files.head, files.size)
  }

  /** Reads `t` as a stream of `schema` (a narrower schema prunes the
    * columns read), one arrival batch per trigger. A consumer of a
    * one-batch topic cuts it into `batches` micro-batches of
    * max(1, files / batches) files instead. A multi-batch topic is never
    * cut: an arrival batch split in two would, for one, move a
    * sentinel's watermark forward mid-arrival and drop late rows.
    */
  def replay(s: SparkSession, t: Topic, schema: StructType, batches: Int = 1): DataFrame = {
    require(batches == 1 || t.arrivals == 1,
      s"${t.dir} has ${t.arrivals} arrival batches: replay it at them")
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", math.max(1, t.firstFiles / batches))
      .parquet(t.dir)
  }

  /** State partitions for every drained stream. Streaming state is
    * partitioned by the shuffle-partition conf the query captures when
    * it starts, and every micro-batch commits one state file per
    * partition, so state partitions should track the KEY CARDINALITY
    * and state size, not the batch CPU width. On a real cluster this is
    * sized once per topology (the reference's 4-partition index topic
    * is the same decision); here the local harness uses 8.
    */
  private val statePartitions = 8

  /** A memory sink pins its FULL result set in the driver for as long
    * as its temp view exists. Round 8 named every sink with a fresh
    * UUID and never dropped one, so a Bench sweep (~22 streaming
    * queries × 2 runs) accumulated every past run's result set and the
    * late-alphabet queries paid the GC bill (q80: 17.2 s in-context vs
    * 3.45 s isolated). Sinks now take a STABLE per-query name, and the
    * start of each streaming-query invocation drops every sink this
    * harness previously registered on the session — safe because the
    * callers (Verify, Bench, the specs) all materialize a query's
    * result before invoking the next query. Dropping at NEXT-invocation
    * start, not at return, keeps the returned DataFrame (backed by the
    * view) valid through the caller's write.
    */
  private val sinkRegistry =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  private def sinkName(s: SparkSession, tag: String): String = {
    val it = sinkRegistry.iterator()
    while (it.hasNext) {
      val (sess, n) = it.next()
      if (sess eq s) { sess.catalog.dropTempView(n); it.remove() }
    }
    val name = s"${tag}_sink"
    sinkRegistry.add((s, name))
    name
  }

  /** Runs `query` into the memory sink `<tag>_sink` and returns the
    * sink's table once `await` returns. The default trigger plus
    * `processAllAvailable()` drives arrival and then the watermark
    * flush; a ProcessingTime core, which requests batches forever,
    * passes its own `await`. `spark.sql.shuffle.partitions` is
    * [[statePartitions]] only while the query starts: the stream clones
    * the session conf inside `start()`, so the caller's session keeps
    * its own conf for everything it plans during and after the drain.
    */
  def drain(s: SparkSession, tag: String, mode: String = "append",
      await: StreamingQuery => Unit = _.processAllAvailable())(
      query: => Dataset[_]): DataFrame = {
    val name = sinkName(s, tag)
    withCheckpoint(tag) { ckpt =>
      val q = Sessions.withConf(s, "spark.sql.shuffle.partitions" -> statePartitions.toString) {
        query.writeStream.format("memory").queryName(name)
          .outputMode(mode).option("checkpointLocation", ckpt).start()
      }
      try await(q) finally q.stop()
    }
    s.table(name)
  }

  /** Replays `t` (`Trigger.AvailableNow`, so the stream ends by itself)
    * one arrival batch per micro-batch, a one-batch topic one file per
    * micro-batch, and runs `body` on each batch frame and batch id under
    * [[Sessions.withMicroBatchConf]].
    */
  def eachBatch(s: SparkSession, tag: String, t: Topic)(
      body: (DataFrame, Long) => Unit): Unit =
    withCheckpoint(tag) { ckpt =>
      val batches = if (t.arrivals == 1) t.firstFiles else 1
      val q = replay(s, t, Tables.parquet(s, t.dir).schema, batches)
        .writeStream
        .foreachBatch { (b: DataFrame, bid: Long) =>
          Sessions.withMicroBatchConf(b.sparkSession)(body(b, bid))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }

  // the checkpoint dir is tmpfs-backed: removed on EVERY exit path,
  // including a query that fails at start(); one still being written
  // after the retries (a RocksDB upload that outlives stop()) goes to
  // the artifact store's exit hook instead of staying in tmpfs
  private[graft] def withCheckpoint(tag: String)(run: String => Unit): Unit = {
    val ckpt = Fs.tmpDir(s"graft_${tag}_ckpt")
    try run(ckpt) finally if (!Fs.rmTreeRetry(ckpt)) ArtifactCache.deleteAtExit(ckpt)
  }
}
