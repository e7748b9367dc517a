package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one stream lifecycle of the engine. Every memory-sink drain
  * ([[drain]]) and every foreachBatch replay ([[eachBatch]]) starts,
  * waits, stops and cleans up here: a per-run checkpoint dir on tmpfs,
  * the query stopped on every exit path, the checkpoint removed after
  * the stop. A failure at `start()` or in a micro-batch surfaces as the
  * caller's exception with no query left running.
  */
object Streams {

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
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      val q = try query.writeStream.format("memory").queryName(name)
          .outputMode(mode).option("checkpointLocation", ckpt).start()
        finally s.conf.set("spark.sql.shuffle.partitions", prev)
      try await(q) finally q.stop()
    }
    s.table(name)
  }

  /** Replays the parquet files under `staged` one file per micro-batch
    * (`Trigger.AvailableNow`, so the stream ends by itself) and runs
    * `body` on each batch frame and batch id under
    * [[Sessions.withMicroBatchConf]].
    */
  def eachBatch(s: SparkSession, tag: String, staged: String)(
      body: (DataFrame, Long) => Unit): Unit =
    withCheckpoint(tag) { ckpt =>
      val q = s.readStream.schema(s.read.parquet(staged).schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
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
  // including a query that fails at start()
  private def withCheckpoint(tag: String)(run: String => Unit): Unit = {
    val ckpt = Fs.tmpDir(s"graft_${tag}_ckpt")
    try run(ckpt) finally Fs.rmTreeRetry(ckpt)
  }
}
