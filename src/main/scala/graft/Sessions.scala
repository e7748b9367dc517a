package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession configuration for all graft entry points.
  *
  * These settings are scale-oriented defaults: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing — the knobs
  * that keep a 100 TB shuffle healthy), UTC session time, and the legacy
  * nanos-as-long parquet reader for the `events` table's TIMESTAMP(NANOS)
  * column (Spark has no nanosecond timestamp type).
  */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // the memory-sink HARNESS collects each converged streaming
      // fixture to the driver (the staged-topic stand-in); at the
      // synthetic sf10 decade one q123 batch serializes ~1 GB and
      // trips the 1g default. Harness accommodation only — a real
      // deployment writes streaming output to a real sink. local[*]
      // shares one JVM anyway, so this moves no memory boundary.
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.ui.enabled", "false")
      // Checkpoint IO path, profiled in tools/STREAM_FLOOR_r16.md: the
      // Spark 4.1 default wraps a FileContext-based manager in
      // ChecksumCheckpointFileManager, and on this host EVERY manager
      // op (offset-log write, commit-log write, source-log append,
      // per-partition state commit) costs ~35 ms through FileContext —
      // even on tmpfs, so it is JVM/Hadoop-layer cost, not IO. The
      // rename-based FileSystem manager does the same ops in ~8 ms,
      // and POSIX rename gives the same atomic-visibility guarantee on
      // a LOCAL filesystem. Deployment knob: on HDFS/cloud checkpoints
      // revert to the default manager (FileContext semantics matter
      // there) by overriding both keys.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")

  /** The session of the mains: `local[SPARK_GRAFT_CPUS]` (default 4)
    * with as many shuffle partitions, logging at WARN.
    */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with each conf key of `kvs` set to its value, then
    * puts every key back as it was (set to its old value, or unset) on
    * every exit path.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Micro-batch conf scope for `foreachBatch` bodies whose frames are
    * batch-sized: AQE's stage-materialization sub-jobs and the
    * session's full-width shuffles are pure scheduling overhead there
    * (~13 jobs/batch measured on q93 at sf0.1), so the body runs with
    * AQE off and `shufflePartitions`-way shuffles, both restored on
    * exit. At production batch sizes the trade-off flips — these are
    * deployment knobs, not semantics.
    *
    * Scope: a foreachBatch frame's `sparkSession` is the stream's own
    * clone of the session that started it, not that session itself
    * (the stream clones it inside `start()`), so these overrides never
    * reach the caller's conf: a batch query the caller runs while a
    * micro-batch is in flight plans under the caller's AQE and
    * partition settings (StreamsSpec pins this). The harnesses still
    * run queries one at a time for another reason: [[Streams.drain]]
    * drops a session's previous memory sinks when the next stream
    * starts.
    */
  def withMicroBatchConf[T](sess: SparkSession, shufflePartitions: Int = 8)(body: => T): T =
    withConf(sess, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString)(body)
}
