package graft

/** Filesystem helpers shared by the staging/caching sites (streaming
  * input staging, checkpoint cleanup, the persisted IVF index).
  *
  * Deliberately free of shutdown-hook registration and any other
  * class-init side effects: cleanup hooks reference this object, and an
  * object whose clinit itself registers a hook throws
  * IllegalStateException("Shutdown in progress") if its FIRST touch
  * happens inside a running shutdown hook — which is exactly when
  * cleanup code runs in a test JVM that never initialized the bigger
  * objects.
  */
object Fs {

  def rmTree(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val stream = Files.walk(root)
      val all = try stream.iterator().asScala.toSeq finally stream.close()
      all.sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
    }
  }

  /** rmTree for a just-stopped streaming query's checkpoint: RocksDB
    * state-store providers are unloaded by an ASYNC maintenance task
    * that can still write under the checkpoint dir briefly after
    * `query.stop()` returns, so a single walk-and-delete races it
    * (DirectoryNotEmptyException / vanished entries, or a dir written
    * again after it was deleted). Retries while the tree exists and
    * returns whether it is gone; a dir still being written after the
    * last attempt is the caller's to hand on (see [[Streams]]), and
    * is strictly better than failing the query that already produced
    * its result.
    */
  def rmTreeRetry(path: String, attempts: Int = 4): Boolean = {
    val root = java.nio.file.Paths.get(path)
    var i = 0
    while (java.nio.file.Files.exists(root) && i < attempts) {
      i += 1
      try rmTree(path)
      catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException =>
          if (i < attempts) Thread.sleep(100)
      }
    }
    !java.nio.file.Files.exists(root)
  }

  /** Stamp a file's mtime and VERIFY the stamp took — the load-bearing
    * half of the staged-topic layout (the file streaming source batches
    * oldest-mtime-first, so these stamps ARE the arrival order;
    * `setLastModified` may silently no-op on some filesystems, and an
    * unverified stamp lets a later-epoch file ride an earlier
    * micro-batch, silently breaking arrival-order-dependent semantics).
    * Its one caller is the topic writer, [[Streams.layout]].
    */
  def stampMtime(f: java.io.File, mtime: Long): Unit = {
    f.setLastModified(mtime)
    if (f.lastModified() != mtime) throw new IllegalStateException(
      s"mtime stamp failed (wanted $mtime, have ${f.lastModified()}): ${f.getPath}")
  }

  /** Prefers tmpfs (/dev/shm) over java.io.tmpdir: /tmp is disk-backed
    * here, and the streaming harnesses funnel every checkpoint write
    * (offset log, commit log, state-store deltas — all fsync'd by
    * Spark) through this helper. A Kafka/cloud deployment would equally
    * not pay local-disk fsyncs on the driver for stream bookkeeping,
    * and disk /tmp is also the surface co-tenant IO contention hits
    * (tools/BENCH_SMEAR_r15.md) — tmpfs takes the fsync path out of
    * both stories.
    */
  def tmpDir(tag: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, tag).toString
  }

  /** Per-invocation output-dir lifecycle shared by the streaming
    * harnesses that append into fresh dirs each run (q87's index
    * stream, q93's ingest). Bench repetitions replay the whole stream
    * (double-append would corrupt the artifact), so each invocation
    * gets fresh dirs and the PREVIOUS invocation's are dropped here —
    * not at JVM exit — keeping repeated runs from accumulating
    * corpus-sized artifacts in the (tmpfs-backed) tmpdir. Dropping at
    * next invocation is safe for the memorySinkName reason: every
    * caller materializes the returned frame before invoking again.
    * Owners register their own shutdown hook calling [[cleanup]] for
    * the final run's dirs — see the class-init note above for why this
    * object registers none itself.
    */
  final class RunDirs {
    private val lastRun =
      new java.util.concurrent.ConcurrentHashMap[Any, Seq[String]]()
    private val dirs =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    /** Drop `key`'s previous dirs (if any), create one fresh temp dir
      * per tag, and track them for [[cleanup]].
      */
    def fresh(key: Any, tags: String*): Seq[String] = {
      Option(lastRun.remove(key)).foreach(_.foreach { p =>
        dirs.remove(p); rmTree(p)
      })
      val ds = tags.map(tmpDir)
      ds.foreach(dirs.add)
      lastRun.put(key, ds)
      ds
    }

    /** Track a dir built ahead of the invocation that will [[adopt]] it
      * (a prestaged working copy), so [[cleanup]] still removes it if no
      * invocation ever does.
      */
    def track(p: String): Unit = dirs.add(p)

    /** [[fresh]] for a dir built ELSEWHERE (a prestaged working copy
      * adopted by an invocation): drop `key`'s previous dirs, register
      * `paths` as its current run — same rotation discipline, no new
      * temp dir.
      */
    def adopt(key: Any, paths: Seq[String]): Unit = {
      Option(lastRun.remove(key)).foreach(_.foreach { p =>
        dirs.remove(p); rmTree(p)
      })
      paths.foreach(dirs.add)
      lastRun.put(key, paths)
    }

    def cleanup(): Unit = dirs.forEach(p => rmTree(p))
  }

}
