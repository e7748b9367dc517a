package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one artifact store. Everything the engine derives once and then
  * serves many times — checkpointed frames, staged input dirs, trained
  * driver literals — lives in ONE map keyed by the artifact's name plus
  * its parameters (sf dir, k, mod, …). An artifact is an immutable
  * dataset built from its inputs and rebuilt when lost (D-Streams, SOSP
  * 2013); the store owns that contract so no operator re-grows it.
  *
  * Three lifetimes:
  *  - [[cached]] and [[session]]: values owned by a SparkSession (frames,
  *    and tuples of frames). The entry remembers its owner; a hit from a
  *    foreign or stopped session is removed before the rebuild starts
  *    and is never served. Keying by session instead would pin stopped
  *    sessions, and their checkpoint blocks, for the JVM lifetime.
  *  - [[staged]]: dirs that live for the JVM. The store creates each one
  *    with [[Fs.tmpDir]], deletes it if the build throws, and deletes
  *    all of them from its one shutdown hook, together with any dir
  *    handed to [[deleteAtExit]].
  *  - [[value]]: plain driver values (trained centroids, codebooks,
  *    stats) that live for the JVM.
  *
  * Builds run OUTSIDE the map's lock, one pending entry per key:
  * concurrent callers of a key wait for its one build (no orphaned
  * duplicate checkpoint), and a builder may read OTHER keys of the store
  * (`semGateState` reads the hierarchy it gates with). A failed build
  * leaves no entry: its waiters get its exception and the next call
  * rebuilds. A builder that reads its OWN key is a cycle and throws
  * instead of waiting on itself.
  *
  * Every lookup is counted by artifact name in [[Telemetry]], as a build
  * or a hit; a harness reports the counts per query attempt.
  *
  * [[built]] reads back the completed values of one artifact name — the
  * after-build oracles inline what their query trained, and only when
  * exactly one build exists.
  *
  * Nothing but the store's own hook may touch the store during shutdown:
  * the hook is registered while this object initialises (see [[Fs]]'s
  * note on hooks registered during class init).
  */
private[graft] object ArtifactCache {

  private final class Entry(val owner: SparkSession) {
    val result = new java.util.concurrent.CompletableFuture[Any]()
    val builder: Thread = Thread.currentThread()
    @volatile var dir: String = _
  }

  private val store = new java.util.concurrent.ConcurrentHashMap[(String, Any), Entry]()

  locally {
    sys.addShutdownHook(store.values.forEach(e => if (e.dir != null) Fs.rmTreeRetry(e.dir)))
  }

  /** A session-owned frame, served from an isolated checkpoint. */
  def cached(name: String, params: Any, s: SparkSession)(build: => DataFrame): DataFrame =
    session(name, params, s)(isolated(build))

  /** A session-owned value, stored exactly as `build` returns it. */
  def session[V](name: String, params: Any, s: SparkSession)(build: => V): V =
    memo((name, params), s)(_ => build)

  /** A plain value kept for the JVM. */
  def value[V](name: String, params: Any)(build: => V): V =
    memo((name, params), null)(_ => build)

  /** A staged dir kept for the JVM: `write` fills a fresh
    * `Fs.tmpDir(tag)`; returns its path.
    */
  def staged(name: String, params: Any, tag: String)(write: String => Unit): String =
    stagedWith(name, params, tag)(write)._1

  /** [[staged]] that also keeps what `write` returns about the dir. */
  def stagedWith[V](name: String, params: Any, tag: String)(
      write: String => V): (String, V) =
    memo((name, params), null) { e =>
      val p = Fs.tmpDir(tag)
      e.dir = p
      try (p, write(p)) catch { case t: Throwable => Fs.rmTree(p); throw t }
    }

  /** Hands `dir` to the store's shutdown hook: a dir that could not be
    * deleted now (a stopped stream's checkpoint still being written).
    */
  def deleteAtExit(dir: String): Unit = {
    val e = new Entry(null)
    e.dir = dir
    e.result.complete(dir)
    store.put(("ArtifactCache.deleteAtExit", dir), e)
  }

  /** The completed values built under `name`, by their parameters. */
  def built[V](name: String): Map[Any, V] = {
    val out = Map.newBuilder[Any, V]
    store.forEach { (k, e) =>
      if (k._1 == name && e.result.isDone && !e.result.isCompletedExceptionally)
        out += k._2 -> e.result.join().asInstanceOf[V]
    }
    out.result()
  }

  @annotation.tailrec
  private def memo[V](key: (String, Any), owner: SparkSession)(build: Entry => V): V = {
    val mine = new Entry(owner)
    val hit = store.putIfAbsent(key, mine)
    if (hit == null) {
      Telemetry.stored(key._1, built = true)
      val v = try build(mine) catch {
        case t: Throwable =>
          store.remove(key, mine)
          mine.result.completeExceptionally(t)
          throw t
      }
      mine.result.complete(v)
      v
    } else if (owner != null && ((hit.owner ne owner) || owner.sparkContext.isStopped)) {
      store.remove(key, hit)
      memo(key, owner)(build)
    } else {
      if ((hit.builder eq Thread.currentThread()) && !hit.result.isDone)
        throw new IllegalStateException(s"artifact $key reads itself while it builds")
      Telemetry.stored(key._1, built = false)
      try hit.result.get().asInstanceOf[V]
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }
  }

  /** `localCheckpoint` that is a PLAN boundary, not just a compute
    * boundary: the checkpoint's inherited origin-constraint set
    * (SPARK-39748) is dropped (stats kept). Artifacts are built from
    * wide expression derivations, and consumers plan joins/filters
    * above them — with inheritance, the constraint fixpoint re-grinds
    * the builder's trees on EVERY consumer plan (34 s of driver time
    * per q180 invocation before this; see GraftCheckpointBridge).
    */
  def isolated(df: DataFrame): DataFrame =
    org.apache.spark.sql.execution.GraftCheckpointBridge
      .dropOriginConstraints(df.localCheckpoint(true))
}
