package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Checkpoint-recovery contract: a stateful streaming query killed
  * mid-run and restarted on the SAME checkpoint + file sink resumes
  * where it stopped and delivers each result exactly once — the
  * property that makes every graft streaming operator production-safe
  * on a real cluster (executors die; the checkpoint + sink commit log
  * are the recovery story). The file sink's `_spark_metadata` commit
  * log is what a read sees, so a replayed batch can never surface
  * twice; the dedup STATE also survives the restart, so a duplicate
  * arriving after recovery is still suppressed by a key first seen
  * before the kill.
  */
/** Top-level so Spark can derive its encoder (a method-local case class
  * has no stable runtime name).
  */
case class RecoveryVec(vec_id: Long, xq: Array[Long])

/** Top-level for the same encoder reason: a staged erasure request. */
case class DelReq(vec_id: Long)

class RecoverySpec extends SparkSpec {
  import spark.implicits._

  /** Stage `batches` under `base/in` as a topic of one-file arrival
    * batches (the file-source batch order contract every recovery test
    * uses).
    */
  private def stageBatches[T: org.apache.spark.sql.Encoder](
      base: String, batches: Seq[Seq[T]]): Unit =
    graft.Streams.layout(s"$base/in", batches.map(_.toDS().coalesce(1)))

  /** Run 1 of the kill/restart pair: start the query, block until `n`
    * batches with input have COMMITTED, stop it — the kill point every
    * recovery pin uses (≥2 committed batches, so both offsets and state
    * provably cross the restart).
    */
  private def runUntilBatches(n: Int)(
      start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val latch = new java.util.concurrent.CountDownLatch(n)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) latch.countDown()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val q = start()
    try assert(latch.await(120, java.util.concurrent.TimeUnit.SECONDS),
      s"first run never committed $n batches")
    finally { q.stop(); spark.streams.removeListener(listener) }
  }

  test("kill + restart on the same checkpoint resumes exactly-once (state survives)") {
    val base = java.nio.file.Files.createTempDirectory("graft_recovery").toString
    val staged = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    // four single-file batches with duplicates straddling the kill
    // point (id 1 recurs in batch 3, id 2 in batch 2): whichever batch
    // the stop lands after, every duplicate that arrives post-restart
    // must be suppressed by state that crossed the restart — exactly-
    // once holds only if BOTH the offsets and the dedup state recover
    val batches = Seq(Seq(1L, 2L), Seq(2L, 3L), Seq(1L, 4L), Seq(4L, 5L))
    graft.Streams.layout(staged, batches.map(_.toDF("id").coalesce(1)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .dropDuplicates("id")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // run 1: stop after exactly two committed batches
    val twoBatches = new java.util.concurrent.CountDownLatch(2)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) twoBatches.countDown()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val q1 = start()
    try assert(twoBatches.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "first run never committed two batches")
    finally { q1.stop(); spark.streams.removeListener(listener) }

    // run 2: SAME checkpoint + sink — must pick up at batch 3
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out).as[Long].collect().sorted.toSeq
    // each id exactly once — no replay duplicates from the restart, and
    // the post-restart duplicates (1 in batch 3, seen in batch 1 before
    // the kill) suppressed by the RECOVERED state
    assert(got == Seq(1L, 2L, 3L, 4L, 5L), s"expected exactly-once ids, got $got")
    graft.Fs.rmTree(base)
  }

  test("windowed evicting reservoir (q281): kill + restart recovers state, " +
      "watermark, and revision continuity — compacted output = batch rank") {
    import StreamReservoir._
    val W = 1000000000L // 1 s windows
    def ed(win: Long, id: Long, draw: Long, tNs: Long) =
      EvDraw("a", win, id, draw, new java.sql.Timestamp(tNs / 1000000L))
    val base = java.nio.file.Files.createTempDirectory("graft_recovery_winres").toString
    val staged = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    // the kill lands after batch 1: window 0's post-restart emission
    // (rev 3) can only rank id 2's draw 90 if the pre-kill STATE
    // crossed the restart; batch 2 also opens window 5, whose
    // watermark closes (evicts) window 0 — recovery must restore the
    // watermark too, or the eviction timing would drift
    val batches = Seq(
      Seq(ed(0L, 1L, 50L, 100000000L), ed(0L, 2L, 90L, 200000000L)),
      Seq(ed(0L, 3L, 70L, 300000000L)),
      Seq(ed(0L, 4L, 80L, 400000000L), ed(5L, 5L, 10L, 5500000000L)),
      Seq(ed(5L, 6L, 40L, 5600000000L)))
    stageBatches(base, batches)
    val schema = Seq.empty[EvDraw].toDS().schema
    def start() = windowedReservoirEvicting(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged).as[EvDraw], 2, W)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val twoBatches = new java.util.concurrent.CountDownLatch(2)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) twoBatches.countDown()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val q1 = start()
    try assert(twoBatches.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "first run never committed two batches")
    finally { q1.stop(); spark.streams.removeListener(listener) }

    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val emits = spark.read.parquet(out).as[WinResEmit].collect().toSeq
    val compacted = emits.groupBy(e => (e.event_type, e.win))
      .map { case (key, v) => key -> v.maxBy(_.rev).ids.toSeq }
    assert(compacted == Map(("a", 0L) -> Seq(2L, 4L), ("a", 5L) -> Seq(6L, 5L)),
      s"compacted post-recovery output must equal the batch per-window rank: $compacted")
    // revision continuity: each key's revs are exactly 1..n with no
    // duplicate — a replayed batch surfacing twice would break this
    // (the file sink's commit log is the exactly-once half; the
    // recovered state's rev counter is the continuity half)
    for (((_, win), v) <- emits.groupBy(e => (e.event_type, e.win)))
      assert(v.map(_.rev).sorted == (1L to v.length).toSeq,
        s"window $win revs must be contiguous and duplicate-free: ${v.map(_.rev).sorted}")
    graft.Fs.rmTree(base)
  }

  // ---- the flagship streaming denorm join (O8/O9/O10 under restart) ----

  /** The denorm-join batches every backend's recovery pin shares: both
    * state families must cross the restart — batch 2 (post-kill) can
    * only fan out to c1/c2 if the LEFTS map survived, and batch 3's c3
    * can only join s2v1 if the RIGHT value survived. This is the
    * reference's core operational property (state restore from the
    * compacted changelog, `StreamDenormalize.java:63`) on our analog.
    */
  private val denormBatches = Seq(
    Seq(IndexRecord("s1", isLeft = true, "c1", "c1v1", 1),
      IndexRecord("s1", isLeft = true, "c2", "c2v1", 2)),
    Seq(IndexRecord("s2", isLeft = false, "s2", "s2v1", 3)),
    Seq(IndexRecord("s1", isLeft = false, "s1", "s1v1", 4)),
    Seq(IndexRecord("s2", isLeft = true, "c3", "c3v1", 5)))

  private val denormExpected = Set(
    JoinedRecord("c1", "c1v1", "s1v1", 4),
    JoinedRecord("c2", "c2v1", "s1v1", 4),
    JoinedRecord("c3", "c3v1", "s2v1", 5))

  private def denormRecoveryRun(base: String,
      core: org.apache.spark.sql.Dataset[IndexRecord] =>
        org.apache.spark.sql.Dataset[JoinedRecord]): Unit = {
    val staged = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    stageBatches(base, denormBatches)
    val schema = Seq.empty[IndexRecord].toDS().schema
    def start() = core(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged).as[IndexRecord])
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    runUntilBatches(2)(() => start())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out).as[JoinedRecord].collect().toSet
    assert(got == denormExpected,
      s"post-restart denorm output must prove both state families recovered: $got")
  }

  test("streaming denorm join (fMGWS, q08 core): kill + restart recovers " +
      "both the lefts map and the right value — fan-out and point-lookup " +
      "emissions cross the restart exactly once") {
    val base = java.nio.file.Files.createTempDirectory("graft_recovery_denorm").toString
    denormRecoveryRun(base, idx => StreamDenormalize.joined(idx, "inner"))
    graft.Fs.rmTree(base)
  }

  test("streaming denorm join (transformWithState/RocksDB, q50 core): " +
      "kill + restart recovers the ValueState right and the MapState lefts") {
    val rocksdb =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", rocksdb)
    try {
      val base = java.nio.file.Files.createTempDirectory("graft_recovery_tws").toString
      denormRecoveryRun(base, idx => TwsDenormalize.joined(idx, "inner"))
      graft.Fs.rmTree(base)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  // ---- the evicting LAG family (q272) ----

  test("evicting LAG (q272 core): kill + restart recovers each key's " +
      "previous-row state — a pair straddling the restart still emits") {
    import StreamSequence._
    def ev(uid: Long, tSec: Long, id: Long, typ: String) =
      EvW(uid, tSec * 1000000000L, id, typ, new java.sql.Timestamp(tSec * 1000L))
    val horizonNs = 10L * 1000000000L // 10 s
    val base = java.nio.file.Files.createTempDirectory("graft_recovery_lag").toString
    val staged = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    // u1's (click → purchase) pair STRADDLES the kill (state from batch
    // 1 must cross the restart); u2's batch-2 arrival has gap 19 s >
    // horizon (no transition — the guard, whether or not eviction
    // physically fired), then a 1 s follow-up that must chain from the
    // POST-restart state write
    stageBatches(base, Seq(
      Seq(ev(1L, 1L, 1L, "view"), ev(2L, 1L, 2L, "view")),
      Seq(ev(1L, 2L, 3L, "click")),
      Seq(ev(1L, 3L, 4L, "purchase"), ev(2L, 20L, 5L, "view")),
      Seq(ev(2L, 21L, 6L, "click"))))
    val schema = Seq.empty[EvW].toDS().schema
    def start() = transitionsEvicting(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged).as[EvW], horizonNs)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    runUntilBatches(2)(() => start())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out).as[Transition].collect().toSet
    assert(got == Set(
      Transition(1L, "view", "click"),
      Transition(1L, "click", "purchase"),
      Transition(2L, "view", "click")),
      s"LAG state must cross the restart (and the horizon guard must hold): $got")
    graft.Fs.rmTree(base)
  }

  test("evicting SCD2 (q273 core): kill + restart recovers the open " +
      "version — the post-restart arrival closes a version opened pre-kill") {
    import StreamSequence._
    def ev(tSec: Long, id: Long, v: Double) =
      EvVW(1L, tSec * 1000000000L, id, "upd", v, new java.sql.Timestamp(tSec * 1000L))
    val horizonNs = 10L * 1000000000L
    val base = java.nio.file.Files.createTempDirectory("graft_recovery_scd2").toString
    val staged = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    // version 2 (opened in batch 1, BEFORE the kill) is closed by batch
    // 2's post-restart arrival: its emission requires the recovered open
    // version — lost state would emit only version 1's closure
    stageBatches(base, Seq(
      Seq(ev(1L, 1L, 1.0)), Seq(ev(2L, 2L, 2.0)), Seq(ev(3L, 3L, 3.0))))
    val schema = Seq.empty[EvVW].toDS().schema
    def start() = closedVersionsEvicting(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged).as[EvVW], horizonNs)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    runUntilBatches(2)(() => start())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out).as[ClosedVersion].collect().toSet
    assert(got == Set(
      ClosedVersion(1L, 1L, "upd", 1.0, 1000000L, 2000000L),
      ClosedVersion(1L, 2L, "upd", 2.0, 2000000L, 3000000L)),
      s"the open version must cross the restart: $got")
    graft.Fs.rmTree(base)
  }

  // ---- the funnel FSM (q256) ----

  test("evicting funnel FSM (q256 core): kill + restart recovers the " +
      "stage machine — the post-restart purchase advances to stage 3") {
    import StreamSequence._
    def ev(uid: Long, tSec: Long, id: Long, typ: String) =
      EvW(uid, tSec * 1000000000L, id, typ, new java.sql.Timestamp(tSec * 1000L))
    val horizonNs = 100L * 1000000000L // no eviction in play: pure FSM recovery
    val base = java.nio.file.Files.createTempDirectory("graft_recovery_funnel").toString
    val staged = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    // view → click before the kill, purchase after: stage 3 can only be
    // reached from RECOVERED stage-2 state. Lost state would emit a
    // duplicate stage 0 and never reach 3 (purchase ≠ want(0)).
    stageBatches(base, Seq(
      Seq(ev(1L, 1L, 1L, "view")),
      Seq(ev(1L, 2L, 2L, "click")),
      Seq(ev(1L, 3L, 3L, "purchase"))))
    val schema = Seq.empty[EvW].toDS().schema
    def start() = funnelStagesEvicting(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged).as[EvW], horizonNs)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    runUntilBatches(2)(() => start())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out).as[StageReached].collect().toSeq
      .sortBy(_.stage).map(_.stage)
    assert(got == Seq(0, 1, 2, 3),
      s"each stage exactly once, 3 reached only via recovered FSM state: $got")
    graft.Fs.rmTree(base)
  }

  // ---- the top-k order statistic (q268) ----

  test("top-k leaderboard (q268 core): kill + restart recovers the order " +
      "statistic and its revision counter — the post-restart merge ranks " +
      "pre-kill members") {
    import StreamSequence._
    val base = java.nio.file.Files.createTempDirectory("graft_recovery_topk").toString
    val staged = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    // rev 3's leaderboard [doc1 (100), doc4 (80)] requires the recovered
    // state: lost state would emit rev 1 = [doc4] alone
    stageBatches(base, Seq(
      Seq(SrcDoc("a", 1L, 100L), SrcDoc("a", 2L, 50L)),
      Seq(SrcDoc("a", 3L, 75L)),
      Seq(SrcDoc("a", 4L, 80L))))
    val schema = Seq.empty[SrcDoc].toDS().schema
    def start() = topkLeaderboard(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged).as[SrcDoc], 2)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    runUntilBatches(2)(() => start())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val emits = spark.read.parquet(out).as[TopkEmit].collect().toSeq
    assert(emits.map(_.ver).sorted == Seq(1L, 2L, 3L),
      s"revision continuity across the restart: ${emits.map(_.ver).sorted}")
    val last = emits.maxBy(_.ver)
    assert(last.ids.toSeq == Seq(1L, 4L) && last.ncs.toSeq == Seq(100L, 80L),
      s"the compacted leaderboard must rank pre-kill members: " +
        s"${last.ids.toSeq} / ${last.ncs.toSeq}")
    graft.Fs.rmTree(base)
  }

  // ---- a Complete-mode counter grid (q284 core) ----

  test("Complete-mode covariance cell grid (q284 core): kill + restart " +
      "recovers the aggregation state — the converged grid equals the " +
      "batch grid though the restarted run never re-sees early batches") {
    val d = graft.operators.Similarity.covDims
    def vec(id: Long): RecoveryVec =
      RecoveryVec(id, Array.tabulate(d)(i => (id * 7 + i * 3) % 11 - 5))
    val batches = Seq(Seq(vec(1L), vec(2L)), Seq(vec(3L)), Seq(vec(4L)))
    val base = java.nio.file.Files.createTempDirectory("graft_recovery_cov").toString
    val staged = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    stageBatches(base, batches)
    val schema = Seq.empty[RecoveryVec].toDS().schema
    // Complete mode through foreachBatch: each trigger overwrites the
    // sink with the FULL current grid, so the final write after the
    // restart equals the converged state — provably including batches
    // the restarted run never re-read
    def start() = graft.operators.Similarity.covCells(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged))
      .writeStream.outputMode("complete")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("overwrite").parquet(out); ()
      }
      .option("checkpointLocation", ckpt)
      .start()

    runUntilBatches(2)(() => start())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    def cells(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("cast(pid as long) pid", "n", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = cells(spark.read.parquet(out))
    val want = cells(graft.operators.Similarity.covCells(
      batches.flatten.toDS().toDF()))
    assert(got == want,
      "the post-restart Complete-mode grid must equal the batch grid")
    graft.Fs.rmTree(base)
  }

  // ---- MID-BATCH kills: offset log written, commit log not ----
  //
  // Every pin above stops AFTER a committed batch. The other restart
  // path — the one where at-least-once side effects and state
  // idempotency actually bite — is a crash in the window between the
  // offset-log write (start of batch N) and the commit-log write (end
  // of batch N): Spark must re-execute batch N from the WAL offsets
  // against state version N−1. These pins reproduce that window's
  // exact on-disk state deterministically: run until the batch has
  // fully committed, then remove its commit-log entry — the checkpoint
  // is now byte-identical to a kill landing just before the commit
  // write (with the sink/side effects of attempt 1 already applied,
  // the hardest sub-case).

  /** Remove the checkpoint's LAST commit-log entry (and its Hadoop
    * checksum shadow), returning the batch id Spark will replay.
    */
  private def removeLastCommit(ckpt: String): Long = {
    val dir = new java.io.File(s"$ckpt/commits")
    val entries = dir.listFiles().filter(_.getName.forall(_.isDigit))
    assert(entries.nonEmpty, s"no commit-log entries under $dir")
    val last = entries.maxBy(_.getName.toLong)
    val id = last.getName.toLong
    assert(last.delete(), s"could not remove commit entry $last")
    val crc = new java.io.File(dir, s".$id.crc")
    if (crc.exists()) crc.delete()
    id
  }

  test("MID-BATCH kill (offset log written, commit log not): the denorm " +
      "join replays the uncommitted batch from the WAL and the file " +
      "sink's own commit log still delivers every row exactly once") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_recovery_midbatch").toString
    val staged = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    stageBatches(base, denormBatches)
    val schema = Seq.empty[IndexRecord].toDS().schema
    def start() = StreamDenormalize.joined(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged).as[IndexRecord],
      "inner")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // ≥3 committed batches, so the replayed one (the last commit) is
    // always an EMITTING batch — batch 2's 2-row fan-out or batch 3's
    // point-lookup — and a replay duplicate would be output-visible
    runUntilBatches(3)(() => start())
    val replayed = removeLastCommit(ckpt)
    assert(replayed >= 2L, s"kill point must land on an emitting batch: $replayed")

    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // collect as a Seq, not a Set: the failure mode under test is the
    // replayed batch's emissions surfacing TWICE
    val got = spark.read.parquet(out).as[JoinedRecord].collect().toSeq
    assert(got.size == denormExpected.size && got.toSet == denormExpected,
      s"WAL replay of batch $replayed must be exactly-once in the sink: $got")
    graft.Fs.rmTree(base)
  }

  test("MID-BATCH kill with foreachBatch side effects (q287 core): the " +
      "replayed erasure batch re-executes (at-least-once) but is a " +
      "FILE-IDENTITY no-op on the index — exactly-once net effect") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_recovery_livedel").toString
    val staged = s"$base/in"; val ckpt = s"$base/ckpt"; val idx = s"$base/idx"
    // a synthetic served-index working copy: bucket = vec_id % 10
    (1L to 100L).toDF("vec_id")
      .withColumn("bucket", (col("vec_id") % 10).cast("int"))
      .withColumn("payload", col("vec_id") * 7L)
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(idx)
    // request batches hit DISJOINT buckets (1,2 | 3,4 | 5,6 | 7,8), so
    // "the replayed batch's buckets were rewritten again" is separable
    // from later batches' legitimate rewrites; buckets 0/9 never dirty
    val reqBatches = Seq(Seq(1L, 2L), Seq(13L, 14L), Seq(25L, 26L), Seq(37L, 38L))
    stageBatches(base, reqBatches.map(_.map(DelReq)))
    val schema = Seq.empty[DelReq].toDS().schema
    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.Sessions.withMicroBatchConf(b.sparkSession) {
          graft.operators.Similarity.deleteIdsFromIndex(
            b.sparkSession, idx, b.localCheckpoint(true))
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .start()

    runUntilBatches(2)(() => start())
    val replayed = removeLastCommit(ckpt).toInt

    def snapshot(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(idx))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = snapshot()

    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // net effect exactly-once: every requested id gone, others intact
    val survivors = spark.read.parquet(idx)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(survivors == (1L to 100L).toSet -- reqBatches.flatten.toSet,
      s"survivors after WAL replay of delete batch $replayed: $survivors")
    // the replay found its ids already deleted → zero dirty buckets →
    // it must not have rewritten a single file (q287's no-op-replay
    // claim under an actual restart, not same-session re-invocation);
    // dynamic partition overwrite renames files, so identical
    // (path, size, mtime) proves no rewrite
    val after = snapshot()
    val replayBuckets = reqBatches(replayed).map(_ % 10).toSet ++ Seq(0L, 9L)
    for ((f, sig) <- before
        if replayBuckets.exists(b => f.contains(s"bucket=$b/")))
      assert(after.get(f).contains(sig),
        s"replayed batch $replayed must be a file-identity no-op: $f")
    graft.Fs.rmTree(base)
  }

  test("MID-BATCH kill through the CHAINED topology (q217/q246/q255 " +
      "shape): hop 1's replayed emissions re-enter hop 2's topic as " +
      "at-least-once duplicates, hop 2 is itself killed mid-batch, and " +
      "the final compacted topic still equals the batch three-way join") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_recovery_chain").toString
    val staged = s"$base/in"; val mid = s"$base/mid"
    val ckpt1 = s"$base/ckpt1"; val ckpt2 = s"$base/ckpt2"
    val out2 = s"$base/out2"
    stageBatches(base, denormBatches)
    new java.io.File(mid).mkdirs()

    // hop 2's RIGHTS (the nation-like dim), pre-seeded on the
    // intermediate topic with seqs below every left and mtimes in the
    // past — the rights-first load the chain stages in production
    val dims = Seq(
      IndexRecord("n1", isLeft = false, "n1", "N1", -2L),
      IndexRecord("n2", isLeft = false, "n2", "N2", -1L))
    dims.toDS().coalesce(1).write.mode("overwrite").parquet(s"$base/dim_stage")
    locally {
      val f = new java.io.File(s"$base/dim_stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(mid, "dims.parquet")
      java.nio.file.Files.move(f.toPath, dest.toPath)
      graft.Fs.stampMtime(dest, System.currentTimeMillis() - 3600000L)
    }

    // ---- hop 1: denorm join, emissions APPENDED to the mid topic via
    // foreachBatch — deliberately at-least-once (the Kafka-producer
    // analogy: no sink commit log), so a WAL replay genuinely lands
    // duplicate records on hop 2's input, the interplay under test
    val schema = Seq.empty[IndexRecord].toDS().schema
    def startHop1() = StreamDenormalize.joined(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged).as[IndexRecord],
      "inner")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[JoinedRecord], _: Long) =>
        graft.Sessions.withMicroBatchConf(b.sparkSession) {
          // re-key for hop 2: the hop-1 right value determines the
          // outer dim's FK (the c_nationkey-from-customer analogy)
          b.toDF().select(
            org.apache.spark.sql.functions.when(col("right") === "s1v1", "n1")
              .otherwise("n2").as("fk"),
            org.apache.spark.sql.functions.lit(true).as("isLeft"),
            col("outKey").as("key"),
            org.apache.spark.sql.functions
              .concat_ws("|", col("left"), col("right")).as("value"),
            col("seq"),
            org.apache.spark.sql.functions.lit(0L).as("tie"))
            .coalesce(1).write.mode("append").parquet(mid)
        }
        ()
      }
      .option("checkpointLocation", ckpt1)
      .outputMode("append").start()

    runUntilBatches(3)(() => startHop1())
    val replayed1 = removeLastCommit(ckpt1)
    // batches 2 (s1-right fan-out) and 3 (c3 point-lookup) both emit,
    // so whichever the kill lands on, the replay duplicates rows on mid
    assert(replayed1 >= 2L, s"kill must land on an emitting batch: $replayed1")
    val h1b = startHop1()
    try h1b.processAllAvailable() finally h1b.stop()

    // the replay REALLY duplicated hop-1 emissions on the mid topic
    // (at-least-once proven, not assumed)
    val midLefts = spark.read.parquet(mid).filter(col("isLeft"))
      .select(col("key"), col("seq")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(midLefts.size > midLefts.distinct.size,
      s"hop-1 replay must have appended duplicate emissions: $midLefts")

    // ---- hop 2: the duplicated topic joined to the dim, with its own
    // mid-batch kill — upserts must stay idempotent through BOTH joins
    def startHop2() = StreamDenormalize.joined(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(mid).as[IndexRecord],
      "inner")
      .writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", ckpt2)
      .outputMode("append").start()

    runUntilBatches(2)(() => startHop2())
    removeLastCommit(ckpt2)
    val h2b = startHop2()
    try h2b.processAllAvailable() finally h2b.stop()

    // final topic compaction (latest emission per key) == the batch
    // three-way join — duplicates collapse because a re-upserted left
    // re-emits the SAME (key, value, seq) record
    val got = spark.read.parquet(out2).as[JoinedRecord].collect()
      .groupBy(_.outKey).map { case (_, rs) => rs.maxBy(_.seq) }.toSet
    val want = Set(
      JoinedRecord("c1", "c1v1|s1v1", "N1", 4L),
      JoinedRecord("c2", "c2v1|s1v1", "N1", 4L),
      JoinedRecord("c3", "c3v1|s2v1", "N2", 5L))
    assert(got == want,
      s"compacted chain output after both kills must equal the batch join: $got")
    graft.Fs.rmTree(base)
  }
}
