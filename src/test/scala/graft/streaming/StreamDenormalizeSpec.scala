package graft.streaming

import graft.{Sessions, SparkSpec}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming-semantics test vectors from FIXTURES.md — the upsert +
  * re-emit behaviors that plain SQL joins can't capture.
  */
class StreamDenormalizeSpec extends SparkSpec {
  import spark.implicits._

  private var tableId = 0

  /** Feed batches of index records through the stateful join; each
    * element of `batches` becomes one micro-batch. Returns all emissions
    * in order.
    */
  private def run(joinType: String, strict: Boolean = true)(
      batches: Seq[IndexRecord]*): Seq[JoinedRecord] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IndexRecord]
    tableId += 1
    val name = s"sd_out_$tableId"
    val q = StreamDenormalize.joined(input.toDS(), joinType, strictBatchDedup = strict)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).as[JoinedRecord].collect().sortBy(_.seq).toSeq
  }

  private def L(fk: String, key: String, v: String, seq: Long) =
    IndexRecord(fk, isLeft = true, key, v, seq)
  private def R(fk: String, v: String, seq: Long) =
    IndexRecord(fk, isLeft = false, fk, v, seq)

  test("indexStream drops null-FK and null-key records before the union") {
    import org.apache.spark.sql.functions._
    // schema-on-read JSON yields null for absent fields: a left missing
    // its joinOn field, a left missing its primary key, a right missing
    // its key — none may reach the stateful join (Kafka Streams drops
    // null-key records at the repartition; a shared "null" FK group
    // would otherwise pair unrelated records)
    val left = Seq((Some("c1"), Some("s1"), "ok"), (None, Some("s1"), "noKey"),
      (Some("c2"), None, "noFk")).toDF("id", "story", "text")
    val right = Seq((Some("s1"), "rOk"), (None, "rNoKey")).toDF("id", "body")
    val idx = StreamDenormalize.indexStream(
      left, col("id"), col("story"), lit(1L),
      right, col("id"), lit(2L)).collect()
    assert(idx.count(_.isLeft) == 1 && idx.filter(_.isLeft).head.key == "c1")
    assert(idx.count(!_.isLeft) == 1 && idx.filterNot(_.isLeft).head.fk == "s1")
  }

  test("scenario 1: left then right (separate batches) → right arrival re-emits") {
    val out = run("inner")(Seq(L("s1", "c1", "c1v1", 1)), Seq(R("s1", "s1v1", 2)))
    assert(out == Seq(JoinedRecord("c1", "c1v1", "s1v1", 2)))
  }

  test("scenario 2: right then left → left arrival point-lookup emits immediately") {
    val out = run("inner")(Seq(R("s1", "s1v1", 1)), Seq(L("s1", "c1", "c1v1", 2)))
    assert(out == Seq(JoinedRecord("c1", "c1v1", "s1v1", 2)))
  }

  test("scenario 3: right update re-emits ALL stored lefts with new right body") {
    val out = run("inner")(
      Seq(R("s1", "s1v1", 1)),
      Seq(L("s1", "c1", "c1v1", 2), L("s1", "c2", "c2v1", 3)),
      Seq(R("s1", "s1v2", 4)))
    assert(out.take(2).toSet == Set(
      JoinedRecord("c1", "c1v1", "s1v1", 2), JoinedRecord("c2", "c2v1", "s1v1", 3)))
    assert(out.drop(2).toSet == Set(
      JoinedRecord("c1", "c1v1", "s1v2", 4), JoinedRecord("c2", "c2v1", "s1v2", 4)))
  }

  test("scenario 4: left update re-emits with stored right; latest left wins") {
    val out = run("inner")(
      Seq(R("s1", "s1v1", 1), L("s1", "c1", "c1v1", 2)),
      Seq(L("s1", "c1", "c1v2", 3)))
    assert(out == Seq(
      JoinedRecord("c1", "c1v1", "s1v1", 2),
      JoinedRecord("c1", "c1v2", "s1v1", 3)))
  }

  test("scenario 5: duplicate left in same batch → one emission (O14)") {
    val out = run("inner")(
      Seq(R("s1", "s1v1", 1)),
      Seq(L("s1", "c1", "c1v1", 2), L("s1", "c1", "c1v2", 3)))
    // first version emits, second suppressed by in-batch dedup — but
    // state keeps the latest value, as the compacted store would
    assert(out == Seq(JoinedRecord("c1", "c1v1", "s1v1", 2)))
    // …and the next right update reveals the stored latest left
    val out2 = run("inner")(
      Seq(R("s1", "s1v1", 1)),
      Seq(L("s1", "c1", "c1v1", 2), L("s1", "c1", "c1v2", 3)),
      Seq(R("s1", "s1v2", 4)))
    assert(out2.last == JoinedRecord("c1", "c1v2", "s1v2", 4))
  }

  test("reference parity quirk: left-miss marks the batch key, blocking same-batch right re-emit") {
    // JoinTransformer.java:142 runs ensureJoinUniqueInBatch BEFORE the
    // lookup, so a left that misses still claims its key for the batch;
    // a right arriving later in the SAME batch skips it (:178)
    val out = run("inner")(Seq(L("s1", "c1", "c1v1", 1), R("s1", "s1v1", 2)))
    assert(out.isEmpty)
    // the join surfaces on the next right update (new batch)
    val out2 = run("inner")(
      Seq(L("s1", "c1", "c1v1", 1), R("s1", "s1v1", 2)), Seq(R("s1", "s1v2", 3)))
    assert(out2 == Seq(JoinedRecord("c1", "c1v1", "s1v2", 3)))
  }

  test("relaxed dedup: same-batch left-then-right emits (no mark-on-miss drop window)") {
    val out = run("inner", strict = false)(Seq(L("s1", "c1", "c1v1", 1), R("s1", "s1v1", 2)))
    assert(out == Seq(JoinedRecord("c1", "c1v1", "s1v1", 2)))
    // duplicate suppression still holds for actual emissions
    val out2 = run("inner", strict = false)(
      Seq(R("s1", "s1v1", 1), L("s1", "c1", "c1v1", 2), L("s1", "c1", "c1v2", 3)))
    assert(out2 == Seq(JoinedRecord("c1", "c1v1", "s1v1", 2)))
  }

  test("right-outer emits null+right when lefts exist but were all batch-suppressed (matched.isEmpty parity)") {
    // left(c1) misses (no right, right_outer doesn't emit left+null) but
    // claims its key; the same-batch right scan matches nothing →
    // reference emits the null+right row (JoinTransformer.java:192-196)
    val out = run("right_outer")(Seq(L("s1", "c1", "c1v1", 1), R("s1", "s1v1", 2)))
    assert(out == Seq(JoinedRecord(null, null, "s1v1", 2)))
  }

  test("scenario 6: unmatched sides under the four join variants (O11)") {
    val batches = Seq(Seq(L("s1", "c1", "c1v1", 1)), Seq(R("s2", "s2v1", 2)))
    assert(run("inner")(batches: _*).isEmpty)
    assert(run("left_outer")(batches: _*) == Seq(JoinedRecord("c1", "c1v1", null, 1)))
    assert(run("right_outer")(batches: _*) == Seq(JoinedRecord(null, null, "s2v1", 2)))
    assert(run("full_outer")(batches: _*).toSet == Set(
      JoinedRecord("c1", "c1v1", null, 1), JoinedRecord(null, null, "s2v1", 2)))
  }

  test("invalid join type is rejected") {
    intercept[IllegalArgumentException] {
      StreamDenormalize.joined(spark.emptyDataset[IndexRecord], "cross")
    }
  }

  test("reference parity: re-keyed left leaves a ghost under the old FK (composite store key)") {
    // the reference's store key is [fk-digest][left-digest]; re-keying a
    // left to a new FK writes a NEW composite key and never tombstones
    // the old one (StreamDenormalize.java:43-53 — selectKey only), so a
    // right update under the old FK still re-emits the stale pair
    val out = run("inner")(
      Seq(L("f1", "a", "a-at-f1", 1)),
      Seq(L("f2", "a", "a-at-f2", 2)),
      Seq(R("f1", "r1", 3)),
      Seq(R("f2", "r2", 4)))
    assert(out == Seq(
      JoinedRecord("a", "a-at-f1", "r1", 3),
      JoinedRecord("a", "a-at-f2", "r2", 4)))
  }

  test("property: final emitted state equals batch join of latest-per-key snapshots") {
    // random update sequence, one op per micro-batch (stream-time
    // advances per record in the reference); invariant from SURVEY.md §5.
    // Left keys are scoped per FK: the store key is the composite
    // (fk, leftKey), so an unscoped key would alias across FKs (see the
    // ghost-entry test above).
    val rnd = new scala.util.Random(42)
    val fks = Seq("f1", "f2", "f3")
    val letters = Seq("a", "b", "c", "d")
    val ops = (1 to 40).map { seq =>
      val fk = fks(rnd.nextInt(3))
      if (rnd.nextBoolean())
        L(fk, s"$fk-${letters(rnd.nextInt(4))}", s"lv$seq", seq.toLong)
      else R(fk, s"rv$seq", seq.toLong)
    }
    val emissions = run("inner")(ops.map(Seq(_)): _*)
    val finalPerLeft = emissions.filter(_.outKey != null)
      .groupBy(_.outKey).map { case (k, es) => k -> es.maxBy(_.seq) }
    // expected: plain-Scala join of latest-per-key snapshots
    val latestLeft = ops.filter(_.isLeft).groupBy(_.key).map { case (k, os) => k -> os.maxBy(_.seq) }
    val latestRight = ops.filterNot(_.isLeft).groupBy(_.fk).map { case (k, os) => k -> os.maxBy(_.seq) }
    val expected = latestLeft.collect {
      case (k, l) if latestRight.contains(l.fk) => k -> ((l.value, latestRight(l.fk).value))
    }
    assert(finalPerLeft.keySet == expected.keySet)
    for ((k, e) <- finalPerLeft)
      assert((e.left, e.right) == expected(k), s"key $k")
  }

  test("hot-FK fan-out stress (O10 worst case, r16 verdict item 5): one " +
      "right update re-emits an entire batch's worth of stored lefts " +
      "exactly once, and state stays O(FK groups), not O(emissions)") {
    // the reference's documented worst case (`JoinTransformer.java:168-186`,
    // a right update prefix-scans ALL stored lefts): one FK holds 5,000
    // lefts — a full micro-batch concentrated on one key — then a single
    // right record triggers the amplification. Pins the three bounds the
    // skew story rests on: exact fan-out (each left exactly once, the
    // O14 in-batch dedup under maximal pressure), completion of the
    // 1→5000 batch, and state CARDINALITY staying at the group count (2
    // FKs) — the emissions are streamed out, never stored
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val n = 5000
    val input = MemoryStream[IndexRecord]
    val q = StreamDenormalize.joined(input.toDS(), "inner")
      .writeStream.format("memory").queryName("sd_hot").outputMode("append").start()
    val (fanoutMs, stateRows) = try {
      input.addData((1 to n).map(i => L("hot", f"c$i%05d", s"v$i", i.toLong)) :+
        L("cold", "x1", "xv", 900000L))
      q.processAllAvailable()
      input.addData(Seq(R("hot", "rv", 1000000L)))
      q.processAllAvailable()
      val p = q.recentProgress.filter(_.numInputRows == 1).last
      (p.durationMs.get("triggerExecution").longValue(),
        p.stateOperators.head.numRowsTotal)
    } finally q.stop()
    val out = spark.table("sd_hot").as[JoinedRecord].collect()
    assert(out.length == n, s"exact fan-out: expected $n emissions, got ${out.length}")
    assert(out.map(_.outKey).distinct.length == n, "each stored left exactly once")
    assert(out.forall(r => r.right == "rv" && r.seq == 1000000L))
    assert(stateRows == 2L,
      s"state must hold one row per FK group (hot + cold), got $stateRows")
    info(s"measured bound: 1 right -> $n emissions in one batch, " +
      s"${fanoutMs} ms trigger, state rows = $stateRows")
  }

  /** Asserts that Janino compiled at most one class while batches 3–8
    * of an eight-batch feed ran through `join` (batches 1–2 fill the
    * code cache). Every batch has the same shape: new lefts, an updated
    * left and a right update per FK, so each batch reads and writes
    * existing state.
    */
  private def assertCompilesOnce(
      join: Dataset[IndexRecord] => Dataset[JoinedRecord]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IndexRecord]
    tableId += 1
    val q = join(input.toDS()).writeStream.format("memory")
      .queryName(s"sd_out_$tableId").outputMode("append").start()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var before = 0L
    val n = try {
      for (b <- 1 to 8) {
        if (b == 3) before = compiles
        input.addData((0 until 4).flatMap { f =>
          val seq = b * 100L + f * 10
          Seq(L(s"s$f", s"c$f-$b", s"new$b", seq), L(s"s$f", s"c$f-1", s"upd$b", seq + 1),
            R(s"s$f", s"r$b", seq + 2))
        })
        q.processAllAvailable()
      }
      compiles - before
    } finally q.stop()
    info(s"$n classes compiled over batches 3-8")
    assert(n <= 1, s"$n classes compiled over batches 3-8")
  }

  test("the fMGWS join compiles no class per micro-batch once warm") {
    assertCompilesOnce(StreamDenormalize.joined(_, "inner"))
  }

  test("the transformWithState join compiles no class per micro-batch once warm") {
    Sessions.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      assertCompilesOnce(TwsDenormalize.joined(_, "inner"))
    }
  }
}

/** The q08 harness shape at test scale: a FILE streaming source feeding
  * the stateful join across many micro-batches — state carry-over,
  * cross-batch re-emit, and convergence to the relational answer under
  * an arbitrary file-to-batch partitioning of the input.
  */
class FileSourceStreamSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  private val dir = "/root/testdata/sf0.001"

  test("multi-batch file-source feed converges to the batch inner join") {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val cust = graft.Tables.load(spark, dir, "customer")
    val idx = StreamDenormalize.indexStream(
      ev, col("event_id"), col("user_id"), col("event_id") + lit(1000000000L),
      cust, col("c_custkey"), col("c_custkey"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_fss").toString
    idx.repartition(6).write.mode("overwrite").parquet(tmp)
    val input = spark.readStream.schema(idx.schema)
      .option("maxFilesPerTrigger", "1") // force ≥6 micro-batches
      .parquet(tmp).as[IndexRecord]
    val q = StreamDenormalize.joined(input, "inner")
      .writeStream.format("memory").queryName("fss_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("fss_out").as[JoinedRecord].collect()
      .map(r => r.outKey).toSet
    val batch = ev.join(cust, ev("user_id") === cust("c_custkey"))
      .select(col("event_id").cast("string")).as[String].collect().toSet
    // every joined left is emitted exactly once across batches: uniques
    // can't double-emit (in-batch dedup within, single right per FK across)
    assert(streamed == batch)
    val emissions = spark.table("fss_out").as[JoinedRecord].collect().map(_.outKey)
    assert(emissions.length == emissions.distinct.length, "duplicate emissions")
  }
}

/** Multi-hop (q216/q217): a middle-table update must re-emit through
  * BOTH chained joins — the v2 fan-out from hop 1 changes hop 2's
  * join key, so the final row's nation is only right if the update
  * propagated end-to-end (hop 1's prefix-scan re-emission riding
  * through hop 2's point lookup).
  */
class MultiHopStreamSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val dir = "/root/testdata/sf0.001"

  test("middle-table update wave re-emits through both hops; streamed == batch") {
    import spark.implicits._
    val got = graft.SparkEntry.multiHopStreamDenorm(spark, dir).collect()
    // exactly one final row per event — the compacted output topic
    assert(got.map(_.get(0)).distinct.length == got.length)
    val batch = graft.SparkEntry.multiHopDenorm(spark, dir).collect()
    assert(got.toSet == batch.toSet)
    // every moved customer's event shows the UPDATED segment AND the
    // moved-to nation's NAME — v2 propagated through hop 2, not just hop 1
    val nation = graft.Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name")).as[(Int, String)].collect().toMap
    val origNat = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey")).as[(Long, Int)].collect().toMap
    val moved = got.filter(r => !r.isNullAt(1) && r.getLong(1) % 10 == 0)
    assert(moved.nonEmpty, "fixture has no moved-customer events")
    for (r <- moved) {
      val uid = r.getLong(1); val nk = r.getInt(4)
      assert(r.getString(5) == "MOVED")
      assert(nk == (origNat(uid) + 7) % 25, s"user $uid nationkey not moved")
      assert(r.getString(6) == nation(nk), s"user $uid nation name stale")
    }
  }

  test("q255: left-outer FIRST hop — absent customers keep the null arm, " +
      "late customers flip null→matched through both hops") {
    val got = graft.SparkEntry.multiHopStreamOuterHop1(spark, dir).collect()
    // one compacted row per event — the null arm never duplicates the
    // matched arm on the final topic
    assert(got.map(_.get(0)).distinct.length == got.length)
    // expected: the three-way LEFT join over latest-per-key of the
    // thinned + late middle table (the oracle's construction)
    val ev = graft.Tables.events(spark, dir)
      .filter(col("event_id").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val isMoved = col("c_custkey") % 7 =!= 0 && col("c_custkey") % 10 === 0
    val latest = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      .filter(col("c_custkey") % 3 =!= 0)
      .withColumn("c_nationkey",
        when(isMoved, (col("c_nationkey") + 7) % 25).otherwise(col("c_nationkey")))
      .withColumn("c_mktsegment",
        when(isMoved, lit("MOVED")).otherwise(col("c_mktsegment")))
    val nat = graft.Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val exp = ev.join(latest, ev("user_id") === latest("c_custkey"), "left")
      .join(nat, col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("c_nationkey"), col("c_mktsegment"), col("n_name"))
      .collect()
    assert(got.toSet == exp.toSet)
    // all three middle-table classes are non-vacuously exercised:
    // absent (%3) → null arm end-to-end; late (%7 of survivors) →
    // matched FINAL state even though their right was absent when the
    // left arrived (only the right-arrival re-emission through hop 2
    // can produce this); moved → covered by the q217 spec above
    val absent = got.filter(_.isNullAt(5))
    assert(absent.nonEmpty, "fixture has no null-arm events")
    assert(absent.forall(_.isNullAt(6)), "null customer arm must carry null nation")
    val late = got.filter(r => !r.isNullAt(1) &&
      r.getLong(1) % 3 != 0 && r.getLong(1) % 7 == 0)
    assert(late.nonEmpty, "fixture has no late-customer events")
    assert(late.forall(r => !r.isNullAt(6)),
      "late customers must end matched — the null→matched flip rode both hops")
  }

}
