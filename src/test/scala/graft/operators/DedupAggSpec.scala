package graft.operators

import graft.SparkSpec

class DedupAggSpec extends SparkSpec {
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("custom MinHash Aggregator equals the 16-column min() form") {
    val a = Dedup.minhashSignatures(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(i => r.getLong(i)).toSeq).toMap
    val b = Dedup.minhashSignaturesAgg(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(i => r.getLong(i)).toSeq).toMap
    assert(a.keySet == b.keySet)
    assert(a.forall { case (k, v) => b(k) == v })
  }

  test("streaming ingest near-dedup (q93): kept set = claim-on-arrival rule; both blocking paths exercised") {
    import org.apache.spark.sql.functions._
    val nBatches = 4
    val kept = Dedup.streamIngestNearDup(spark, dir, nBatches)
      .as[Long].collect().toSet
    // batch recompute of the declared contract: kept ⇔ no smaller
    // doc_id shares an LSH band (claim-on-arrival, so blockers include
    // dropped docs)
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val bands = Dedup.bandedDocs(docs)
    val blocked = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id")).distinct().as[Long].collect().toSet
    val allIds = docs.select(col("doc_id")).as[Long].collect().toSet
    assert(kept == allIds -- blocked)
    assert(blocked.nonEmpty, "fixture has no near-dups — test vacuous")
    // the fixture must exercise BOTH paths: a doc blocked only by an
    // earlier BATCH (its earliest band-mate in an earlier id range) and
    // a doc blocked within its OWN batch
    val maxId = allIds.max
    val chunk = maxId / nBatches + 1
    val earliestBlocker = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("b.doc_id") < col("a.doc_id"))
      .groupBy(col("a.doc_id").as("d")).agg(min(col("b.doc_id")).as("e"))
      .as[(Long, Long)].collect()
    assert(earliestBlocker.exists { case (d, e) => d / chunk != e / chunk },
      "no cross-batch blocking in fixture")
    assert(earliestBlocker.exists { case (d, e) => d / chunk == e / chunk },
      "no intra-batch blocking in fixture")
    // determinism: a second full run (fresh index/output dirs) agrees
    val again = Dedup.streamIngestNearDup(spark, dir, nBatches)
      .as[Long].collect().toSet
    assert(again == kept)
  }

  test("ingestStep semantics: intra-batch, cross-batch, claim-on-arrival, shingle-less") {
    import org.apache.spark.sql.functions._
    val longA = (1 to 30).map(i => s"tok$i").mkString(" ")   // distinct text A
    val longB = (1 to 30).map(i => s"other$i").mkString(" ") // distinct text B
    val batch1 = Seq(
      (1L, longA),  // first claimant of A's bands → kept
      (2L, longA),  // same text, same batch → blocked intra-batch
      (3L, "xx")    // one token → shingle-less → always kept
    ).toDF("doc_id", "text")
    val (kept1, claims1, _) = Dedup.ingestStep(batch1, None)
    assert(kept1.as[Long].collect().toSet == Set(1L, 3L))
    // claims cover every SHINGLED arrival, kept or dropped
    assert(claims1.select("doc_id").distinct().as[Long].collect().toSet == Set(1L, 2L))
    val batch2 = Seq(
      (4L, longA),  // blocked by the index (doc 1's claims)
      (5L, longB)   // fresh text → kept
    ).toDF("doc_id", "text")
    val (kept2, _, _) = Dedup.ingestStep(batch2, Some(claims1))
    assert(kept2.as[Long].collect().toSet == Set(5L))
    // claim-on-arrival: doc 2 was DROPPED, but its claims still block —
    // feed an index holding ONLY doc 2's bands
    val only2 = claims1.filter(col("doc_id") === 2L)
    val (kept3, _, _) = Dedup.ingestStep(
      Seq((6L, longA)).toDF("doc_id", "text"), Some(only2))
    assert(kept3.as[Long].collect().isEmpty)
  }

  test("bucket-pruned probe is lossless vs an unpruned probe on random corpora") {
    // the pruning-correctness claim attacked directly: for random docs
    // (small vocab → forced band collisions, plus shingle-less shorts)
    // split into sequential batches, the kept set from ingestStep's
    // bhb-pruned semi-join must equal the kept set computed against the
    // FULL accumulated index with no bucket restriction. Seeded — three
    // deterministic rounds, not a flaky sample.
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    for (round <- 1 to 3) {
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      val docs = (1L to 60L).map { i =>
        // ~30% planted duplicates (reuse an earlier text → shared bands,
        // the blocking signal); fresh texts may be < 3 tokens, hitting
        // the shingle-less always-kept path
        val t = if (texts.nonEmpty && rnd.nextDouble() < 0.3)
            texts(rnd.nextInt(texts.size))
          else {
            val n = 1 + rnd.nextInt(12)
            Seq.fill(n)(s"w${rnd.nextInt(18)}").mkString(" ")
          }
        texts += t
        (i, t)
      }
      val cut1 = 20 + rnd.nextInt(10)
      val cut2 = 40 + rnd.nextInt(10)
      val batches = Seq(docs.filter(_._1 <= cut1),
        docs.filter(d => d._1 > cut1 && d._1 <= cut2),
        docs.filter(_._1 > cut2)).map(_.toDF("doc_id", "text"))
      var index: Option[org.apache.spark.sql.DataFrame] = None
      var keptPruned = Set.empty[Long]
      var keptFull = Set.empty[Long]
      // claims stay live as the accumulated index across the round's
      // batches — their checkpoint blocks are freed only at round end
      // (the operator itself can free per-batch because it persists
      // claims to parquet first)
      val live = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.rdd.RDD[_]]
      for (b <- batches) {
        val (kept, claims, blocks) = Dedup.ingestStep(b, index)
        keptPruned ++= kept.as[Long].collect()
        // unpruned re-derivation of the same batch against the same
        // pre-batch index: plain (band, bh) semi-join, no bhb filter
        val bands = Dedup.bandedDocs(b)
        val intra = bands.join(bands.groupBy(col("band"), col("bh"))
            .agg(min(col("doc_id")).as("first_id")), Seq("band", "bh"))
          .filter(col("doc_id") > col("first_id")).select(col("doc_id"))
        val blocked = index.fold(intra)(idx => intra.unionAll(
            bands.join(idx, Seq("band", "bh"), "left_semi").select(col("doc_id"))))
          .distinct()
        keptFull ++= b.select(col("doc_id"))
          .join(blocked, Seq("doc_id"), "left_anti").as[Long].collect()
        index = Some(index.fold(claims)(_.unionAll(claims)))
        live += blocks
      }
      assert(keptPruned == keptFull, s"round $round: pruning changed the kept set")
      assert(keptPruned.size < 60, s"round $round vacuous: nothing blocked")
      live.foreach(_.unpersist(blocking = false))
    }
  }

  test("compactBandIndex folds multi-file buckets to one file; rows unchanged") {
    import org.apache.spark.sql.functions._
    val idxDir = graft.Fs.tmpDir("graft_compact_idx")
    try {
      // two appends → two files per touched bucket (the per-batch write
      // shape), crossing the minFiles=2 threshold for every bucket
      for (base <- Seq(0L, 100L)) {
        val docs = (1L to 20L)
          .map(i => (base + i, (1 to 30).map(j => s"c${base + i}-$j").mkString(" ")))
          .toDF("doc_id", "text")
        val (_, claims, blocks) = Dedup.ingestStep(docs, None)
        claims.repartition(col("bhb"))
          .write.mode("append").partitionBy("bhb").parquet(idxDir)
        blocks.unpersist(blocking = false)
      }
      def rows() = spark.read.parquet(idxDir)
        .select("doc_id", "band", "bh", "bhb").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
      def bucketFiles() = new java.io.File(idxDir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bhb="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet")))
      val before = rows()
      assert(bucketFiles().exists(_ >= 2), "fixture vacuous: no multi-file bucket")
      Dedup.compactBandIndex(spark, idxDir, minFiles = 2)
      assert(bucketFiles().forall(_ == 1),
        s"buckets not folded to one file: ${bucketFiles().toSeq}")
      assert(rows() == before, "compaction changed the index contents")
    } finally graft.Fs.rmTree(idxDir)
  }
}

class ClusterCacheSpec extends SparkSpec {
  test("stale foreign-session entries are evicted on the guard miss, not left pinned") {
    // a frame owned by a DIFFERENT session, put through the store under
    // dedupClusters' key, where the rebuild fails (nonexistent dir): the
    // guard must evict the stale entry even though the rebuild throws
    val other = spark.newSession()
    val key = ("/nonexistent/cluster-cache-dir", 0.97)
    graft.ArtifactCache.session("Dedup.clusters", key, other)(other.range(1).toDF())
    assert(graft.ArtifactCache.built[Any]("Dedup.clusters").contains(key))
    intercept[Exception] {
      Dedup.dedupClusters(spark, key._1, key._2)
    }
    assert(!graft.ArtifactCache.built[Any]("Dedup.clusters").contains(key))
  }
}

class OverlappedJobsSpec extends SparkSpec {
  test("two failing bodies surface both failures: main's first, the side's suppressed") {
    val sc = spark.sparkContext
    sc.setJobDescription("batch = 7")
    sc.setLocalProperty(graft.Telemetry.Tag, "q266#1")
    @volatile var side: (String, String) = null
    val e = try intercept[IllegalStateException] {
      Dedup.overlapped {
        side = (sc.getLocalProperty("spark.job.description"),
          sc.getLocalProperty(graft.Telemetry.Tag))
        throw new IllegalArgumentException("claims append failed")
      } {
        throw new IllegalStateException("report write failed")
      }
    } finally { sc.setJobDescription(null); sc.setLocalProperty(graft.Telemetry.Tag, null) }
    assert(e.getMessage == "report write failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("claims append failed"))
    assert(side == (("batch = 7", "q266#1")),
      "the side body lost the caller's job description or attempt tag")
  }
}

class PrefixFilterSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  private val dir = "/root/testdata/sf0.01"

  test("PPJoin prefix+size+positional filters are lossless vs brute force") {
    // brute force: every pair sharing ANY shingle, exact Jaccard filter
    val sh = Dedup.docShingles(graft.Tables.load(spark, dir, "documents"), col("text"))
    val inv = sh.select(col("doc_id"), col("n_sh"), explode(col("shingles")).as("s"))
    val brute = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).cast("double").as("inter"))
      .filter(col("inter") / (col("na") + col("nb") - col("inter")) >= 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = Dedup.exactNearDuplicates(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered == brute)
    assert(brute.nonEmpty) // sanity: the corpus has planted near-dups
  }
}

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import java.sql.Timestamp

  test("streaming dropDuplicates with watermark (O21 streaming analog)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val q = input.toDS().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("id")
      .writeStream.format("memory").queryName("dd_out").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
      input.addData((t0, 1L), (t0, 1L), (t0, 2L))
      q.processAllAvailable()
      assert(spark.table("dd_out").count() == 2) // in-batch dup suppressed
      input.addData((Timestamp.valueOf("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable()
      assert(spark.table("dd_out").count() == 2) // cross-batch dup suppressed
      input.addData((Timestamp.valueOf("2024-01-01 10:06:00"), 3L))
      q.processAllAvailable()
      assert(spark.table("dd_out").count() == 3) // new id passes
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: dedups within the delay, evicts beyond it") {
    // the q78 bounded-state contract, both directions: a duplicate
    // INSIDE the delay is suppressed; after the watermark passes a
    // key's expiry the state is evicted and the key re-emits — the
    // honest trade a sliding seen-set makes vs q60's unbounded one
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val q = input.toDS().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.format("memory").queryName("ddw_out").outputMode("append").start()
    try {
      input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2024-01-01 10:00:00"), 2L))
      q.processAllAvailable()
      assert(spark.table("ddw_out").count() == 2)
      // within the delay: suppressed
      input.addData((Timestamp.valueOf("2024-01-01 10:05:00"), 1L))
      q.processAllAvailable()
      assert(spark.table("ddw_out").count() == 2)
      // advance the watermark past id=1's expiry (10:00 + 10 min):
      // 10:30 - 10 min = 10:20 > 10:10 → state evicted
      input.addData((Timestamp.valueOf("2024-01-01 10:30:00"), 9L))
      q.processAllAvailable()
      // beyond the delay: the SAME id emits again from empty state
      input.addData((Timestamp.valueOf("2024-01-01 10:31:00"), 1L))
      q.processAllAvailable()
      val ids = spark.table("ddw_out").select("id").as[Long].collect().toSeq
      assert(ids.count(_ == 1L) == 2, ids.toString)
      assert(spark.table("ddw_out").count() == 4)
    } finally q.stop()
  }
}

class SubstringDedupSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private val L = 10

  test("interval sweep equals brute-force position coverage; exact dups fully covered") {
    val got = Dedup.substringDedup(spark, dir, L)
      .select("doc_id", "n_tokens", "dup_tokens")
      .as[(Long, Int, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // brute force: explode every duplicated window into its covered
    // token positions, count distinct positions per doc
    val df = graft.Tables.load(spark, dir, "documents")
    val win = df.withColumn("__toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("__toks")) >= L)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("__toks")) - L),
          i => concat_ws(" ", slice(col("__toks"), i + lit(1), lit(L)))))
        .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), graft.functions.md5_long(col("gram")).as("h"))
    val dupH = win.groupBy("h").count().filter(col("count") > 1).select("h")
    val bf = win.join(dupH, "h")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + L - 1)).as("p"))
      .distinct().groupBy("doc_id").agg(count(lit(1)).as("bf_dup"))
      .as[(Long, Long)].collect().toMap
    assert(got.nonEmpty)
    for ((id, (n, dup)) <- got) {
      assert(dup == bf.getOrElse(id, 0L), s"doc $id sweep=$dup bf=${bf.getOrElse(id, 0L)}")
      assert(dup >= 0 && dup <= n)
    }
    // the fixture's planted near-dups share runs >= L tokens → real signal
    // (no exact-duplicate docs exist at sf0.001, so coverage is partial)
    assert(got.values.count(_._2 > 0) > 10)
    assert(got.values.exists { case (n, dup) => dup > 0 && dup < n })
  }
}

class DecontaminateSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("13-gram contamination flags match a brute-force string check") {
    val got = Dedup.decontaminate(spark, dir)
      .select("doc_id", "n_overlap", "is_contaminated")
      .as[(Long, Long, Int)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // reference docs are excluded from the output
    assert(got.keySet.forall(_ % 10 != 0))
    // brute force on the driver: the set of reference 13-gram strings
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def grams(t: String): Seq[String] = {
      val toks = t.toLowerCase.split(" ", -1).toSeq
      if (toks.size < 13) Seq.empty else toks.sliding(13).map(_.mkString(" ")).toSeq
    }
    val refGrams = docs.filter(_._1 % 10 == 0).flatMap(d => grams(d._2)).toSet
    for ((id, text) <- docs if id % 10 != 0) {
      val expect = grams(text).count(refGrams.contains)
      assert(got(id)._1 == expect, s"doc $id got ${got(id)._1} expect $expect")
      assert(got(id)._2 == (if (expect > 0) 1 else 0))
    }
    // fixture has planted cross-set overlaps — the operator has signal
    assert(got.values.count(_._2 == 1) > 0)
  }
}
