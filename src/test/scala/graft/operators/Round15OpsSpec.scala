package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariants for the round-15 operator families that the cell-exact
  * oracle cannot express as single-query checks: incremental ≡ batch
  * laws, conservation, monotonicity, and structural non-overlap.
  */
class Round15OpsSpec extends SparkSpec {
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("q262 IVM ≡ batch: the delta composition reproduces q148 on the delta slice") {
    val ivm = Dedup.noveltyIvmDelta(spark, dir).collect().toSet
    val batch = Dedup.noveltyScores(spark, dir)
      .filter(col("doc_id") % 10 === 9).collect().toSet
    assert(ivm == batch, "incremental novelty diverged from the batch derivation")
    assert(ivm.nonEmpty)
  }

  test("q266 stream ≡ batch: ingest emissions union to exactly the q148 answer") {
    val live = Dedup.streamNovelty(spark, dir).collect()
    // exactly one emission per document — claim-on-arrival never re-emits
    assert(live.map(_.getLong(0)).distinct.length == live.length)
    val batch = Dedup.noveltyScores(spark, dir).collect()
    assert(live.toSet == batch.toSet)
    // claim conservation (r20: the report write and the claims append
    // now run as overlapped jobs inside each micro-batch — this is the
    // invariant a mis-ordered or racing claims append would break):
    // every distinct gram in the corpus is claimed by exactly one doc
    // across all batches, so Σ n_novel = |distinct grams|
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val distinctGrams = Dedup.docShingles(docs, col("text"))
      .select(explode(col("shingles")).as("s")).distinct().count()
    assert(live.map(_.getLong(2)).sum == distinctGrams,
      "novel-claim total diverged from the distinct-gram count")
  }

  test("q298 serves the STORED assignment: a second call builds nothing") {
    // once the fine assignment is a session artifact, a second call
    // serves Similarity.semMembers from the store; a build here means
    // the assignment is being recomputed per invocation again
    Similarity.semDedup(spark, dir)
    val t = graft.Telemetry.install(spark)
    val a = try t.attempt("q298")(_ => Similarity.semDedup(spark, dir)) finally t.close()
    assert(a.hits.getOrElse("Similarity.semMembers", 0L) >= 1, s"store hits: ${a.hits}")
    assert(a.builds.isEmpty, s"store builds on the second call: ${a.builds}")
  }

  test("q270 gate is invocation-deterministic under the frozen reference " +
      "(r20 — the second run serves the session-cached 13-gram set)") {
    // run the live gate twice in one session: run 2 serves the cached
    // reference hash set (the r20 freeze); emissions must be identical
    // frames — a drifting or partially-built cache would diverge here
    val a = Dedup.streamDecontaminate(spark, dir).collect().toSet
    val b = Dedup.streamDecontaminate(spark, dir).collect().toSet
    assert(a == b, "gate emissions changed across invocations")
    assert(a.nonEmpty)
  }

  test("q264: recall is non-decreasing in nprobe, and exactly one row is chosen") {
    val rows = Similarity.nprobePlanner(spark, dir)
      .orderBy(col("nprobe"))
      .select(col("nprobe"), col("n_hits"), col("meets"), col("is_chosen"))
      .as[(Int, Long, Int, Int)].collect()
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8, 16))
    // widening the probe set can only add candidates — hits are monotone
    assert(rows.sliding(2).forall { case Array(a, b) => b._2 >= a._2 })
    // nprobe = C probes every bucket: recall must be exactly 1
    val full = rows.last
    assert(full._3 == 1, "full probe must meet any recall target")
    assert(rows.count(_._4 == 1) == 1, "exactly one chosen config")
    // the chosen row is the FIRST meeting row
    val firstMeets = rows.find(_._3 == 1).get
    assert(firstMeets._4 == 1)
  }

  test("q258: per-source phase quotas partition each source exactly (no unassigned tail)") {
    val assigned = PipelineOps.curriculumPhases(spark, dir)
    val bySrc = assigned.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val truth = graft.Tables.load(spark, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(bySrc == truth, "some documents were left out of the schedule")
    // each doc appears exactly once
    val n = assigned.count()
    assert(assigned.select(col("doc_id")).distinct().count() == n)
    // the anneal: phase 3's doc share of the TOP-ranked source exceeds
    // its phase-0 share (late phases tilt toward high-quality sources)
    val phases = assigned.groupBy(col("source"), col("phase")).agg(count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect()
    // recompute the top-ranked source by mean chars (integer div, name tiebreak)
    val topSrc = graft.Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .select(col("source"), expr("chars div n").as("m"))
      .orderBy(col("m").desc, col("source").desc).as[(String, Long)].head()._1
    val p0 = phases.collect { case (s, 0L, c) if s == topSrc => c }.sum
    val p3 = phases.collect { case (s, 3L, c) if s == topSrc => c }.sum
    assert(p3 >= p0, s"top source $topSrc should gain share by phase 3 ($p0 -> $p3)")
  }

  test("q259: spans never overlap and stay inside the document") {
    val spans = TextAnalysis.spanCorruptionPlan(spark, dir)
      .select(col("doc_id"), col("span_id"), col("start_tok"), col("span_len"))
      .as[(Long, Long, Long, Int)].collect()
    assert(spans.nonEmpty)
    val nTok = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(split(lower(col("text")), " ")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    spans.groupBy(_._1).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 >= a._3 + a._4, s"doc $doc spans overlap")
        case _ => ()
      }
      val last = sorted.last
      assert(last._3 + last._4 <= nTok(doc), s"doc $doc span exceeds length")
      assert(sorted.head._3 >= 0)
    }
  }

  test("q260: kappa is in [-1, 1] and the 2x2 cells are consistent") {
    val r = PipelineOps.classifierAgreement(spark, dir).head()
    val (n, agree, a1, b1) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(agree <= n && a1 <= n && b1 <= n)
    if (!r.isNullAt(4)) {
      val kappa = r.getDouble(4)
      assert(kappa >= -1.0 && kappa <= 1.0)
    }
  }

  test("q265: the Rand index detects the loosened partition (strictly < 1 here)") {
    val r = Dedup.clusterStability(spark, dir).head()
    val rand = r.getDouble(5)
    assert(rand > 0.0 && rand <= 1.0)
    // identical thresholds ⇒ identical partitions ⇒ rand exactly 1
    val same = Dedup.clusterStability(spark, dir, tLow = 0.8, tHigh = 0.8).head()
    assert(same.getDouble(5) == 1.0)
  }

  test("q267 IVM ≡ batch: stored top-k + delta re-rank equals the full-corpus window") {
    import org.apache.spark.sql.expressions.Window
    val ivm = PipelineOps.topkIvmDelta(spark, dir).collect().toSet
    val full = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .filter(col("rk") <= 5)
      .select(col("source"), col("doc_id"), col("n_chars"), col("rk"))
      .collect().toSet
    assert(ivm == full)
    // the delta actually displaced something (non-vacuous)
    assert(full.exists(_.getLong(1) % 10 == 9),
      "no delta doc made any leaderboard — fixture signal lost")
  }

  test("q269: deletion rewrites ONLY dirty buckets — clean buckets' files untouched") {
    val df = Seq((1L, Seq(1.0), 0), (2L, Seq(2.0), 0), (17L, Seq(3.0), 1),
      (18L, Seq(5.0), 1), (34L, Seq(4.0), 2))
      .toDF("vec_id", "v", "bucket")
    val path = graft.Fs.tmpDir("graft_del_spec")
    try {
      df.repartition(col("bucket")).write.mode("overwrite")
        .partitionBy("bucket").parquet(path)
      def files(b: Int) = Option(new java.io.File(s"$path/bucket=$b").listFiles())
        .map(_.filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet)
      val clean0 = files(0)
      Similarity.deleteFromIndex(spark, path, col("vec_id") % 17 === 0)
      // bucket 0 holds no deleted rows: its files are untouched —
      // byte-identical names and mtimes (the IO ∝ dirty proof)
      assert(files(0) == clean0)
      // bucket 1 rewritten without vec 17; bucket 2 left empty → dir gone
      val left = spark.read.parquet(path)
        .select(col("vec_id")).as[Long].collect().sorted.toSeq
      assert(left == Seq(1L, 2L, 18L))
      assert(!new java.io.File(s"$path/bucket=2").exists())
    } finally graft.Fs.rmTree(path)
  }

  test("q257/q261: plan conservation — every bucket appears once with a lawful action") {
    val plan = Similarity.ivfRebalancePlan(spark, dir)
      .select(col("bucket"), col("n_vecs"), col("action"))
      .as[(Long, Long, String)].collect()
    assert(plan.map(_._1).distinct.length == plan.length)
    assert(plan.forall(r => Set("split", "merge", "keep")(r._3)))
    // occupancy conserves the corpus (every dense vector is in exactly one bucket)
    val total = plan.map(_._2).sum
    val expect = graft.Tables.load(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull).count()
    assert(total <= expect) // withDenseV also drops null-element vectors
    assert(total > 0)
  }
}
