package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-19 pins: the true WHITENING output (q295 — the r18 verdict's
  * "complete it or rename it" item, completed: q294 renamed to
  * kept-basis, q295 adds the exact-integer 1/√λ rescale), the
  * decorrelation-payoff recall eval (q296), the live projection
  * (q297), and the covariance gate's operand probe (the r18 ADVICE
  * item: the n-bound alone was proven only under |xq| ≤ 10³).
  */
class Round19OpsSpec extends SparkSpec {

  private val d = Similarity.covDims

  test("isqrt: exact integer square root at boundaries, perfect squares, " +
      "and near the Long ceiling") {
    assert(Similarity.isqrt(0L) == 0L)
    assert(Similarity.isqrt(1L) == 1L)
    assert(Similarity.isqrt(2L) == 1L)
    assert(Similarity.isqrt(3L) == 1L)
    assert(Similarity.isqrt(4L) == 2L)
    for (s <- Seq(7L, 1000L, 999999L, 12345678L)) {
      assert(Similarity.isqrt(s * s) == s)
      assert(Similarity.isqrt(s * s - 1) == s - 1)
      assert(Similarity.isqrt(s * s + 1) == s)
    }
    // near 2⁶²: the double seed is off by ulps here; the correction
    // loop must still land exactly
    val big = 3037000499L // isqrt(Long.MaxValue)
    assert(Similarity.isqrt(Long.MaxValue) == big)
    assert(Similarity.isqrt(big * big) == big)
    assert(Similarity.isqrt(big * big - 1) == big - 1)
  }

  test("integer division contract: Spark's `div` truncates toward zero " +
      "(the DuckDB `//` / Scala Long./ contract the rescale rides on)") {
    val r = spark.sql(
      "SELECT -7L div 2L, 7L div -2L, -7L div -2L, 7L div 2L").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (-3L, -3L, 3L, 3L))
  }

  /** A synthetic dense corpus with exactly two variance axes: dim 0 at
    * σ = 5 (milli 5000) and dim 1 at σ = 4 (milli 4000), orthogonal
    * balanced ±sign patterns (period 2 and 4) so means are exactly
    * zero and the covariance is exactly diagonal — the hand corpus the
    * variance law is provable on.
    */
  private def handCorpus(n: Int = 400) = {
    import spark.implicits._
    require(n % 4 == 0)
    (0 until n).map { i =>
      val s1 = if (i % 2 == 0) 1.0 else -1.0
      val s2 = if (i % 4 < 2) 1.0 else -1.0
      val v = Array.fill(d)(0.0)
      v(0) = 5.0 * s1
      v(1) = 4.0 * s2
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("q295 whitening variance law: on the two-axis hand corpus the " +
      "RAW kept-basis variances sit at the σ²-ratio 25/16 while the " +
      "WHITENED per-component variances are equal within quantization") {
    val raw = handCorpus()
    val grid = Similarity.covAssemble(
      Similarity.covCells(Similarity.kmQuantizeDf(raw)))
    val kept = Similarity.keptBasisOf(grid, 3, 200000L)
    // total variance 25+16 = 41; residual fraction before comp 2 is
    // 16/41 ≈ 390k micro > 200k → kept; before comp 3 ≈ 0 → dropped
    assert(kept.map(_._3) == Seq(1, 2), s"keep mask: ${kept.map(_._3)}")
    def varsOf(df: org.apache.spark.sql.DataFrame, c: String) =
      // coords ≈ ±5·10⁹, so squares must sum as doubles (a Long sum
      // of 400 × 2.5·10¹⁹ would wrap)
      df.select(col("comp"), col(c).cast("double").as("x"))
        .groupBy(col("comp"))
        .agg((sum(col("x") * col("x")) / count(lit(1))).as("v2"),
          (sum(col("x")) / count(lit(1))).as("mu"))
        .collect().map(r => r.getLong(0) ->
          (r.getDouble(1) - r.getDouble(2) * r.getDouble(2))).toMap
    val rawVar = varsOf(Similarity.keptProjectOn(raw, kept), "coord")
    val rawRatio = rawVar(1L) / rawVar(2L)
    assert(math.abs(rawRatio - 25.0 / 16.0) < 0.05,
      s"raw kept-basis ratio must be ~σ²-ratio 1.5625: $rawRatio")
    val whVar = varsOf(Similarity.whitenedProjectOn(raw, kept), "coord_w")
    val whRatio = whVar(1L) / whVar(2L)
    assert(whRatio > 0.95 && whRatio < 1.05,
      s"whitened per-component variances must equalize: $whRatio " +
        s"(raw was $rawRatio)")
  }

  test("q295 exactness: every whitened cell equals the q294 cell's " +
      "coord·1000 div (isqrt(max(λ,0))+1), against driver arithmetic") {
    val dir = "/root/testdata/sf0.001"
    val kept = Similarity.keptBasis(spark, dir)
    assert(kept.nonEmpty)
    val dens = kept.map { case (_, lam, c) =>
      c.toLong -> (Similarity.isqrt(math.max(lam, 0L)) + 1L)
    }.toMap
    val base = Similarity.keptBasisProjection(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val wh = Similarity.whitenedProjection(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(wh.keySet == base.keySet)
    assert(wh.nonEmpty)
    for (((id, c), w) <- wh)
      assert(w == base((id, c)) * 1000L / dens(c),
        s"vec $id comp $c: $w != ${base((id, c))} * 1000 / ${dens(c)}")
    // and the plan stays one map-only corpus pass
    val p = Similarity.whitenedProjection(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"the whitened pass must be zero-exchange:\n$p")
  }

  test("empty keep mask short-circuits: both projections return an " +
      "empty correctly-typed frame instead of an unanalyzable array()") {
    val raw = handCorpus(8)
    for ((df, cOut) <- Seq(
        Similarity.keptProjectOn(raw, Nil) -> "coord",
        Similarity.whitenedProjectOn(raw, Nil) -> "coord_w")) {
      assert(df.columns.toSeq == Seq("vec_id", "comp", cOut))
      assert(df.count() == 0)
    }
  }

  test("covariance gate probes the OPERANDS, not just n: a grid under " +
      "the row bound whose sums would wrap BIGINT still promotes") {
    import spark.implicits._
    val tri = d * (d + 1) / 2
    // n = 1000 (far below covNumSafeN) but |s| ≈ 3.4e15, so
    // s_i·s_j ≈ 1.2e31 wraps BIGINT — the n-gate alone would misfire
    val n = 1000L
    def sPair(p: Long) = 3400000000000000L - p
    def sDim(k: Int) = 3400000000000000L + k
    val cells = ((0 until tri).map(p => (p.toLong, n, sPair(p.toLong))) ++
      (0 until d).map(k => ((tri + k).toLong, n, sDim(k)))).toDF("pid", "n", "s")
    val auto = Similarity.covAssemble(cells)
    assert(auto.schema("cov_num").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0),
      s"operand magnitudes past Long.MaxValue/2 must promote: ${auto.schema}")
    val got = auto.select(col("i"), col("j"), col("cov_num")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        BigInt(r.getDecimal(2).toBigIntegerExact)).toMap
    // spot-check exactness against driver BigInt on cells where the
    // BIGINT form provably wraps
    val checked = got.count { case ((i, j), cn) =>
      val i0 = (i - 1).toInt; val j0 = (j - 1).toInt
      val pid = (0 until i0).map(r => d - r).sum + (j0 - i0)
      val want = BigInt(n) * BigInt(sPair(pid.toLong)) -
        BigInt(sDim(i0)) * BigInt(sDim(j0))
      assert(cn == want, s"cell ($i,$j): $cn != $want")
      want.abs > BigInt(Long.MaxValue)
    }
    assert(checked == tri, "fixture self-check: every cell must wrap BIGINT")
  }

  test("q296 consistency: the raw arm equals q234's recall eval " +
      "cell-for-cell, and the kept arm's hits are bounded by n_ref") {
    val dir = "/root/testdata/sf0.001"
    val q234 = Similarity.annRecallEval(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = Similarity.basisRecallEval(spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (qid, nRef, hRaw, hKept) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(q234(qid) == ((nRef, hRaw)),
        s"raw arm must be q234 verbatim for $qid: ${q234(qid)} != ($nRef, $hRaw)")
      assert(hKept >= 0L && hKept <= nRef)
    }
    assert(rows.map(_.getLong(0)).toSet == q234.keySet)
  }

  test("q297 live projection: converged streamed emissions equal the " +
      "q294 batch output row-for-row, and the per-batch plan is " +
      "zero-exchange") {
    val dir = "/root/testdata/sf0.001"
    val want = Similarity.keptBasisProjection(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val got = Similarity.streamKeptBasisProjection(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == want)
    // the per-batch transform (the exact function foreachBatch runs)
    val kept = Similarity.keptBasis(spark, dir)
    val p = Similarity.keptProjectOn(
      graft.Tables.load(spark, dir, "embeddings"), kept)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"the per-batch projection must be map-only:\n$p")
  }

  // ---- SemDeDup (q298/q299): occupancy law + full-pipeline referee ----

  test("semdedupClusters: the occupancy law at boundaries, and the oracle's " +
      "float-log2 mirror agrees with the integer bit trick across the range") {
    assert(Similarity.semdedupClusters(0) == 8)
    assert(Similarity.semdedupClusters(1) == 8)
    assert(Similarity.semdedupClusters(125) == 8)
    assert(Similarity.semdedupClusters(1000) == 8)
    assert(Similarity.semdedupClusters(1001) == 16) // first jump: 125·2³+1
    assert(Similarity.semdedupClusters(2000) == 16)
    assert(Similarity.semdedupClusters(2001) == 32)
    assert(Similarity.semdedupClusters(16000) == 128)
    assert(Similarity.semdedupClusters(16001) == 256)
    // the hierarchy split: C₁ = 2^⌈b/2⌉, C₂ = 2^⌊b/2⌋, C₁·C₂ = C
    assert(Similarity.semdedupBitsSplit(500) == ((2, 1)))   // C 8  = 4·2
    assert(Similarity.semdedupBitsSplit(2000) == ((2, 2)))  // C 16 = 4·4
    assert(Similarity.semdedupBitsSplit(20000) == ((4, 4))) // C 256
    assert(Similarity.semdedupBitsSplit(200000) == ((6, 5))) // C 2048 = 64·32
    // the SQL mirror (floor(log2(k)) + 1 on DOUBLE) must agree with the
    // integer bit trick everywhere, including at exact powers of two —
    // evaluated through Spark's log2 (the same IEEE contract DuckDB's
    // rides), sampled densely across five decades
    val rows = spark.range(1L, 3000000L, 71L).toDF("n")
      .withColumn("sqlC", pow(lit(2.0), greatest(lit(3.0),
        floor(log2(greatest(lit(1L), (col("n") - 1) / lit(125L)))) + 1))
        .cast("long"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == Similarity.semdedupClusters(r.getLong(0)).toLong,
        s"law mismatch at n=${r.getLong(0)}")
    }
  }

  /** Deterministic fixture: 1300 dense dim-8 vectors (the law sizes C
    * to 16 — the dynamic-C path, NOT the q182 constant), with planted
    * exact duplicates (i % 40 == 1 copies i−1) and zero-norm rows
    * (i % 97 == 96). Values ≤ 0.6 keep |xq| ≤ 600, inside every
    * overflow bound [[Similarity.cosAtLeast]] states.
    */
  private def semFixture: Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(43)
    val base = (0 until 1300).map { _ => Seq.fill(8)(rnd.nextDouble() * 1.2 - 0.6) }
    (0 until 1300).map { i =>
      val v =
        if (i % 97 == 96) Seq.fill(8)(0.0)
        else if (i % 40 == 1) base(i - 1)
        else base(i)
      (i.toLong, v)
    }
  }

  /** Driver-side referee for the WHOLE two-level pipeline: HALF_UP
    * milli quantize, the bits split, the coarse fixpoint (C₁ lowest-id
    * init, kmIters exact assign/update rounds), the frozen coarse
    * assignment, the per-cell fine fixpoint at C₂, the final fine
    * assignment, integer-rational pair admission — plain Scala Longs,
    * no Spark. Returns (c1, c2, coarse centroids, fine centroids per
    * (g, sub), members (id, cid, xq, n2) with zero-norms excluded,
    * dup pairs (cid, aId, bId)).
    */
  private def refSemState(vecs: Seq[(Long, Seq[Double])], num: Int, den: Int)
      : (Int, Int, Seq[(Long, Array[Long])], Map[(Long, Long), Array[Long]],
         Seq[(Long, Long, Array[Long], Long)], Seq[(Long, Long, Long)]) = {
    def quant(v: Double): Long = new java.math.BigDecimal(v * 1000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    def mean(vs: Seq[Array[Long]], j: Int): Long =
      new java.math.BigDecimal(vs.map(_(j)).sum.toDouble / vs.size)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val x = vecs.map { case (id, v) => id -> v.map(quant).toArray }.sortBy(_._1)
    val (b1, b2) = Similarity.semdedupBitsSplit(x.size.toLong)
    val (c1, c2) = (1 << b1, 1 << b2)
    // level 1: the flat fixpoint at c1
    def coarseKey(cents: Seq[(Long, Array[Long])], xv: Array[Long]): Long =
      cents.map { case (cid, cv) =>
        xv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum * c1 + cid - 1
      }.min
    var coarse: Seq[(Long, Array[Long])] =
      x.take(c1).zipWithIndex.map { case ((_, xv), i) => ((i + 1).toLong, xv.clone) }
    for (_ <- 1 to Similarity.kmIters) {
      val a = x.map { case (id, xv) => id -> (coarseKey(coarse, xv) % c1 + 1) }.toMap
      coarse = coarse.map { case (cid, prev) =>
        val mem = x.filter(p => a(p._1) == cid).map(_._2)
        if (mem.isEmpty) (cid, prev)
        else (cid, Array.tabulate(prev.length)(j => mean(mem, j)))
      }
    }
    // frozen coarse cells
    val gOf = x.map { case (id, xv) => id -> (coarseKey(coarse, xv) % c1 + 1) }.toMap
    val cells = x.groupBy(p => gOf(p._1))
    // level 2: the per-cell fixpoint at c2 (cells train independently)
    def fineKey(subs: Seq[(Long, Array[Long])], xv: Array[Long]): Long =
      subs.map { case (sub, cv) =>
        xv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum * c2 + sub - 1
      }.min
    var fine: Map[(Long, Long), Array[Long]] = cells.flatMap { case (g, mem) =>
      mem.sortBy(_._1).take(c2).zipWithIndex.map { case ((_, xv), i) =>
        (g, (i + 1).toLong) -> xv.clone }
    }
    for (_ <- 1 to Similarity.kmIters) {
      val next = for ((g, mem) <- cells) yield {
        val subs = fine.collect { case ((gg, sub), cv) if gg == g => (sub, cv) }
          .toSeq.sortBy(_._1)
        val a = mem.map { case (id, xv) => id -> (fineKey(subs, xv) % c2 + 1) }.toMap
        subs.map { case (sub, prev) =>
          val sm = mem.filter(p => a(p._1) == sub).map(_._2)
          (g, sub) -> (if (sm.isEmpty) prev
                       else Array.tabulate(prev.length)(j => mean(sm, j)))
        }
      }
      fine = next.flatten.toMap
    }
    val members = x.map { case (id, xv) =>
      val g = gOf(id)
      val subs = fine.collect { case ((gg, sub), cv) if gg == g => (sub, cv) }
        .toSeq.sortBy(_._1)
      val sub = fineKey(subs, xv) % c2 + 1
      (id, (g - 1) * c2 + sub, xv, xv.map(z => z * z).sum)
    }.filter(_._4 > 0L)
    val dup = for {
      (aId, ac, av, an2) <- members
      (bId, bc, bv, bn2) <- members
      if ac == bc && aId < bId
      dot = av.zip(bv).map { case (p, q) => p * q }.sum
      if dot >= 0 && den.toLong * den * dot * dot >= num.toLong * num * an2 * bn2
    } yield (ac, aId, bId)
    (c1, c2, coarse, fine, members, dup)
  }

  test("q298 semDedup: engine equals the driver referee on the dynamic-C " +
      "fixture (C = 16), including planted exact dups and zero-norm rows") {
    import spark.implicits._
    val tmp = graft.Fs.tmpDir("graft_semdedup_fix")
    try {
      semFixture.toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(s"$tmp/embeddings.parquet")
      val (c1, c2, _, _, members, dup) = refSemState(semFixture, 2, 5)
      assert(c1 == 4 && c2 == 4) // n = 1300 → b = 4, split 2/2 — C = 16
      assert(dup.nonEmpty) // the fixture must actually exercise admission
      val expected = members.groupBy(_._2).map { case (cid, mem) =>
        val pd = dup.filter(_._1 == cid)
        val dropped = pd.map(_._3).distinct.size.toLong
        (cid, mem.size.toLong, pd.size.toLong, dropped, mem.size - dropped)
      }.toSeq.sorted
      val got = Similarity.semDedup(spark, tmp)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == expected)
      // every planted exact-dup pair was admitted (cos = 1 ≥ 2/5)
      assert(expected.map(_._4).sum >= semFixture.count(f =>
        f._1 % 40 == 1 && f._1 % 97 != 96 && (f._1 - 1) % 97 != 96) / 2)
    } finally graft.Fs.rmTree(tmp)
  }

  test("q299 stream gate: converged emissions equal the batch gate referee; " +
      "zero-norm arrivals are admitted") {
    import spark.implicits._
    val tmp = graft.Fs.tmpDir("graft_semgate_fix")
    try {
      semFixture.toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(s"$tmp/embeddings.parquet")
      def quant(v: Double): Long = new java.math.BigDecimal(v * 1000)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      val refSide = semFixture.filter(_._1 % Similarity.semGateMod != 0)
      val (c1, c2, coarse, fine, refMembers, refDup) = refSemState(refSide, 2, 5)
      val droppedIds = refDup.map(_._3).toSet
      val kept = refMembers.filterNot(m => droppedIds.contains(m._1))
      // arrivals route through the frozen two-level hierarchy exactly as
      // the engine does: coarse argmin, then fine within the cell (an
      // empty cell yields sub 1 by convention)
      val expected = semFixture.filter(_._1 % Similarity.semGateMod == 0)
        .map { case (id, v) =>
          val xv = v.map(quant).toArray
          val n2 = xv.map(z => z * z).sum
          val g = coarse.map { case (cc, cv) =>
            xv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum * c1 + cc - 1
          }.min % c1 + 1
          val subs = fine.collect { case ((gg, sub), cv) if gg == g => (sub, cv) }
            .toSeq.sortBy(_._1)
          val sub =
            if (subs.isEmpty) 1L
            else subs.map { case (ss, cv) =>
              xv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum * c2 + ss - 1
            }.min % c2 + 1
          val cid = (g - 1) * c2 + sub
          val hits =
            if (n2 == 0L) 0L
            else kept.count { case (_, kc, kv, kn2) =>
              val dot = xv.zip(kv).map { case (p, q) => p * q }.sum
              kc == cid && dot >= 0 && 25L * dot * dot >= 4L * n2 * kn2
            }.toLong
          (id, cid, hits, if (hits == 0L) 1L else 0L)
        }.sorted
      val got = Similarity.streamSemDedupGate(spark, tmp)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      assert(got == expected)
      // the gate must both reject and admit on this fixture, and every
      // zero-norm arrival is admitted with zero hits
      assert(expected.exists(_._4 == 0L) && expected.exists(_._4 == 1L))
      val zeroArrivals = semFixture.filter(f =>
        f._1 % 97 == 96 && f._1 % Similarity.semGateMod == 0).map(_._1).toSet
      assert(zeroArrivals.nonEmpty)
      assert(got.filter(r => zeroArrivals.contains(r._1))
        .forall(r => r._3 == 0L && r._4 == 1L))
    } finally graft.Fs.rmTree(tmp)
  }
}
