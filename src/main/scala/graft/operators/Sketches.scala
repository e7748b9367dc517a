package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sketch operators with deterministic cross-engine parity: unlike
  * `approx_count_distinct` (whose HLL++ register layout is a Spark
  * implementation detail), these build the sketches from the portable
  * md5 base hash with pure-integer register math, so the DuckDB oracle
  * reproduces the sketch BIT-FOR-BIT — the estimate itself is
  * cell-exact checkable, not just "within rsd".
  *
  * Scale design (100 TB):
  *  - HLL: register maxima are computed by an ordinary two-level
  *    groupBy — partial max per (group, register) map-side, so the
  *    shuffle carries at most |groups|·m rows regardless of input
  *    size; the register table is mergeable across any partitioning
  *    (the defining sketch property).
  *  - Bloom: the bit-position table is bounded by m (filter bits),
  *    broadcast to the probe side; the probe is a per-row map + one
  *    broadcast join — the distributed form of semi-join pushdown
  *    (Spark's own runtime bloom pushdown does the same with an
  *    opaque filter; this one is portable and oracle-checkable).
  */
object Sketches {

  /** HyperLogLog distinct-user estimate per event_type, alongside the
    * exact count. Registers: bucket = low `p` bits of the 60-bit md5
    * hash; rho = 1-based position of the first set bit in the
    * remaining `60-p` bits (counting from the MSB), `60-p+1` for an
    * all-zero remainder. The register sum is carried as the INTEGER
    * `S = Σ_j 2^(wbits+1-M_j)` (empty registers contribute 2^(wbits+1)
    * for M_j = 0), so every intermediate is exact 64-bit math on both
    * engines; since `S = 2^(wbits+1)·Σ 2^(-M_j)`, the raw estimator
    * `alpha·m²/Σ2^(-M_j)` becomes the single float op
    * `alpha·m²·2^(wbits+1) / S`, which both engines evaluate
    * identically in IEEE order. Raw estimator only — the small-range
    * LinearCounting branch needs `ln`, whose cross-engine bit-identity
    * is not guaranteed; instead `hll_zeros` (the empty-register count
    * LC feeds on) is reported so a consumer can apply it. Pick `p` for
    * the corpus: the raw estimator is accurate for n ≳ 2.5·m (the
    * default p=5 suits the demo corpus's 10²-10³ distinct users per
    * group; a 100 TB corpus uses p=12-14 for 1-2% error), and the
    * accuracy contract is unit-tested in both regimes.
    */
  def hllDistinct(s: SparkSession, dir: String, p: Int = 5): DataFrame =
    hllFromEvents(Tables.events(s, dir), p)

  /** Per-(`groupCol`, bucket) HLL register maxima over `keyCol` md5
    * hashes — THE register math, shared by [[hllFromEvents]] (q55) and
    * [[incrementalAggFromEvents]] (q73) so the two sketches cannot
    * drift. A two-phase groupBy: partial max per register map-side.
    */
  private[operators] def hllRegisters(df: DataFrame, groupCol: String,
      keyCol: org.apache.spark.sql.Column, p: Int): DataFrame =
    hllRegistersBy(df, Seq(groupCol), keyCol, p)

  /** [[hllRegisters]] generalized to a composite group — q73 builds
    * per-(event_type, side) registers in ONE scan this way.
    */
  private[operators] def hllRegistersBy(df: DataFrame, groupCols: Seq[String],
      keyCol: org.apache.spark.sql.Column, p: Int): DataFrame =
    hllRhoRows(df.select(groupCols.map(col) :+ keyCol.as("__hll_key"): _*),
      col("__hll_key"), p)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("mj"))

  /** The per-row h → (bucket, rho) derivation — THE register row math,
    * one definition shared by [[hllRegistersBy]] and the windowed build
    * ([[hllWindowedRegisters]]) so the two cannot drift. Keeps the
    * caller's other columns alongside the derived ones.
    */
  private def hllRhoRows(df: DataFrame,
      keyCol: org.apache.spark.sql.Column, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"register precision must be 4..16, got $p")
    val m = 1 << p
    val wbits = 60 - p // md5_long yields 60 bits
    df
      .withColumn("h", graft.functions.md5_long(keyCol))
      .withColumn("bucket", col("h") % m)
      .withColumn("w", expr(s"h div $m"))
      // minimal-binary-string length == index of highest set bit: the
      // portable (and exactly integer) form of floor(log2)+1
      .withColumn("rho",
        when(col("w") === 0, lit(wbits + 1))
          .otherwise(lit(wbits + 1) - length(bin(col("w")))))
  }

  /** Fold register maxima (`groupCol`, bucket, mj) into the exact
    * integer S carry (`hll_s`), the raw estimate (`estName`), and the
    * empty-register count (`hll_zeros`). Shared with [[hllRegisters]]'s
    * callers for the same no-drift reason.
    */
  private[operators] def hllSums(regs: DataFrame, groupCol: String,
      p: Int, estName: String): DataFrame =
    hllSumsBy(regs, Seq(groupCol), p, estName)

  /** [[hllSums]] generalized to a composite group — the windowed fold
    * (q139) folds per (win_start, event_type) this way.
    */
  private[operators] def hllSumsBy(regs: DataFrame, groupCols: Seq[String],
      p: Int, estName: String): DataFrame = {
    val m = 1 << p
    val wbits = 60 - p
    regs.groupBy(groupCols.map(col): _*)
      .agg(
        sum(expr(s"shiftleft(cast(1 as bigint), cast(${wbits + 1} - mj as int))")).as("s_occ"),
        count(lit(1)).as("nb"))
      .withColumn("hll_s",
        col("s_occ") + (lit(m.toLong) - col("nb")) * lit(1L << (wbits + 1)))
      // numerator folded to ONE double in Scala and inlined as a
      // literal on both sides: SQL decimal-point literals parse as
      // DECIMAL (with engine-specific arithmetic) in Spark AND DuckDB,
      // but a shortest-round-trip double literal parses to the same
      // IEEE value everywhere, leaving a single identical division
      .withColumn(estName,
        lit(hllNumerator(p)) / col("hll_s").cast("double"))
      .withColumn("hll_zeros", lit(m.toLong) - col("nb"))
  }

  /** [[hllDistinct]] core over any frame with `event_type`, `user_id`
    * — register build + the shared [[hllEstimates]] probe, so the
    * batch (q55) and streamed (q98) paths cannot drift.
    */
  def hllFromEvents(ev: DataFrame, p: Int): DataFrame =
    hllEstimates(ev, hllRegisters(ev, "event_type", col("user_id"), p), p)

  /** `alpha_m · m² · 2^(wbits+1)` as one double — the raw-HLL estimator
    * numerator over the integer register sum S (see [[hllDistinct]]:
    * S carries a 2^(wbits+1) scale factor).
    */
  def hllNumerator(p: Int): Double = {
    val m = 1 << p
    val wbits = 60 - p
    ((0.7213 / (1.0 + 1.079 / m.toDouble)) * (m.toDouble * m.toDouble)) * (1L << (wbits + 1)).toDouble
  }

  /** The shared h→buckets→rho→regs→sums CTE chain over `events` —
    * ONE canonical SQL form of the register math, included by both
    * [[hllDistinctSql]] and [[incrementalAggSql]] (the no-drift rule,
    * SQL side).
    */
  private def hllCtes(p: Int): String =
    hllCtesBy(p, Seq("event_type" -> "event_type"))

  /** [[hllCtes]] with a parameterized key list (`alias -> selectExpr`)
    * — ONE canonical register chain however it is keyed; q139's
    * windowed oracle adds the hour window as a second key this way.
    */
  private[operators] def hllCtesBy(p: Int, keys: Seq[(String, String)]): String = {
    val m = 1 << p
    val wbits = 60 - p
    val sel = keys.map { case (a, e) => s"$e AS $a" }.mkString(", ")
    val ks = keys.map(_._1).mkString(", ")
    val grp = keys.indices.map(_ + 1).mkString(", ")
    s"""h AS (
          SELECT $sel,
                 ('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
          FROM events),
        b AS (SELECT $ks, h % $m AS bucket, h // $m AS w FROM h),
        r AS (SELECT $ks, bucket,
                     CASE WHEN w = 0 THEN ${wbits + 1}
                          ELSE ${wbits + 1} - length(bin(w)) END AS rho
              FROM b),
        regs AS (SELECT $ks, bucket, max(rho) AS mj FROM r GROUP BY $grp, ${keys.size + 1}),
        sums AS (
          SELECT $ks,
                 (sum((1::BIGINT << (${wbits + 1} - mj)))::BIGINT
                   + ($m - count(*)) * (1::BIGINT << ${wbits + 1}))::BIGINT AS hll_s,
                 ($m - count(*))::BIGINT AS hll_zeros
          FROM regs GROUP BY $grp)"""
  }

  def hllDistinctSql(p: Int = 5): String =
    s"""WITH ${hllCtes(p)},
        ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
        SELECT s.event_type, ex.n_exact, s.hll_s,
               ${hllNumerator(p)} / s.hll_s::DOUBLE AS hll_est,
               s.hll_zeros
        FROM sums s JOIN ex ON s.event_type = ex.event_type"""

  /** Streaming register-maintenance core (q98): [[hllRegisters]] over a
    * streaming frame. `groupBy + max` is order- and batching-
    * independent, so a Complete-mode streaming aggregation converges to
    * exactly the batch registers — the HLL analog of q94's CMS grid,
    * and the sketch property (bounded m-row state per group regardless
    * of stream length) is what makes Complete mode viable.
    */
  def hllRegistersStream(ev: DataFrame, p: Int = 5): DataFrame =
    hllRegisters(ev, "event_type", col("user_id"), p)

  /** Probe over STORED registers: fold them to the integer S carry and
    * raw estimate and attach the exact count from the batch table —
    * q55's output contract exactly, so [[hllDistinctSql]] applies
    * unchanged to the streamed registers.
    */
  def hllEstimates(ev: DataFrame, regs: DataFrame, p: Int = 5): DataFrame = {
    val sums = hllSums(regs, "event_type", p, "hll_est")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    sums.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"), col("hll_s"),
        col("hll_est"), col("hll_zeros"))
  }

  // ---- evicting windowed HLL (q139) ----

  /** HLL registers keyed by (hourly event-time window, event_type)
    * under watermark + Append — the EVICTING sketch form (the
    * q123 → q124 / q107 → q127 progression applied to q98's register
    * maintenance): each window's registers emit once when the
    * watermark passes its end and their state drops, so streaming
    * state is bounded by open windows × m registers instead of growing
    * with history. The row math is [[hllRhoRows]] — the ONE register
    * derivation — and max(rho) is a plain windowed aggregation, which
    * is exactly why HLL (a max-merge sketch) can evict this way.
    */
  def hllWindowedRegisters(ev: DataFrame, p: Int = 5,
      windowLen: String = "1 hour", delay: String = "30 minutes"): DataFrame =
    hllRhoRows(
      ev.withWatermark("ts", delay)
        .select(col("ts"), col("event_type"), col("user_id").as("__hll_key")),
      col("__hll_key"), p)
      .groupBy(window(col("ts"), windowLen), col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("mj"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("win_start"),
        col("event_type"), col("bucket"), col("mj"))

  /** The q124-style sentinel horizon for [[hllWindowedRegisters]]. */
  val hllWindowedClearMs: Long = 3600L * 1000 + 30L * 60 * 1000

  /** Fold the emitted finalized registers to per-(window, type)
    * estimates next to the exact distinct count — [[hllSumsBy]], the
    * shared fold, so q55/q73/q98/q139 ride one register math.
    */
  def hllWindowedFold(ev: DataFrame, state: DataFrame, p: Int = 5): DataFrame = {
    val sums = hllSumsBy(state, Seq("win_start", "event_type"), p, "hll_est")
    val exact = ev.groupBy(
      date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("win_start"),
      col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    sums.join(exact, Seq("win_start", "event_type"))
      .select(col("win_start"), col("event_type"), col("n_exact"),
        col("hll_s"), col("hll_est"))
  }

  def hllWindowedSql(p: Int = 5): String = {
    val win = "strftime(date_trunc('hour', ts), '%Y-%m-%d %H')"
    s"""WITH ${hllCtesBy(p, Seq("win_start" -> win, "event_type" -> "event_type"))},
        ex AS (SELECT $win AS win_start, event_type,
                      count(DISTINCT user_id) AS n_exact
               FROM events GROUP BY 1, 2)
        SELECT s.win_start, s.event_type, ex.n_exact, s.hll_s,
               ${hllNumerator(p)} / s.hll_s::DOUBLE AS hll_est
        FROM sums s JOIN ex
          ON s.win_start = ex.win_start AND s.event_type = ex.event_type"""
  }

  /** K-minimum-values distinct sketch per event_type — the
    * order-statistics counterpart to [[hllDistinct]] (register maxima
    * there, hash minima here; both mergeable, this one also supports
    * set-operation estimates by sketch intersection). With hashes
    * uniform on [0, 2^60), the k-th smallest distinct hash estimates
    * density: `est = (k-1) · 2^60 / h_(k)`. Everything up to the final
    * division is exact integer order statistics, so the DuckDB oracle
    * reproduces the sketch bit-for-bit; groups with fewer than k
    * distinct hashes report their exact count (the sketch IS the set
    * there). The literal rank bound plans as a WindowGroupLimit —
    * partial top-k per partition before the shuffle, the same
    * scale shape as [[PipelineOps.stratifiedSample]].
    */
  /** Fold a (event_type, n_min, kth_min) k-minima summary into the q61
    * output contract (exact count attached, estimator applied) — the
    * probe half shared by the batch [[kmvDistinct]] and the streamed
    * q101, so the estimator cannot drift between paths.
    */
  def kmvEstimates(ev: DataFrame, kth: DataFrame, k: Int = 64): DataFrame = {
    // division-branch safety: that branch runs only when n_min >= k,
    // i.e. kth_min is the max of k DISTINCT non-negative hashes — for
    // k >= 2 that max is >= 1, so the estimator can never divide by a
    // zero kth_min (a single hash of exactly 0 lands in the n_min < k
    // exact branch instead). k = 1 would break the invariant (and be a
    // useless sketch), so it is rejected rather than guarded per-row.
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    kth.join(exact, "event_type")
      .withColumn("kmv_est",
        when(col("n_min") < k, col("n_min").cast("double"))
          .otherwise(lit(((k - 1).toDouble) * (1L << 60).toDouble) / col("kth_min").cast("double")))
      .select(col("event_type"), col("n_exact"), col("kth_min"), col("kmv_est"))
  }

  def kmvDistinct(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL keys are excluded EXPLICITLY on both engines: Spark's window
    // sort puts NULLS FIRST, DuckDB's puts them LAST, so an unfiltered
    // NULL hash would occupy Spark's rank 1 while never entering
    // DuckDB's top-k — the sketch would silently diverge cross-engine
    // (countDistinct below already ignores NULLs on both)
    val hashes = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), graft.functions.md5_long(col("user_id")).as("h"))
      .distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("h").asc)
    val kth = hashes.withColumn("r", row_number().over(w))
      .filter(col("r") <= k)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_min"), max(col("h")).as("kth_min"))
    kmvEstimates(Tables.events(s, dir), kth, k)
  }

  /** The streamed KMV state row: each group's current sorted k-minima
    * plus a per-group monotone revision (incremented on every state
    * update, so an Update-mode sink's accumulated rows compact to the
    * final state by latest-rev-per-group — O8's compacted-topic read
    * applied to sketch state).
    */
  case class KmvState(event_type: String, mins: Array[Long], rev: Long)

  /** Streaming KMV maintenance core (q101). Unlike the CMS/HLL/
    * histogram grids (sums, maxima, counts — built-in streaming
    * aggregates), the k-minima set has no built-in aggregate form:
    * per-group ranking is unsupported on streaming frames, and a
    * naive distinct-then-rank would hold the full distinct set in
    * state. This is therefore the CUSTOM-STATE sketch path:
    * `mapGroupsWithState` keeps each group's sorted distinct k-minima
    * (a TreeSet capped at k — O(k) state per group REGARDLESS of
    * stream length, O(log k) per arrival), the sketch-bounded state
    * contract enforced by construction rather than by the aggregate's
    * shape. Groups are invoked only on batches that bring them data;
    * the emitted row carries the post-merge state and its revision.
    * Min-k of a distinct union is order- and batching-independent, so
    * the converged state equals the batch k-minima and q61's oracle
    * applies unchanged.
    */
  /** The pure k-minima merge: fold `arrivals` into the sorted distinct
    * `prev` set, keeping the k smallest — O(k) memory, O(log k) per
    * arrival. Extracted from the streaming core so the invariant
    * (`merge(prev, xs, k) == (prev ++ xs).distinct.sorted.take(k)`) is
    * property-testable without a streaming query.
    */
  private[graft] def kmvMerge(prev: Array[Long],
      arrivals: Iterator[Long], k: Int): Array[Long] = {
    val buf = scala.collection.mutable.TreeSet.empty[Long]
    buf ++= prev
    arrivals.foreach { h =>
      if (buf.size < k) buf += h
      else if (h < buf.lastKey) { buf += h; if (buf.size > k) buf -= buf.lastKey }
    }
    buf.toArray
  }

  def kmvStateStream(ev: DataFrame, k: Int = 64): org.apache.spark.sql.Dataset[KmvState] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val s = ev.sparkSession
    import s.implicits._
    ev.filter(col("user_id").isNotNull)
      .select(col("event_type"), graft.functions.md5_long(col("user_id")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[KmvState, KmvState](GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val prev = state.getOption
          val mins = kmvMerge(prev.fold(Array.empty[Long])(_.mins), rows.map(_._2), k)
          val next = KmvState(key, mins, prev.fold(1L)(_.rev + 1L))
          state.update(next)
          next
      }
  }

  def kmvDistinctSql(k: Int = 64): String =
    s"""WITH h AS (
          SELECT DISTINCT event_type,
                 ('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
          FROM events WHERE user_id IS NOT NULL),
        kth AS (
          SELECT event_type, count(*) AS n_min, max(h) AS kth_min
          FROM (SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS r
                FROM h)
          WHERE r <= $k GROUP BY 1),
        ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1)
        SELECT kth.event_type, ex.n_exact, kth.kth_min,
               CASE WHEN kth.n_min < $k THEN kth.n_min::DOUBLE
                    ELSE ${((k - 1).toDouble) * (1L << 60).toDouble} / kth.kth_min::DOUBLE
               END AS kmv_est
        FROM kth JOIN ex ON kth.event_type = ex.event_type"""

  /** Mergeable quantile histogram — the quantile member of the portable
    * sketch family (HLL/KMV: distincts, Bloom: membership, CMS:
    * frequencies). Values bin into fixed equi-width buckets
    * (`width`-wide, clamped to `buckets`), per-group bucket counts are
    * the sketch state (bounded by |groups|·buckets, counts ADD under
    * any split — the merge property, unit-tested), and quantiles read
    * off the cumulative histogram with within-bucket linear
    * interpolation — error ≤ width for values inside [0, buckets·width);
    * values outside clamp (both ends) into the edge buckets, where the
    * interpolation error is unbounded, the inherent fixed-bin trade.
    * This is the
    * fixed-bin form production systems use when the value domain is
    * known; rank-adaptive sketches (GK/KLL) handle unknown domains but
    * have engine-specific internals — this one is bit-reproducible in
    * DuckDB, estimates included.
    *
    * Portability: binning is `floor(value / width)` (one IEEE divide),
    * ranks are `ceil(p·n)` on identical doubles, and the interpolation
    * `bucket·w + (rank − cum_below)/cnt · w` is integer-derived with
    * one explicit operation order. The first qualifying bucket is
    * selected by `row_number() = 1` over the ≤`buckets`-row cumulative
    * table — bounded work after the single two-phase count.
    */
  /** The q75 binning expression — shared with the merge-property test
    * so the test always exercises the SHIPPED bucket definition.
    */
  private[operators] def histBucket(value: org.apache.spark.sql.Column,
      width: Double, buckets: Int): org.apache.spark.sql.Column =
    // clamp BOTH ends: values ≥ buckets·width land in the top bucket
    // and values < 0 in bucket 0 (without the lower clamp, negatives
    // would bin into unclamped negative buckets — asymmetric with the
    // top). Inside [0, buckets·width) the interpolation error is ≤
    // width by construction; clamped tail values carry unbounded
    // interpolation error, which is the documented fixed-bin trade.
    greatest(lit(0L), least(floor(value / width), lit(buckets - 1L)))

  /** The histogram STATE build — (event_type, bucket, cnt) counters
    * over non-null values. Shared by the batch q75 and the streamed
    * q100 (counters are order-independent sums, so a Complete-mode
    * streaming aggregation of this exact frame converges to the batch
    * grid — the same argument as [[cmsGrid]]).
    */
  def histGrid(ev: DataFrame, width: Double = 8.0,
      buckets: Int = 64): DataFrame =
    ev.filter(col("value").isNotNull)
      .select(col("event_type"), histBucket(col("value"), width, buckets).as("bucket"))
      .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Quantile estimates from a STORED histogram grid — the probe half
    * of q75, shared with q100 so the estimator cannot drift between
    * the batch and streamed paths. Bounded work: the grid is ≤
    * groups×buckets rows.
    */
  def histQuantiles(hist: DataFrame, width: Double = 8.0,
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("bucket").asc)))
    // n per group = the last bucket's cumulative count: the sketch state
    // already answers it — no second scan of the input
    val n = cum.groupBy(col("event_type")).agg(max(col("cum")).as("n"))
    val ranks = n.select(col("event_type"), col("n"),
        explode(array(ps.map(lit(_)): _*)).as("p"))
      .withColumn("rank", ceil(col("p") * col("n"))) // ceil → LONG in Spark
    val cand = ranks.join(cum, Seq("event_type"))
      .filter(col("cum") >= col("rank"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"), col("p")).orderBy(col("bucket").asc)))
      .filter(col("rn") === 1)
    cand.select(col("event_type"), col("p"), col("n"), col("rank"), col("bucket"),
      // ONE explicit order, mirrored in the oracle:
      // bucket·w + ((rank − cum_below) / cnt) · w
      (col("bucket") * lit(width) +
        (col("rank") - (col("cum") - col("cnt"))).cast("double")
          / col("cnt").cast("double") * lit(width)).as("q_est"))
  }

  def quantileHistogram(s: SparkSession, dir: String, width: Double = 8.0,
      buckets: Int = 64, ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    histQuantiles(histGrid(Tables.events(s, dir), width, buckets), width, ps)

  /** IQR outlier gate (q120) — robust-statistics event cleaning: per
    * event_type, flag values outside [q25 − k·IQR, q75 + k·IQR]
    * (Tukey's fences, k = 1.5). The quartiles come from the SAME
    * stored-histogram estimator as q75/q100 (shared constants — the
    * gate, the batch quantiles, and the streamed quantiles cannot
    * drift), so the bounds are cell-exact cross-engine: q_est's fixed
    * IEEE order is already proven, and the fence arithmetic mirrors
    * operand-for-operand. The bounds table is group-bounded (one row
    * per event_type) and broadcasts; the flagging pass is one map-side
    * join over the scan — no per-row quantile work at any scale.
    */
  def outlierGate(s: SparkSession, dir: String, width: Double = 8.0,
      buckets: Int = 64, k: Double = 1.5): DataFrame = {
    val ev = Tables.events(s, dir)
    val qs = histQuantiles(
      histGrid(ev.select(col("event_type"), col("value")), width, buckets),
      width, Seq(0.25, 0.75))
    val b = qs.groupBy(col("event_type")).agg(
      max(when(col("p") === 0.25, col("q_est"))).as("q25"),
      max(when(col("p") === 0.75, col("q_est"))).as("q75"))
    val bounds = b.select(col("event_type"),
      (col("q25") - lit(k) * (col("q75") - col("q25"))).as("lo"),
      (col("q75") + lit(k) * (col("q75") - col("q25"))).as("hi"))
    ev.select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(bounds), Seq("event_type"))
      .withColumn("is_outlier",
        (col("value") < col("lo") || col("value") > col("hi")).cast("int"))
  }

  def outlierGateSql(width: Double = 8.0, buckets: Int = 64,
      k: Double = 1.5): String =
    s"""WITH qh AS (SELECT event_type, p, q_est
                    FROM (${quantileHistogramSql(width, buckets, Seq(0.25, 0.75))}) t),
        b AS (SELECT event_type,
                     max(CASE WHEN p = 0.25 THEN q_est END) AS q25,
                     max(CASE WHEN p = 0.75 THEN q_est END) AS q75
              FROM qh GROUP BY 1),
        bounds AS (SELECT event_type,
                          q25 - ($k) * (q75 - q25) AS lo,
                          q75 + ($k) * (q75 - q25) AS hi
                   FROM b)
        SELECT e.event_id, e.event_type, e.value, bounds.lo, bounds.hi,
               (e.value < bounds.lo OR e.value > bounds.hi)::INT AS is_outlier
        FROM events e JOIN bounds USING (event_type)"""

  /** Winsorization report (q149) — the TRANSFORM counterpart of q120's
    * outlier flagging: clip per-type values to the [P01, P99] fences
    * from the SAME stored-histogram estimator, and report per type the
    * clip counts plus the raw vs winsorized micro-unit sums — the
    * before/after evidence a feature-engineering pipeline logs when it
    * tames heavy tails. The fences are group-bounded broadcasts
    * (shared q75/q100/q120 arithmetic, cell-exact cross-engine); the
    * clipping pass is one map-side join over the scan; sums are
    * `floor(x·1e6)` BIGINTs (the q96 micro-unit contract) so the
    * aggregate hashes exactly. NULL values pass through unclipped and
    * uncounted (explicit CASE both sides — least/greatest's
    * NULL-skipping would otherwise silently turn NULL into the fence).
    */
  def winsorizeReport(s: SparkSession, dir: String, width: Double = 8.0,
      buckets: Int = 64): DataFrame = {
    val ev = Tables.events(s, dir)
    val qs = histQuantiles(
      histGrid(ev.select(col("event_type"), col("value")), width, buckets),
      width, Seq(0.01, 0.99))
    val bounds = qs.groupBy(col("event_type")).agg(
      max(when(col("p") === 0.01, col("q_est"))).as("lo"),
      max(when(col("p") === 0.99, col("q_est"))).as("hi"))
    val clipped = ev.select(col("event_type"), col("value"))
      .join(broadcast(bounds), Seq("event_type"))
      .select(col("event_type"), col("value"),
        when(col("value") < col("lo"), lit(1L)).otherwise(lit(0L)).as("clip_lo"),
        when(col("value") > col("hi"), lit(1L)).otherwise(lit(0L)).as("clip_hi"),
        when(col("value").isNull, lit(null).cast("double"))
          .otherwise(when(col("value") < col("lo"), col("lo"))
            .when(col("value") > col("hi"), col("hi"))
            .otherwise(col("value"))).as("wv"))
    clipped.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("clip_lo")).as("n_clip_lo"),
        sum(col("clip_hi")).as("n_clip_hi"),
        sum(floor(col("value") * lit(1e6)).cast("long")).as("sum_raw_micro"),
        sum(floor(col("wv") * lit(1e6)).cast("long")).as("sum_win_micro"))
  }

  def winsorizeReportSql(width: Double = 8.0, buckets: Int = 64): String =
    s"""WITH qh AS (SELECT event_type, p, q_est
                    FROM (${quantileHistogramSql(width, buckets, Seq(0.01, 0.99))}) t),
        b AS (SELECT event_type,
                     max(CASE WHEN p = 0.01 THEN q_est END) AS lo,
                     max(CASE WHEN p = 0.99 THEN q_est END) AS hi
              FROM qh GROUP BY 1),
        c AS (SELECT e.event_type, e.value,
                     CASE WHEN e.value < b.lo THEN 1 ELSE 0 END AS clip_lo,
                     CASE WHEN e.value > b.hi THEN 1 ELSE 0 END AS clip_hi,
                     CASE WHEN e.value IS NULL THEN NULL
                          WHEN e.value < b.lo THEN b.lo
                          WHEN e.value > b.hi THEN b.hi
                          ELSE e.value END AS wv
              FROM events e JOIN b USING (event_type))
        SELECT event_type, count(*)::BIGINT AS n,
               sum(clip_lo)::BIGINT AS n_clip_lo,
               sum(clip_hi)::BIGINT AS n_clip_hi,
               sum(floor(value * 1000000)::BIGINT)::BIGINT AS sum_raw_micro,
               sum(floor(wv * 1000000)::BIGINT)::BIGINT AS sum_win_micro
        FROM c GROUP BY 1"""

  def quantileHistogramSql(width: Double = 8.0, buckets: Int = 64,
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): String =
    s"""WITH hist AS (
          SELECT event_type, greatest(0, least(floor(value / ($width)::DOUBLE)::BIGINT, ${buckets - 1})) AS bucket,
                 count(*) AS cnt
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        cum AS (
          SELECT event_type, bucket, cnt,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
          FROM hist),
        nn AS (SELECT event_type, max(cum)::BIGINT AS n FROM cum GROUP BY 1),
        ranks AS (
          SELECT nn.event_type, nn.n, t.p, ceil(t.p * nn.n)::BIGINT AS rank
          FROM nn, (SELECT unnest([${ps.mkString(", ")}]::DOUBLE[]) AS p) t),
        cand AS (
          SELECT r.event_type, r.p, r.n, r.rank, c.bucket, c.cnt, c.cum,
                 row_number() OVER (PARTITION BY r.event_type, r.p ORDER BY c.bucket) AS rn
          FROM ranks r JOIN cum c ON r.event_type = c.event_type AND c.cum >= r.rank)
        SELECT event_type, p, n, rank, bucket,
               bucket * ($width)::DOUBLE + (rank - (cum - cnt))::DOUBLE / cnt::DOUBLE * ($width)::DOUBLE AS q_est
        FROM cand WHERE rn = 1"""

  /** Incremental materialized-aggregate maintenance (IVM): the nightly
    * 100 TB move is "merge today's DELTA into yesterday's aggregate",
    * never "recompute from scratch" — possible exactly when every
    * maintained statistic is a mergeable partial state. Here the event
    * log splits into base (event_id % 10 != 9) and delta (= 9), each
    * side aggregates independently per event_type (count, DECIMAL sum,
    * min, max, and the q55 HLL registers for distinct users), and the
    * states MERGE: counts/sums add, min/max fold, registers take the
    * per-bucket max. The oracle recomputes the same statistics from
    * scratch over the whole log — so the merge path is held cell-exact
    * to the scratch path, the defining IVM correctness property
    * (including the sketch: register max-merge == rebuilt registers).
    *
    * Scale: both sides are ordinary two-phase groupBys (map-side
    * partial states), the merge joins group-cardinality tables, and
    * only the delta is rescanned on a refresh — the point of the op.
    * avg/stddev merge the same way (sum+count, sum+sum²); a
    * non-mergeable statistic (exact median) must be re-derived and is
    * deliberately absent.
    */
  def incrementalAgg(s: SparkSession, dir: String, p: Int = 5): DataFrame =
    incrementalAggFromEvents(Tables.events(s, dir), p)

  /** [[incrementalAgg]] core over any frame with `event_id`,
    * `event_type`, `user_id`, `value`.
    */
  def incrementalAggFromEvents(ev: DataFrame, p: Int = 5): DataFrame = {
    // ONE scan per statistic family: tag each row with its side and
    // aggregate per (event_type, side) — the per-side partial states —
    // then MERGE the (≤ 2) partials per type in a second, tiny stage.
    // (The old shape filtered the log once per side per family = four
    // scans; the merge laws are unchanged, only the scan count is.)
    val tagged = ev.withColumn("is_delta", col("event_id") % 10 === 9)
    val sideS = tagged.groupBy(col("event_type"), col("is_delta")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,2)")).as("sum_v"),
      min(col("value")).as("min_v"),
      max(col("value")).as("max_v"))
    // scalar-state merge: counts/sums ADD, min/max fold. sum/min/max
    // skip NULL partials and return NULL only when every partial is
    // NULL — exactly the coalesce/least/greatest laws of a two-sided
    // merge, so a group whose values are ALL NULL keeps a NULL sum
    // (the defining merge==scratch property) and a group present on
    // one side only inherits that side's extremum
    val mergedS = sideS.groupBy(col("event_type")).agg(
      sum(col("n")).as("n"),
      sum(col("sum_v")).cast("double").as("sum_value"),
      min(col("min_v")).as("min_value"),
      max(col("max_v")).as("max_value"))
    // register merge: per-bucket max across sides, then the q55 fold —
    // both via the shared helpers, so q55 and q73 share one register math
    val sideR = hllRegistersBy(tagged, Seq("event_type", "is_delta"),
      col("user_id"), p)
    val mergedR = hllSums(
      sideR.groupBy(col("event_type"), col("bucket")).agg(max(col("mj")).as("mj")),
      "event_type", p, "hll_users")
      .select(col("event_type"), col("hll_s"), col("hll_users"))
    mergedS.join(mergedR, "event_type")
      .select(col("event_type"), col("n"), col("sum_value"),
        col("min_value"), col("max_value"), col("hll_s"), col("hll_users"))
  }

  /** The scratch-path oracle: identical statistics computed over the
    * WHOLE log in one pass — what [[incrementalAgg]]'s merge must equal.
    */
  def incrementalAggSql(p: Int = 5): String =
    s"""WITH ${hllCtes(p)},
        scalars AS (
          SELECT event_type, count(*) AS n,
                 sum(value::DECIMAL(18,2))::DOUBLE AS sum_value,
                 min(value) AS min_value, max(value) AS max_value
          FROM events GROUP BY 1)
        SELECT sc.event_type, sc.n, sc.sum_value, sc.min_value, sc.max_value,
               su.hll_s, ${hllNumerator(p)} / su.hll_s::DOUBLE AS hll_users
        FROM scalars sc JOIN sums su ON sc.event_type = su.event_type"""

  /** Bloom-filter semi-join prefilter: build a k-hash Bloom filter over
    * the "interesting" dimension keys (customers with acctbal above a
    * threshold), probe every order's FK against it, and report the
    * candidate verdict next to ground truth. No false negatives by
    * construction (every true match passes); false positives are the
    * filter's documented trade-off, visible here as
    * `bloom_pass=1, true_match=0` rows. Bit positions are
    * `md5(key || ':' || i) % m` for i < k — portable, so the oracle
    * rebuilds the identical filter. The bit table is bounded by m and
    * broadcast; at scale this is the shape of semi-join pushdown where
    * shipping the exact key set would be too large.
    */
  /** The k position hashes `md5(key || ':' || i) % m` — ONE definition
    * shared by the bit-table build (batch q57, streamed q102) and the
    * probe, the same no-drift contract as [[cmsPos]].
    */
  private def bloomIdx(key: Column, m: Int, k: Int): Seq[Column] =
    (0 until k).map(i =>
      graft.functions.md5_long(concat(key.cast("string"), lit(":" + i))) % m)

  /** Bit-table build from a hot-key frame (column `key`): the set
    * positions with their contributing-key counts — ≤ m rows, the
    * sketch-bounded state that makes the streamed build (q102) a
    * Complete-mode aggregation (counts ADD across batches; the probe
    * only consults position presence, so the streamed table prunes
    * identically to the batch one).
    */
  def bloomBits(hot: DataFrame, m: Int = 1 << 16, k: Int = 4): DataFrame =
    hot.select(explode(array(bloomIdx(col("key"), m, k): _*)).as("pos"))
      .groupBy(col("pos")).agg(count(lit(1)).as("n_keys"))

  /** q57's probe/verdict against a SUPPLIED bit table — factored so the
    * batch build (q57) and the streamed one (q102) share the identical
    * probe path.
    */
  def bloomVerdict(s: SparkSession, dir: String, bits: DataFrame,
      minBal: Double = 5000.0, m: Int = 1 << 16, k: Int = 4): DataFrame = {
    val hot = Tables.load(s, dir, "customer")
      .filter(col("c_acctbal") > minBal)
      .select(col("c_custkey"))
    // ONE probe pass over the fact table: every order emits exactly k
    // position rows, so the group-back recovers every order (no second
    // orders scan to restore the zero-hit ones); a LEFT join against
    // the bit table marks hits, count(hit) counts the non-nulls
    val probes = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey").as("key"))
      .select(col("o_orderkey"), col("key"),
        explode(array(bloomIdx(col("key"), m, k): _*)).as("pos"))
    val verdict = probes
      .join(broadcast(bits.select(col("pos")).withColumn("hit", lit(1))),
        Seq("pos"), "left")
      .groupBy(col("o_orderkey"), col("key"))
      .agg(count(col("hit")).as("hits"))
      .withColumn("bloom_pass", (col("hits") === k).cast("int"))
    // ground truth: no broadcast hint — the hot-key set scales with the
    // dimension table, so AQE decides from the runtime size
    verdict.join(hot, col("key") === col("c_custkey"), "left")
      .select(col("o_orderkey"), col("key").as("o_custkey"),
        col("bloom_pass"),
        col("c_custkey").isNotNull.cast("int").as("true_match"))
  }

  def bloomPrune(s: SparkSession, dir: String,
      minBal: Double = 5000.0, m: Int = 1 << 16, k: Int = 4): DataFrame = {
    val hot = Tables.load(s, dir, "customer")
      .filter(col("c_acctbal") > minBal)
      .select(col("c_custkey").as("key"))
    bloomVerdict(s, dir, bloomBits(hot, m, k), minBal, m, k)
  }

  /** The ONE position hash `md5(user || ':' || i) % w` — build and
    * probe (and the streaming maintenance build, q94) must agree on it
    * cell-exactly, so it has a single definition.
    */
  private def cmsPos(user: Column, i: Column, w: Int): Column =
    graft.functions.md5_long(concat(user.cast("string"),
      lit(":"), i.cast("string"))) % w

  /** The d-row (i, pos) derivation feeding the grid's groupBy — shared
    * verbatim by the batch build and q94's streaming Complete-mode
    * aggregation, so the two grids are the same computation over the
    * same rows.
    */
  def cmsPositions(ev: DataFrame, d: Int = 4, w: Int = 512): DataFrame =
    ev.select(col("user_id"), explode(array((0 until d).map(lit(_)): _*)).as("i"))
      .select(col("i"), cmsPos(col("user_id"), col("i"), w).as("pos"))

  /** The d×w counter grid — the ONE grid definition, shared by the
    * batch build (q69), q94's streaming Complete-mode aggregation, and
    * the specs, so the streamed and batch grids cannot drift.
    */
  def cmsGrid(ev: DataFrame, d: Int = 4, w: Int = 512): DataFrame =
    cmsPositions(ev, d, w)
      .groupBy(col("i"), col("pos")).agg(count(lit(1)).as("c"))

  /** Point estimates for the exact top-`topN` users against a supplied
    * grid — factored so q69 probes its batch-built grid and q94 probes
    * the STREAMED one with the identical code path.
    */
  def cmsEstimates(ev: DataFrame, grid: DataFrame,
      d: Int = 4, w: Int = 512, topN: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = (0 until d).map(lit(_))
    // candidates: top-N by exact count (deterministic tiebreak on id);
    // the literal rank bound plans as WindowGroupLimit pre-shuffle.
    // NULL users are excluded BEFORE ranking: cmsPos(NULL) is NULL so
    // a NULL candidate could never probe the grid anyway, and Spark
    // ranks NULLs FIRST on the ascending tiebreak while DuckDB ranks
    // them LAST — were a NULL group to tie at the top-N boundary the
    // engines would pick different candidate sets.
    val exact = ev.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
    val cand = exact.withColumn("r", row_number().over(
        Window.orderBy(col("n_exact").desc, col("user_id").asc)))
      .filter(col("r") <= topN).drop("r")
    // probe: d lookups per candidate, min across the rows
    val probes = cand.select(col("user_id"), col("n_exact"),
        explode(array(rows: _*)).as("i"))
      .withColumn("pos", cmsPos(col("user_id"), col("i"), w))
    probes.join(broadcast(grid), Seq("i", "pos"))
      .groupBy(col("user_id"), col("n_exact"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("user_id"), col("n_exact"), col("cms_est"))
  }

  /** Count-min sketch heavy hitters: estimate each user's event count
    * from a d×w counter grid and report the estimate next to ground
    * truth for the top `topN` users by exact count. Counter update is
    * `grid[i][md5(user || ':' || i) % w] += 1` for every event and
    * every row i < d; the point estimate is the MIN over the d rows —
    * one-sided by construction (collisions only ADD), so
    * `cms_est >= n_exact` always (unit-tested, as is counter-wise
    * mergeability — the property that lets per-partition sketches
    * combine into the global one). Pure integer math on the portable
    * md5 hash → the grid and the estimates are cell-exact in DuckDB.
    *
    * Scale (100 TB): the grid is bounded by d·w cells regardless of
    * input size, and it is built by an ordinary two-phase groupBy —
    * map-side partial counts mean the shuffle carries at most d·w rows
    * per map partition, NOT d× the event count. The probe joins the
    * candidate×d rows against the broadcast grid. d·w here is sized
    * for the demo corpus; a production stream uses w = ceil(e/eps)
    * for an eps·N error bound — still executor-memory-trivial.
    */
  def cmsHeavyHitters(s: SparkSession, dir: String,
      d: Int = 4, w: Int = 512, topN: Int = 25): DataFrame = {
    val ev = Tables.events(s, dir)
    cmsEstimates(ev, cmsGrid(ev, d, w), d, w, topN)
  }

  def cmsHeavyHittersSql(d: Int = 4, w: Int = 512, topN: Int = 25): String = {
    val is = (0 until d).map(_.toString).mkString(", ")
    s"""WITH ks AS (SELECT unnest([$is]) AS i),
        grid AS (
          SELECT i,
                 ('0x' || substring(md5(user_id::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT % $w AS pos,
                 count(*) AS c
          FROM events, ks GROUP BY 1, 2),
        ex AS (SELECT user_id, count(*) AS n_exact FROM events
               WHERE user_id IS NOT NULL GROUP BY 1),
        cand AS (
          SELECT user_id, n_exact FROM (
            SELECT user_id, n_exact,
                   row_number() OVER (ORDER BY n_exact DESC, user_id ASC) AS r
            FROM ex)
          WHERE r <= $topN),
        probes AS (
          SELECT c.user_id, c.n_exact, k.i,
                 ('0x' || substring(md5(c.user_id::VARCHAR || ':' || k.i::VARCHAR), 1, 15))::BIGINT % $w AS pos
          FROM cand c, ks k)
        SELECT p.user_id, p.n_exact, min(g.c) AS cms_est
        FROM probes p JOIN grid g ON p.i = g.i AND p.pos = g.pos
        GROUP BY 1, 2"""
  }

  // ---- evicting windowed CMS (q146) ----

  /** The CMS grid keyed by (hourly event-time window, i, pos) under
    * watermark + Append — the q139 eviction progression applied to the
    * SUM-merge sketch: counters are plain windowed counts, so each
    * window's d×w grid emits exactly once when the watermark passes
    * its end and its state drops; streaming state is bounded by open
    * windows × d·w cells instead of history × d·w. Position hash and
    * explode shape are [[cmsPositions]]'s — one derivation across the
    * batch grid (q69), the Complete-mode stream (q94), and this form.
    */
  def cmsWindowedGrid(ev: DataFrame, d: Int = 4, w: Int = 512,
      windowLen: String = "1 hour", delay: String = "30 minutes"): DataFrame =
    ev.withWatermark("ts", delay)
      .select(col("ts"), col("user_id"),
        explode(array((0 until d).map(lit(_)): _*)).as("i"))
      .select(col("ts"), col("i"), cmsPos(col("user_id"), col("i"), w).as("pos"))
      .groupBy(window(col("ts"), windowLen), col("i"), col("pos"))
      .agg(count(lit(1)).as("c"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("win_start"),
        col("i"), col("pos"), col("c"))

  /** The q124-style sentinel horizon for [[cmsWindowedGrid]]. */
  val cmsWindowedClearMs: Long = 3600L * 1000 + 30L * 60 * 1000

  /** Fold the emitted finalized grids to per-(window, top-N user)
    * estimates beside ground truth — [[cmsEstimates]]'s probe with the
    * window as an extra key everywhere. The candidate rank bound is
    * per-window (PARTITION BY win_start), so output is windows × topN
    * rows; the probe join keys on (win_start, i, pos) so each window
    * probes only its own finalized grid.
    */
  def cmsWindowedFold(ev: DataFrame, state: DataFrame,
      d: Int = 4, w: Int = 512, topN: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("win_start")
    // NULL users excluded before ranking, as in [[cmsEstimates]]: they
    // can never probe the grid (cmsPos(NULL) is NULL), and the engines
    // disagree on NULL placement in the ascending tiebreak — per-window
    // counts are small enough that a boundary tie is actually likely.
    val exact = ev.filter(col("user_id").isNotNull)
      .groupBy(win, col("user_id")).agg(count(lit(1)).as("n_exact"))
    val cand = exact.withColumn("r", row_number().over(
        Window.partitionBy(col("win_start"))
          .orderBy(col("n_exact").desc, col("user_id").asc)))
      .filter(col("r") <= topN).drop("r")
    val probes = cand.select(col("win_start"), col("user_id"), col("n_exact"),
        explode(array((0 until d).map(lit(_)): _*)).as("i"))
      .withColumn("pos", cmsPos(col("user_id"), col("i"), w))
    probes.join(state, Seq("win_start", "i", "pos"))
      .groupBy(col("win_start"), col("user_id"), col("n_exact"))
      .agg(min(col("c")).as("cms_est"))
  }

  /** Oracle: the q69 chain with the hour window added to every key. */
  def cmsWindowedSql(d: Int = 4, w: Int = 512, topN: Int = 10): String = {
    val is = (0 until d).map(_.toString).mkString(", ")
    val win = "strftime(date_trunc('hour', ts), '%Y-%m-%d %H')"
    s"""WITH ks AS (SELECT unnest([$is]) AS i),
        grid AS (
          SELECT $win AS win_start, i,
                 ('0x' || substring(md5(user_id::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT % $w AS pos,
                 count(*) AS c
          FROM events, ks GROUP BY 1, 2, 3),
        ex AS (SELECT $win AS win_start, user_id, count(*) AS n_exact
               FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        cand AS (
          SELECT win_start, user_id, n_exact FROM (
            SELECT win_start, user_id, n_exact,
                   row_number() OVER (PARTITION BY win_start
                     ORDER BY n_exact DESC, user_id ASC) AS r
            FROM ex)
          WHERE r <= $topN),
        probes AS (
          SELECT c.win_start, c.user_id, c.n_exact, k.i,
                 ('0x' || substring(md5(c.user_id::VARCHAR || ':' || k.i::VARCHAR), 1, 15))::BIGINT % $w AS pos
          FROM cand c, ks k)
        SELECT p.win_start, p.user_id, p.n_exact, min(g.c) AS cms_est
        FROM probes p JOIN grid g
          ON p.win_start = g.win_start AND p.i = g.i AND p.pos = g.pos
        GROUP BY 1, 2, 3"""
  }

  /** CMS join-size estimation (q138) — the AMS/CMS inner-product
    * bound every cost-based optimizer variant uses to size a join
    * WITHOUT running it: build one d×w counter grid per side over the
    * join key ([[cmsGrid]] — THE grid definition, shared with q69/q94,
    * so the estimator rides sketches that already exist), take the
    * per-row inner product Σ_pos cA·cB, and report the MIN across the
    * d rows next to the exact join cardinality and the overestimate
    * ratio. Everything up to the ratio is exact BIGINT arithmetic; the
    * grids are d×w-bounded whatever the table sizes, and the (i, pos)
    * join touches ≤ d·w rows — the whole estimate costs two key scans
    * at any scale, which is the point.
    */
  def cmsJoinSizeEstimate(s: SparkSession, dir: String,
      d: Int = 4, w: Int = 512): DataFrame = {
    val ga = cmsGrid(Tables.load(s, dir, "orders")
      .select(col("o_custkey").cast("long").as("user_id")), d, w)
      .withColumnRenamed("c", "ca")
    val gb = cmsGrid(Tables.events(s, dir).select(col("user_id")), d, w)
      .withColumnRenamed("c", "cb")
    val est = ga.join(gb, Seq("i", "pos"))
      .groupBy(col("i")).agg(sum(col("ca") * col("cb")).as("row_est"))
      .agg(min(col("row_est")).as("cms_join_est"))
    val actual = Tables.load(s, dir, "orders")
      .select(col("o_custkey").cast("long").as("k"))
      .join(Tables.events(s, dir).select(col("user_id").as("k")), "k")
      .agg(count(lit(1)).as("n_actual"))
    est.crossJoin(actual).select(col("cms_join_est"), col("n_actual"),
      when(col("n_actual") === 0, lit(null))
        .otherwise(col("cms_join_est").cast("double") / col("n_actual").cast("double"))
        .as("overestimate"))
  }

  /** CMS read for the HOTTEST key's frequency upper bound: per row the
    * max cell is ≥ every key's count, so the min across rows is a
    * valid (one-sided) bound on the hottest key — the skew statistic
    * q222's join planner consults. Bounded: the grid is d×w whatever
    * the table size; one collect of ONE long, cached per dir.
    */
  def cmsHottestKeyBound(s: SparkSession, dir: String,
      d: Int = 4, w: Int = 512): Long =
    graft.ArtifactCache.value("Sketches.cmsHottestBound", (dir, d, w)) {
      cmsGrid(Tables.events(s, dir).select(col("user_id")), d, w)
        .groupBy(col("i")).agg(max(col("c")).as("m"))
        .agg(min(col("m")).as("bound"))
        .head().getLong(0)
    }

  def cmsJoinSizeEstimateSql(d: Int = 4, w: Int = 512): String = {
    val is = (0 until d).map(_.toString).mkString(", ")
    s"""WITH ks AS (SELECT unnest([$is]) AS i),
        ga AS (SELECT i,
                      ('0x' || substring(md5(o_custkey::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT % $w AS pos,
                      count(*) AS ca
               FROM orders, ks GROUP BY 1, 2),
        gb AS (SELECT i,
                      ('0x' || substring(md5(user_id::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT % $w AS pos,
                      count(*) AS cb
               FROM events, ks GROUP BY 1, 2),
        est AS (SELECT min(row_est)::BIGINT AS cms_join_est FROM (
          SELECT ga.i, sum(ga.ca * gb.cb)::BIGINT AS row_est
          FROM ga JOIN gb ON ga.i = gb.i AND ga.pos = gb.pos GROUP BY 1)),
        act AS (SELECT count(*)::BIGINT AS n_actual
                FROM orders JOIN events ON o_custkey = user_id)
        SELECT cms_join_est, n_actual,
               CASE WHEN n_actual = 0 THEN NULL
                    ELSE cms_join_est::DOUBLE / n_actual::DOUBLE END AS overestimate
        FROM est, act"""
  }

  def bloomPruneSql(minBal: Double = 5000.0, m: Int = 1 << 16, k: Int = 4): String = {
    val is = (0 until k).map(_.toString).mkString(", ")
    s"""WITH ks AS (SELECT unnest([$is]) AS i),
        bits AS (
          SELECT DISTINCT
            ('0x' || substring(md5(c_custkey::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT % $m AS pos
          FROM customer, ks WHERE c_acctbal > $minBal),
        probes AS (
          SELECT o_orderkey, o_custkey,
            ('0x' || substring(md5(o_custkey::VARCHAR || ':' || i::VARCHAR), 1, 15))::BIGINT % $m AS pos
          FROM orders, ks),
        verdict AS (
          SELECT o_orderkey, count(*) AS hits
          FROM probes WHERE pos IN (SELECT pos FROM bits)
          GROUP BY 1),
        truth AS (SELECT c_custkey FROM customer WHERE c_acctbal > $minBal)
        SELECT o.o_orderkey, o.o_custkey,
               coalesce((v.hits = $k)::INT, 0) AS bloom_pass,
               (t.c_custkey IS NOT NULL)::INT AS true_match
        FROM orders o
        LEFT JOIN verdict v ON o.o_orderkey = v.o_orderkey
        LEFT JOIN truth t ON o.o_custkey = t.c_custkey"""
  }

  // ---- rank normalization from the stored histogram (q199) ----

  /** Rank-normalize a feature at corpus scale WITHOUT sorting it: each
    * event's value maps to its within-type mid-rank percentile read
    * off the stored q75/q100 histogram grid — the classic
    * quantile-transform feature step (and the remedy q119's skew
    * report calls for), served the way a 100 TB pipeline must serve
    * it: the grid (≤ groups×buckets rows, shared constants with
    * q75/q100/q120 so the family cannot drift) broadcasts, and the
    * transform is one map-side join over the scan — no global sort,
    * no per-row quantile work. `pct = (2·cum_excl + cnt) / 2N` is the
    * mid-rank of the value's bucket: a single division of exact
    * BIGINTs, monotone in the bucket, and exactly 0.5 for a bucket
    * holding the whole mass.
    */
  def rankNormalize(s: SparkSession, dir: String, width: Double = 8.0,
      buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket").asc)
    val grid = histGrid(ev, width, buckets)
      .withColumn("cum_excl",
        coalesce(sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_total",
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    ev.withColumn("bucket", histBucket(col("value"), width, buckets))
      .join(broadcast(grid), Seq("event_type", "bucket"))
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("cum_excl") * 2 + col("cnt")).cast("double")
          / (col("n_total") * 2).cast("double")).as("pct"))
  }

  def rankNormalizeSql(width: Double = 8.0, buckets: Int = 64): String =
    s"""WITH h AS (
          SELECT event_type,
                 greatest(0, least(floor(value / ($width)::DOUBLE)::BIGINT, ${buckets - 1})) AS bucket,
                 count(*)::BIGINT AS cnt
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        c AS (SELECT event_type, bucket, cnt,
                     coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_excl,
                     (sum(cnt) OVER (PARTITION BY event_type))::BIGINT AS n_total
              FROM h)
        SELECT e.event_id, e.event_type, e.value,
               ((c.cum_excl * 2 + c.cnt)::BIGINT)::DOUBLE
                 / ((c.n_total * 2)::BIGINT)::DOUBLE AS pct
        FROM events e JOIN c
          ON e.event_type = c.event_type
         AND greatest(0, least(floor(e.value / ($width)::DOUBLE)::BIGINT, ${buckets - 1})) = c.bucket
        WHERE e.value IS NOT NULL"""

  // ---- HLL set algebra (q194) ----

  /** Sketch SET OPERATIONS over q55's registers — the property that
    * makes HLL an algebra, not just a counter: the union of two
    * sketches is the per-bucket register MAX (exactly the sketch of
    * the concatenated streams), and intersections fall out by
    * inclusion-exclusion on the estimates. Answers "how many users
    * both viewed and purchased" from two m-register blocks — no re-scan
    * of either side, which at 100 TB is the difference between an
    * O(m) merge of stored sketches and a distinct-join over raw logs.
    *
    * Exactness contract: the three register S-carries (`s_a`, `s_b`,
    * `s_union`) are exact BIGINTs pinning the full register state
    * through the oracle; each estimate is the q55 single division, and
    * the intersection is the literal composition est_a + est_b −
    * est_union (deterministic IEEE on identical operands — inclusion-
    * exclusion is the standard HLL intersection, with its known error
    * blow-up for small intersections; consumers read s_* when they
    * need to re-derive).
    */
  def hllSetAlgebra(s: SparkSession, dir: String, p: Int = 5,
      typeA: String = "view", typeB: String = "purchase"): DataFrame = {
    val ev = graft.Tables.events(s, dir).filter(col("event_type").isin(typeA, typeB))
    val regs = hllRegisters(ev, "event_type", col("user_id"), p)
    val uni = regs.groupBy(col("bucket")).agg(max(col("mj")).as("mj"))
      .select(lit("union").as("event_type"), col("bucket"), col("mj"))
    hllSumsBy(regs.unionByName(uni), Seq("event_type"), p, "est")
      .agg(
        max(when(col("event_type") === typeA, col("hll_s"))).as("s_a"),
        max(when(col("event_type") === typeB, col("hll_s"))).as("s_b"),
        max(when(col("event_type") === "union", col("hll_s"))).as("s_union"),
        max(when(col("event_type") === typeA, col("est"))).as("est_a"),
        max(when(col("event_type") === typeB, col("est"))).as("est_b"),
        max(when(col("event_type") === "union", col("est"))).as("est_union"))
      .withColumn("est_intersection",
        col("est_a") + col("est_b") - col("est_union"))
  }

  def hllSetAlgebraSql(p: Int = 5, typeA: String = "view",
      typeB: String = "purchase"): String = {
    val m = 1 << p
    val wbits = 60 - p
    s"""WITH h AS (SELECT event_type,
                          ('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
                   FROM events WHERE event_type IN ('$typeA', '$typeB')),
        b AS (SELECT event_type, h % $m AS bucket, h // $m AS w FROM h),
        r AS (SELECT event_type, bucket,
                     CASE WHEN w = 0 THEN ${wbits + 1}
                          ELSE ${wbits + 1} - length(bin(w)) END AS rho
              FROM b),
        regs AS (SELECT event_type, bucket, max(rho) AS mj FROM r GROUP BY 1, 2),
        au AS (SELECT event_type, bucket, mj FROM regs
               UNION ALL
               SELECT 'union' AS event_type, bucket, max(mj) AS mj
               FROM regs GROUP BY 2),
        sums AS (SELECT event_type,
                        (sum((1::BIGINT << (${wbits + 1} - mj)))::BIGINT
                          + ($m - count(*)) * (1::BIGINT << ${wbits + 1}))::BIGINT AS hll_s
                 FROM au GROUP BY 1),
        est AS (SELECT event_type, hll_s,
                       ${hllNumerator(p)} / hll_s::DOUBLE AS est
                FROM sums),
        piv AS (SELECT
                  max(CASE WHEN event_type = '$typeA' THEN hll_s END)::BIGINT AS s_a,
                  max(CASE WHEN event_type = '$typeB' THEN hll_s END)::BIGINT AS s_b,
                  max(CASE WHEN event_type = 'union' THEN hll_s END)::BIGINT AS s_union,
                  max(CASE WHEN event_type = '$typeA' THEN est END) AS est_a,
                  max(CASE WHEN event_type = '$typeB' THEN est END) AS est_b,
                  max(CASE WHEN event_type = 'union' THEN est END) AS est_union
                FROM est)
        SELECT s_a, s_b, s_union, est_a, est_b, est_union,
               est_a + est_b - est_union AS est_intersection
        FROM piv"""
  }
}
