package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data-pipeline operators beyond the dedup/similarity/text
  * families: deterministic dataset splitting, range-join tagging, and
  * TF-IDF keyword extraction. Like every graft operator, each has a
  * cell-exact DuckDB oracle built from the same constants.
  */
object PipelineOps {

  // ---- deterministic hash split (train/val/test) ----

  /** Assign every document to train/val/test by a hash of its id —
    * the standard way to make a split that is (a) stable under
    * re-runs and data re-ordering, (b) consistent across every stage
    * of a pipeline without coordination, and (c) leak-free as new data
    * arrives (a doc's split never changes). Pure per-row map: zero
    * shuffles at any scale. Buckets use [[graft.functions.md5_long]]
    * mod 100 (md5 is the portable hash — identical in DuckDB).
    */
  def hashSplit(s: SparkSession, dir: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        (graft.functions.md5_long(col("doc_id")) % 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))

  def hashSplitSql(trainPct: Int = 80, valPct: Int = 10): String =
    s"""SELECT doc_id,
          ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS bucket,
          CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < $trainPct THEN 'train'
               WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < ${trainPct + valPct} THEN 'val'
               ELSE 'test' END AS split
        FROM documents"""

  /** Leakage-safe train/val/test split: a per-DOCUMENT hash split
    * ([[hashSplit]]) puts near-duplicate documents on both sides of the
    * eval boundary — the classic contamination bug where "held-out"
    * examples have a 0.9-Jaccard twin in training. The fix is to assign
    * splits to near-dup CLUSTERS: group key = the document's cluster
    * label ([[Dedup.dedupClusters]]; its own id when unclustered), and
    * the split hash is taken over the GROUP key, so an entire cluster
    * lands in one split by construction. Same deterministic md5 draw
    * and 80/10/10 thresholds as q39; the all-in-one-split invariant is
    * pinned by test.
    */
  def leakageSafeSplit(s: SparkSession, dir: String, trainPct: Int = 80,
      valPct: Int = 10, threshold: Double = 0.8): DataFrame = {
    val clusters = Dedup.dedupClusters(s, dir, threshold)
      .select(col("doc_id"), col("cluster_id"))
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_key"))
      .withColumn("bucket", graft.functions.md5_long(col("group_key")) % 100)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  def leakageSafeSplitSql(trainPct: Int = 80, valPct: Int = 10,
      threshold: Double = 0.8): String = {
    val b = "('0x' || substring(md5(group_key::VARCHAR), 1, 15))::BIGINT % 100"
    s"""WITH RECURSIVE ${Dedup.dedupClustersCtes(threshold)},
        cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
        g AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS group_key
              FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
        SELECT doc_id, group_key, $b AS bucket,
               CASE WHEN $b < $trainPct THEN 'train'
                    WHEN $b < ${trainPct + valPct} THEN 'val'
                    ELSE 'test' END AS split
        FROM g"""
  }

  /** Quality-weighted (importance) sampling — the "data mixing" move of
    * a training pipeline: keep each document with probability
    * proportional to its quality score (clamped to a floor so no
    * stratum vanishes entirely), but make the draw DETERMINISTIC: the
    * md5 id-hash mapped to [0,1) is the uniform variate, so the same
    * document gets the same verdict across runs, engines, and
    * partitionings (the q39/q56 reproducibility discipline applied to
    * weighted sampling). Pure per-row map — zero shuffles at any scale.
    * Portability: quality is the q17 expression (proven cell-exact in
    * DuckDB); the draw divides the 60-bit hash by 2^60 (exact power of
    * two), so both engines compare identical doubles.
    */
  def importanceSample(s: SparkSession, dir: String, floorP: Double = 0.1): DataFrame =
    TextAnalysis.qualityScores(Tables.load(s, dir, "documents"), col("text"))
      .select(col("doc_id"), col("quality"),
        (graft.functions.md5_long(col("doc_id")).cast("double")
          / lit(math.pow(2, 60))).as("draw"))
      .withColumn("keep_p", greatest(col("quality"), lit(floorP)))
      .withColumn("kept", (col("draw") < col("keep_p")).cast("int"))

  /** Exactly-k weighted sampling WITHOUT replacement, per source —
    * what q68's Bernoulli draw can't give (its sample SIZE is itself
    * random): Efraimidis–Spirakis A-ES keys, `u^(1/w)` ranked
    * descending, equivalently `ln(u)/w` (monotone, one ln + one IEEE
    * division — the cross-engine-identical form), with u the same
    * deterministic md5 uniform as q68 shifted into (0, 1] so the log
    * is finite. The top-k per stratum IS a weighted reservoir: any
    * prefix of the stream yields the same selection as the batch rank,
    * which is why this exact construction is the distributed/streaming
    * reservoir-sampling algorithm (Efraimidis & Spirakis 2006, the
    * A-Res/A-ES family).
    *
    * Scale shape: the key is a pure per-row map; the per-source top-k
    * plans as WindowGroupLimit (rank pushed below the sort) on the
    * source-keyed shuffle — never a global sort, never a driver
    * reservoir. Weight floored at 0.05 (no zero weights → no ±inf
    * keys); ranking compares identical IEEE doubles on both engines,
    * so the selected SET is cell-exact.
    */
  /** The A-ES key projection shared by the batch reservoir (q209) and
    * the live one (q211) — one definition, so the two samplers cannot
    * select different sets. Pure per-row map over (doc_id, source,
    * text).
    */
  def reservoirKeyed(docs: DataFrame, wFloor: Double = 0.05): DataFrame =
    docs.select(col("source"), col("doc_id"),
        TextAnalysis.qualityCol(col("text")).as("quality"))
      .withColumn("es_key",
        log((graft.functions.md5_long(col("doc_id")) + lit(1L)).cast("double")
          / lit(math.pow(2, 60)))
          / greatest(col("quality"), lit(wFloor)))

  def weightedReservoir(s: SparkSession, dir: String, k: Int = 20,
                        wFloor: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("source"))
      .orderBy(col("es_key").desc, col("doc_id"))
    reservoirKeyed(Tables.load(s, dir, "documents"), wFloor)
      .withColumn("rk", row_number().over(win)).filter(col("rk") <= k)
      .select(col("source"), col("doc_id"), col("quality"),
        col("rk").cast("long").as("rk"))
  }

  def weightedReservoirSql(k: Int = 20, wFloor: Double = 0.05): String = {
    val u = "(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT + 1)::DOUBLE / (1152921504606846976)::DOUBLE"
    s"""WITH q AS (SELECT doc_id, quality FROM (${TextAnalysis.qualityScoresSql}) qq),
        keyed AS (SELECT d.doc_id, d.source, q.quality,
                         ln($u) / greatest(q.quality, $wFloor) AS es_key
                  FROM documents d JOIN q ON d.doc_id = q.doc_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY source
                 ORDER BY es_key DESC, doc_id) AS rk FROM keyed)
        SELECT source, doc_id, quality, rk::BIGINT AS rk
        FROM rk WHERE rk <= $k"""
  }

  /** Oracle for the windowed EVICTING reservoir (q281): the per-window
    * batch rank — membership is time-determined (`win = ts_ns div
    * winNs`), the draw is the same deterministic `md5_long(event_id)`
    * both engines compute, so the converged compacted live state must
    * equal this rank cell-exactly (top-k is order-independent within a
    * window, and eviction only fires after the window can no longer
    * receive members). Mirrors the staged delivery's `user_id IS NOT
    * NULL` projection.
    */
  def windowedReservoirEvictingSql(k: Int, winNs: Long): String = {
    val draw = "('0x' || substring(md5(event_id::VARCHAR), 1, 15))::BIGINT"
    s"""WITH ev AS (SELECT event_id, event_type,
                          epoch_ns(ts) // $winNs AS win, $draw AS draw
                   FROM events WHERE user_id IS NOT NULL),
       rk AS (SELECT event_type, win, event_id,
                     row_number() OVER (PARTITION BY event_type, win
                       ORDER BY draw DESC, event_id) AS rk
              FROM ev)
       SELECT event_type, win, event_id, rk::BIGINT AS rk
       FROM rk WHERE rk <= $k"""
  }

  /** Oracle for the WEIGHTED windowed evicting reservoir (q289):
    * q281's per-window rank with the uniform draw replaced by the
    * micro-quantized A-ES key ln(u)/w · 10⁶ (w = greatest(value,
    * 0.05); ONE pinned IEEE chain, floored once — bit-equal across
    * engines, the q211/q260 disciplines composed).
    *
    * Libm-agreement assumption, MEASURED not hoped (r16 advice 4): the
    * chain's only non-IEEE-determined op is ln — java.lang.Math.log vs
    * DuckDB's libm may differ in the last ulp. A k-ulp divergence can
    * flip the single floor only if a draw sits within k ulps of an
    * integer boundary; Round17OpsSpec pins a ≥10⁴-ulp margin for every
    * draw at the oracle SF, so a platform/libm change surfaces as that
    * test failing, never as a silent bench-time cell mismatch.
    */
  def weightedWindowReservoirSql(k: Int, winNs: Long): String = {
    val u = "(('0x' || substring(md5(event_id::VARCHAR), 1, 15))::BIGINT + 1)::DOUBLE / (1152921504606846976)::DOUBLE"
    s"""WITH ev AS (SELECT event_id, event_type,
                          epoch_ns(ts) // $winNs AS win,
                          floor(ln($u)
                            / greatest(coalesce(value, 0), 0.05)
                            * 1000000.0)::BIGINT AS draw
                   FROM events WHERE user_id IS NOT NULL),
       rk AS (SELECT event_type, win, event_id,
                     row_number() OVER (PARTITION BY event_type, win
                       ORDER BY draw DESC, event_id) AS rk
              FROM ev)
       SELECT event_type, win, event_id, rk::BIGINT AS rk
       FROM rk WHERE rk <= $k"""
  }

  def importanceSampleSql(floorP: Double = 0.1): String = {
    val draw = "('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT::DOUBLE / (1152921504606846976)::DOUBLE"
    s"""WITH q AS (${TextAnalysis.qualityScoresSql})
        SELECT doc_id, quality, $draw AS draw,
               greatest(quality, $floorP) AS keep_p,
               ($draw < greatest(quality, $floorP))::INT AS kept
        FROM q"""
  }

  /** Token-budget mixture sampling — the other half of data mixing:
    * [[importanceSample]] weights per-DOCUMENT quality; this one hits
    * per-SOURCE token budgets. Given a target mixture (weight per
    * source) and a global token budget (a fraction of the corpus), each
    * source gets `alloc = budget · w/Σw` tokens and keeps documents at
    * rate `min(1, alloc/source_tokens)` — the standard two-phase rate
    * sampler (totals pass, then a per-row deterministic draw), which is
    * how production mixers hit a budget WITHOUT a per-source sequential
    * scan: a global "take documents until the budget fills" is a
    * running sum over one ordered stream per source (serial at 100 TB),
    * while the rate form needs only per-source totals (a bounded
    * aggregate) and an embarrassingly-parallel per-row comparison.
    * Expected tokens per source = alloc, with TWO documented
    * inexactness sources: (1) the per-row draw hits the rate only in
    * expectation; (2) a SATURATED source (alloc > src_tokens, rate
    * clamped to 1.0) contributes src_tokens < alloc and the surplus is
    * NOT redistributed to the unsaturated sources, so the realized
    * kept-token mass systematically undershoots budgetFrac whenever any
    * clamp fires. Production mixers that must hit the budget exactly
    * iterate the water-filling allocation (re-split the surplus over
    * unsaturated sources until no clamp fires — a loop over the
    * SOURCE-cardinality rate table, driver-cheap at any corpus size);
    * the single-pass form is kept here because its rate table is the
    * direct reading of the mixture config, matching how published
    * mixtures (e.g. Pile/ROOTS-style weights) are specified.
    * [[tokenBudgetMix]] (q104) IS that exact allocation — solved
    * loop-free as a sorted-breakpoint scan over the source table.
    *
    * The demo mixture upweights even-numbered sources 2:1 (an explicit
    * stand-in for real mixture configs like {web:5, books:3, code:2});
    * the draw is the md5 id-hash on [0,1), as in every sampler here.
    * Scale: one bounded groupBy (map-side partial sums), the rate
    * table (one row per source) broadcasts, and the verdict is a map.
    */
  def mixtureSample(s: SparkSession, dir: String,
      budgetFrac: Double = 0.6): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(lower(col("text")), " ")).as("n_tokens"))
    // source weight: srcN with even N → 2, odd → 1 (the mixture config);
    // try_cast on BOTH engines: a digitless source extracts '' which
    // try_casts to NULL, NULL % 2 is NULL, and the otherwise-branch
    // assigns weight 1. A plain cast would THROW under Spark 4's
    // default ANSI mode (and crash DuckDB on ''), so try_cast is the
    // one form with identical fallback semantics in both engines.
    val weighted = docs.withColumn("w",
      when(expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT)") % 2 === 0,
        lit(2.0)).otherwise(lit(1.0)))
    val totals = weighted.groupBy(col("source"), col("w"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
    // grand totals ride a length-#sources window (no second scan)
    val all = Window.partitionBy()
    val rates = totals
      .withColumn("grand_tokens", sum(col("src_tokens")).over(all))
      .withColumn("sum_w", sum(col("w")).over(all))
      // one explicit IEEE order, identical in the oracle: (((f*g)*w)/sw)/st
      .withColumn("keep_rate",
        least(lit(1.0),
          lit(budgetFrac) * col("grand_tokens").cast("double") * col("w")
            / col("sum_w") / col("src_tokens").cast("double")))
      .select(col("source"), col("keep_rate"))
    weighted
      .join(broadcast(rates), "source")
      .withColumn("draw",
        graft.functions.md5_long(col("doc_id")).cast("double") / lit(math.pow(2, 60)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("keep_rate"), (col("draw") < col("keep_rate")).cast("int").as("kept"))
  }

  /** Exact token-budget allocation across sources — the WATER-FILLING
    * mixer [[mixtureSample]]'s scaladoc names as the production path
    * its single-pass form approximates: find the level `lam` such that
    * `sum_i min(src_tokens_i, lam * w_i) = budget`, so a saturated
    * source (allocated its whole corpus) surrenders its surplus to the
    * unsaturated ones and the realized token mass hits the budget
    * EXACTLY instead of undershooting whenever a clamp fires.
    *
    * No driver loop, no iteration: sort sources by saturation level
    * `c_i = src_tokens_i / w_i`; for each breakpoint k (sources before
    * k saturated), the candidate level is
    * `lam_k = (budget - sum_{i<k} src_tokens_i) / sum_{i>=k} w_i`, and
    * the correct level is the FIRST k whose `lam_k <= c_k` (the
    * standard greedy argument: saturate sources in c-order until the
    * residual level fits under the next source's ceiling). That is two
    * window prefix sums and a filter over the SOURCE-cardinality
    * aggregate — the whole solve is relational, so the DuckDB oracle
    * re-derives it verbatim rather than trusting a trained literal.
    *
    * Hash-exactness is by construction: src_tokens/w sums are exact
    * (BIGINT counts; weights 1.0/2.0 are binary-exact), and every
    * cross-engine double op is a single multiply/divide of identical
    * operands — no float accumulation anywhere.
    *
    * Scale: one corpus scan into a map-side-combined groupBy(source);
    * everything after runs on the bounded per-source table (sources
    * are config-cardinality at any corpus size — the same bounded
    * class as q71's rate table), and the windows' single-partition
    * frame holds #sources rows, not data. Output is the allocation
    * table a downstream sampler consumes.
    */
  def tokenBudgetMix(s: SparkSession, dir: String,
      budgetFrac: Double = 0.75): DataFrame =
    waterFill(sourceTotals(weightedDocs(s, dir)), budgetFrac)

  /** Per-document (source, n_tokens, w) rows under the shared 2:1
    * even-source mixture config (and try_cast fallback) of
    * [[mixtureSample]] — the two operators answer the same config. The
    * frame form takes any documents-shaped frame (q105's stream).
    */
  def weightedDocs(s: SparkSession, dir: String): DataFrame =
    weightedDocs(Tables.load(s, dir, "documents"))
  def weightedDocs(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        size(split(lower(col("text")), " ")).as("n_tokens"))
      .withColumn("w",
        when(expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT)") % 2 === 0,
          lit(2.0)).otherwise(lit(1.0)))

  /** The bounded per-source aggregate the solve runs on. Counter SUMS,
    * so it is also maintainable as a Complete-mode streaming
    * aggregation (q105) — the converged state IS this table.
    */
  def sourceTotals(weighted: DataFrame): DataFrame =
    weighted.groupBy(col("source"), col("w"))
      .agg(sum(col("n_tokens")).cast("long").as("src_tokens"))

  /** The loop-free water-filling solve over a (source, w, src_tokens)
    * table — factored so the batch (q104) and stream-maintained (q105)
    * totals run the IDENTICAL solve and cannot drift.
    */
  def waterFill(totals: DataFrame, budgetFrac: Double): DataFrame = {
    // the first-valid-breakpoint existence proof (see lam below) needs
    // budget < corpus; at >= 1 no breakpoint validates and the solve
    // would return an EMPTY frame — reject loudly instead (a budget of
    // the whole corpus needs no mixer)
    require(budgetFrac > 0.0 && budgetFrac < 1.0,
      s"budgetFrac must be in (0, 1), got $budgetFrac")
    val all = Window.partitionBy()
    val before = Window.orderBy(col("c"), col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cand = totals
      .withColumn("c", col("src_tokens").cast("double") / col("w"))
      .withColumn("budget",
        lit(budgetFrac) * sum(col("src_tokens")).over(all).cast("double"))
      .withColumn("cum_cap",
        coalesce(sum(col("src_tokens")).over(before).cast("double"), lit(0.0)))
      .withColumn("rem_w",
        sum(col("w")).over(all) - coalesce(sum(col("w")).over(before), lit(0.0)))
      .withColumn("lam_k", (col("budget") - col("cum_cap")) / col("rem_w"))
    // the first valid breakpoint in saturation order; budgetFrac < 1
    // guarantees one exists (the last source can never saturate under
    // a budget smaller than the corpus)
    val lam = cand.filter(col("lam_k") <= col("c"))
      .orderBy(col("c"), col("source")).limit(1)
      .select(col("lam_k").as("lam"))
    totals.crossJoin(broadcast(lam))
      .withColumn("alloc",
        least(col("src_tokens").cast("double"), col("lam") * col("w")))
      .select(col("source"), col("w"), col("src_tokens"), col("alloc"),
        (col("alloc") / col("src_tokens").cast("double")).as("keep_rate"),
        (col("lam") * col("w") >= col("src_tokens").cast("double"))
          .cast("int").as("saturated"))
  }

  /** The water-fill SQL chain AFTER a `totals(source, w, src_tokens)`
    * CTE — factored so every oracle composing the solve (q104, q105,
    * q163) carries the IDENTICAL arithmetic text. */
  private def waterFillSqlTail(budgetFrac: Double): String =
    s"""cand AS (
          SELECT source, w, src_tokens,
                 src_tokens::DOUBLE / w AS c,
                 $budgetFrac * (sum(src_tokens) OVER ())::DOUBLE AS budget,
                 coalesce((sum(src_tokens) OVER (ORDER BY src_tokens::DOUBLE / w, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))::DOUBLE, 0.0) AS cum_cap,
                 (sum(w) OVER ()) - coalesce(sum(w) OVER (ORDER BY src_tokens::DOUBLE / w, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS rem_w
          FROM totals),
        lam AS (
          SELECT (budget - cum_cap) / rem_w AS lam
          FROM cand
          WHERE (budget - cum_cap) / rem_w <= c
          ORDER BY c, source LIMIT 1)
        SELECT t.source, t.w, t.src_tokens,
               least(t.src_tokens::DOUBLE, l.lam * t.w) AS alloc,
               least(t.src_tokens::DOUBLE, l.lam * t.w) / t.src_tokens::DOUBLE AS keep_rate,
               (l.lam * t.w >= t.src_tokens::DOUBLE)::INT AS saturated
        FROM totals t CROSS JOIN lam l"""

  def tokenBudgetMixSql(budgetFrac: Double = 0.75): String =
    s"""WITH docs AS (
          SELECT source,
                 len(string_split(lower(text), ' ')) AS n_tokens,
                 CASE WHEN try_cast(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT) % 2 = 0
                      THEN 2.0 ELSE 1.0 END AS w
          FROM documents),
        totals AS (
          SELECT source, w, sum(n_tokens)::BIGINT AS src_tokens
          FROM docs GROUP BY 1, 2),
        ${waterFillSqlTail(budgetFrac)}"""

  /** Dedup-aware token-budget allocation (q163) — the pipeline
    * end-state composition: the water-filling mixer (q104) solved over
    * the POST-DEDUP corpus, i.e. per-source totals counting only the
    * q145 decision table's kept documents. This is the allocation a
    * real pipeline actually trains on (budgeting over raw totals
    * over-allocates the duplicate-heavy sources, then dedup silently
    * under-delivers them); totals stay the bounded per-source
    * aggregate, the solve is the SHARED loop-free breakpoint scan, and
    * the oracle composes the recursive dedup closure with the
    * identical water-fill SQL tail.
    */
  def dedupAwareBudgetMix(s: SparkSession, dir: String,
      budgetFrac: Double = 0.75): DataFrame = {
    val kept = Dedup.dedupDecisions(s, dir).filter(col("keep")).select(col("doc_id"))
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(lower(col("text")), " ")).as("n_tokens"))
      .join(kept, "doc_id")
      .withColumn("w",
        when(expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT)") % 2 === 0,
          lit(2.0)).otherwise(lit(1.0)))
    waterFill(sourceTotals(docs), budgetFrac)
  }

  def dedupAwareBudgetMixSql(budgetFrac: Double = 0.75,
      threshold: Double = 0.8): String =
    s"""WITH dd AS (SELECT doc_id FROM (${Dedup.dedupDecisionsSql(threshold)}) t WHERE keep),
        docs AS (
          SELECT d.source,
                 len(string_split(lower(d.text), ' ')) AS n_tokens,
                 CASE WHEN try_cast(regexp_extract(d.source, '([0-9]+)$$', 1) AS BIGINT) % 2 = 0
                      THEN 2.0 ELSE 1.0 END AS w
          FROM documents d JOIN dd USING (doc_id)),
        totals AS (
          SELECT source, w, sum(n_tokens)::BIGINT AS src_tokens
          FROM docs GROUP BY 1, 2),
        ${waterFillSqlTail(budgetFrac)}"""

  def mixtureSampleSql(budgetFrac: Double = 0.6): String = {
    val draw = "('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT::DOUBLE / (1152921504606846976)::DOUBLE"
    s"""WITH docs AS (
          SELECT doc_id, source,
                 len(string_split(lower(text), ' ')) AS n_tokens,
                 CASE WHEN try_cast(regexp_extract(source, '([0-9]+)$$', 1) AS BIGINT) % 2 = 0
                      THEN 2.0 ELSE 1.0 END AS w
          FROM documents),
        totals AS (
          SELECT source, w, sum(n_tokens) AS src_tokens
          FROM docs GROUP BY 1, 2),
        rates AS (
          SELECT source,
                 least(1.0,
                   $budgetFrac * (sum(src_tokens) OVER ())::DOUBLE * w
                     / (sum(w) OVER ()) / src_tokens::DOUBLE) AS keep_rate
          FROM totals)
        SELECT d.doc_id, d.source, d.n_tokens, r.keep_rate,
               ($draw < r.keep_rate)::INT AS kept
        FROM docs d JOIN rates r ON d.source = r.source"""
  }

  /** Deterministic global shuffle — the epoch-ordering move of a
    * training pipeline: a reproducible total order (the md5 id-hash is
    * the shuffle key, id the tiebreak) with an explicit global rank.
    * The scale-correct formulation matters here: `row_number()` over an
    * un-partitioned window is a SINGLE-partition sort (the driver-sized
    * bottleneck); instead the frame is range-partitioned and sorted on
    * the draw — Spark's distributed total-order exchange — and ranks
    * come from `zipWithIndex` (per-partition counts + prefix offsets,
    * O(partitions) driver traffic). Ranks are independent of the
    * sampled range boundaries: the total order is unique (draw, id),
    * so any boundary placement yields the same global ranking.
    */
  def globalShuffle(s: SparkSession, dir: String, partitions: Int = 32): DataFrame = {
    import s.implicits._
    val sorted = globalShuffleSorted(s, dir, partitions)
    val ranked = sorted.as[(Long, Long)].rdd.zipWithIndex()
      .map { case ((id, draw), idx) => (id, draw, idx + 1) }
    ranked.toDF("doc_id", "draw", "shuffle_rank")
  }

  /** The distributed-sort stage of [[globalShuffle]], exposed so the
    * plan shape (range partitioning, NOT a single-partition window) is
    * test-pinnable.
    */
  private[graft] def globalShuffleSorted(s: SparkSession, dir: String,
      partitions: Int): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.md5_long(col("doc_id")).as("draw"))
      .repartitionByRange(partitions, col("draw"), col("doc_id"))
      .sortWithinPartitions(col("draw"), col("doc_id"))

  def globalShuffleSql: String = {
    val draw = "('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT"
    s"""SELECT doc_id, $draw AS draw,
               row_number() OVER (ORDER BY $draw, doc_id) AS shuffle_rank
        FROM documents"""
  }

  // ---- deterministic stratified sampling ----

  /** Exact-size stratified sample: the `k` events of each event_type
    * with the smallest id-hash — the reproducible form of "random k per
    * stratum" (stable under re-runs, re-ordering, and partitioning,
    * like [[hashSplit]]; the hash IS the random draw). The LITERAL
    * rank bound matters at scale: `row_number() <= k` with a constant
    * k is rewritten by Spark into a WindowGroupLimit — each input
    * partition keeps only its top-k per stratum BEFORE the shuffle, so
    * the exchange carries O(partitions·strata·k) rows, not the corpus.
    */
  def stratifiedSample(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("draw").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("user_id"),
        graft.functions.md5_long(col("event_id")).as("draw"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  def stratifiedSampleSql(k: Int = 64): String =
    s"""SELECT event_type, event_id, user_id,
          ('0x' || substring(md5(event_id::VARCHAR), 1, 15))::BIGINT AS draw,
          row_number() OVER (PARTITION BY event_type
            ORDER BY ('0x' || substring(md5(event_id::VARCHAR), 1, 15))::BIGINT ASC,
                     event_id ASC) AS sample_rank
        FROM events
        QUALIFY sample_rank <= $k"""

  // ---- range join via binning ----

  /** Tag every event that falls inside an "incident window" (an hour
    * with >= `minErrors` error events) — the bad-crawl-window filter of
    * a real ingest pipeline, and a RANGE JOIN (`e.ts ∈ [start, end)`)
    * by nature. Implemented with the binning trick that makes range
    * joins scale: because windows are hour-aligned, mapping each event
    * to its hour bin turns the range predicate into an EQUI-join, so
    * the plan is a broadcast hash join instead of the O(|E|·|W|)
    * nested-loop a naive range condition forces. (For windows of
    * arbitrary length, the same trick bins at the window-length
    * granularity and replicates each window to the bins it overlaps.)
    * The oracle states the range-join semantics directly.
    */
  def incidentEvents(s: SparkSession, dir: String, minErrors: Int = 5): DataFrame = {
    val ev = Tables.events(s, dir)
    val windows = ev.filter(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_errors"))
      .filter(col("n_errors") >= minErrors)
    ev.join(broadcast(windows), date_trunc("hour", col("ts")) === col("h"))
      .select(col("event_id"), col("user_id"),
        date_format(col("h"), "yyyy-MM-dd HH").as("hour"), col("n_errors"))
  }

  def incidentEventsSql(minErrors: Int = 5): String =
    s"""WITH w AS (
          SELECT date_trunc('hour', ts) AS h, count(*) AS n_errors
          FROM events WHERE event_type = 'error'
          GROUP BY 1 HAVING count(*) >= $minErrors)
        SELECT e.event_id, e.user_id, strftime(w.h, '%Y-%m-%d %H') AS hour, w.n_errors
        FROM events e JOIN w ON e.ts >= w.h AND e.ts < w.h + INTERVAL 1 HOUR"""

  // ---- sequence packing (pretraining batch assembly) ----

  /** Greedy concat-and-chunk sequence packing: documents are
    * concatenated in a deterministic order and cut into fixed
    * `seqLen`-token training sequences; each document learns which
    * sequence it starts in and at what token offset. Packing is
    * inherently sequential, so the scale form shards first — a hash
    * bucket per shard, cumulative token counts within each bucket (one
    * shuffle, parallel across buckets) — exactly how a 100 TB corpus is
    * packed in practice (global packing would serialize the world for
    * zero training benefit).
    */
  def sequencePacking(s: SparkSession, dir: String,
      seqLen: Int = 2048, buckets: Int = 32): DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        (graft.functions.md5_long(col("doc_id")) % buckets).as("bucket"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $seqLen").as("seq_idx"),
        ((col("cum") - col("n_tokens")) % seqLen).as("seq_offset"))
  }

  def sequencePackingSql(seqLen: Int = 2048, buckets: Int = 32): String =
    s"""WITH d AS (
          SELECT doc_id,
                 len(string_split(lower(text), ' '))::BIGINT AS n_tokens,
                 ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT % $buckets AS bucket
          FROM documents),
        c AS (
          SELECT *, sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
          FROM d)
        SELECT doc_id, bucket, n_tokens,
               ((cum - n_tokens) // $seqLen)::BIGINT AS seq_idx,
               ((cum - n_tokens) % $seqLen)::BIGINT AS seq_offset
        FROM c"""

  // ---- Z-order layout key (multi-dimensional clustering) ----

  /** The bit-interleave expression `z(a, b)` shared by the Spark plan
    * and the oracle: bit j of `a` lands at position 2j, bit j of `b`
    * at 2j+1. Plain shifts/masks so both engines compute it
    * identically on BIGINTs.
    */
  private def zExprSql(a: String, b: String, bits: Int): String =
    (0 until bits).map(j =>
      s"((($a >> $j) & 1) << ${2 * j}) + ((($b >> $j) & 1) << ${2 * j + 1})")
      .mkString(" + ")

  /** Z-order (Morton) layout key over (user_id, event-hour): sorting or
    * range-partitioning a table by this key clusters BOTH dimensions at
    * once, so parquet min/max row-group stats prune selective filters
    * on EITHER column — the data-layout move (Delta/Iceberg OPTIMIZE
    * ZORDER) that single-column sort order cannot give you at 100 TB.
    * The key itself is a pure per-row map (zero shuffles); the layout
    * rewrite that uses it is `repartitionByRange(zval) + sortWithin
    * Partitions` at write time. The clustering effect (per-chunk range
    * width collapses in both dimensions simultaneously) is pinned by a
    * unit test; this query emits the key itself, cell-exact against
    * the oracle's identical bit arithmetic.
    */
  def zOrderKey(s: SparkSession, dir: String, bits: Int = 16): DataFrame = {
    val mask = (1L << bits) - 1
    // folds use pmod, not %: Spark's % preserves sign, and a negative
    // fold's bit-interleave is meaningless garbage. The hour index is a
    // FLOOR division built as (x - pmod(x, h)) div h: the numerator is
    // an exact multiple of h, where truncating and flooring division
    // coincide — so Spark's `div` (truncates) and DuckDB's `//` (also
    // truncates on integers — verified, NOT floor) agree for pre-1970
    // timestamps too, and the bucket is the true calendar hour.
    // Locality horizon: 2^bits hours (~7.5 years at 16 bits).
    val us = "unix_micros(ts)"
    val hourUs = 3600000000L
    Tables.events(s, dir)
      .select(col("event_id"),
        pmod(col("user_id"), lit(mask + 1)).as("a"),
        expr(s"pmod(($us - pmod($us, $hourUs)) div $hourUs, ${mask + 1})").as("b"))
      .withColumn("zval", expr(zExprSql("a", "b", bits)))
      .select(col("event_id"), col("a").as("user_fold"),
        col("b").as("hour_fold"), col("zval"))
  }

  def zOrderKeySql(bits: Int = 16): String = {
    val m = 1L << bits
    // ((x % m) + m) % m = pmod; DuckDB's integer // TRUNCATES toward
    // zero (like Spark's div), so the floor-hour is built the same way
    // as the Spark side: subtract the pmod remainder first — the
    // numerator becomes an exact multiple of h, where truncation and
    // floor coincide
    val h = 3600000000L
    val usF = "epoch_us(ts)::BIGINT"
    val hourFloor = s"(($usF - ((($usF % $h) + $h) % $h)) // $h)"
    s"""WITH f AS (
          SELECT event_id, ((user_id % $m) + $m) % $m AS a,
                 (($hourFloor % $m) + $m) % $m AS b
          FROM events)
        SELECT event_id, a AS user_fold, b AS hour_fold,
               ${zExprSql("a", "b", bits)} AS zval
        FROM f"""
  }

  // ---- zone-map layout-effectiveness report (q205) ----

  /** Quantifies what q62's z-order key only CLAIMS: how much IO each
    * physical layout actually saves a workload. Chunks stand in for
    * parquet row groups — fixed-width key ranges of the layout column
    * (natural/arrival = event_id ranges, single-column clustering =
    * user_id ranges, z-order = zval ranges), each summarized by its
    * zone map (min/max of BOTH predicate dimensions + row count); a
    * predicate must read a chunk iff its range overlaps the chunk's
    * min/max — exactly the parquet row-group skipping rule. The
    * report: per (layout, predicate), chunks touched vs total and rows
    * touched vs actually selected — `rows_touched / rows_selected` is
    * the read amplification the layout costs that query shape.
    *
    * The expected (and measured) story: the arrival layout prunes the
    * time predicate and reads EVERYTHING for the user predicate;
    * user-sorted is the mirror image; z-order pays a modest factor on
    * each but prunes BOTH — the reason OPTIMIZE ZORDER exists.
    *
    * Scale shape: chunk stats are one groupBy per layout over a
    * three-column projection (map-side combined, no sort anywhere —
    * value-range chunking needs no global row_number); the predicate
    * table is a bounded literal broadcast; the overlap join is
    * (bounded chunks) × (bounded predicates). Positive-domain note:
    * hour = us div 3600e6 uses truncating division, identical across
    * engines for the 2024-only event domain.
    */
  def layoutPruningReport(s: SparkSession, dir: String,
                          bits: Int = 16): DataFrame = {
    import s.implicits._
    val m = 1L << bits
    val base = Tables.events(s, dir).filter(col("user_id").isNotNull)
      .select(col("event_id"), col("user_id").as("u"),
        expr("unix_micros(ts) div 3600000000L").as("hr"))
      .withColumn("a", col("u") % m).withColumn("b", col("hr") % m)
      .withColumn("zval", expr(zExprSql("a", "b", bits)))
    def chunks(tag: String, chunk: org.apache.spark.sql.Column): DataFrame =
      base.groupBy(chunk.as("chunk"))
        .agg(min(col("u")).as("min_u"), max(col("u")).as("max_u"),
          min(col("hr")).as("min_hr"), max(col("hr")).as("max_hr"),
          count(lit(1)).as("n"))
        .withColumn("layout", lit(tag))
    val ch = chunks("natural", expr("event_id div 256L"))
      .unionByName(chunks("user_sorted", expr("u div 8L")))
      .unionByName(chunks("zorder", expr("zval div 4096L")))
    val preds = Seq(("user_3_5", "u", 3L, 5L),
        ("hour_jan10", "h", 473568L, 473591L))
      .toDF("pred", "dim", "lo", "hi")
    val touched = (col("dim") === "u" && col("max_u") >= col("lo") &&
        col("min_u") <= col("hi")) ||
      (col("dim") === "h" && col("max_hr") >= col("lo") &&
        col("min_hr") <= col("hi"))
    val sel = base.agg(
        sum(when(col("u").between(3L, 5L), 1L).otherwise(0L)).as("s_u"),
        sum(when(col("hr").between(473568L, 473591L), 1L).otherwise(0L))
          .as("s_h"))
      .select(expr(
        "stack(2, 'user_3_5', s_u, 'hour_jan10', s_h) as (pred, rows_selected)"))
    ch.crossJoin(broadcast(preds))
      .groupBy(col("layout"), col("pred"))
      .agg(count(lit(1)).as("chunks_total"),
        sum(when(touched, 1L).otherwise(0L)).as("chunks_touched"),
        sum(col("n")).as("rows_total"),
        sum(when(touched, col("n")).otherwise(0L)).as("rows_touched"))
      .join(broadcast(sel), "pred")
  }

  def layoutPruningReportSql(bits: Int = 16): String = {
    val m = 1L << bits
    s"""WITH f AS (
          SELECT event_id, user_id AS u,
                 (epoch_us(ts)::BIGINT // 3600000000) AS hr
          FROM events WHERE user_id IS NOT NULL),
        z AS (SELECT event_id, u, hr, u % $m AS a, hr % $m AS b FROM f),
        zz AS (SELECT event_id, u, hr,
                      ${zExprSql("a", "b", bits)} AS zval FROM z),
        ch AS (
          SELECT 'natural' AS layout, event_id // 256 AS chunk,
                 min(u) AS min_u, max(u) AS max_u, min(hr) AS min_hr,
                 max(hr) AS max_hr, count(*)::BIGINT AS n
          FROM zz GROUP BY 2
          UNION ALL
          SELECT 'user_sorted', u // 8, min(u), max(u), min(hr), max(hr),
                 count(*)::BIGINT
          FROM zz GROUP BY 2
          UNION ALL
          SELECT 'zorder', zval // 4096, min(u), max(u), min(hr), max(hr),
                 count(*)::BIGINT
          FROM zz GROUP BY 2),
        preds(pred, dim, lo, hi) AS (
          VALUES ('user_3_5', 'u', 3, 5),
                 ('hour_jan10', 'h', 473568, 473591)),
        sel AS (
          SELECT 'user_3_5' AS pred,
                 (count(*) FILTER (WHERE u BETWEEN 3 AND 5))::BIGINT
                   AS rows_selected FROM f
          UNION ALL
          SELECT 'hour_jan10',
                 (count(*) FILTER (WHERE hr BETWEEN 473568 AND 473591))::BIGINT
          FROM f),
        rep AS (
          SELECT layout, pred, count(*)::BIGINT AS chunks_total,
                 sum(CASE WHEN (dim = 'u' AND max_u >= lo AND min_u <= hi)
                            OR (dim = 'h' AND max_hr >= lo AND min_hr <= hi)
                     THEN 1 ELSE 0 END)::BIGINT AS chunks_touched,
                 sum(n)::BIGINT AS rows_total,
                 sum(CASE WHEN (dim = 'u' AND max_u >= lo AND min_u <= hi)
                            OR (dim = 'h' AND max_hr >= lo AND min_hr <= hi)
                     THEN n ELSE 0 END)::BIGINT AS rows_touched
          FROM ch CROSS JOIN preds GROUP BY 1, 2)
        SELECT r.pred, r.layout, r.chunks_total, r.chunks_touched,
               r.rows_total, r.rows_touched, s.rows_selected
        FROM rep r JOIN sel s ON r.pred = s.pred"""
  }

  // ---- incremental snapshot diff (CDC derivation) ----

  /** Classify changes between two snapshots of a keyed table — the
    * batch form of change-data-capture, and the first step of every
    * incremental pipeline (ship only `added`/`removed`/`changed` rows
    * downstream instead of recomputing the world). One full-outer join
    * on the key; both sides shuffle-partition on it, nothing else
    * moves. The two "snapshots" here are derived deterministically
    * from the orders table by id-hash bucket (b=0 of 20 exists only in
    * the new snapshot, b=1 only in the old, b=2 has its price doubled —
    * doubling is exact in IEEE, so the changed-value comparison is
    * portable), which makes the diff fully oracle-checkable.
    */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        (graft.functions.md5_long(col("o_orderkey")) % 20).as("b"))
    val old = o.filter(col("b") =!= 0)
      .select(col("o_orderkey").as("k_old"), col("o_totalprice").as("old_price"))
    val neu = o.filter(col("b") =!= 1)
      .select(col("o_orderkey").as("k_new"),
        when(col("b") === 2, col("o_totalprice") * 2).otherwise(col("o_totalprice"))
          .as("new_price"))
    old.join(neu, col("k_old") === col("k_new"), "full_outer")
      .withColumn("change_type",
        when(col("k_old").isNull, "added")
          .when(col("k_new").isNull, "removed")
          .when(col("old_price") =!= col("new_price"), "changed")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
      .select(coalesce(col("k_old"), col("k_new")).as("o_orderkey"),
        col("change_type"), col("old_price"), col("new_price"))
  }

  def snapshotDiffSql: String =
    """WITH b AS (
         SELECT o_orderkey, o_totalprice,
                ('0x' || substring(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 20 AS b
         FROM orders),
       old AS (SELECT o_orderkey AS k_old, o_totalprice AS old_price FROM b WHERE b <> 0),
       neu AS (SELECT o_orderkey AS k_new,
                      CASE WHEN b = 2 THEN o_totalprice * 2 ELSE o_totalprice END AS new_price
               FROM b WHERE b <> 1),
       d AS (
         SELECT coalesce(k_old, k_new) AS o_orderkey,
                CASE WHEN k_old IS NULL THEN 'added'
                     WHEN k_new IS NULL THEN 'removed'
                     WHEN old_price <> new_price THEN 'changed'
                     ELSE 'unchanged' END AS change_type,
                old_price, new_price
         FROM old FULL OUTER JOIN neu ON k_old = k_new)
       SELECT * FROM d WHERE change_type <> 'unchanged'"""

  // ---- CDC apply / MERGE INTO (q154) ----

  /** The WRITE side of CDC — [[snapshotDiff]] run in reverse: apply
    * the change feed (added / changed / removed rows) to the OLD
    * snapshot and produce the new one, i.e. `MERGE INTO old USING
    * changes` in its canonical distributed form: one LEFT ANTI join
    * drops the deleted-or-replaced keys, one union appends the
    * upserted payloads — two key-partitioned operations, no
    * row-at-a-time mutation anywhere (the shape Delta/Iceberg MERGE
    * compiles to). The correctness contract is the round trip:
    * diff(old, new) applied to old must EQUAL new — so the oracle is
    * the new snapshot derived INDEPENDENTLY (declaratively, never
    * touching the change feed), and hash equality proves the
    * mechanical apply reproduces it cell-for-cell.
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        (graft.functions.md5_long(col("o_orderkey")) % 20).as("b"))
    val old = o.filter(col("b") =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val changes = snapshotDiff(s, dir)
    val dels = changes.filter(col("change_type").isin("removed", "changed"))
      .select(col("o_orderkey"))
    val ups = changes.filter(col("change_type").isin("added", "changed"))
      .select(col("o_orderkey"), col("new_price").as("o_totalprice"))
    old.join(dels, Seq("o_orderkey"), "left_anti").unionByName(ups)
  }

  /** The new snapshot, derived independently of the change feed. */
  def cdcApplySql: String =
    """WITH b AS (
         SELECT o_orderkey, o_totalprice,
                ('0x' || substring(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 20 AS b
         FROM orders)
       SELECT o_orderkey,
              CASE WHEN b = 2 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
       FROM b WHERE b <> 1"""

  // ---- segment-fingerprint manifest diff (q203) ----

  /** What makes [[snapshotDiff]] affordable at 100 TB: the diff's
    * full-outer key join reads BOTH snapshots end to end every sync,
    * even when nothing changed. A replication/versioning system
    * (Iceberg manifests, rsync, Merkle sync) compares bounded
    * per-segment FINGERPRINTS first and row-diffs only the dirty
    * segments — IO proportional to the CHANGE, not the corpus. This
    * operator is that first phase as a query: per key-range segment,
    * each snapshot folds to `(row count, XOR of 60-bit row digests)`,
    * the two manifests full-outer join on segment id (a few thousand
    * rows however big the table), and the output is the dirty-segment
    * work list with its classification.
    *
    * XOR is the right fold: commutative + associative (the partial
    * aggregate combines map-side in any order), self-inverse (a
    * segment's digest changes iff the multiset of row digests
    * changes, up to 2^60 collision odds — production would widen to
    * 128 bits, same plan). The row digest hashes the CANONICALIZED
    * row (key + integer cents), so both engines hash identical bytes;
    * `floor(price·100)` is the same IEEE multiply+floor on both sides.
    *
    * Cross-check contract: the dirty-segment set must be exactly the
    * segments [[snapshotDiff]]'s row-level feed touches — the oracle
    * re-derives the manifests independently in SQL, and q154's round
    * trip already pins the row level, so the two layers are verified
    * against each other.
    */
  def segmentFingerprintDiff(s: SparkSession, dir: String,
                             segRows: Long = 4096): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        (graft.functions.md5_long(col("o_orderkey")) % 20).as("b"))
    def manifest(snap: DataFrame): DataFrame =
      snap.select(expr(s"o_orderkey div ${segRows}L").as("seg"),
          graft.functions.md5_long(concat(
            col("o_orderkey").cast("string"), lit("|"),
            floor(col("o_totalprice") * 100).cast("long").cast("string")))
            .as("row_h"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(row_h)").as("digest"))
    val oldM = manifest(o.filter(col("b") =!= 0)
        .select(col("o_orderkey"), col("o_totalprice")))
      .select(col("seg").as("seg_old"), col("n").as("n_old"),
        col("digest").as("digest_old"))
    val newM = manifest(o.filter(col("b") =!= 1)
        .select(col("o_orderkey"),
          when(col("b") === 2, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice")))
      .select(col("seg").as("seg_new"), col("n").as("n_new"),
        col("digest").as("digest_new"))
    oldM.join(newM, col("seg_old") === col("seg_new"), "full_outer")
      .filter(col("seg_old").isNull || col("seg_new").isNull ||
        col("digest_old") =!= col("digest_new"))
      .select(coalesce(col("seg_old"), col("seg_new")).as("seg"),
        col("n_old"), col("n_new"), col("digest_old"), col("digest_new"),
        when(col("seg_old").isNull, "added_seg")
          .when(col("seg_new").isNull, "removed_seg")
          .otherwise("dirty").as("change_type"))
  }

  def segmentFingerprintDiffSql(segRows: Long = 4096): String =
    s"""WITH b AS (
         SELECT o_orderkey, o_totalprice,
                ('0x' || substring(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT % 20 AS b
         FROM orders),
       oldm AS (
         SELECT o_orderkey // $segRows AS seg, count(*)::BIGINT AS n_old,
                bit_xor(('0x' || substring(md5(o_orderkey::VARCHAR || '|' ||
                  floor(o_totalprice * 100)::BIGINT::VARCHAR), 1, 15))::BIGINT)::BIGINT AS digest_old
         FROM b WHERE b <> 0 GROUP BY 1),
       newm AS (
         SELECT o_orderkey // $segRows AS seg, count(*)::BIGINT AS n_new,
                bit_xor(('0x' || substring(md5(o_orderkey::VARCHAR || '|' ||
                  floor((CASE WHEN b = 2 THEN o_totalprice * 2 ELSE o_totalprice END) * 100)::BIGINT::VARCHAR), 1, 15))::BIGINT)::BIGINT AS digest_new
         FROM b WHERE b <> 1 GROUP BY 1)
       SELECT coalesce(o.seg, n.seg)::BIGINT AS seg, n_old, n_new,
              digest_old, digest_new,
              CASE WHEN o.seg IS NULL THEN 'added_seg'
                   WHEN n.seg IS NULL THEN 'removed_seg'
                   ELSE 'dirty' END AS change_type
       FROM oldm o FULL OUTER JOIN newm n ON o.seg = n.seg
       WHERE o.seg IS NULL OR n.seg IS NULL OR digest_old <> digest_new"""

  // ---- end-to-end curation (the capstone composition) ----

  /** The full training-data curation decision, composed from the
    * operator families: quality scoring + language ID + repetition +
    * PII + exact-dup canonicalization + near-dup clustering, into a
    * single keep/drop verdict with reasons. This is the query a real
    * pipeline runs nightly; every metric is itself oracle-checked.
    *
    * Composition shape (the 100 TB point): the four MAP-SIDE metric
    * families (quality, language, repetition, long-digit count) are
    * column expressions evaluated in ONE projection over ONE documents
    * scan — zero joins, zero shuffles for them. Only the two inputs
    * that inherently shuffle join in: the exact-dup verdict (one
    * content-hash groupBy) and the near-dup cluster labels. The
    * per-metric-frame formulation this replaces joined five
    * corpus-sized tables on doc_id — four shuffles of pure map output.
    * The cluster table gets no broadcast hint: its size scales with
    * the corpus duplicate count, not a fixed bound, so a forced
    * broadcast would OOM on a heavily-duplicated corpus — AQE decides
    * at runtime from the actual size.
    */
  def curation(s: SparkSession, dir: String,
      minQuality: Double = 0.5, maxRepetition: Double = 0.3,
      maxLongDigits: Int = 5): DataFrame = {
    val text = col("text")
    val mapMetrics = Tables.load(s, dir, "documents").select(
      col("doc_id"),
      size(split(lower(text), " ")).as("n_tokens"),
      TextAnalysis.qualityCol(text).as("quality"),
      TextAnalysis.detectedLangCol(text).as("detected_lang"),
      TextAnalysis.dupTrigramFracCol(text).as("dup_3gram_frac"),
      TextAnalysis.longDigitsCol(text).as("n_long_digits"))
    val exact = Dedup.exactCanonical(s, dir)
      .select(col("doc_id"), col("is_dup"))
    val clusters = Dedup.dedupClusters(s, dir)
    mapMetrics
      .join(exact, "doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("near_dup_cluster", coalesce(col("cluster_id"), lit(-1L)))
      .withColumn("keep",
        (col("quality") >= minQuality &&
          col("detected_lang") =!= "und" &&
          col("is_dup") === 0 &&
          coalesce(col("dup_3gram_frac"), lit(0.0)) <= maxRepetition &&
          col("n_long_digits") < maxLongDigits &&
          (col("cluster_id").isNull || col("cluster_id") === col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        col("detected_lang"), col("is_dup"), col("dup_3gram_frac"),
        col("n_long_digits"), col("near_dup_cluster"), col("keep"))
  }

  def curationSql(minQuality: Double = 0.5, maxRepetition: Double = 0.3,
      maxLongDigits: Int = 5): String =
    s"""WITH RECURSIVE ${Dedup.dedupClustersCtes()},
        clusters AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
        q AS (${TextAnalysis.qualityScoresSql}),
        l AS (${TextAnalysis.languageIdSql}),
        e AS (${Dedup.exactCanonicalSql}),
        r AS (${TextAnalysis.repetitionScoresSql}),
        pii AS (${TextAnalysis.piiScanSql})
        SELECT q.doc_id, q.n_tokens, q.quality, l.detected_lang, e.is_dup,
               r.dup_3gram_frac, pii.n_long_digits,
               coalesce(c.cluster_id, -1) AS near_dup_cluster,
               (q.quality >= $minQuality AND l.detected_lang <> 'und'
                 AND e.is_dup = 0
                 AND coalesce(r.dup_3gram_frac, 0.0) <= $maxRepetition
                 AND pii.n_long_digits < $maxLongDigits
                 AND (c.cluster_id IS NULL OR c.cluster_id = q.doc_id))::INT AS keep
        FROM q
        JOIN l ON q.doc_id = l.doc_id
        JOIN e ON q.doc_id = e.doc_id
        JOIN r ON q.doc_id = r.doc_id
        JOIN pii ON q.doc_id = pii.doc_id
        LEFT JOIN clusters c ON q.doc_id = c.doc_id"""

  // ---- per-source top-k IVM (q267) ----

  private def topkOf(df: DataFrame, k: Int): DataFrame =
    df.withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .filter(col("rk") <= k)

  /** q267: per-source top-k LEADERBOARD maintained incrementally —
    * the shortlist a curation pipeline keeps per corpus (longest/
    * best-k docs), served without rescanning the base. The stored
    * artifact is the base corpus's top-k per source (k·sources rows);
    * an insert-only delta can only DISPLACE, never resurrect, so
    * re-ranking `stored ∪ delta` is provably identical to the
    * full-corpus window (full top-k ⊆ base top-k ∪ delta — the
    * merge ≡ recompute law, pinned in Round15OpsSpec). IO: the delta
    * plus k·sources stored rows; the oracle is the plain batch
    * window over everything.
    */
  def topkIvmDelta(s: SparkSession, dir: String, k: Int = 5,
      deltaMod: Int = 10): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val isDelta = col("doc_id") % deltaMod === deltaMod - 1
    val stored = graft.ArtifactCache.cached("PipelineOps.topk", (dir, k, deltaMod), s) {
      topkOf(docs.filter(!isDelta), k)
    }
    topkOf(stored.drop("rk").unionByName(docs.filter(isDelta)), k)
      .select(col("source"), col("doc_id"), col("n_chars"), col("rk"))
  }

  def topkIvmDeltaSql(k: Int = 5): String =
    s"""SELECT source, doc_id, n_chars, rk FROM (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC) AS rk
          FROM documents) t
        WHERE rk <= $k"""

  // ---- curriculum phase allocator (q258) ----

  /** q258: CURRICULUM schedule — assign every document to one of four
    * training phases whose source mix ANNEALS from uniform to
    * quality-weighted (the data-curriculum move: warm up on everything,
    * finish on the best sources). Integer-exact construction:
    *  - sources get a quality rank (mean chars per doc as the proxy,
    *    integer division, source-name tiebreak — a bounded ~sources-row
    *    grid);
    *  - each source's `n_s` documents are split across phases by
    *    largest-remainder on the annealed weight
    *    `w(p) = (3−p)·1000 + p·100·qrank` (phase 0 uniform, phase 3
    *    proportional to rank), so per-source quotas sum to exactly
    *    `n_s` — no transportation problem, no unassigned tail;
    *  - within a source, docs are ranked by the md5 shuffle draw and
    *    phase = the quota interval containing the rank.
    * Scale shape: the grid is sources×4 (bounded); the only data-sized
    * work is the per-source rank window (the q220 per-source-cumsum
    * discipline) and a broadcast interval join (4 rows per source).
    */
  def curriculumPhases(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val srcs = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"), sum(col("n_chars")).as("chars"))
      .withColumn("qrank",
        row_number().over(Window.orderBy(expr("chars div n_s"), col("source"))))
    val grid = srcs
      .select(col("source"), col("n_s"), col("qrank"),
        explode(expr("sequence(0L, 3L)")).as("phase"))
      .withColumn("w", expr("(3L - phase) * 1000L + phase * 100L * qrank"))
      .withColumn("sw", sum(col("w")).over(Window.partitionBy("source")))
      .withColumn("base", expr("n_s * w div sw"))
      .withColumn("rem", expr("(n_s * w) % sw"))
      .withColumn("give",
        col("n_s") - sum(col("base")).over(Window.partitionBy("source")))
      .withColumn("rrank", row_number().over(
        Window.partitionBy("source").orderBy(col("rem").desc, col("phase").asc)))
      .withColumn("quota",
        col("base") + when(col("rrank") <= col("give"), 1L).otherwise(0L))
      .withColumn("cum", sum(col("quota")).over(
        Window.partitionBy("source").orderBy("phase")))
      .select(col("source").as("g_source"), col("phase"),
        (col("cum") - col("quota")).as("lo"), col("cum").as("hi"))
    val ranked = docs.select(col("doc_id"), col("source"),
      row_number().over(Window.partitionBy("source")
        .orderBy(graft.functions.md5_long(col("doc_id")), col("doc_id")))
        .cast("long").as("r"))
    ranked.join(broadcast(grid), ranked("source") === grid("g_source") &&
        col("r") > col("lo") && col("r") <= col("hi"))
      .select(col("doc_id"), col("source"), col("phase"))
  }

  def curriculumPhasesSql: String =
    """WITH srcs AS (SELECT source, count(*)::BIGINT AS n_s,
                            sum(n_chars)::BIGINT AS chars
                     FROM documents GROUP BY 1),
        rk AS (SELECT source, n_s,
                      row_number() OVER (ORDER BY chars // n_s, source) AS qrank
               FROM srcs),
        grid0 AS (SELECT source, n_s, qrank, u.p AS phase,
                         (3 - u.p) * 1000 + u.p * 100 * qrank AS w
                  FROM rk, UNNEST(range(4)) AS u(p)),
        grid1 AS (SELECT *, sum(w) OVER (PARTITION BY source) AS sw FROM grid0),
        grid2 AS (SELECT *, n_s * w // sw AS base, (n_s * w) % sw AS rem
                  FROM grid1),
        grid3 AS (SELECT *,
                         n_s - sum(base) OVER (PARTITION BY source) AS give,
                         row_number() OVER (PARTITION BY source
                           ORDER BY rem DESC, phase ASC) AS rrank
                  FROM grid2),
        grid4 AS (SELECT source, phase,
                         base + CASE WHEN rrank <= give THEN 1 ELSE 0 END AS quota
                  FROM grid3),
        grid AS (SELECT source, phase,
                        sum(quota) OVER (PARTITION BY source ORDER BY phase)
                          - quota AS lo,
                        sum(quota) OVER (PARTITION BY source ORDER BY phase) AS hi
                 FROM grid4),
        ranked AS (SELECT doc_id, source,
                          row_number() OVER (PARTITION BY source
                            ORDER BY ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT,
                                     doc_id) AS r
                   FROM documents)
        SELECT ranked.doc_id, ranked.source, grid.phase
        FROM ranked JOIN grid ON ranked.source = grid.source
          AND ranked.r > grid.lo AND ranked.r <= grid.hi"""

  // ---- classifier agreement: Cohen's kappa (q260) ----

  /** q260: inter-classifier AGREEMENT — Cohen's kappa between the
    * full curation classifier (q48's keep verdict) and a cheap
    * length-gate heuristic (n_chars ≥ 300, ~the corpus median). The
    * quality-team question behind it: is the expensive classifier
    * actually adding signal over the trivial baseline, or are they
    * measuring the same thing? Exactness recipe: every count is an
    * exact BIGINT cell of the 2×2 table; kappa = (N·agree − pe_num) /
    * (N² − pe_num) with pe_num = a1·b1 + a0·b0 — ONE IEEE division of
    * exact integers, so the oracle matches bit-for-bit. One scan +
    * one all-to-one agg at any scale.
    */
  def classifierAgreement(s: SparkSession, dir: String): DataFrame = {
    val a = curation(s, dir).select(col("doc_id"), col("keep").as("a"))
    val b = Tables.load(s, dir, "documents")
      .select(col("doc_id"), (col("n_chars") >= 300).cast("int").as("b"))
    val g = a.join(b, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"),
        sum(col("a").cast("long")).as("a_keep"),
        sum(col("b").cast("long")).as("b_keep"))
    val peNum = col("a_keep") * col("b_keep") +
      (col("n") - col("a_keep")) * (col("n") - col("b_keep"))
    val den = col("n") * col("n") - peNum
    g.select(col("n"), col("n_agree"), col("a_keep"), col("b_keep"),
      when(den === 0, lit(null))
        .otherwise((col("n") * col("n_agree") - peNum).cast("double") /
          den.cast("double"))
        .as("kappa"))
  }

  def classifierAgreementSql: String =
    s"""WITH cur AS (SELECT * FROM (${curationSql()}) t),
        ab AS (SELECT c.doc_id, c.keep AS a, (d.n_chars >= 300)::INT AS b
               FROM cur c JOIN documents d ON c.doc_id = d.doc_id),
        g AS (SELECT count(*)::BIGINT AS n,
                     sum((a = b)::INT)::BIGINT AS n_agree,
                     sum(a)::BIGINT AS a_keep, sum(b)::BIGINT AS b_keep
              FROM ab)
        SELECT n, n_agree, a_keep, b_keep,
               CASE WHEN n*n - (a_keep*b_keep + (n-a_keep)*(n-b_keep)) = 0
                    THEN NULL
                    ELSE (n*n_agree - (a_keep*b_keep + (n-a_keep)*(n-b_keep)))::DOUBLE
                         / (n*n - (a_keep*b_keep + (n-a_keep)*(n-b_keep)))::DOUBLE
               END AS kappa
        FROM g"""

  // ---- TF-IDF keyword extraction ----

  /** Top-k terms per document by TF-IDF (idf as the raw N/df ratio —
    * log-free so the score is bit-identical across engines; the
    * ranking is the same monotone order either way). Shuffles: one on
    * (doc, term) for tf, one on term for df, one on doc for the top-k
    * window — each on the natural key, all partial-aggregated
    * map-side. At 100 TB the df table is vocabulary-sized (millions of
    * rows, not billions) so the tf⋈df join broadcasts.
    */
  def tfidfTopTerms(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * (col("n_docs").cast("double") / col("df").cast("double")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("rank"), col("tfidf"))
  }

  def tfidfTopTermsSql(k: Int = 3): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, term, tf::DOUBLE * (n_docs::DOUBLE / df::DOUBLE) AS tfidf
          FROM tf JOIN df USING (term) CROSS JOIN n)
        SELECT doc_id, term,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank,
               tfidf
        FROM scored
        QUALIFY rank <= $k"""

  // ---- unigram-LM perplexity filtering ----

  /** CCNet-style unigram language-model fluency scoring: each document
    * is scored by the mean log-probability of its tokens under the
    * corpus's own unigram distribution, and `kept` flags documents
    * above the perplexity cutoff (low mean logprob = rare-token-heavy =
    * high perplexity = filtered). This is the classic LM quality gate
    * in web-corpus pipelines, with the reference LM replaced by the
    * corpus itself (self-perplexity).
    *
    * Hash-exactness contract: per-term logprob is rounded ONCE to
    * integer micro-units (`round(ln(cnt/total)*1e6)::BIGINT`) and every
    * later sum is BIGINT — order-independent, so the unordered
    * distributed aggregation hash-matches the oracle exactly. The only
    * cross-engine float op is the single `ln` per DISTINCT term (both
    * engines' libm within 1 ulp; a mismatch needs the true value within
    * ~1 ulp of a 0.5 micro-unit boundary). The final avg re-derives as
    * the same two IEEE divisions on both sides.
    *
    * Scale shape: tf shuffles on (doc, term) with map-side combine; the
    * term-count table is vocabulary-sized and joins tf on term (key-
    * partitioned; sublinear in corpus size by Heaps' law — broadcast if
    * it fits, shuffle-join if not: the plan is declarative so AQE
    * decides); `total` is a scalar broadcast; the per-doc rollup
    * shuffles on doc_id. No global sort, no driver-side data.
    */
  def perplexityFilter(s: SparkSession, dir: String,
      thresholdLp: Double = -3.402): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val cnt = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val tot = cnt.agg(sum(col("cnt")).as("total"))
    val lp = cnt.crossJoin(broadcast(tot))
      .withColumn("lp_micro",
        round(log(col("cnt").cast("double") / col("total").cast("double")) * 1e6)
          .cast("long"))
      .select(col("term"), col("lp_micro"))
    tf.join(lp, "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("lp_micro")).as("sum_lp_micro"))
      .withColumn("avg_logprob",
        col("sum_lp_micro").cast("double") / lit(1000000.0) / col("n_tokens").cast("double"))
      .withColumn("kept", col("avg_logprob") >= lit(thresholdLp))
      .select(col("doc_id"), col("n_tokens"), col("avg_logprob"), col("kept"))
  }

  def perplexityFilterSql(thresholdLp: Double = -3.402): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        cnt AS (SELECT term, sum(tf)::BIGINT AS cnt FROM tf GROUP BY 1),
        tot AS (SELECT sum(cnt)::BIGINT AS total FROM cnt),
        lp AS (SELECT term, round(ln(cnt::DOUBLE / total::DOUBLE) * 1000000)::BIGINT AS lp_micro
               FROM cnt CROSS JOIN tot),
        doc AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
                       sum(tf * lp_micro)::BIGINT AS sum_lp_micro
                FROM tf JOIN lp USING (term) GROUP BY 1)
        SELECT doc_id, n_tokens,
               sum_lp_micro::DOUBLE / 1000000.0 / n_tokens::DOUBLE AS avg_logprob,
               (sum_lp_micro::DOUBLE / 1000000.0 / n_tokens::DOUBLE >= $thresholdLp) AS kept
        FROM doc"""

  // ---- bucketed co-located join (storage layout) ----

  /** FK join over PRE-BUCKETED tables — zero join-time exchange. The
    * Spark analog of the reference's FK-partitioned compacted index
    * topic (`JoinKeyPartitioner.java:20-22`): pay the partitioning ONCE
    * at write time, and every later join on that key is co-located.
    * Both fact tables are written once per (session, sf dir) as
    * bucketed + sorted managed tables (`bucketBy(n, key).sortBy(key)`,
    * spark-warehouse backed, full columns — a layout rewrite keeps the
    * table whole and lets every query column-prune at the scan); the
    * join's bucket-aligned scans already satisfy SortMergeJoin's
    * distribution requirement, so the ONLY exchange in the plan is the
    * final aggregation's (pinned in PlanSpec). At 100 TB this turns the
    * biggest shuffle in the pipeline (fact ⋈ fact on the FK) into a
    * local merge per bucket.
    *
    * The `merge` hint pins the co-located SMJ at test scale, where AQE
    * would otherwise broadcast the small side and hide the bucketed
    * contract; at 100 TB neither side broadcasts and SMJ is what the
    * planner picks anyway — the hint makes the layout's benefit
    * testable, it does not fight the optimizer at scale.
    */
  // keyed by (dir, buckets) — NOT by session: the table name tag hashes
  // only (dir, buckets), so two sessions in one JVM would race on the
  // same warehouse paths if each got its own cache slot; the catalog
  // entries live in the shared session catalog anyway
  private val bucketedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), (String, String)]()
  private val bucketedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    // managed tables can't be dropped through a session that is already
    // stopping — remove their warehouse dirs directly, like every other
    // persisted artifact cache; fresh() below still handles leftovers
    // from a hard-killed JVM that never ran its hooks
    sys.addShutdownHook { bucketedDirs.forEach(p => graft.Fs.rmTree(p)) }
  }

  private[graft] def bucketedTables(s: SparkSession, dir: String, buckets: Int = 16): (String, String) =
    bucketedCache.computeIfAbsent((dir, buckets), { _ =>
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$dir|$buckets".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val liT = s"graft_bkt_lineitem_$tag"
      val oT = s"graft_bkt_orders_$tag"
      // a PREVIOUS JVM's warehouse dir can survive while this session's
      // in-memory catalog starts empty — then even mode(overwrite)
      // refuses the orphaned location (LOCATION_ALREADY_EXISTS), so an
      // uncataloged leftover is removed before the write
      val w = s.conf.get("spark.sql.warehouse.dir")
      val base = if (w.startsWith("file:")) new java.net.URI(w).getPath else w
      def fresh(name: String): Unit = {
        if (!s.catalog.tableExists(name)) graft.Fs.rmTree(s"$base/$name")
        bucketedDirs.add(s"$base/$name")
      }
      fresh(liT)
      Tables.load(s, dir, "lineitem")
        .write.mode("overwrite")
        .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey").saveAsTable(liT)
      fresh(oT)
      Tables.load(s, dir, "orders")
        .write.mode("overwrite")
        .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey").saveAsTable(oT)
      (liT, oT)
    })

  /** Revenue-weight per order date over the bucketed layout. `sum_qty`
    * stays cell-exact without DECIMAL because quantities are
    * integer-valued doubles (exact under any summation order below
    * 2^53).
    */
  def bucketedDenormJoin(s: SparkSession, dir: String, buckets: Int = 16): DataFrame = {
    val (liT, oT) = bucketedTables(s, dir, buckets)
    val li = s.table(liT)
    val o = s.table(oT)
    li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderdate"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
  }

  def bucketedDenormJoinSql: String =
    """SELECT o_orderdate, sum(l_quantity) AS sum_qty, count(*) AS n_items
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderdate"""

  // ---- incremental JOIN maintenance (q131) ----

  /** The q73 IVM contract applied to a JOIN: maintain the stored
    * denormalized snapshot `base = O_b ⋈ C_b` and refresh it with the
    * three delta joins `ΔO ⋈ C_b ∪ O_b ⋈ ΔC ∪ ΔO ⋈ ΔC` — the algebra
    * every nightly 100 TB denormalization pipeline runs instead of
    * re-joining the world (the four cross-classes partition O × C, so
    * the union is EXACTLY the scratch join, which is what the oracle
    * recomputes). The base snapshot is a session-stored artifact (the
    * q83/q114 amortization — production materializes it once per
    * snapshot); per-refresh cost is the delta joins, each keyed on the
    * FK with a delta side small enough to broadcast at any realistic
    * delta rate. Deltas are the `% 10 = 9` slices on each side's key —
    * q73's convention, so the two IVM operators share one fixture
    * story.
    */
  def deltaJoinMaintenance(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val customer = Tables.load(s, dir, "customer")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
    def joined(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r, l("o_custkey") === r("c_custkey")).select(cols.map(col): _*)
    val ob = orders.filter(col("o_orderkey") % 10 =!= 9)
    val od = orders.filter(col("o_orderkey") % 10 === 9)
    val cb = customer.filter(col("c_custkey") % 10 =!= 9)
    val cd = customer.filter(col("c_custkey") % 10 === 9)
    val base = graft.ArtifactCache.cached("PipelineOps.deltaJoinBase", dir, s)(joined(ob, cb))
    base.unionAll(joined(od, cb)).unionAll(joined(ob, cd))
      .unionAll(joined(od, cd))
  }

  // ---- BM25 relevance scoring ----

  /** Top documents by BM25 for a deterministic probe query — the
    * retrieval-side counterpart of [[tfidfTopTerms]] (RAG retrieval,
    * dataset search, decontamination-by-retrieval all rank this way).
    * The probe is the `m` highest-df terms (ties term ASC) so the query
    * derives from the corpus itself — no corpus-dependent literals in
    * operator or oracle, and high-df probes hit MANY documents, which
    * exercises the scoring instead of degenerate one-hit lists.
    *
    * Portability (cell-exact across engines):
    *  - idf is the log-free Robertson form (N − df + ½)/(df + ½) —
    *    `ln` last-ulp behavior differs across libm implementations, and
    *    dropping it preserves the ranking monotonically (same reasoning
    *    as q41's ratio idf);
    *  - every constant (k1, b, 1−b, k1+1) is computed ONCE in Scala and
    *    interpolated into the SQL via Double.toString (round-trip
    *    exact), never re-derived in SQL arithmetic;
    *  - the per-document sum over matched probe terms folds in sorted
    *    term order on BOTH engines (sort_array + aggregate vs
    *    list_sum(list(… ORDER BY term))) — double addition is not
    *    commutative in the last ulp, so the fold order is pinned;
    *  - dl and avgdl stay exact: token counts are integer-valued, and
    *    integer-valued double sums are exact below 2^53. dl derives
    *    from the tf aggregate (Σ tf per doc), not a second tokenize
    *    pass — every document has ≥ 1 token (splitting "" yields [""]),
    *    so the doc sets agree.
    *
    * Scale shape: tf/df/dl aggregate with map-side partials on their
    * natural keys; the probe set is a TakeOrderedAndProject over the
    * vocabulary-sized df table (bounded broadcast by construction);
    * scalars (n_docs, avgdl) ride one literal-sized broadcast; the
    * final top-`topDocs` is a distributed TakeOrderedAndProject, never
    * a single-partition window.
    */
  def bm25TopDocs(s: SparkSession, dir: String, m: Int = 8, topDocs: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val toks = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qterms = df.orderBy(col("df").desc, col("term").asc).limit(m)
    // dl derives from tf (Σ tf per doc = token count — integer sums,
    // exact under any order) instead of a second tokenize pass over the
    // corpus: at 100 TB that second scan is the query's biggest cost
    val dl = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("double").as("dl"))
    val stats = dl.agg(
      (sum(col("dl")) / count(lit(1)).cast("double")).as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))
    val dfd = col("df").cast("double")
    val tfd = col("tf").cast("double")
    val scored = tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (((col("n_docs") - dfd) + lit(0.5)) / (dfd + lit(0.5)) *
          (tfd * lit(k1 + 1.0)) /
          (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / col("avgdl")))))
          .as("score"))
    scored.groupBy(col("doc_id"))
      .agg(aggregate(sort_array(collect_list(struct(col("term"), col("score")))),
        lit(0.0), (acc, x) => acc + x.getField("score")).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(topDocs)
      .select(col("doc_id"), col("bm25"))
  }

  /** [[bm25TopDocs]] computed ONCE per (sf dir, m, topDocs) and served
    * from a localCheckpoint snapshot — the q114/q83 stored-artifact
    * amortization applied to retrieval: production serves BM25 from a
    * built index, it does not re-derive corpus tf/df per query. q85 and
    * q92's lexical arm both read this ≤ topDocs-row artifact, so the
    * corpus passes happen once per session instead of once per query.
    */
  def bm25TopDocsCached(s: SparkSession, dir: String,
      m: Int = 8, topDocs: Int = 50): DataFrame =
    graft.ArtifactCache.cached("PipelineOps.bm25TopDocs", (dir, m, topDocs), s)(
      bm25TopDocs(s, dir, m = m, topDocs = topDocs))

  // the CTE chain shared verbatim by the q85 oracle and q92's lexical
  // arm — factoring it (rather than re-deriving) is what keeps the two
  // oracles' BM25 scores bit-identical by construction
  private def bm25CtesSql(m: Int, k1: Double, b: Double): String =
    s"""toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        qterms AS (SELECT term, df FROM df ORDER BY df DESC, term ASC LIMIT $m),
        dl AS (SELECT doc_id, sum(tf)::DOUBLE AS dl FROM tf GROUP BY doc_id),
        stats AS (SELECT sum(dl) / count(*)::DOUBLE AS avgdl, count(*)::DOUBLE AS n_docs FROM dl),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 ((n_docs - qterms.df::DOUBLE) + (0.5)::DOUBLE) / (qterms.df::DOUBLE + (0.5)::DOUBLE)
                   * (tf::DOUBLE * (${k1 + 1.0})::DOUBLE)
                   / (tf::DOUBLE + (${k1})::DOUBLE * ((${1.0 - b})::DOUBLE + (${b})::DOUBLE * (dl / avgdl))) AS score
          FROM tf JOIN qterms USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        bm25ranked AS (
          SELECT doc_id, list_sum(list(score ORDER BY term)) AS bm25
          FROM scored GROUP BY doc_id)"""

  def bm25TopDocsSql(m: Int = 8, topDocs: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${bm25CtesSql(m, k1, b)}
        SELECT doc_id, bm25 FROM bm25ranked
        ORDER BY bm25 DESC, doc_id ASC LIMIT $topDocs"""

  // ---- hybrid retrieval: BM25 ⊕ vector cosine, reciprocal-rank fusion ----

  /** Top-`k` documents by reciprocal-rank fusion of the two retrieval
    * arms every production pipeline runs side by side: [[bm25TopDocs]]'s
    * lexical ranking (its deterministic high-df probe) and a vector
    * ranking by cosine against one deterministic query embedding
    * (`vec_id = `[[queryVecId]] — the synthetic tables are row-aligned,
    * `doc_id ≡ vec_id`, so the arms rank the same corpus). RRF is the
    * standard fusion: `Σ_arms 1/(rrfK + rank)`, robust to the arms'
    * incomparable score scales, here summed in a FIXED arm order
    * (lexical + vector — two-term double addition is order-sensitive in
    * the last ulp, so engine and oracle pin it).
    *
    * Scale shape: each arm is already a bounded distributed top-N
    * (TakeOrderedAndProject — no global sort, no single-partition
    * window over corpus-sized data); the rank row_numbers and the
    * full-outer fusion join run over ≤ `kLex`/`kVec` rows BY
    * CONSTRUCTION, so the single-partition steps are bounded the same
    * way the trained-literal broadcasts are. At 100 TB the corpus cost
    * is the arms' (BM25 stats + one cosine pass), both already
    * scale-shaped; fusion cost never grows past kLex + kVec rows.
    */
  def hybridRrf(s: SparkSession, dir: String, m: Int = 8,
      kLex: Int = 50, kVec: Int = 50, k: Int = 20, rrfK: Int = 60): DataFrame = {
    // re-assert the arm's ≤ kLex bound structurally: the artifact is
    // already capped by construction, but the checkpoint scan erases
    // that from the plan — the no-op limit keeps the rank window
    // provably bounded in the plan itself (PlanSpec pins it)
    val lex = bm25TopDocsCached(s, dir, m = m, topDocs = kLex).limit(kLex)
    val lexRanked = lex
      .withColumn("lrank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      .select(col("doc_id").as("l_id"), col("lrank"))
    val e = Similarity.emb(s, dir)
    val qv = e.filter(col("vec_id") === queryVecId).limit(1)
      .select(col("v").as("qv"))
    val vecTop = e.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qv)) // one-row scalar broadcast, the stats pattern
      .select(col("vec_id"), graft.functions.cosine_sim(col("qv"), col("v")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(kVec)
    val vecRanked = vecTop
      .withColumn("vrank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id").asc)))
      .select(col("vec_id").as("v_id"), col("vrank"))
    lexRanked.join(vecRanked, col("l_id") === col("v_id"), "full_outer")
      .select(coalesce(col("l_id"), col("v_id")).as("doc_id"),
        col("lrank"), col("vrank"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("lrank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vrank")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(k)
  }

  /** The deterministic query embedding for [[hybridRrf]]'s vector arm. */
  val queryVecId = 0L

  def hybridRrfSql(m: Int = 8, kLex: Int = 50, kVec: Int = 50,
      k: Int = 20, rrfK: Int = 60,
      k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${bm25CtesSql(m, k1, b)},
        lexall AS (SELECT doc_id, bm25 FROM bm25ranked
                   ORDER BY bm25 DESC, doc_id ASC LIMIT $kLex),
        lex AS (SELECT doc_id,
                       row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lrank
                FROM lexall),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings ${Similarity.denseWhereSql}),
        q AS (SELECT v AS qv FROM e WHERE vec_id = $queryVecId),
        vecscored AS (SELECT e.vec_id, ${Similarity.cosSqlOn("q.qv", "e.v")} AS cos
                      FROM e, q WHERE e.vec_id <> $queryVecId),
        vecall AS (SELECT vec_id, cos FROM vecscored
                   ORDER BY cos DESC, vec_id ASC LIMIT $kVec),
        vec AS (SELECT vec_id,
                       row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS vrank
                FROM vecall)
        SELECT coalesce(lex.doc_id, vec.vec_id) AS doc_id, lrank, vrank,
               coalesce((1.0)::DOUBLE / ($rrfK + lrank), (0)::DOUBLE)
                 + coalesce((1.0)::DOUBLE / ($rrfK + vrank), (0)::DOUBLE) AS rrf
        FROM lex FULL JOIN vec ON lex.doc_id = vec.vec_id
        ORDER BY rrf DESC, doc_id ASC LIMIT $k"""

  // ---- retrieve → rerank serving composition (q152) ----

  /** The two-stage serving pattern every retrieval deployment runs:
    * the cheap RETRIEVE stage ([[hybridRrf]] — both arms bounded
    * distributed top-N) produces `k` candidates, and the expensive
    * model (the q109 hashed-linear scorer standing in for a
    * cross-encoder: a model that reads the FULL document text) scores
    * ONLY those k rows — never the corpus; the join back to `documents`
    * for candidate text is k-row-bounded by construction, which is the
    * entire point of the composition (at 100 TB the reranker's cost is
    * k·doc_len regardless of corpus size). Output carries both ranks
    * so the rerank's reordering of the fused list is visible per row.
    * Exactness by composition: RRF doubles and the mean-logit division
    * are the two operators' already-pinned arithmetic; rank windows run
    * over ≤ k rows with doc_id tie-breaks.
    */
  def retrieveRerank(s: SparkSession, dir: String, k: Int = 20,
      d: Long = 1024L): DataFrame = {
    val cands = hybridRrf(s, dir, k = k)
      .withColumn("retrieve_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("retrieve_rank"), col("rrf"))
    val toks = split(lower(col("text")), " ")
    val scored = cands
      .join(Tables.load(s, dir, "documents").select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("retrieve_rank"), col("rrf"),
        (hashedLogitMicro(col("text"), d).cast("double") / lit(1000000.0)
          / size(toks).cast("double")).as("mean_logit"))
    scored.withColumn("rerank",
        row_number().over(Window.orderBy(col("mean_logit").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("retrieve_rank"), col("rerank"),
        col("rrf"), col("mean_logit"))
  }

  def retrieveRerankSql(k: Int = 20, d: Long = 1024L): String =
    s"""WITH cand AS (
          SELECT doc_id, rrf,
                 row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS retrieve_rank
          FROM (${hybridRrfSql(k = k)}) t),
        cls AS (SELECT doc_id, mean_logit FROM (${classifierFilterSql(d = d)}) t)
        SELECT c.doc_id, c.retrieve_rank,
               row_number() OVER (ORDER BY cls.mean_logit DESC, c.doc_id ASC) AS rerank,
               c.rrf, cls.mean_logit
        FROM cand c JOIN cls USING (doc_id)"""

  // ---- time-partitioned layout + statically pruned range probe ----

  /** Once-per-(JVM, sf dir) time-partitioned rewrite of `events`:
    * `partitionBy(day)` parquet with `day = yyyymmdd int` derived from
    * event time. This is the third storage-layout operator next to the
    * bucketed FK tables (q86, co-located joins) and the persisted IVF
    * index (q83, DPP on a join): it buys STATIC pruning — a literal
    * time-range predicate is resolved against the partition directory
    * listing at plan time, so files outside the range are never listed
    * into the scan at all. At 100 TB a month-long retention layout
    * turns "scan everything and filter" into "open 7/30 of the data"
    * for a week-long probe — the standard day-partitioned lakehouse
    * layout, and the batch complement of q62's Z-order (which clusters
    * WITHIN files for row-group skipping on two dimensions).
    *
    * `day` is written as int so the read-back partition-inferred type
    * matches the literal probe range exactly — a cast on the partition
    * column would defeat the pruning (same contract as q83's bucket).
    * The rewrite keeps the table whole (all columns), so any later
    * query column-prunes at the scan; rows are repartitioned by day
    * first so each partition dir gets contiguous fat row groups.
    */
  private def dayLayoutPath(s: SparkSession, dir: String): String =
    graft.ArtifactCache.staged("PipelineOps.dayLayout", dir, "graft_day_layout") { tmp =>
      Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyyMMdd").cast("int"))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
    }

  /** Per-day event stats for `day` in [lo, hi], served from the
    * partitioned layout — the scan carries the range in its
    * PartitionFilters (pinned in PlanSpec) and never lists the other
    * days' files. Results match the raw-table aggregate exactly (day
    * derives deterministically from `ts` in the pinned UTC session).
    */
  def dayRangeProbe(s: SparkSession, dir: String,
      lo: Int = 20240108, hi: Int = 20240114): DataFrame =
    Tables.parquet(s, dayLayoutPath(s, dir))
      .filter(col("day").between(lo, hi))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  def dayRangeProbeSql(lo: Int = 20240108, hi: Int = 20240114): String =
    s"""SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS day,
               count(*) AS n,
               sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
        FROM events
        WHERE CAST(strftime(ts, '%Y%m%d') AS INT) BETWEEN $lo AND $hi
        GROUP BY 1"""

  // ---- schema evolution gate (q157) ----

  /** Schema-drift ingestion semantics, made explicit: a table whose
    * early files carry schema v1 (orderkey, totalprice) and later
    * files v2 (+ orderstatus) is read back under
    * `mergeSchema = true` — the unified schema with v1 rows NULL in
    * the added column. This is the 100 TB ingest reality every
    * long-lived dataset hits (producers upgrade, history doesn't),
    * and the gate pins Spark's exact fill-with-NULL semantics against
    * the relational derivation: the oracle rebuilds the union from
    * the raw table with a CASE on the same split rule, so
    * rows+schema+hash equality proves the multi-schema read is
    * byte-equivalent to the declarative union — no silent column
    * reorder, type widening, or row loss. Files stage once per (dir);
    * the split rule (orderkey parity) is deterministic.
    */
  private def evoLayoutPath(s: SparkSession, dir: String): String =
    graft.ArtifactCache.staged("PipelineOps.schemaEvo", dir, "graft_schema_evo") { tmp =>
      val o = Tables.load(s, dir, "orders")
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/v1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$tmp/v2")
    }

  def schemaEvolutionRead(s: SparkSession, dir: String): DataFrame = {
    val p = evoLayoutPath(s, dir)
    s.read.option("mergeSchema", "true").parquet(s"$p/v1", s"$p/v2")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
  }

  def schemaEvolutionReadSql: String =
    """SELECT o_orderkey, o_totalprice,
              CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus ELSE NULL END AS o_orderstatus
       FROM orders"""

  // ---- dynamic-partition backfill (q158) ----

  /** Partition backfill — the reprocessing move a day-partitioned
    * lakehouse table lives by: one day's rows are recomputed (here the
    * deterministic `value · 2` correction) and written back under
    * DYNAMIC partition overwrite, which replaces ONLY the partitions
    * present in the write (one day's directory) and leaves every other
    * day's files untouched — the surgical alternative to rewriting the
    * table that static overwrite mode would force. The layout is this
    * query's OWN copy (q97's probe layout must keep serving unmodified
    * data), the replacement derives from the RAW events table so the
    * operation is idempotent across bench repetitions, and the
    * read-back aggregates all days — the oracle applies the same CASE
    * correction to the raw table, so hash equality proves exactly one
    * partition changed and changed correctly.
    */
  private def backfillLayoutPath(s: SparkSession, dir: String): String =
    graft.ArtifactCache.staged("PipelineOps.backfillLayout", dir, "graft_backfill_layout") {
      tmp => Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts"))
        .withColumn("day", date_format(col("ts"), "yyyyMMdd").cast("int"))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(tmp)
    }

  def partitionBackfill(s: SparkSession, dir: String, day: Int = 20240110): DataFrame = {
    val p = backfillLayoutPath(s, dir)
    val repl = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .withColumn("day", date_format(col("ts"), "yyyyMMdd").cast("int"))
      .filter(col("day") === day)
      .withColumn("value", col("value") * 2)
    graft.Sessions.withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
      repl.repartition(col("day")).write.mode("overwrite").partitionBy("day").parquet(p))
    Tables.parquet(s, p)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  def partitionBackfillSql(day: Int = 20240110): String =
    s"""SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS day,
               count(*) AS n,
               sum((CASE WHEN CAST(strftime(ts, '%Y%m%d') AS INT) = $day
                         THEN value * 2 ELSE value END)::DECIMAL(18,2))::DOUBLE AS sum_value
        FROM events
        GROUP BY 1"""

  // ---- hashed linear classifier filtering (q109) ----

  /** fastText-style quality-classifier gate via the hashing trick —
    * the OTHER classic web-corpus filter next to q96's LM perplexity
    * (CCNet runs both): each token hashes into a bounded feature space
    * of `d` buckets, a linear model scores the document as the sum of
    * its tokens' bucket weights, and `kept` thresholds the logit. A
    * production deployment broadcasts the trained d-row weight table;
    * here the weights are a deterministic function of the bucket id
    * (`((b+1)·2654435761) mod 2000001 − 10⁶` micro-units ∈ [−1, 1]) so
    * BOTH engines derive the model from the same integer arithmetic —
    * the plumbing (hash → bounded features → linear score) is the real
    * thing, the weights are the stand-in.
    *
    * Scale shape: the whole filter is ONE per-row projection — the
    * token→weight map and the left-fold sum run inside the row
    * (`transform` + `aggregate` higher-order functions), so there is no
    * explode, no shuffle, and no state at ANY corpus size. Hash-exact
    * by construction: every weight and the logit are BIGINT micro-units
    * (order-independent integer sums); the mean divides once on each
    * engine; `kept` is an INTEGER comparison, immune to float drift.
    */
  /** The hashed-linear logit in BIGINT micro-units — ONE definition
    * shared by the corpus-wide gate (q109) and the candidate reranker
    * (q152), so the model arithmetic cannot drift between them. */
  private def hashedLogitMicro(text: Column, d: Long): Column = {
    val weight = (t: Column) =>
      (pmod(graft.functions.md5_long(t), lit(d)) + lit(1L)) * lit(2654435761L) % lit(2000001L) - lit(1000000L)
    aggregate(transform(split(lower(text), " "), weight), lit(0L), (acc, x) => acc + x)
  }

  def classifierFilter(s: SparkSession, dir: String, d: Long = 1024L,
      thresholdMicro: Long = -333000L): DataFrame = {
    val toks = split(lower(col("text")), " ")
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      hashedLogitMicro(col("text"), d).as("logit_micro"))
      .withColumn("mean_logit",
        col("logit_micro").cast("double") / lit(1000000.0) / col("n_tokens").cast("double"))
      // per-token threshold, applied in INTEGER space: logit/n > τ ⇔
      // logit > n·τ_micro — no float enters the verdict
      .withColumn("kept", col("logit_micro") > col("n_tokens") * lit(thresholdMicro))
  }

  def classifierFilterSql(d: Long = 1024L, thresholdMicro: Long = -333000L): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        scored AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 sum((((('0x' || substring(md5(term), 1, 15))::BIGINT % $d) + 1) * 2654435761) % 2000001 - 1000000)::BIGINT AS logit_micro
          FROM toks GROUP BY 1)
        SELECT doc_id, n_tokens, logit_micro,
               logit_micro::DOUBLE / 1000000.0 / n_tokens::DOUBLE AS mean_logit,
               (logit_micro > n_tokens * ($thresholdMicro)) AS kept
        FROM scored"""

  // ---- interpolated bigram-LM perplexity filtering (q110) ----

  /** Bigram upgrade of [[perplexityFilter]] (q96): each document is
    * scored by the mean log-probability of its BIGRAMS under a
    * Jelinek–Mercer–interpolated bigram model trained on the corpus
    * itself — `p(w2|w1) = λ·c(w1w2)/c(w1) + (1−λ)·c(w2)/N`. The
    * interpolation term is what makes the model total (every observed
    * bigram has c(w2) ≥ 1, so p > 0 and ln is defined); context
    * sensitivity is what the unigram gate can't see: a document of
    * common words in implausible ORDER scores low here but fine there.
    *
    * Same hash-exactness contract as q96: one `ln` per DISTINCT bigram
    * (the interpolated p is a fixed IEEE op sequence over exact BIGINT
    * counts, mirrored operand-for-operand in the oracle), rounded ONCE
    * to micro-units; all downstream sums are BIGINT and the verdict is
    * an integer comparison.
    *
    * Scale shape: bigrams materialize IN-ROW (two slices + zip — no
    * self-join); tf shuffles on (doc, w1, w2) with map-side combine;
    * the bigram-count table is observed-bigram-sized (Heaps-sublinear);
    * the two unigram joins and the scalar total are
    * vocabulary-sized — AQE broadcasts them when they fit. Single-token
    * documents have no bigrams and drop out (the documented contract,
    * `WHERE`-mirrored in the oracle), which also keeps the mean's
    * divisor nonzero on both engines.
    */
  def bigramPerplexityFilter(s: SparkSession, dir: String, lam: Double = 0.75,
      thresholdMicro: Long = -3400000L): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val toksCol = split(lower(col("text")), " ")
    val pairs = arrays_zip(
      slice(toksCol, lit(1), size(toksCol) - 1).as("w1"),
      slice(toksCol, lit(2), size(toksCol) - 1).as("w2"))
    // MEASURED AND KEPT AS-IS (r19 optimization round): materializing
    // tf2/cnt1 behind localCheckpoints (the q156 move) measured 1.69 s
    // vs 1.52 s for this form in a same-window A/B — tf2 is
    // doc×bigram-grained (near stream-sized, unlike q156's
    // vocab²-bounded grid), so the checkpoint write costs more than
    // AQE's runtime exchange reuse already saves across the two
    // consumers. Guide §1.1: empirical beats first-principles.
    val tf2 = docs.select(col("doc_id"), explode(pairs).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))
    val cnt1 = docs.select(explode(toksCol).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c1"))
    val tot = cnt1.agg(sum(col("c1")).as("n"))
    val lp = tf2.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c12"))
      .join(cnt1.select(col("term").as("w1"), col("c1")), "w1")
      .join(cnt1.select(col("term").as("w2"), col("c1").as("cw2")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("lp_micro",
        round(log(lit(lam) * (col("c12").cast("double") / col("c1").cast("double"))
          + lit(1.0 - lam) * (col("cw2").cast("double") / col("n").cast("double"))) * 1e6)
          .cast("long"))
      .select(col("w1"), col("w2"), col("lp_micro"))
    tf2.join(lp, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("lp_micro")).as("sum_lp_micro"))
      .withColumn("avg_logprob",
        col("sum_lp_micro").cast("double") / lit(1000000.0) / col("n_bigrams").cast("double"))
      .withColumn("kept", col("sum_lp_micro") > col("n_bigrams") * lit(thresholdMicro))
      .select(col("doc_id"), col("n_bigrams"), col("avg_logprob"), col("kept"))
  }

  def bigramPerplexityFilterSql(lam: Double = 0.75,
      thresholdMicro: Long = -3400000L): String =
    s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
        toks AS (SELECT doc_id, unnest(l) AS term FROM d),
        n1 AS (SELECT term, count(*)::BIGINT AS c1 FROM toks GROUP BY 1),
        tot AS (SELECT sum(c1)::BIGINT AS n FROM n1),
        bgr AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2
                FROM (SELECT doc_id,
                             unnest(list_transform(range(1, len(l)), i -> {'w1': l[i], 'w2': l[i+1]})) AS u
                      FROM d)),
        tf2 AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS tf FROM bgr GROUP BY 1, 2, 3),
        c2 AS (SELECT w1, w2, sum(tf)::BIGINT AS c12 FROM tf2 GROUP BY 1, 2),
        lp AS (SELECT c2.w1, c2.w2,
                      round(ln(($lam) * (c2.c12::DOUBLE / a.c1::DOUBLE)
                               + (${1.0 - lam}) * (b.c1::DOUBLE / tot.n::DOUBLE)) * 1000000)::BIGINT AS lp_micro
               FROM c2 JOIN n1 a ON a.term = c2.w1
                       JOIN n1 b ON b.term = c2.w2
                       CROSS JOIN tot),
        doc AS (SELECT doc_id, sum(tf)::BIGINT AS n_bigrams,
                       sum(tf * lp_micro)::BIGINT AS sum_lp_micro
                FROM tf2 JOIN lp USING (w1, w2) GROUP BY 1)
        SELECT doc_id, n_bigrams,
               sum_lp_micro::DOUBLE / 1000000.0 / n_bigrams::DOUBLE AS avg_logprob,
               (sum_lp_micro > n_bigrams * ($thresholdMicro)) AS kept
        FROM doc"""

  // ---- curated pack manifest (q247): the end-to-end composition ----

  /** q247: what the pipeline actually SHIPS — the packing manifest
    * over the CURATED corpus: q48's full keep verdict (quality gates,
    * language, exact dedup, near-dup clusters, PII) filters the
    * documents, and the survivors pack per source (q220's manifest).
    * One composition query = the dedup → curate → pack spine of a
    * training-data build, end-to-end under one oracle (the curation
    * chain and the pack chain composed verbatim in SQL). The
    * survivors' cumsum is over the FILTERED stream, so every
    * downstream seq id reflects post-curation reality — packing
    * before curation and masking later wastes the dropped tokens'
    * positions.
    */
  def curatedPackManifest(s: SparkSession, dir: String): DataFrame = {
    val kept = curation(s, dir).filter(col("keep") === 1).select(col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    packDerived(packInput(s, dir).join(kept, "doc_id")
      .withColumn("start", coalesce(sum(col("n_tok")).over(w), lit(0L))))
  }

  def curatedPackManifestSql(): String =
    s"""WITH kept AS (SELECT doc_id FROM (${curationSql()}) cu WHERE keep = 1),
        t AS (SELECT d.source, d.doc_id,
                     len(string_split(lower(d.text), ' '))::BIGINT AS n_tok
              FROM documents d JOIN kept USING (doc_id)
              WHERE d.text IS NOT NULL),
        c AS (SELECT source, doc_id, n_tok,
                     coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
              FROM t)
        SELECT source, doc_id, n_tok, start,
               start // $packSeqLen AS seq_first,
               (start + n_tok - 1) // $packSeqLen AS seq_last,
               start % $packSeqLen AS offset_in_seq,
               ((start + n_tok - 1) // $packSeqLen - start // $packSeqLen + 1) AS n_seqs
        FROM c"""

  // ---- matched eval-holdout sampler (q245) ----

  /** q245: a holdout MATCHED on the nuisance variable — k docs per
    * (source, length-bucket) cell, picked by the deterministic md5
    * order (the q39 hash-split discipline). An eval set drawn
    * uniformly would confound source quality with length mix; quota
    * matching per cell makes cross-source eval deltas attributable.
    * Per-cell pick is WindowGroupLimit on the (source, bucket)-keyed
    * shuffle — the rank never sorts more than a cell.
    */
  def matchedHoldout(s: SparkSession, dir: String, k: Int = 2): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val base = Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("len"))
      .withColumn("len_bucket", least(expr("len div 100"), lit(5L)))
      .withColumn("h", graft.functions.md5_long(col("doc_id").cast("string")))
    val w = W.partitionBy(col("source"), col("len_bucket"))
      .orderBy(col("h").asc, col("doc_id").asc)
    base.withColumn("pick_rank", row_number().over(w).cast("long"))
      .filter(col("pick_rank") <= k)
      .select(col("doc_id"), col("source"), col("len_bucket"),
        col("len"), col("pick_rank"))
  }

  def matchedHoldoutSql(k: Int = 2): String =
    s"""WITH b AS (SELECT doc_id, source,
                          len(string_split(lower(text), ' '))::BIGINT AS len,
                          least(len(string_split(lower(text), ' '))::BIGINT // 100, 5) AS len_bucket,
                          ('0x' || substring(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
                   FROM documents WHERE text IS NOT NULL)
        SELECT doc_id, source, len_bucket, len,
               row_number() OVER (PARTITION BY source, len_bucket
                 ORDER BY h ASC, doc_id ASC)::BIGINT AS pick_rank
        FROM b QUALIFY pick_rank <= $k"""

  // ---- rendezvous-hash placement audit (q243) ----

  /** q243: rendezvous (highest-random-weight) shard placement and its
    * RESHARD COST — every doc goes to the node maximizing
    * md5(doc_id:node), and the audit reruns the argmax with one node
    * removed: rendezvous guarantees only the removed node's docs move
    * (≈ 1/N of the corpus), and this REPORT proves it from the data —
    * per (node_before, node_after) movement counts, the thing to
    * check before trusting a placement scheme with a 100 TB reshard.
    * Map-only per doc (2·N hash evaluations in-row via the argmax over
    * an exploded node list — N is 8), one bounded aggregate.
    */
  val rendezvousNodes = 8

  def rendezvousSharding(s: SparkSession, dir: String): DataFrame = {
    def place(n: Int): Column = {
      // argmax over the N packed (hash, node) pairs — max key then
      // decode, the kmAssign packing trick with the hash as major
      val packed = (0 until n).map { node =>
        struct(graft.functions.md5_long(
          concat(col("doc_id").cast("string"), lit(s":$node"))).as("h"),
          lit(node.toLong).as("node"))
      }
      greatest(packed: _*).getField("node")
    }
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .withColumn("node_before", place(rendezvousNodes))
      .withColumn("node_after", place(rendezvousNodes - 1))
      .groupBy(col("node_before"), col("node_after"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("moved", col("node_before") =!= col("node_after"))
  }

  def rendezvousShardingSql(): String = {
    def hs(node: Int) =
      s"('0x' || substring(md5(doc_id::VARCHAR || ':$node'), 1, 15))::BIGINT"
    def placeSql(n: Int) = {
      val pairs = (0 until n).map(node => s"{'h': ${hs(node)}, 'node': ${node}::BIGINT}")
      s"list_max([${pairs.mkString(", ")}]).node"
    }
    s"""WITH p AS (SELECT doc_id, ${placeSql(rendezvousNodes)} AS node_before,
                          ${placeSql(rendezvousNodes - 1)} AS node_after
                   FROM documents)
        SELECT node_before, node_after, count(*)::BIGINT AS n_docs,
               (node_before <> node_after) AS moved
        FROM p GROUP BY 1, 2"""
  }

  // ---- persistent heavy hitters (q244) ----

  /** q244: users heavy on MANY days — persistence separates the
    * standing bot from the one-day burst (a per-window heavy-hitter
    * list flags both; the persistent set is what abuse review reads).
    * Per-(user, day) counts (map-side combined), a daily-threshold
    * gate, then the persistence count with the qualifying subset —
    * two keyed aggregates, output bounded by the heavy set.
    */
  def persistentHeavyHitters(s: SparkSession, dir: String,
      dailyMin: Long = 5L, minDays: Long = 3L): DataFrame = {
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= dailyMin)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_heavy_days"), sum(col("c")).as("n_heavy_events"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .filter(col("n_heavy_days") >= minDays)
  }

  def persistentHeavyHittersSql(dailyMin: Long = 5L, minDays: Long = 3L): String =
    s"""WITH d AS (SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                          count(*)::BIGINT AS c
                   FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                   GROUP BY 1, 2 HAVING count(*) >= $dailyMin)
        SELECT user_id, count(*)::BIGINT AS n_heavy_days,
               sum(c)::BIGINT AS n_heavy_events,
               min(day) AS first_day, max(day) AS last_day
        FROM d GROUP BY 1 HAVING count(*) >= $minDays"""

  // ---- two-sample KS matrix on length distributions (q242) ----

  /** q242: distribution-SHAPE drift between sources — the exact
    * two-sample Kolmogorov–Smirnov statistic on document-length
    * distributions, for every unordered source pair: D = max over the
    * joint support of |F_a − F_b|, computed as the INTEGER
    * `max |cum_a·N_b − cum_b·N_a|` with one final division (q233's
    * vocab-KL sees token MIX; this sees length SHAPE — two sources
    * with identical vocabularies and wildly different doc lengths are
    * invisible there, glaring here). The dense sources×support grid
    * is bounded by distinct lengths; cumulative counts are one window
    * per source; the pair join is grid², never corpus-sized.
    */
  /** The (source, length) counter cells — q242's batch input and
    * q252's Complete-mode stream state (counter sums, support-bounded).
    */
  def lengthCells(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("len"))
      .groupBy(col("source"), col("len")).agg(count(lit(1)).as("c"))

  /** The KS fold over the converged cells — shared by q242/q252. */
  def lengthKsFold(counts: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val dense = counts.select(col("source")).distinct()
      .crossJoin(counts.select(col("len")).distinct())
      .join(counts, Seq("source", "len"), "left")
      .select(col("source"), col("len"), coalesce(col("c"), lit(0L)).as("c"))
    val wCum = W.partitionBy(col("source")).orderBy(col("len"))
      .rowsBetween(W.unboundedPreceding, 0)
    val cum = dense.withColumn("cumc", sum(col("c")).over(wCum))
    val tot = cum.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val g = cum.join(tot, "source")
    val a = g.select(col("source").as("src_a"), col("len"),
      col("cumc").as("ca"), col("n").as("na"))
    val b = g.select(col("source").as("src_b"), col("len"),
      col("cumc").as("cb"), col("n").as("nb"))
    a.join(b, Seq("len")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(min(col("na")).as("n_a"), min(col("nb")).as("n_b"),
        max(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("ks_num"))
      .withColumn("ks",
        col("ks_num").cast("double") / (col("n_a") * col("n_b")).cast("double"))
  }

  def lengthKsMatrix(s: SparkSession, dir: String): DataFrame =
    lengthKsFold(lengthCells(
      Tables.load(s, dir, "documents").select(col("source"), col("text"))))

  // ---- per-source threshold calibration (q251) ----

  /** q251: per-DOMAIN quality cuts — a single global threshold keeps
    * whatever mix the score distributions dictate; production filters
    * calibrate a cut PER SOURCE to a target keep-rate. For each
    * source: the k-th best per-token classifier mean (k = ⌈n/2⌉) IS
    * the cut; `n_kept` reports the ties-inclusive count at-or-above
    * it (the calibration caveat made visible instead of hidden). One
    * rank window per source, one broadcast join back for the tie
    * count — never a global sort.
    */
  def thresholdCalibration(s: SparkSession, dir: String,
      d: Long = 1024L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val toks = split(lower(col("text")), " ")
    val scored = Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        hashedLogitMicro(col("text"), d).as("logit_micro"))
      .withColumn("mean_logit",
        col("logit_micro").cast("double") / lit(1000000.0) / col("n_tokens").cast("double"))
    val wRk = W.partitionBy(col("source"))
      .orderBy(col("mean_logit").desc, col("doc_id").asc)
    val nBy = scored.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("k_target", expr("(n_docs + 1) div 2"))
    val cut = scored.withColumn("rk", row_number().over(wRk).cast("long"))
      .join(broadcast(nBy), "source")
      .filter(col("rk") === col("k_target"))
      .select(col("source"), col("n_docs"), col("k_target"),
        col("mean_logit").as("cut_mean"))
    scored.join(broadcast(cut), "source")
      .filter(col("mean_logit") >= col("cut_mean"))
      .groupBy(col("source"))
      .agg(min(col("n_docs")).as("n_docs"), min(col("k_target")).as("k_target"),
        min(col("cut_mean")).as("cut_mean"), count(lit(1)).as("n_kept"))
  }

  def thresholdCalibrationSql(d: Long = 1024L): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                      FROM documents WHERE text IS NOT NULL),
        sc AS (SELECT t.doc_id, dd.source,
                      sum((((('0x' || substring(md5(term), 1, 15))::BIGINT % $d) + 1) * 2654435761) % 2000001 - 1000000)::BIGINT::DOUBLE
                        / 1000000.0 / count(*)::DOUBLE AS mean_logit
               FROM toks t JOIN documents dd ON t.doc_id = dd.doc_id
               GROUP BY 1, 2),
        nby AS (SELECT source, count(*)::BIGINT AS n_docs,
                       (count(*) + 1) // 2 AS k_target
                FROM sc GROUP BY 1),
        rk AS (SELECT sc.*, row_number() OVER (PARTITION BY sc.source
                 ORDER BY mean_logit DESC, doc_id ASC)::BIGINT AS rk
               FROM sc),
        cut AS (SELECT rk.source, n_docs, k_target, mean_logit AS cut_mean
                FROM rk JOIN nby USING (source) WHERE rk = k_target)
        SELECT sc.source, min(n_docs)::BIGINT AS n_docs,
               min(k_target)::BIGINT AS k_target,
               min(cut_mean) AS cut_mean, count(*)::BIGINT AS n_kept
        FROM sc JOIN cut ON sc.source = cut.source
        WHERE sc.mean_logit >= cut.cut_mean
        GROUP BY 1"""

  def lengthKsMatrixSql(): String =
    """WITH lens AS (SELECT source, len(string_split(lower(text), ' '))::BIGINT AS len
                     FROM documents WHERE text IS NOT NULL),
       counts AS (SELECT source, len, count(*)::BIGINT AS c FROM lens GROUP BY 1, 2),
       dense AS (SELECT s.source, l.len, coalesce(c.c, 0)::BIGINT AS c
                 FROM (SELECT DISTINCT source FROM counts) s
                 CROSS JOIN (SELECT DISTINCT len FROM counts) l
                 LEFT JOIN counts c ON c.source = s.source AND c.len = l.len),
       cum AS (SELECT source, len, c,
                      sum(c) OVER (PARTITION BY source ORDER BY len
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cumc
               FROM dense),
       tot AS (SELECT source, sum(c)::BIGINT AS n FROM cum GROUP BY 1),
       g AS (SELECT cum.source, len, cumc, n FROM cum JOIN tot USING (source))
       SELECT a.source AS src_a, b.source AS src_b,
              min(a.n)::BIGINT AS n_a, min(b.n)::BIGINT AS n_b,
              max(abs(a.cumc * b.n - b.cumc * a.n))::BIGINT AS ks_num,
              max(abs(a.cumc * b.n - b.cumc * a.n))::BIGINT::DOUBLE
                / (min(a.n) * min(b.n))::DOUBLE AS ks
       FROM g a JOIN g b ON a.len = b.len AND a.source < b.source
       GROUP BY 1, 2"""

  // ---- epoch repetition allocator (q236) ----

  /** q236: the data-constrained-scaling allocator — under a token
    * budget of TWO average epochs (B = 2·Σsize, derived from the
    * corpus on both engines, no literal), repeat each source up to
    * `epochCap` epochs, HIGHEST-QUALITY sources first (per-token mean
    * classifier logit, the single-IEEE-division ratio): each source's
    * allocation is `clamp(B − capacity-before, 0, size·cap)` — the
    * greedy fill as one window cumsum over the SOURCES frame (tens of
    * rows), everything integer except the ordering key. The recipe
    * behind "repeat good data up to 4 epochs before touching worse
    * data" — priced exactly, per source.
    */
  def epochAllocator(s: SparkSession, dir: String, epochCap: Long = 4L,
      d: Long = 1024L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val toks = split(lower(col("text")), " ")
    val perSrc = Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"),
        size(toks).cast("long").as("n_tok"),
        hashedLogitMicro(col("text"), d).as("logit_micro"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("size_tok"), sum(col("logit_micro")).as("logit_sum"))
      .withColumn("quality",
        col("logit_sum").cast("double") / col("size_tok").cast("double"))
    val wCum = W.orderBy(col("quality").desc, col("source").asc)
      .rowsBetween(W.unboundedPreceding, -1)
    val wRk = W.orderBy(col("quality").desc, col("source").asc)
    perSrc
      .crossJoin(broadcast(perSrc.agg((sum(col("size_tok")) * 2).as("budget"))))
      .withColumn("rank", row_number().over(wRk).cast("long"))
      .withColumn("capacity", col("size_tok") * epochCap)
      .withColumn("cap_before", coalesce(sum(col("capacity")).over(wCum), lit(0L)))
      .withColumn("alloc_tok", greatest(lit(0L),
        least(col("budget") - col("cap_before"), col("capacity"))))
      .select(col("source"), col("rank"), col("quality"), col("size_tok"),
        col("capacity"), col("alloc_tok"),
        expr("alloc_tok div size_tok").as("epochs_full"),
        (col("alloc_tok") % col("size_tok")).as("partial_tokens"))
  }

  def epochAllocatorSql(epochCap: Long = 4L, d: Long = 1024L): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                      FROM documents WHERE text IS NOT NULL),
        sc AS (SELECT t.doc_id, dd.source, count(*)::BIGINT AS n_tok,
                      sum((((('0x' || substring(md5(term), 1, 15))::BIGINT % $d) + 1) * 2654435761) % 2000001 - 1000000)::BIGINT AS logit_micro
               FROM toks t JOIN documents dd ON t.doc_id = dd.doc_id
               GROUP BY 1, 2),
        src AS (SELECT source, sum(n_tok)::BIGINT AS size_tok,
                       sum(logit_micro)::BIGINT AS logit_sum
                FROM sc GROUP BY 1),
        q AS (SELECT *, logit_sum::DOUBLE / size_tok::DOUBLE AS quality,
                     (SELECT sum(size_tok) * 2 FROM src)::BIGINT AS budget
              FROM src),
        c AS (SELECT *, row_number() OVER (ORDER BY quality DESC, source ASC)::BIGINT AS rank,
                     (size_tok * $epochCap)::BIGINT AS capacity,
                     coalesce(sum(size_tok * $epochCap) OVER (ORDER BY quality DESC, source ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cap_before
              FROM q)
        SELECT source, rank, quality, size_tok, capacity,
               greatest(0, least(budget - cap_before, capacity))::BIGINT AS alloc_tok,
               greatest(0, least(budget - cap_before, capacity)) // size_tok AS epochs_full,
               greatest(0, least(budget - cap_before, capacity)) % size_tok AS partial_tokens
        FROM c"""

  // ---- vocabulary coverage curve (q237) ----

  /** q237: the vocab-size tuning curve — for each candidate vocabulary
    * size V, the fraction of corpus tokens covered by the V most
    * frequent terms (frequency desc, term asc ties). One vocabulary
    * count aggregate (map-side combined, Heaps-sublinear output), one
    * rank window over the VOCAB frame, then a bounded explode across
    * the candidate sizes — the report that decides whether 16k or 32k
    * buys anything before training a tokenizer.
    */
  val vocabSweep = Seq(256L, 1024L, 4096L, 16384L)

  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val counts = Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val wRk = W.orderBy(col("c").desc, col("term").asc)
    val ranked = counts.withColumn("rk", row_number().over(wRk).cast("long"))
    ranked
      .crossJoin(broadcast(ranked.agg(sum(col("c")).as("n_total"),
        count(lit(1)).as("n_distinct"))))
      .withColumn("v", explode(typedLit(vocabSweep)))
      .filter(col("rk") <= col("v"))
      .groupBy(col("v"))
      .agg(min(col("n_total")).as("n_total"), min(col("n_distinct")).as("n_distinct"),
        count(lit(1)).as("n_terms_used"), sum(col("c")).as("covered_tokens"))
      .withColumn("coverage",
        col("covered_tokens").cast("double") / col("n_total").cast("double"))
  }

  def vocabCoverageSql(): String =
    s"""WITH counts AS (SELECT term, count(*)::BIGINT AS c
                        FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
                              FROM documents WHERE text IS NOT NULL)
                        GROUP BY 1),
        r AS (SELECT term, c, row_number() OVER (ORDER BY c DESC, term ASC)::BIGINT AS rk,
                     (SELECT sum(c) FROM counts)::BIGINT AS n_total,
                     (SELECT count(*) FROM counts)::BIGINT AS n_distinct
              FROM counts),
        x AS (SELECT r.*, v FROM r,
                     (SELECT unnest([${vocabSweep.mkString(", ")}])::BIGINT AS v)
              WHERE rk <= v)
        SELECT v, min(n_total)::BIGINT AS n_total,
               min(n_distinct)::BIGINT AS n_distinct,
               count(*)::BIGINT AS n_terms_used,
               sum(c)::BIGINT AS covered_tokens,
               sum(c)::BIGINT::DOUBLE / min(n_total)::DOUBLE AS coverage
        FROM x GROUP BY 1"""

  // ---- preference-pair assembly (q232) ----

  /** q232: chosen/rejected preference pairs — the RLHF/DPO data-prep
    * step: per source, pair the m best-scoring documents with the m
    * worst (by the q109 classifier's per-token mean, rank r best with
    * rank r worst). Ranking is per-source WindowGroupLimit (never a
    * global sort); the mean is the single-IEEE-division of exact
    * BIGINTs both engines compute identically; the pairing is one
    * (source, rank) equi-join of two m-row-per-source frames.
    */
  def preferencePairs(s: SparkSession, dir: String, m: Int = 5,
      d: Long = 1024L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val toks = split(lower(col("text")), " ")
    val scored = Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        hashedLogitMicro(col("text"), d).as("logit_micro"))
      .withColumn("mean_logit",
        col("logit_micro").cast("double") / lit(1000000.0) / col("n_tokens").cast("double"))
    val wBest = W.partitionBy(col("source"))
      .orderBy(col("mean_logit").desc, col("doc_id").asc)
    val wWorst = W.partitionBy(col("source"))
      .orderBy(col("mean_logit").asc, col("doc_id").asc)
    val best = scored.withColumn("pair_rank", row_number().over(wBest))
      .filter(col("pair_rank") <= m)
      .select(col("source"), col("pair_rank").cast("long").as("pair_rank"),
        col("doc_id").as("chosen_doc"), col("mean_logit").as("chosen_mean"))
    val worst = scored.withColumn("pair_rank", row_number().over(wWorst))
      .filter(col("pair_rank") <= m)
      .select(col("source"), col("pair_rank").cast("long").as("pair_rank"),
        col("doc_id").as("rejected_doc"), col("mean_logit").as("rejected_mean"))
    best.join(worst, Seq("source", "pair_rank"))
      .filter(col("chosen_doc") =!= col("rejected_doc"))
  }

  def preferencePairsSql(m: Int = 5, d: Long = 1024L): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                      FROM documents WHERE text IS NOT NULL),
        scored AS (
          SELECT t.doc_id, dd.source, count(*)::BIGINT AS n_tokens,
                 sum((((('0x' || substring(md5(term), 1, 15))::BIGINT % $d) + 1) * 2654435761) % 2000001 - 1000000)::BIGINT AS logit_micro
          FROM toks t JOIN documents dd ON t.doc_id = dd.doc_id
          GROUP BY 1, 2),
        sc AS (SELECT doc_id, source,
                      logit_micro::DOUBLE / 1000000.0 / n_tokens::DOUBLE AS mean_logit
               FROM scored),
        best AS (SELECT source,
                        row_number() OVER (PARTITION BY source
                          ORDER BY mean_logit DESC, doc_id ASC)::BIGINT AS pair_rank,
                        doc_id AS chosen_doc, mean_logit AS chosen_mean
                 FROM sc QUALIFY pair_rank <= $m),
        worst AS (SELECT source,
                         row_number() OVER (PARTITION BY source
                           ORDER BY mean_logit ASC, doc_id ASC)::BIGINT AS pair_rank,
                         doc_id AS rejected_doc, mean_logit AS rejected_mean
                  FROM sc QUALIFY pair_rank <= $m)
        SELECT source, pair_rank, chosen_doc, chosen_mean,
               rejected_doc, rejected_mean
        FROM best JOIN worst USING (source, pair_rank)
        WHERE chosen_doc <> rejected_doc"""

  // ---- pairwise source divergence matrix (q233) ----

  /** q233: the dataset-similarity map — for every ordered source pair
    * (a, b), the KL divergence of a's add-one-smoothed unigram
    * distribution from b's, scaled to integers:
    * KL·(N_a+V) = Σ_t (c_a(t)+1)·(ln p_a(t) − ln p_b(t)), with one
    * `ln` per (source, term) cell rounded once to micro-nats (the
    * q96 ledger) and everything after pure BIGINT. The grid is DENSE
    * over the joint vocabulary (absent terms contribute their
    * smoothed mass — dropping them biases KL), but its size is
    * sources×V — sources are tens, so the pair join is
    * sources²×V cells of INTEGER arithmetic, never corpus-sized. The
    * report curation reads before mixing: which sources are
    * near-duplicates of each other, which are genuinely novel.
    */
  def sourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("term"))
    val counts = toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val srcs = counts.select(col("source")).distinct()
    val terms = counts.select(col("term")).distinct()
    val vocabN = terms.agg(count(lit(1)).as("v"))
    val dense = srcs.crossJoin(terms)
      .join(counts, Seq("source", "term"), "left")
      .select(col("source"), col("term"), coalesce(col("c"), lit(0L)).as("c"))
    val totals = dense.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val lp = dense.join(totals, "source").crossJoin(broadcast(vocabN))
      .select(col("source"), col("term"), col("c"), (col("n") + col("v")).as("denom"),
        round(log((col("c") + 1).cast("double") /
          (col("n") + col("v")).cast("double")) * 1e6).cast("long").as("lp_micro"))
    val a = lp.select(col("source").as("src_a"), col("term"),
      col("c").as("ca"), col("denom").as("den_a"), col("lp_micro").as("lpa"))
    val b = lp.select(col("source").as("src_b"), col("term"),
      col("lp_micro").as("lpb"))
    a.join(b, Seq("term")).filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(min(col("den_a")).as("den_a"), // constant per src_a; min = deterministic read
        sum((col("ca") + 1) * (col("lpa") - col("lpb"))).as("kl_num_micro"))
      .withColumn("kl_nats",
        col("kl_num_micro").cast("double") / lit(1000000.0) / col("den_a").cast("double"))
  }

  def sourceDivergenceSql(): String =
    """WITH toks AS (SELECT source, unnest(string_split(lower(text), ' ')) AS term
                     FROM documents WHERE text IS NOT NULL),
       counts AS (SELECT source, term, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
       vocab AS (SELECT count(DISTINCT term)::BIGINT AS v FROM counts),
       dense AS (SELECT s.source, t.term, coalesce(c.c, 0)::BIGINT AS c
                 FROM (SELECT DISTINCT source FROM counts) s
                 CROSS JOIN (SELECT DISTINCT term FROM counts) t
                 LEFT JOIN counts c ON c.source = s.source AND c.term = t.term),
       tot AS (SELECT source, sum(c)::BIGINT AS n FROM dense GROUP BY 1),
       lp AS (SELECT d.source, d.term, d.c, (t.n + v.v)::BIGINT AS denom,
                     round(ln((d.c + 1)::DOUBLE / (t.n + v.v)::DOUBLE) * 1000000)::BIGINT AS lp_micro
              FROM dense d JOIN tot t ON d.source = t.source CROSS JOIN vocab v)
       SELECT a.source AS src_a, b.source AS src_b,
              min(a.denom)::BIGINT AS den_a,
              sum((a.c + 1) * (a.lp_micro - b.lp_micro))::BIGINT AS kl_num_micro,
              sum((a.c + 1) * (a.lp_micro - b.lp_micro))::BIGINT::DOUBLE / 1000000.0
                / min(a.denom)::DOUBLE AS kl_nats
       FROM lp a JOIN lp b ON a.term = b.term AND a.source <> b.source
       GROUP BY 1, 2"""

  // ---- DSIR-style importance selection (q231) ----

  /** q231: data selection via importance resampling (the DSIR recipe):
    * score every raw-pool document by how much more likely a TARGET
    * language model finds it than the SOURCE model —
    * Σ_w tf·(ln p_t(w) − ln p_s(w)) — and keep the top k. Target =
    * the `% 10 = 0` reference docs (the distribution we want more
    * of, q66's split convention); both unigram models are add-one
    * smoothed over the JOINT vocabulary so unseen terms are defined
    * on both sides. Exactness: one `ln` per distinct term PER MODEL,
    * each rounded once to micro-nats (the q96/q110 contract), then
    * pure BIGINT sums; the top-k is TakeOrderedAndProject (never a
    * data-sized global sort) with the rank window over k rows.
    * Scale shape: two vocabulary-sized count tables (map-side
    * combined), one full-outer vocab join, per-doc tf shuffles on
    * (doc, term) — Heaps-sublinear everywhere the data is big.
    */
  def dsirSelection(s: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val toksCol = split(lower(col("text")), " ")
    val docs = Tables.load(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), explode(toksCol).as("term"))
    val ct = docs.filter(col("doc_id") % 10 === 0)
      .groupBy(col("term")).agg(count(lit(1)).as("ctgt"))
    val cs = docs.filter(col("doc_id") % 10 =!= 0)
      .groupBy(col("term")).agg(count(lit(1)).as("csrc"))
    val vocab = ct.join(cs, Seq("term"), "full_outer")
      .select(col("term"), coalesce(col("ctgt"), lit(0L)).as("ctgt"),
        coalesce(col("csrc"), lit(0L)).as("csrc"))
    val tots = vocab.agg(sum(col("ctgt")).as("nt"), sum(col("csrc")).as("ns"),
      count(lit(1)).as("v"))
    val lr = vocab.crossJoin(broadcast(tots))
      .withColumn("lpt_micro", round(log((col("ctgt") + 1).cast("double") /
        (col("nt") + col("v")).cast("double")) * 1e6).cast("long"))
      .withColumn("lps_micro", round(log((col("csrc") + 1).cast("double") /
        (col("ns") + col("v")).cast("double")) * 1e6).cast("long"))
      .select(col("term"), (col("lpt_micro") - col("lps_micro")).as("lr_micro"))
    val tf = docs.filter(col("doc_id") % 10 =!= 0)
      .groupBy(col("doc_id"), col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.join(lr, Seq("term"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("tf")).as("n_toks"),
        sum(col("tf") * col("lr_micro")).as("weight_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("weight_micro").desc, col("doc_id").asc)
    scored.orderBy(col("weight_micro").desc, col("doc_id").asc).limit(k)
      .select(col("doc_id"), col("source"), col("n_toks"), col("weight_micro"),
        row_number().over(w).cast("long").as("rank"))
  }

  def dsirSelectionSql(k: Int = 100): String =
    s"""WITH d AS (SELECT doc_id, source, string_split(lower(text), ' ') AS l
                   FROM documents WHERE text IS NOT NULL),
        toks AS (SELECT doc_id, source, unnest(l) AS term FROM d),
        ct AS (SELECT term, count(*)::BIGINT AS ctgt FROM toks
               WHERE doc_id % 10 = 0 GROUP BY 1),
        cs AS (SELECT term, count(*)::BIGINT AS csrc FROM toks
               WHERE doc_id % 10 <> 0 GROUP BY 1),
        vocab AS (SELECT coalesce(ct.term, cs.term) AS term,
                         coalesce(ctgt, 0)::BIGINT AS ctgt,
                         coalesce(csrc, 0)::BIGINT AS csrc
                  FROM ct FULL JOIN cs ON ct.term = cs.term),
        tots AS (SELECT sum(ctgt)::BIGINT AS nt, sum(csrc)::BIGINT AS ns,
                        count(*)::BIGINT AS v
                 FROM vocab),
        lr AS (SELECT term,
                      round(ln((ctgt + 1)::DOUBLE / (nt + v)::DOUBLE) * 1000000)::BIGINT
                        - round(ln((csrc + 1)::DOUBLE / (ns + v)::DOUBLE) * 1000000)::BIGINT
                        AS lr_micro
               FROM vocab, tots),
        tf AS (SELECT doc_id, source, term, count(*)::BIGINT AS tf FROM toks
               WHERE doc_id % 10 <> 0 GROUP BY 1, 2, 3),
        sc AS (SELECT doc_id, source, sum(tf)::BIGINT AS n_toks,
                      sum(tf * lr_micro)::BIGINT AS weight_micro
               FROM tf JOIN lr USING (term) GROUP BY 1, 2)
        SELECT doc_id, source, n_toks, weight_micro,
               row_number() OVER (ORDER BY weight_micro DESC, doc_id ASC)::BIGINT AS rank
        FROM sc QUALIFY rank <= $k"""

  // ---- model-based curation cascade (q114) ----

  /** The second curation pass a production pipeline runs AFTER q48's
    * heuristic gates: the model-based filters — unigram-LM perplexity
    * (q96), the hashed linear classifier (q109), and the interpolated
    * bigram LM (q110) — joined into one verdict table. The cascade
    * shape (cheap heuristics first, model scores on what survives) is
    * the standard cost structure; here all verdicts are emitted for
    * every document so the report doubles as a filter-ablation table
    * (which gate killed what). Single-token documents have no bigram
    * score (LEFT join) and fail the composite by `coalesce(false)`.
    *
    * Every input verdict is already integer-exact (q48's count/flag
    * logic, q96/q110's BIGINT micro-unit sums, q109's integer
    * comparison), so the composite is hash-exact by composition. The
    * joins are all on doc_id — one co-partitioned key, no new shuffle
    * class at scale; each component keeps its own documented shape.
    */
  def modelCuration(s: SparkSession, dir: String): DataFrame = {
    val heur = curation(s, dir).select(col("doc_id"), col("keep").as("heur_keep"))
    val uni = perplexityFilter(s, dir)
      .select(col("doc_id"), col("kept").as("uni_kept"))
    val cls = classifierFilter(s, dir)
      .select(col("doc_id"), col("kept").as("cls_kept"))
    val bi = bigramPerplexityFilter(s, dir)
      .select(col("doc_id"), col("kept").as("bi_kept"))
    heur.join(uni, "doc_id").join(cls, "doc_id")
      .join(bi, Seq("doc_id"), "left")
      .withColumn("keep",
        (col("heur_keep") === 1 && col("uni_kept") && col("cls_kept")
          && coalesce(col("bi_kept"), lit(false))).cast("int"))
      .select(col("doc_id"), col("heur_keep"), col("uni_kept"),
        col("cls_kept"), col("bi_kept"), col("keep"))
  }

  // ---- corpus datasheet (q118) ----

  /** The "datasheet for a dataset" summary every released corpus
    * ships: per (source, lang) stratum — document and token counts,
    * the kept fraction after the full q114 curation cascade, and the
    * stratum's share of total corpus tokens. One aggregation over the
    * documents scan (token counts are in-row `size(split)`), one
    * doc_id join against the cascade verdicts, and a one-row total
    * broadcast for the share — no new shuffle class; the stratum table
    * is (sources × langs)-bounded. Counts are BIGINT; kept_frac and
    * token_share are each a single IEEE division of exact counts.
    */
  /** The cascade verdict table computed ONCE per (session, sf dir) and
    * served from a localCheckpoint snapshot — the production shape
    * (verdicts are a materialized artifact consumers join against, not
    * something recomputed per report; the q83 stored-index
    * amortization applied to curation). q114 and q118 both read it.
    */
  def modelCurationCached(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.cached("PipelineOps.curation", dir, s)(modelCuration(s, dir))

  def datasheet(s: SparkSession, dir: String): DataFrame = {
    val verdicts = modelCurationCached(s, dir).select(col("doc_id"), col("keep"))
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(lower(col("text")), " ")).cast("long").as("n_toks"))
      .join(verdicts, "doc_id")
    val strata = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("keep").cast("long")).as("n_kept"))
    val tot = strata.agg(sum(col("n_tokens")).as("total_tokens"))
    strata.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs").cast("double")).as("kept_frac"),
        (col("n_tokens").cast("double") / col("total_tokens").cast("double")).as("token_share"))
  }

  def datasheetSql(): String =
    s"""WITH mc AS (SELECT doc_id, keep FROM (${modelCurationSql()}) t),
        d AS (SELECT doc_id, source, lang,
                     len(string_split(lower(text), ' '))::BIGINT AS n_toks
              FROM documents),
        strata AS (SELECT source, lang,
                          count(*)::BIGINT AS n_docs,
                          sum(n_toks)::BIGINT AS n_tokens,
                          sum(mc.keep)::BIGINT AS n_kept
                   FROM d JOIN mc USING (doc_id) GROUP BY 1, 2),
        tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens FROM strata)
        SELECT source, lang, n_docs, n_tokens, n_kept,
               n_kept::DOUBLE / n_docs::DOUBLE AS kept_frac,
               n_tokens::DOUBLE / tot.total_tokens::DOUBLE AS token_share
        FROM strata, tot"""

  def modelCurationSql(): String =
    s"""WITH cur AS (SELECT doc_id, keep FROM (${curationSql()}) t),
        u AS (SELECT doc_id, kept FROM (${perplexityFilterSql()}) t),
        c AS (SELECT doc_id, kept FROM (${classifierFilterSql()}) t),
        b AS (SELECT doc_id, kept FROM (${bigramPerplexityFilterSql()}) t)
        SELECT cur.doc_id, cur.keep AS heur_keep, u.kept AS uni_kept,
               c.kept AS cls_kept, b.kept AS bi_kept,
               (cur.keep = 1 AND u.kept AND c.kept AND coalesce(b.kept, false))::INT AS keep
        FROM cur JOIN u USING (doc_id) JOIN c USING (doc_id)
        LEFT JOIN b USING (doc_id)"""

  // ---- deletion propagation manifest (q147) ----

  /** Right-to-be-forgotten cascade manifest — the compliance artifact
    * a data platform produces BEFORE purging: for every entity in the
    * deletion set (here a deterministic `c_custkey % mod = residue`
    * slice standing in for the request queue), the exact row counts
    * that will be purged from every table reachable through the FK
    * graph (customer → orders → lineitem, customer → events), plus
    * the entity's registry row itself. One aggregate per affected
    * table keyed by the entity id, LEFT-joined to the deletion set so
    * a requester with no data still appears (all-zero row — auditors
    * need the proof of absence, not a missing line). The lineitem leg
    * propagates through orders (two-hop FK chain): counts aggregate
    * to the order key first, then to the customer — two entity-keyed
    * shuffles, never a wide join of line-level rows against the
    * deletion set. At 100 TB the manifest costs one pruned scan per
    * table; the purge itself is each table anti-joined against the
    * set (the q106 RI machinery run in reverse), which this manifest
    * makes verifiable: post-purge, every count here re-derives to 0.
    */
  def deletionManifest(s: SparkSession, dir: String,
      mod: Int = 97, residue: Int = 13): DataFrame = {
    val del = Tables.load(s, dir, "customer")
      .filter(col("c_custkey") % mod === residue)
      .select(col("c_custkey").as("entity_id"))
    val ev = Tables.events(s, dir).groupBy(col("user_id").as("entity_id"))
      .agg(count(lit(1)).as("n_events"))
    val ord = Tables.load(s, dir, "orders").groupBy(col("o_custkey").as("entity_id"))
      .agg(count(lit(1)).as("n_orders"))
    val li = Tables.load(s, dir, "lineitem").select(col("l_orderkey"))
      .join(Tables.load(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("entity_id"))
      .agg(count(lit(1)).as("n_lineitems"))
    del.join(ev, Seq("entity_id"), "left")
      .join(ord, Seq("entity_id"), "left")
      .join(li, Seq("entity_id"), "left")
      .select(col("entity_id"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_lineitems"), lit(0L)).as("n_lineitems"),
        (lit(1L) + coalesce(col("n_events"), lit(0L)) + coalesce(col("n_orders"), lit(0L))
          + coalesce(col("n_lineitems"), lit(0L))).as("n_total_rows"))
  }

  def deletionManifestSql(mod: Int = 97, residue: Int = 13): String =
    s"""WITH del AS (SELECT c_custkey AS entity_id FROM customer
                     WHERE c_custkey % $mod = $residue),
        ev AS (SELECT user_id AS entity_id, count(*)::BIGINT AS n_events
               FROM events GROUP BY 1),
        ord AS (SELECT o_custkey AS entity_id, count(*)::BIGINT AS n_orders
                FROM orders GROUP BY 1),
        li AS (SELECT o.o_custkey AS entity_id, count(*)::BIGINT AS n_lineitems
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
               GROUP BY 1)
        SELECT d.entity_id,
               coalesce(ev.n_events, 0)::BIGINT AS n_events,
               coalesce(ord.n_orders, 0)::BIGINT AS n_orders,
               coalesce(li.n_lineitems, 0)::BIGINT AS n_lineitems,
               (1 + coalesce(ev.n_events, 0) + coalesce(ord.n_orders, 0)
                  + coalesce(li.n_lineitems, 0))::BIGINT AS n_total_rows
        FROM del d
        LEFT JOIN ev USING (entity_id)
        LEFT JOIN ord USING (entity_id)
        LEFT JOIN li USING (entity_id)"""

  // ---- Kneser–Ney LM preparation statistics (q170) ----

  /** The count tables a Kneser–Ney bigram model is trained from — the
    * third member of the LM-prep family (q96 scores with unigrams,
    * q110 with interpolated bigrams; THIS builds what a
    * modified-KN trainer actually consumes): per-word CONTINUATION
    * counts (N1+(•w) = distinct left contexts, N1+(w•) = distinct
    * right contexts — KN's insight is that "how many contexts" beats
    * "how many times" for backoff mass) and the corpus-level
    * count-of-counts n1/n2 that set the absolute discount
    * D = n1/(n1+2n2) (Ney–Essen–Kneser). Continuation probability
    * p_cont(w) = N1+(•w)/|bigram types| is the unigram replacement KN
    * backs off to.
    *
    * Shapes: the bigram TYPE table is one (w1,w2) groupBy —
    * vocabulary²-bounded output whatever the corpus size; the
    * continuation counts are plain counts over it (each (w1,w2) row is
    * one distinct context by construction — no countDistinct needed);
    * the discount is corpus-level integer division in micro-units; the
    * report is the top-`topN` words by frequency (WindowGroupLimit —
    * bounded output, vocabulary-sized input). Everything but
    * p_continuation (one division of exact BIGINTs) is integer.
    */
  def kneserNeyStats(s: SparkSession, dir: String, topN: Int = 50): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val toksCol = split(lower(col("text")), " ")
    val pairs = arrays_zip(
      slice(toksCol, lit(1), size(toksCol) - 1).as("w1"),
      slice(toksCol, lit(2), size(toksCol) - 1).as("w2"))
    val bt = docs.select(explode(pairs).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val cnt1 = docs.select(explode(toksCol).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c1"))
    val glob = bt.agg(count(lit(1)).as("n_types"),
      sum(when(col("c12") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("c12") === 2, 1L).otherwise(0L)).as("n2"))
    val leftCtx = bt.groupBy(col("w2").as("term"))
      .agg(count(lit(1)).as("n_left_types"))
    val rightCtx = bt.groupBy(col("w1").as("term"))
      .agg(count(lit(1)).as("n_right_types"))
    val top = cnt1.withColumn("rn", row_number().over(
        Window.orderBy(col("c1").desc, col("term").asc)))
      .filter(col("rn") <= topN).drop("rn")
    top
      .join(leftCtx, Seq("term"), "left")
      .join(rightCtx, Seq("term"), "left")
      .crossJoin(broadcast(glob))
      .select(col("term"), col("c1"),
        coalesce(col("n_left_types"), lit(0L)).as("n_left_types"),
        coalesce(col("n_right_types"), lit(0L)).as("n_right_types"),
        (coalesce(col("n_left_types"), lit(0L)).cast("double") /
          col("n_types").cast("double")).as("p_continuation"),
        // a corpus where every bigram type repeats >2× (tiny vocab,
        // huge corpus) has n1 = n2 = 0: the Ney–Essen–Kneser estimate
        // is undefined — NULL, guarded identically on both engines
        // (Spark 4 ANSI `div` and DuckDB `//` both throw on zero)
        when(col("n1") + lit(2) * col("n2") > 0,
          expr("(n1 * 1000000) div (n1 + 2 * n2)")).as("d_micro"))
  }

  def kneserNeyStatsSql(topN: Int = 50): String =
    s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
        toks AS (SELECT doc_id, unnest(l) AS term FROM d),
        n1t AS (SELECT term, count(*)::BIGINT AS c1 FROM toks GROUP BY 1),
        bgr AS (SELECT u.w1 AS w1, u.w2 AS w2
                FROM (SELECT unnest(list_transform(range(1, len(l)), i -> {'w1': l[i], 'w2': l[i+1]})) AS u
                      FROM d)),
        bt AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bgr GROUP BY 1, 2),
        gl AS (SELECT count(*)::BIGINT AS n_types,
                        sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
                        sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
                 FROM bt),
        lc AS (SELECT w2 AS term, count(*)::BIGINT AS n_left_types FROM bt GROUP BY 1),
        rc AS (SELECT w1 AS term, count(*)::BIGINT AS n_right_types FROM bt GROUP BY 1),
        top AS (SELECT term, c1 FROM (
                  SELECT term, c1, row_number() OVER (ORDER BY c1 DESC, term ASC) AS rn
                  FROM n1t) WHERE rn <= $topN)
        SELECT t.term, t.c1,
               coalesce(lc.n_left_types, 0)::BIGINT AS n_left_types,
               coalesce(rc.n_right_types, 0)::BIGINT AS n_right_types,
               coalesce(lc.n_left_types, 0)::DOUBLE / g.n_types::DOUBLE AS p_continuation,
               CASE WHEN g.n1 + 2 * g.n2 > 0
                    THEN ((g.n1 * 1000000) // (g.n1 + 2 * g.n2))::BIGINT
               END AS d_micro
        FROM top t
        LEFT JOIN lc ON lc.term = t.term
        LEFT JOIN rc ON rc.term = t.term
        CROSS JOIN gl g"""

  // ---- temperature-scaled mixture (q178) ----

  /** Temperature-scaled source mixing — the multilingual-pretraining
    * allocation rule (sample source s ∝ N_s^α, α ∈ (0,1), so small
    * sources are UP-sampled relative to their share): expressed as the
    * q104 water-fill with the per-source weight DERIVED FROM THE DATA,
    * w_s = ⌊√N_s⌋ (α = ½), instead of read from a config. The solve,
    * saturation semantics, and oracle arithmetic are [[waterFill]]'s —
    * one shared definition, so a fix there fixes all four mixers
    * (q104/q105/q163/q178). ⌊√N⌋ is safe cross-engine: IEEE sqrt is
    * correctly rounded in both, so the floor is the same integer.
    */
  def temperatureMix(s: SparkSession, dir: String,
      budgetFrac: Double = 0.5): DataFrame = {
    val totals = Tables.load(s, dir, "documents")
      .select(col("source"), size(split(lower(col("text")), " ")).as("n_tokens"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).cast("long").as("src_tokens"))
      .select(col("source"),
        floor(sqrt(col("src_tokens").cast("double"))).cast("double").as("w"),
        col("src_tokens"))
    waterFill(totals, budgetFrac)
  }

  def temperatureMixSql(budgetFrac: Double = 0.5): String =
    s"""WITH docs AS (
          SELECT source, len(string_split(lower(text), ' '))::BIGINT AS n_tokens
          FROM documents),
        totals AS (
          SELECT source, floor(sqrt(sum(n_tokens)::DOUBLE)) AS w,
                 sum(n_tokens)::BIGINT AS src_tokens
          FROM docs GROUP BY 1),
        ${waterFillSqlTail(budgetFrac)}"""

  // ---- classifier calibration: threshold sweep (q176) ----

  /** Precision/recall sweep of the hashed-linear classifier (q109)
    * against the heuristic quality gate (q48's `quality ≥ 0.5`) as the
    * reference label — the calibration table a pipeline consults
    * before picking the production threshold (q109 ships ONE
    * threshold; this shows the whole operating curve, the difference
    * between guessing a cutoff and choosing one).
    *
    * ONE corpus scan at any scale: scores and labels are per-row
    * projections (the shared [[hashedLogitMicro]] and quality
    * expressions), the 11-element threshold literal explodes each row
    * ×11, and one groupBy on the threshold folds the confusion matrix
    * — map-side combined to 11×4 counters per partition, so the
    * exchange carries a bounded grid whatever the corpus size. The
    * verdict at each threshold is the q109 INTEGER comparison
    * (logit > n·τ, no float); precision/recall/F1 are single divisions
    * of exact BIGINTs (F1 as 2tp/(2tp+fp+fn) — one division, not a
    * float composition of p and r).
    */
  /** The scored+labeled corpus shared by the whole classifier-
    * evaluation family — the operating curve (q176), the AUC/KS
    * summary (q181), the live AUC monitor (q186), and the calibration
    * table (q190): q109's hashed-linear logit against q48's heuristic
    * quality label. One definition so the evaluated model and the
    * reference label cannot drift across the four reports.
    */
  private[operators] def scoredLabeledFrom(docs: DataFrame, d: Long = 1024L,
      minQuality: Double = 0.5): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(lower(col("text")), " ")).cast("long").as("n_tokens"),
      hashedLogitMicro(col("text"), d).as("logit_micro"),
      (TextAnalysis.qualityCol(col("text")) >= minQuality).as("label"))

  def thresholdSweep(s: SparkSession, dir: String, d: Long = 1024L,
      minQuality: Double = 0.5): DataFrame = {
    val docs = scoredLabeledFrom(Tables.load(s, dir, "documents"), d, minQuality)
    val thresholds = (-10 to 0).map(i => lit(i * 100000L))
    docs.select(col("n_tokens"), col("logit_micro"), col("label"),
        explode(array(thresholds: _*)).as("tau_micro"))
      .withColumn("pred", col("logit_micro") > col("n_tokens") * col("tau_micro"))
      .groupBy(col("tau_micro"))
      .agg(
        sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("label"), 1L).otherwise(0L)).as("tn"))
      .select(col("tau_micro"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("recall"),
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          (col("tp") * 2).cast("double") /
            (col("tp") * 2 + col("fp") + col("fn")).cast("double"))
          .as("f1"))
  }

  def thresholdSweepSql(d: Long = 1024L, minQuality: Double = 0.5): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        scored AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 sum((((('0x' || substring(md5(term), 1, 15))::BIGINT % $d) + 1) * 2654435761) % 2000001 - 1000000)::BIGINT AS logit_micro
          FROM toks GROUP BY 1),
        lab AS (SELECT doc_id, (quality >= $minQuality) AS label
                FROM (${TextAnalysis.qualityScoresSql}) q),
        taus AS (SELECT unnest([${(-10 to 0).map(i => i * 100000L).mkString(", ")}]) AS tau_micro),
        cm AS (
          SELECT tau_micro,
                 sum(CASE WHEN s.logit_micro > s.n_tokens * tau_micro AND l.label THEN 1 ELSE 0 END)::BIGINT AS tp,
                 sum(CASE WHEN s.logit_micro > s.n_tokens * tau_micro AND NOT l.label THEN 1 ELSE 0 END)::BIGINT AS fp,
                 sum(CASE WHEN NOT (s.logit_micro > s.n_tokens * tau_micro) AND l.label THEN 1 ELSE 0 END)::BIGINT AS fn,
                 sum(CASE WHEN NOT (s.logit_micro > s.n_tokens * tau_micro) AND NOT l.label THEN 1 ELSE 0 END)::BIGINT AS tn
          FROM scored s JOIN lab l USING (doc_id), taus
          GROUP BY 1)
        SELECT tau_micro, tp, fp, fn, tn,
               CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp)::DOUBLE END AS precision,
               CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn)::DOUBLE END AS recall,
               CASE WHEN tp * 2 + fp + fn > 0
                    THEN (tp * 2)::DOUBLE / (tp * 2 + fp + fn)::DOUBLE END AS f1
        FROM cm"""

  // ---- range-shard export planner (q198) ----

  /** Plan a RANGE-partitioned export of the event log by event time —
    * the layout a sorted/partitioned parquet or Iceberg export needs,
    * and the thing `repartitionByRange` does internally (sample → cut
    * points → route), made EXPLICIT and auditable: a bounded time-cell
    * histogram, cumulative-count cut derivation (cells are the atomic
    * routing unit), and the resulting per-shard manifest (row count,
    * exact time bounds, balance ratio vs the ideal N/S). The manifest
    * is how you SEE the skew a naive time-range split would ship
    * before writing 100 TB into it.
    *
    * Exactness: cells and cumulative counts are BIGINT; cell and shard
    * ids use integer `div` (both engines floor non-negative integer
    * division identically; never IEEE `/` on ns longs — the
    * Tables.events rule); balance is one final division of exact
    * BIGINTs. Scale shape: bounds and the ≤`cells`-row histogram are
    * two aggregate scans (a real deployment reads both from ANALYZE
    * stats, q164/q175), the cell→shard map broadcasts, and routing is
    * one map-side join — rows never sort globally to get PLANNED
    * globally.
    */
  def rangeShardPlan(s: SparkSession, dir: String, shards: Int = 16,
      cells: Int = 1024): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"), col("ts_ns"))
    val bounds = ev.agg(min(col("ts_ns")).as("mn"),
      (max(col("ts_ns")) - min(col("ts_ns")) + 1).as("span"),
      count(lit(1)).as("n_total"))
    val withCell = ev.crossJoin(broadcast(bounds))
      .withColumn("cell", expr(s"((ts_ns - mn) * $cells) div span"))
    val w = Window.orderBy(col("cell"))
    val cellShard = withCell.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum_excl",
        coalesce(sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_total",
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("shard",
        least(expr(s"(cum_excl * $shards) div n_total"), lit(shards - 1L)))
      .select(col("cell"), col("shard"))
    withCell.join(broadcast(cellShard), Seq("cell"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"), min(col("ts_ns")).as("min_ts_ns"),
        max(col("ts_ns")).as("max_ts_ns"), max(col("n_total")).as("n_total"))
      .select(col("shard"), col("n_rows"), col("min_ts_ns"), col("max_ts_ns"),
        ((col("n_rows") * shards).cast("double") / col("n_total").cast("double"))
          .as("balance"))
  }

  def rangeShardPlanSql(shards: Int = 16, cells: Int = 1024): String =
    s"""WITH ev AS (SELECT event_id, epoch_ns(ts)::BIGINT AS ts_ns FROM events),
        bounds AS (SELECT min(ts_ns) AS mn, max(ts_ns) - min(ts_ns) + 1 AS span,
                          count(*)::BIGINT AS n_total
                   FROM ev),
        wc AS (SELECT event_id, ts_ns, ((ts_ns - mn) * $cells) // span AS cell
               FROM ev, bounds),
        cs AS (SELECT cell, count(*)::BIGINT AS cnt FROM wc GROUP BY 1),
        cx AS (SELECT cell,
                      coalesce(sum(cnt) OVER (ORDER BY cell
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_excl,
                      (sum(cnt) OVER ())::BIGINT AS n_total
               FROM cs),
        m AS (SELECT cell, least((cum_excl * $shards) // n_total, ${shards - 1}) AS shard,
                     n_total
              FROM cx)
        SELECT shard, count(*)::BIGINT AS n_rows,
               min(ts_ns)::BIGINT AS min_ts_ns, max(ts_ns)::BIGINT AS max_ts_ns,
               ((count(*) * $shards)::BIGINT)::DOUBLE / (max(n_total)::BIGINT)::DOUBLE AS balance
        FROM wc JOIN m USING (cell)
        GROUP BY 1"""

  // ---- classifier evaluation: exact AUC + KS statistic (q181/q186) ----

  /** The per-token mean logit quantized ONCE to micro-units — the
    * operating scale every threshold in this family already lives on
    * (q109 ships τ in micro-units, q176 sweeps micro-unit taus), so
    * ranking metrics computed over it evaluate the score the pipeline
    * actually thresholds. The quantization is also THE scale move: it
    * bounds the distinct-score cardinality at 2·10⁶+1 BY CONSTRUCTION,
    * so the ROC prefix sums run over a bounded histogram however large
    * the corpus — never a global sort of per-document scores. One IEEE
    * division of exact BIGINTs, rounded once (the q96 discipline).
    */
  private def scoreMicro: Column =
    round(col("logit_micro").cast("double") / col("n_tokens").cast("double")).cast("long")

  /** The (score → class counts) histogram — plain counter-sum state
    * bounded by the micro-unit score cardinality, i.e. exactly the
    * streamable class: q186 maintains THIS aggregation Complete-mode
    * over the document ingest and converges to the batch table, so
    * the shared [[aucFold]] and q181's oracle apply unchanged.
    */
  def scoreHistogram(docs: DataFrame, d: Long = 1024L,
      minQuality: Double = 0.5): DataFrame =
    scoredLabeledFrom(docs, d, minQuality)
      .select(scoreMicro.as("s_micro"), col("label"))
      .groupBy(col("s_micro"))
      .agg(sum(when(col("label"), 1L).otherwise(0L)).as("npos"),
        sum(when(!col("label"), 1L).otherwise(0L)).as("nneg"))

  /** Exact AUC (Mann–Whitney U) and Kolmogorov–Smirnov statistic of
    * the q109 classifier against q48's label — the threshold-free
    * complement of q176's operating curve (q176 answers "how good at
    * THIS cutoff", this answers "how good at ranking, at all").
    *
    * All arithmetic exact until one final division per metric:
    * `u2 = Σ_s npos(s)·(2·cneg_below(s) + nneg(s))` counts each
    * correctly-ordered (pos, neg) pair twice and each tied pair once
    * (BIGINT — ties handled exactly, no average-rank floats);
    * `AUC = u2 / 2PN`. The KS max runs over INTEGER numerators
    * (`|cneg_le·P − cpos_le·N|` — cross-multiplied CDF difference) so
    * the argmax never compares composed floats; one division at the
    * end. Scale shape: one corpus scan folds to the bounded histogram
    * (map-side combined), and the prefix sums AND class totals all run
    * in ONE window pass over ≤ 2·10⁶+1 rows by construction (the
    * q149/q155 bounded-grid argument). BIGINT headroom: the
    * cross-products are bounded by (corpus rows)², exact through
    * ~3·10⁹ rows per evaluated slice; beyond that the fold moves to
    * DECIMAL(38) — documented, not silently truncated.
    */
  def aucFold(hist: DataFrame): DataFrame = {
    val w = Window.orderBy(col("s_micro").asc)
    // the class TOTALS are unbounded-frame sums in the SAME
    // single-partition window pass as the prefix sums — deriving them
    // as a separate aggregate would re-scan the corpus (a second
    // histogram build), measured as exactly that by the plan pin
    val cum = hist
      .withColumn("cneg_below",
        coalesce(sum(col("nneg")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cpos_le",
        sum(col("npos")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cneg_le", col("cneg_below") + col("nneg"))
      .withColumn("p_tot",
        sum(col("npos")).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("n_tot",
        sum(col("nneg")).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    cum.groupBy(col("p_tot"), col("n_tot"))
      .agg(
        sum(col("npos") * (col("cneg_below") * 2 + col("nneg"))).as("u2"),
        max(abs(col("cneg_le") * col("p_tot") - col("cpos_le") * col("n_tot"))).as("ks_num"))
      .select(col("p_tot").as("n_pos"), col("n_tot").as("n_neg"), col("u2"),
        when(col("p_tot") * col("n_tot") > 0,
          col("u2").cast("double") / (col("p_tot") * col("n_tot") * 2).cast("double"))
          .as("auc"),
        when(col("p_tot") * col("n_tot") > 0,
          col("ks_num").cast("double") / (col("p_tot") * col("n_tot")).cast("double"))
          .as("ks"))
  }

  def classifierAuc(s: SparkSession, dir: String, d: Long = 1024L,
      minQuality: Double = 0.5): DataFrame =
    aucFold(scoreHistogram(Tables.load(s, dir, "documents"), d, minQuality))

  /** Shared scored/label/score-micro CTE prefix for the q181/q186/q190
    * oracles — the SQL mirror of [[scoredLabeledFrom]] + [[scoreMicro]]. */
  private def scoredLabeledCtes(d: Long, minQuality: Double): String =
    s"""toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        scored AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 sum((((('0x' || substring(md5(term), 1, 15))::BIGINT % $d) + 1) * 2654435761) % 2000001 - 1000000)::BIGINT AS logit_micro
          FROM toks GROUP BY 1),
        lab AS (SELECT doc_id, (quality >= $minQuality) AS label
                FROM (${TextAnalysis.qualityScoresSql}) q),
        sc AS (SELECT round(s.logit_micro::DOUBLE / s.n_tokens::DOUBLE)::BIGINT AS s_micro, l.label
               FROM scored s JOIN lab l USING (doc_id))"""

  def classifierAucSql(d: Long = 1024L, minQuality: Double = 0.5): String =
    s"""WITH ${scoredLabeledCtes(d, minQuality)},
        h AS (SELECT s_micro,
                     sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS npos,
                     sum(CASE WHEN NOT label THEN 1 ELSE 0 END)::BIGINT AS nneg
              FROM sc GROUP BY 1),
        c AS (SELECT s_micro, npos, nneg,
                     coalesce(sum(nneg) OVER (ORDER BY s_micro ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cneg_below,
                     (sum(npos) OVER (ORDER BY s_micro ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cpos_le,
                     (sum(npos) OVER ())::BIGINT AS p_tot,
                     (sum(nneg) OVER ())::BIGINT AS n_tot
              FROM h)
        SELECT p_tot AS n_pos, n_tot AS n_neg,
               sum(npos * (cneg_below * 2 + nneg))::BIGINT AS u2,
               CASE WHEN p_tot * n_tot > 0
                    THEN (sum(npos * (cneg_below * 2 + nneg))::BIGINT)::DOUBLE
                         / (p_tot * n_tot * 2)::DOUBLE END AS auc,
               CASE WHEN p_tot * n_tot > 0
                    THEN (max(abs((cneg_below + nneg) * p_tot - cpos_le * n_tot))::BIGINT)::DOUBLE
                         / (p_tot * n_tot)::DOUBLE END AS ks
        FROM c GROUP BY p_tot, n_tot"""

  // ---- classifier calibration table (q190) ----

  /** Reliability table of the q109 classifier: equal-width bins over
    * the micro-unit score range vs the empirical positive rate — does
    * "score 0.8" mean 80%? q176 calibrates the THRESHOLD; this
    * calibrates the PROBABILITY readout (the input to any
    * temperature-scaling or isotonic fix).
    *
    * ONE corpus scan folding to ≤ nBins counters (map-side combined —
    * the q176 grid argument). The bin index floors an IEEE division
    * both engines compute identically on exact integer operands;
    * per-bin positive rate and mean score are single divisions of
    * exact BIGINTs. No expected-calibration-error scalar on purpose:
    * ECE would sum |float−float| terms — the per-bin table carries the
    * exact numerators instead, and a consumer composes whatever
    * summary it wants.
    */
  def calibrationBins(s: SparkSession, dir: String, d: Long = 1024L,
      minQuality: Double = 0.5, nBins: Int = 10): DataFrame = {
    val width = 2000000.0 / nBins
    scoredLabeledFrom(Tables.load(s, dir, "documents"), d, minQuality)
      .select(scoreMicro.as("s_micro"), col("label"))
      .withColumn("bin",
        least(floor((col("s_micro") + lit(1000000L)) / lit(width)).cast("long"),
          lit(nBins - 1L)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("npos"),
        sum(col("s_micro")).as("sum_s_micro"))
      .select(col("bin"), col("n"), col("npos"), col("sum_s_micro"),
        (col("npos").cast("double") / col("n").cast("double")).as("pos_rate"),
        (col("sum_s_micro").cast("double") / col("n").cast("double")).as("mean_s_micro"))
  }

  def calibrationBinsSql(d: Long = 1024L, minQuality: Double = 0.5,
      nBins: Int = 10): String = {
    val width = 2000000.0 / nBins
    s"""WITH ${scoredLabeledCtes(d, minQuality)},
        b AS (SELECT least(floor((s_micro + 1000000)::DOUBLE / $width)::BIGINT, ${nBins - 1}) AS bin,
                     s_micro, label
              FROM sc),
        g AS (SELECT bin, count(*)::BIGINT AS n,
                     sum(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS npos,
                     sum(s_micro)::BIGINT AS sum_s_micro
              FROM b GROUP BY 1)
        SELECT bin, n, npos, sum_s_micro,
               npos::DOUBLE / n::DOUBLE AS pos_rate,
               sum_s_micro::DOUBLE / n::DOUBLE AS mean_s_micro
        FROM g"""
  }

  // ---- stats-driven join planning (q219): the ANALYZE consumer ----

  /** Once-per-(dir, table) stored table profile — the ANALYZE artifact
    * a cost-based planner consults: exact row count plus an in-memory
    * size estimate (rows × the schema's fixed-width default sizes, the
    * same estimator Spark's own statistics fall back to). One count
    * scan per table per JVM; at 100 TB this is the catalog read that
    * replaces it (the table's stats live in the metastore — q164/q175
    * are the jobs that WRITE them; this is the planner that reads).
    */
  private[operators] def tableStats(s: SparkSession, dir: String,
      table: String): (Long, Long) =
    graft.ArtifactCache.value("PipelineOps.tableStats", (dir, table)) {
      val df = Tables.load(s, dir, table)
      val rows = df.count()
      val rowBytes = df.schema.map(_.dataType.defaultSize).sum
      (rows, rows * rowBytes)
    }

  /** q219: a join whose PHYSICAL strategy is chosen from the stored
    * stats — the consumer that closes the ANALYZE loop (q164 collects
    * the profile, q175 maintains it incrementally, q138 estimates join
    * sizes; this query USES the numbers). Under `budgetBytes` the
    * dimension gets an explicit broadcast hint; over it, an explicit
    * shuffle (sort-merge) hint — overriding Spark's file-size
    * heuristic in BOTH directions, which is exactly what external
    * stats are for (a 100 TB lake's compressed parquet routinely
    * under-reports the in-memory size of a "small-looking" dimension,
    * and a driver OOM from a bad auto-broadcast is an outage, not a
    * slow query). The decision can never change the ANSWER — only the
    * plan — so the oracle is the plain join; PlanSpec pins that the
    * strategy FLIPS with the stats (fixture profile → broadcast;
    * 1-byte budget → sort-merge).
    */
  def statsDrivenDenorm(s: SparkSession, dir: String,
      budgetBytes: Long = 64L << 20): DataFrame = {
    val (_, dimBytes) = tableStats(s, dir, "customer")
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val dimHinted = if (dimBytes <= budgetBytes) broadcast(dim) else dim.hint("merge")
    orders.join(dimHinted, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 1e6).cast("long")).as("revenue_micro"))
  }

  def statsDrivenDenormSql(): String =
    """SELECT c_nationkey, count(*)::BIGINT AS n_orders,
              sum(floor(o_totalprice * 1000000)::BIGINT)::BIGINT AS revenue_micro
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       GROUP BY 1"""

  // ---- skew-aware join planning (q222): the CMS consumer ----

  /** q222: the SECOND stats consumer — where q219 sizes the dimension,
    * this one sizes the HOTTEST KEY: the stored CMS's max-cell bound
    * ([[Sketches.cmsHottestKeyBound]]) decides whether the fact-side
    * join gets skew salting (hot key fans across 8 reducers) or stays
    * a plain hash join (salting replicates the dimension ×8 — pure
    * waste on uniform keys). The decision is plan-only: salting never
    * changes join semantics ([[Denormalize.withSkewSalting]]'s
    * contract, q43), so the oracle is the plain aggregate; PlanSpec
    * pins that the salt column appears in the join keys exactly when
    * the stats cross the threshold. At 100 TB this is the guard that
    * stops one viral user from turning a shuffle join into a
    * single-straggler stage — decided from a d×w sketch, not a scan.
    */
  def skewAwareDenorm(s: SparkSession, dir: String,
      hotThreshold: Long = 1L << 20): DataFrame = {
    val hotBound = Sketches.cmsHottestKeyBound(s, dir)
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val base = Denormalize.builder(ev, dim, rightKey = "c_custkey")
      .joinOn(_("user_id"))
    val planned = if (hotBound > hotThreshold) base.withSkewSalting(8) else base
    planned.inner
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1e6).cast("long")).as("value_micro"))
  }

  def skewAwareDenormSql(): String =
    """SELECT c_mktsegment, count(*)::BIGINT AS n_events,
              sum(floor(value * 1000000)::BIGINT)::BIGINT AS value_micro
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY 1"""

  // ---- sequence packing (q220 batch / q221 live) ----

  /** Training-sequence length for the GPT-style concat-and-cut packer. */
  val packSeqLen = 2048L

  /** The tokenized doc stream the packer consumes, in packing order
    * (per-source, doc_id ascending — the ingest order).
    */
  private[graft] def packInput(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))

  // ---- sliding-window context chunking (q274 batch / q275 live) ----

  /** Fixture-adapted chunk geometry: production RAG/context chunking
    * runs L=2048, stride 1536; the synthetic corpus tops out at ~100
    * whitespace tokens (median 54–56 at all three SFs, measured with
    * DuckDB before building — the q84-0.35 discipline), so the
    * registered queries run L=48, S=32 (overlap 16), which spreads the
    * corpus across 1–3 chunks per doc. Pure constants: the operator is
    * parameterized.
    */
  val chunkLen = 48L
  val chunkStride = 32L

  /** The chunk-count + window arithmetic shared by the batch and live
    * forms (one projection + one bounded explode, ZERO exchanges — the
    * q259 span-plan discipline): a doc of n ≤ L tokens is one chunk;
    * otherwise ceil((n−L)/S)+1 windows of length L at stride S, the
    * last clipped at n. All integer `div`s on non-negatives, so Spark
    * `div` ≡ DuckDB `//`.
    */
  private[graft] def chunkDerived(rows: DataFrame, L: Long, S: Long): DataFrame =
    rows
      .withColumn("n_chunks",
        when(col("n_tok") <= L, lit(1L))
          .otherwise(expr(s"(n_tok - $L + $S - 1) div $S + 1")))
      .select(col("source"), col("doc_id"), col("n_tok"),
        explode(expr("sequence(0L, n_chunks - 1)")).as("chunk_idx"))
      .select(col("source"), col("doc_id"), col("n_tok"), col("chunk_idx"),
        expr(s"chunk_idx * $S").as("start_tok"),
        least(expr(s"chunk_idx * $S + $L"), col("n_tok")).as("end_tok"))

  /** q274: the sliding-window CONTEXT-CHUNK plan — the retrieval/RAG
    * and long-context counterpart of q53's packing (which concatenates
    * and cuts ACROSS documents) and q259's span corruption (which
    * samples disjoint spans WITHIN one): every document becomes its
    * overlapping L-token windows at stride S, the standard layout for
    * embedding-index construction and context-window training data.
    *
    * Shape at 100 TB: map-only — token count from the stored column,
    * chunk count by integer arithmetic, one explode bounded by
    * ceil(n/S) per doc; no shuffle, no window, no join anywhere in the
    * plan. Emission order is irrelevant (the chunk identity is its
    * (doc_id, chunk_idx) key).
    */
  def chunkPlan(s: SparkSession, dir: String,
      L: Long = chunkLen, S: Long = chunkStride): DataFrame =
    chunkDerived(packInput(s, dir), L, S)

  /** Oracle for [[chunkPlan]]: the same integer construction via
    * DuckDB's lateral `UNNEST(range(n))` (the q259 idiom).
    */
  def chunkPlanSql(L: Long = chunkLen, S: Long = chunkStride): String =
    s"""WITH d AS (
          SELECT source, doc_id,
                 len(string_split(lower(text), ' '))::BIGINT AS n_tok
          FROM documents WHERE text IS NOT NULL),
        c AS (
          SELECT *, CASE WHEN n_tok <= $L THEN 1
                         ELSE (n_tok - $L + $S - 1) // $S + 1 END AS n_chunks
          FROM d)
        SELECT source, doc_id, n_tok, u.k::BIGINT AS chunk_idx,
               (u.k * $S)::BIGINT AS start_tok,
               least(u.k * $S + $L, n_tok)::BIGINT AS end_tok
        FROM c, UNNEST(range(n_chunks)) AS u(k)"""

  /** Fixture-adapted max-length ladder for [[paddingPlan]] (production:
    * 512…8192; the corpus tops out at ~100 tokens).
    */
  val padLadderLens = Seq(16L, 32L, 64L, 96L, 128L)

  /** q279: stratified EVAL-SPLIT carving — hold out exactly N div 10
    * documents, allocated across (source × length-bucket) strata by
    * largest remainder (quotas sum EXACTLY to the target — the q258
    * law pointed at eval carving; a per-stratum `floor(0.1·n)` leaves
    * an unallocated tail and a per-stratum `round` over- or
    * under-shoots), with the members drawn per stratum by md5 rank —
    * deterministic, seedless, reproducible across runs and engines.
    * Stratifying by length AND source keeps the eval set's length
    * profile honest per source — a plain 10% uniform draw lets a
    * heavy-tailed source's eval slice skew short.
    *
    * Shape at 100 TB: one per-stratum count aggregate (map-side
    * combined, strata-bounded output), integer quota arithmetic +
    * remainder ranking on the ~|sources|·|buckets| strata frame, one
    * broadcast join back, and one per-stratum window rank on the md5
    * draw. No global sort; the only data-sized pass is the rank
    * within each stratum.
    */
  def stratifiedSplit(s: SparkSession, dir: String): DataFrame = {
    val d = packInput(s, dir)
      .withColumn("len_bucket", expr("n_tok div 32"))
    val strata = d.groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_s"))
    val tot = strata.agg(sum(col("n_s")).as("n_total")).head()
    val nTotal = tot.getLong(0)
    val target = nTotal / 10
    // largest remainder: base = floor(n_s·T/N); the (T − Σ base)
    // leftover units go to the strata with the largest integer
    // remainder r_s = n_s·T mod N (ties broken by stratum id)
    val withBase = strata
      .withColumn("base", expr(s"(n_s * ${target}L) div ${nTotal}L"))
      .withColumn("rem", expr(s"(n_s * ${target}L) % ${nTotal}L"))
    val leftover = target - withBase.agg(sum(col("base"))).head().getLong(0)
    val wRem = Window.orderBy(col("rem").desc, col("source"), col("len_bucket"))
    val quotas = withBase
      .withColumn("rrank", row_number().over(wRem))
      .withColumn("quota",
        col("base") + when(col("rrank") <= leftover, 1L).otherwise(0L))
      .select(col("source"), col("len_bucket"), col("quota"))
    val wDraw = Window.partitionBy(col("source"), col("len_bucket"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    d.join(broadcast(quotas), Seq("source", "len_bucket"))
      .withColumn("draw_rank", row_number().over(wDraw))
      .select(col("source"), col("len_bucket"), col("doc_id"), col("n_tok"),
        (col("draw_rank") <= col("quota")).cast("int").as("is_eval"))
  }

  /** Oracle for [[stratifiedSplit]] — the identical integer
    * construction (floor quotas, mod-N remainders, md5 draw ranks).
    */
  def stratifiedSplitSql: String =
    """WITH d AS (
         SELECT source, doc_id,
                len(string_split(lower(text), ' '))::BIGINT AS n_tok,
                len(string_split(lower(text), ' '))::BIGINT // 32 AS len_bucket
         FROM documents WHERE text IS NOT NULL),
       st AS (SELECT source, len_bucket, count(*)::BIGINT AS n_s
              FROM d GROUP BY 1, 2),
       tot AS (SELECT sum(n_s)::BIGINT AS n_total,
                      (sum(n_s)::BIGINT // 10)::BIGINT AS target FROM st),
       wb AS (SELECT st.*, (n_s * target // n_total)::BIGINT AS base,
                     (n_s * target % n_total)::BIGINT AS rem
              FROM st, tot),
       lo AS (SELECT (SELECT target FROM tot) - sum(base)::BIGINT AS leftover
              FROM wb),
       q AS (SELECT source, len_bucket,
                    base + CASE WHEN row_number() OVER
                      (ORDER BY rem DESC, source, len_bucket)
                      <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END AS quota
             FROM wb),
       r AS (SELECT d.source, d.len_bucket, d.doc_id, d.n_tok, q.quota,
                    row_number() OVER (PARTITION BY d.source, d.len_bucket
                      ORDER BY md5(d.doc_id::VARCHAR), d.doc_id) AS draw_rank
             FROM d JOIN q ON d.source = q.source AND d.len_bucket = q.len_bucket)
       SELECT source, len_bucket, doc_id, n_tok,
              CASE WHEN draw_rank <= quota THEN 1 ELSE 0 END AS is_eval
       FROM r"""

  /** q280: token-budget KEEP-LIST — per-source quality-prefix
    * selection under a hard token budget: order each source's docs by
    * a deterministic quality proxy (chars per token in micro units —
    * verbosity/substance, computable exactly from stored columns) and
    * keep while the cumulative token count fits the budget. This is
    * the within-source selection step downstream of q104's
    * across-source budget allocation, and it is the packing cursor
    * (q53/q221) pointed at SELECTION: one window cumsum per source,
    * no join, no global sort.
    */
  def budgetKeepList(s: SparkSession, dir: String, budget: Long = 800L): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"), col("n_chars"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("quality_micro", expr("(n_chars * 1000000L) div n_tok"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_micro").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum_tok", sum(col("n_tok")).over(w))
      .select(col("source"), col("doc_id"), col("n_tok"), col("quality_micro"),
        col("cum_tok"), (col("cum_tok") <= budget).cast("int").as("is_kept"))
  }

  /** Oracle for [[budgetKeepList]] — same order, same cumsum, same
    * single integer division.
    */
  def budgetKeepListSql(budget: Long = 800L): String =
    s"""WITH d AS (
         SELECT source, doc_id, n_chars,
                len(string_split(lower(text), ' '))::BIGINT AS n_tok
         FROM documents WHERE text IS NOT NULL),
       qd AS (SELECT *, (n_chars * 1000000 // n_tok)::BIGINT AS quality_micro
              FROM d)
       SELECT source, doc_id, n_tok, quality_micro,
              sum(n_tok) OVER (PARTITION BY source
                ORDER BY quality_micro DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tok,
              CASE WHEN sum(n_tok) OVER (PARTITION BY source
                ORDER BY quality_micro DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= $budget
                THEN 1 ELSE 0 END AS is_kept
       FROM qd"""

  /** q276: the PADDED-BATCH shape planner — inference and
    * fixed-length-training batches pad every sequence to the config's
    * max_len and truncate what exceeds it, so the serving decision is a
    * two-sided trade: padding waste (capacity burned on pad tokens)
    * vs truncation loss (real tokens dropped). One ladder row per
    * candidate max_len with exact BIGINT token sums, waste/loss as
    * integer micro-ratios, and the q264/q227 ladder idiom: chosen =
    * smallest max_len whose truncation loss fits the 5% budget.
    *
    * Shape at 100 TB: docs × a 5-row broadcast grid → partial
    * aggregates combine map-side into 5 rows; the chooser is a join
    * against a 1-row aggregate. No data-sized sort, shuffle carries
    * 5 rows per task.
    */
  def paddingPlan(s: SparkSession, dir: String,
      lens: Seq[Long] = padLadderLens,
      truncBudgetMicro: Long = 50000L): DataFrame = {
    import s.implicits._
    val d = packInput(s, dir).select(col("n_tok"))
    val grid = lens.toDF("max_len")
    val per = d.crossJoin(broadcast(grid))
      .groupBy(col("max_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") < col("max_len"), col("max_len") - col("n_tok"))
          .otherwise(0L)).as("pad_tok"),
        sum(when(col("n_tok") > col("max_len"), col("n_tok") - col("max_len"))
          .otherwise(0L)).as("trunc_tok"),
        sum(col("n_tok")).as("total_tok"))
      .withColumn("waste_micro", expr("(pad_tok * 1000000L) div (n_docs * max_len)"))
      .withColumn("trunc_micro", expr("(trunc_tok * 1000000L) div total_tok"))
      .withColumn("meets", (col("trunc_micro") <= truncBudgetMicro).cast("int"))
    val minMeet = per.filter(col("meets") === 1).agg(min(col("max_len")).as("ml"))
    per.crossJoin(broadcast(minMeet))
      .select(col("max_len"), col("n_docs"), col("pad_tok"), col("trunc_tok"),
        col("waste_micro"), col("trunc_micro"), col("meets"),
        (col("max_len") === coalesce(col("ml"), lit(-1L))).cast("int").as("is_chosen"))
  }

  /** Oracle for [[paddingPlan]] — same grid, sums, and single
    * integer divisions.
    */
  def paddingPlanSql(lens: Seq[Long] = padLadderLens,
      truncBudgetMicro: Long = 50000L): String = {
    val vals = lens.map(l => s"($l)").mkString(",")
    s"""WITH d AS (
          SELECT len(string_split(lower(text), ' '))::BIGINT AS n
          FROM documents WHERE text IS NOT NULL),
        lad AS (SELECT max_len::BIGINT AS max_len
                FROM (VALUES $vals) AS v(max_len)),
        per AS (
          SELECT max_len, count(*)::BIGINT AS n_docs,
                 sum(CASE WHEN n < max_len THEN max_len - n ELSE 0 END)::BIGINT AS pad_tok,
                 sum(CASE WHEN n > max_len THEN n - max_len ELSE 0 END)::BIGINT AS trunc_tok,
                 sum(n)::BIGINT AS total_tok
          FROM d, lad GROUP BY 1),
        m AS (
          SELECT max_len, n_docs, pad_tok, trunc_tok,
                 (pad_tok * 1000000 // (n_docs * max_len))::BIGINT AS waste_micro,
                 (trunc_tok * 1000000 // total_tok)::BIGINT AS trunc_micro
          FROM per),
        m2 AS (SELECT *, CASE WHEN trunc_micro <= $truncBudgetMicro
                              THEN 1 ELSE 0 END AS meets FROM m),
        ch AS (SELECT min(max_len) AS ml FROM m2 WHERE meets = 1)
        SELECT max_len, n_docs, pad_tok, trunc_tok, waste_micro, trunc_micro,
               meets,
               CASE WHEN max_len = coalesce((SELECT ml FROM ch), -1)
                    THEN 1 ELSE 0 END AS is_chosen
        FROM m2"""
  }

  /** q277: context-chunk UTILIZATION — the dashboard over q274's plan a
    * pipeline owner reads before fixing (L, S): per source, how much of
    * the chunked token budget is stride-overlap duplication
    * (dup_micro = (chunk_tok − doc_tok)/chunk_tok) and how full the
    * average window is (fill_micro = chunk_tok/(n_chunks·L)). Exact
    * BIGINT sums, one integer micro-division each; two bounded
    * aggregates + a per-source join.
    */
  def chunkUtilization(s: SparkSession, dir: String,
      L: Long = chunkLen, S: Long = chunkStride): DataFrame = {
    val inp = packInput(s, dir)
    val per = chunkDerived(inp, L, S).groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("end_tok") - col("start_tok")).as("chunk_tok"))
    val docs = inp.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("doc_tok"))
    per.join(docs, "source")
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("doc_tok"), col("chunk_tok"),
        expr("((chunk_tok - doc_tok) * 1000000L) div chunk_tok").as("dup_micro"),
        expr(s"(chunk_tok * 1000000L) div (n_chunks * $L)").as("fill_micro"))
  }

  /** Oracle for [[chunkUtilization]] — [[chunkPlanSql]] nested as a
    * derived table (the q114 WITH-inside-CTE idiom).
    */
  def chunkUtilizationSql(L: Long = chunkLen, S: Long = chunkStride): String =
    s"""WITH ch AS (SELECT * FROM (${chunkPlanSql(L, S)}) t),
        per AS (SELECT source, count(*)::BIGINT AS n_chunks,
                       sum(end_tok - start_tok)::BIGINT AS chunk_tok
                FROM ch GROUP BY 1),
        d AS (SELECT source, count(*)::BIGINT AS n_docs,
                     sum(len(string_split(lower(text), ' ')))::BIGINT AS doc_tok
              FROM documents WHERE text IS NOT NULL GROUP BY 1)
        SELECT per.source, n_docs, n_chunks, doc_tok, chunk_tok,
               ((chunk_tok - doc_tok) * 1000000 // chunk_tok)::BIGINT AS dup_micro,
               ((chunk_tok * 1000000) // (n_chunks * $L))::BIGINT AS fill_micro
        FROM per JOIN d ON per.source = d.source"""

  /** The per-doc packed assignment derived from (start, n_tok) — pure
    * integer arithmetic, shared by the batch and live forms so the two
    * can never drift: seq ids are `div`, offsets `mod`, span counts a
    * difference of divs. No floats anywhere.
    */
  private[graft] def packDerived(rows: DataFrame): DataFrame =
    rows.select(col("source"), col("doc_id"), col("n_tok"), col("start"),
      expr(s"start div $packSeqLen").as("seq_first"),
      expr(s"(start + n_tok - 1) div $packSeqLen").as("seq_last"),
      expr(s"start % $packSeqLen").as("offset_in_seq"),
      expr(s"(start + n_tok - 1) div $packSeqLen - start div $packSeqLen + 1")
        .as("n_seqs"))

  /** q220: the per-SOURCE packing manifest — q53 packs for
    * PARALLELISM (hash-bucket shards); this form packs for PROVENANCE
    * (each source = one contiguous token stream, the layout dataset
    * cards and per-dataset ablations need) and reports each doc's full
    * SPAN (first/last sequence, offset, span count — what an
    * attention-mask builder consumes; q53 reports only the start).
    * One window cumsum per source plus integer arithmetic: no join,
    * no second pass, no driver state — a trillion-token corpus packs
    * in one source-keyed shuffle. The live form (q221), the L-sweep
    * (q226), and the contamination audit (q223) all build on this
    * manifest.
    */
  def sourcePackingManifest(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    packDerived(packInput(s, dir)
      .withColumn("start", coalesce(sum(col("n_tok")).over(w), lit(0L))))
  }

  /** q223: sequence-level contamination audit — the composition a
    * training pipeline actually ships: pack the TRAINING subset
    * (benchmark/reference docs, `doc_id % 10 = 0`, never enter the
    * packer), then taint every packed sequence that contains ≥1
    * contaminated doc (q66's 13-gram verdicts). Attention windows see
    * whole sequences, so contamination is a SEQUENCE property, not a
    * doc property — one leaked doc taints up to `n_seqs` training
    * windows around it, and this report prices that blast radius per
    * source. Shapes: the packer's window cumsum, a bounded per-doc
    * span explode (n_tok/L + 1 rows), one hash join to the verdicts,
    * two map-side-combinable aggregates.
    */
  def packedContamination(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val packedTrain = packDerived(
      packInput(s, dir).filter(col("doc_id") % 10 =!= 0)
        .withColumn("start", coalesce(sum(col("n_tok")).over(w), lit(0L))))
    val spans = packedTrain.select(col("source"), col("doc_id"),
      explode(sequence(col("seq_first"), col("seq_last"))).as("seq"))
    val verdicts = Dedup.decontaminate(s, dir)
      .select(col("doc_id"), col("is_contaminated"))
    spans.join(verdicts, Seq("doc_id"))
      .groupBy(col("source"), col("seq"))
      .agg(max(col("is_contaminated")).as("tainted"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("tainted")).cast("long").as("n_tainted_seqs"))
      .withColumn("tainted_frac",
        col("n_tainted_seqs").cast("double") / col("n_seqs").cast("double"))
  }

  def packedContaminationSql(): String =
    s"""WITH verd AS (SELECT doc_id, is_contaminated
                      FROM (${Dedup.decontaminateSql()}) v),
        t AS (SELECT source, doc_id,
                     len(string_split(lower(text), ' '))::BIGINT AS n_tok
              FROM documents WHERE text IS NOT NULL AND doc_id % 10 <> 0),
        c AS (SELECT source, doc_id, n_tok,
                     coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
              FROM t),
        spans AS (SELECT source, doc_id,
                         unnest(range(start // $packSeqLen,
                                      (start + n_tok - 1) // $packSeqLen + 1)) AS seq
                  FROM c),
        sq AS (SELECT source, seq, max(is_contaminated) AS tainted
               FROM spans JOIN verd USING (doc_id) GROUP BY 1, 2)
        SELECT source, count(*)::BIGINT AS n_seqs,
               sum(tainted)::BIGINT AS n_tainted_seqs,
               sum(tainted)::DOUBLE / count(*)::DOUBLE AS tainted_frac
        FROM sq GROUP BY 1"""

  /** q229: shard rebalance MOVE PLAN — given day-sharded storage whose
    * row counts drifted, the exact sequential-greedy plan that levels
    * every shard to its integer target (total div n, remainder to the
    * earliest days): donors and receivers each get cumulative
    * excess/deficit intervals, and every (donor → receiver, rows)
    * move is the INTERSECTION of one donor interval with one receiver
    * interval — the water-fill-between-two-cumsums construction
    * (q104's technique pointed at storage ops). Everything runs on
    * SHARD METADATA (n ≈ days rows, never data-sized): the per-shard
    * counts are one map-side-combined aggregate over the data, and
    * the interval join is bounded by donors × receivers ≤ n² tiny
    * rows — a plan a 100 TB table's catalog computes in milliseconds.
    */
  def shardRebalancePlan(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byDay = Tables.events(s, dir).filter(col("ts").isNotNull)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"))
    // the frames below are shard-count-sized (≈31 rows) — the
    // unpartitioned windows and the broadcast totals are free
    val wRk = W.orderBy(col("day"))
    val t = byDay
      .withColumn("rk", row_number().over(wRk))
      .crossJoin(broadcast(byDay.agg(sum(col("cnt")).as("tot"),
        count(lit(1)).as("n"))))
      .withColumn("target", expr("tot div n") +
        when(col("rk") <= expr("tot % n"), 1L).otherwise(0L))
    val wCum = W.orderBy(col("day"))
      .rowsBetween(W.unboundedPreceding, -1)
    val donors = t.filter(col("cnt") > col("target"))
      .withColumn("ex", col("cnt") - col("target"))
      .withColumn("st", coalesce(sum(col("ex")).over(wCum), lit(0L)))
      .select(col("day").as("from_day"), col("ex"), col("st").as("dst"))
    val receivers = t.filter(col("target") > col("cnt"))
      .withColumn("de", col("target") - col("cnt"))
      .withColumn("st", coalesce(sum(col("de")).over(wCum), lit(0L)))
      .select(col("day").as("to_day"), col("de"), col("st").as("rst"))
    donors.join(receivers,
        col("dst") < col("rst") + col("de") && col("rst") < col("dst") + col("ex"))
      .select(col("from_day"), col("to_day"),
        (least(col("dst") + col("ex"), col("rst") + col("de")) -
          greatest(col("dst"), col("rst"))).as("n_rows_moved"))
  }

  def shardRebalancePlanSql(): String =
    """WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                         count(*)::BIGINT AS cnt
                  FROM events WHERE ts IS NOT NULL GROUP BY 1),
       t AS (SELECT day, cnt, row_number() OVER (ORDER BY day) AS rk,
                    (SELECT sum(cnt) FROM d)::BIGINT AS tot,
                    (SELECT count(*) FROM d)::BIGINT AS n
             FROM d),
       g AS (SELECT day, cnt,
                    tot // n + CASE WHEN rk <= tot % n THEN 1 ELSE 0 END AS target
             FROM t),
       don AS (SELECT day, cnt - target AS ex,
                      coalesce(sum(cnt - target) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS st
               FROM g WHERE cnt > target),
       rec AS (SELECT day, target - cnt AS de,
                      coalesce(sum(target - cnt) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS st
               FROM g WHERE target > cnt)
       SELECT don.day AS from_day, rec.day AS to_day,
              (least(don.st + don.ex, rec.st + rec.de)
                - greatest(don.st, rec.st))::BIGINT AS n_rows_moved
       FROM don JOIN rec
         ON don.st < rec.st + rec.de AND rec.st < don.st + don.ex"""

  /** q226: packing-efficiency sweep — the tuning report behind the
    * choice of sequence length: per (source, L) for the three
    * candidate lengths, how many docs a boundary SPLITS (an attention
    * window break mid-document — a training-quality cost that rises as
    * L shrinks) and how much tail padding the last sequence wastes (a
    * compute cost that rises as L grows). One window cumsum (shared
    * shape with q220 — start is L-independent) exploded across the
    * candidate lengths, then integer arithmetic; no per-L rescan.
    */
  val packSweepLens = Seq(512L, 2048L, 8192L)

  def packingEfficiency(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    packInput(s, dir)
      .withColumn("start", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("L", explode(typedLit(packSweepLens)))
      .groupBy(col("source"), col("L"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr("start div L") =!= expr("(start + n_tok - 1) div L"), 1L)
          .otherwise(0L)).as("n_split_docs"),
        max(col("start") + col("n_tok")).as("total_tokens"))
      .select(col("source"), col("L"), col("n_docs"), col("n_split_docs"),
        col("total_tokens"),
        expr("(total_tokens + L - 1) div L").as("n_seqs"),
        (expr("(total_tokens + L - 1) div L") * col("L") - col("total_tokens"))
          .as("tail_waste"))
  }

  def packingEfficiencySql(): String =
    s"""WITH t AS (SELECT source, doc_id,
                          len(string_split(lower(text), ' '))::BIGINT AS n_tok
                   FROM documents WHERE text IS NOT NULL),
        c AS (SELECT source, doc_id, n_tok,
                     coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
              FROM t),
        x AS (SELECT c.*, L FROM c,
                     (SELECT unnest([${packSweepLens.mkString(", ")}])::BIGINT AS L)),
        g AS (SELECT source, L, count(*)::BIGINT AS n_docs,
                     sum(CASE WHEN start // L <> (start + n_tok - 1) // L
                              THEN 1 ELSE 0 END)::BIGINT AS n_split_docs,
                     max(start + n_tok)::BIGINT AS total_tokens
              FROM x GROUP BY 1, 2)
        SELECT source, L, n_docs, n_split_docs, total_tokens,
               (total_tokens + L - 1) // L AS n_seqs,
               ((total_tokens + L - 1) // L) * L - total_tokens AS tail_waste
        FROM g"""

  /** Shared oracle for q220/q221 (the live emissions converge to the
    * batch cumsum — integer sums are order-independent and the per-key
    * delivery contract fixes the order).
    */
  def sourcePackingManifestSql(): String =
    s"""WITH t AS (SELECT source, doc_id,
                          len(string_split(lower(text), ' '))::BIGINT AS n_tok
                   FROM documents WHERE text IS NOT NULL),
        c AS (SELECT source, doc_id, n_tok,
                     coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
              FROM t)
        SELECT source, doc_id, n_tok, start,
               start // $packSeqLen AS seq_first,
               (start + n_tok - 1) // $packSeqLen AS seq_last,
               start % $packSeqLen AS offset_in_seq,
               ((start + n_tok - 1) // $packSeqLen - start // $packSeqLen + 1) AS n_seqs
        FROM c"""
}
