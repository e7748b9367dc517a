package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deequ-style data-quality constraint auditing — the validation gate a
  * production ingestion pipeline runs before data is allowed into the
  * corpus (the reference's ingestion loop trusts the HN API blindly;
  * at 100 TB nobody does). One audit = a fixed list of declarative
  * constraints (completeness, uniqueness, value ranges, referential
  * integrity) evaluated in as few passes as possible, emitted as a
  * long-format report `(check, observed, passed)` so downstream
  * alerting is a plain filter on `passed = 0`.
  *
  * Scale shape: each table's column metrics come from ONE aggregation
  * over that table — count/sum/conditional-sum partials combine
  * map-side, and the scan is column-pruned to exactly the audited
  * columns. Uniqueness is the only metric needing a shuffle keyed by
  * data (two-phase distinct-count on the key). Referential integrity
  * is a LEFT ANTI join of the child's (column-pruned) FK against the
  * parent key — declarative, so AQE picks broadcast vs shuffle as the
  * parent's size dictates. The report assembly itself cross-joins
  * three ONE-ROW frames — scalar broadcasts, no data movement. Nothing
  * here collects to the driver.
  *
  * Hash-exactness contract: every observed ratio is a single IEEE
  * division of two exact BIGINT counts, so both engines compute the
  * identical double; `passed` compares counts (not floats) wherever
  * the semantics allow.
  */
object DataQuality {

  /** The audit core over explicit frames (unit tests inject dirty
    * data here; [[auditReport]] binds the sf tables). */
  def audit(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val o = orders.agg(
      count(lit(1)).as("o_n"),
      countDistinct(col("o_orderkey")).as("o_nd_key"),
      count(col("o_custkey")).as("o_nn_cust"),
      // coalesce: sum over an EMPTY table is NULL, and the verdict
      // comparison must stay a count equality (0 = 0), not NULL
      coalesce(sum(when(col("o_totalprice") >= 0, 1L).otherwise(0L)), lit(0L)).as("o_nonneg"))
    val l = lineitem.agg(
      count(lit(1)).as("l_n"),
      coalesce(sum(when(col("l_quantity").between(1, 50), 1L).otherwise(0L)), lit(0L)).as("l_inrange"),
      count(col("l_extendedprice")).as("l_nn_price"))
    // RI pass reads ONLY the FK column (column-pruned scan), so the
    // second lineitem "scan" is one column, not the table
    val ri = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("ri_misses"))
    // try_divide: ANSI mode errors on a zero divisor (even for doubles);
    // an EMPTY table's ratio checks read NULL observed, verdicts stay
    // count equalities. Non-empty input (any real corpus, and the
    // verify SF) never takes the NULL branch, so the cross-engine
    // contract is untouched.
    def ratio(a: Column, b: Column): Column =
      try_divide(a.cast("double"), b.cast("double"))
    o.crossJoin(l).crossJoin(ri)
      .withColumn("r_uniq", ratio(col("o_nd_key"), col("o_n")))
      .withColumn("r_cust", ratio(col("o_nn_cust"), col("o_n")))
      .withColumn("r_nonneg", ratio(col("o_nonneg"), col("o_n")))
      .withColumn("r_inrange", ratio(col("l_inrange"), col("l_n")))
      .withColumn("r_price", ratio(col("l_nn_price"), col("l_n")))
      .withColumn("r_ri", ratio(col("l_n") - col("ri_misses"), col("l_n")))
      // stack(8, label, observed, passed, ...) → long-format report
      .selectExpr("""stack(8,
        'orders.row_count',                 cast(o_n as double), cast(o_n > 0 as int),
        'orders.o_orderkey.uniqueness',     r_uniq,              cast(o_nd_key = o_n as int),
        'orders.o_custkey.completeness',    r_cust,              cast(o_nn_cust = o_n as int),
        'orders.o_totalprice.non_negative', r_nonneg,            cast(o_nonneg = o_n as int),
        'lineitem.row_count',               cast(l_n as double), cast(l_n > 0 as int),
        'lineitem.l_quantity.in_range',     r_inrange,           cast(l_inrange = l_n as int),
        'lineitem.l_extendedprice.completeness', r_price,        cast(l_nn_price = l_n as int),
        'lineitem.l_orderkey.ri_orders',    r_ri,                cast(ri_misses = 0 as int)
      ) as (check, observed, passed)""")
  }

  def auditReport(s: SparkSession, dir: String): DataFrame =
    audit(Tables.load(s, dir, "orders"), Tables.load(s, dir, "lineitem"))

  def auditReportSql: String =
    """WITH o AS (SELECT count(*)::BIGINT AS n,
                         count(DISTINCT o_orderkey)::BIGINT AS nd_key,
                         count(o_custkey)::BIGINT AS nn_cust,
                         coalesce(sum(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END), 0)::BIGINT AS nonneg
                  FROM orders),
            l AS (SELECT count(*)::BIGINT AS n,
                         coalesce(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END), 0)::BIGINT AS inrange,
                         count(l_extendedprice)::BIGINT AS nn_price
                  FROM lineitem),
            ri AS (SELECT count(*)::BIGINT AS misses
                   FROM lineitem li
                   WHERE NOT EXISTS (SELECT 1 FROM orders oo
                                     WHERE oo.o_orderkey = li.l_orderkey))
       SELECT 'orders.row_count' AS check, o.n::DOUBLE AS observed, (o.n > 0)::INT AS passed FROM o
       UNION ALL SELECT 'orders.o_orderkey.uniqueness', o.nd_key::DOUBLE / o.n::DOUBLE, (o.nd_key = o.n)::INT FROM o
       UNION ALL SELECT 'orders.o_custkey.completeness', o.nn_cust::DOUBLE / o.n::DOUBLE, (o.nn_cust = o.n)::INT FROM o
       UNION ALL SELECT 'orders.o_totalprice.non_negative', o.nonneg::DOUBLE / o.n::DOUBLE, (o.nonneg = o.n)::INT FROM o
       UNION ALL SELECT 'lineitem.row_count', l.n::DOUBLE, (l.n > 0)::INT FROM l
       UNION ALL SELECT 'lineitem.l_quantity.in_range', l.inrange::DOUBLE / l.n::DOUBLE, (l.inrange = l.n)::INT FROM l
       UNION ALL SELECT 'lineitem.l_extendedprice.completeness', l.nn_price::DOUBLE / l.n::DOUBLE, (l.nn_price = l.n)::INT FROM l
       UNION ALL SELECT 'lineitem.l_orderkey.ri_orders', (l.n - ri.misses)::DOUBLE / l.n::DOUBLE, (ri.misses = 0)::INT FROM l, ri"""

  // ---- streaming quality monitor (q107) ----

  /** Per-(event_type, user_id) metric state — the Complete-mode
    * streaming aggregation a live quality monitor maintains. Every
    * cell is order- and batching-independent (counts, min/max, and a
    * BIGINT micro-unit sum — `floor(value·1e6)` is one IEEE mul + floor
    * so both engines derive the identical integer), which is what lets
    * the converged stream state equal the batch aggregate cell-for-cell
    * (the q94/q98 sketch-maintenance contract). State cardinality is
    * #(type, user) PAIRS — keyed by entities, not input volume; the
    * approximate path at extreme user cardinality is q98's HLL grid.
    */
  def monitorState(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("mn"),
        max(col("value")).as("mx"),
        sum(floor(col("value") * lit(1e6)).cast("long")).as("sm"))

  /** Fold the monitor state down to the per-type quality report:
    * exact distinct users (the state rows ARE the distinct pairs),
    * event counts, value bounds, and the micro-unit value sum. */
  def monitorFinal(state: DataFrame): DataFrame =
    state.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n_events"),
        // count the KEY, not the row: the state holds one row per
        // (type, user) pair INCLUDING a possible user_id=NULL group,
        // and the oracle's count(DISTINCT user_id) ignores NULL — so
        // must this fold, or a null-keyed fixture diverges
        // (DirtyMonitorSpec pins both directions)
        count(col("user_id")).as("n_users"),
        min(col("mn")).as("min_value"),
        max(col("mx")).as("max_value"),
        sum(col("sm")).as("sum_value_micro"))

  // ---- join-key skew diagnosis (q119) ----

  /** Per-join-key skew report — the diagnostic that decides whether a
    * join needs salting (`Denormalize`'s skew path) or AQE's skew
    * split: for each audited key column, the key cardinality, row
    * count, the heaviest key and its count, the mean rows/key, and the
    * skew ratio max/mean. Two-phase shape at any scale: the per-key
    * counts partial-aggregate map-side and shuffle on the key; the
    * rollup to ONE row per column is a scalar aggregate; the heavy key
    * itself comes from a `max(struct(cnt, key))` — one aggregate, ties
    * broken on the key, NO global sort of the counts table (a
    * row_number window there would be the single-partition
    * scale-killer this report exists to prevent). Exactness: counts
    * BIGINT; mean and skew are two IEEE divisions mirrored
    * operand-for-operand.
    */
  def skewReport(s: SparkSession, dir: String): DataFrame = {
    def onecol(df: DataFrame, label: String, key: Column): DataFrame = {
      val counts = df.select(key.cast("long").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"),
        max(struct(col("cnt"), col("k"))).getField("k").as("heavy_key"))
        .select(lit(label).as("key_col"), col("n_keys"), col("n_rows"),
          col("max_cnt"), col("heavy_key"),
          (col("n_rows").cast("double") / col("n_keys").cast("double")).as("mean_cnt"),
          (col("max_cnt").cast("double")
            / (col("n_rows").cast("double") / col("n_keys").cast("double"))).as("skew_ratio"))
    }
    onecol(Tables.load(s, dir, "lineitem"), "lineitem.l_orderkey", col("l_orderkey"))
      .unionAll(onecol(Tables.load(s, dir, "orders"), "orders.o_custkey", col("o_custkey")))
      .unionAll(onecol(Tables.load(s, dir, "events"), "events.user_id", col("user_id")))
  }

  def skewReportSql: String = {
    def one(table: String, colName: String): String =
      s"""SELECT '$table.$colName' AS key_col,
                 count(*)::BIGINT AS n_keys,
                 sum(cnt)::BIGINT AS n_rows,
                 max(cnt)::BIGINT AS max_cnt,
                 (max({'cnt': cnt, 'k': k})).k AS heavy_key,
                 sum(cnt)::DOUBLE / count(*)::DOUBLE AS mean_cnt,
                 max(cnt)::DOUBLE / (sum(cnt)::DOUBLE / count(*)::DOUBLE) AS skew_ratio
          FROM (SELECT $colName::BIGINT AS k, count(*)::BIGINT AS cnt
                FROM $table GROUP BY 1)"""
    s"""${one("lineitem", "l_orderkey")}
        UNION ALL ${one("orders", "o_custkey")}
        UNION ALL ${one("events", "user_id")}"""
  }

  def monitorSql: String =
    """SELECT event_type,
              count(*)::BIGINT AS n_events,
              count(DISTINCT user_id)::BIGINT AS n_users,
              min(value) AS min_value,
              max(value) AS max_value,
              sum(floor(value * 1000000)::BIGINT)::BIGINT AS sum_value_micro
       FROM events GROUP BY event_type"""

  // ---- evicting (windowed) streaming quality monitor (q127) ----

  /** [[monitorState]]'s metric cells in the EVICTING form: keyed by
    * (hourly window, event_type, user_id) under watermark + Append, so
    * a state row emits exactly once when the watermark passes its
    * window end and is then DROPPED — state holds only open windows,
    * the production memory bound q107's Complete-mode grid deliberately
    * trades away (the q123 → q124 progression, applied to the quality
    * monitor). Cell math is identical (counts, min/max, the BIGINT
    * micro-unit sum), so the emitted set equals the batch derivation
    * and [[windowedMonitorSql]] checks it cell-exact.
    */
  def windowedMonitorState(ev: DataFrame, windowLen: String = "1 hour",
      delay: String = "30 minutes"): DataFrame =
    ev.withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).as("mn"),
        max(col("value")).as("mx"),
        sum(floor(col("value") * lit(1e6)).cast("long")).as("sm"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("win_start"),
        col("event_type"), col("user_id"),
        col("cnt"), col("mn"), col("mx"), col("sm"))

  /** The q124 sentinel horizon for [[windowedMonitorState]]: a real
    * window ends at most one window length past the last event, plus
    * the watermark delay.
    */
  val windowedMonitorClearMs: Long = 3600L * 1000 + 30L * 60 * 1000

  /** [[monitorFinal]] with the window start as an extra key — same
    * count-the-key NULL-user semantics (see monitorFinal; the emitted
    * pair rows include a possible user_id=NULL group per window).
    */
  def windowedMonitorFinal(state: DataFrame): DataFrame =
    state.groupBy(col("win_start"), col("event_type"))
      .agg(sum(col("cnt")).as("n_events"),
        count(col("user_id")).as("n_users"),
        min(col("mn")).as("min_value"),
        max(col("mx")).as("max_value"),
        sum(col("sm")).as("sum_value_micro"))

  // ---- column statistics profile (q164) ----

  /** ANALYZE-style column profiling — the statistics collection a
    * cost-based optimizer (and every data-quality onboarding) runs per
    * table: for each audited numeric column, row count, null count,
    * exact distinct count, and min/max. One aggregation per column
    * over a column-pruned scan (count/min/max partial-aggregate
    * map-side; the distinct count is the one shuffle, keyed by the
    * column — q55's HLL registers are the documented approximate path
    * at extreme cardinality). Long-format output like q106's audit so
    * downstream consumers filter by column name. Numeric columns only
    * BY DESIGN: min/max surface as doubles, which both engines derive
    * identically — string min/max would drag collation semantics into
    * the hash contract for no optimizer value.
    */
  def columnProfile(s: SparkSession, dir: String): DataFrame = {
    // MEASURED AND KEPT AS-IS (r20 optimization round): a one-pass-per-
    // table rewrite (all audited columns in a single multi-distinct
    // aggregate + bounded explode to per-column rows, 7 scans → 3)
    // measured 1.38/1.51 s vs 1.14/1.16 s for this form (isolated
    // min-of-2 pairs, sf0.1/local[32], oracle cell-exact both ways).
    // The multi-distinct aggregate plans as an Expand(k+1) that
    // multiplies every row k+1 ways BEFORE the shuffle, and that row
    // multiplication costs more than the extra column-pruned scans of
    // single-row-group page-cached files save. At petabyte scan sizes
    // the trade flips toward one pass — that variant is recorded here
    // for the day the scans dominate.
    def one(df: DataFrame, table: String, c: String): DataFrame =
      df.agg(
        count(lit(1)).as("n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("double").as("min_value"),
        max(col(c)).cast("double").as("max_value"))
        .select(lit(s"$table.$c").as("column"), col("n"), col("n_null"),
          col("n_distinct"), col("min_value"), col("max_value"))
    val o = Tables.load(s, dir, "orders")
    val l = Tables.load(s, dir, "lineitem")
    val ev = Tables.events(s, dir)
    one(o.select(col("o_orderkey")), "orders", "o_orderkey")
      .unionAll(one(o.select(col("o_custkey")), "orders", "o_custkey"))
      .unionAll(one(o.select(col("o_totalprice")), "orders", "o_totalprice"))
      .unionAll(one(l.select(col("l_quantity")), "lineitem", "l_quantity"))
      .unionAll(one(l.select(col("l_extendedprice")), "lineitem", "l_extendedprice"))
      .unionAll(one(ev.select(col("user_id")), "events", "user_id"))
      .unionAll(one(ev.select(col("value")), "events", "value"))
  }

  def columnProfileSql: String = {
    def one(table: String, c: String): String =
      s"""SELECT '$table.$c' AS column, count(*)::BIGINT AS n,
                 sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
                 count(DISTINCT $c)::BIGINT AS n_distinct,
                 min($c)::DOUBLE AS min_value, max($c)::DOUBLE AS max_value
          FROM $table"""
    Seq(one("orders", "o_orderkey"), one("orders", "o_custkey"),
      one("orders", "o_totalprice"), one("lineitem", "l_quantity"),
      one("lineitem", "l_extendedprice"), one("events", "user_id"),
      one("events", "value")).mkString("\nUNION ALL ")
  }

  // ---- incremental (IVM) column-profile maintenance (q175) ----

  /** INCREMENTAL ANALYZE — q164's statistics collection maintained
    * from partials instead of recomputed: the events log splits into
    * the BASE (event_id % 10 ≠ 0, whose per-column partial stats and
    * HLL register block are the stored artifacts a prior run
    * materialized) and the DELTA batch; the fresh profile merges the
    * stored partials with delta partials — count/null/min/max/Σ are
    * algebraically mergeable, and the distinct count is carried as the
    * register-MAX-mergeable HLL sketch (the reason ANALYZE pipelines
    * store sketches, not exact distinct sets: exact distinct is the
    * one non-mergeable statistic). Delta cost is one scan OF THE
    * DELTA; the base is never re-read.
    *
    * The oracle recomputes everything over the FULL table: the merge
    * ≡ recompute invariance holds exactly for the algebraic stats and
    * — because register max-merge commutes with partitioning —
    * BIT-exactly for the HLL estimate too (q55's register math, one
    * shared derivation). `hll_est` is reported for the id column;
    * doubles never enter it except the single final division.
    */
  def incrementalProfile(s: SparkSession, dir: String, p: Int = 5): DataFrame = {
    val ev = graft.Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"))
    val base = ev.filter(col("event_id") % 10 =!= 0)
    val delta = ev.filter(col("event_id") % 10 === 0)
    def statPartials(df: DataFrame): DataFrame = {
      def one(c: String): DataFrame =
        df.agg(
          count(lit(1)).as("n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          min(col(c)).cast("double").as("min_value"),
          max(col(c)).cast("double").as("max_value"),
          sum(floor(col(c) * 1000000).cast("long")).as("sum_micro"))
          .select(lit(s"events.$c").as("column"), col("n"), col("n_null"),
            col("min_value"), col("max_value"), col("sum_micro"))
      one("user_id").unionAll(one("value"))
    }
    def regPartials(df: DataFrame): DataFrame =
      Sketches.hllRegistersBy(
        df.select(lit("events.user_id").as("column"), col("user_id")),
        Seq("column"), col("user_id"), p)
    val baseStats = graft.ArtifactCache.cached("DataQuality.baseStats", dir, s)(
      statPartials(base))
    val baseRegs = graft.ArtifactCache.cached("DataQuality.baseRegisters", dir, s)(
      regPartials(base))
    val stats = baseStats.unionAll(statPartials(delta))
      .groupBy(col("column"))
      .agg(sum(col("n")).as("n"), sum(col("n_null")).as("n_null"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"),
        sum(col("sum_micro")).as("sum_micro"))
    val regs = baseRegs.unionAll(regPartials(delta))
      .groupBy(col("column"), col("bucket")).agg(max(col("mj")).as("mj"))
    val est = Sketches.hllSumsBy(regs, Seq("column"), p, "hll_est")
      .select(col("column"), col("hll_est"))
    stats.join(est, Seq("column"), "left")
      .select(col("column"), col("n"), col("n_null"), col("min_value"),
        col("max_value"), col("sum_micro"), col("hll_est"))
  }

  def incrementalProfileSql(p: Int = 5): String = {
    // `column` is a DuckDB keyword as a bare reference (an unquoted
    // ALIAS parses, q164; a reference does not) — quote it throughout
    def one(c: String): String =
      s"""SELECT 'events.$c' AS "column", count(*)::BIGINT AS n,
                 sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
                 min($c)::DOUBLE AS min_value, max($c)::DOUBLE AS max_value,
                 sum(floor($c * 1000000)::BIGINT)::BIGINT AS sum_micro
          FROM events"""
    s"""WITH ${Sketches.hllCtesBy(p, Seq("\"column\"" -> "'events.user_id'"))},
        est AS (SELECT "column", ${Sketches.hllNumerator(p)} / hll_s::DOUBLE AS hll_est
                FROM sums),
        st AS (${one("user_id")}
               UNION ALL ${one("value")})
        SELECT st."column", st.n, st.n_null, st.min_value, st.max_value,
               st.sum_micro, est.hll_est
        FROM st LEFT JOIN est USING ("column")"""
  }

  // ---- evicting (windowed) streaming RI orphan monitor (q142) ----

  /** q113's live referential-integrity monitor in the EVICTING form —
    * the last Complete-mode member of the data-quality family moved to
    * the production memory shape (the q123→q124→q127 progression):
    * the stream anti-joins the static active registry exactly as in
    * q113 (stream-static LEFT ANTI — stateless, the dim broadcasts;
    * NULL FKs survive the anti join on both engines), and the orphan
    * cells are keyed by (hourly window, event_type, user_id) under
    * watermark + Append, so each cell emits once when the watermark
    * passes its window end and is then dropped — state holds only the
    * OPEN windows' orphan entities, never the full entity grid.
    * Watermark declared BEFORE the join: the join is stateless, so the
    * event-time column rides through to the windowed aggregate.
    */
  def windowedOrphanState(ev: DataFrame, active: DataFrame,
      windowLen: String = "1 hour", delay: String = "30 minutes"): DataFrame =
    ev.withWatermark("ts", delay)
      .join(active, ev("user_id") === active(active.columns.head), "left_anti")
      .groupBy(window(col("ts"), windowLen), col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH").as("win_start"),
        col("event_type"), col("user_id"), col("cnt"))

  /** Same horizon as the windowed quality monitor: window + delay. */
  val windowedOrphanClearMs: Long = windowedMonitorClearMs

  /** Fold the finalized orphan cells to the per-(window, type) report —
    * count-the-key NULL semantics as in [[monitorFinal]]: a NULL
    * user_id survives the anti join (it matches no registry row) and
    * counts as orphan EVENTS, but not as an orphan USER (the oracle's
    * count(DISTINCT user_id) skips NULL).
    */
  def windowedOrphanFinal(state: DataFrame): DataFrame =
    state.groupBy(col("win_start"), col("event_type"))
      .agg(sum(col("cnt")).as("n_orphan_events"),
        count(col("user_id")).as("n_orphan_users"))

  /** Oracle: the batch derivation over the full log — NOT EXISTS
    * against the same restricted registry, grouped by the same hourly
    * window. Batching-independence of the counts makes the emitted
    * set equal this exactly once every real window is finalized.
    */
  def windowedOrphanSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS win_start,
              event_type,
              count(*)::BIGINT AS n_orphan_events,
              count(DISTINCT user_id)::BIGINT AS n_orphan_users
       FROM events e
       WHERE NOT EXISTS (SELECT 1 FROM customer c
                         WHERE c.c_custkey % 3 <> 0 AND c.c_custkey = e.user_id)
       GROUP BY 1, 2"""

  def windowedMonitorSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS win_start,
              event_type,
              count(*)::BIGINT AS n_events,
              count(DISTINCT user_id)::BIGINT AS n_users,
              min(value) AS min_value,
              max(value) AS max_value,
              sum(floor(value * 1000000)::BIGINT)::BIGINT AS sum_value_micro
       FROM events GROUP BY 1, 2"""

  // ---- k-anonymity audit (q168) ----

  /** The quasi-identifier key shared by the batch audit (q168) and the
    * streaming monitor (q169): (market segment, nation, coarse balance
    * bucket) — the released-attribute combination a re-identification
    * attack joins on. The balance bucket floors an IEEE division both
    * engines compute identically.
    */
  private[operators] def quasiIdCols: Seq[org.apache.spark.sql.Column] = Seq(
    col("c_mktsegment"), col("c_nationkey").cast("long").as("c_nationkey"),
    floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))

  /** k-anonymity audit — the privacy counterpart of the PII scan
    * (q52 finds identifiers IN values; this measures identification
    * risk FROM quasi-identifier combinations): every row's equivalence
    * class under the quasi-id key, summarized as the class-size
    * distribution with the under-k classes flagged. A release is
    * k-anonymous iff no row sits in a class smaller than k — the
    * violating-rows count is the mass that needs suppression or
    * generalization before the table ships.
    *
    * Two bounded aggregations at any scale: one groupBy on the
    * quasi-id key (two-phase, map-side combined), then a groupBy on
    * the class SIZE — output is the size histogram (≤ distinct-size
    * rows), never the class list. All counts exact BIGINTs.
    */
  /** The equivalence-class COUNTER table — plain counter-sum state
    * bounded by the quasi-id combination cardinality (the streamable
    * class: q169 maintains exactly this aggregation Complete-mode over
    * the customer ingest and converges to the batch table).
    */
  def kAnonymityClassCounts(cust: DataFrame): DataFrame =
    cust.select(quasiIdCols: _*)
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("bal_bucket"))
      .agg(count(lit(1)).as("class_size"))

  /** Fold the class table to the size histogram — shared by the batch
    * audit (q168) and the live monitor (q169) so the two reports
    * cannot drift.
    */
  def kAnonymityFold(classes: DataFrame, k: Long = 5): DataFrame =
    classes.groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_size")).as("n_rows"))
      .select(col("class_size"), col("n_classes"), col("n_rows"),
        (col("class_size") < k).as("violates_k"))

  def kAnonymityAudit(s: SparkSession, dir: String, k: Long = 5): DataFrame =
    kAnonymityFold(
      kAnonymityClassCounts(graft.Tables.load(s, dir, "customer")), k)

  def kAnonymityAuditSql(k: Long = 5): String =
    s"""WITH cls AS (
          SELECT c_mktsegment, c_nationkey::BIGINT AS c_nationkey,
                 floor(c_acctbal / 1000.0)::BIGINT AS bal_bucket,
                 count(*)::BIGINT AS class_size
          FROM customer GROUP BY 1, 2, 3)
        SELECT class_size, count(*)::BIGINT AS n_classes,
               sum(class_size)::BIGINT AS n_rows,
               (class_size < $k) AS violates_k
        FROM cls GROUP BY class_size"""

  // ---- l-diversity audit (q185) ----

  /** l-diversity — the attack k-anonymity (q168) misses: a class can
    * hold k rows and still leak if every row carries the SAME
    * sensitive value (the homogeneity attack — the attacker learns the
    * attribute without identifying the row). Released table modeled as
    * orders + the q168 quasi-identifier key of the ordering customer;
    * sensitive attribute = o_orderpriority (low-cardinality, the shape
    * l-diversity is about). A class is l-diverse iff it spans ≥ l
    * distinct sensitive values; the report is the diversity histogram
    * with under-l classes flagged — q168's fold, keyed by distinct
    * count instead of size.
    *
    * Scale shape: one FK hash join (orders shuffles on o_custkey,
    * customer broadcast when it fits), one groupBy on the quasi-id key
    * with an exact distinct (two-phase: the (class, value) dedup
    * combines map-side), then the bounded histogram fold.
    */
  /** The released rows whose diversity is audited: orders + the q168
    * quasi-id key of the ordering customer. Shared by the batch audit
    * (q185) and the live monitor (q196). */
  def lDiversityReleased(s: SparkSession, dir: String): DataFrame = {
    val cust = graft.Tables.load(s, dir, "customer")
      .select(col("c_custkey") +: quasiIdCols: _*)
    graft.Tables.load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderpriority"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("c_nationkey"), col("bal_bucket"),
        col("o_orderpriority"))
  }

  /** The (class, sensitive value) COUNTER grid — the streamable form of
    * the distinct: exact distinct-per-class is NOT counter-sum state,
    * but this pair grid is (bounded by classes × sensitive-value
    * cardinality), and the fold re-derives the distinct as the number
    * of grid rows per class. q196 maintains exactly this aggregation
    * Complete-mode and converges to the batch grid.
    */
  def lDiversityPairCounts(rel: DataFrame): DataFrame =
    rel.groupBy(col("c_mktsegment"), col("c_nationkey"), col("bal_bucket"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))

  /** Pair grid → diversity histogram (shared, q168's fold shape). */
  def lDiversityFold(pairs: DataFrame, l: Long = 3): DataFrame =
    pairs.groupBy(col("c_mktsegment"), col("c_nationkey"), col("bal_bucket"))
      .agg(sum(col("n")).as("n_rows_cls"), count(lit(1)).as("l_distinct"))
      .groupBy(col("l_distinct"))
      .agg(count(lit(1)).as("n_classes"), sum(col("n_rows_cls")).as("n_rows"))
      .select(col("l_distinct"), col("n_classes"), col("n_rows"),
        (col("l_distinct") < l).as("violates_l"))

  def lDiversityAudit(s: SparkSession, dir: String, l: Long = 3): DataFrame =
    lDiversityFold(lDiversityPairCounts(lDiversityReleased(s, dir)), l)

  def lDiversityAuditSql(l: Long = 3): String =
    s"""WITH rel AS (
          SELECT c_mktsegment, c_nationkey::BIGINT AS c_nationkey,
                 floor(c_acctbal / 1000.0)::BIGINT AS bal_bucket,
                 o_orderpriority
          FROM orders JOIN customer ON o_custkey = c_custkey),
        cls AS (SELECT c_mktsegment, c_nationkey, bal_bucket,
                       count(*)::BIGINT AS n_rows_cls,
                       count(DISTINCT o_orderpriority)::BIGINT AS l_distinct
                FROM rel GROUP BY 1, 2, 3)
        SELECT l_distinct, count(*)::BIGINT AS n_classes,
               sum(n_rows_cls)::BIGINT AS n_rows,
               (l_distinct < $l) AS violates_l
        FROM cls GROUP BY 1"""

  // ---- seasonal-baseline anomaly detection (q210) ----

  /** Traffic anomaly detection with a SEASONAL baseline — the monitor
    * q120's global Tukey fences can't be: hourly traffic has a strong
    * hour-of-day cycle, so a global fence either misses a 3 a.m. spike
    * (small absolute count) or false-alarms every noon peak. Here each
    * (event type, calendar-hour) cell's count is judged against the
    * distribution of THE SAME hour-of-day across the log — the
    * classic seasonal-decomposition monitor, reduced to its exact
    * relational core.
    *
    * The 3σ verdict is computed in PURE INTEGER arithmetic: with
    * baseline n, Σx, Σx² per (type, hour-of-day),
    * `(x−μ)² > 9σ²  ⟺  (x·n − Σx)² > 9·(n·Σx² − (Σx)²)` — both sides
    * exact BIGINTs, so the cross-engine verdict cannot drift by a ULP
    * (the float z-score every monitoring vendor computes cannot cross
    * engines losslessly; this form can). Population variance over the
    * observed cells; absent cells (zero-count hours) are not imputed —
    * documented choice, mirrored in the oracle.
    *
    * Scale shape: one corpus scan folds to the (type, day, hour) cell
    * grid (map-side combined); the baseline is a second fold of that
    * grid, bounded by types × 24 — a broadcast; the verdict join
    * touches only grid rows. At 100 TB the grid is still
    * types × days × 24.
    */
  /** The (type, day, hour) cell COUNTER grid — plain counter-sum state
    * bounded by types × days × 24 (the streamable class: q214
    * maintains exactly this aggregation Complete-mode over the event
    * ingest and converges to the batch grid). */
  def seasonalCells(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        hour(col("ts")).cast("long").as("hod"))
      .groupBy(col("event_type"), col("day"), col("hod"))
      .agg(count(lit(1)).as("x"))

  /** Cell grid → baseline → verdict. Shared by the batch audit (q210)
    * and the live monitor (q214) so the two reports cannot drift. */
  def seasonalFold(cells: DataFrame): DataFrame = {
    val base = cells.groupBy(col("event_type").as("b_type"), col("hod").as("b_hod"))
      .agg(count(lit(1)).as("base_n"), sum(col("x")).as("base_sum"),
        sum(col("x") * col("x")).as("base_sumsq"))
    cells.join(broadcast(base),
        col("event_type") === col("b_type") && col("hod") === col("b_hod"))
      .select(col("event_type"), col("day"), col("hod"), col("x"),
        col("base_n"), col("base_sum"),
        ((col("x") * col("base_n") - col("base_sum")) *
          (col("x") * col("base_n") - col("base_sum"))).as("dev2"),
        (lit(9L) * (col("base_n") * col("base_sumsq")
          - col("base_sum") * col("base_sum"))).as("thr"))
      .withColumn("is_anomaly", col("dev2") > col("thr"))
  }

  def seasonalAnomaly(s: SparkSession, dir: String): DataFrame =
    seasonalFold(seasonalCells(Tables.events(s, dir)))

  def seasonalAnomalySql: String =
    """WITH cells AS (
         SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                extract(hour FROM ts)::BIGINT AS hod, count(*)::BIGINT AS x
         FROM events GROUP BY 1, 2, 3),
       base AS (
         SELECT event_type, hod, count(*)::BIGINT AS base_n,
                sum(x)::BIGINT AS base_sum, sum(x * x)::BIGINT AS base_sumsq
         FROM cells GROUP BY 1, 2)
       SELECT c.event_type, c.day, c.hod, c.x, b.base_n, b.base_sum,
              ((c.x * b.base_n - b.base_sum)
                 * (c.x * b.base_n - b.base_sum))::BIGINT AS dev2,
              (9 * (b.base_n * b.base_sumsq
                 - b.base_sum * b.base_sum))::BIGINT AS thr,
              ((c.x * b.base_n - b.base_sum) * (c.x * b.base_n - b.base_sum)
                 > 9 * (b.base_n * b.base_sumsq - b.base_sum * b.base_sum))
                AS is_anomaly
       FROM cells c JOIN base b ON c.event_type = b.event_type
         AND c.hod = b.hod"""

  // ---- CUSUM change-point drift detection (q212) ----

  /** Sequential drift detection — the monitor class q210's pointwise
    * 3σ test can't cover: a shift too small to flag any single cell
    * (say +0.5σ every day after a silent ingestion change) accumulates
    * evidence until CUSUM (Page 1954) alarms. The recursive
    * `S_t = max(0, S_{t−1} + (x_t − μ))` looks non-relational, but
    * has the classic closed form `S_t = cum_t − min(0, min_{j≤t}
    * cum_j)` — a windowed CUMSUM minus a windowed RUNNING MIN, both
    * keyed by the monitored series. No recursion, no UDAF, no driver
    * loop.
    *
    * Exactness: residuals are scaled by n — `r_d = x_d·n − Σx` (exact
    * BIGINTs summing to zero), so cum/runmin/cusum stay integers, and
    * the 5σ alarm compares squares: `cusum² > 25·(n·Σx² − (Σx)²)`
    * (both sides exact — the q210 trick applied to the sequential
    * statistic). One scan to daily cells, one bounded per-type window
    * pass; at 100 TB the grid is still types × days.
    */
  /** The (type, day) daily COUNTER grid — counter-sum state bounded by
    * types × days (q215 maintains it Complete-mode live). */
  def dailyCells(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("x"))

  /** Daily grid → CUSUM statistic. Shared by the batch detector (q212)
    * and the live monitor (q215): the grid is the STATE, the statistic
    * is the VIEW — recomputed from the bounded grid at read time,
    * which is exactly how a dashboard serves a sequential statistic
    * over counter state. */
  def cusumFold(cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = cells.groupBy(col("event_type").as("b_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    val wAll = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(broadcast(base), col("event_type") === col("b_type"))
      .withColumn("r", col("x") * col("n") - col("sx"))
      .withColumn("cum", sum(col("r")).over(wAll))
      .withColumn("runmin", least(lit(0L), min(col("cum")).over(wAll)))
      .withColumn("cusum", col("cum") - col("runmin"))
      .select(col("event_type"), col("day"), col("x"), col("cusum"),
        (lit(25L) * (col("n") * col("sxx") - col("sx") * col("sx"))).as("thr2"),
        (col("cusum") * col("cusum") >
          lit(25L) * (col("n") * col("sxx") - col("sx") * col("sx")))
          .as("is_drift"))
  }

  def cusumDrift(s: SparkSession, dir: String): DataFrame =
    cusumFold(dailyCells(Tables.events(s, dir)))

  def cusumDriftSql: String =
    """WITH cells AS (
         SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                count(*)::BIGINT AS x
         FROM events GROUP BY 1, 2),
       base AS (
         SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                sum(x * x)::BIGINT AS sxx
         FROM cells GROUP BY 1),
       seq AS (
         SELECT c.event_type, c.day, c.x, b.n, b.sx, b.sxx,
                (sum(c.x * b.n - b.sx) OVER w)::BIGINT AS cum
         FROM cells c JOIN base b USING (event_type)
         WINDOW w AS (PARTITION BY c.event_type ORDER BY c.day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       cs AS (
         SELECT event_type, day, x, n, sx, sxx,
                (cum - least(0, min(cum) OVER (PARTITION BY event_type
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)))::BIGINT AS cusum
         FROM seq)
       SELECT event_type, day, x, cusum,
              (25 * (n * sxx - sx * sx))::BIGINT AS thr2,
              (cusum * cusum > 25 * (n * sxx - sx * sx)) AS is_drift
       FROM cs"""

  // ---- t-closeness audit (q201) ----

  /** t-closeness — the attack l-diversity (q185) misses: a class can
    * span ≥ l distinct sensitive values and still leak if its value
    * DISTRIBUTION differs sharply from the corpus-wide one (the
    * skewness attack: 49 % cancer in a class vs 1 % globally tells
    * the attacker plenty even though the class is "2-diverse"). Li,
    * Li & Venkatasubramanian (ICDE 2007) require every class's
    * sensitive distribution to sit within Earth-Mover's Distance t of
    * the global distribution; for an ORDERED attribute with m values
    * the EMD has the closed form
    * `(1/(m-1)) * Σ_i |Σ_{j≤i} (p_j − q_j)|` — cumulative
    * probability differences, which is exactly a windowed prefix sum.
    *
    * Same released table and quasi-id key as q185/q196 so the three
    * privacy audits (k-anonymity → l-diversity → t-closeness) read as
    * one progression over one release.
    *
    * Hash-exactness: probabilities are ratios, so the EMD is kept in
    * INTEGER arithmetic to the last step — per (class, value) the
    * scaled difference `ncv·N − Nv·nc` (both engines: exact BIGINTs),
    * prefix-summed in value order, |·|-summed per class, then ONE
    * integer division `(Σ·10^6) div ((m−1)·nc·N)` yields micro-EMD.
    * No IEEE rounding anywhere, so the cross-engine hash cannot drift.
    * (Magnitude bound: Σ ≤ m·nc·N; at 10^12 rows scale the 10^6
    * factor would need DECIMAL(38) — noted, not needed at any test SF.)
    *
    * Scale shape: the pair grid is bounded by classes × m (m = 5
    * here); densifying to the full m-slot grid is a broadcast cross
    * join against the m-row global frame; the prefix sum shuffles on
    * the CLASS key only (never a global sort); the totals ride a
    * one-row broadcast. Output is the micro-EMD decile histogram —
    * ≤ 10·2 rows whatever the corpus size.
    */
  def tClosenessAudit(s: SparkSession, dir: String,
                      tMicro: Long = 200000): DataFrame = {
    val pairs = lDiversityPairCounts(lDiversityReleased(s, dir))
    val clsKey = Seq(col("c_mktsegment"), col("c_nationkey"), col("bal_bucket"))
    val gv = pairs.groupBy(col("o_orderpriority")).agg(sum(col("n")).as("nv"))
    val tot = gv.agg(sum(col("nv")).as("nn"), count(lit(1)).as("m"))
    val cls = pairs.groupBy(clsKey: _*).agg(sum(col("n")).as("nc"))
    val dense = cls.crossJoin(broadcast(gv))
      .join(pairs,
        Seq("c_mktsegment", "c_nationkey", "bal_bucket", "o_orderpriority"),
        "left")
      .withColumn("ncv", coalesce(col("n"), lit(0L)))
      .crossJoin(broadcast(tot))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(clsKey: _*).orderBy(col("o_orderpriority"))
    val emd = dense
      .withColumn("cumdiff",
        sum(col("ncv") * col("nn") - col("nv") * col("nc")).over(w))
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("bal_bucket"),
        col("nc"), col("nn"), col("m"))
      .agg(sum(abs(col("cumdiff"))).as("sdiff"))
      .withColumn("micro_emd",
        expr("(sdiff * 1000000L) div ((m - 1L) * nc * nn)"))
    emd.groupBy(expr("micro_emd div 100000L").as("emd_bucket"),
        (col("micro_emd") >= tMicro).as("violates_t"))
      .agg(count(lit(1)).as("n_classes"), sum(col("nc")).as("n_rows"),
        max(col("micro_emd")).as("max_micro_emd"))
      .select(col("emd_bucket"), col("n_classes"), col("n_rows"),
        col("max_micro_emd"), col("violates_t"))
  }

  def tClosenessAuditSql(tMicro: Long = 200000): String =
    s"""WITH rel AS (
          SELECT c_mktsegment, c_nationkey::BIGINT AS c_nationkey,
                 floor(c_acctbal / 1000.0)::BIGINT AS bal_bucket,
                 o_orderpriority
          FROM orders JOIN customer ON o_custkey = c_custkey),
        grid AS (SELECT c_mktsegment, c_nationkey, bal_bucket,
                        o_orderpriority, count(*)::BIGINT AS n
                 FROM rel GROUP BY 1, 2, 3, 4),
        gvals AS (SELECT o_orderpriority, sum(n)::BIGINT AS nv
                  FROM grid GROUP BY 1),
        tot AS (SELECT sum(nv)::BIGINT AS nn, count(*)::BIGINT AS m
                FROM gvals),
        cls AS (SELECT c_mktsegment, c_nationkey, bal_bucket,
                       sum(n)::BIGINT AS nc
                FROM grid GROUP BY 1, 2, 3),
        dense AS (
          SELECT c.c_mktsegment, c.c_nationkey, c.bal_bucket, c.nc,
                 g.o_orderpriority, g.nv, coalesce(gr.n, 0)::BIGINT AS ncv
          FROM cls c CROSS JOIN gvals g
          LEFT JOIN grid gr ON gr.c_mktsegment = c.c_mktsegment
            AND gr.c_nationkey = c.c_nationkey
            AND gr.bal_bucket = c.bal_bucket
            AND gr.o_orderpriority = g.o_orderpriority),
        cum AS (
          SELECT c_mktsegment, c_nationkey, bal_bucket, nc,
                 sum(ncv * (SELECT nn FROM tot) - nv * nc) OVER (
                   PARTITION BY c_mktsegment, c_nationkey, bal_bucket
                   ORDER BY o_orderpriority) AS cumdiff
          FROM dense),
        emd AS (
          SELECT c_mktsegment, c_nationkey, bal_bucket, nc,
                 ((sum(abs(cumdiff))::BIGINT * 1000000)
                   // (((SELECT m FROM tot) - 1) * nc
                       * (SELECT nn FROM tot)))::BIGINT AS micro_emd
          FROM cum GROUP BY 1, 2, 3, 4)
        SELECT (micro_emd // 100000)::BIGINT AS emd_bucket,
               count(*)::BIGINT AS n_classes, sum(nc)::BIGINT AS n_rows,
               max(micro_emd)::BIGINT AS max_micro_emd,
               (micro_emd >= $tMicro) AS violates_t
        FROM emd GROUP BY 1, 5"""

  // ---- referential-integrity audit (q224) ----

  /** q224: FK integrity across the star schema's three fact→dimension
    * edges — per edge: row count, non-null FK count, and ORPHANS (a
    * non-null FK with no dimension row — the join-loss a silent
    * upstream delete or a partial load introduces; an inner-join
    * pipeline silently DROPS these rows, which is exactly why the
    * audit exists). Shape per edge: one distinct-project of the
    * dimension key, one left join (AQE broadcasts dimension key sets),
    * one aggregate — no edge ever scans more than fact + dim once.
    */
  def fkIntegrityAudit(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, fact: DataFrame, fk: String,
        dim: DataFrame, key: String): DataFrame =
      fact.select(col(fk).as("__fk"))
        .join(dim.select(col(key).as("__k")).distinct(),
          col("__fk") === col("__k"), "left")
        .agg(count(lit(1)).as("n_rows"),
          count(col("__fk")).as("n_nonnull_fk"),
          sum(when(col("__fk").isNotNull && col("__k").isNull, 1L)
            .otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("edge"), col("n_rows"), col("n_nonnull_fk"),
          col("n_orphans"),
          when(col("n_nonnull_fk") > 0,
            col("n_orphans").cast("double") / col("n_nonnull_fk").cast("double"))
            .as("orphan_frac"))
    edge("lineitem.l_orderkey->orders",
        Tables.load(s, dir, "lineitem"), "l_orderkey",
        Tables.load(s, dir, "orders"), "o_orderkey")
      .unionAll(edge("orders.o_custkey->customer",
        Tables.load(s, dir, "orders"), "o_custkey",
        Tables.load(s, dir, "customer"), "c_custkey"))
      .unionAll(edge("events.user_id->customer",
        Tables.events(s, dir), "user_id",
        Tables.load(s, dir, "customer"), "c_custkey"))
  }

  def fkIntegrityAuditSql: String = {
    def edge(name: String, fact: String, fk: String,
        dim: String, key: String): String =
      s"""SELECT '$name' AS edge, count(*)::BIGINT AS n_rows,
                 count($fk)::BIGINT AS n_nonnull_fk,
                 sum(CASE WHEN $fk IS NOT NULL AND k.__k IS NULL
                          THEN 1 ELSE 0 END)::BIGINT AS n_orphans,
                 CASE WHEN count($fk) > 0 THEN
                   sum(CASE WHEN $fk IS NOT NULL AND k.__k IS NULL
                            THEN 1 ELSE 0 END)::DOUBLE / count($fk)::DOUBLE
                 END AS orphan_frac
          FROM $fact f LEFT JOIN
               (SELECT DISTINCT $key AS __k FROM $dim) k ON f.$fk = k.__k"""
    Seq(edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
        "orders", "o_orderkey"),
      edge("orders.o_custkey->customer", "orders", "o_custkey",
        "customer", "c_custkey"),
      edge("events.user_id->customer", "events", "user_id",
        "customer", "c_custkey")).mkString("\nUNION ALL ")
  }

  // ---- population stability index (q235) ----

  /** q235: PSI — the standard production drift score between a
    * reference window and the current one, here the first vs second
    * half of the month (day-of-month ≤ 15). Per event-type bin, the
    * contribution is (p₂ − p₁)·(ln p₂ − ln p₁) over add-one-smoothed
    * shares; multiplied through by (N₁+T)(N₂+T) it is EXACT BIGINT —
    * one ln per (bin, window) rounded once to micro-nats (the q96
    * ledger), every comparison-grade quantity integer, the final
    * PSI a single fixed division sequence. Bins are the event-type
    * cardinality, so the whole statistic folds a 100 TB log into a
    * T-row grid in one scan.
    */
  /** The per-type two-window counter cells, shared by the batch score
    * (q235) and the live monitor (q239) — counter sums, the
    * streamable class; the reference window is part of the SAME
    * bounded state (a dashboard keeps both windows' counters hot).
    */
  def psiCells(ev: DataFrame): DataFrame =
    ev.filter(col("ts").isNotNull)
      .select(col("event_type"), (dayofmonth(col("ts")) <= 15).as("first_half"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("first_half"), 1L).otherwise(0L)).as("c2"))

  /** Read-time fold shared with the oracle: smoothed shares, one ln
    * per cell, exact-integer contribution numerators.
    */
  def psiFold(cells: DataFrame): DataFrame = {
    val tots = cells.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      count(lit(1)).as("t"))
    cells.crossJoin(broadcast(tots))
      .withColumn("l1_micro", round(log((col("c1") + 1).cast("double") /
        (col("n1") + col("t")).cast("double")) * 1e6).cast("long"))
      .withColumn("l2_micro", round(log((col("c2") + 1).cast("double") /
        (col("n2") + col("t")).cast("double")) * 1e6).cast("long"))
      .withColumn("pdiff_num", (col("c2") + 1) * (col("n1") + col("t")) -
        (col("c1") + 1) * (col("n2") + col("t")))
      .withColumn("ldiff_micro", col("l2_micro") - col("l1_micro"))
      .withColumn("psi_num", col("pdiff_num") * col("ldiff_micro"))
      .withColumn("psi_contrib",
        col("psi_num").cast("double") /
          ((col("n1") + col("t")) * (col("n2") + col("t"))).cast("double") /
          lit(1000000.0))
      .select(col("event_type"), col("c1"), col("c2"), col("ldiff_micro"),
        col("psi_num"), col("psi_contrib"))
  }

  def psiDrift(s: SparkSession, dir: String): DataFrame =
    psiFold(psiCells(graft.Tables.events(s, dir)
      .select(col("event_type"), col("ts"))))

  def psiDriftSql: String =
    """WITH ev AS (SELECT event_type, (day(ts) <= 15) AS first_half
                   FROM events WHERE ts IS NOT NULL),
       cells AS (SELECT event_type,
                        sum(CASE WHEN first_half THEN 1 ELSE 0 END)::BIGINT AS c1,
                        sum(CASE WHEN NOT first_half THEN 1 ELSE 0 END)::BIGINT AS c2
                 FROM ev GROUP BY 1),
       tots AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
                       count(*)::BIGINT AS t
                FROM cells),
       lp AS (SELECT event_type, c1, c2, n1, n2, t,
                     round(ln((c1 + 1)::DOUBLE / (n1 + t)::DOUBLE) * 1000000)::BIGINT AS l1,
                     round(ln((c2 + 1)::DOUBLE / (n2 + t)::DOUBLE) * 1000000)::BIGINT AS l2
              FROM cells, tots)
       SELECT event_type, c1, c2, (l2 - l1)::BIGINT AS ldiff_micro,
              (((c2 + 1) * (n1 + t) - (c1 + 1) * (n2 + t)) * (l2 - l1))::BIGINT AS psi_num,
              (((c2 + 1) * (n1 + t) - (c1 + 1) * (n2 + t)) * (l2 - l1))::BIGINT::DOUBLE
                / ((n1 + t) * (n2 + t))::DOUBLE / 1000000.0 AS psi_contrib
       FROM lp"""

  // ---- k-anonymity generalization ladder (q227) ----

  /** q227: the RELEASE step q168 only audits — pick the minimal
    * generalization level whose every equivalence class reaches k.
    * The ladder coarsens the quasi-identifiers stepwise (balance
    * bucket 1000→5000, then nationkey→'*', then balance→'*'); each
    * level's class table is one groupBy, all four levels derive from
    * ONE scan via an explode (no per-level rescan), and the chosen
    * level is the first satisfying row — the anonymization loop
    * ("generalize until k-anonymous") solved as a bounded relational
    * sweep instead of an iterate-and-recheck driver loop.
    */
  def kAnonGeneralize(s: SparkSession, dir: String, k: Long = 5): DataFrame = {
    val cust = graft.Tables.load(s, dir, "customer")
      .select(col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("string").as("nat"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("b1"))
    val lad = cust.withColumn("level", explode(typedLit(Seq(0, 1, 2, 3))))
      .select(col("level"), col("seg"),
        when(col("level") <= 1, col("nat")).otherwise(lit("*")).as("g_nat"),
        when(col("level") === 0, col("b1").cast("string"))
          .when(col("level").isin(1, 2), expr("b1 div 5").cast("string"))
          .otherwise(lit("*")).as("g_bal"))
    val perLevel = lad.groupBy(col("level"), col("seg"), col("g_nat"), col("g_bal"))
      .agg(count(lit(1)).as("class_size"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_classes"), min(col("class_size")).as("min_class_size"))
      .withColumn("satisfies_k", col("min_class_size") >= k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("level")).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // chosen = satisfying with NO satisfying level before it (the
    // 4-row frame makes the unpartitioned window free)
    perLevel
      .withColumn("is_chosen", col("satisfies_k") &&
        coalesce(max(col("satisfies_k").cast("int")).over(w), lit(0)) === 0)
      .select(col("level").cast("long").as("level"), col("n_classes"),
        col("min_class_size"), col("satisfies_k"), col("is_chosen"))
  }

  def kAnonGeneralizeSql(k: Long = 5): String =
    s"""WITH base AS (SELECT c_mktsegment AS seg, c_nationkey::VARCHAR AS nat,
                             floor(c_acctbal / 1000.0)::BIGINT AS b1
                      FROM customer),
        lad AS (SELECT level, seg,
                       CASE WHEN level <= 1 THEN nat ELSE '*' END AS g_nat,
                       CASE WHEN level = 0 THEN b1::VARCHAR
                            WHEN level IN (1, 2) THEN (b1 // 5)::VARCHAR
                            ELSE '*' END AS g_bal
                FROM base, (SELECT unnest([0, 1, 2, 3]) AS level)),
        cls AS (SELECT level, seg, g_nat, g_bal, count(*)::BIGINT AS class_size
                FROM lad GROUP BY 1, 2, 3, 4),
        lv AS (SELECT level, count(*)::BIGINT AS n_classes,
                      min(class_size)::BIGINT AS min_class_size,
                      min(class_size) >= $k AS satisfies_k
               FROM cls GROUP BY 1)
        SELECT level::BIGINT AS level, n_classes, min_class_size, satisfies_k,
               satisfies_k AND coalesce(max(satisfies_k::INT) OVER (ORDER BY level
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 0 AS is_chosen
        FROM lv"""

  // ---- JSON serde error quarantine (q228) ----

  /** q228: the serde ERROR PATH the Kafka wiring's happy path (O17)
    * never exercises — a decode gate that quarantines malformed
    * payloads instead of crashing or silently nulling the batch. The
    * payload is constructed by string concatenation (both engines
    * derive the identical bytes — no to_json formatting divergence in
    * the contract), a deterministic corruption truncates every
    * `% 7 = 0` message, and the gate is schema-on-read: parse under
    * PERMISSIVE semantics, a null parse = quarantine. Per-type report:
    * messages, quarantined count, and the SUM of a parsed field —
    * proving extraction ran on exactly the valid subset. At scale this
    * is a map-only gate in front of every consumer; the quarantined
    * fraction is the topic's health metric.
    */
  /** The decode-gate counter cells, shared by the batch report (q228)
    * and the live monitor (q230) — per-type counter sums, the
    * streamable class. Expects (event_id, user_id, event_type).
    */
  def jsonGateCells(ev: DataFrame): DataFrame = {
    val payload0 = concat(lit("{\"id\": "), col("event_id"),
      lit(", \"user\": "), col("user_id"),
      lit(", \"type\": \""), col("event_type"), lit("\"}"))
    val payload = when(col("event_id") % 7 === 0,
      expr("substring(payload0, 1, length(payload0) - 1)"))
      .otherwise(col("payload0"))
    // PERMISSIVE + columnNameOfCorruptRecord: a malformed record sets
    // the corrupt column (and NULLs every data field — no salvage
    // leaks into the aggregates), the Spark-native analog of DuckDB's
    // json_valid gate
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt",
        org.apache.spark.sql.types.StringType)))
    // event_id IS NOT NULL too: a null id makes concat yield a NULL
    // payload, which from_json maps to a null struct (bad=false) while
    // DuckDB's json_valid(NULL) is NULL — the one input class where
    // the two engines would classify differently, so exclude it on
    // BOTH sides of the oracle
    ev.filter(col("event_type").isNotNull && col("user_id").isNotNull &&
        col("event_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("payload0", payload0)
      .withColumn("payload", payload)
      .withColumn("parsed", from_json(col("payload"), sch,
        java.util.Map.of("columnNameOfCorruptRecord", "_corrupt")))
      .withColumn("bad", col("parsed._corrupt").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_msgs"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(!col("bad"), col("parsed.id"))).as("sum_parsed_id"))
  }

  def jsonQuarantine(s: SparkSession, dir: String): DataFrame =
    jsonGateCells(graft.Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type")))

  def jsonQuarantineSql: String =
    """WITH p AS (
         SELECT event_type,
                '{"id": ' || event_id || ', "user": ' || user_id ||
                  ', "type": "' || event_type || '"}' AS payload0,
                event_id
         FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
           AND event_id IS NOT NULL),
       g AS (SELECT event_type,
                    CASE WHEN event_id % 7 = 0
                         THEN substring(payload0, 1, length(payload0) - 1)
                         ELSE payload0 END AS payload
             FROM p)
       SELECT event_type, count(*)::BIGINT AS n_msgs,
              sum(CASE WHEN json_valid(payload) THEN 0 ELSE 1 END)::BIGINT
                AS n_quarantined,
              sum(CASE WHEN json_valid(payload)
                       THEN json_extract(payload, '$.id')::BIGINT END)::BIGINT
                AS sum_parsed_id
       FROM g GROUP BY 1"""

  // ---- live referential-integrity monitor (q225) ----

  /** The per-type orphan counter cells as STREAM STATE: each arriving
    * event left-joins the (static, broadcast) dimension key set and
    * lands in its type's (rows, non-null, orphans) counters —
    * Complete-mode counter-sum state bounded by the TYPE cardinality,
    * the q214 class. The ingest-time version of q224's third edge: a
    * partial dimension load shows up as a rising orphan counter within
    * one micro-batch of the bad data, not at the next nightly audit.
    */
  def orphanCells(ev: DataFrame, custKeys: DataFrame): DataFrame =
    ev.join(custKeys, ev("user_id") === custKeys("__k"), "left")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("user_id")).as("n_nonnull_fk"),
        sum(when(col("user_id").isNotNull && col("__k").isNull, 1L)
          .otherwise(0L)).as("n_orphans"))

  /** Read-time fold shared with the oracle: the audit ratio. */
  def orphanFold(cells: DataFrame): DataFrame =
    cells.select(col("event_type"), col("n_rows"), col("n_nonnull_fk"),
      col("n_orphans"),
      when(col("n_nonnull_fk") > 0,
        col("n_orphans").cast("double") / col("n_nonnull_fk").cast("double"))
        .as("orphan_frac"))

  def orphanMonitorSql: String =
    """SELECT event_type, count(*)::BIGINT AS n_rows,
              count(user_id)::BIGINT AS n_nonnull_fk,
              sum(CASE WHEN user_id IS NOT NULL AND c.__k IS NULL
                       THEN 1 ELSE 0 END)::BIGINT AS n_orphans,
              CASE WHEN count(user_id) > 0 THEN
                sum(CASE WHEN user_id IS NOT NULL AND c.__k IS NULL
                         THEN 1 ELSE 0 END)::DOUBLE / count(user_id)::DOUBLE
              END AS orphan_frac
       FROM events e LEFT JOIN
            (SELECT DISTINCT c_custkey AS __k FROM customer) c
         ON e.user_id = c.__k
       GROUP BY 1"""
}
