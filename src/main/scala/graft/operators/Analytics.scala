package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Beyond-reference relational analytics over the star schema — the
  * operator classes the reference deliberately lacks (SURVEY.md §2
  * "deliberately absent": aggregation, sort/limit, window functions,
  * filters, multiway joins), expressed Catalyst-first so pushdown,
  * partial aggregation and broadcast selection all apply.
  *
  * Money arithmetic is cast to DECIMAL(18,2) before aggregation on both
  * the Spark and DuckDB sides: decimal sums are exact and
  * order-independent, so a 32-way parallel partial aggregate
  * hash-matches a single-threaded oracle — double sums would differ in
  * the low bits at every scale factor.
  */
object Analytics {

  private val money = "decimal(18,2)"

  /** Pricing summary (hash aggregate with map-side partial combine; one
    * shuffle on the two low-cardinality group keys).
    */
  def aggPricing(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(money)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(money)).cast("double").as("sum_price"),
        sum((col("l_extendedprice").cast(money) * (lit(1).cast(money) - col("l_discount").cast(money)))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("n"))
      .withColumn("avg_qty", col("sum_qty") / col("n"))

  /** Top-k: global sort + limit (Spark plans TakeOrderedAndProject — no
    * full sort at scale, a per-partition top-k then a driver merge).
    */
  def topOrders(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.load(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(k)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))

  /** Window functions: per-customer order sequence + running spend. */
  def customerRunningSpend(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.load(s, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        row_number().over(w).as("order_seq"),
        sum(col("o_totalprice").cast(money))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_spend"))
  }

  /** Multiway star join: revenue by nation. Dimension chain
    * (region→nation→customer) broadcasts; only the fact tables shuffle.
    *
    * The fact side is PRE-AGGREGATED to order grain before any join
    * (guide §2.3 "aggregate before you shuffle"): per-order revenue is
    * one map-side-combinable decimal sum keyed by l_orderkey, so the
    * orders join shuffles one row per order instead of one per line
    * item (~4× fewer rows/bytes through BOTH fact exchanges), and —
    * because each surviving row now carries a unique o_orderkey —
    * `countDistinct(o_orderkey)` degenerates to `count(*)`, deleting
    * the distinct-aggregate Expand from the final nation rollup.
    * Exactness: decimal sums regroup associatively (decimal(37,4)
    * line products, far from the 38-digit cap at any tested SF), so
    * revenue is bit-identical to the line-grain sum.
    */
  def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val perOrder = li
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast(money) *
          (lit(1).cast(money) - col("l_discount").cast(money))).as("line_rev"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("line_rev")).as("order_rev"))
    // broadcast only the bounded dimension (nation: 25 rows at every SF);
    // customer grows with SF, so the planner/AQE decides for it — an
    // unconditional hint would OOM instead of degrading to a shuffle join
    perOrder.join(o, col("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("order_rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Selective filter + projection — Catalyst pushes both into the
    * parquet scan (PushedFilters + 4-column ReadSchema).
    */
  def purchaseEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase" && col("value") > 100.0)
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"))

  /** Sessionization: split each user's event stream into sessions at
    * inactivity gaps > `gapMinutes`, then aggregate per session. The
    * classic lag → gap-flag → cumulative-sum pattern: two window passes
    * over one shuffle on user_id, then the session aggregate reuses the
    * same partitioning (no extra shuffle).
    */
  def sessionize(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    // µs order (+ event_id) like every event query: session membership is
    // provably insensitive to within-µs order, but the uniform convention
    // keeps every frame aligned with what the oracle can observe
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")).asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(money)).cast("double").as("sum_value"))
  }

  def sessionizeSql(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e AS (
          SELECT user_id, event_id, value, epoch_us(ts)::BIGINT AS ts_us FROM events),
        flagged AS (
          SELECT *,
            CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > $gapUs THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
        sessions AS (
          SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM flagged)
        SELECT user_id, session_idx::BIGINT AS session_idx,
               min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
               count(*) AS n_events,
               sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
        FROM sessions GROUP BY user_id, session_idx"""
  }

  /** Sessionization via Spark's NATIVE session_window operator (the
    * same operator drives streaming sessionization with watermarks) —
    * the built-in counterpart of the hand-rolled lag/cumsum
    * [[sessionize]]. Boundary semantics verified on this Spark version:
    * an event exactly `gapMinutes` after the previous one MERGES into
    * the session (the window extent is closed at last+gap), identical
    * to the lag formulation's `> gap` split rule — so the oracle uses
    * the same `>` rule as q29's.
    */
  def sessionWindows(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(money)).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))

  def sessionWindowsSql(gapMinutes: Int = 30): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e AS (
          SELECT user_id, value, epoch_us(ts)::BIGINT AS ts_us FROM events),
        flagged AS (
          SELECT *,
            CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > $gapUs THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC)),
        sessions AS (
          SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM flagged)
        SELECT user_id, min(ts_us) AS session_start_us,
               count(*) AS n_events,
               sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
        FROM sessions GROUP BY user_id, session_idx"""
  }

  /** Rollup (hierarchical grouping sets) over order status/priority —
    * subtotal rows carry NULL group keys, matching SQL ROLLUP.
    */
  def orderRollup(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(money)).cast("double").as("total"))

  val orderRollupSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS total
       FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""

  /** Semi/anti joins: customers WITH orders vs customers WITHOUT, one
    * result with a marker column (left_semi/left_anti plan as existence
    * joins — no fact-side data movement beyond the key).
    */
  def customerOrderExistence(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders").select(col("o_custkey"))
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), lit(1).as("has_orders"))
    val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), lit(0).as("has_orders"))
    withOrders.unionAll(withoutOrders)
  }

  val customerOrderExistenceSql: String =
    """SELECT c_custkey, c_name, 1 AS has_orders FROM customer
       WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
       UNION ALL
       SELECT c_custkey, c_name, 0 AS has_orders FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""

  /** Exact interpolated percentiles per group (Spark `percentile` ≡
    * DuckDB `quantile_cont`).
    */
  def valuePercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"))

  val valuePercentilesSql: String =
    """SELECT event_type,
              quantile_cont(value, 0.5) AS p50,
              quantile_cont(value, 0.9) AS p90,
              min(value) AS vmin, max(value) AS vmax
       FROM events GROUP BY event_type"""

  /** Pivot: one row per user, event-type counts as columns (explicit
    * value list — required anyway for a deterministic schema at scale;
    * an inferred pivot would scan twice).
    */
  val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def eventTypePivot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, eventTypes)

  val eventTypePivotSql: String = {
    val cases = eventTypes.map(t =>
      s"count(CASE WHEN event_type = '$t' THEN 1 END) AS \"$t\"").mkString(", ")
    s"SELECT user_id, $cases FROM events GROUP BY user_id"
  }

  /** JSON field extraction from the events `props` column (schema-on-
    * read over embedded JSON — the batch face of the reference's
    * JsonSerde, O17).
    */
  def eventProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("event_type"))
      .filter(col("k") >= 50)

  val eventPropsSql: String =
    """SELECT event_id, (props->>'$.k')::BIGINT AS k, event_type
       FROM events WHERE (props->>'$.k')::BIGINT >= 50"""

  /** Window-function battery: lag/lead/first_value/ntile over each
    * user's event timeline (one shuffle+sort, all functions share the
    * frame).
    */
  def eventWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    // order on µs (+ event_id), matching the oracle's visible precision —
    // a ns-ordered frame would swap lag/lead neighbors whenever one user
    // has two events inside the same microsecond
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")).asc, col("event_id").asc)
    Tables.events(s, dir).select(
      col("user_id"), col("event_id"), col("value"),
      lag(col("value"), 1).over(w).as("prev_value"),
      lead(col("value"), 1).over(w).as("next_value"),
      first_value(col("event_type")).over(w).as("first_type"),
      ntile(4).over(w).as("quartile"))
  }

  val eventWindowFuncsSql: String =
    """SELECT user_id, event_id, value,
              lag(value, 1) OVER w AS prev_value,
              lead(value, 1) OVER w AS next_value,
              first_value(event_type) OVER w AS first_type,
              ntile(4) OVER w AS quartile
       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)"""

  /** Explicit grouping sets (the general form rollup/cube specialize):
    * per-status totals, per-priority totals, and the grand total in one
    * pass — Spark expands to a union-free Expand node, one shuffle.
    */
  def orderGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(money)).cast("double").as("total"))

  val orderGroupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS total
       FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""

  /** Full cube over order status × priority. */
  def orderCube(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(money)).cast("double").as("total"))

  val orderCubeSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS total
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""

  /** Set operations (INTERSECT / EXCEPT): cohort algebra over user
    * sets — both plan as existence joins (semi/anti under the hood)
    * after hash-partitioning on the full row, so they scale like any
    * keyed shuffle.
    */
  def purchaserCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    def usersOf(t: String) =
      ev.filter(col("event_type") === t).select(col("user_id")).distinct()
    val purchasers = usersOf("purchase")
    val viewers = usersOf("view")
    purchasers.intersect(viewers).withColumn("cohort", lit("purchase_and_view"))
      .unionAll(purchasers.except(viewers).withColumn("cohort", lit("purchase_no_view")))
  }

  val purchaserCohortsSql: String =
    """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
       SELECT user_id, 'purchase_and_view' AS cohort FROM (SELECT * FROM p INTERSECT SELECT * FROM v)
       UNION ALL
       SELECT user_id, 'purchase_no_view' AS cohort FROM (SELECT * FROM p EXCEPT SELECT * FROM v)"""

  /** Sliding event-time windows (2 h length, 1 h slide) — each event
    * contributes to length/slide windows; Spark's native `window()`
    * generator handles the fan-out. The oracle replicates each event to
    * its two covering windows explicitly.
    */
  def slidingEventStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(money)).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  val slidingEventStatsSql: String =
    """WITH w AS (
         SELECT event_type, value,
                unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR, date_trunc('hour', ts)]) AS ws
         FROM events)
       SELECT strftime(ws, '%Y-%m-%d %H') AS win_start, event_type,
              count(*) AS n, sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
       FROM w GROUP BY 1, 2"""

  /** HyperLogLog++ approximate distinct counts — the sketch family for
    * counts over data too large to exact-count (hash-based, mergeable,
    * fixed memory per group). No DuckDB oracle (sketch estimates are
    * implementation-defined); the accuracy contract (relative error vs
    * exact, set by `rsd`) is pinned by a unit test instead.
    */
  def approxDistinctUsers(s: SparkSession, dir: String, rsd: Double = 0.02): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        count(lit(1)).as("n_events"))

  /** Hourly tumbling-window aggregate over the event stream (batch
    * analog of a watermarked windowed agg; string-formatted hour for
    * oracle-stable comparison).
    */
  def hourlyEventStats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(money)).cast("double").as("sum_value"))

  // ---- association-rule mining (q125) ----

  /** Market-basket association rules over user event baskets: each
    * user's basket is their DISTINCT event types, and every
    * co-occurring type pair (canonicalized a < b) reports support,
    * both directional confidences, and lift. Scale shape: basket
    * membership is an entity-keyed distinct (map-side combined); the
    * pair stage is a per-user SMALL-basket self-join (fan-out ≤ k²
    * per user for k distinct types — bounded by the type vocabulary,
    * not the event volume); the singles table and the user total are
    * group-bounded/scalar broadcasts. Exactness: all counts BIGINT;
    * support/confidence are single IEEE divisions and lift is
    * (n_ab·n)/(n_a·n_b) — one mul each side of one division, mirrored
    * operand-for-operand.
    */
  def associationRules(s: SparkSession, dir: String): DataFrame =
    associationRulesFold(Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct())

  /** The rule derivation over a basket-membership table — q125's batch
    * distinct or q126's converged streaming distinct state (the q60
    * class: membership is a set, order- and batching-independent). */
  def associationRulesFold(b: DataFrame): DataFrame = {
    val n = b.agg(countDistinct(col("user_id")).as("n"))
    val singles = b.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val x = b.select(col("user_id"), col("event_type").as("a"))
    val y = b.select(col("user_id"), col("event_type").as("b"))
    val pairs = x.join(y, Seq("user_id")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    pairs
      .join(singles.select(col("event_type").as("a"), col("cnt").as("n_a")), "a")
      .join(singles.select(col("event_type").as("b"), col("cnt").as("n_b")), "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("n_ab"),
        (col("n_ab").cast("double") / col("n").cast("double")).as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("conf_a_b"),
        (col("n_ab").cast("double") / col("n_b").cast("double")).as("conf_b_a"),
        ((col("n_ab").cast("double") * col("n").cast("double"))
          / (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
  }

  def associationRulesSql: String =
    """WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
       n AS (SELECT count(DISTINCT user_id)::BIGINT AS n FROM events),
       s AS (SELECT event_type, count(*)::BIGINT AS cnt FROM b GROUP BY 1),
       p AS (SELECT x.event_type AS a, y.event_type AS b, count(*)::BIGINT AS n_ab
             FROM b x JOIN b y ON x.user_id = y.user_id AND x.event_type < y.event_type
             GROUP BY 1, 2)
       SELECT p.a, p.b, p.n_ab,
              p.n_ab::DOUBLE / n.n::DOUBLE AS support,
              p.n_ab::DOUBLE / sa.cnt::DOUBLE AS conf_a_b,
              p.n_ab::DOUBLE / sb.cnt::DOUBLE AS conf_b_a,
              (p.n_ab::DOUBLE * n.n::DOUBLE) / (sa.cnt::DOUBLE * sb.cnt::DOUBLE) AS lift
       FROM p
       JOIN s sa ON sa.event_type = p.a
       JOIN s sb ON sb.event_type = p.b
       CROSS JOIN n"""

  // ---- time-series similarity search (q116) ----

  /** Distributed time-series similarity search (the EDBT'19 streaming
    * time-series-similarity problem shape, PAPERS.md): each user's
    * activity is a DAILY series of milli-unit value sums, and a bounded
    * query batch retrieves its top-k most-similar users by squared
    * Euclidean distance with missing days as zero. The key scale move
    * is the FACTORIZATION d²(a,b) = SS(a) + SS(b) − 2·dot(a,b): no
    * dense user×day grid ever materializes — SS is one entity-keyed
    * aggregate, and dot needs only the SHARED days of each (query,
    * user) pair via a day-keyed join against the broadcast query
    * series. Work: O(|series|·B) join fan-out with map-side partial
    * aggregation, then a |U|·B pair table (bounded-B fan-out, the ANN
    * family's query-batch discipline) and a distributed top-k window.
    *
    * Hash-exact by construction: series values are BIGINT milli-units
    * (`floor(value·1000)` — one IEEE mul + floor), so SS, dot, and d²
    * are exact integer arithmetic on both engines; ranking ties break
    * on neighbor_id.
    */
  /** The per-(user, day) milli-unit series grid — q116's batch input
    * and q117's Complete-mode streaming state (daily sums are counter
    * sums, the streamable class: the converged grid equals the batch
    * grid cell-for-cell). */
  def tsDailyGrid(ev: DataFrame): DataFrame =
    ev.select(col("user_id"),
      datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("2024-01-01")))
        .cast("long").as("day"),
      floor(col("value") * lit(1000)).cast("long").as("vm"))
      .groupBy(col("user_id"), col("day")).agg(sum(col("vm")).as("v"))

  def tsSimilarityTopK(s: SparkSession, dir: String, k: Int = 5,
      queryMod: Int = 50): DataFrame =
    // MEASURED AND KEPT AS-IS (r19 optimization round): checkpointing
    // the grid before the fold (the q117 streamed form's move) measured
    // 1.53 vs 1.02 s for this form in a same-window A/B — the fold's
    // three grid consumers are already served by AQE stage reuse here,
    // and q117 checkpoints for a DIFFERENT reason (the MemoryPlan view
    // can't dedup attributes across self-join branches).
    tsSimilarityFold(tsDailyGrid(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("value"))), k, queryMod)

  /** The search fold over a series grid (batch-computed or the
    * converged streaming state): SS, shared-day dots against the
    * bounded query batch, factorized d², distributed top-k.
    *
    * The query batch is EXPLICITLY bounded (lowest `maxQueryBatch`
    * ids of the `% queryMod` slice — the Similarity family's
    * discipline): both broadcasts below ride it, and an unbounded
    * "all sampled users" batch would be an executor-memory hazard at
    * real user cardinality. Plans as TakeOrderedAndProject.
    */
  def tsSimilarityFold(sr: DataFrame, k: Int = 5, queryMod: Int = 50,
      maxQueryBatch: Int = 1024): DataFrame = {
    val ss = sr.groupBy(col("user_id")).agg(sum(col("v") * col("v")).as("ss"))
    val q = ss.filter(col("user_id") % queryMod === 0)
      .orderBy(col("user_id").asc).limit(maxQueryBatch)
      .select(col("user_id").as("query_id"), col("ss").as("ss_q"))
    val qs = sr.join(broadcast(q.select(col("query_id"))),
        sr("user_id") === col("query_id"))
      .select(col("query_id"), col("day"), col("v").as("qv"))
    val dots = sr.join(broadcast(qs), Seq("day"))
      .filter(col("user_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("user_id"))
      .agg(sum(col("qv") * col("v")).as("dot"))
    val pairs = ss.crossJoin(broadcast(q))
      .filter(col("user_id") =!= col("query_id"))
    val scored = pairs.join(dots, Seq("query_id", "user_id"), "left")
      .select(col("query_id"), col("user_id").as("neighbor_id"),
        (col("ss_q") + col("ss") - lit(2L) * coalesce(col("dot"), lit(0L))).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("d2"))
  }

  def tsSimilarityTopKSql(k: Int = 5, queryMod: Int = 50,
      maxQueryBatch: Int = 1024): String =
    s"""WITH s AS (SELECT user_id,
                          date_diff('day', DATE '2024-01-01', ts)::BIGINT AS day,
                          sum(floor(value * 1000)::BIGINT)::BIGINT AS v
                   FROM events GROUP BY 1, 2),
        ss AS (SELECT user_id, sum(v * v)::BIGINT AS ss FROM s GROUP BY 1),
        q AS (SELECT user_id AS query_id, ss AS ss_q FROM ss
              WHERE user_id % $queryMod = 0 ORDER BY user_id LIMIT $maxQueryBatch),
        qs AS (SELECT s.user_id AS query_id, day, v AS qv FROM s JOIN q ON s.user_id = q.query_id),
        dots AS (SELECT qs.query_id, s.user_id, sum(qs.qv * s.v)::BIGINT AS dot
                 FROM qs JOIN s USING (day) WHERE s.user_id <> qs.query_id
                 GROUP BY 1, 2),
        pairs AS (SELECT q.query_id, u.user_id, q.ss_q, u.ss
                  FROM q CROSS JOIN ss u WHERE u.user_id <> q.query_id),
        scored AS (SELECT p.query_id, p.user_id AS neighbor_id,
                          (p.ss_q + p.ss - 2 * coalesce(d.dot, 0))::BIGINT AS d2
                   FROM pairs p LEFT JOIN dots d
                     ON d.query_id = p.query_id AND d.user_id = p.user_id)
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rank,
               d2
        FROM scored
        QUALIFY rank <= $k"""

  // ---- sequential funnel analysis (q132) ----

  /** Strictly-ordered conversion funnel (view → click → purchase):
    * step k counts users whose earliest step-k event falls AFTER their
    * matched step-(k−1) time — the sequential-pattern analytics every
    * product pipeline runs, expressed as a chain of per-user min
    * aggregates (each step is one filter + one FK join against the
    * previous step's one-row-per-user table + one min — all two-phase,
    * user-keyed shuffles; no per-user event-list materialization, no
    * window over the raw log). Conversion ratios are one IEEE division
    * of exact BIGINTs, NULL-guarded the same way on both engines.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val step1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val step2 = ev.filter(col("event_type") === "click")
      .join(step1, "user_id").filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val step3 = ev.filter(col("event_type") === "purchase")
      .join(step2, "user_id").filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val nAll = ev.agg(countDistinct(col("user_id")).as("n0"))
    val n1 = step1.agg(count(lit(1)).as("n1"))
    val n2 = step2.agg(count(lit(1)).as("n2"))
    val n3 = step3.agg(count(lit(1)).as("n3"))
    // MEASURED AND KEPT AS-IS (r19 optimization round): materializing
    // the four counts as one checkpointed 1-row frame (the plan text
    // shows the step chains duplicated 7×) measured 1.77 s vs 1.16 s
    // for this form in a same-window A/B at sf0.1/local[32] — AQE's
    // runtime stage reuse already dedups the duplicated subtrees, and
    // the checkpoint barrier serializes what was one parallel DAG.
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0, lit(null)).otherwise(
        num.cast("double") / den.cast("double"))
    n1.crossJoin(n2).crossJoin(n3).crossJoin(nAll).select(
      lit("1_view").as("step"), col("n1").as("n_users"),
      ratio(col("n1"), col("n0")).as("conv"))
      .unionAll(n1.crossJoin(n2).select(
        lit("2_click").as("step"), col("n2").as("n_users"),
        ratio(col("n2"), col("n1")).as("conv")))
      .unionAll(n2.crossJoin(n3).select(
        lit("3_purchase").as("step"), col("n3").as("n_users"),
        ratio(col("n3"), col("n2")).as("conv")))
  }

  /** q253's read-time fold: the stage-reached emissions (one row per
    * (user, stage)) collapse to the funnel report — q132's exact
    * output shape, ratios as single divisions with zero-denominator
    * guards. The emission multiset is bounded by 4·users.
    */
  def funnelFold(st: DataFrame): DataFrame = {
    val c = st.agg(
      sum(when(col("stage") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("stage") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("stage") === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("stage") === 3, 1L).otherwise(0L)).as("n3"))
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0, lit(null)).otherwise(num.cast("double") / den.cast("double"))
    c.select(lit("1_view").as("step"), col("n1").as("n_users"),
        ratio(col("n1"), col("n0")).as("conv"))
      .unionAll(c.select(lit("2_click").as("step"), col("n2").as("n_users"),
        ratio(col("n2"), col("n1")).as("conv")))
      .unionAll(c.select(lit("3_purchase").as("step"), col("n3").as("n_users"),
        ratio(col("n3"), col("n2")).as("conv")))
  }

  /** q256's read-time fold: identical emission-count collapse, but
    * the unit is (user, session) — the denominators are SESSIONS
    * within the eviction horizon, the only funnel an engine that
    * reclaims idle-user state can (and should) report.
    */
  def sessionFunnelFold(st: DataFrame): DataFrame =
    funnelFold(st).withColumnRenamed("n_users", "n_sessions")

  /** Oracle for the EVICTING funnel (q256): sessionize each user's
    * event sequence by gap > horizon, then run q132's min-time
    * cascade per (user, session). This is exactly what the TTL'd
    * state machine computes: a gap past the horizon — whether it was
    * seen by the in-function reset or by physical eviction plus
    * fresh re-arrival — starts a new session.
    */
  def sessionFunnelSql(horizonNs: Long): String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t, event_id
                   FROM events WHERE user_id IS NOT NULL),
        b AS (SELECT *, CASE WHEN t - lag(t) OVER
                 (PARTITION BY user_id ORDER BY t, event_id) > $horizonNs
               THEN 1 ELSE 0 END AS brk FROM e),
        sess AS (SELECT user_id, event_type, t,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                 FROM b),
        s1 AS (SELECT user_id, sid, min(t) AS t1 FROM sess
               WHERE event_type = 'view' GROUP BY 1, 2),
        s2 AS (SELECT s.user_id, s.sid, min(s.t) AS t2 FROM sess s
               JOIN s1 ON s.user_id = s1.user_id AND s.sid = s1.sid
               WHERE s.event_type = 'click' AND s.t > s1.t1 GROUP BY 1, 2),
        s3 AS (SELECT s.user_id, s.sid, min(s.t) AS t3 FROM sess s
               JOIN s2 ON s.user_id = s2.user_id AND s.sid = s2.sid
               WHERE s.event_type = 'purchase' AND s.t > s2.t2 GROUP BY 1, 2),
        n AS (SELECT (SELECT count(*) FROM
                        (SELECT DISTINCT user_id, sid FROM sess) q)::BIGINT AS n0,
                     (SELECT count(*) FROM s1)::BIGINT AS n1,
                     (SELECT count(*) FROM s2)::BIGINT AS n2,
                     (SELECT count(*) FROM s3)::BIGINT AS n3)
        SELECT '1_view' AS step, n1 AS n_sessions,
               CASE WHEN n0 = 0 THEN NULL ELSE n1::DOUBLE / n0::DOUBLE END AS conv FROM n
        UNION ALL
        SELECT '2_click', n2,
               CASE WHEN n1 = 0 THEN NULL ELSE n2::DOUBLE / n1::DOUBLE END FROM n
        UNION ALL
        SELECT '3_purchase', n3,
               CASE WHEN n2 = 0 THEN NULL ELSE n3::DOUBLE / n2::DOUBLE END FROM n"""

  /** Oracle for the LIVE funnel: q132's derivation with NULL users
    * excluded everywhere (the stream keys by user_id — a null key
    * never enters the state machine; q132's batch form counts the
    * null GROUP in s1/n0, which a keyed stream cannot represent).
    */
  def funnelNullFreeSql: String =
    """WITH e AS (SELECT user_id, event_type, ts FROM events
                  WHERE user_id IS NOT NULL),
        s1 AS (SELECT user_id, min(ts) AS t1 FROM e
               WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e
               JOIN s1 ON e.user_id = s1.user_id
               WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e
               JOIN s2 ON e.user_id = s2.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        n AS (SELECT (SELECT count(DISTINCT user_id) FROM e)::BIGINT AS n0,
                     (SELECT count(*) FROM s1)::BIGINT AS n1,
                     (SELECT count(*) FROM s2)::BIGINT AS n2,
                     (SELECT count(*) FROM s3)::BIGINT AS n3)
        SELECT '1_view' AS step, n1 AS n_users,
               CASE WHEN n0 = 0 THEN NULL ELSE n1::DOUBLE / n0::DOUBLE END AS conv FROM n
        UNION ALL
        SELECT '2_click', n2,
               CASE WHEN n1 = 0 THEN NULL ELSE n2::DOUBLE / n1::DOUBLE END FROM n
        UNION ALL
        SELECT '3_purchase', n3,
               CASE WHEN n2 = 0 THEN NULL ELSE n3::DOUBLE / n2::DOUBLE END FROM n"""

  def funnelSql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
               JOIN s1 ON e.user_id = s1.user_id
               WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
               JOIN s2 ON e.user_id = s2.user_id
               WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        n AS (SELECT (SELECT count(DISTINCT user_id) FROM events)::BIGINT AS n0,
                     (SELECT count(*) FROM s1)::BIGINT AS n1,
                     (SELECT count(*) FROM s2)::BIGINT AS n2,
                     (SELECT count(*) FROM s3)::BIGINT AS n3)
        SELECT '1_view' AS step, n1 AS n_users,
               CASE WHEN n0 = 0 THEN NULL ELSE n1::DOUBLE / n0::DOUBLE END AS conv FROM n
        UNION ALL
        SELECT '2_click', n2,
               CASE WHEN n1 = 0 THEN NULL ELSE n2::DOUBLE / n1::DOUBLE END FROM n
        UNION ALL
        SELECT '3_purchase', n3,
               CASE WHEN n2 = 0 THEN NULL ELSE n3::DOUBLE / n2::DOUBLE END FROM n"""

  // ---- temporal history build: SCD Type 2 (q133) ----

  /** Slowly-changing-dimension (Type 2) history from the event log:
    * each user's events, version-ordered by (ts, event_id) — q05's
    * order — become validity intervals `[valid_from, valid_to)`, the
    * open current row carrying NULL valid_to. One `lead` window
    * PARTITIONED BY USER (distributed by the entity key — never a
    * global sort; the per-user partition is history-deep, not
    * corpus-wide). Interval bounds are epoch-µs BIGINTs, the only
    * timestamp form both engines compare losslessly.
    */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("valid_from_us"),
        unix_micros(lead(col("ts"), 1).over(w)).as("valid_to_us"),
        (lead(col("ts"), 1).over(w).isNull).as("is_current"))
  }

  def scd2HistorySql: String =
    """SELECT user_id, event_id, event_type, value,
              epoch_us(ts)::BIGINT AS valid_from_us,
              epoch_us(lead(ts, 1) OVER w)::BIGINT AS valid_to_us,
              (lead(ts, 1) OVER w IS NULL) AS is_current
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)"""

  /** q208's oracle: the CLOSED subset of the q133 history — a live
    * Append stream can only ship versions whose closing event has
    * arrived; the open row is state, not output. NULL users carry no
    * key to sequence over (the stream filter mirrored here).
    */
  def scd2ClosedSql: String =
    """SELECT user_id, event_id, event_type, value,
              epoch_us(ts)::BIGINT AS valid_from_us,
              epoch_us(lead(ts, 1) OVER w)::BIGINT AS valid_to_us
       FROM events WHERE user_id IS NOT NULL
       WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
       QUALIFY lead(ts, 1) OVER w IS NOT NULL"""

  /** Oracle for the EVICTING live Markov (q272): q207's matrix
    * restricted to the horizon — a pair whose intra-user gap exceeds
    * `horizonNs` is a session break, not a transition. This is exactly
    * what the TTL'd LAG state computes: a cross-horizon successor finds
    * either evicted state or a stale row the in-function horizon guard
    * discards — both paths emit nothing (the q256 agreement argument).
    * Denominators shift with the numerators (n_cur sums the KEPT pairs),
    * so p_micro is the within-horizon conditional.
    */
  def markovTransitionsEvictingSql(horizonNs: Long): String =
    s"""WITH seq AS (
         SELECT event_type AS cur,
                lead(event_type) OVER w AS nxt,
                epoch_ns(lead(ts, 1) OVER w) - epoch_ns(ts) AS gap
         FROM events WHERE user_id IS NOT NULL
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       tr AS (SELECT cur, nxt, count(*)::BIGINT AS n FROM seq
              WHERE nxt IS NOT NULL AND gap <= $horizonNs GROUP BY 1, 2),
       rt AS (SELECT cur, sum(n)::BIGINT AS n_cur FROM tr GROUP BY 1)
       SELECT t.cur, t.nxt, t.n,
              ((t.n * 1000000) // r.n_cur)::BIGINT AS p_micro
       FROM tr t JOIN rt r ON t.cur = r.cur"""

  /** Oracle for the EVICTING live SCD2 (q273): q208's closed history
    * restricted to the horizon — a version is closed (final, emittable
    * under Append) only by a successor arriving within `horizonNs`; a
    * version whose user went idle past the horizon is not closed by the
    * stream (it is the upsert view's latest row at archival time — the
    * reference's own archival TODO is the policy for it).
    */
  def scd2ClosedEvictingSql(horizonNs: Long): String =
    s"""SELECT user_id, event_id, event_type, value,
              epoch_us(ts)::BIGINT AS valid_from_us,
              epoch_us(lead(ts, 1) OVER w)::BIGINT AS valid_to_us
       FROM events WHERE user_id IS NOT NULL
       WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
       QUALIFY lead(ts, 1) OVER w IS NOT NULL
         AND epoch_ns(lead(ts, 1) OVER w) - epoch_ns(ts) <= $horizonNs"""

  // ---- retention cohort analysis (q165) ----

  /** Weekly retention cohorts — the canonical product-analytics
    * matrix: users grouped by the week they FIRST appeared (the
    * cohort), counted in every subsequent week they were active, with
    * the retained fraction against the cohort's size. Two entity-keyed
    * shuffles at any scale: first-seen week is one min-aggregate per
    * user, per-(user, week) activity is one distinct, and the cohort
    * matrix is a count over their join — weeks are epoch-day÷7 BIGINTs
    * (Monday-agnostic fixed epochs; both engines derive the integer
    * identically from epoch-µs), the retained fraction one division of
    * exact counts. NULL-user events carry no identity and are excluded
    * from cohorts on both sides (the count-the-key discipline).
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
        // integer div, never `/` (IEEE division on longs — the
        // repo-wide ns/µs rule)
        expr("unix_micros(ts) div 86400000000 div 7").as("week"))
    val firstSeen = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val active = ev.distinct()
    val cohortSize = firstSeen.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_users"))
    active.join(firstSeen, "user_id")
      .groupBy(col("cohort_week"), col("week"))
      .agg(count(lit(1)).as("active_users"))
      .join(cohortSize, "cohort_week")
      .select(col("cohort_week"), col("week"),
        (col("week") - col("cohort_week")).as("weeks_since"),
        col("active_users"), col("cohort_users"),
        (col("active_users").cast("double") / col("cohort_users").cast("double"))
          .as("retained_frac"))
  }

  def retentionCohortsSql: String =
    """WITH ev AS (
         SELECT user_id, (epoch_us(ts) // 86400000000 // 7)::BIGINT AS week
         FROM events WHERE user_id IS NOT NULL),
       fs AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
       act AS (SELECT DISTINCT user_id, week FROM ev),
       cs AS (SELECT cohort_week, count(*)::BIGINT AS cohort_users FROM fs GROUP BY 1),
       m AS (SELECT fs.cohort_week, act.week, count(*)::BIGINT AS active_users
             FROM act JOIN fs USING (user_id) GROUP BY 1, 2)
       SELECT m.cohort_week, m.week, (m.week - m.cohort_week)::BIGINT AS weeks_since,
              m.active_users, cs.cohort_users,
              m.active_users::DOUBLE / cs.cohort_users::DOUBLE AS retained_frac
       FROM m JOIN cs USING (cohort_week)"""

  // ---- point-in-time (temporal) join against the SCD2 dimension (q151) ----

  /** Point-in-time feature lookup — the temporal join that makes
    * training-data assembly leakage-safe: each LABEL event (purchases
    * here) joins the [[scd2History]] dimension row whose validity
    * interval contains `label_ts − horizon` (1 h) — features as they
    * stood a full horizon BEFORE the label, never the version that
    * includes the label event itself (the feature-store
    * "as-of-training-timestamp" contract; q67 solves leakage at the
    * split level, this solves it at the join level). The SCD2
    * intervals partition each user's timeline, so every label matches
    * AT MOST one version row — a LEFT join keeps early labels (as-of
    * before the user's first version) with NULL features, because the
    * training set needs the row either way. Plan shape: an equi-join
    * on the entity key with the interval containment as a post-join
    * filter — per-user history depth is the only fan-in, never a
    * cross product (PlanSpec-pinned). Epoch-µs BIGINT interval
    * arithmetic end to end; `valid_to IS NULL` is the open current
    * row.
    */
  def pointInTimeJoin(s: SparkSession, dir: String,
      horizonUs: Long = 3600L * 1000000): DataFrame = {
    val dim = scd2History(s, dir)
      .select(col("user_id").as("d_user"), col("event_id").as("feat_event_id"),
        col("event_type").as("feat_type"), col("value").as("feat_value"),
        col("valid_from_us"), col("valid_to_us"))
    val labels = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("label_id"), col("user_id"),
        unix_micros(col("ts")).as("label_us"))
      .withColumn("asof_us", col("label_us") - horizonUs)
    labels.join(dim,
        col("user_id") === col("d_user") &&
          col("asof_us") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("asof_us") < col("valid_to_us")),
        "left")
      .select(col("label_id"), col("user_id"), col("label_us"), col("asof_us"),
        col("feat_event_id"), col("feat_type"), col("feat_value"))
  }

  def pointInTimeJoinSql(horizonUs: Long = 3600L * 1000000): String =
    s"""WITH dim AS (${scd2HistorySql}),
        labels AS (
          SELECT event_id AS label_id, user_id, epoch_us(ts)::BIGINT AS label_us,
                 (epoch_us(ts) - $horizonUs)::BIGINT AS asof_us
          FROM events WHERE event_type = 'purchase')
        SELECT l.label_id, l.user_id, l.label_us, l.asof_us,
               d.event_id AS feat_event_id, d.event_type AS feat_type,
               d.value AS feat_value
        FROM labels l
        LEFT JOIN dim d ON d.user_id = l.user_id
          AND l.asof_us >= d.valid_from_us
          AND (d.valid_to_us IS NULL OR l.asof_us < d.valid_to_us)"""

  // ---- last-touch attribution (q150) ----

  /** Last-touch attribution: each purchase is credited to the LATEST
    * preceding non-purchase event of the same user within `windowUs`
    * (7 days) — the marketing-analytics as-of lookup, expressed as ONE
    * entity-partitioned window instead of a self-join: `last(...,
    * ignoreNulls)` over `ROWS UNBOUNDED PRECEDING .. 1 PRECEDING` in
    * the user's (ts, event_id) total order picks the most recent
    * non-purchase row in a single pass over each user's history —
    * never a per-purchase scan-back, never a range self-join fan-out.
    * The recency cutoff applies AFTER the pick: the latest preceding
    * touch outside the window implies every older one is too, so
    * cutoff-after ≡ cutoff-in-predicate (which is what the oracle's
    * LATERAL probe does — the two formulations cross-check each
    * other). Unattributed purchases (no touch, or touch too old) stay
    * in the report with NULL touch columns — conversion accounting
    * needs the denominator. Epoch-µs BIGINTs end to end.
    */
  def lastTouchAttribution(s: SparkSession, dir: String,
      windowUs: Long = 7L * 24 * 3600 * 1000000): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = last(
      when(col("event_type") =!= "purchase",
        struct(unix_micros(col("ts")).as("t_us"), col("event_id").as("t_id"),
          col("event_type").as("t_type"))),
      ignoreNulls = true).over(w)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("touch", touch)
      .filter(col("event_type") === "purchase")
      // NULL-user guard: the window's partitionBy groups NULL users
      // into one partition, but SQL equality (the oracle's lateral
      // probe, and any sane attribution semantics) never matches a
      // NULL key — a NULL-user purchase is always unattributed
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("purchase_us"),
        when(col("user_id").isNotNull &&
          col("touch.t_us") >= unix_micros(col("ts")) - windowUs, col("touch.t_id"))
          .as("touch_id"),
        when(col("user_id").isNotNull &&
          col("touch.t_us") >= unix_micros(col("ts")) - windowUs, col("touch.t_type"))
          .as("touch_type"),
        when(col("user_id").isNotNull &&
          col("touch.t_us") >= unix_micros(col("ts")) - windowUs, col("touch.t_us"))
          .as("touch_us"))
  }

  def lastTouchAttributionSql(windowUs: Long = 7L * 24 * 3600 * 1000000): String =
    s"""SELECT p.event_id AS purchase_id, p.user_id,
               epoch_us(p.ts)::BIGINT AS purchase_us,
               t.t_id AS touch_id, t.t_type AS touch_type, t.t_us AS touch_us
        FROM events p
        LEFT JOIN LATERAL (
          SELECT e.event_id AS t_id, e.event_type AS t_type,
                 epoch_us(e.ts)::BIGINT AS t_us
          FROM events e
          WHERE e.user_id = p.user_id AND e.event_type <> 'purchase'
            AND (e.ts < p.ts OR (e.ts = p.ts AND e.event_id < p.event_id))
            AND epoch_us(e.ts) >= epoch_us(p.ts) - $windowUs
          ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) t ON true
        WHERE p.event_type = 'purchase'"""

  // ---- graph centrality: bounded-iteration integer PageRank (q130) ----

  /** PageRank over the customer–supplier interaction graph (who
    * ordered from whom, via orders ⋈ lineitem), the graph-centrality
    * member of the graph family q42's connected components opened.
    * Design choices, each forced by scale or cross-engine exactness:
    *
    *  - The graph is UNDIRECTED (each edge in both directions), so
    *    every node has out-degree ≥ 1 and the dangling-mass correction
    *    — whose global redistribution term would make every rank
    *    depend on a float total — never arises.
    *  - Node ids disambiguate the two entity spaces arithmetically
    *    (customer k → 2k, supplier k → 2k+1) — cheaper at 100 TB than
    *    string-prefixed keys and reversible in the output projection.
    *  - Arithmetic is INTEGER micro-units end to end: ranks start at
    *    10^6, each step is `150000 + Σ (85·r(u)) div (100·outdeg(u))`
    *    — the damped update with division-before-sum pinned, so both
    *    engines fold identical BIGINTs in any order and the oracle
    *    (the same recurrence unrolled as CTEs) is cell-exact. No
    *    floats anywhere.
    *  - A FIXED iteration count (the q42 star-contraction discipline):
    *    the driver loop is over rounds, never data; each round is one
    *    edges⋈ranks⋈degrees join batch + one aggregation — all
    *    two-phase shuffles on the node key at any scale.
    */
  /** The (edge, out-degree) adjacency — iteration-INVARIANT, so it is
    * derived once per (session, dir) and checkpointed: re-deriving the
    * lineitem⋈orders graph and re-joining degrees inside every
    * iteration would triple the join count for no information (and at
    * 100 TB the adjacency is precisely the artifact a graph pipeline
    * materializes once per snapshot). Session-guarded like the other
    * artifact caches.
    */
  private def adjacency(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.cached("Analytics.adjacency", dir, s) {
      val pairs = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).cast("long").as("src"),
          (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
        .distinct()
      val edges = pairs.unionAll(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      edges.join(deg, "src")
    }

  /** `checkpointEvery`: the rank frame's Catalyst lineage grows by one
    * join+aggregate per round, and past a handful of rounds that
    * unbounded plan growth — re-analysis cost, closure size, eventual
    * planner stack overflow — is the classic iterative-job killer.
    * At the default 3 iterations lineage is cheap, so the default (0 =
    * never) adds no checkpoint I/O; anyone raising `iterations` should
    * set `checkpointEvery` (≈5 is conventional) to truncate lineage
    * every N rounds. The ADJACENCY (the expensive, iteration-invariant
    * part) is already checkpointed once per session in [[adjacency]] —
    * this knob covers only the per-round rank frame.
    */
  def pageRank(s: SparkSession, dir: String, iterations: Int = 3,
      checkpointEvery: Int = 0): DataFrame = {
    val adj = adjacency(s, dir) // (src, dst, outdeg)
    var ranks = adj.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("rank"))
    for (i <- 1 to iterations) {
      ranks = adj
        .join(ranks, adj("src") === ranks("node"))
        .select(col("dst"),
          // integer div, never `/` (which is IEEE division on longs)
          expr("(rank * 85) div (outdeg * 100)").as("c"))
        .groupBy(col("dst"))
        .agg((lit(150000L) + sum(col("c"))).as("rank"))
        .select(col("dst").as("node"), col("rank"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iterations)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("entity"),
      expr("node div 2").as("entity_id"),
      col("rank"))
  }

  def pageRankSql(iterations: Int = 3): String = {
    val base = """eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        e AS (SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw),
        deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1),
        r0 AS (SELECT src AS node, 1000000::BIGINT AS rank FROM deg)"""
    val steps = (1 to iterations).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
                 (150000 + sum((85 * r${i - 1}.rank) // (100 * deg.outdeg)))::BIGINT AS rank
           FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node JOIN deg ON e.src = deg.src
           GROUP BY 1)"""
    }.mkString(",\n        ")
    s"""WITH $base,
        $steps
        SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
               (node // 2)::BIGINT AS entity_id, rank
        FROM r$iterations"""
  }

  // ---- personalized PageRank: seed-based relevance (q213) ----

  /** Personalized PageRank — q130's recurrence with the teleport mass
    * concentrated on a SEED SET instead of spread uniformly: the
    * graph-based relevance primitive (related-entity retrieval,
    * seed-expansion labeling, graph RAG) rather than global
    * importance. Same integer micro-unit arithmetic and
    * division-before-sum pinning as q130, so the oracle unrolls the
    * identical recurrence.
    *
    * The scale property q130 doesn't have: the rank frame is SPARSE —
    * it starts as |seeds| rows and grows by one hop per round, so
    * three rounds touch only the seeds' 3-hop neighborhood however
    * large the full graph is (the reason PPR is servable per-query
    * when global PageRank is a batch job). Seeds with no edges keep
    * receiving their teleport and push nothing — dangling mass
    * vanishes identically on both engines. Ranks that floor to zero
    * are dropped on both sides (the frontier stays tight).
    */
  def personalizedPageRank(s: SparkSession, dir: String,
      iterations: Int = 3): DataFrame = {
    val adj = adjacency(s, dir) // (src, dst, outdeg)
    val seeds = Tables.load(s, dir, "customer")
      .filter(col("c_custkey") % 100 === 0)
      .select((col("c_custkey") * 2).cast("long").as("node")).distinct()
    var ranks = seeds.select(col("node"), lit(1000000L).as("rank"))
    for (_ <- 1 to iterations) {
      val pushed = adj.join(ranks, adj("src") === ranks("node"))
        .select(col("dst"), expr("(rank * 85) div (outdeg * 100)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
        .select(col("dst").as("node"), col("m"))
      ranks = pushed
        .join(seeds.withColumn("t", lit(150000L)), Seq("node"), "full_outer")
        .select(col("node"),
          (coalesce(col("m"), lit(0L)) + coalesce(col("t"), lit(0L))).as("rank"))
        .filter(col("rank") > 0)
    }
    ranks.select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
        .as("entity"),
      expr("node div 2").as("entity_id"),
      col("rank"))
  }

  def personalizedPageRankSql(iterations: Int = 3): String = {
    val base = """eraw AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        e AS (SELECT src, dst FROM eraw UNION ALL SELECT dst, src FROM eraw),
        deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1),
        seeds AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer
                  WHERE c_custkey % 100 = 0),
        r0 AS (SELECT node, 1000000::BIGINT AS rank FROM seeds)"""
    val steps = (1 to iterations).map { i =>
      s"""r$i AS (SELECT coalesce(p.node, s.node) AS node,
                 (coalesce(p.m, 0) + coalesce(s.t, 0))::BIGINT AS rank
           FROM (SELECT e.dst AS node,
                        sum((85 * r${i - 1}.rank) // (100 * deg.outdeg))::BIGINT AS m
                 FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
                        JOIN deg ON e.src = deg.src
                 GROUP BY 1) p
           FULL OUTER JOIN (SELECT node, 150000 AS t FROM seeds) s
             ON p.node = s.node
           WHERE coalesce(p.m, 0) + coalesce(s.t, 0) > 0)"""
    }.mkString(",\n        ")
    s"""WITH $base,
        $steps
        SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
               (node // 2)::BIGINT AS entity_id, rank
        FROM r$iterations"""
  }

  // ---- graph structure: triangle census / clustering coefficient (q166) ----

  /** The user-interaction graph both [[triangleCensus]] and its spec
    * derive: an edge links two users who appeared CONSECUTIVELY in the
    * same (event_type, hour) activity bucket — the co-occurrence
    * construction that gives a genuinely non-bipartite graph (q130's
    * customer–supplier graph is bipartite: zero triangles by
    * construction, useless here). The window partitions by
    * (event_type, hour), so ordering work is bounded per bucket by the
    * hourly event rate — never a per-type (let alone global) sort; at
    * 100 TB the bucket count grows with retention while each bucket
    * stays event-rate-sized.
    */
  private[graft] def interactionEdges(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("h"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        col("ts"), col("event_id"), col("user_id"))
      .withColumn("nxt", lead(col("user_id"), 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("user_id"))
      .select(least(col("user_id"), col("nxt")).as("a"),
        greatest(col("user_id"), col("nxt")).as("b"))
      .distinct()
  }

  /** Triangle census over the interaction graph — edge/wedge/triangle
    * counts and the global clustering coefficient, the graph-structure
    * statistic that separates dense cliques from chain-like sprawl
    * (q42's components give SIZE, this gives SHAPE).
    *
    * The triangle join is COMPACT-FORWARD, the shape a 100× graph
    * requires: orient every edge from its (degree, id)-smaller to its
    * (degree, id)-larger endpoint, enumerate wedges only at each
    * node's OUT-neighbors, and close them with one semi-join against
    * the canonical edge set. Each triangle {x≺y≺z} is found exactly
    * once (at pivot x; y has at most one of the triangle's edges
    * outgoing, so it can never form the wedge). The payoff is the
    * wedge bound: out-degree under the degree orientation is O(√m)
    * whatever the raw degree distribution, so the intermediate is
    * Σ C(outdeg,2) — a naive pivot on raw adjacency pays Σ C(deg,2),
    * quadratic in every hub's degree. All joins are node-keyed hash
    * joins; counts are exact BIGINTs; the one float (the coefficient)
    * is a single guarded division of exact counts.
    *
    * The ORACLE counts triangles the naive way (ordered 3-clique triple
    * join) — agreement proves the oriented algorithm, not just the
    * arithmetic.
    */
  def triangleCensus(s: SparkSession, dir: String): DataFrame = {
    // The edge list feeds FOUR consumers (deg, the wedge self-join, the
    // closing semi-join, n_edges) and `oriented` two (both self-join
    // sides); without a materialization boundary each consumer re-runs
    // the events scan → window → distinct pipeline (the before plan
    // held 4 independent copies of that subtree, zero ReusedExchange).
    // One eager localCheckpoint per frame computes each pipeline once
    // (guide §2.4 "remove shuffles outright" / §5 lineage truncation);
    // deg and oriented are edge-bounded, edges is the distinct
    // adjacency — all far smaller than the raw event input.
    val edges = graft.ArtifactCache.isolated(interactionEdges(s, dir))
    val deg = graft.ArtifactCache.isolated(
      edges.select(col("a").as("node"))
        .unionAll(edges.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    val oriented = graft.ArtifactCache.isolated(edges
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("dst")))
    val tri = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("a"), col("e2.dst").as("b"))
      .join(edges, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val sums = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("deg") * (col("deg") - 1)) / 2).cast("long").as("n_wedges"))
    val ne = edges.agg(count(lit(1)).as("n_edges"))
    sums.crossJoin(ne).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          (col("n_triangles") * 3).cast("double") / col("n_wedges").cast("double"))
          .as("clustering_coeff"))
  }

  private val edgesCteSql: String =
    """seq AS (
         SELECT event_type, date_trunc('hour', ts) AS h, user_id,
                lead(user_id) OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                    ORDER BY ts ASC, event_id ASC) AS nxt
         FROM events WHERE user_id IS NOT NULL),
       e AS (SELECT DISTINCT least(user_id, nxt) AS a, greatest(user_id, nxt) AS b
             FROM seq WHERE nxt IS NOT NULL AND nxt <> user_id)"""

  def triangleCensusSql: String =
    s"""WITH $edgesCteSql,
       deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
                 SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
               GROUP BY 1),
       tri AS (SELECT count(*)::BIGINT AS n_triangles
               FROM e e1 JOIN e e2 ON e1.b = e2.a
                    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
       SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
              (SELECT count(*) FROM e)::BIGINT AS n_edges,
              (SELECT (sum(deg * (deg - 1)) / 2)::BIGINT FROM deg) AS n_wedges,
              tri.n_triangles,
              CASE WHEN (SELECT sum(deg * (deg - 1)) / 2 FROM deg) > 0
                   THEN (tri.n_triangles * 3)::DOUBLE /
                        (SELECT (sum(deg * (deg - 1)) / 2)::BIGINT FROM deg)::DOUBLE
              END AS clustering_coeff
       FROM tri"""

  // ---- activity streaks: gaps-and-islands (q167) ----

  /** Per-user consecutive-day activity streaks — the gaps-and-islands
    * decomposition (`day − row_number` is constant exactly within a run
    * of consecutive distinct days). One distinct on (user, epoch-day)
    * and one entity-partitioned window: the partition is each user's
    * ACTIVE-DAY COUNT (≤ retention days, a few thousand at any corpus
    * size), so the sort inside it is bounded no matter how many raw
    * events a user generates. Days are epoch-µs `div` 86400000000 —
    * integer arithmetic both engines share; NULL users carry no
    * identity and are excluded (the count-the-key discipline).
    */
  def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
    val days = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val islands = days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
  }

  def activityStreaksSql: String =
    """WITH days AS (
         SELECT DISTINCT user_id, (epoch_us(ts) // 86400000000)::BIGINT AS day
         FROM events WHERE user_id IS NOT NULL),
       isl AS (
         SELECT user_id,
                day - row_number() OVER (PARTITION BY user_id ORDER BY day ASC) AS grp
         FROM days),
       runs AS (SELECT user_id, grp, count(*)::BIGINT AS len
                FROM isl GROUP BY 1, 2)
       SELECT user_id, sum(len)::BIGINT AS n_active_days,
              count(*)::BIGINT AS n_streaks, max(len)::BIGINT AS longest_streak
       FROM runs GROUP BY 1"""

  // ---- time-decay multi-touch attribution (q177) ----

  /** Time-decay attribution — the multi-touch counterpart of q150's
    * last-touch: EVERY touch in the window before a purchase earns
    * credit, halved for each 12 h of age (`1000000 >> (Δh div 12)`
    * micro-units — the decay is an INTEGER SHIFT, so the whole credit
    * ledger is exact BIGINT arithmetic; the float-pow formulation
    * every analytics vendor ships cannot cross engines losslessly,
    * the shift form can). Per (channel) totals: touches, credited
    * purchases, credit mass.
    *
    * Shape: one entity-keyed equi-join (purchases ⋈ touches on
    * user_id) with the 7-day horizon as a post-join filter — per-user
    * fan-in is bounded by the user's OWN 7-day activity either side,
    * never a cross product (the q151 interval discipline); then one
    * channel-keyed aggregate. NULL-user purchases are unattributable
    * (SQL equality never matches the NULL key) and drop out of the
    * inner join on both engines identically.
    */
  def timeDecayAttribution(s: SparkSession, dir: String,
      windowUs: Long = 7L * 24 * 3600 * 1000000, halfLifeHours: Long = 12): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("us").as("p_us"))
    val t = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("t_id"),
        col("event_type").as("channel"), col("us").as("t_us"))
    p.join(t, "user_id")
      .filter((col("t_us") < col("p_us") ||
          (col("t_us") === col("p_us") && col("t_id") < col("p_id"))) &&
        col("t_us") >= col("p_us") - windowUs)
      .withColumn("credit_micro",
        expr(s"shiftright(1000000L, cast(least((p_us - t_us) div ${3600000000L * halfLifeHours}, 62) as int))"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_purchases"),
        sum(col("credit_micro")).as("credit_micro"))
  }

  def timeDecayAttributionSql(
      windowUs: Long = 7L * 24 * 3600 * 1000000, halfLifeHours: Long = 12): String =
    s"""WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts)::BIGINT AS us
                    FROM events),
       p AS (SELECT user_id, event_id AS p_id, us AS p_us FROM ev
             WHERE event_type = 'purchase'),
       t AS (SELECT user_id, event_id AS t_id, event_type AS channel, us AS t_us
             FROM ev WHERE event_type <> 'purchase'),
       c AS (SELECT t.channel, p.p_id,
                    (1000000 >> least((p.p_us - t.t_us) // ${3600000000L * halfLifeHours}, 62)) AS credit_micro
             FROM p JOIN t ON p.user_id = t.user_id
             WHERE (t.t_us < p.p_us OR (t.t_us = p.p_us AND t.t_id < p.p_id))
               AND t.t_us >= p.p_us - $windowUs)
       SELECT channel, count(*)::BIGINT AS n_touches,
              count(DISTINCT p_id)::BIGINT AS n_purchases,
              sum(credit_micro)::BIGINT AS credit_micro
       FROM c GROUP BY 1"""

  // ---- first-order Markov transition matrix (q202) ----

  /** The sequential-behavior summary the funnel (q132) and streak
    * (q167) queries don't give: the first-order Markov transition
    * matrix P(next = b | current = a) over each user's time-ordered
    * event sequence — the stats a session-simulation or
    * next-event-prediction baseline trains on, and the standard
    * sanity check on synthetic-log generators (a uniform generator
    * shows up instantly as a flat matrix).
    *
    * Shape at 100 TB: ONE window pass partitioned by user_id (high
    * cardinality — perfectly distributable, no skew beyond a user's
    * own history) computing `lead(event_type)`, then a groupBy on the
    * (current, next) pair whose output is bounded by event-type
    * cardinality squared (25 rows here) — partials combine map-side.
    * No self-join: the lag/lead formulation touches each row once,
    * where the join-on-rank formulation would shuffle the log twice.
    * Ties broken by event_id so the sequence — and therefore the
    * matrix — is deterministic under any partitioning. NULL users
    * have no identity to sequence over and are excluded (count-the-
    * key semantics, as q150). Probabilities ship as exact integer
    * micro-units: `(n · 10^6) div n_current` — no IEEE division.
    */
  /** (cur, nxt) pair multiset → the probability matrix. Shared by the
    * batch lead() derivation (q202) and the streamed stateful-lag form
    * (q207) so the two reports cannot drift.
    */
  def markovFold(pairs: DataFrame): DataFrame = {
    val tr = pairs.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
    val rowTot = tr.groupBy(col("cur").as("rt_cur"))
      .agg(sum(col("n")).as("n_cur"))
    tr.join(broadcast(rowTot), col("cur") === col("rt_cur"))
      .select(col("cur"), col("nxt"), col("n"),
        expr("(n * 1000000L) div n_cur").as("p_micro"))
  }

  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    markovFold(Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .filter(col("nxt").isNotNull))
  }

  def markovTransitionsSql: String =
    """WITH seq AS (
         SELECT event_type AS cur,
                lead(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS nxt
         FROM events WHERE user_id IS NOT NULL),
       tr AS (SELECT cur, nxt, count(*)::BIGINT AS n FROM seq
              WHERE nxt IS NOT NULL GROUP BY 1, 2),
       rt AS (SELECT cur, sum(n)::BIGINT AS n_cur FROM tr GROUP BY 1)
       SELECT t.cur, t.nxt, t.n,
              ((t.n * 1000000) // r.n_cur)::BIGINT AS p_micro
       FROM tr t JOIN rt r ON t.cur = r.cur"""

  // ---- one-pass multi-granularity report: ROLLUP (q204) ----

  /** The reporting query every pipeline dashboard runs at three
    * granularities — per (day, type), per day, and grand total — done
    * as ONE scan via ROLLUP instead of three scans + a UNION. Spark
    * compiles this to an Expand node (each input row is replicated
    * once per grouping set BEFORE the partial aggregate), so the
    * corpus is read once and the three granularities' partials
    * combine map-side in the same hash aggregate; the naive
    * three-query form reads the 100 TB log three times for the same
    * answer. `lvl` is the grouping id (day bit, type bit) so
    * downstream consumers can split the levels without relying on the
    * NULL-means-subtotal convention colliding with genuinely NULL
    * group values.
    *
    * The exact-distinct per granularity is the expensive honest part
    * (each grouping set needs its own dedup); the sketch alternative
    * at extreme scale is q55's HLL registers per grouping set — this
    * report keeps the exact form so the oracle is cell-exact. Sums in
    * integer micro-units as everywhere.
    */
  def rollupTrafficReport(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"), col("user_id"),
        floor(col("value") * 1000000).cast("long").as("v_micro"))
      .rollup(col("day"), col("event_type"))
      .agg(grouping_id().cast("long").as("lvl"),
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("v_micro")).as("sum_value_micro"))

  def rollupTrafficReportSql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
              (grouping(day) * 2 + grouping(event_type))::BIGINT AS lvl,
              count(*)::BIGINT AS n,
              count(DISTINCT user_id)::BIGINT AS n_users,
              sum(floor(value * 1000000)::BIGINT)::BIGINT AS sum_value_micro
       FROM events GROUP BY ROLLUP (day, event_type)"""

  // ---- item-item co-occurrence kNN (q206) ----

  /** The embedding-free recommender baseline ("customers who bought X
    * also bought Y"): items co-occurring in the same basket, scored by
    * cosine over the binary item-basket matrix — `co / √(n_a·n_b)` —
    * and cut to each item's top-k neighbors. This is the co-occurrence
    * counterpart of the ANN family (q25…): same serve shape (kNN graph
    * keyed by item), different geometry (interaction space, no trained
    * vectors anywhere).
    *
    * Scale shape: the pair generation is a self-join ON THE BASKET KEY
    * — work is Σ basket², bounded by the max basket size (13 lines in
    * TPC-H, capped in any real cart), never corpus²; the q136/q23
    * blocking discipline. One groupBy on the (a, b) pair (map-side
    * combined, a < b so each pair counts once), two broadcast-sized
    * frequency joins, then the per-item top-k as row_number over an
    * item-keyed window — WindowGroupLimit pushes the cut before the
    * full sort materializes. Symmetrization (each pair serves both
    * endpoints) doubles a bounded pair table, not the corpus.
    *
    * Exactness: cosine = floor(co·10^6 / √(n_a·n_b)) — exact BIGINTs
    * into ONE IEEE sqrt + ONE division, bit-identical across engines;
    * ties broken by neighbor id.
    */
  def itemCooccurrenceKnn(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // Pair generation via per-basket item sets, not a distinct +
    // self-join: `collect_set` dedups within the basket during ONE
    // map-side-combinable aggregation keyed by l_orderkey, and the
    // (pa < pb) pairs explode in-row from the sorted set — work is
    // still Σ basket² but the plan drops the separate distinct
    // exchange AND the basket-key join exchange (before: scan →
    // Exchange(orderkey,partkey) → distinct → Exchange(orderkey) →
    // SortMergeJoin; after: scan → Exchange(orderkey) → sets →
    // generate). The basket frequency table re-derives from the same
    // materialized sets (no second base-table pass). Guide §2.3/§2.4.
    val sets = graft.ArtifactCache.isolated(
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps")))
    val freq = sets.select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val co = sets
      .select(explode(col("ps")).as("pa"), col("ps"))
      .select(col("pa"), explode(col("ps")).as("pb"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("co"))
    val sc = co
      .join(freq.select(col("l_partkey").as("pa"), col("n").as("na")), "pa")
      .join(freq.select(col("l_partkey").as("pb"), col("n").as("nb")), "pb")
      .select(col("pa"), col("pb"), col("co"),
        floor(col("co") * lit(1000000L) / sqrt(col("na") * col("nb")))
          .cast("long").as("cos_micro"))
    val sym = sc.select(col("pa").as("part"), col("pb").as("rec"),
        col("co"), col("cos_micro"))
      .unionByName(sc.select(col("pb").as("part"), col("pa").as("rec"),
        col("co"), col("cos_micro")))
    val w = Window.partitionBy(col("part"))
      .orderBy(col("cos_micro").desc, col("rec"))
    sym.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("part"), col("rec"), col("co"), col("cos_micro"),
        col("rk").cast("long").as("rk"))
  }

  def itemCooccurrenceKnnSql(k: Int = 5): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       freq AS (SELECT l_partkey, count(*)::BIGINT AS n FROM li GROUP BY 1),
       co AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                     count(*)::BIGINT AS co
              FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2),
       sc AS (SELECT pa, pb, co,
                     floor(co * 1000000 / sqrt(fa.n * fb.n))::BIGINT AS cos_micro
              FROM co JOIN freq fa ON fa.l_partkey = pa
                      JOIN freq fb ON fb.l_partkey = pb),
       sym AS (SELECT pa AS part, pb AS rec, co, cos_micro FROM sc
               UNION ALL
               SELECT pb, pa, co, cos_micro FROM sc),
       rk AS (SELECT *, row_number() OVER (PARTITION BY part
                ORDER BY cos_micro DESC, rec) AS rk FROM sym)
       SELECT part, rec, co, cos_micro, rk::BIGINT AS rk
       FROM rk WHERE rk <= $k"""
}
