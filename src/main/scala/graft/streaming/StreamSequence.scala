package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful per-key LAG — the streaming primitive the counter-sum /
  * lookup / seen-set state shapes in this engine don't cover: each
  * key's PREVIOUS row rides in keyed state, so every arrival emits its
  * (previous, current) pair exactly once and replaces the state. This
  * is the core of delta encoding, CDC old/new pairing, inter-arrival
  * timing, and sequence featurization (q207 uses it to maintain q202's
  * Markov transition counts live).
  *
  * Ordering contract — the same one the reference engine leans on
  * (Kafka delivers per partition in offset order; its join transformer
  * processes records in that order, never re-sorting): WITHIN a batch
  * this operator sorts each key's rows by (ts_ns, event_id) before
  * chaining, so intra-batch arrival order never matters; ACROSS
  * batches it trusts the transport to deliver each key's records in
  * event order (Kafka key-partitioning gives exactly this; the q207
  * harness stages the log user-partitioned and time-sorted to model
  * it). A key that time-travels across batch boundaries would chain
  * wrongly — that is the transport's contract to keep, not repairable
  * here without buffering unbounded history.
  *
  * State: ONE row per key (the last event), O(keys) whatever the log
  * length — the bounded-state production shape. Emission: exactly one
  * pair per arrival after the key's first, so the emitted multiset
  * over any prefix equals the batch lead() derivation on that prefix.
  */
object StreamSequence {
  case class Ev(user_id: Long, ts_ns: Long, event_id: Long, event_type: String)
  case class LastEv(ts_ns: Long, event_id: Long, event_type: String)
  case class Transition(user_id: Long, cur: String, nxt: String)

  def transitions(ev: Dataset[Ev]): Dataset[Transition] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[LastEv]) =>
          val sorted = rows.toArray.sortBy(e => (e.ts_ns, e.event_id))
          val out = Array.newBuilder[Transition]
          var prev = state.getOption
          for (e <- sorted) {
            prev.foreach(p => out += Transition(uid, p.event_type, e.event_type))
            prev = Some(LastEv(e.ts_ns, e.event_id, e.event_type))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  // ---- the same LAG state building SCD2 live (q208) ----

  /** `value` boxed: the events column is nullable and a primitive
    * Double would silently conflate NULL with 0.0 in the encoder. */
  case class EvV(user_id: Long, ts_ns: Long, event_id: Long,
                 event_type: String, value: java.lang.Double)
  case class ClosedVersion(user_id: Long, event_id: Long, event_type: String,
                           value: java.lang.Double,
                           valid_from_us: Long, valid_to_us: Long)

  /** Live SCD Type 2: the second product of the per-key LAG state —
    * each arrival CLOSES the key's previous version (emitting it with
    * `[valid_from, valid_to)` bounds) and becomes the new open one.
    * Append mode can only ship FINALIZED facts, and "the current open
    * version" is by definition not final until the next arrival — so
    * the stream emits exactly the CLOSED history (the batch q133 rows
    * with a non-NULL valid_to); the open row lives in state, queryable
    * as the upsert view (O8) if served. Same ordering contract and
    * O(keys) state bound as [[transitions]].
    */
  def closedVersions(ev: Dataset[EvV]): Dataset[ClosedVersion] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[EvV, ClosedVersion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EvV], state: GroupState[EvV]) =>
          val sorted = rows.toArray.sortBy(e => (e.ts_ns, e.event_id))
          val out = Array.newBuilder[ClosedVersion]
          var prev = state.getOption
          for (e <- sorted) {
            prev.foreach { p =>
              out += ClosedVersion(uid, p.event_id, p.event_type, p.value,
                p.ts_ns / 1000L, e.ts_ns / 1000L)
            }
            prev = Some(e)
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  // ---- live funnel (q253): per-key FINITE-STATE-MACHINE state ----

  case class FunnelState(stage: Int, tStageUs: Long)
  case class StageReached(user_id: Long, stage: Int)

  /** The fourth per-key state shape: a monotone STAGE MACHINE — each
    * user's state is (current stage, the stage's µs timestamp), and an
    * arrival advances it only when it is the NEXT stage's event type
    * strictly after the current stage's time (the q132 batch funnel's
    * exact predicate, `ts > t_prev` at µs precision — comparisons run
    * on `ts_ns div 1000` so the engine can never advance on a
    * sub-µs difference the oracle's TIMESTAMP comparison cannot see).
    * Emission: one row per (user, stage) the moment the stage is
    * reached — stage 0 marks first-seen, so the fold recovers every
    * funnel denominator. State is TWO fields per user but O(users
    * ever seen) under NoTimeout — the reference's own archival TODO
    * (`HackerNewsPipeline.java:35-36`); [[funnelStagesEvicting]] is
    * the bounded-state variant (session-gap semantics + TTL).
    * Hot-key bound: as in [[packed]], `rows.toArray` holds one
    * user's micro-batch slice in one task — bounded by the trigger
    * size, never by state or corpus.
    */
  def funnelStages(ev: Dataset[Ev]): Dataset[StageReached] = {
    import ev.sparkSession.implicits._
    val want = Map(0 -> "view", 1 -> "click", 2 -> "purchase")
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageReached](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[FunnelState]) =>
          val sorted = rows.toArray.sortBy(e => (e.ts_ns, e.event_id))
          val out = Array.newBuilder[StageReached]
          var st = state.getOption.getOrElse(FunnelState(-1, 0L))
          for (e <- sorted) {
            if (st.stage < 0) { st = FunnelState(0, 0L); out += StageReached(uid, 0) }
            val tUs = e.ts_ns / 1000L
            if (st.stage < 3 && e.event_type == want(st.stage) &&
                (st.stage == 0 || tUs > st.tStageUs)) {
              st = FunnelState(st.stage + 1, tUs)
              out += StageReached(uid, st.stage)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  // ---- evicting funnel (q256): session-gap FSM + event-time TTL ----

  case class EvW(user_id: Long, ts_ns: Long, event_id: Long,
      event_type: String, ts: java.sql.Timestamp)
  case class SessFunnelState(stage: Int, tStageNs: Long, lastNs: Long)

  /** [[funnelStages]] with BOUNDED per-user state — the NoTimeout
    * funnel holds O(ever-seen users) forever (the reference's own
    * archival TODO, `HackerNewsPipeline.java:35-36`); this variant
    * applies the q80 TTL discipline. Two mechanisms that agree by
    * construction:
    *
    *  - an in-function SESSION-GAP reset: an arrival more than
    *    `horizonNs` past the user's previous event starts a fresh
    *    funnel (a new session). This is the deterministic semantic —
    *    pure sessionization by gap, independent of when the state
    *    store physically reclaims anything, so the batch oracle is a
    *    per-(user, session) funnel cascade;
    *  - EventTimeTimeout EVICTION: each update arms a timeout at
    *    (last event time + horizon); once the watermark passes it the
    *    state is REMOVED — numRowsTotal is O(users active within the
    *    horizon), not O(users ever seen).
    *
    * Under time-ordered delivery (the staged time-bucket layout — a
    * log's append order), eviction can only fire when the watermark
    * has passed last+horizon, and any later re-arrival necessarily
    * has gap > horizon — so the fresh-state path and the gap-reset
    * path produce the SAME new-session emission and output is
    * invariant to when eviction physically happens. The evicted-key
    * re-arrival contract is pinned in StreamSequenceSpec.
    */
  def funnelStagesEvicting(ev: Dataset[EvW], horizonNs: Long): Dataset[StageReached] = {
    import ev.sparkSession.implicits._
    val want = Map(0 -> "view", 1 -> "click", 2 -> "purchase")
    ev.withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessFunnelState, StageReached](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EvW], state: GroupState[SessFunnelState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toArray.sortBy(e => (e.ts_ns, e.event_id))
            val out = Array.newBuilder[StageReached]
            var st = state.getOption.getOrElse(SessFunnelState(-1, 0L, 0L))
            for (e <- sorted) {
              if (st.stage < 0 || e.ts_ns - st.lastNs > horizonNs) {
                st = SessFunnelState(0, 0L, e.ts_ns)
                out += StageReached(uid, 0)
              }
              if (st.stage < 3 && e.event_type == want(st.stage) &&
                  (st.stage == 0 || e.ts_ns > st.tStageNs)) {
                st = SessFunnelState(st.stage + 1, e.ts_ns, e.ts_ns)
                out += StageReached(uid, st.stage)
              }
              st = st.copy(lastNs = e.ts_ns)
            }
            state.update(st)
            // the physical TTL: must be strictly past the current
            // watermark (Spark's contract) — pushing it later only
            // delays reclamation, never changes output
            state.setTimeoutTimestamp(math.max(
              sorted.last.ts_ns / 1000000L + horizonNs / 1000000L,
              state.getCurrentWatermarkMs() + 1L))
            out.result().iterator
          }
      }
  }

  // ---- evicting LAG family (q272/q273): the q256 TTL discipline ----

  /** [[transitions]] with BOUNDED per-user state — the r15 verdict's
    * remaining NoTimeout per-user shape, closed with the exact q256
    * mechanism pair:
    *
    *  - in-function HORIZON GUARD: a pair whose gap exceeds
    *    `horizonNs` is not a transition — the user's chain restarts at
    *    the new arrival (session semantics: next-event prediction
    *    across a multi-day absence is a different modeling problem,
    *    and the Markov matrix should not count it);
    *  - EventTimeTimeout EVICTION: each update arms a timer at
    *    (last event time + horizon); once the watermark passes it the
    *    user's LAG row is removed — state is O(users active within
    *    the horizon), never O(users ever seen).
    *
    * Agreement (the q256 proof, verbatim): eviction fires only when
    * the watermark exceeds last + horizon; under time-ordered
    * (log-append-order) delivery any later re-arrival has
    * gap > horizon, so the fresh-state path and the horizon-guard
    * path produce the same (no) emission — output is invariant to
    * when the state store physically reclaims. Pinned in
    * StreamSequenceSpec alongside q256's.
    */
  def transitionsEvicting(ev: Dataset[EvW], horizonNs: Long): Dataset[Transition] = {
    import ev.sparkSession.implicits._
    ev.withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EvW], state: GroupState[LastEv]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toArray.sortBy(e => (e.ts_ns, e.event_id))
            val out = Array.newBuilder[Transition]
            var prev = state.getOption
            for (e <- sorted) {
              prev.foreach { p =>
                if (e.ts_ns - p.ts_ns <= horizonNs)
                  out += Transition(uid, p.event_type, e.event_type)
              }
              prev = Some(LastEv(e.ts_ns, e.event_id, e.event_type))
            }
            prev.foreach(state.update)
            state.setTimeoutTimestamp(math.max(
              sorted.last.ts_ns / 1000000L + horizonNs / 1000000L,
              state.getCurrentWatermarkMs() + 1L))
            out.result().iterator
          }
      }
  }

  /** [[closedVersions]] with BOUNDED per-user state — same mechanism
    * pair as [[transitionsEvicting]]. A version is CLOSED (emitted)
    * only by a successor arriving within the horizon; an arrival past
    * the horizon finds either evicted state or a stale open version
    * the horizon guard discards — both paths open a fresh version and
    * emit nothing, so output is eviction-timing-invariant. The
    * discarded open version is not lost data in a served deployment:
    * it is the upsert view's latest row (O8) at archival time — the
    * reference's own archival TODO (`HackerNewsPipeline.java:35-36`)
    * is exactly the policy decision of what to do with it.
    */
  def closedVersionsEvicting(ev: Dataset[EvVW], horizonNs: Long): Dataset[ClosedVersion] = {
    import ev.sparkSession.implicits._
    ev.withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EvV, ClosedVersion](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EvVW], state: GroupState[EvV]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toArray.sortBy(e => (e.ts_ns, e.event_id))
            val out = Array.newBuilder[ClosedVersion]
            var prev = state.getOption
            for (e <- sorted) {
              prev.foreach { p =>
                if (e.ts_ns - p.ts_ns <= horizonNs)
                  out += ClosedVersion(uid, p.event_id, p.event_type, p.value,
                    p.ts_ns / 1000L, e.ts_ns / 1000L)
              }
              prev = Some(EvV(uid, e.ts_ns, e.event_id, e.event_type, e.value))
            }
            prev.foreach(state.update)
            state.setTimeoutTimestamp(math.max(
              sorted.last.ts_ns / 1000000L + horizonNs / 1000000L,
              state.getCurrentWatermarkMs() + 1L))
            out.result().iterator
          }
      }
  }

  /** [[EvV]] plus the proper-TIMESTAMP column the watermark needs. */
  case class EvVW(user_id: Long, ts_ns: Long, event_id: Long,
      event_type: String, value: java.lang.Double, ts: java.sql.Timestamp)

  // ---- live top-k leaderboard (q268): per-key ORDER-STATISTIC state ----

  case class SrcDoc(source: String, doc_id: Long, n_chars: Long)
  case class TopkState(ids: Array[Long], ncs: Array[Long], ver: Long)
  case class TopkEmit(source: String, ver: Long, ids: Array[Long], ncs: Array[Long])

  /** The fifth per-key state shape: a bounded ORDER STATISTIC — each
    * source's state is its current top-k (two k-length arrays + a
    * version), an arriving batch merges into it and truncates, and
    * every update emits the whole (tiny) leaderboard under a
    * monotonically increasing version so the output topic compacts to
    * latest-per-source (the q05 upsert discipline). Insert-only
    * arrivals can only displace, never resurrect (the q267 law), so
    * the converged leaderboard equals the batch window whatever the
    * batch split — top-k merging is order-insensitive. State is
    * 2k longs + 1 per source: O(sources), bounded like the packing
    * cursor; the hot-key bound of [[packed]] applies to the per-batch
    * slice.
    */
  def topkLeaderboard(docs: Dataset[SrcDoc], k: Int): Dataset[TopkEmit] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[TopkState, TopkEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[SrcDoc], state: GroupState[TopkState]) =>
          val st = state.getOption.getOrElse(TopkState(Array.empty, Array.empty, 0L))
          val merged = (st.ncs.zip(st.ids) ++ rows.map(d => (d.n_chars, d.doc_id)))
            .sortBy { case (n, i) => (-n, i) }
            .take(k)
          val ns = TopkState(merged.map(_._2), merged.map(_._1), st.ver + 1)
          state.update(ns)
          Iterator.single(TopkEmit(src, ns.ver, ns.ids, ns.ncs))
      }
  }

  // ---- live sequence packing (q221): per-key RUNNING SUM state ----

  case class Doc(source: String, doc_id: Long, n_tok: Long)
  case class PackCursor(cum: Long)
  case class PackedDoc(source: String, doc_id: Long, n_tok: Long, start: Long)

  /** The third product of the per-key state family — a running-counter
    * cursor: each source's packed-token total rides in state (ONE long
    * per source, O(sources) whatever the corpus), and each arriving
    * document emits its global token interval start exactly once. This
    * is live GPT-style sequence packing: the concat-and-cut assignment
    * (seq = start div L, offset = start mod L) is pure arithmetic on
    * the emitted row, so the packer never re-reads packed history —
    * arrival IS assignment. Same per-key in-order delivery contract as
    * [[transitions]] (the transport delivers each source's docs in
    * doc_id order; intra-batch order is sorted away here).
    *
    * Hot-key bound: `rows.toArray` materializes ONE key's micro-batch
    * slice in one task — memory is proportional to the hottest
    * source's share of a batch, never to the corpus or to state. A
    * single source carrying ~an entire batch therefore concentrates
    * that batch (and only that batch) in one task; cap the trigger
    * size (files or offsets per trigger) to bound it.
    * Pinned in StreamSequenceSpec's skew-guard test.
    */
  def packed(docs: Dataset[Doc]): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[PackCursor, PackedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[Doc], state: GroupState[PackCursor]) =>
          val sorted = rows.toArray.sortBy(_.doc_id)
          val out = Array.newBuilder[PackedDoc]
          var cum = state.getOption.fold(0L)(_.cum)
          for (d <- sorted) {
            out += PackedDoc(src, d.doc_id, d.n_tok, cum)
            cum += d.n_tok
          }
          state.update(PackCursor(cum))
          out.result().iterator
      }
  }
}
