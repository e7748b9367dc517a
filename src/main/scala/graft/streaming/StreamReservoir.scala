package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The STREAMING weighted reservoir — the reason the Efraimidis–
  * Spirakis key construction exists at all (their 2006 paper is about
  * reservoirs, not batch ranking): because an item's key is fixed at
  * arrival and the sample is "the k largest keys seen so far", keyed
  * state of EXACTLY k items per stratum maintains an exact weighted
  * without-replacement sample over an unbounded stream. Unlike the
  * per-key LAG (StreamSequence), this state shape needs NO ordering
  * contract — top-k is order-independent — so the converged state
  * equals the batch rank (q209) under ANY arrival order, batching, or
  * partitioning.
  *
  * State: k items per stratum, O(k·strata) whatever the stream length
  * — the selling point vs "sort the corpus and take k". Emission:
  * Update mode, one snapshot per (stratum, batch) with a monotone
  * `rev`; the serving read is the O8 compaction (latest rev per
  * stratum), exactly the compacted-topic pattern.
  */
object StreamReservoir {
  case class DocKeyed(source: String, doc_id: Long, quality: Double,
                      es_key: Double)
  case class ResSnapshot(source: String, rev: Long, items: Seq[DocKeyed])
  /** The kept items as parallel primitive arrays, best first — no Scala
    * collection, so the state encoder compiles once, not per batch.
    */
  case class ResState(docIds: Array[Long], qualities: Array[Double],
      esKeys: Array[Double], rev: Long)

  def reservoirTopK(docs: Dataset[DocKeyed], k: Int): Dataset[ResSnapshot] = {
    import docs.sparkSession.implicits._
    docs.groupBy(col("source")).as[String, DocKeyed]
      .mapGroupsWithState[ResState, ResSnapshot](GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[DocKeyed], state: GroupState[ResState]) =>
          val prev = state.getOption
            .getOrElse(ResState(Array.empty, Array.empty, Array.empty, 0L))
          val kept = prev.docIds.indices.map(i =>
            DocKeyed(src, prev.docIds(i), prev.qualities(i), prev.esKeys(i)))
          val merged = (kept ++ rows).sortBy(d => (-d.es_key, d.doc_id)).take(k)
          state.update(ResState(merged.map(_.doc_id).toArray,
            merged.map(_.quality).toArray, merged.map(_.es_key).toArray,
            prev.rev + 1L))
          ResSnapshot(src, prev.rev + 1L, merged)
      }
  }

  // ---- windowed EVICTING reservoir (q281): the sixth state shape ----

  /** One event with its uniform draw, pre-assigned to a time window
    * (`win = ts_ns div winNs`); `ts` is the proper-TIMESTAMP column
    * the watermark needs.
    */
  case class EvDraw(event_type: String, win: Long, event_id: Long,
      draw: Long, ts: java.sql.Timestamp)
  case class WinResState(ids: Array[Long], draws: Array[Long], rev: Long)
  case class WinResEmit(event_type: String, win: Long, rev: Long,
      ids: Array[Long], draws: Array[Long])

  /** The SIXTH per-key state shape — a WINDOWED order statistic with a
    * finite lifetime. [[reservoirTopK]]'s all-time sample is the one
    * per-key state family that had no bounded variant (its NoTimeout
    * state is O(strata) — already bounded — but a per-WINDOW sample,
    * the debugging/inspection staple at log scale, would naively hold
    * every window ever opened). Here the key is (event_type, window)
    * and the two q256 mechanisms collapse into ONE, because the window
    * boundary is both the semantic AND the eviction horizon:
    *
    *  - membership is time-determined: an event belongs to window w
    *    iff `ts_ns div winNs == w` — no in-function guard is needed,
    *    the grouping key IS the guard;
    *  - EventTimeTimeout fires once the watermark passes the window's
    *    END, after which (under time-ordered, log-append-order
    *    delivery — the staged time-bucket layout) no event of that
    *    window can still arrive, so removing the state cannot change
    *    any future emission. State is O(event_types × OPEN windows)
    *    × k, never O(windows ever seen).
    *
    * The sample itself is a uniform without-replacement top-k by a
    * deterministic per-event draw (`md5_long(event_id)` — fixed at
    * arrival, order-independent), so the converged compacted output
    * equals the batch per-window rank under ANY batching — q209/q211's
    * convergence argument, now per window. Emission: Append mode, one
    * snapshot per (key, touching batch) with a monotone `rev`; the
    * serving read is the O8 compaction (latest rev per key).
    */
  def windowedReservoirEvicting(ev: Dataset[EvDraw], k: Int,
      winNs: Long): Dataset[WinResEmit] = {
    import ev.sparkSession.implicits._
    // the window's end as the smallest ms timestamp ≥ its ns end —
    // ceiling, NOT truncation: a truncated end fires the guard (and
    // the timeout) one ms early for non-ms-aligned winNs, and for
    // winNs < 10⁶ ns truncation gives end = 0, which would throw on
    // every first arrival (r17 advice)
    def winEndMs(win: Long): Long = ((win + 1L) * winNs + 999999L) / 1000000L
    ev.withWatermark("ts", "0 seconds")
      .groupByKey(e => (e.event_type, e.win))
      .flatMapGroupsWithState[WinResState, WinResEmit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((etype, win), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // time-ordered-delivery contract, enforced loudly: a group
            // invocation with NO state whose window already ENDED at or
            // before the current watermark is a member arriving after
            // its window was (or would have been) evicted — silently
            // accepting it would restart the window at rev 1, making
            // the max_by(ids, rev) serving compaction prefer a fresh
            // PARTIAL snapshot over the complete pre-eviction one.
            // DEFENSE IN DEPTH: under EventTimeTimeout Spark's
            // FlatMapGroupsWithStateExec already drops sub-watermark
            // rows before this function (StreamReservoirSpec pins the
            // scenario end-to-end — the late member is output-
            // invisible), so this guard is the backstop for a future
            // timeout-mode change, not the first line. Watermark is
            // batch-start-frozen, so same-batch arrivals that advance
            // it never trip this — the guard fires exactly when
            // eviction could have fired.
            if (state.getOption.isEmpty &&
                winEndMs(win) <= state.getCurrentWatermarkMs())
              throw new IllegalStateException(
                s"windowedReservoirEvicting: late member for closed window " +
                  s"$win of '$etype' (window end <= watermark " +
                  s"${state.getCurrentWatermarkMs()} ms) — the time-ordered " +
                  "delivery contract is violated; a silent restart would " +
                  "corrupt the compacted serving read")
            val prev = state.getOption
              .getOrElse(WinResState(Array.empty, Array.empty, 0L))
            val merged = (prev.draws.zip(prev.ids) ++
                rows.map(e => (e.draw, e.event_id)))
              .sortBy { case (d, id) => (-d, id) }.take(k)
            val snap = WinResState(merged.map(_._2), merged.map(_._1),
              prev.rev + 1L)
            state.update(snap)
            // evict at the window's END (ms): once the watermark passes
            // it, no member event can still arrive under time-ordered
            // delivery; must stay strictly past the current watermark
            // (Spark's contract) — pushing later only delays reclaim
            state.setTimeoutTimestamp(math.max(
              winEndMs(win),
              state.getCurrentWatermarkMs() + 1L))
            Iterator.single(WinResEmit(etype, win, snap.rev,
              snap.ids, snap.draws))
          }
      }
  }
}
